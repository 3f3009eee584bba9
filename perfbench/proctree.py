"""Process-tree CPU and RSS from ``/proc`` (no psutil).

The measured process tree is the benchmark's main Python process (the
Spark application's own process), the JVM it launches and the Python
workers the JVM forks.  CPU
counts ``utime + stime + cutime + cstime`` of every live process, so a
worker that exits and is reaped by its parent still counts.  The JVM's
JIT compiler threads are also counted on their own (``jit``, part of
``jvm``); that needs compiler threads that live as long as the JVM
(``-XX:-UseDynamicNumberOfCompilerThreads``), or the CPU of an exited
one would drop out of the count.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def parse_stat(text: str) -> dict:
    """One ``/proc/<pid>/stat`` line.  ``comm`` sits in parentheses and
    may itself hold spaces or parentheses, so split at the last ')'."""
    lpar, rpar = text.index("("), text.rindex(")")
    fields = text[rpar + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    return {
        "pid": int(text[:lpar]),
        "comm": text[lpar + 1:rpar],
        "ppid": int(fields[1]),
        "cpu_s": sum(int(f) for f in fields[11:15]) / CLK_TCK,
        "rss_mb": int(fields[21]) * PAGE_MB,
    }


def host_ticks(proc: str = "/proc") -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat``: ticks per state."""
    with open(f"{proc}/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other guests
    between two ``host_ticks`` readings (field 8 of the ``cpu`` line)."""
    ticks = [b - a for a, b in zip(before, after)]
    total = sum(ticks[:8])  # guest time is already counted in user/nice
    return ticks[7] / total if total else 0.0


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def thread_cpu_s(pid: int, prefixes: tuple[str, ...],
                 proc: str = "/proc") -> float:
    """``utime + stime`` of the live threads of ``pid`` whose name
    starts with one of ``prefixes``."""
    total = 0.0
    try:
        tids = os.listdir(f"{proc}/{pid}/task")
    except FileNotFoundError:
        return 0.0
    for tid in tids:
        try:
            with open(f"{proc}/{pid}/task/{tid}/stat") as fh:
                text = fh.read()
        except FileNotFoundError:
            continue
        comm = text[text.index("(") + 1:text.rindex(")")]
        if comm.startswith(prefixes):
            fields = text[text.rindex(")") + 2:].split()
            total += (int(fields[11]) + int(fields[12])) / CLK_TCK
    return total


def read_stats(proc: str = "/proc") -> dict[int, dict]:
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                out[int(name)] = parse_stat(fh.read())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listdir and open
    return out


def role(stat: dict, root: int) -> str:
    if stat["pid"] == root:
        return "main"
    return "jvm" if stat["comm"] == "java" else "py"


def tree(root: int, stats: dict[int, dict]) -> list[dict]:
    """``root`` and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st["ppid"], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
            todo.extend(kids.get(pid, ()))
    return out


def snapshot(root: int, proc: str = "/proc") -> dict:
    """CPU seconds and RSS MB of the tree, by role; ``cpu["jit"]`` is
    the part of ``cpu["jvm"]`` spent in JIT compiler threads."""
    cpu = {"main": 0.0, "jvm": 0.0, "py": 0.0, "jit": 0.0}
    rss = {"main": 0.0, "jvm": 0.0, "py": 0.0}
    for st in tree(root, read_stats(proc)):
        r = role(st, root)
        cpu[r] += st["cpu_s"]
        rss[r] += st["rss_mb"]
        if r == "jvm":
            cpu["jit"] += thread_cpu_s(st["pid"], JIT_THREADS, proc)
    return {"cpu": cpu, "rss": rss}


class PeakSampler:
    """Polls a process tree from a background thread: keeps the RSS
    peaks of the summed tree, the JVM and the Python workers, and every
    pid seen in the tree, so the caller can wait for all of them."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = {"total": 0.0, "jvm": 0.0, "py": 0.0}
        self.seen = {root}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self, proc: str = "/proc") -> None:
        rss = {"main": 0.0, "jvm": 0.0, "py": 0.0}
        for st in tree(self.root, read_stats(proc)):
            self.seen.add(st["pid"])
            rss[role(st, self.root)] += st["rss_mb"]
        for key, val in (("total", sum(rss.values())), ("jvm", rss["jvm"]),
                         ("py", rss["py"])):
            self.peak[key] = max(self.peak[key], val)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
