"""KG-construction benchmark: one run of one workload.

    python3 perfbench/run.py --workload chat_lake --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root.  The run generates the workload's inputs
from ``--seed`` (``gen.py``; cached under ``.bench_data/``), then starts
the measured process (``measure.py``) fresh and samples the RSS of its
process tree from outside while it runs.  The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A wrong output prints ``"correct": false``
and exits 1; a run that cannot measure prints no result and exits 2.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import GENERATORS, generate  # noqa: E402
from proctree import PeakSampler, host_ticks, steal_share  # noqa: E402

CHILD_TIMEOUT_S = 170
SPARK_MEMORY = "1g"


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def inputs(root: str, workload: str, seed: int) -> str:
    """Generated inputs for (workload, seed), made once per checkout and
    generator version."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    data = os.path.join(root, ".bench_data", f"{workload}-{seed}-{version}")
    if not os.path.isfile(os.path.join(data, "manifest.json")):
        tmp = data + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(workload, seed, tmp)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    return data


def child_env(root: str, out: str) -> dict:
    """Environment of the measured process and everything it starts.
    Spark's Python workers import the package through PYTHONPATH, and
    every temporary file lands inside the run's output directory."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": SPARK_MEMORY,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_LOCAL_DIRS": os.path.join(out, "spark-local"),
        "TMPDIR": tmp,
        # C1 only: in a run this short the C2 compiler is still busy in
        # every timed window, and its CPU was the noisiest part of the
        # JVM's.  Compiler threads live as long as the JVM, so their CPU
        # can be told apart from the rest (proctree.JIT_THREADS).
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             "-XX:TieredStopAtLevel=1 "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
    })
    return env


def wait_gone(pids: set[int], timeout_s: float) -> set[int]:
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    return pids


def reap(seen: set[int]) -> None:
    """Wait for every process the run started; kill what lingers."""
    left = wait_gone(seen, 20)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(left, 10)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pyrdfa3_spark", "__init__.py")):
        return fail("run from the repository root: pyrdfa3_spark/ is missing")
    sys.path.insert(0, root)
    data = inputs(root, args.workload, args.seed)
    out = os.path.join(root, ".bench_out",
                       f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    result_path = os.path.join(out, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "measure.py"),
           "--data", data, "--out", out, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--result", result_path]
    ticks0 = host_ticks()
    t_spawn = time.monotonic()
    proc = subprocess.Popen(cmd + ["--t-spawn", repr(t_spawn)],
                            env=child_env(root, out), cwd=out,
                            stdout=sys.stderr, stdin=subprocess.DEVNULL)
    sampler = PeakSampler(proc.pid)
    # a terminated run still stops the measured tree (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    code = None
    try:
        with sampler:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        reap(sampler.seen)
    # host context for reading the numbers: CPU stolen by the hypervisor
    print(f"perfbench: host steal "
          f"{100 * steal_share(ticks0, host_ticks()):.1f}% of CPU time, "
          f"{time.monotonic() - t_spawn:.1f}s measured process",
          file=sys.stderr)
    res = None
    if code == 0 and os.path.isfile(result_path):
        with open(result_path) as fh:
            res = json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    if code is None:
        return fail(f"measured process exceeded {CHILD_TIMEOUT_S}s")
    if res is None:
        return fail(f"measured process exited with {code}")

    peak = sampler.peak
    if args.trace:
        metrics = dict(res["layers"])
        metrics["mem.jvm_peak_mb"] = (peak["jvm"], "MB")
        metrics["mem.py_peak_mb"] = (peak["py"], "MB")
    else:
        metrics = dict(res["end_to_end"])
        metrics["peak_rss_mb"] = (peak["total"], "MB")
    for p in res["problems"]:
        print(f"perfbench: WRONG OUTPUT: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
