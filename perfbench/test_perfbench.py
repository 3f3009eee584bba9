"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import measure  # noqa: E402
import proctree  # noqa: E402
from ops import multiset_digest  # noqa: E402
from spans import Tracer, self_times  # noqa: E402


# -- generators --------------------------------------------------------------

def _read(out):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(out, "lake")).to_pydict()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(workload, tmp_path):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    ta, tb, tc = (_read(str(tmp_path / x)) for x in "abc")
    assert a["kinds"] == b["kinds"] and ta == tb
    # another seed: other content, the same fixed counts
    assert ta["text"] != tc["text"]
    assert a["kinds"] == c["kinds"] and a["turns"] == c["turns"]
    assert a["expected_kept"] == c["expected_kept"]
    assert len(os.listdir(tmp_path / "a" / "lake")) == a["config"]["files"]


def test_exact_kinds_and_quantile_lengths_are_fixed_multisets():
    import random

    k1 = gen.exact_kinds(1000, {"x": 0.08, "y": 0.002}, random.Random(1), "p")
    k2 = gen.exact_kinds(1000, {"x": 0.08, "y": 0.002}, random.Random(2), "p")
    assert k1 != k2 and sorted(k1) == sorted(k2)
    assert k1.count("x") == 80 and k1.count("y") == 2
    lengths = gen.quantile_lengths(101, 900, 0.8, 40, 20000)
    assert sorted(lengths)[50] == 900 and min(lengths) >= 40


# -- spans -------------------------------------------------------------------

def test_self_time_subtracts_covered_child_intervals():
    spans = [
        {"name": "pass", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "write", "start": 1.0, "end": 4.0, "parent": 0},
        {"name": "read", "start": 3.0, "end": 6.0, "parent": 0},   # overlaps
        {"name": "leaf", "start": 2.0, "end": 3.0, "parent": 1},
        {"name": "write", "start": 9.0, "end": 12.0, "parent": 0},  # clipped
    ]
    st = self_times(spans)
    assert st["pass"] == pytest.approx(10.0 - 5.0 - 1.0)  # [1,6] and [9,10]
    assert st["write"] == pytest.approx((3.0 - 1.0) + 3.0)
    assert st["read"] == pytest.approx(3.0)
    assert st["leaf"] == pytest.approx(1.0)


def test_tracer_records_parents_and_pass_ids_only_when_enabled():
    tr = Tracer()
    with tr.span("ignored"):
        pass
    assert tr.spans == []
    tr.enabled = True
    tr.pass_id = "pass-1"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert (outer["parent"], inner["parent"]) == (None, 0)
    assert outer["pass"] == inner["pass"] == "pass-1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


# -- /proc -------------------------------------------------------------------

STAT = ("4242 (python3 (worker) x) S 4200 4242 4200 0 -1 4194560 100 0 0 0 "
        "250 50 20 30 20 0 3 0 12345 1000000 2560 18446744073709551615")


def test_parse_stat_handles_parentheses_in_comm():
    st = proctree.parse_stat(STAT)
    assert st["pid"] == 4242 and st["ppid"] == 4200
    assert st["comm"] == "python3 (worker) x"
    ticks = 250 + 50 + 20 + 30
    assert st["cpu_s"] == pytest.approx(ticks / proctree.CLK_TCK)
    assert st["rss_mb"] == pytest.approx(2560 * proctree.PAGE_MB)


def test_tree_and_roles():
    def st(pid, ppid, comm):
        return {"pid": pid, "ppid": ppid, "comm": comm, "cpu_s": 1.0,
                "rss_mb": 10.0}

    stats = {1: st(1, 0, "init"), 10: st(10, 1, "python3"),
             11: st(11, 10, "java"), 12: st(12, 11, "python3"),
             13: st(13, 12, "python3"), 20: st(20, 1, "bash")}
    pids = sorted(s["pid"] for s in proctree.tree(10, stats))
    assert pids == [10, 11, 12, 13]
    assert [proctree.role(stats[p], 10) for p in pids] == \
        ["main", "jvm", "py", "py"]


def test_snapshot_of_this_process(tmp_path):
    snap = proctree.snapshot(os.getpid())
    assert snap["cpu"]["main"] > 0 and snap["rss"]["main"] > 0
    # a fake /proc with one process
    (tmp_path / "77").mkdir()
    (tmp_path / "77" / "stat").write_text(STAT.replace("4242", "77", 1))
    (tmp_path / "self").mkdir()
    assert list(proctree.read_stats(str(tmp_path))) == [77]


def test_steal_share_reads_the_steal_column():
    # user nice system idle iowait irq softirq steal guest guest_nice
    before = [100, 0, 10, 500, 0, 0, 0, 5, 40, 0]
    after = [160, 0, 20, 520, 0, 0, 0, 15, 90, 0]
    # 100 ticks passed in the first eight states; guest time is inside
    # user already, so it is not added again
    assert proctree.steal_share(before, after) == pytest.approx(0.10)
    assert proctree.steal_share(before, before) == 0.0
    assert len(proctree.host_ticks()) >= 8


# -- output gate and window selection ----------------------------------------

def test_multiset_digest_is_order_insensitive_and_counts_duplicates():
    rows = [("s", "p", "o", True, None, None), ("s", "p", "x", False, "en",
                                                 None)]
    assert multiset_digest(rows) == multiset_digest(reversed(rows))
    assert multiset_digest(rows + rows[:1]) != multiset_digest(rows)
    changed = [rows[0], ("s", "p", "x", False, "fr", None)]
    assert multiset_digest(changed) != multiset_digest(rows)
    # a NULL cell differs from the empty string
    assert multiset_digest([("a", None)]) != multiset_digest([("a", "")])


def test_traced_windows_are_abba():
    assert [measure.traced_window(i) for i in range(8)] == \
        [False, True, True, False] * 2


def test_steal_done_counts_clean_windows_and_caps_extra_ones():
    def w(*steals):
        return [{"steal": x} for x in steals]

    assert measure.steal_done(w(0.0, 0.01, 0.02), 3, 2)
    assert not measure.steal_done(w(0.0, 0.10, 0.02), 3, 2)
    assert not measure.steal_done(w(0.0, 0.10, 0.02, 0.09), 3, 2)
    assert measure.steal_done(w(0.0, 0.10, 0.02, 0.09, 0.2), 3, 2)
    assert not measure.steal_done([], 1, 1)


def test_least_stolen_drops_stolen_windows_while_enough_are_clean():
    w = [{"i": i, "steal": s} for i, s in
         enumerate([0.10, 0.01, 0.0, 0.02, 0.07])]
    assert [x["i"] for x in measure.least_stolen(w, 3)] == [1, 2, 3]
    # too few clean windows: the k least stolen
    assert [x["i"] for x in measure.least_stolen(w, 4)] == [2, 1, 3, 4]


def test_thread_cpu_counts_only_named_threads(tmp_path):
    task = tmp_path / "77" / "task"
    for tid, comm, ut, st in ((77, "java", 500, 100),
                              (78, "C2 CompilerThre", 300, 20),
                              (79, "C1 CompilerThre", 40, 10),
                              (80, "GC Thread#0", 70, 5)):
        (task / str(tid)).mkdir(parents=True)
        (task / str(tid) / "stat").write_text(
            f"{tid} ({comm}) S 1 77 77 0 -1 0 0 0 0 0 {ut} {st} 0 0 20 0 "
            "1 0 100 1000 10")
    got = proctree.thread_cpu_s(77, proctree.JIT_THREADS, str(tmp_path))
    assert got == pytest.approx((300 + 20 + 40 + 10) / proctree.CLK_TCK)
    assert proctree.thread_cpu_s(99, proctree.JIT_THREADS,
                                 str(tmp_path)) == 0.0
