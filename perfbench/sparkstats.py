"""Stage metrics per job group from Spark's status store, over py4j.

The store is filled asynchronously by the listener bus, so every read
first waits for the bus to drain.
"""

from __future__ import annotations

import statistics


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def job_group_metrics(spark, group: str) -> dict:
    """Jobs, tasks, executor run time, GC time, shuffle bytes and the
    task skew (max / median task run time) of the busiest stage, over
    the jobs of ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    empty = jvm.java.util.Collections.emptyList()
    stage_ids, n_jobs = set(), 0
    for job in _seq(store.jobsList(empty)):
        g = job.jobGroup()
        if g.isDefined() and g.get() == group:
            n_jobs += 1
            stage_ids.update(_seq(job.stageIds()))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    tasks = run_ms = gc_ms = shuffle_b = 0
    busiest = None
    for st in _seq(store.stageList(empty, False, False, no_quantiles, empty)):
        if st.stageId() not in stage_ids:
            continue
        tasks += st.numCompleteTasks()
        run_ms += st.executorRunTime()
        gc_ms += st.jvmGcTime()
        shuffle_b += st.shuffleReadBytes() + st.shuffleWriteBytes()
        if busiest is None or st.executorRunTime() > busiest[2]:
            busiest = (st.stageId(), st.attemptId(), st.executorRunTime())
    skew = 0.0
    if busiest is not None:
        times = []
        for t in _seq(store.taskList(busiest[0], busiest[1], 100000)):
            m = t.taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        med = statistics.median(times) if times else 0
        skew = max(times) / med if med else 0.0
    return {"jobs": n_jobs, "tasks": tasks, "executor_run_s": run_ms / 1e3,
            "gc_s": gc_ms / 1e3, "shuffle_mb": shuffle_b / 2**20,
            "task_skew": skew}
