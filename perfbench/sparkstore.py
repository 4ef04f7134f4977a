"""Job and stage metrics from Spark's AppStatusStore, read over py4j.

The status store is filled by the listener bus even with the UI disabled, so
this works on the benchmark's UI-less session. The store only keeps
``spark.ui.retainedJobs`` / ``retainedStages`` entries; the launcher raises
both so one run's jobs all stay readable.
"""

from __future__ import annotations


def job_counter(spark):
    """Callable returning the id the next submitted job will get."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: int(dag.numTotalJobs())


def _ids(seq) -> list[int]:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(int(str(it.next())))
    return out


def read(spark, clock_offset: float) -> tuple[dict, dict]:
    """``(jobs, stages)`` for every job the store holds.

    jobs: id -> {"submit", "end", "stages"}, times in seconds on the
    caller's clock (epoch seconds minus ``clock_offset``).
    stages: id -> {"tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "input_records"}, summed over attempts, for stages that
    ran (skipped stages are left out)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs: dict[int, dict] = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub, end = j.submissionTime(), j.completionTime()
        if not (sub.isDefined() and end.isDefined()):
            continue
        jobs[int(j.jobId())] = {
            "submit": sub.get().getTime() / 1000.0 - clock_offset,
            "end": end.get().getTime() / 1000.0 - clock_offset,
            "stages": _ids(j.stageIds()),
        }
    gw = spark.sparkContext._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    stages: dict[int, dict] = {}
    it = store.stageList(None, False, False, no_quantiles, None).iterator()
    while it.hasNext():
        s = it.next()
        if str(s.status()) == "SKIPPED":
            continue
        rec = stages.setdefault(int(s.stageId()), dict.fromkeys(
            ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "input_bytes", "input_records"), 0.0))
        rec["tasks"] += int(s.numTasks())
        rec["executor_run_s"] += s.executorRunTime() / 1e3
        rec["executor_cpu_s"] += s.executorCpuTime() / 1e9
        rec["gc_s"] += s.jvmGcTime() / 1e3
        rec["shuffle_read_bytes"] += float(s.shuffleReadBytes())
        rec["shuffle_write_bytes"] += float(s.shuffleWriteBytes())
        rec["spill_bytes"] += float(s.memoryBytesSpilled() + s.diskBytesSpilled())
        rec["input_bytes"] += float(s.inputBytes())
        rec["input_records"] += float(s.inputRecords())
    return jobs, stages
