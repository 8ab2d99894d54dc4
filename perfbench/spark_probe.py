"""Readers for Spark's own status, plan and progress APIs.

All of them work with ``spark.ui.enabled=false``:

- jobs and stages of a job group: ``statusTracker`` for the job ids,
  ``statusStore().job`` / ``lastStageAttempt`` for times and task metrics;
- Catalyst phases: ``queryExecution().tracker().phases()``;
- Python boundary: the SQL metrics of the Python plan nodes, read from the
  executed plan (inside AQE query stages);
- storage: ``getPersistentRDDs`` and ``statusStore().rddList``.

Stage-level accumulator lists cannot be used for the Python metrics: the
status store drops SQL accumulators from them.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    # StageData accessor -> (metric key, scale)
    "numTasks": ("tasks", 1),
    "executorRunTime": ("run_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleWriteRecords": ("shuffle_write_records", 1),
    # the serialized size on disk; memoryBytesSpilled is the same data
    # measured before serialization
    "diskBytesSpilled": ("spill_bytes", 1),
}

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandasWithState")
PYTHON_FIELDS = {
    # SQL metric -> (metric key, scale); times are task-summed milliseconds
    "pythonTotalTime": ("total_s", 1e-3),
    "pythonBootTime": ("boot_s", 1e-3),
    "pythonInitTime": ("init_s", 1e-3),
    "pythonDataSent": ("bytes_sent", 1),
    "pythonDataReceived": ("bytes_received", 1),
    "pythonNumRowsReceived": ("rows_received", 1),
}


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _scala_items(m):
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        yield kv._1(), kv._2()


def group_jobs(spark, group: str) -> list[dict]:
    """Every job of ``group`` with its wall interval and stage metrics.
    Skipped stages (shuffle output reused) are left out."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        try:
            jd = store.job(jid)
        except Py4JJavaError:  # evicted from the store: nothing to report
            continue
        stages = []
        it = jd.stageIds().iterator()
        while it.hasNext():
            sd = store.lastStageAttempt(it.next())
            if sd.status().toString() == "SKIPPED":
                continue
            st = {"start": _opt_ms(sd.submissionTime()), "end": _opt_ms(sd.completionTime())}
            for acc, (key, scale) in STAGE_FIELDS.items():
                st[key] = st.get(key, 0) + getattr(sd, acc)() * scale
            stages.append(st)
        jobs.append(
            {
                "id": jid,
                "start": _opt_ms(jd.submissionTime()),
                "end": _opt_ms(jd.completionTime()),
                "stages": stages,
            }
        )
    return jobs


def exec_totals(jobs: list[dict]) -> dict[str, float]:
    out = {"jobs": len(jobs), "stages": 0}
    for j in jobs:
        for st in j["stages"]:
            out["stages"] += 1
            for key, _ in STAGE_FIELDS.values():
                out[key] = out.get(key, 0) + st[key]
    return out


def plan_phases(df) -> dict[str, tuple[float, float]]:
    """Catalyst phase intervals (epoch seconds) of ``df``'s query."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        name: (ps.startTimeMs() / 1000.0, ps.endTimeMs() / 1000.0)
        for name, ps in _scala_items(phases)
    }


def _walk(plan, out: list) -> list:
    out.append(plan)
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        _walk(plan.executedPlan(), out)
    elif kind.endswith("QueryStageExec"):
        _walk(plan.plan(), out)
    elif kind == "ReusedExchangeExec":
        _walk(plan.child(), out)
    it = plan.children().iterator()
    while it.hasNext():
        _walk(it.next(), out)
    return out


def python_metrics(jplan) -> dict[str, float]:
    """Summed SQL metrics of the Python-boundary nodes of an executed plan."""
    out: dict[str, float] = {}
    for node in _walk(jplan, []):
        if node.nodeName() not in PYTHON_NODES:
            continue
        for name, metric in _scala_items(node.metrics()):
            if name in PYTHON_FIELDS:
                key, scale = PYTHON_FIELDS[name]
                out[key] = out.get(key, 0) + metric.value() * scale
    return out


def storage_state(spark) -> dict[str, float]:
    """Persisted RDDs and the bytes they hold (memory + disk)."""
    sc = spark.sparkContext
    n = sc._jsc.getPersistentRDDs().size()
    held = 0
    it = sc._jsc.sc().statusStore().rddList(True).iterator()
    while it.hasNext():
        r = it.next()
        held += r.memoryUsed() + r.diskUsed()
    return {"persisted_rdds": n, "storage_bytes": held}


PROGRESS_FIELDS = {
    # durationMs key -> metric key
    "triggerExecution": "trigger_ms",
    "addBatch": "add_batch_ms",
    "queryPlanning": "query_planning_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
    "latestOffset": "latest_offset_ms",
}


def progress_totals(progress: list[dict]) -> dict[str, float]:
    """Sum the micro-batch phase times of a stream's progress reports; the
    state size is the last report's, the watermark drops are summed."""
    out = {"batches": len(progress)}
    for p in progress:
        for src, key in PROGRESS_FIELDS.items():
            out[key] = out.get(key, 0) + p["durationMs"].get(src, 0)
        for op in p.get("stateOperators", []):
            out["rows_dropped_by_watermark"] = (
                out.get("rows_dropped_by_watermark", 0) + op["numRowsDroppedByWatermark"]
            )
    last_state = progress[-1].get("stateOperators", []) if progress else []
    out["state_rows"] = sum(op["numRowsTotal"] for op in last_state)
    out["state_memory_bytes"] = sum(op["memoryUsedBytes"] for op in last_state)
    return out
