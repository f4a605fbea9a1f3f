"""Executed-plan metrics: the quantitative feedback loop behind the
wall-clock numbers in bench.py.

``collect_metrics`` executes a DataFrame and walks the final adaptive
plan's SQL metrics, aggregating the ones that decide scale behavior:
rows/bytes scanned (is pruning working?), shuffle bytes written (is
the plan shuffling more than the data requires?), and spill bytes
(are partitions sized to memory?).  Use when tuning an operator:

    from big_data_co2_emission_analysis_spark.plans.metrics import collect_metrics
    m = collect_metrics(df)
    # {'output_rows_scan': ..., 'bytes_scanned': ...,
    #  'shuffle_bytes_written': ..., 'shuffle_bytes_read': ...,
    #  'spill_bytes': ..., 'n_rows': ...}
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: metric-name fragments -> aggregate key
_METRIC_KEYS = {
    "number of output rows": "output_rows_total",
    # file-scan bytes ("size of files read" on Scan nodes) kept strictly
    # separate from shuffle-read traffic ("remote/local bytes read" on
    # shuffle readers): bytes_scanned answers "is pruning working?",
    # shuffle_bytes_read answers "is the plan moving too much?"
    "size of files read": "bytes_scanned",
    "bytes read": "shuffle_bytes_read",
    "shuffle bytes written": "shuffle_bytes_written",
    "spill size": "spill_bytes",
}


def _walk(node, out: dict) -> None:
    name = node.nodeName()
    metrics = node.metrics()
    it = metrics.iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        label = metric.name().toString() if hasattr(metric.name(), "toString") else str(metric.name())
        for frag, key in _METRIC_KEYS.items():
            if frag not in label:
                continue
            if key == "bytes_scanned" and "Scan" not in name:
                continue
            out[key] = out.get(key, 0) + metric.value()
            if key == "output_rows_total" and "Scan" in name:
                out["output_rows_scan"] = out.get("output_rows_scan", 0) + metric.value()
    # children, or -- for leaf-looking AQE wrappers whose subtree hides
    # behind an accessor (AdaptiveSparkPlan.executedPlan,
    # QueryStageExec.plan) -- the unwrapped plan.  Unwrapping only when
    # children() is empty keeps the walk acyclic and single-visit.
    ch = node.children()
    if ch.size() > 0:
        it = ch.iterator()
        while it.hasNext():
            _walk(it.next(), out)
        return
    for method in ("executedPlan", "plan"):
        if hasattr(node, method):
            try:
                _walk(getattr(node, method)(), out)
                return
            except Exception:
                pass


def collect_metrics(df: DataFrame) -> dict:
    """Execute ``df`` and return aggregated runtime metrics from the
    FINAL executed plan.  Caveat (VERDICT r9 #5): a query that
    checkpoints or persists internally runs earlier jobs whose plans
    are not part of the final plan -- their scans/shuffles are
    invisible here (the final plan just reads a LogicalRDD).  For
    whole-action accounting use :func:`collect_metrics_all_jobs`."""
    rows = df.collect()
    out: dict = {"n_rows": len(rows)}
    plan = df._jdf.queryExecution().executedPlan()
    _walk(plan, out)
    return out


#: REST StageData field -> collect_metrics-compatible key
_STAGE_FIELDS = {
    "inputRecords": "output_rows_scan",
    "inputBytes": "bytes_scanned",
    "shuffleWriteBytes": "shuffle_bytes_written",
    "shuffleReadBytes": "shuffle_bytes_read",
    "diskBytesSpilled": "spill_bytes",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
}


def _drain_listener_bus(spark, timeout_ms: int = 10_000) -> None:
    """Block until the async ``appStatus`` listener queue is empty.

    The AppStatusStore is fed by a listener on an async bus; stage-
    completed events can lag ``df.collect()`` returning.  Reading the
    store without draining can (a) read the watermark too LOW, so a
    prior query's late-arriving stages get attributed to this one, and
    (b) miss this query's own trailing stages (undercount) -- silently
    skewing the PROFILE_*/SCALING whole-action sums even under the
    documented serial usage.  ``waitUntilEmpty`` is the same barrier
    Spark's own tests use.  Best-effort: the py4j surface moving is not
    a reason to fail the measurement."""
    try:
        bus = spark.sparkContext._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty(timeout_ms)
        except Exception:
            # py4j raises Py4JError (not TypeError) when the long-arg
            # overload is absent; catch broadly so the no-arg Spark-4
            # signature actually gets tried instead of silently
            # no-opping through the outer best-effort guard.
            bus.waitUntilEmpty()
    except Exception:
        pass


def _completed_stages(spark) -> list[dict]:
    """Completed-stage metric rows as plain dicts keyed like the REST
    v1 StageData.  Primary source is the in-process AppStatusStore
    (works with ``spark.ui.enabled=false``, the engine default); the
    HTTP REST API is the fallback when the py4j surface moves but a UI
    is up."""
    sc = spark.sparkContext
    try:
        store = sc._jsc.sc().statusStore()
        jvm = spark._jvm
        stages = store.stageList(
            jvm.java.util.ArrayList(),  # all statuses; filtered below
            False,
            False,
            sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out = []
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            if str(s.status()) != "COMPLETE":
                continue
            out.append(
                {
                    "stageId": s.stageId(),
                    "inputRecords": s.inputRecords(),
                    "inputBytes": s.inputBytes(),
                    "shuffleWriteBytes": s.shuffleWriteBytes(),
                    "shuffleReadBytes": s.shuffleReadBytes(),
                    "diskBytesSpilled": s.diskBytesSpilled(),
                    "executorRunTime": s.executorRunTime(),
                    "executorCpuTime": s.executorCpuTime(),
                }
            )
        return out
    except Exception:
        pass  # py4j surface moved -- try HTTP below
    import json
    import urllib.request

    base = sc.uiWebUrl
    app = sc.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/stages?status=complete", timeout=10
    ) as r:
        return json.load(r)


def _completed_jobs(spark) -> list[dict]:
    """Succeeded-job rows (jobId, description, stageIds) from the
    in-process AppStatusStore.  Streaming micro-batch jobs carry the
    batch id in their description (MicroBatchExecution sets the job
    description per trigger), which is what lets per-batch work
    attribution map stages back to batches."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = spark._jvm
    jobs = store.jobsList(jvm.java.util.ArrayList())
    out = []
    it = jobs.iterator()
    while it.hasNext():
        j = it.next()
        if str(j.status()) != "SUCCEEDED":
            continue
        desc = j.description()
        desc = str(desc.get()) if desc.isDefined() else ""
        sids = []
        sit = j.stageIds().iterator()
        while sit.hasNext():
            sids.append(int(str(sit.next())))
        out.append({"jobId": int(j.jobId()), "description": desc, "stageIds": sids})
    return out


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_size(text: str) -> float:
    """Bytes in a formatted SQL size metric: ``'1018.0 KiB'``, or the
    total (first value of the last line) of
    ``'total (min, med, max ...)\\n79.9 KiB (20.0 KiB, ...)'``."""
    import re

    m = re.search(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)", text.splitlines()[-1])
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _sql_store(spark):
    """The in-process SQL status store (one row per SQL execution)."""
    return spark._jsparkSession.sharedState().statusStore()


def _last_execution_id(spark) -> int:
    it = _sql_store(spark).executionsList().iterator()
    last = -1
    while it.hasNext():
        last = max(last, int(it.next().executionId()))
    return last


def _files_read_bytes(spark, after: int) -> int:
    """Sum of the scan nodes' "size of files read" SQL metric over every
    SQL execution with id > ``after``.  File scans are accounted here,
    not from ``StageData.inputBytes``, which under-reports parquet scans
    on Spark 4.1 (0.115 MB against 128.4 MB for a full sf1 lineitem
    scan)."""
    store = _sql_store(spark)
    total = 0.0
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        eid = e.executionId()
        if eid <= after:
            continue
        wanted = set()
        mit = e.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            if m.name() == "size of files read":
                wanted.add(m.accumulatorId())
        if not wanted:
            continue
        vit = store.executionMetrics(eid).iterator()
        while vit.hasNext():
            kv = vit.next()
            if kv._1() in wanted:
                total += _parse_size(kv._2())
    return int(total)


def collect_metrics_per_batch(thunk, spark) -> tuple[object, dict]:
    """Run ``thunk`` (typically a streaming query driven to completion)
    and attribute executor work PER MICRO-BATCH.

    Returns ``(thunk_result, batches)`` where ``batches`` maps batch id
    (int, or -1 for work not tagged with a batch -- source listing,
    manifest maintenance, result collection) to the summed stage
    metrics of the jobs whose description carries that batch id.  Same
    stage-id-watermark discipline as :func:`collect_metrics_all_jobs`
    (serial usage; drain the listener bus around the read), so the
    per-batch rows sum to the whole-action totals.

    Why: the streaming bench rows' wall cost is dominated by fixed
    micro-batch scheduling overhead, which masks real per-batch work
    regressions as the corpus grows (VERDICT r11 #5) -- a committed
    per-batch work table is the diffable baseline."""
    import re as _re

    _drain_listener_bus(spark)
    watermark = max((s.get("stageId", -1) for s in _completed_stages(spark)), default=-1)
    result = thunk()
    _drain_listener_bus(spark)
    stages = {
        s["stageId"]: s for s in _completed_stages(spark) if s["stageId"] > watermark
    }
    batches: dict = {}
    for job in _completed_jobs(spark):
        m = _re.search(r"batch\s*=?\s*(\d+)", job["description"], _re.IGNORECASE)
        key = int(m.group(1)) if m else -1
        for sid in job["stageIds"]:
            s = stages.pop(sid, None)  # a stage belongs to exactly one job
            if s is None:
                continue
            row = batches.setdefault(key, {"n_stages": 0})
            row["n_stages"] += 1
            for field, out_key in _STAGE_FIELDS.items():
                row[out_key] = row.get(out_key, 0) + int(s.get(field, 0) or 0)
    if stages:  # stages whose job row was evicted or untagged
        row = batches.setdefault(-1, {"n_stages": 0})
        row["n_stages"] += len(stages)
        for s in stages.values():
            for field, out_key in _STAGE_FIELDS.items():
                row[out_key] = row.get(out_key, 0) + int(s.get(field, 0) or 0)
    return result, batches


def collect_metrics_all_jobs(df_or_thunk, spark=None) -> dict:
    """Execute a query and return metrics summed over EVERY stage it
    ran -- including jobs behind ``localCheckpoint``/``persist``
    materializations that the final executed plan hides (the profiler
    attribution fix, VERDICT r9 #5: quartiles' checkpoint boundary made
    a 60M-row query report '9 scan rows / 0 bytes').

    Pass a ZERO-ARG CALLABLE returning the DataFrame whenever the
    query builder itself runs jobs (eager checkpoints, control-plane
    collects, persisted-count gates) -- those run at build time, so an
    already-built DataFrame would hide them before the watermark is
    recorded.  A plain DataFrame is accepted for build-free queries.

    Attribution is by stage-id watermark over completed StageData (the
    SCALING.md total-executor-work protocol; in-process AppStatusStore
    first, HTTP REST as fallback): record the max completed stage id,
    build+run the query, then sum the fields of stages with a LARGER
    id -- robust to retained-stage eviction, correct whenever queries
    run serially in the session (bench/profile/oracle loops;
    concurrent queries would cross-attribute).
    ``output_rows_scan`` is the executor INPUT total (file reads +
    cached-block reads), so a checkpointing query counts both the
    original scan and the checkpoint re-reads.  ``bytes_scanned`` is
    file-scan bytes only: the scan nodes' "size of files read" SQL
    metric, summed over the SQL executions started after the same kind
    of watermark (:func:`_files_read_bytes`).  Skipped stages (reused
    exchanges) never complete, so reuse still shows as fewer bytes.
    Falls back to
    :func:`collect_metrics` when no stage store is reachable."""
    thunk = df_or_thunk if callable(df_or_thunk) else (lambda: df_or_thunk)
    if spark is None:
        if callable(df_or_thunk):
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "collect_metrics_all_jobs(thunk) needs an active session "
                    "(or pass spark=) to read the stage watermark BEFORE the build"
                )
        else:
            spark = df_or_thunk.sparkSession
    try:
        _drain_listener_bus(spark)
        watermark = max(
            (s.get("stageId", -1) for s in _completed_stages(spark)), default=-1
        )
        sql_watermark = _last_execution_id(spark)
    except Exception:
        return collect_metrics(thunk())
    df = thunk()
    rows = df.collect()
    out: dict = {"n_rows": len(rows)}
    _drain_listener_bus(spark)
    try:
        stages = _completed_stages(spark)
    except Exception:  # pragma: no cover - stage store vanished mid-run
        # Do NOT re-collect (that would re-execute a possibly corpus-
        # scale query just to walk the plan) -- walk the final executed
        # plan directly with the row count already in hand.
        plan = df._jdf.queryExecution().executedPlan()
        _walk(plan, out)
        return out
    for s in stages:
        if s.get("stageId", -1) <= watermark:
            continue
        for field, key in _STAGE_FIELDS.items():
            out[key] = out.get(key, 0) + int(s.get(field, 0) or 0)
    out["bytes_scanned"] = _files_read_bytes(spark, sql_watermark)
    # key-compatibility with the plan walker's consumers
    out.setdefault("output_rows_total", out.get("output_rows_scan", 0))
    return out


def observe_quality(
    df: DataFrame, name: str = "quality", **metric_exprs
) -> tuple[DataFrame, "ObservationHandle"]:
    """In-flight data-quality metrics via ``df.observe``: the metric
    expressions (any aggregate over the observed node's rows) are
    computed DURING the job that consumes ``df`` -- zero extra jobs,
    zero extra scans, unlike a separate ``df.agg(...).collect()`` which
    re-executes lineage.  This is the production pattern for pipeline
    health counters (null rates, row counts, value bounds) on a 100 TB
    run where a second pass is unaffordable.

    Returns ``(observed_df, handle)``; run any action on a descendant
    of ``observed_df``, then read ``handle.get()``.

    Example::

        df2, h = observe_quality(df, rows=F.count(F.lit(1)),
                                 null_keys=F.count_if(F.col("k").isNull()))
        df2.write.format("noop").mode("overwrite").save()
        h.get()  # {'rows': ..., 'null_keys': ...}
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(obs, *[expr.alias(k) for k, expr in metric_exprs.items()])
    return observed, ObservationHandle(obs)


class ObservationHandle:
    """Thin wrapper so callers don't import pyspark's Observation."""

    def __init__(self, obs) -> None:
        self._obs = obs

    def get(self) -> dict:
        """Blocks until the observed job finishes; returns the metrics."""
        return dict(self._obs.get)
