"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tpch_sf1 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The load is a closed loop with one
client: this process runs the workload's ops back to back on
``local[<cores>]``, nothing concurrently.  A run is

1. set-up: start the session and warm it up with one small job;
2. one cold pass over the ops, in an order fixed by ``--seed``.  Each
   op's result is collected and, off the clock, checked;
3. warm passes in the same order, each op's result written to a noop
   sink, until ``--seconds`` have been measured and at least three passes
   have run;
4. a last sweep, then the driver heap is read after a full GC.

A cache sweep (``sweep``) runs before every op, off the clock.  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, and the spans are written
under ``.bench_build/perfbench/spans/``.  Everything a run writes lives
under ``.bench_build/perfbench/``; the run's own directory (Spark local
dirs, warehouse, index cache, temp files) is removed at exit.  See
perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import tracing  # noqa: E402

PACKAGE = "big_data_co2_emission_analysis_spark"
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
#: each op's warm figure is its median over the warm passes.  The first
#: warm pass still runs 20-30% slower than the ones after it (JIT;
#: driver_sf0.1: 10.4 s, then 8.4, 8.2, 7.6, 7.7 s); a median over three
#: passes leaves that one out.
MIN_WARM_PASSES = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def preflight() -> str | None:
    """What the checkout lacks for a run, or None."""
    for rel in (PACKAGE, os.path.join("fixtures", "sf1", "lineitem.parquet"), os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}; run from the root of a full checkout"
    return None


def isolate(run_dir: str) -> None:
    """Point every directory the package or Spark writes to at the run's
    own directory, and size Spark to this machine's cores."""
    for sub in ("local", "cache", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CACHE_DIR"] = os.path.join(run_dir, "cache")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # Python workers unpickle functions by reference, so they import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def sweep(spark) -> None:
    """The data half of bench.py's clear_all_caches: drop cached tables
    and persistent RDDs, so every op redoes all of its data work.

    bench.py also forces a JVM GC before every op.  This sweep does not:
    the GC slowed the op after it by up to 1.4 s (bm25_eval_metrics:
    2.75 s -> 4.1 s warm), a cost no user pays between queries.  The only
    forced GCs are those before the heap reading at the end of the run."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


def plan_seconds(frames: list) -> float:
    """Catalyst optimization + physical planning of the frames' final
    plans, from each QueryExecution's QueryPlanningTracker.  The action
    planned its own copy of each plan; planning the frame's own
    QueryExecution is forced here, after the op's clock stopped.

    The analysis phase is left out: it runs eagerly inside the build, and
    a DataFrame derived from another inherits its tracker, so the phase
    accumulates over every step of the chain (0.65 -> 0.88 s across the
    pipeline's five result frames)."""
    total = 0.0
    for df in frames:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("optimization", "planning"):
            if phases.contains(phase):
                total += phases.apply(phase).durationMs() / 1000
    return total


def result_hash(rows: list[list], frames: list) -> str:
    import workloads

    digest = hashlib.sha1()
    for got, df in zip(rows, frames):
        digest.update(repr(workloads.canonical(got, df.columns)).encode())
    return digest.hexdigest()[:16]


class Runner:
    def __init__(self, spark, workload, tracer=None, progress=None) -> None:
        self.spark, self.wl, self.tracer, self.progress = spark, workload, tracer, progress
        self.errors: list[str] = []
        self.problems: dict[str, list[str]] = {}
        self.hashes: dict[str, str] = {}

    def run_pass(self, label: str, order: list[int], cold: bool = False) -> list[dict]:
        records = []
        for i, idx in enumerate(order):
            op = self.wl.ops[idx]
            sweep(self.spark)
            if self.tracer is None:
                rec = self.run_op(op, cold)
            else:
                rec = self.run_traced(op, f"{label}:{i}:{op.name}", cold)
            rec["op"] = op.name
            records.append(rec)
        return records

    def _execute(self, op, cold: bool, spans=None):
        """build, then action; returns (result, frames, rows, ok)."""
        build_span, action_span = spans or (None, None)
        result, frames, rows = None, [], []
        try:
            with build_span or contextlib.nullcontext():
                result = op.build(self.spark)
            with action_span or contextlib.nullcontext():
                frames = op.frames(result)
                for df in frames:
                    if cold:
                        rows.append(df.collect())
                    else:
                        df.write.format("noop").mode("overwrite").save()
            return result, frames, rows, True
        except Exception as e:  # an op that raises is counted; the run goes on
            self.errors.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
            return result, frames, rows, False

    def _check(self, op, result, frames, rows) -> bool:
        try:
            found = op.check(result, rows)
        except Exception as e:
            found = [f"check raised {type(e).__name__}: {str(e)[:300]}"]
        if found:
            self.problems[op.name] = found
        self.hashes[op.name] = result_hash(rows, frames)
        return not found

    def run_op(self, op, cold: bool) -> dict:
        t0 = time.perf_counter()
        result, frames, rows, ok = self._execute(op, cold)
        rec = {"wall": time.perf_counter() - t0, "ok": ok}
        if cold and ok:
            rec["ok"] = self._check(op, result, frames, rows)
        return rec

    def run_traced(self, op, op_id: str, cold: bool) -> dict:
        """run_op plus the op's span tree and its share of Spark's stores."""
        spark = self.spark
        jobs0, stages0, execs0 = tracing.last_ids(spark)
        gc0 = tracing.jvm_gc_seconds(spark)
        self.progress.take()
        with self.tracer.op(op_id, op.name) as root:
            build = self.tracer.span("queries.build", "queries")
            action = self.tracer.span("queries.action", "queries")
            result, frames, rows, ok = self._execute(op, cold, (build, action))
        op_start, wall = root.start, root.seconds
        m = {"wall": wall, "ok": ok, "session.jvm_gc_s": tracing.jvm_gc_seconds(spark) - gc0}
        m["session.residual_blocks"], m["session.residual_cached_mb"] = tracing.residual_blocks(spark)
        if cold and ok:
            m["ok"] = self._check(op, result, frames, rows)
        tracing.drain(spark)
        jobs = [j for j in tracing.read_jobs(spark, jobs0) if j["start"] is not None]
        stages = tracing.read_stages(spark, stages0)
        sql = tracing.read_sql_metrics(spark, execs0)
        op_end = op_start + wall
        busy = tracing.union_seconds([(j["start"], j["end"] or op_end) for j in jobs], op_start, op_end)
        build_s = getattr(build, "seconds", 0.0)
        m.update(
            {
                "queries.build_s": build_s,
                "queries.build_jobs": sum(build_s > 0 and build.start <= j["start"] <= build.start + build_s for j in jobs),
                "queries.action_s": getattr(action, "seconds", 0.0),
                "queries.plan_s": plan_seconds(frames) if ok else 0.0,
                "engine.jobs": len(jobs),
                "engine.stages": len(stages),
                "engine.tasks": sum(s["tasks"] for s in stages),
                "engine.job_busy_s": busy,
                "engine.driver_gap_s": wall - busy,
                "engine.executor_run_s": sum(s["run_ms"] for s in stages) / 1000,
                "engine.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
                "engine.task_gc_s": sum(s["gc_ms"] for s in stages) / 1000,
                "engine.scan_mb": sql["scan_bytes"] / 2**20,
                "engine.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / 2**20,
                "engine.shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / 2**20,
                "engine.spill_mb": sum(s["spill"] for s in stages) / 2**20,
                "engine.python_mb": sql["python_bytes"] / 2**20,
            }
        )
        m.update(self._layers(op_id, jobs))
        m.update(streaming_metrics(self.progress.take()))
        return m

    def _layers(self, op_id: str, jobs: list[dict]) -> dict:
        """Per layer: calls, self time, and the jobs submitted while one of
        the layer's spans was the innermost span open."""
        spans = [s for s in self.tracer.spans if s.op == op_id]
        own = tracing.self_times(spans)
        out = {}
        for layer in tracing.LAYERS:
            mine = [s for s in spans if s.layer == layer]
            out[f"{layer}.calls"] = len(mine)
            out[f"{layer}.self_s"] = sum(own[s.id] for s in mine)
            out[f"{layer}.jobs"] = 0
        for j in jobs:
            inside = [s for s in spans if s.start <= j["start"] <= s.end]
            if inside:
                innermost = max(inside, key=lambda s: s.start)
                if innermost.layer in tracing.LAYERS:
                    out[f"{innermost.layer}.jobs"] += 1
        return out


def streaming_metrics(events: list[dict]) -> dict:
    """Sums over the micro-batches one op ran; state size from each
    op's last batch."""

    def seconds(key: str) -> float:
        return sum(e["duration_ms"].get(key, 0) for e in events) / 1000

    last_state = events[-1]["state"] if events else []
    return {
        "streaming.batches": len(events),
        "streaming.input_rows": sum(e["input_rows"] for e in events),
        "streaming.trigger_s": seconds("triggerExecution"),
        "streaming.add_batch_s": seconds("addBatch"),
        "streaming.wal_commit_s": seconds("walCommit") + seconds("commitOffsets"),
        "streaming.state_commit_s": sum(c for e in events for _, _, c in e["state"]) / 1000,
        "streaming.state_rows": sum(rows for rows, _, _ in last_state),
        "streaming.state_mb": sum(mem for _, mem, _ in last_state) / 2**20,
    }


def per_pass(records: list[dict], cores: int) -> dict:
    """Per-layer metrics of one traced pass: sums over its ops, and the
    pass's core utilization."""
    m = {k: sum(r[k] for r in records) for k in records[0] if "." in k}
    busy = m["engine.job_busy_s"]
    m["engine.core_util"] = m["engine.executor_run_s"] / (busy * cores) if busy else 0.0
    return m


UNITS = {
    "session.start_s": "s",
    "session.residual_blocks": "count",
    "session.residual_cached_mb": "MB",
    "session.jvm_gc_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "queries.plan_s": "s",
    **{f"engine.{k}": "count" for k in ("jobs", "stages", "tasks")},
    **{f"engine.{k}": "s" for k in ("job_busy_s", "driver_gap_s", "executor_run_s", "executor_cpu_s", "task_gc_s")},
    "engine.core_util": "ratio",
    **{f"engine.{k}": "MB" for k in ("scan_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "python_mb")},
    **{f"{layer}.{k}": u for layer in tracing.LAYERS for k, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"))},
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    **{f"streaming.{k}": "s" for k in ("trigger_s", "add_batch_s", "wal_commit_s", "state_commit_s")},
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
}


def stop_spark(spark) -> None:
    """Stop the session, then the py4j JVM and the Python workers it
    started, waiting for each process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _children(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _stat(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                if int(_stat(entry)[1]) == pid:
                    out.append(int(entry))
            except (OSError, IndexError, ValueError):
                continue
    return out


def _alive(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except OSError:
        return False


def measure(args, sf_dir: str, csv_path: str, run_dir: str, state: dict) -> dict:
    """Set up, run the passes, and return the result line's fields."""
    import workloads

    tracer = tracing.Tracer() if args.trace else None
    if tracer is not None:
        print(f"# tracing {tracer.install()} functions", file=sys.stderr)

    from big_data_co2_emission_analysis_spark.session import DEFAULT_CPUS, get_session

    t0 = time.perf_counter()
    spark = state["spark"] = get_session(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = time.perf_counter() - t0

    wl = workloads.make(args.workload, sf_dir, csv_path)

    progress = None
    if tracer is not None:
        progress = tracing.StreamProgress()
        spark.streams.addListener(progress.listener)
    runner = Runner(spark, wl, tracer, progress)
    order = op_order(len(wl.ops), args.seed)

    cold = runner.run_pass("cold", order, cold=True)
    warm: list[list[dict]] = []
    measured = 0.0
    while measured < args.seconds or len(warm) < MIN_WARM_PASSES:
        warm.append(runner.run_pass(f"warm{len(warm)}", order))
        measured += sum(r["wall"] for r in warm[-1])
    sweep(spark)
    retained_heap_mb = tracing.retained_heap_mb(spark)

    passes = [cold, *warm]
    attempted = sum(len(p) for p in passes)
    failed = sum(not r["ok"] for p in passes for r in p)
    pass_s = [sum(r["wall"] for r in p) for p in warm]
    report(args, [wl.ops[i].name for i in order], cold, warm, runner, attempted, failed)
    print(f"# setup_s {setup_s:.3f} s")
    print(f"# warm passes {[round(x, 3) for x in pass_s]} s")

    if tracer is None:
        metrics = end_to_end(setup_s, cold, warm, retained_heap_mb)
    else:
        metrics = per_layer(warm, setup_s, DEFAULT_CPUS)
        print(f"# traced warm_pass_s {warm_pass_seconds(warm):.3f} s")
        state["spans"] = tracer.dump()
        tracer.uninstall()
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def op_order(n_ops: int, seed: int) -> list[int]:
    """The run's op order: one permutation, fixed by the seed."""
    order = list(range(n_ops))
    random.Random(seed).shuffle(order)
    return order


def _named(values: dict[str, tuple[float, str]]) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def warm_pass_seconds(warm: list[list[dict]]) -> float:
    """The sum over ops of each op's median warm time: a slow spell of the
    shared host that hits one op in one pass and another op in the next
    moves neither median."""
    return sum(statistics.median(p[i]["wall"] for p in warm) for i in range(len(warm[0])))


def end_to_end(setup_s: float, cold: list[dict], warm: list[list[dict]], retained_heap_mb: float) -> dict:
    return _named(
        {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (sum(r["wall"] for r in cold), "s"),
            "warm_pass_s": (warm_pass_seconds(warm), "s"),
            "retained_heap_mb": (retained_heap_mb, "MB"),
        }
    )


def per_layer(warm: list[list[dict]], start_s: float, cores: int) -> dict:
    """Medians over the traced warm passes of each pass's per-layer sums,
    plus the session start."""
    layered = [per_pass(p, cores) for p in warm]
    values = {k: (statistics.median(w[k] for w in layered), UNITS[k]) for k in layered[0]}
    values["session.start_s"] = (start_s, "s")
    return _named(values)


def report(args, names, cold, warm, runner, attempted, failed) -> None:
    """Human-readable lines before the result line: per-op times, result
    hashes and the itemized failures."""
    print(f"# {args.workload} seed {args.seed} trace {args.trace}: op order {names}")
    for i, rec in enumerate(cold):
        warm_s = statistics.median(p[i]["wall"] for p in warm)
        print(
            f"#   {rec['op']:<30} cold {rec['wall']:7.3f} s  warm median {warm_s:7.3f} s"
            f"  result {runner.hashes.get(rec['op'], '-')}"
        )
    print(f"# fail_ratio {failed / attempted:.4f} (1) = {failed} failed / {attempted} attempted")
    for e in runner.errors:
        print(f"#   error {e}")
    for op, found in runner.problems.items():
        print(f"#   check {op}: {'; '.join(found)}")


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    problem = preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    run_dir = os.path.join(BUILD_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    isolate(run_dir)
    state: dict = {}
    try:
        import inputs
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; known: {workloads.WORKLOADS}", file=sys.stderr)
            return 2
        sf_dir = workloads.data_dir(args.workload, BUILD_DIR)
        csv_path = os.path.join(run_dir, "co2-dataset.csv")
        inputs.write_co2_csv(csv_path, args.seed)
        result = measure(args, sf_dir, csv_path, run_dir, state)
        if "spans" in state:
            out = os.path.join(BUILD_DIR, "spans", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as f:
                json.dump(state["spans"], f)
            print(f"# spans: {os.path.relpath(out, ROOT)} ({len(state['spans'])} spans)")
    finally:
        if "spark" in state:
            stop_spark(state["spark"])
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
