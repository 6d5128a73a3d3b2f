"""Repo benchmark: one seeded workload per invocation, run against the public
API of ``employee_activity_etl_poc_spark`` on ``local[4]``.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 9 --trace 0

Run from the repository root (any working directory works; paths resolve
from this file). Scratch data lives in ``.perfbench_work/`` at the root and
is removed on exit. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (tracing off):

- ``setup_s``: one cold start — JVM launch and session start, Python-worker
  warm-up, input generation. A cold start costs 15-20 s on 4 cores, so a run
  makes one; the median is taken over runs.
- ``latency_p50_ms`` / ``latency_p95_ms``: percentiles of the run's
  latencies: one per timed medallion pass (after untimed warm-up passes,
  see ``workloads.WARMUP_PASSES``) or doc_query round (the query mix and
  one document batch, the first run cold, as in a user's fresh session),
  or one per event of the CDC stream, from when its file was due to the
  end of the gold batch that carried it. The p95 needs
  ``MIN_TAIL_SAMPLES`` latencies; a batch workload has a few, and reports
  its median there.
- ``peak_rss_mb``: summed peak resident memory of this process tree (Python
  driver, JVM, Python workers).
- ``storage_bytes_per_item``: bytes the workload left on disk per input item
  (medallion and cdc: bronze + gold + checkpoints; doc_query: the
  signature/line/gram/soft stores per document).

Throughput is not gated: on the batch workloads it is the inverse of the
latency, and on the CDC stream the events per second the two streams were
busy (``streaming.ingest.events_per_busy_s``) spread 0.23 between runs
on a 4-vCPU VM, too close to any bound.

The failed share (wrong or failed operations over attempted) is carried by
``attempted``/``failed`` and printed on a ``failed_ratio`` line; it is 0 on a
correct run, so it is not a gated metric.

``--trace 1`` reports the per-layer metrics instead: every other operation
(pass, micro-batch, round of the document workload) runs inside spans (see
``spans.py``) that tag its Spark jobs with a job group: spans the
benchmark opens around its calls into the package, and spans around every
public function of the ``INSTRUMENTED`` modules. Spark's event log is
parsed per layer, and layer numbers are given per traced operation.
``trace.overhead_ms`` is, per kind of operation, the median traced one
minus the median untraced one, the first of each kind left out (it runs
cold); the median over kinds. On ``medallion_batch`` the traced run also
times one pass at ``local[1]`` (``baseline.medallion_local1_s``, reported,
not gated). A metric of a layer the workload does not touch is 0.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "employee_activity_etl_poc_spark"
CORES = 4
# a percentile is reported only with at least ten samples beyond it: p95
# needs 200 latency samples (events of cdc_stream); a batch workload's items
# share their operation's latency, so there it falls back to the median
MIN_TAIL_SAMPLES = 200
# fixed heap (initial = max): heap resizing would otherwise dominate the
# spread of peak_rss_mb between runs
DRIVER_MEMORY = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "peak_rss_mb": "MB",
    "storage_bytes_per_item": "B",
}

# layers reached inside the package: every public function of the module
# runs in a span of its layer in traced runs
INSTRUMENTED = {
    "sources.readers": f"{PACKAGE}.sources.readers",
    "sources.deltalog": f"{PACKAGE}.sources.deltalog",
    "sources.sinks": f"{PACKAGE}.sources.sinks",
    "operators.relational": f"{PACKAGE}.operators.relational",
    "operators.dedup": f"{PACKAGE}.operators.dedup",
    "operators.textops": f"{PACKAGE}.operators.textops",
    "operators.similarity": f"{PACKAGE}.operators.similarity",
    "operators.windows": f"{PACKAGE}.operators.windows",
    "operators.sketches": f"{PACKAGE}.operators.sketches",
}

# (metric, layer, function-name prefix): the time of one operator family
CALL_METRICS = (
    ("operators.dedup.minhash_s", "operators.dedup", "minhash"),
    ("operators.dedup.line_s", "operators.dedup", "line_"),
    ("operators.textops.quality_s", "operators.textops", "quality"),
    ("sources.sinks.shards_s", "sources.sinks", "write_training_shards"),
)


def _span_metrics(layer: str, moves: str) -> dict[str, tuple[str, str]]:
    """Wall and self time of a layer's spans plus its event-log counters,
    all per traced operation."""
    out = {f"{layer}.s": ("s", moves), f"{layer}.self_s": ("s", moves)}
    out.update({f"{layer}.{k}": (u, moves) for k, u in spans.EVENT_UNITS.items()})
    return out


# per-layer metric -> (unit, the end-to-end metric and workload it should move)
LAYER_METRICS = {
    "session.start_s": ("s", "setup_s, all"),
    "session.worker_warmup_s": ("s", "setup_s, all"),
    "sources.generator.s": ("s", "setup_s, all"),
    "generator.lateness_ms_max": ("ms", "none: open-loop health, cdc_stream"),
    "generator.backlog_files_max": ("count", "latency_p95_ms, cdc_stream"),
    "streaming.ingest.first_batch_ms": ("ms", "none: stream start, cdc_stream"),
    "streaming.ingest.events_per_busy_s": ("1/s", "latency_p50_ms, cdc_stream"),
    "streaming.ingest.bronze_batch_ms_p50": ("ms", "latency_p50_ms, cdc_stream"),
    "streaming.ingest.batch_ms_p50": ("ms", "latency_p50_ms, cdc_stream"),
    "streaming.ingest.batch_overhead_ms_p50": (
        "ms", "latency_p50_ms on cdc_stream; no change on medallion_batch"
    ),
    "streaming.ingest.state_rows_max": ("count", "peak_rss_mb, cdc_stream"),
    "streaming.ingest.dedup_hit_ratio": ("ratio", "correctness, medallion_batch and cdc_stream"),
    "plans.gold_jobs.sink_ms_p50": ("ms", "latency_p50_ms, cdc_stream"),
    "sources.sinks.bytes_written": ("B", "storage_bytes_per_item, all"),
    "sources.sinks.files_written": ("count", "storage_bytes_per_item, all"),
    "sources.sinks.shards_s": ("s", "latency_p50_ms, doc_query"),
    "baseline.medallion_local1_s": ("s", "none: single-core reference, medallion_batch"),
    "trace.overhead_ms": ("ms", "none: traced minus untraced operation"),
    "trace.ops_traced": ("count", "none"),
    "plans.llm_pipeline.batch_s_first": ("s", "latency_p50_ms, doc_query"),
    "plans.llm_pipeline.batch_s_last": (
        "s", "latency_p50_ms, doc_query (store growth)"
    ),
    "plans.llm_pipeline.near_dup_recall": ("ratio", "correctness, doc_query"),
    "plans.llm_pipeline.exact_dup_recall": ("ratio", "correctness, doc_query"),
    "plans.llm_pipeline.lines_removed": ("count", "storage_bytes_per_item, doc_query"),
    "operators.dedup.minhash_s": ("s", "latency_p50_ms, doc_query"),
    "operators.dedup.line_s": ("s", "latency_p50_ms, doc_query"),
    "operators.textops.quality_s": ("s", "latency_p50_ms, doc_query"),
    **_span_metrics("streaming.ingest", "latency_p50_ms, medallion_batch and cdc_stream"),
    **_span_metrics("streaming.notify", "latency_p50_ms, medallion_batch and cdc_stream"),
    **_span_metrics("plans.gold_jobs", "latency_p50_ms, medallion_batch and cdc_stream"),
    **_span_metrics("plans.kpi", "latency_p50_ms, medallion_batch"),
    **_span_metrics("plans.llm_pipeline", "latency_p50_ms, doc_query"),
    **_span_metrics("plans.registry", "latency_p50_ms, doc_query"),
    **_span_metrics("sources.sinks", "storage_bytes_per_item and latency_p50_ms, all"),
    **_span_metrics("sources.readers", "latency_p50_ms, doc_query"),
    **_span_metrics("sources.deltalog", "latency_p50_ms, doc_query"),
    **_span_metrics("operators.relational", "latency_p50_ms, all"),
    **_span_metrics("operators.dedup", "latency_p50_ms, doc_query"),
    **_span_metrics("operators.textops", "latency_p50_ms, doc_query"),
    **_span_metrics("operators.similarity", "latency_p50_ms, doc_query"),
    **_span_metrics("operators.windows", "latency_p50_ms, doc_query"),
    **_span_metrics("operators.sketches", "latency_p50_ms, doc_query"),
}


def layer_metric_spec() -> dict[str, tuple[str, str]]:
    """``LAYER_METRICS`` plus one time per query of the query mix."""
    from workloads import QUERY_MIX

    per_query = {f"plans.registry.{q}_s": ("s", "latency_p50_ms, doc_query") for q in QUERY_MIX}
    return {**LAYER_METRICS, **per_query}


def percentile(values: list[float], q: float) -> float:
    """Smallest value with at least a share ``q`` of the values at or below it."""
    pts = sorted(values)
    return pts[max(0, math.ceil(q * len(pts)) - 1)] if pts else float("nan")


def configure_environment(work: str) -> None:
    """Make the package importable here and in Spark's Python workers, and
    keep every Spark scratch file under ``work``."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # py4j's connection file, PySpark's temp files
    tempfile.tempdir = tmp


def session_conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
            f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        # no micro-batch without new input: a watermark move alone would
        # otherwise run an empty bronze batch whose commit the gold stream
        # takes up as an empty batch of its own, at a moment that differs
        # from run to run (state is still evicted, in the next data batch)
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def warm_workers(spark) -> None:
    """One task per core through a Python worker: forks the worker daemon
    and its workers, which the first Python-side task would pay for."""
    spark.sparkContext.parallelize(range(CORES), CORES).map(lambda x: x).count()


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(tracer, outcome, event_groups, names: dict) -> dict[str, float]:
    """Every metric in ``names``: span times and event-log counters per
    traced pass, micro-batch or round, the workload's own layer numbers,
    tracing overhead."""
    per_op = max(outcome.n_traced, 1)
    vals = {name: 0.0 for name in names}
    for layer, secs in tracer.layer_seconds().items():
        vals[f"{layer}.s"] = secs / per_op
    for layer, secs in tracer.self_seconds().items():
        vals[f"{layer}.self_s"] = secs / per_op
    for layer, counters in spans.layer_events(tracer, event_groups).items():
        for k, v in counters.items():
            vals[f"{layer}.{k}"] = v / per_op
    for name, layer, prefix in CALL_METRICS:
        vals[name] = tracer.call_seconds(layer, prefix) / per_op
    vals.update(outcome.layer)
    vals["trace.overhead_ms"] = trace_overhead_ms(outcome)
    vals["trace.ops_traced"] = outcome.n_traced
    return {k: float(v) for k, v in vals.items() if k in names}


def trace_overhead_ms(outcome) -> float:
    """Per kind of operation, median traced minus median untraced time,
    leaving out the first operation of each kind (it runs cold); the
    median over the kinds that have both."""
    by_kind: dict[str, tuple[list[float], list[float]]] = {}
    seen: set[str] = set()
    for s, kind, traced in zip(outcome.op_s, outcome.kind, outcome.traced):
        if kind not in seen:
            seen.add(kind)
            continue
        by_kind.setdefault(kind, ([], []))[0 if traced else 1].append(s)
    diffs = [
        statistics.median(t) - statistics.median(u) for t, u in by_kind.values() if t and u
    ]
    return statistics.median(diffs) * 1000.0 if diffs else 0.0


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "eventlog"))
    configure_environment(work)
    from employee_activity_etl_poc_spark.session import get_spark
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](size=args.size, corrupt=args.corrupt)
    trace = bool(args.trace)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=session_conf(work, trace))
        t1 = time.perf_counter()
        warm_workers(spark)
        t2 = time.perf_counter()
        inputs = os.path.join(work, "inputs")
        os.makedirs(inputs)
        wl.setup(spark, args.seed, inputs, args.seconds)
        t3 = time.perf_counter()

        tracer = spans.Tracer(spark.sparkContext, enabled=False)
        if trace:
            spans.instrument(tracer, INSTRUMENTED)
        measure_dir = os.path.join(work, "run")
        os.makedirs(measure_dir)
        t_measure = time.perf_counter()
        outcome = wl.measure(spark, tracer, args.seconds, measure_dir, trace)
        outcome.notes["phase_s"] = {
            "setup": round(t3 - t0, 2),
            "measure_and_check": round(time.perf_counter() - t_measure, 2),
        }

        if not trace:
            lat = outcome.latency
            metrics = {
                "setup_s": t3 - t0,
                "latency_p50_ms": percentile(lat, 0.50),
                "latency_p95_ms": percentile(lat, 0.95 if len(lat) >= MIN_TAIL_SAMPLES else 0.50),
                "peak_rss_mb": outcome.peak_rss_mb,
                "storage_bytes_per_item": outcome.storage_bytes / max(outcome.n_input, 1),
            }
            units = END_TO_END_UNITS
        else:
            app_id = spark.sparkContext.applicationId
            spark.stop()
            groups = spans.parse_event_log(os.path.join(work, "eventlog"), app_id)
            outcome.layer["session.start_s"] = t1 - t0
            outcome.layer["session.worker_warmup_s"] = t2 - t1
            outcome.layer["sources.generator.s"] = t3 - t2
            if args.workload == "medallion_batch":
                os.environ["SPARK_GRAFT_CPUS"] = "1"
                spark = get_spark(extra_conf=session_conf(work, False))
                wl.setup(spark, args.seed, os.path.join(work, "inputs-local1"), args.seconds)
                _, dt = wl.one_pass(spark, spans.Tracer(None, False), os.path.join(work, "local1"), [])
                outcome.layer["baseline.medallion_local1_s"] = dt
            names = layer_metric_spec()
            metrics = layer_metrics(tracer, outcome, groups, names)
            units = {k: u for k, (u, _) in names.items()}
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    outcome.notes["op_s"] = [round(x, 3) for x in outcome.op_s]
    attempted = max(outcome.attempted, 1)
    print(
        f"{args.workload}: failed_ratio={outcome.failed / attempted:.6f} "
        f"({outcome.failed}/{attempted}) notes={json.dumps(outcome.notes)}"
    )
    return {
        "correct": outcome.failed == 0 and outcome.attempted > 0,
        "attempted": attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("medallion_batch", "cdc_stream", "doc_query"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=9)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=0, help="override the workload size (self-test)")
    p.add_argument("--corrupt", action="store_true", help="drop one output row before checking (self-test)")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found next to {HERE}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
