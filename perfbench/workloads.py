"""The benchmark workloads: seeded inputs, the measured loop, output checks.

Each workload is driven only through the package's public API. One
*operation* is the unit a user waits on; its latency runs from when its
input was due to when it finished:

- ``medallion_batch``: one backfill pass over a CDC topic dir — bronze
  ingest (availableNow, watermark dedup) → gold full refresh → KPI → batch-0
  notification. Items: activities; one latency per pass, after
  ``WARMUP_PASSES`` untimed (but checked) ones.
- ``cdc_stream``: an open-loop feed drops one CDC file every ``FILE_EVERY_S``
  into a topic dir. ``bronze_ingest`` streams it (processing-time trigger,
  watermark dedup) into bronze, and ``incremental_foreach_batch`` streams
  bronze into a sink that enriches, appends gold and notifies. Items: events;
  one latency per event, from when its file was due to the end of the gold
  batch that carried it.
- ``doc_query``: rounds of a read-only registry query mix over generated
  tables, each followed by one ``ingest_document_batch`` (line dedup on)
  against stores that grow from batch to batch. Items: documents and query
  answers; one latency per round.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
from employee_activity_etl_poc_spark.plans import kpi
from employee_activity_etl_poc_spark.plans.gold_jobs import enrich_activities, run_full_refresh
from employee_activity_etl_poc_spark.plans.llm_pipeline import ingest_document_batch
from employee_activity_etl_poc_spark.plans.registry import REGISTRY
from employee_activity_etl_poc_spark.sources.generator import (
    employees_oracle_sql,
    generator_oracle_sql,
)
from employee_activity_etl_poc_spark.sources.sinks import write_parquet
from employee_activity_etl_poc_spark.streaming.cdc import file_cdc_stream, parse_cdc_envelope
from employee_activity_etl_poc_spark.streaming.ingest import (
    bronze_ingest,
    incremental_foreach_batch,
    run_to_completion,
)
from employee_activity_etl_poc_spark.streaming.metrics import progress_metrics
from employee_activity_etl_poc_spark.streaming.notify import activity_message, make_notifier
from spans import Tracer, dir_stats, peak_rss_mb
from tools.check_oracle import normalize

GOLD_NOW = "2024-06-01 00:00:00"  # fixed gold_processing_ts: one date partition
WATERMARK = ("start_ts", "30 days")
# medallion: untimed passes before the timed window. The first runs cold and
# the next ones are still 20-40 % slower while the JIT warms up; how fast
# that goes differs from run to run, so timing them made the pass median
# spread 0.15-0.3 between runs on a 4-vCPU VM. Counted in passes, not
# seconds: JIT progress follows calls made, not time spent.
WARMUP_PASSES = 4
MIN_TIMED_PASSES = 3
TRIGGER_S = 3  # cdc_stream's bronze micro-batch interval: above a gold batch's time
# the gold stream polls bronze this often: it takes each bronze commit up at
# once instead of on its next tick, which some bronze commits would miss
# by a few ms and others not (a bimodal latency)
GOLD_POLL_S = 0.25


@dataclass
class Outcome:
    """What one measured loop produced. ``latency`` holds one value in ms
    per medallion pass, CDC event or doc_query round. ``kind`` names each
    operation's kind, so that traced and untraced operations are compared
    like for like."""

    latency: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    kind: list[str] = field(default_factory=list)
    traced: list[bool] = field(default_factory=list)
    n_traced: int = 0  # traced passes, micro-batches or rounds
    peak_rss_mb: float = 0.0
    storage_bytes: int = 0
    n_input: int = 0
    attempted: int = 0
    failed: int = 0
    layer: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)


def median(xs: list[float]) -> float:
    """The median, 0 for no values (a layer metric of a stream that had no
    live batch)."""
    return statistics.median(xs) if xs else 0.0


def rows_hash(rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256 of the stringified rows)."""
    norm = sorted(tuple("NULL" if v is None else str(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for r in norm:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return len(norm), h.hexdigest()


def kpi_totals(gold: DataFrame, hr: DataFrame) -> DataFrame:
    """The three wellness KPIs over gold: per-employee activity counts,
    qualification flags against the HR dim, one rollup."""
    counts = kpi.summarize_per_entity(gold, ["employee_id"])
    joined = hr.join(counts, "employee_id", "left").withColumn(
        "total_line_count", F.coalesce(F.col("total_line_count"), F.lit(0))
    )
    flagged = kpi.with_qualification_flags(
        joined, F.col("transport_mode").isin(*gen.ACTIVE_COMMUTE)
    )
    return kpi.wellness_totals(flagged)


def _notify_frame(gold: DataFrame) -> DataFrame:
    return gold.withColumn("message", activity_message())


class Medallion:
    name = "medallion_batch"

    def __init__(self, size: int = 0, corrupt: bool = False):
        self.n = size or 10_000  # activities per pass
        self.corrupt = corrupt

    def setup(self, spark: SparkSession, seed: int, inputs: str, seconds: int) -> None:
        self.seed = seed
        self.topic = os.path.join(inputs, "topic")
        gen.write_medallion_topic(spark, self.n, seed, self.topic)
        self.sports, self.hr = gen.dims(spark, self.n, seed)

    def one_pass(self, spark: SparkSession, tracer: Tracer, out: str, sent: list) -> tuple[tuple, float]:
        bronze_p, gold_p = os.path.join(out, "bronze"), os.path.join(out, "gold")
        t0 = time.perf_counter()
        with tracer.span("streaming.ingest", "bronze_ingest"):
            parsed = parse_cdc_envelope(file_cdc_stream(spark, self.topic))
            query = bronze_ingest(parsed, bronze_p, os.path.join(out, "checkpoint"), watermark=WATERMARK)
            tracer.adopt(str(query.runId), "streaming.ingest")
            run_to_completion(query)
        bronze = spark.read.parquet(bronze_p)
        with tracer.span("plans.gold_jobs", "run_full_refresh"):
            run_full_refresh(
                bronze, self.sports, self.hr, gold_p, now=F.lit(GOLD_NOW).cast("timestamp")
            )
        gold = spark.read.parquet(gold_p)
        with tracer.span("plans.kpi", "wellness_totals"):
            totals = tuple(kpi_totals(gold, self.hr).collect()[0])
        with tracer.span("streaming.notify", "make_notifier"):
            make_notifier(sent.append)(_notify_frame(gold), 0)
        return totals, time.perf_counter() - t0

    def measure(self, spark: SparkSession, tracer: Tracer, seconds: int, work: str, trace: bool) -> Outcome:
        o = Outcome(n_input=self.n)
        results = []
        start = None  # when the timed window opened
        out = ""
        while start is None or len(o.latency) < MIN_TIMED_PASSES or time.perf_counter() - start < seconds:
            if len(o.op_s) == WARMUP_PASSES:
                start = time.perf_counter()
            if out:
                shutil.rmtree(out)
            out = os.path.join(work, f"pass-{len(o.op_s)}")
            tracer.enabled = trace and len(o.op_s) % 2 == 1
            sent: list[str] = []
            totals, dt = self.one_pass(spark, tracer, out, sent)
            o.op_s.append(dt)
            o.kind.append("pass")
            o.traced.append(tracer.enabled)
            if start is not None:
                o.latency.append(dt * 1000.0)
            results.append((totals, len(sent)))
        tracer.enabled = False
        o.n_traced = sum(o.traced)
        parts = [os.path.join(out, d) for d in ("bronze", "gold", "checkpoint")]
        o.storage_bytes, n_files = dir_stats(*parts)
        o.peak_rss_mb = peak_rss_mb()
        self.check(spark, out, results, o)
        o.layer["sources.sinks.bytes_written"] = o.storage_bytes
        o.layer["sources.sinks.files_written"] = n_files
        return o

    def oracle(self) -> tuple[tuple, tuple[int, str]]:
        """DuckDB replay of the generators: (KPI totals, gold rows hash)."""
        n_emp = gen.n_employees_for(self.n)
        acts = generator_oracle_sql(self.n, n_emp, str(self.seed))
        emps = employees_oracle_sql(n_emp, str(self.seed))
        sports = gen.sports_dim_oracle_sql(n_emp, self.seed)
        modes = ", ".join(f"'{m}'" for m in gen.ACTIVE_COMMUTE)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE TEMP TABLE a AS {acts}")
            con.execute(f"CREATE TEMP TABLE e AS {emps}")
            con.execute(f"CREATE TEMP TABLE s AS {sports}")
            totals = con.execute(
                f"""
                WITH c AS (SELECT employee_id, count(*) AS n FROM a GROUP BY 1),
                q AS (SELECT e.salary, coalesce(c.n, 0) > {kpi.QUALIFY_MIN_ACTIVITIES} AS qs,
                             e.transport_mode IN ({modes}) AS qc
                      FROM e LEFT JOIN c USING (employee_id))
                SELECT CAST(sum(CASE WHEN qs THEN {kpi.WELLNESS_DAYS_AWARDED} ELSE 0 END) AS BIGINT),
                       round(sum(CASE WHEN qs THEN salary * {kpi.WELLNESS_DAYS_AWARDED} / {kpi.WORKDAYS_PER_YEAR} ELSE 0.0 END), 2),
                       round(sum(CASE WHEN qc THEN salary * {kpi.PRIME_RATE} ELSE 0.0 END), 2)
                FROM q
                """
            ).fetchone()
            rows = con.execute(
                """
                SELECT a.activity_id::VARCHAR, a.employee_id::VARCHAR,
                       CAST(epoch(a.start_ts) AS BIGINT)::VARCHAR, a.sport_type,
                       a.distance_m::VARCHAR, CAST(epoch(a.end_ts) AS BIGINT)::VARCHAR,
                       a.comment, s.declared_sport,
                       CAST(round(e.salary * 100) AS BIGINT)::VARCHAR, e.transport_mode, e.bu
                FROM a LEFT JOIN s USING (employee_id) LEFT JOIN e USING (employee_id)
                """
            ).fetchall()
        finally:
            con.close()
        return totals, rows_hash(rows)

    def check(self, spark: SparkSession, out: str, results: list, o: Outcome) -> None:
        want_totals, want_gold = self.oracle()
        gold = spark.read.parquet(os.path.join(out, "gold"))
        if self.corrupt:  # self-test: one dropped gold row must be caught
            gold = gold.where(F.col("activity_id") != 1)
        s = F.col
        got = gold.select(
            s("activity_id").cast("string"), s("employee_id").cast("string"),
            F.unix_seconds("start_ts").cast("string"), "sport_type",
            s("distance_m").cast("string"), F.unix_seconds("end_ts").cast("string"),
            "comment", "declared_sport",
            F.round(s("salary") * 100).cast("long").cast("string"), "transport_mode", "bu",
        ).toPandas()
        gold_ok = rows_hash(got.itertuples(index=False)) == want_gold
        n_bronze = spark.read.parquet(os.path.join(out, "bronze")).count()
        n_envelopes = spark.read.text(self.topic).count()
        planted = n_envelopes - self.n
        o.layer["streaming.ingest.dedup_hit_ratio"] = (
            (n_envelopes - n_bronze) / planted if planted else 1.0
        )
        for i, (totals, n_sent) in enumerate(results):
            ok = (
                totals[0] == want_totals[0]
                and abs(totals[1] - want_totals[1]) < 0.011
                and abs(totals[2] - want_totals[2]) < 0.011
                and n_sent == 6  # backlog notice + the newest 5
            )
            if i == len(results) - 1:
                ok = ok and gold_ok and n_bronze == self.n
            o.attempted += 1
            o.failed += not ok
        o.notes.update(passes=len(results), gold_rows=len(got), kpi=list(want_totals))


class _GoldSink:
    """The gold stream's foreachBatch sink: enrich, append gold, notify;
    then record which activity ids the batch carried and when it
    finished."""

    def __init__(self, tracer: Tracer, trace: bool, gold_p: str, sports: DataFrame, hr: DataFrame):
        self.tracer, self.trace, self.gold_p = tracer, trace, gold_p
        self.sports, self.hr = sports, hr
        self.lock = threading.Lock()
        self.landed: dict[int, float] = {}  # activity id -> end of its batch
        self.batches: list[dict] = []
        self.sent: list[str] = []
        self.notifier = make_notifier(self.sent.append)

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        tracer = self.tracer
        t0 = time.perf_counter()
        tracer.enabled = self.trace and batch_id % 2 == 1
        batch.persist()
        with tracer.span("plans.gold_jobs", "enrich_activities"):
            gold = enrich_activities(
                batch, self.sports, self.hr, now=F.lit(GOLD_NOW).cast("timestamp")
            )
            write_parquet(gold, self.gold_p, partition_by=["gold_processing_date"])
        t_gold = time.perf_counter()
        n_before = len(self.sent)
        with tracer.span("streaming.notify", "make_notifier"):
            self.notifier(_notify_frame(gold), batch_id)
        t_end = time.perf_counter()
        ids = [r[0] for r in batch.select("activity_id").collect()]
        batch.unpersist()
        with self.lock:
            for i in ids:
                self.landed.setdefault(i, t_end)
            self.batches.append(
                dict(id=batch_id, rows=len(ids), gold_ms=(t_gold - t0) * 1000.0,
                     sink_ms=(t_end - t0) * 1000.0, sent=len(self.sent) - n_before,
                     traced=tracer.enabled)
            )
        tracer.enabled = False

    def wait_landed(self, ids: list[int], timeout: float) -> bool:
        end = time.perf_counter() + timeout
        while time.perf_counter() < end:
            with self.lock:
                if all(i in self.landed for i in ids):
                    return True
            time.sleep(0.01)
        return False


class CdcStream:
    name = "cdc_stream"
    FILE_EVERY_S = 0.1
    # half a file period after a trigger tick: no file is due near a tick
    TICK_OFFSET_S = FILE_EVERY_S / 2
    # the first trigger period of live files is checked but not timed: the
    # stream's first live batches pay JIT and code generation
    WARMIN_S = TRIGGER_S

    def __init__(self, size: int = 0, corrupt: bool = False):
        self.per_file = size or 5  # events per file: 50 events/s offered
        self.corrupt = corrupt

    def setup(self, spark: SparkSession, seed: int, inputs: str, seconds: int) -> None:
        # whole trigger periods: every bronze batch carries as many files
        span_s = max(1, seconds // TRIGGER_S) * TRIGGER_S + self.WARMIN_S
        n_files = round(span_s / self.FILE_EVERY_S) + 1  # +1: the backlog file
        self.feed = gen.cdc_feed(spark, n_files, self.per_file, seed)
        self.sports, self.hr = gen.dims(spark, n_files * self.per_file, seed)

    def _start(self, spark: SparkSession, work: str, sink: _GoldSink):
        """Topic → bronze (dedup) every ``TRIGGER_S``, and bronze → gold
        sink polled every ``GOLD_POLL_S``."""
        topic, bronze_p = os.path.join(work, "topic"), os.path.join(work, "bronze")
        os.makedirs(topic)
        parsed = parse_cdc_envelope(file_cdc_stream(spark, topic))
        bronze_q = bronze_ingest(
            parsed, bronze_p, os.path.join(work, "checkpoint", "bronze"), watermark=WATERMARK,
            available_now=False, processing_time=f"{TRIGGER_S} seconds",
        )
        bronze = spark.readStream.schema(parsed.schema).parquet(bronze_p)
        gold_q = incremental_foreach_batch(
            bronze, lambda df: df, sink, os.path.join(work, "checkpoint", "gold"),
            available_now=False, processing_time=f"{GOLD_POLL_S} seconds",
        )
        return bronze_q, gold_q

    @staticmethod
    def _drop(feed: gen.CdcFeed, k: int, topic: str, staging: str) -> None:
        """Deliver file ``k`` atomically (write aside, then rename in)."""
        name = f"f{k:05d}.json"
        tmp = os.path.join(staging, name)
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(feed.files[k]) + "\n")
        os.rename(tmp, os.path.join(topic, name))

    def measure(self, spark: SparkSession, tracer: Tracer, seconds: int, work: str, trace: bool) -> Outcome:
        feed = self.feed
        topic, gold_p = os.path.join(work, "topic"), os.path.join(work, "gold")
        sink = _GoldSink(tracer, trace, gold_p, self.sports, self.hr)
        queries = self._start(spark, work, sink)
        for q in queries:
            tracer.adopt(str(q.runId), "streaming.ingest")
        o = Outcome(n_input=len(feed.ids))
        try:
            t_first = time.perf_counter()
            self._drop(feed, 0, topic, work)  # the streams' backlog batch
            if not sink.wait_landed(feed.owner[0], 120.0):
                raise RuntimeError("cdc_stream: first batch never landed")
            o.layer["streaming.ingest.first_batch_ms"] = (time.perf_counter() - t_first) * 1000.0
            n_files = len(feed.files)
            # Spark fires processing-time triggers on multiples of the
            # interval since the epoch: started just after a tick, the feed
            # meets the same bronze trigger phase in every run
            now = time.time()
            tick = (math.floor(now / TRIGGER_S) + 1) * TRIGGER_S
            t0 = time.perf_counter() + (tick - now) + self.TICK_OFFSET_S
            due = [0.0] + [t0 + (k - 1) * self.FILE_EVERY_S for k in range(1, n_files)]
            lateness_max = backlog_max = 0.0
            for k in range(1, n_files):
                delay = due[k] - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self._drop(feed, k, topic, work)
                lateness_max = max(lateness_max, (time.perf_counter() - due[k]) * 1000.0)
                with sink.lock:
                    done = sum(1 for j in range(1, k + 1) if feed.owner[j][-1] in sink.landed)
                backlog_max = max(backlog_max, k - done)
            sink.wait_landed([i for ids in feed.owner for i in ids], 60.0)
            # a batch's progress is posted after its commit, just after the
            # sink returns: wait for the last one's before reading them
            with sink.lock:
                last = max(b["id"] for b in sink.batches)
            end = time.perf_counter() + 10.0
            while time.perf_counter() < end and all(
                p["batch_id"] != last for p in progress_metrics(queries[1])
            ):
                time.sleep(0.02)
            bronze_progress, gold_progress = (progress_metrics(q) for q in queries)
        finally:
            for q in queries:
                q.stop()
        with sink.lock:
            landed = dict(sink.landed)
            batch_log = list(sink.batches)
        timed_from = t0 + self.WARMIN_S
        for k in range(1, len(feed.files)):
            if due[k] < timed_from:
                continue
            for i in feed.owner[k]:
                if i in landed:
                    o.latency.append((landed[i] - due[k]) * 1000.0)
        live = [b for b in batch_log if b["id"] > 0]
        o.op_s = [b["sink_ms"] / 1000.0 for b in live]
        o.kind = ["batch"] * len(live)
        o.traced = [b["traced"] for b in live]
        o.n_traced = sum(o.traced)
        # busy time: the timed events' micro-batches of both streams, the
        # ones that carried rows after the warm-in one (one per trigger)
        busy_ms = sum(
            p["batch_duration_ms"]
            for prog in (bronze_progress, gold_progress)
            for p in [p for p in prog if p["batch_id"] > 0 and p["num_input_rows"]][1:]
        )
        bronze_p, ckpt = os.path.join(work, "bronze"), os.path.join(work, "checkpoint")
        o.storage_bytes, n_files_written = dir_stats(bronze_p, gold_p, ckpt)
        o.peak_rss_mb = peak_rss_mb()
        self.check(spark, bronze_p, gold_p, batch_log, o)

        dur = {p["batch_id"]: p["batch_duration_ms"] for p in gold_progress if p["num_input_rows"]}
        sink_by_id = {b["id"]: b for b in live}
        common = sorted(set(dur) & set(sink_by_id))
        o.layer.update(
            {
                "streaming.ingest.events_per_busy_s": len(o.latency) / busy_ms * 1000.0,
                "generator.lateness_ms_max": lateness_max,
                "generator.backlog_files_max": backlog_max,
                "streaming.ingest.bronze_batch_ms_p50": median(
                    [p["batch_duration_ms"] for p in bronze_progress
                     if p["batch_id"] > 0 and p["num_input_rows"]]
                ),
                "streaming.ingest.batch_ms_p50": median([dur[b] for b in common]),
                "streaming.ingest.batch_overhead_ms_p50": median(
                    [dur[b] - sink_by_id[b]["sink_ms"] for b in common]
                ),
                "streaming.ingest.state_rows_max": max(
                    (p["state_rows"] or 0 for p in bronze_progress), default=0
                ),
                "plans.gold_jobs.sink_ms_p50": median([b["gold_ms"] for b in live]),
                "sources.sinks.bytes_written": o.storage_bytes,
                "sources.sinks.files_written": n_files_written,
            }
        )
        o.notes.update(
            files=len(feed.files) - 1, resent=feed.n_resent, late=feed.n_late,
            batches={
                name: [(p["batch_id"], p["num_input_rows"], p["batch_duration_ms"]) for p in prog]
                for name, prog in (("bronze", bronze_progress), ("gold", gold_progress))
            },
        )
        return o

    def check(self, spark: SparkSession, bronze_p: str, gold_p: str, batch_log: list, o: Outcome) -> None:
        """Every planted activity id in bronze and in gold exactly once, no
        other id, and one notification per gold row of every live batch."""
        gold = spark.read.parquet(gold_p)
        if self.corrupt:
            gold = gold.where(F.col("activity_id") != min(self.feed.ids))
        counts = {r[0]: r[1] for r in gold.groupBy("activity_id").count().collect()}
        want = self.feed.ids
        bad = sum(1 for i in want if counts.get(i) != 1) + sum(1 for i in counts if i not in want)
        n_bronze = spark.read.parquet(bronze_p).count()
        delivered = sum(len(f) for f in self.feed.files)
        o.layer["streaming.ingest.dedup_hit_ratio"] = (
            (delivered - n_bronze) / self.feed.n_resent if self.feed.n_resent else 1.0
        )
        notify_ok = all(b["sent"] == b["rows"] for b in batch_log if b["id"] > 0)
        o.attempted = len(want)
        o.failed = bad + (not notify_ok) + (n_bronze != len(want))


# The read-only query mix: every operator layer the document pipeline does
# not reach on its own (windows, as-of join, sketches, similarity, the Delta
# log, the readers), plus the minhash and text operators on their own.
QUERY_MIX = (
    "latest_events_per_user",
    "events_session_1h",
    "purchase_asof_click",
    "events_user_cms_counts",
    "embedding_topk",
    "dedup_minhash_lsh",
    "text_quality",
    "token_counts",
    "delta_roundtrip_stats",
)
QUERY_TABLES = ("events", "documents", "embeddings")


class DocQuery:
    name = "doc_query"
    TRACED_ROUNDS = 3  # cold untraced, traced, untraced: a like-for-like pair
    MAX_BATCHES = 8

    def __init__(self, size: int = 0, corrupt: bool = False):
        self.docs_per_batch = size or 100
        self.corrupt = corrupt

    def setup(self, spark: SparkSession, seed: int, inputs: str, seconds: int) -> None:
        self.seed = seed
        docs = os.path.join(inputs, "docs")
        os.makedirs(docs)
        self.batches = gen.write_doc_batches(docs, self.MAX_BATCHES, self.docs_per_batch, seed)
        self.tables = os.path.join(inputs, "tables")
        gen.write_query_tables(self.tables, seed, n_events=5000, n_docs=500, n_vecs=500)

    def _op(self, o: Outcome, kind: str, traced: bool, fn):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        o.op_s.append(dt)
        o.kind.append(kind)
        o.traced.append(traced)
        return out

    def measure(self, spark: SparkSession, tracer: Tracer, seconds: int, work: str, trace: bool) -> Outcome:
        """Rounds of the query mix in a seeded order, then one document
        batch, until ``seconds`` have passed. The first round runs cold, as
        a user's first use of a session. Traced runs trace the second
        round and run ``TRACED_ROUNDS``, so that a traced and an untraced
        warm round can be compared and the store has grown by the last
        batch."""
        o = Outcome()
        store = os.path.join(work, "docs")
        rng = random.Random(self.seed)
        results, answers = [], []
        start = time.perf_counter()
        for i, b in enumerate(self.batches):
            tracer.enabled = trace and i % 2 == 1
            t_round = time.perf_counter()
            for name in rng.sample(QUERY_MIX, len(QUERY_MIX)):
                pdf = self._op(o, name, tracer.enabled, lambda: self._query(spark, tracer, name))
                answers.append((name, pdf))
            r = self._op(
                o, "ingest", tracer.enabled,
                lambda: self._ingest(spark, tracer, b.path, store, i),
            )
            o.n_input += b.n_docs
            results.append(r)
            o.latency.append((time.perf_counter() - t_round) * 1000.0)
            o.n_traced += tracer.enabled
            if time.perf_counter() - start >= seconds and (not trace or i + 1 >= self.TRACED_ROUNDS):
                break
        tracer.enabled = False
        stores = [os.path.join(store, d) for d in ("sigstore", "linestore", "gramstore", "softstore")]
        o.storage_bytes, _ = dir_stats(*stores)
        o.layer["sources.sinks.bytes_written"], o.layer["sources.sinks.files_written"] = dir_stats(
            os.path.join(store, "shards")
        )
        o.peak_rss_mb = peak_rss_mb()
        self.check_docs(spark, store, results, o)
        self.check_queries(answers, o)
        return o

    @staticmethod
    def _ingest(spark: SparkSession, tracer: Tracer, path: str, store: str, batch_id: int):
        with tracer.span("plans.llm_pipeline", "ingest_document_batch"):
            return ingest_document_batch(
                spark, spark.read.parquet(path), store, batch_id=batch_id, line_dedup=True
            )

    def _query(self, spark: SparkSession, tracer: Tracer, name: str):
        with tracer.span("plans.registry", name):
            return REGISTRY[name].fn(spark, self.tables).toPandas()

    def check_docs(self, spark: SparkSession, store: str, results: list, o: Outcome) -> None:
        """Per batch: every planted original reaches the shards, no planted
        exact or near copy does."""
        shards = spark.read.parquet(os.path.join(store, "shards"))
        if self.corrupt:  # self-test: one dropped shard document must be caught
            shards = shards.where(F.col("doc_id") != self.batches[0].originals[0])
        present = {r[0] for r in shards.select("doc_id").distinct().collect()}
        near = exact = near_gone = exact_gone = 0
        for b in self.batches[: len(results)]:
            ok = all(d in present for d in b.originals)
            ok = ok and not any(d in present for d in b.exact_copies + b.near_copies)
            o.attempted += 1
            o.failed += not ok
            near += len(b.near_copies)
            exact += len(b.exact_copies)
            near_gone += sum(d not in present for d in b.near_copies)
            exact_gone += sum(d not in present for d in b.exact_copies)
        ingest_s = [s for s, k in zip(o.op_s, o.kind) if k == "ingest"]
        o.layer.update(
            {
                "plans.llm_pipeline.batch_s_first": ingest_s[0],
                "plans.llm_pipeline.batch_s_last": ingest_s[-1],
                "plans.llm_pipeline.near_dup_recall": near_gone / near if near else 1.0,
                "plans.llm_pipeline.exact_dup_recall": exact_gone / exact if exact else 1.0,
                "plans.llm_pipeline.lines_removed": float(sum(r.n_lines_removed for r in results)),
            }
        )
        o.notes.update(batches=len(results), docs=o.n_input)

    def check_queries(self, answers: list, o: Outcome) -> None:
        """Each answer against its DuckDB oracle over the same tables: row
        count, columns and value hash after ``normalize``."""
        con = duckdb.connect()
        try:
            for t in QUERY_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')"
                )
            want = {n: normalize(con.execute(REGISTRY[n].oracle).fetchdf()) for n in QUERY_MIX}
        finally:
            con.close()
        wrong = []
        for name, pdf in answers:
            ok = normalize(pdf) == want[name]
            o.attempted += 1
            o.failed += not ok
            if not ok:
                wrong.append(name)
        for name in QUERY_MIX:
            o.layer[f"plans.registry.{name}_s"] = median(
                [s for s, k in zip(o.op_s, o.kind) if k == name]
            )
        o.notes.update(queries=len(answers), wrong_queries=wrong)


WORKLOADS = {w.name: w for w in (Medallion, CdcStream, DocQuery)}
