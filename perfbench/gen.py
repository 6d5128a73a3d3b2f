"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``--seed``: activities and the HR dim come
from the package's md5-keyed generators (``synthetic_activities`` /
``synthetic_employees``, seed passed through as their salt), so DuckDB can
replay them; documents and the query tables come from
``random.Random(seed)`` / ``numpy.random.default_rng(seed)``. The program
under test only ever sees the files written here.

Planted defects, each with a known right answer:

- CDC re-sends: an envelope delivered a second time (at-least-once bus);
  bronze's watermark dedup must drop it.
- Out-of-order / late CDC events: an event whose ``start_ts`` is days older
  than its neighbours, still inside the 30-day watermark, so it must land.
- Documents: exact copies, near copies (last word replaced) and
  boilerplate lines shared across documents.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from employee_activity_etl_poc_spark.sources.generator import (
    GEN_SPORTS,
    synthetic_activities,
    synthetic_employees,
    to_cdc_json,
    uniform,
)

RESEND_RATE = 0.01  # share of activities whose envelope is delivered twice
LATE_RATE = 0.02  # share of streamed events that arrive days late
CDC_STEP_S = 60  # event-time spacing of the live stream
CDC_EPOCH_S = 1704067200  # 2024-01-01 00:00:00 UTC: event time of activity 0
# the two "active commute" transport modes that earn the sport bonus
ACTIVE_COMMUTE = ("Marche/running", "Vélo/Trottinette/Autres")


def n_employees_for(n_activities: int) -> int:
    """About one employee per ten activities (the reference's 1,623/161), so
    the "more than 5 activities" qualification stays unsaturated at any
    size."""
    return max(1, n_activities // 10)


def sports_dim(spark: SparkSession, n_employees: int, seed: int) -> DataFrame:
    """Per-employee declared sport (the DonneesSportive.xlsx dim)."""
    names = list(GEN_SPORTS)
    rid = F.col("id")
    idx = F.floor(uniform(f"{seed}_decl", rid) * len(names)).cast("int")
    return spark.range(0, n_employees, 1, numPartitions=1).select(
        (rid + 1).alias("employee_id"),
        F.element_at(F.array(*[F.lit(s) for s in names]), idx + 1).alias(
            "declared_sport"
        ),
    )


def sports_dim_oracle_sql(n_employees: int, seed: int) -> str:
    names = ", ".join(f"'{s}'" for s in GEN_SPORTS)
    return f"""
      SELECT range + 1 AS employee_id,
        ([{names}])[CAST(floor(CAST('0x' || substr(md5('{seed}_decl|' || range::VARCHAR), 1, 8)
                    AS BIGINT) / 4294967296.0 * {len(GEN_SPORTS)}) AS INT) + 1] AS declared_sport
      FROM range({n_employees})
    """


def dims(spark: SparkSession, n_activities: int, seed: int) -> tuple[DataFrame, DataFrame]:
    """(sports dim, HR dim), cached: every gold job joins both."""
    n_emp = n_employees_for(n_activities)
    sports = sports_dim(spark, n_emp, seed).cache()
    hr = synthetic_employees(spark, n_emp, seed=str(seed)).cache()
    sports.count()
    hr.count()
    return sports, hr


def write_medallion_topic(
    spark: SparkSession, n_activities: int, seed: int, topic_dir: str
) -> None:
    """Write ``n_activities`` CDC envelopes as JSON-lines files, then the
    planted re-sends as files of their own. Event time is random within
    every file."""
    acts = synthetic_activities(
        spark, n_activities, n_employees_for(n_activities), seed=str(seed)
    )
    resent = acts.where(uniform(f"{seed}_resend", F.col("activity_id")) < RESEND_RATE)
    to_cdc_json(acts.unionByName(resent)).write.mode("overwrite").text(topic_dir)


@dataclass
class CdcFeed:
    """A live CDC feed cut into files: ``files[k]`` is the list of envelope
    lines delivered as file ``k``; ``owner[k]`` the activity ids whose
    first delivery is file ``k``."""

    files: list[list[str]]
    owner: list[list[int]]
    n_resent: int
    n_late: int
    ids: set[int]


def cdc_feed(
    spark: SparkSession, n_files: int, per_file: int, seed: int
) -> CdcFeed:
    """Events in event-time order (one per ``CDC_STEP_S``), except
    ``LATE_RATE`` of them shifted back 1-10 days; ``RESEND_RATE`` of them
    delivered again 1-3 files later."""
    n = n_files * per_file
    acts = synthetic_activities(spark, n, n_employees_for(n), seed=str(seed))
    aid = F.col("activity_id")
    late = uniform(f"{seed}_late", aid) < LATE_RATE
    shift_s = F.when(
        late, (F.floor(uniform(f"{seed}_lateby", aid) * 10) + 1) * 86400
    ).otherwise(0)
    dur_s = F.unix_seconds("end_ts") - F.unix_seconds("start_ts")
    start_s = F.lit(CDC_EPOCH_S) + aid * CDC_STEP_S - shift_s
    timed = acts.withColumns(
        {
            "start_ts": F.timestamp_seconds(start_s),
            "end_ts": F.timestamp_seconds(start_s + dur_s),
        }
    )
    envelopes = []
    n_late = 0
    for (value,) in to_cdc_json(timed).collect():
        after = json.loads(value)["payload"]["after"]
        envelopes.append((after["activity_id"], value))
        n_late += after["start_us"] != (CDC_EPOCH_S + after["activity_id"] * CDC_STEP_S) * 1_000_000
    envelopes.sort()
    rng = random.Random(seed)
    files: list[list[str]] = [[] for _ in range(n_files)]
    owner: list[list[int]] = [[] for _ in range(n_files)]
    n_resent = 0
    for i, (aid_, value) in enumerate(envelopes):
        k = i // per_file
        files[k].append(value)
        owner[k].append(aid_)
        if rng.random() < RESEND_RATE and k + 1 < n_files:
            files[min(n_files - 1, k + rng.randint(1, 3))].append(value)
            n_resent += 1
    return CdcFeed(files, owner, n_resent, n_late, {a for a, _ in envelopes})


# --- documents ---------------------------------------------------------------

_EN_STOP = ("the", "a", "of", "and", "to", "in", "is")
_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa", "do", "fe",
    "gu", "hi", "ja", "ko", "li", "mo", "nu", "po", "ri", "su", "ta", "vu",
)


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _line(rng: random.Random, vocab: list[str], n_words: int) -> list[str]:
    return [
        rng.choice(_EN_STOP) if rng.random() < 0.35 else rng.choice(vocab)
        for _ in range(n_words)
    ]


@dataclass
class DocBatch:
    path: str
    n_docs: int
    originals: list[int]
    exact_copies: list[int]
    near_copies: list[int]


def write_doc_batches(
    out_dir: str,
    n_batches: int,
    docs_per_batch: int,
    seed: int,
    words_per_doc: int = 300,
) -> list[DocBatch]:
    """Document batches (``doc_id``, ``text``) as parquet files.

    An original is one line of ``words_per_doc`` words; a fifth of them get
    a second line drawn from a few shared boilerplate lines. Per batch about
    10 % are exact copies of an earlier original and 10 % near copies of an
    earlier single-line original with its last word replaced: one 3-word
    shingle in ~300 differs, Jaccard ~0.993, so minhash LSH (4 bands of 4)
    misses such a pair with probability ~5e-7. Copies always get a larger
    doc id than their source. Every original must reach the shards; no
    copy may."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 4000)
    boiler = [" ".join(_line(rng, vocab, 20)) for _ in range(4)]
    texts: list[str] = []  # every original so far
    plain: list[str] = []  # the single-line ones, sources of near copies
    batches = []
    next_id = 1
    for b in range(n_batches):
        rows: list[tuple[int, str]] = []
        originals, exact, near = [], [], []
        for _ in range(docs_per_batch):
            roll = rng.random()
            if texts and roll < 0.10:
                text = rng.choice(texts)
                exact.append(next_id)
            elif plain and roll < 0.20:
                words = rng.choice(plain).split(" ")
                text = " ".join(words[:-1] + [rng.choice(vocab) + "x"])
                near.append(next_id)
            else:
                text = " ".join(_line(rng, vocab, words_per_doc))
                if rng.random() < 0.20:
                    text = text + "\n" + rng.choice(boiler)
                else:
                    plain.append(text)
                texts.append(text)
                originals.append(next_id)
            rows.append((next_id, text))
            next_id += 1
        path = os.path.join(out_dir, f"docs-{b:03d}.parquet")
        ids, docs = zip(*rows)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(docs, pa.string())}),
            path,
        )
        batches.append(DocBatch(path, len(rows), originals, exact, near))
    return batches


# --- query tables ------------------------------------------------------------

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DOC_LANGS = ("en", "fr", "es", "zh", "de")
_DOC_WORDS = (
    "the", "a", "data", "table", "row", "column", "key", "value", "join",
    "sort", "hash", "merge", "scan", "filter", "group", "agg", "window",
    "batch", "stream", "spark", "query", "order", "line", "part", "customer",
    "vector", "fast", "slow", "small", "big",
)


def write_query_tables(
    out_dir: str, seed: int, n_events: int, n_docs: int, n_vecs: int, dim: int = 64
) -> None:
    """The three tables the query mix reads, in the testdata layout
    (``<table>.parquet`` in one directory): ``events`` (one month of
    user events), ``documents`` (short word-salad texts) and
    ``embeddings`` (unit vectors around ten label centroids)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    gaps = rng.exponential(30 * 86400e6 / n_events, n_events).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n_events // 60), n_events), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
            "value": pa.array(np.round(rng.lognormal(3.5, 0.9, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    lengths = rng.integers(8, 90, n_docs)
    words = rng.choice(_DOC_WORDS, int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(DOC_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))

    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
