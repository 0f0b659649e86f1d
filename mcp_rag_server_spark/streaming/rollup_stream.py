"""Streaming continuous-aggregate maintenance: the incremental twin of
the batch hypertable rollup (operators/events.py::ev_hypertable_rollup).

The batch lattice re-aggregates minute → hour → day from scratch; a
production hypertable maintains the hour level INCREMENTALLY — each
micro-batch's partial aggregates merge into the stored rollup by
key-wise addition. That works, and is hash-provable, precisely because
the partials are composable (count and decimal sum — the same
composability contract the batch rollup's docstring states): merging
per-batch partials in ANY split of the change log yields the identical
table, so the streamed result equals the one-shot batch aggregate and
the driver hash can compare it to a plain SQL oracle.

Crash-safety is the shared apply_merge_batch discipline
(streaming/cdc_stream.py): staged write + marker + two-rename swap
that a restart rolls back, replay skipped via the _batch_id
high-water mark — an at-least-once stream becomes an exactly-once
table.

Scale shape: each batch shuffles once on (hour, event_type); the
snapshot is O(hours × types), not O(events); on Delta/Iceberg the
union+sum+swap becomes MERGE INTO with aggregate update expressions.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table
from mcp_rag_server_spark.functions.numeric import finite_col
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.streaming.cdc_stream import run_merge_stream


def _rollup_snapshot(batch: DataFrame) -> DataFrame:
    """One micro-batch → (hour, event_type) partials: count + exact
    decimal sum (composable; an avg here would break the merge)."""
    return batch.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(finite_col(F.col("value")), 4).cast("decimal(18,4)")).cast(
            "decimal(18,4)"
        ).alias("total_value"),
    )


def _rollup_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Key-wise addition — associative, commutative, split-invariant."""
    return (
        a.unionByName(b)
        .groupBy("h", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").cast("decimal(18,4)").alias("total_value"),
        )
    )


def _rollup_table(rollup: DataFrame) -> DataFrame:
    """The maintained rollup as the oracle reads it: DOUBLE totals."""
    return rollup.withColumn(
        "total_value", F.col("total_value").cast("double")
    ).orderBy("h", "event_type")


@register(
    "st_incremental_rollup",
    oracle="""
SELECT date_trunc('hour', ts) AS h,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4))) AS DOUBLE)
         AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
ORDER BY h, event_type
""",
    description="STREAMING continuous aggregate: foreachBatch merges"
    " each micro-batch's (hour, type) count+decimal-sum partials into"
    " the stored rollup by key-wise addition (exactly-once via the"
    " shared staged-swap + batch_id high-water discipline); the"
    " maintained table hash-matches the one-shot batch aggregate —"
    " the incremental twin of ev_hypertable_rollup's lattice base",
    tags=("streaming", "rollup", "events", "timeseries"),
)
def st_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events split into N files and streamed one per trigger, so the
    rollup genuinely merges N times; composable partials make the
    result split-invariant, which is what lets the driver hash a
    STREAMED table against a plain batch oracle."""
    rollup = run_merge_stream(
        load_table(spark, sf_dir, "events"),
        _rollup_snapshot,
        _rollup_merge,
    )
    return _rollup_table(rollup)


#: Streamed head length (hours before the corpus max timestamp).
CUTOVER_HEAD_HOURS = 72


@register(
    "st_lambda_cutover",
    oracle="""
SELECT date_trunc('hour', ts) AS h,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4))) AS DOUBLE)
         AS total_value
FROM events
-- event-time contract: an undated event is on NEITHER side of an
-- event-time cutover (both Spark halves' ts predicates drop it)
WHERE ts IS NOT NULL
GROUP BY date_trunc('hour', ts), event_type
ORDER BY h, event_type
""",
    description="lambda-architecture cutover: history BEFORE the"
    " hour-aligned cutover aggregated in batch, the 72h head AFTER it"
    " maintained by the exactly-once streaming rollup, key-wise merged"
    " into ONE table that hash-matches the full-range batch oracle —"
    " the backfill + streaming seam every migration crosses",
    tags=("streaming", "rollup", "events", "lambda"),
)
def st_lambda_cutover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seam nobody's architecture diagram shows: history backfills
    through the batch path while new data arrives through the stream,
    and the two must compose into one consistent table. Composable
    partials make the seam exact — the same (count, decimal-sum)
    algebra the incremental rollup merges across micro-batches also
    merges the batch half with the streamed half, and an hour-aligned
    cutover keeps the halves' keys disjoint (the key-wise merge would
    be correct even if they overlapped — that is the point of the
    algebra). The streamed head runs the full exactly-once machinery
    (split files, checkpointed foreachBatch, staged swaps); the final
    hash against the ONE-SHOT full-range oracle proves the seam loses
    and double-counts nothing. The cutover literal derives from a
    1-row max(ts) aggregate — control-plane metadata, same contract
    as the ingest store's bucket listing."""
    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    cutover = max_ts.replace(
        minute=0, second=0, microsecond=0
    ) - datetime.timedelta(hours=CUTOVER_HEAD_HOURS)
    batch_half = _rollup_snapshot(ev.filter(F.col("ts") < F.lit(cutover)))
    stream_half = run_merge_stream(
        ev.filter(F.col("ts") >= F.lit(cutover)),
        _rollup_snapshot,
        _rollup_merge,
    )
    return _rollup_table(_rollup_merge(batch_half, stream_half))


# ---- streaming KMV sketch ------------------------------------------

from pyspark.sql import Window

from mcp_rag_server_spark.operators.sketches import KMV_K

_KMV_HV = (
    "CAST(conv(substr(md5(concat('kmv:', CAST(user_id AS STRING))), 1, 8),"
    " 16, 10) AS BIGINT)"
)


def _kmv_snapshot(batch: DataFrame) -> DataFrame:
    """One micro-batch → per-type KMV sketch rows: the KMV_K smallest
    distinct hash values per event_type (same md5 fold as the batch
    agg_kmv_distinct_audit, so the streamed artifact is comparable)."""
    hd = batch.selectExpr("event_type", f"{_KMV_HV} AS hv").distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    return (
        hd.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= KMV_K)
        .select("event_type", "hv")
    )


def _kmv_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Sketch union: k smallest of the distinct union — associative,
    commutative, idempotent (tests/test_blocking_properties.py proves
    sketch(sketch(A) ∪ sketch(B)) == sketch(A ∪ B), which is exactly
    the split-invariance apply_merge_batch requires)."""
    w = Window.partitionBy("event_type").orderBy("hv")
    return (
        a.unionByName(b)
        .distinct()
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= KMV_K)
        .select("event_type", "hv")
    )


@register(
    "st_kmv_sketch",
    oracle=f"""
WITH hd AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS hv
  FROM events
),
rk AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
  FROM hd
),
sk AS (SELECT event_type, hv FROM rk WHERE r <= {KMV_K})
SELECT event_type,
       COUNT(*) AS n_sketch,
       MAX(hv) AS u_max,
       round(CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE ({KMV_K} - 1)
                       / (CAST(MAX(hv) AS DOUBLE) / 4294967296.0)
             END, 1) AS est_users
FROM sk
GROUP BY event_type
ORDER BY event_type
""",
    description="STREAMING KMV sketch maintenance: each micro-batch's"
    " per-type k-minimum-values rows merge into the stored sketch by"
    " union+truncate (exactly-once via the shared staged-swap"
    " discipline); mergeability makes the maintained sketch"
    " bit-identical to the one a single batch pass would build, so"
    " the streamed distinct-count estimates hash against a plain"
    " batch oracle",
    tags=("streaming", "sketch", "kmv", "events"),
)
def st_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-as-streaming-state pattern: a KMV sketch is a tiny
    mergeable artifact (≤ k rows per key), so maintaining one under a
    stream is the same foreachBatch merge the incremental rollup uses
    — union the stored sketch with the batch's sketch, keep the k
    smallest. Mergeability (proved as a property test) is what makes
    the result SPLIT-INVARIANT: however the event log is cut into
    micro-batches, the maintained sketch equals the batch-built one,
    which is why a streaming artifact can be hash-gated by a batch
    oracle at all — and why, at 100 TB, per-shard sketches combine
    without re-scanning history. Same split-files + checkpoint +
    staged-swap machinery as st_incremental_rollup."""
    sk = run_merge_stream(
        load_table(spark, sf_dir, "events"),
        _kmv_snapshot,
        _kmv_merge,
    )
    est = F.when(
        F.count("*") < KMV_K, F.count("*").cast("double")
    ).otherwise(
        (KMV_K - 1) / (F.max("hv").cast("double") / 4294967296.0)
    )
    return (
        sk.groupBy("event_type")
        .agg(
            F.count("*").alias("n_sketch"),
            F.max("hv").alias("u_max"),
            F.round(est, 1).alias("est_users"),
        )
        .orderBy("event_type")
    )


# ---- streaming heavy-hitters leaderboard ---------------------------

#: Leaderboard depth read from the maintained per-(type, user) counts.
HH_TOP_K = 3


def _hh_snapshot(batch: DataFrame) -> DataFrame:
    """One micro-batch → (event_type, user_id) count partials."""
    return batch.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n")
    )


def _hh_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Key-wise count addition — associative, commutative,
    split-invariant."""
    return (
        a.unionByName(b)
        .groupBy("event_type", "user_id")
        .agg(F.sum("n").alias("n"))
    )


@register(
    "st_heavy_hitters",
    oracle=f"""
WITH counts AS (
  SELECT event_type, user_id, COUNT(*) AS n
  FROM events GROUP BY event_type, user_id
),
ranked AS (
  SELECT event_type, user_id, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY n DESC, user_id ASC) AS rnk,
         CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_total
  FROM counts
)
SELECT event_type, user_id, CAST(n AS BIGINT) AS n, rnk,
       round(CAST(n AS DOUBLE) * 100.0 / n_total, 6) AS share_pct
FROM ranked
WHERE rnk <= {HH_TOP_K}
ORDER BY event_type, rnk
""",
    description="STREAMING heavy-hitters leaderboard: per-(type, user)"
    " counts maintained by the exactly-once key-wise merge across"
    " micro-batches, read as top-3 users per type with traffic share"
    " — hash-equal to the one-shot batch leaderboard because counts"
    " are composable",
    tags=("streaming", "events", "topk"),
)
def st_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live 'who is hammering the API' view: per-key counts are
    the canonical composable partial, so the streamed state table
    (merged one micro-batch at a time through the staged-swap +
    batch_id high-water machinery) is split-invariant and the
    leaderboard read off it hash-matches a from-scratch batch window.
    State is O(active type×user keys) — at 100 TB the exact table
    swaps for the Space-Saving/count-min tier whose error contract
    agg_cm_sketch_audit registers; the leaderboard read (rank window
    over per-type counts) is unchanged. Ties pin to user_id ASC so
    the top-k is hash-deterministic."""
    counts = run_merge_stream(
        load_table(spark, sf_dir, "events"),
        _hh_snapshot,
        _hh_merge,
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("user_id")
    )
    wt = Window.partitionBy("event_type")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .withColumn("n_total", F.sum("n").over(wt))
        .filter(F.col("rnk") <= HH_TOP_K)
        .select(
            "event_type",
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            "rnk",
            F.round(
                F.col("n").cast("double") * 100.0 / F.col("n_total"), 6
            ).alias("share_pct"),
        )
        .orderBy("event_type", "rnk")
    )
