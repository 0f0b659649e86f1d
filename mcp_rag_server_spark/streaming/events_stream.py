"""Streaming event analytics (SURVEY.md §2.9).

The reference has no streaming at all — its closest concept is the
restart-time incremental rescan (src/indexer.ts:413-511), and its README
defers "incremental watch mode (fs events)" to future work
(src/index.ts:426-427). These operators are the Spark-native answer:
the same parquet events land as a *file stream*, and the batch queries
in operators/events.py become watermarked streaming aggregations with
identical results — each registry entry here runs the real streaming
engine (availableNow trigger → foreachBatch into ``localCheckpoint``
blocks, :func:`run_to_frame`) and is hash-checked against
the same DuckDB oracle family as the batch twins.

Scale shape: streaming aggregations keep per-key state in the state
store; watermarks bound that state (late data beyond the delay is
dropped, state for closed windows is evicted). The demo uses
``complete`` output to flush every window at end-of-stream; a production
24/7 pipeline would use ``append`` + a real watermark so state stays
O(open windows), and foreachBatch MERGE (below) for exactly-once table
maintenance.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import normalize_event_ts
from mcp_rag_server_spark.functions.numeric import dsum, duckdb_dsum
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.sources.ingest import recover_dir, replace_dir

#: Files a merged or stateful stream's source is split into (one per
#: trigger, see :func:`split_file_stream`).
N_SPLIT_FILES = 4
SESSION_GAP = "30 minutes"
SESSION_GAP_US = 30 * 60 * 1_000_000


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (the natural analog of
    the reference's directory rescan — new files are new micro-batches).
    Same ts-encoding handling as catalog.normalize_event_ts (both fixture
    vintages); the nanosAsLong conf the legacy NANOS encoding needs comes
    from the session (session.py REQUIRED_RUNTIME_CONFS — set by
    get_spark, asserted on foreign sessions by the __spark_entry__
    wrappers)."""
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(stream)


def split_file_stream(events: DataFrame, src_dir: str) -> DataFrame:
    """Write ``events`` as :data:`N_SPLIT_FILES` parquet files under
    ``src_dir`` and stream them back one file per trigger, so a
    stateful or merging sink genuinely runs that many micro-batches."""
    events.repartition(N_SPLIT_FILES).write.mode("overwrite").parquet(src_dir)
    return (
        events.sparkSession.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def run_foreach_batch(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Run ``stream`` to completion (availableNow: the whole backlog as
    micro-batches, then stop), handing each micro-batch and its batch id
    to ``sink``. The checkpoint makes a rerun resume after the last
    committed batch; a batch whose sink call died is delivered again."""
    (
        stream.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_to_frame(result: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Run ``result`` to completion and return the last micro-batch
    (``complete`` mode) or the union of the batches (``append`` /
    ``update``) as ``localCheckpoint`` blocks; no batch, no rows. No
    view or checkpoint dir outlives the call. A micro-batch belongs to
    the stream's cloned session (AQE off), so the rows are re-bound to
    the caller's."""
    spark = result.sparkSession
    batches: list[DataFrame] = []
    with tempfile.TemporaryDirectory(prefix="st_ckpt_") as ckpt:
        run_foreach_batch(
            result,
            lambda batch, _: batches.append(batch.localCheckpoint()),
            ckpt,
            output_mode,
        )
    kept = batches[-1:] if output_mode == "complete" else batches
    if not kept:
        return spark.createDataFrame([], result.schema)
    plan = reduce(DataFrame.unionByName, kept)._jdf.logicalPlan()
    jvm_dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(jvm_dataset.ofRows(spark._jsparkSession, plan), spark)


def hourly_windows(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h event-time windows with a watermark — streaming twin
    of ev_hourly_windows."""
    # event-time contract: a NULL-ts row has no window — Spark's
    # watermark operator drops it silently; the explicit gate makes the
    # drop engine-identical (the oracles carry ts IS NOT NULL)
    return (
        stream.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", 4).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_windows(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1h windows sliding every 30min — each event lands in 2 windows."""
    return (
        stream.filter(F.col("ts").isNotNull())  # event-time contract
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", 4).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "st_sliding_windows",
    oracle=f"""
SELECT ws AS window_start, event_type,
       COUNT(*) AS n_events,
       {duckdb_dsum("value", 4)} AS total_value
FROM (
  SELECT unnest([
           make_timestamp(epoch_us(ts) - epoch_us(ts) % (1800 * 1000000)),
           make_timestamp(epoch_us(ts) - epoch_us(ts) % (1800 * 1000000)
                          - 1800 * 1000000)
         ]) AS ws,
         event_type, value
  FROM events
  -- event-time contract: NULL-ts rows have no window on either engine
  WHERE ts IS NOT NULL
)
GROUP BY ws, event_type
ORDER BY window_start, event_type
""",
    description="STREAMING sliding windows (1h length, 30min slide): each"
    " event in 2 windows, vs an unnest-both-windows batch oracle",
    tags=("streaming", "events", "window"),
)
def st_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_frame(sliding_windows(read_event_stream(spark, sf_dir)))
    return out.orderBy("window_start", "event_type")


def session_windows(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Native session windows (30-min inactivity gap) — the streaming
    engine's stateful sessionizer; batch twin is the gaps-and-islands
    ev_sessionize."""
    return (
        stream.filter(F.col("ts").isNotNull())  # event-time contract
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "st_hourly_windows",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {duckdb_dsum("value", 4)} AS total_value
FROM events
WHERE ts IS NOT NULL
GROUP BY date_trunc('hour', ts), event_type
ORDER BY window_start, event_type
""",
    description="STREAMING tumbling 1h windows (watermark + window(), "
    "availableNow → foreachBatch) hash-matched to the batch oracle",
    tags=("streaming", "events", "window"),
)
def st_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_frame(hourly_windows(read_event_stream(spark, sf_dir)))
    return out.orderBy("window_start", "event_type")


@register(
    "st_sessionize",
    oracle=f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
    description="STREAMING session windows (session_window(), 30-min gap)"
    " hash-matched to a gaps-and-islands batch oracle",
    tags=("streaming", "events", "session"),
)
def st_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's session_window end = last event + gap, which is exactly
    MAX(ts) + INTERVAL in the oracle."""
    out = run_to_frame(session_windows(read_event_stream(spark, sf_dir)))
    return out.orderBy("user_id", "session_start")


def merge_events_stream(
    spark: SparkSession, sf_dir: str, target_dir: str
) -> None:
    """foreachBatch MERGE: each micro-batch upserts into a parquet table
    keyed by event_id (idempotent — replays dedup away). This is the
    streaming generalization of the reference's incremental index
    maintenance (indexer.ts:446-462): new keys insert, existing keys
    keep the stored row. Plain-parquet MERGE = union + dedup +
    sources/ingest.py's :func:`replace_dir` swap, so a crash at any
    point of a batch leaves the stored rows whole and the replayed
    batch merges again; on Delta/Iceberg this becomes a real MERGE
    INTO."""
    tgt = os.path.join(target_dir, "events_merged")

    def upsert(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        recover_dir(tgt)
        merged = batch
        if os.path.exists(tgt):
            existing = s.read.parquet(tgt)
            first_by_ts = Window.partitionBy("event_id").orderBy(F.col("ts").asc())
            merged = (
                existing.unionByName(batch.select(*existing.columns))
                .withColumn("_rn", F.row_number().over(first_by_ts))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        replace_dir(tgt, merged.write.mode("overwrite").parquet)
        s.catalog.refreshByPath(tgt)

    run_foreach_batch(
        read_event_stream(spark, sf_dir),
        upsert,
        os.path.join(target_dir, "_checkpoint"),
    )


@register(
    "st_stream_stream_join",
    oracle="""
SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
FROM events v JOIN events c
  ON c.user_id = v.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND epoch_us(c.ts) >  epoch_us(v.ts)
 AND epoch_us(c.ts) <= epoch_us(v.ts) + 10 * 60 * 1000000
ORDER BY view_id, click_id
""",
    description="STREAM-STREAM inner join (view→click attribution within"
    " 10 min, watermarks on both sides) vs a batch theta-join oracle",
    tags=("streaming", "events", "join"),
)
def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarks on both inputs + the time-bound join condition let the
    engine expire join state: a view older than watermark-10min can
    never match a future click, so state is O(events in the window), not
    O(stream). The append-mode result equals the batch theta join."""
    views = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND click_ts > view_ts "
            "AND click_ts <= view_ts + interval 10 minutes"
        ),
    ).select(
        "view_id",
        "click_id",
        F.col("v_user").alias("user_id"),
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("lag_us"),
    )
    out = run_to_frame(joined, output_mode="append")
    return out.orderBy("view_id", "click_id")


@register(
    "st_dedup_within_watermark",
    oracle="""
SELECT DISTINCT user_id, event_type,
       date_trunc('second', ts) AS ts_sec
FROM events
ORDER BY user_id, event_type, ts_sec
""",
    description="STREAMING dedup via dropDuplicatesWithinWatermark on"
    " (user, type, second) — state-bounded exact dedup, the streaming"
    " twin of ev_dedup_by_second",
    tags=("streaming", "events", "dedup"),
)
def st_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark keeps dedup state only for keys
    newer than the watermark — the streaming form of exact dedup whose
    state is O(keys per watermark window), not O(stream history). The
    projection keeps ONLY the dedup key columns, so "which duplicate
    survives" (nondeterministic under micro-batch ordering) is
    unobservable and the append-mode output equals batch DISTINCT.
    At 100 TB-ingest scale this is the first stage of a streaming
    training-data pipeline: cheap exact dedup before expensive
    embedding/near-dup work downstream."""
    deduped = (
        read_event_stream(spark, sf_dir)
        .select(
            "user_id",
            "event_type",
            F.date_trunc("second", F.col("ts")).alias("ts_sec"),
        )
        .withWatermark("ts_sec", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "ts_sec"])
    )
    out = run_to_frame(deduped, output_mode="append")
    return out.orderBy("user_id", "event_type", "ts_sec")


@register(
    "st_enrich_static",
    oracle=f"""
SELECT date_trunc('hour', e.ts) AS window_start,
       COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
       COUNT(*) AS n_events,
       {duckdb_dsum("e.value", 4)} AS total_value
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
-- event-time contract: NULL-ts rows have no window on either engine
WHERE e.ts IS NOT NULL
GROUP BY date_trunc('hour', e.ts), COALESCE(c.c_mktsegment, 'UNKNOWN')
ORDER BY window_start, segment
""",
    description="STREAMING stream-static enrichment: the event stream"
    " LEFT-joined per micro-batch to the static customer dimension"
    " (unmatched users kept as UNKNOWN), then watermarked 1h windows per"
    " market segment — the enrich-then-aggregate topology most"
    " production streams run",
    tags=("streaming", "events", "join", "window"),
)
def st_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static joins need NO watermark and keep NO join state:
    the static side is re-resolved per micro-batch (a dimension update
    is picked up by the next batch — exactly the slowly-changing-dim
    freshness real enrichment wants) and at fixture/dim scale the
    planner broadcasts it inside each batch, so the stream never
    shuffles before the windowed aggregation. The LEFT join keeps
    events whose user has no customer row (segment='UNKNOWN') — an
    inner join would silently drop them from the totals, the classic
    enrichment bug. The windowed agg downstream is the standard
    watermarked state-store aggregation (state = open windows ×
    segments)."""
    from mcp_rag_server_spark.catalog import load_table

    stream = read_event_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream.join(
        dim, stream["user_id"] == dim["c_custkey"], "left"
    ).select(
        "ts",
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        "value",
    )
    agg = (
        enriched.filter(F.col("ts").isNotNull())  # event-time contract
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "segment")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "segment",
            "n_events",
            "total_value",
        )
    )
    return run_to_frame(agg).orderBy("window_start", "segment")
