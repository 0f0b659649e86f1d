"""Streaming SCD-1 maintenance: a foreachBatch keyed MERGE that keeps
the latest row per user across micro-batches.

This is the streaming twin of operators/cdc.py::ev_latest_state, and
the general form of the reference's restart-time index maintenance
(reference src/indexer.ts:446-462 — delete+reinsert keyed by path):
every micro-batch upserts its keys' newest state into a snapshot table.
The merge operands are deliberately associative and commutative —
latest = max by (ts, event_id), count = sum — so the final snapshot is
identical no matter how the change log is split into batches, which is
what makes the streaming result hash-comparable to the batch oracle.

Scale shape: each batch shuffles once on the merge key; the snapshot
table is O(distinct keys), not O(events); on Delta/Iceberg the
union+argmax+swap becomes a real MERGE INTO. The plain-parquet swap
here is sources/ingest.py's :func:`replace_dir`, the one the chunk
store's refresh uses.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.sources.ingest import recover_dir, replace_dir
from mcp_rag_server_spark.streaming.events_stream import (
    run_foreach_batch,
    split_file_stream,
)

_STATE_COLS = (
    "user_id",
    "last_ts",
    "last_event_id",
    "last_event_type",
    "last_value",
    "n_events",
)


def _batch_snapshot(batch: DataFrame) -> DataFrame:
    """Collapse one micro-batch to per-user (latest row, count)."""
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    wc = Window.partitionBy("user_id")
    return (
        batch.select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.row_number().over(w).alias("_rn"),
            F.count("*").over(wc).alias("n_events"),
        )
        .filter(F.col("_rn") == 1)
        .select(*_STATE_COLS)
    )


def _merge_snapshots(a: DataFrame, b: DataFrame) -> DataFrame:
    """Associative/commutative merge of two per-user snapshots: latest
    by (ts, event_id), counts add."""
    return (
        a.unionByName(b)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    "last_ts", "last_event_id", "last_event_type", "last_value"
                )
            ).alias("s"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("s.last_ts").alias("last_ts"),
            F.col("s.last_event_id").alias("last_event_id"),
            F.col("s.last_event_type").alias("last_event_type"),
            F.col("s.last_value").alias("last_value"),
            "n_events",
        )
    )


def applied_batch_id(snapshot_dir: str) -> int:
    """Highest batch_id merged into the snapshot (-1 if none). Stored as
    a ``_batch_id`` sidecar INSIDE the snapshot directory —
    underscore-prefixed, so parquet readers ignore it — written into
    the staged copy before :func:`apply_merge_batch` swaps it in, so
    the mark and the rows it describes are replaced together."""
    marker = os.path.join(snapshot_dir, "_batch_id")
    if not os.path.exists(marker):
        return -1
    with open(marker, encoding="ascii") as fh:
        return int(fh.read().strip())


def apply_merge_batch(tgt, batch, batch_id, snapshot_fn, merge_fn) -> None:
    """Generic idempotent foreachBatch MERGE: collapse the micro-batch
    with ``snapshot_fn``, combine with the existing snapshot via the
    associative+commutative ``merge_fn``, and replace the snapshot with
    sources/ingest.py's :func:`replace_dir` (two renames; a crash
    between them is rolled back to the previous snapshot by
    :func:`recover_dir` before the next read). A batch_id at or below
    the snapshot's recorded high-water mark is a checkpoint replay
    (crash after the swap but before the checkpoint commit) and is
    skipped — re-merging would double-count. Shared by every merged
    stream (:func:`run_merge_stream`)."""
    s = batch.sparkSession
    recover_dir(tgt)
    if batch_id <= applied_batch_id(tgt):
        return
    snap = snapshot_fn(batch)
    if os.path.exists(tgt):
        snap = merge_fn(s.read.parquet(tgt), snap)

    def write(staged: str) -> None:
        snap.write.mode("overwrite").parquet(staged)
        with open(os.path.join(staged, "_batch_id"), "w", encoding="ascii") as fh:
            fh.write(str(batch_id))

    replace_dir(tgt, write)
    s.catalog.refreshByPath(tgt)


def apply_batch(tgt: str, batch: DataFrame, batch_id: int) -> None:
    """SCD-1 instantiation of :func:`apply_merge_batch`."""
    apply_merge_batch(tgt, batch, batch_id, _batch_snapshot, _merge_snapshots)


def run_merge_stream(events: DataFrame, snapshot_fn, merge_fn) -> DataFrame:
    """Split ``events`` into files, stream them one file per trigger
    through :func:`apply_merge_batch` and return the merged table as
    ``localCheckpoint`` blocks of a per-call dir deleted on return."""
    with tempfile.TemporaryDirectory(prefix="st_merge_") as base:
        tgt = os.path.join(base, "out")
        run_foreach_batch(
            split_file_stream(events, os.path.join(base, "src")),
            lambda batch, batch_id: apply_merge_batch(
                tgt, batch, batch_id, snapshot_fn, merge_fn
            ),
            os.path.join(base, "_checkpoint"),
        )
        return events.sparkSession.read.parquet(tgt).localCheckpoint()


@register(
    "st_latest_state",
    oracle="""
WITH ranked AS (
  SELECT user_id, ts, event_type, value, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id,
       ts AS last_ts,
       event_type AS last_event_type,
       value AS last_value,
       n_events
FROM ranked WHERE rn = 1
ORDER BY user_id
""",
    description="STREAMING SCD-1: foreachBatch keyed MERGE maintains the"
    " latest-row-per-user snapshot across genuine multi-file"
    " micro-batches; final snapshot hash-matches the batch window oracle"
    " (streaming twin of ev_latest_state)",
    tags=("streaming", "cdc", "events"),
)
def st_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events are split into N files and streamed one file per trigger,
    so the snapshot is genuinely merged N times; because the merge is
    associative+commutative the result equals the batch SCD-1 no matter
    the split. The driver-hashed row set therefore proves both the
    streaming plumbing (checkpointed foreachBatch upsert, idempotent
    under batch replay via the _batch_id sidecar) and the merge
    algebra."""
    ev = load_table(spark, sf_dir, "events")
    snap = run_merge_stream(ev, _batch_snapshot, _merge_snapshots)
    return snap.select(
        "user_id", "last_ts", "last_event_type", "last_value", "n_events"
    ).orderBy("user_id")
