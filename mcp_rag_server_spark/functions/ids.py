"""Deterministic dense id assignment without a global chunk-row sort.

The chunk stores (reference ``Doc.id``, src/types.ts:7; assigned from a
session counter at src/indexer.ts:263,473) need ids equal to
``row_number() OVER (ORDER BY file_key, chunk) - 1 + start_id``. The
naive expression is an unpartitioned window over EVERY chunk row — a
single-reducer global sort, the one genuine scale-killer on the ingest
path at 100 TB (VERDICT r2).

Because ``chunk`` is already a dense 0-based ordinal *within* each file
(``posexplode`` output), the global row number decomposes exactly:

    id(file, chunk) = start_id + (Σ n_chunks of files sorting before file) + chunk

so the only ordered computation is a running sum over ONE ROW PER FILE
(metadata scale: |files|, not |chunks| — a ~350-byte-chunk corpus has
3 orders of magnitude fewer files than chunks, and the window input is
(file_key, count) pairs, not chunk text). :func:`ids_from_counts` holds
that math once. Its caller supplies the per-file counts:
:func:`dense_chunk_ids` counts the chunk rows (a map-side-combined
aggregation), while the chunk-store ingest (sources/ingest.py) computes
them from the one-row-per-file texts, so that its counts and its chunk
rows read the same exchange and each file body is scanned once. The
offsets join back by file key (threshold-chosen broadcast at any
realistic |files|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ids_from_counts(
    rows: DataFrame,
    counts: DataFrame,
    file_col: str,
    count_col: str,
    chunk_col: str = "chunk",
    start_id: int = 0,
    id_col: str = "id",
) -> DataFrame:
    """Add ``id_col`` = ``start_id`` + (``count_col`` summed over the
    ``counts`` files that sort before the row's file) + ``chunk_col``
    to ``rows``.

    ``counts`` holds one row per file: (``file_col``, ``count_col``),
    the file's number of chunk rows. The join keeps every row (a left
    join: every file has an offset), so no inferred ``isnotnull`` filter
    lands on one side only and a caller that derives ``rows`` and
    ``counts`` from one exchange keeps the two reading it."""
    w = Window.orderBy(file_col).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        file_col,
        F.coalesce(F.sum(count_col).over(w), F.lit(0)).alias("_offset"),
    )
    return (
        rows.join(offsets, file_col, "left")
        .withColumn(
            id_col,
            (F.col("_offset") + F.col(chunk_col) + F.lit(start_id)).cast("long"),
        )
        .drop("_offset")
    )


def dense_chunk_ids(
    chunks: DataFrame,
    file_col: str,
    chunk_col: str = "chunk",
    start_id: int = 0,
    id_col: str = "id",
) -> DataFrame:
    """Add ``id_col`` = ``start_id + row_number() over (order by
    file_col, chunk_col) - 1`` — computed via per-file offsets, never a
    window over the full chunk set.

    Precondition: ``file_col`` is never null, and ``chunk_col`` is a
    dense 0-based ordinal within each ``file_col`` group (true for
    ``posexplode`` output). The result is bit-identical to the oracle's
    ``row_number() OVER (ORDER BY file_col, chunk_col)`` under that
    precondition.
    """
    counts = chunks.groupBy(file_col).agg(F.count("*").alias("_n_chunks"))
    return ids_from_counts(chunks, counts, file_col, "_n_chunks", chunk_col, start_id, id_col)
