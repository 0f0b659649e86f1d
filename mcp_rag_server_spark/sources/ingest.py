"""Chunk-store ingest, persistence, and incremental refresh.

This is the reference's startup build (src/indexer.ts:226-317) and
incremental maintenance (src/indexer.ts:413-511) as two Spark batch
jobs over a Parquet chunk store.

Chunk table schema (reference ``Doc``, src/types.ts:5-20):

    id: long                  -- dense ordinal, deterministic (see below)
    rel_path: string          -- path relative to corpus root (types.ts:9)
    chunk: int                -- 0-based chunk index in file (types.ts:11)
    text: string              -- chunk content (types.ts:13)
    file_size: long           -- whole-file size, denormalized (types.ts:15)
    line_count: int           -- whole-file line count, denormalized (types.ts:17)
    embedding: array<float>   -- the chunk's vector, ``Doc.emb`` (types.ts:19)

Each chunk is embedded once, when its row is made (the reference embeds
at ingest too, src/indexer.ts:293-303): ``_assign_ids`` is where a cold
build and a refresh both produce new rows, and a refresh's survivors
keep their stored vectors, so only the delta's chunks reach the
embedder (mcp_rag_server_spark/functions/embedding.py). A query over
the store reads the vectors and runs no Python.

Id discipline: the reference assigns ids from a session counter in
traversal order (indexer.ts:263, 473) — nondeterministic across file
systems. We define ids as ``row_number() over (order by rel_path, chunk)
- 1`` on cold build; incremental inserts continue from ``max(id)+1``
(reference ``getMaxId()+1``, indexer.ts:393-400) ordered the same way.
NOT ``monotonically_increasing_id`` — that varies with partitioning and
would break golden tests (SURVEY.md §1.5).

Scale shape: the decoded (rel_path, file_size, text) rows, one per
file, are hash-exchanged on ``rel_path`` once (``_assign_ids``). The
per-file chunk counts, the ``posexplode`` of a pure SQL chunk
expression, the id join and the embedding all read that one exchange,
so each body is scanned once (src/indexer.ts:165-188 reads each file
once). Id assignment decomposes the global ``row_number`` into per-file
offsets (functions/ids.py): the only ordered computation is a running
sum over one row per FILE, so no task ever sorts the full chunk set;
the ids stay bit-identical to ``row_number() over (order by rel_path,
chunk)`` for golden parity. AQE coalesces the exchange's partitions to
its target size, and those partitions are the embedder's tasks and,
on a cold build, the store's files: the file count follows the
corpus's bytes, not the listing's split count.

Each body is decoded by its class's decoder: ``_texts`` reads text
files and PDFs through separate listings (or path lists), and builds
the PDF branch only when there is a PDF to read, so a tree or delta
without PDFs plans no Python extractor.

The refresh costs what the delta costs: one metadata-only listing and
the store's ``(rel_path, file_size, id)`` rows are grouped on
``rel_path`` in one exchange, and only the delta keys (path + deleted
flag) and one observed scalar, the surviving max id, come to the
driver. The store is read with its declared schema
(:data:`STORE_SCHEMA`), so opening it runs no footer job. An empty
delta writes nothing. Otherwise only the changed and new files' bodies
are read, and survivors + new chunks are rewritten into no more parquet
files than the store they replace.

A file counts as changed when its size changes (indexer.ts:453-454), so
a same-size edit is missed, as the reference documents
(indexer.ts:410-411).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import input_files
from mcp_rag_server_spark.functions.embedding import with_embedding
from mcp_rag_server_spark.functions.ids import ids_from_counts
from mcp_rag_server_spark.functions.text import chunk_array, chunk_count
from mcp_rag_server_spark.sources.files import (
    DEFAULT_ALLOWED_EXT,
    DEFAULT_EXCLUDED_FOLDERS,
    decode_utf8,
    discover_files,
    extract_pdf,
    read_files,
    split_pdf,
)

#: 2 = chunks carry ``embedding``; 3 = the flat, size-keyed layout is
#: the only one (a version-2 store may carry the partition dirs or the
#: per-body hash column of a removed layout). An older store fails the
#: meta check and is rebuilt cold (persistence.ts:91-100).
STORE_VERSION = 3
#: The chunk table's layout at :data:`STORE_VERSION` (module docstring).
#: The meta check guarantees it, so the store is read with it and no
#: read infers it from a parquet footer.
STORE_SCHEMA = (
    "id bigint, rel_path string, chunk int, text string,"
    " file_size bigint, line_count int, embedding array<float>"
)
META_FILE = "_meta.json"
#: Parquet codec of every store write: with it the store, vectors
#: included, is smaller than the snappy store without them.
STORE_CODEC = "zstd"


@dataclass(frozen=True)
class IngestParams:
    """The knobs that participate in store compatibility (reference
    persistence.ts:91-100: chunkSize, chunkOverlap, modelName)."""

    chunk_size: int = 800
    chunk_overlap: int = 120
    model_name: str = "fixture"
    allowed_ext: tuple[str, ...] = DEFAULT_ALLOWED_EXT
    excluded_folders: tuple[str, ...] = DEFAULT_EXCLUDED_FOLDERS


def chunk_files(texts: DataFrame, params: IngestParams) -> DataFrame:
    """(rel_path, file_size, text) → chunk rows without ids.

    Parity: splitChunks windows (indexer.ts:201-215) via the SQL chunk
    expression; per-file line_count = split on /\\r?\\n/ length
    (indexer.ts:272)."""
    return (
        texts.withColumn(
            "line_count", F.size(F.split("text", r"\r?\n")).cast("int")
        )
        .select(
            "rel_path",
            "file_size",
            "line_count",
            F.posexplode(
                chunk_array("text", params.chunk_size, params.chunk_overlap)
            ).alias("chunk", "chunk_text"),
        )
        .select(
            "rel_path",
            F.col("chunk").cast("int").alias("chunk"),
            F.col("chunk_text").alias("text"),
            "file_size",
            "line_count",
        )
    )


def _assign_ids(texts: DataFrame, params: IngestParams, start_id: int = 0) -> DataFrame:
    """Chunk rows of ``texts`` (one row per file) with id = row_number
    over (rel_path, chunk) - 1 + start_id, computed per-file
    (functions/ids.py) so no task ever sorts the full chunk set — the
    ordered step is one row per file. The new rows are embedded here,
    once, after the id join.

    ``texts`` is hash-exchanged on ``rel_path`` once, and the per-file
    chunk counts, the chunks and the embedding all read that exchange,
    so each body is scanned once. The counts group by ``(rel_path,
    file_size)``, which every file has one row of: both readers then
    use every column of the exchange, so column pruning leaves their
    two exchanges identical and AQE runs one of them."""
    texts = texts.repartition("rel_path")
    counts = texts.groupBy("rel_path", "file_size").agg(
        F.sum(chunk_count("text", params.chunk_size, params.chunk_overlap)).alias("n_chunks")
    )
    return with_embedding(
        ids_from_counts(chunk_files(texts, params), counts, "rel_path", "n_chunks", start_id=start_id)
    ).select("id", "rel_path", "chunk", "text", "file_size", "line_count", "embedding")


def _meta_path(store_path: str) -> str:
    return os.path.join(store_path, META_FILE)


def recover_dir(path: str) -> None:
    """Roll back a :func:`replace_dir` cut between its two renames: the
    live ``path`` is missing and its previous copy waits at ``.old``.
    Every reader of a swapped directory calls this first. The chunk
    store's meta sidecar is written only after a swap completes, so the
    rolled-back store is consistent: a refresh re-finds its delta, and
    a compaction is a pure layout rewrite."""
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)


def _store_writer(df: DataFrame):
    """The writer of every store write: overwrite, :data:`STORE_CODEC`."""
    return df.write.mode("overwrite").option("compression", STORE_CODEC)


def replace_dir(path: str, write: Callable[[str], None]) -> None:
    """Replace the directory ``path`` (or create it) with the one
    ``write(staged)`` writes; the package's one way to replace a live
    directory.

    Spark cannot read and overwrite one parquet dir in one job, so the
    new copy is staged at ``path.next`` — ``write`` may read ``path``
    and may add sidecar files after its data — and swapped in: path →
    ``.old``, staged → path, then ``.old`` is deleted. Never
    ``collect()`` the table through the driver (it may be 100 TB). A
    crash at any point leaves a complete copy: before the first rename
    ``path`` is untouched (the next ``write`` overwrites the leftover
    staged dir), between the renames :func:`recover_dir` rolls back to
    ``.old``, and after the second the new copy is in place. A
    concurrent reader during the window would need an external lock
    (out of scope for a single writer)."""
    staged, old = path + ".next", path + ".old"
    write(staged)
    if not os.path.exists(path):
        os.rename(staged, path)
        return
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)


def _write_meta(store_path: str, params: IngestParams) -> None:
    """Write the meta sidecar by replacing it whole: a crash mid-write
    leaves the previous sidecar, never an empty one that every later
    ``load_store`` would fail to parse."""
    path = _meta_path(store_path)
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        json.dump(_meta_dict(params), f)
    os.replace(path + ".tmp", path)


def save_store(chunks: DataFrame, store_path: str, params: IngestParams) -> None:
    """Reference ``Persistence.save`` (persistence.ts:151-185): the docs
    array + meta envelope become a Parquet table + JSON sidecar, written
    with :data:`STORE_CODEC`. ``chunks`` carries each chunk's vector
    (``embedding``, see the module docstring); the reference's base64-f32
    encoding of it (persistence.ts:175-177) has no analog — Parquet
    stores array<float> natively."""
    _store_writer(chunks).parquet(os.path.join(store_path, "chunks"))
    _write_meta(store_path, params)


def _meta_dict(params: IngestParams) -> dict:
    return {
        "version": STORE_VERSION,
        "chunk_size": params.chunk_size,
        "chunk_overlap": params.chunk_overlap,
        "model_name": params.model_name,
        "saved_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def _read_store(spark: SparkSession, data_dir: str) -> DataFrame:
    """The chunk table at ``data_dir``, read with :data:`STORE_SCHEMA`."""
    return spark.read.schema(STORE_SCHEMA).parquet(data_dir)


def load_store(
    spark: SparkSession, store_path: str, params: IngestParams
) -> DataFrame | None:
    """Reference ``Persistence.load`` (persistence.ts:78-148): missing or
    meta-incompatible store → None → caller does a cold rebuild
    (persistence.ts:91-100)."""
    meta_path = _meta_path(store_path)
    if not os.path.exists(meta_path):
        return None
    with open(meta_path, encoding="utf-8") as f:
        meta = json.load(f)
    compatible = (
        meta.get("version") == STORE_VERSION
        and meta.get("chunk_size") == params.chunk_size
        and meta.get("chunk_overlap") == params.chunk_overlap
        and meta.get("model_name") == params.model_name
    )
    if not compatible:
        return None
    data_dir = os.path.join(store_path, "chunks")
    recover_dir(data_dir)
    return _read_store(spark, data_dir)


def _texts(
    read: Callable[[tuple[str, ...]], DataFrame],
    names: Iterable[str],
    pdf_extractor: Callable[[pd.Series], pd.Series] | None,
) -> DataFrame:
    """Decoded (rel_path, file_size, text) of the files ``read(names)``
    returns, read once per body class (:func:`split_pdf`). The PDF
    branch, a Python extractor, is built only when a name is a PDF."""
    text_names, pdf_names = split_pdf(names)
    texts = decode_utf8(read(text_names))
    if not pdf_names:
        return texts
    return texts.unionByName(extract_pdf(read(pdf_names), pdf_extractor))


def cold_build(
    spark: SparkSession,
    root: str,
    params: IngestParams = IngestParams(),
    pdf_extractor: Callable[[pd.Series], pd.Series] | None = None,
) -> DataFrame:
    """Full rebuild (reference cold path, indexer.ts:257-316):
    discover → read/extract → chunk → assign ids → embed."""

    def listing(exts: tuple[str, ...]) -> DataFrame:
        return discover_files(spark, root, exts, params.excluded_folders, with_content=True)

    texts = _texts(listing, params.allowed_ext, pdf_extractor)
    return _assign_ids(texts, params)


def _delta_keys(
    spark: SparkSession,
    old_chunks: DataFrame,
    root: str,
    params: IngestParams,
) -> tuple[list[Row], int]:
    """The refresh's delta (reference ``incrementalUpdate``,
    indexer.ts:413-511) as driver-side rows (rel_path, deleted), and
    the first id of its new chunks. The current listing's
    ``(rel_path, size)`` rows and the store's ``(rel_path, size, id)``
    rows are unioned and grouped on ``rel_path`` in one exchange that
    reads no file bodies.

    J1 (deleted):  old chunk paths absent from the current listing
                   (indexer.ts:431-443).
    J2 (changed):  new path or size mismatch (indexer.ts:446-462).

    The same job observes the max id of the paths outside the delta,
    so the new ids continue from max(surviving id)+1 (``getMaxId()+1``,
    indexer.ts:393-400) without another scan of the store."""
    listing = discover_files(
        spark, root, params.allowed_ext, params.excluded_folders
    )
    per_path = (
        listing.select("rel_path", F.col("file_size").alias("new_key"))
        .unionByName(
            old_chunks.select("rel_path", F.col("file_size").alias("old_key"), "id"),
            allowMissingColumns=True,
        )
        .groupBy("rel_path")
        .agg(*(F.max(c).alias(c) for c in ("new_key", "old_key", "id")))
    )
    kept = F.col("new_key").eqNullSafe(F.col("old_key"))
    survived = Observation()
    delta = (
        per_path.observe(survived, F.max(F.when(kept, F.col("id"))).alias("max_id"))
        .filter(~kept)
        .select("rel_path", F.col("new_key").isNull().alias("deleted"))
        .collect()
    )
    max_id = survived.get["max_id"]
    return delta, 0 if max_id is None else max_id + 1


def _apply_delta(
    spark: SparkSession,
    old_chunks: DataFrame,
    root: str,
    delta: list[Row],
    next_id: int,
    params: IngestParams,
    pdf_extractor: Callable[[pd.Series], pd.Series] | None,
) -> DataFrame:
    """Survivors ∪ new chunks: the old chunks of paths outside the
    delta pass through untouched, stored vectors included (at scale a
    MERGE keyed on rel_path), and only the changed/new files' bodies are
    read, chunked and embedded, with ids from ``next_id`` (observed by
    :func:`_delta_keys`) in (rel_path, chunk) order.

    Accepted cost: a PDF whose extraction fails has no store rows, so
    every refresh sees it as new and re-tries the extraction (the store
    contents stay unchanged)."""
    survivors = old_chunks.filter(
        ~F.col("rel_path").isin([r["rel_path"] for r in delta])
    )
    changed = [r["rel_path"] for r in delta if not r["deleted"]]
    texts = _texts(lambda paths: read_files(spark, root, paths), changed, pdf_extractor)
    new_chunks = _assign_ids(texts, params, start_id=next_id)
    return survivors.select(*new_chunks.columns).unionByName(new_chunks)


def build(
    spark: SparkSession,
    root: str,
    store_path: str,
    params: IngestParams = IngestParams(),
    pdf_extractor: Callable[[pd.Series], pd.Series] | None = None,
) -> DataFrame:
    """Reference ``Indexer.build`` (indexer.ts:226-317): warm-start from a
    compatible store and refresh incrementally, else cold rebuild; then
    persist. Returns the current chunks DataFrame (re-read from the
    store, so callers never depend on pre-write lineage). A warm start
    whose delta is empty returns the store reader and writes nothing."""
    cur_dir = os.path.join(store_path, "chunks")
    old = load_store(spark, store_path, params)
    if old is None:
        chunks = cold_build(spark, root, params, pdf_extractor=pdf_extractor)
        save_store(chunks, store_path, params)
    else:
        delta, next_id = _delta_keys(spark, old, root, params)
        if not delta:
            return old
        chunks = _apply_delta(spark, old, root, delta, next_id, params, pdf_extractor)
        # No more parquet files than the store being replaced: each file
        # carries a fixed footer/schema overhead, so a refresh must not
        # fragment the store.
        chunks = chunks.coalesce(max(1, len(input_files(cur_dir))))
        replace_dir(cur_dir, _store_writer(chunks).parquet)
        _write_meta(store_path, params)
    # The swap replaced files under a path Spark may have listed; drop the
    # stale listing before handing back a reader.
    spark.catalog.refreshByPath(cur_dir)
    return _read_store(spark, cur_dir)


def compact_store(
    spark: SparkSession,
    store_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    range_col: str = "id",
) -> int:
    """Compact a chunk store's small files and lay rows out by range.

    Compaction rewrites the store as ``ceil(bytes / target_file_bytes)``
    files, range-partitioned on ``range_col`` with rows sorted within
    each file. Each output file covers a disjoint ``range_col`` interval,
    so its parquet row-group min/max statistics let any engine skip
    whole files for range predicates (the poor man's Z-order for a
    single key; verified by tests/test_ingest.py::test_compact_store_layout).
    A build or refresh lays rows out in whatever order its tasks wrote
    them, so only this rewrite gives a store that layout; it also merges
    a store written as many small files (SURVEY.md §7.5 risk 5: one task
    + one footer read each).

    Returns the number of files written. The compacted copy is swapped
    in by :func:`replace_dir`; the _meta.json sidecar lives at the
    store root and is untouched.
    """
    import math

    data_dir = os.path.join(store_path, "chunks")
    recover_dir(data_dir)
    df = _read_store(spark, data_dir)
    total_bytes = sum(size for _, size, _ in input_files(data_dir))
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    df = df.repartitionByRange(n_files, F.col(range_col)).sortWithinPartitions(
        range_col
    )
    replace_dir(data_dir, _store_writer(df).parquet)
    # Same stale-FileStatusCache hazard as build(): a same-session reader
    # that already listed the store would otherwise see deleted files.
    spark.catalog.refreshByPath(data_dir)
    return len(input_files(data_dir))
