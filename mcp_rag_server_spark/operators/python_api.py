"""Python-API surface completions: UDTF and mapInArrow.

SURVEY.md §2.10 taxonomizes the UDF/UDAF/UDTF surface. The other Arrow
shapes are covered elsewhere (scalar pandas_udf in emb_hash_embed,
mapInPandas in multimodal/PDF, grouped-map applyInPandas in
ev_grouped_map_running, applyInPandasWithState in st_stateful_user_stats);
this module adds the remaining three:

- a real Python **UDTF** (one input row → N output rows, lateral-joined)
  re-implementing the reference chunker (src/indexer.ts:201-215) row-at-
  a-time. The SQL-expression chunker (`chunk_split`) is the FAST path —
  the UDTF exists for operators whose per-row fan-out logic genuinely
  needs Python (parsers, tokenizers with state); both share one oracle,
  so the two paths are pinned equal.
- **mapInArrow**: the zero-copy batch path — the UDF receives raw
  ``pyarrow.RecordBatch``es with no pandas conversion, the cheapest
  Python boundary Spark has. Used here for per-doc token counts via
  ``pyarrow.compute`` (all-C++ kernels, no per-row Python).
- **cogrouped-map applyInPandas**: both sides of a key as separate
  pandas frames in one call (``ev_cogrouped_quota``) — per-key
  reconciliation that genuinely needs the two frames together.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table
from mcp_rag_server_spark.functions.text import chunk_stride, duckdb_chunk_sql
from mcp_rag_server_spark.operators.chunking import (
    DOC_CHUNK_OVERLAP,
    DOC_CHUNK_SIZE,
)
from mcp_rag_server_spark.registry import register


@register(
    "chunk_udtf",
    oracle=duckdb_chunk_sql(
        "documents", "doc_id", "text", DOC_CHUNK_SIZE, DOC_CHUNK_OVERLAP
    ),
    description="Python UDTF chunker (row → N chunk rows via LATERAL join),"
    " pinned equal to the SQL-expression chunker by the shared oracle",
    tags=("chunking", "udtf", "python"),
)
def chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """splitChunks (reference src/indexer.ts:201-215) as a Python UDTF:
    ``eval`` yields one row per character window. Invoked through a
    DataFrame lateral join — the table-function call shape, with no
    session-global function name. ``useArrow=True`` moves the Python
    boundary to Arrow batches (ArrowEvalPythonUDTF — plan-linted: the
    row-at-a-time BatchEvalPython path is banned repo-wide); prefer the
    codegen chunker (chunk_split) unless the fan-out logic needs Python.
    """
    from pyspark.sql.functions import udtf

    stride = chunk_stride(DOC_CHUNK_SIZE, DOC_CHUNK_OVERLAP)
    size = DOC_CHUNK_SIZE

    @udtf(returnType="chunk int, chunk_text string", useArrow=True)
    class ChunkUDTF:
        def eval(self, text: str):  # noqa: D102 - UDTF contract
            if not text:
                return
            for ordinal, start in enumerate(range(0, len(text), stride)):
                yield ordinal, text[start : start + size]

    docs = load_table(spark, sf_dir, "documents")
    return docs.lateralJoin(ChunkUDTF(F.col("text").outer())).select(
        "doc_id", "chunk", "chunk_text"
    )


@register(
    "arrow_token_stats",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       n_chars
FROM documents
ORDER BY doc_id
""",
    description="mapInArrow token counting: raw pyarrow RecordBatch in/out,"
    " pyarrow.compute kernels, zero pandas conversion",
    tags=("text", "arrow", "python"),
)
def arrow_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow boundary: batches arrive as pyarrow.RecordBatch and
    the count runs in Arrow C++ kernels (count_substring), so the Python
    layer only orchestrates — no per-row Python, no pandas copies. This
    is the template for high-throughput custom batch ops (tokenizers,
    binary parsers) at 100 TB: narrow stage, columnar both directions.
    n_tokens = spaces + 1 matches len(string_split(text, ' ')) exactly
    (single-space-separated fixture text, FIXTURES.md A1)."""

    def count_tokens(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column("text")
            n_tokens = pc.add(pc.count_substring(text, " "), 1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(n_tokens, pa.int64()),
                    batch.column("n_chars"),
                ],
                ["doc_id", "n_tokens", "n_chars"],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    out = docs.mapInArrow(
        count_tokens, schema="doc_id long, n_tokens long, n_chars long"
    )
    return out.orderBy("doc_id")


@register(
    "ev_cogrouped_quota",
    oracle="""
WITH dim AS (
  SELECT DISTINCT user_id,
         user_id % 3 AS tier,
         50 + user_id % 7 AS quota
  FROM events
),
agg AS (
  SELECT user_id, COUNT(*) AS n_events,
         -- finite gate: matches combine()'s np.isfinite mask
         MIN(CASE WHEN isfinite(value) THEN value END) AS min_value,
         MAX(CASE WHEN isfinite(value) THEN value END) AS max_value
  FROM events GROUP BY user_id
)
SELECT a.user_id, a.n_events, a.min_value, a.max_value,
       CAST(d.tier AS BIGINT) AS tier,
       a.n_events > d.quota AS over_quota
FROM agg a JOIN dim d USING (user_id)
ORDER BY a.user_id
""",
    description="cogrouped-map applyInPandas: events cogrouped with a"
    " per-user quota dim, combined per group in one pandas function —"
    " the two-sided Arrow group shape, vs a join+aggregate oracle",
    tags=("events", "pandas", "cogrouped-map"),
)
def ev_cogrouped_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the Python-API matrix with ``cogroup().applyInPandas``:
    both sides of a key arrive as separate pandas frames in ONE function
    call — the shape for per-key reconciliation logic (enrichment,
    validation, quota checks) that genuinely needs both frames at once.
    Per-group outputs are order-independent (count/min/max), so results
    are deterministic regardless of shuffle order. Scale: one co-shuffle
    of both sides on user_id, per-group memory = that key's rows — same
    contract as grouped-map, doubled.

    PRODUCTION FORM: this query exists to demonstrate the cogrouped
    shape; its own oracle — ``groupBy(user_id).agg(...)`` joined to the
    quota dim — IS the recommended implementation for this computation.
    cogroup().applyInPandas invokes Python once per key (~1 ms each;
    measured ~10 s over the ~10k-user sf0.1 fixture vs well under a
    second for join+aggregate), so reserve it for reconciliation logic
    that genuinely needs both frames in one function."""
    import pandas as pd

    # user_id IS NOT NULL: the oracle's USING(user_id) join drops the
    # NULL-key group by SQL semantics, while cogroup() would deliver it
    # to combine() (groupBy keeps a NULL group) and int(None) throws —
    # the gate makes the Python path's key contract explicit
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "value")
    )
    dim = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (F.col("user_id") % 3).alias("tier"),
            (F.lit(50) + F.col("user_id") % 7).alias("quota"),
        )
    )

    def combine(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                columns=[
                    "user_id", "n_events", "min_value", "max_value",
                    "tier", "over_quota",
                ]
            )
        quota = int(right["quota"].iloc[0])
        # finite contract (functions/numeric.py): mask NaN/Inf so the
        # pandas min/max match the oracle's isfinite-gated MIN/MAX
        # (pandas skipna keeps Inf and skips NaN; SQL ranks NaN largest)
        import numpy as np

        fv = left["value"][np.isfinite(left["value"])]
        return pd.DataFrame(
            {
                "user_id": [int(left["user_id"].iloc[0])],
                "n_events": [len(left)],
                "min_value": [float(fv.min()) if len(fv) else None],
                "max_value": [float(fv.max()) if len(fv) else None],
                "tier": [int(right["tier"].iloc[0])],
                "over_quota": [len(left) > quota],
            }
        )

    out = ev.groupBy("user_id").cogroup(dim.groupBy("user_id")).applyInPandas(
        combine,
        schema="user_id long, n_events long, min_value double,"
        " max_value double, tier long, over_quota boolean",
    )
    return out.orderBy("user_id")
