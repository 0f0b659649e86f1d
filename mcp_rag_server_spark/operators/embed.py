"""Embedding-stage operators: the batched embed job and the end-to-end
rag_query over an embedded corpus.

``emb_hash_embed`` is the golden gate for the pandas_udf path: the Spark
side embeds with the Arrow-batched UDF (functions/embedding.py), the
oracle recomputes the identical vector relationally in DuckDB — so a
drift in batching, Arrow conversion, float32 casting, or tokenization
shows up as a hash mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table
from mcp_rag_server_spark.functions.embedding import (
    HASH_DIM,
    duckdb_hash_bucket,
    hash_embed_query_vec,
    with_embedding,
)
from mcp_rag_server_spark.operators.rag import topk_by_vector
from mcp_rag_server_spark.registry import register

_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, t AS token
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
        FROM documents)
  WHERE t <> ''
),
counts AS (
  SELECT doc_id, {duckdb_hash_bucket("token")} AS dim,
         CAST(COUNT(*) AS DOUBLE) AS c
  FROM toks GROUP BY doc_id, dim
),
dims AS (SELECT doc_id, unnest(range(0, {HASH_DIM})) AS dim FROM documents),
vals AS (
  SELECT d.doc_id, d.dim, coalesce(c.c, 0.0) AS c
  FROM dims d LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.dim = d.dim
),
norms AS (SELECT doc_id, sqrt(sum(c * c)) AS n FROM vals GROUP BY doc_id)
SELECT v.doc_id, CAST(v.dim AS INTEGER) AS dim,
       round(CAST(CAST(CASE WHEN n.n > 0 THEN v.c / n.n ELSE 0.0 END
                       AS REAL) AS DOUBLE), 6) AS val
FROM vals v JOIN norms n ON n.doc_id = v.doc_id
"""


@register(
    "emb_hash_embed",
    oracle=_ORACLE,
    description="batched pandas_udf embedding vs relational SQL twin"
    " (bag-of-hashed-words, L2-normalized, float32)",
    tags=("embedding", "pandas_udf"),
    bench=True,
)
def emb_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embed every document with the Arrow-batched hash embedder, explode
    to (doc_id, dim, val). Plan shape: scan → BatchEvalPython (Arrow) →
    posexplode — narrow end to end, NO sort: the r8 artifact's "negative
    scaling" (0.92 s local[1] → 1.68 s local[32]) was a trailing global
    orderBy, whose range-partitioner sampling pass re-ran the UDF and
    whose 32-way exchange of 320k tiny rows cost more than the embed
    itself (measured r9: sort 1.01→1.65 s across cpus, sortless
    1.01→0.96 — flat, as a narrow plan should be). No limit ⇒ no
    ordering obligation (registry rule 5); the driver comparison is
    order-insensitive. At 100 TB this is one scan stage with Python
    workers saturating each executor core; Arrow batch sizing is
    secondary (BENCH_NOTES round-9)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = with_embedding(docs.select("doc_id", "text"))
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("dim", "val"))
        .select(
            "doc_id",
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("val").cast("double"), 6).alias("val"),
        )
    )


def rag_query_corpus(
    chunks_with_embedding: DataFrame, query: str, k: int = 5
) -> DataFrame:
    """End-to-end rag_query over an ingested chunk store: embed the query
    driver-side (one string — reference src/index.ts:266), broadcast the
    literal vector, brute-force cosine top-k with the deterministic
    tie-break (rounded score desc, id asc).

    The store's chunks carry the vectors embedded at ingest, and
    ``with_embedding`` leaves them as they are, so over
    ``with_embedding(build(...))`` the plan is JVM-only: parquet scan →
    codegen cosine → TakeOrderedAndProject, no Python stage per query."""
    qv = hash_embed_query_vec(query)
    return topk_by_vector(
        chunks_with_embedding, qv, k=k, id_col="id", vec_col="embedding"
    ).select("id", "rel_path", "chunk", "score", F.col("text").alias("snippet"))
