"""Random-hyperplane (SimHash-for-vectors) LSH over the embeddings table
— a label-free scale path for embedding near-dup / ANN candidate
generation (`dd_embedding_neardup` blocks on data-derived IVF cells,
clustering.cell_probes; hyperplane buckets are the sibling family that
needs nothing but the vectors and no trained seeds).

Design: K fixed hyperplanes (deterministically derived from md5, inlined
as literals in BOTH engines' SQL — no RNG, no MLlib model state);
bucket = K-bit sign pattern of the projections. Same-bucket pairs are
candidates; exact rounded cosine filters them. Bucket join shuffles on
the bucket key, so cost is Σ bucket² — with K=8 over L2-normalized
vectors the 500-row fixture yields a few hundred candidates, and at
100 TB K grows with corpus size (and/or multiple tables are OR'd, the
standard multi-probe trade).

Spark's MLlib BucketedRandomProjectionLSH implements the same family
with random planes; this version is deliberately seed-free so the DuckDB
oracle can recompute it bit-for-bit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, sql
from mcp_rag_server_spark.functions.vector import (
    cosine_score,
    duckdb_cosine,
    valid_embedding,
    valid_embedding_sql,
)
from mcp_rag_server_spark.registry import register

N_PLANES = 8
DIM = 64
LSH_COSINE_THRESHOLD = 0.3


def _plane(i: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: component j is
    (md5(i:j) mod 2001 - 1000) / 1000 ∈ [-1, 1]. No RNG — both engines
    receive the same literals."""
    return [
        (int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for j in range(DIM)
    ]


def _dot_literal_sql(vec_col: str, plane: list[float], dialect: str) -> str:
    """Projection of a vector column onto a literal plane, as an unrolled
    sum — identical arithmetic (and order) in both engines, and cheap:
    64 multiply-adds, no array literal, no HOF."""
    idx = (lambda j: f"{vec_col}[{j + 1}]") if dialect == "duckdb" else (
        lambda j: f"element_at({vec_col}, {j + 1})"
    )
    return (
        "("
        + " + ".join(
            f"CAST({idx(j)} AS DOUBLE) * ({plane[j]!r})" for j in range(DIM)
        )
        + ")"
    )


def _bucket_sql(vec_col: str, dialect: str) -> str:
    bits = [
        f"(CASE WHEN {_dot_literal_sql(vec_col, _plane(i), dialect)} >= 0 "
        f"THEN {2 ** i} ELSE 0 END)"
        for i in range(N_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


@register(
    "sim_hyperplane_lsh",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql("embedding", "duckdb")} AS bucket
  FROM embeddings WHERE {valid_embedding_sql("duckdb")}
)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.bucket,
       round({duckdb_cosine("x.embedding", "y.embedding")}, 4) AS score
FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE round({duckdb_cosine("x.embedding", "y.embedding")}, 4)
      >= {LSH_COSINE_THRESHOLD}
ORDER BY vec_a, vec_b
""",
    description="random-hyperplane LSH near-dup over embeddings: sign-bit"
    " bucket join + exact cosine verify (label-free scale path)",
    tags=("similarity", "vector", "lsh"),
)
def sim_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # valid_embedding gate: the 64 positional reads in the projection
    # throw under Spark ANSI on a short/empty array and silently NULL
    # in DuckDB — invalid vectors are dropped by contract on BOTH
    # engines (census: sim_embedding_validate)
    emb = load_table(spark, sf_dir, "embeddings").filter(valid_embedding())
    b = emb.select(
        "vec_id",
        "embedding",
        F.expr(_bucket_sql("embedding", "spark")).alias("bucket"),
    )
    x, y = b.alias("x"), b.alias("y")
    score = cosine_score("x.embedding", "y.embedding")
    return (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            F.col("x.bucket").alias("bucket"),
            score.alias("score"),
        )
        .filter(F.col("score") >= LSH_COSINE_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


#: Multi-probe audit geometry: query vector, final k, probe tiers =
#: home bucket (Hamming 0), every 1-bit flip (8 probes), every 2-bit
#: flip (28 probes).
MP_QUERY_ID = 5
MP_TOP_K = 5


def _mp_probe_rows() -> list[tuple[int, int]]:
    """(xor_mask, tier) rows for Hamming-0/1/2 probing."""
    rows = [(0, 0)]
    rows += [(1 << i, 1) for i in range(N_PLANES)]
    rows += [
        ((1 << i) | (1 << j), 2)
        for i in range(N_PLANES)
        for j in range(i + 1, N_PLANES)
    ]
    return rows


def _mp_sql(dialect: str, codes_src: str) -> str:
    """The audit over a codes relation (vec_id, bucket, score vs the
    query). ``codes_src`` is a complete scored-candidates CTE body."""
    vals = ", ".join(f"({m}, {t})" for m, t in _mp_probe_rows())
    xor = "xor(q.qb, p.mask)" if dialect == "duckdb" else "q.qb ^ p.mask"
    return f"""
WITH {codes_src},
probes AS (
  SELECT {xor} AS pb, p.tier
  FROM (SELECT * FROM (VALUES {vals}) AS v(mask, tier)) p CROSS JOIN q
),
cand AS (
  SELECT s.vec_id, s.score, MIN(p.tier) AS tier
  FROM scored s JOIN probes p ON p.pb = s.bucket
  GROUP BY s.vec_id, s.score
),
exact_top AS (
  SELECT vec_id FROM scored ORDER BY score DESC, vec_id
  LIMIT {MP_TOP_K}
),
grid AS (SELECT * FROM (VALUES ('0_home', 0), ('1_hamming1', 1),
                               ('2_hamming2', 2)) AS g(strategy, max_tier)),
tiered AS (
  SELECT g.strategy, g.max_tier, c.vec_id, c.score,
         ROW_NUMBER() OVER (PARTITION BY g.strategy
                            ORDER BY c.score DESC, c.vec_id) AS rnk
  FROM grid g JOIN cand c ON c.tier <= g.max_tier
)
SELECT t.strategy,
       COUNT(*) AS n_candidates,
       COUNT(CASE WHEN t.rnk <= {MP_TOP_K} AND x.vec_id IS NOT NULL
             THEN 1 END) AS n_topk_hits,
       round(COUNT(CASE WHEN t.rnk <= {MP_TOP_K}
                         AND x.vec_id IS NOT NULL THEN 1 END)
             / CAST({MP_TOP_K} AS DOUBLE), 4) AS recall_at_k
FROM tiered t LEFT JOIN exact_top x ON x.vec_id = t.vec_id
GROUP BY t.strategy
ORDER BY t.strategy
"""


def _mp_duckdb_codes() -> str:
    cos = duckdb_cosine("e.embedding", "q.q_emb")
    return f"""b AS (
  SELECT vec_id, embedding,
         {_bucket_sql("embedding", "duckdb")} AS bucket
  FROM embeddings WHERE {valid_embedding_sql("duckdb")}
),
q AS (SELECT bucket AS qb, embedding AS q_emb FROM b
      WHERE vec_id = {MP_QUERY_ID}),
scored AS (
  SELECT e.vec_id, e.bucket, round({cos}, 4) AS score
  FROM b e CROSS JOIN q
  WHERE e.vec_id <> {MP_QUERY_ID}
)"""


@register(
    "sim_multiprobe_lsh",
    oracle=_mp_sql("duckdb", _mp_duckdb_codes()),
    description="multi-probe LSH audit (Lv et al., VLDB'07): probe the"
    " query's home bucket, all Hamming-1, and all Hamming-2 neighbor"
    " buckets — candidate counts and recall@5 vs brute force per probe"
    " tier, the more-recall-without-more-tables trade hashed as a"
    " three-point curve",
    tags=("similarity", "vector", "lsh", "audit", "topk"),
)
def sim_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane LSH recall is bucket-boundary-limited: a true
    neighbor one sign flip away lands in a Hamming-1 bucket and a
    single-probe lookup never sees it. Multi-probe (Lv et al.)
    queries nearby buckets instead of building more hash tables —
    same index bytes, 9 then 37 probes here, and the audit hashes the
    whole curve: candidates and recall@5 per tier against the exact
    top-5 (on this near-isotropic fixture the curve is honestly flat
    and low — the same spectrum honesty as the JL/PC1 audits — while
    the probe machinery it pins is exact). The Spark side computes
    the 512-term bucket expression ONCE into a localCheckpoint'd
    codes table (inline CTE references re-evaluated it per consumer
    and quintupled planning time); probes are an XOR VALUES list
    joined on the bucket key — at scale bucket = partition key, so a
    probe tier reads |probes| partitions, never a scan."""
    # valid_embedding gate — same contract as sim_hyperplane_lsh
    emb = load_table(spark, sf_dir, "embeddings").filter(valid_embedding())
    b = emb.select(
        "vec_id",
        "embedding",
        F.expr(_bucket_sql("embedding", "spark")).alias("bucket"),
    ).localCheckpoint(eager=True)
    q = b.filter(F.col("vec_id") == MP_QUERY_ID).select(
        F.col("bucket").alias("qb"), F.col("embedding").alias("q_emb")
    )
    scored = (
        b.filter(F.col("vec_id") != MP_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "bucket",
            "qb",
            cosine_score("embedding", "q_emb").alias("score"),
        )
    )
    text = _mp_sql(
        "spark",
        "q AS (SELECT MAX(qb) AS qb FROM mp_scored_src), "
        "scored AS (SELECT vec_id, bucket, score FROM mp_scored_src)",
    )
    return sql(spark, text, mp_scored_src=scored)
