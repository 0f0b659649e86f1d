"""rag_query — the reference's flagship operator, Spark-first.

Reference pipeline (src/index.ts:260-284): embed query → cosine against
every chunk vector (O(N·d) single-threaded scan, src/index.ts:267) →
sort desc → slice top_k (clamped 1..50, default 5) → project
{path, score(4dp), snippet, totalLines, fileSize}.

Spark shape: the corpus scan is a parquet read that partitions across
executors; the query vector is a one-row broadcast (a literal at plan
time), scoring is a codegen'd higher-order-function expression, and
``orderBy(desc).limit(k)`` is planned as TakeOrderedAndProject — a
per-partition heap top-k + driver merge, not a full sort. That plan is
exactly what survives a 1000-executor 100 TB scan: no shuffle at all,
one narrow pass, k rows back to the driver.

Determinism (SURVEY.md §2.10 quirk 3): the reference's JS sort is
unstable on ties; we define the total order (rounded score desc, id asc)
and use it in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, sql
from mcp_rag_server_spark.functions.text import duckdb_chunk_sql
from mcp_rag_server_spark.functions.vector import (
    array_float_literal,
    cosine_score,
    cosine_sql,
    duckdb_cosine,
    valid_embedding,
    valid_embedding_sql,
)
from mcp_rag_server_spark.registry import register

#: Reference src/index.ts:62-64
RAG_QUERY_MAX_RESULTS = 50
RAG_QUERY_DEFAULT_K = 5


def clamp_top_k(k: int) -> int:
    """Reference clamp: max(1, min(50, k)) — src/index.ts:269."""
    return max(1, min(RAG_QUERY_MAX_RESULTS, k))


def topk_by_vector(
    emb: DataFrame,
    query_vec,
    k: int = RAG_QUERY_DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Score ``emb`` against a literal query vector and return the top-k.

    ``query_vec`` may be a Python list (driver-side embedded query — the
    reference embeds the query string once on the caller side,
    src/index.ts:266) or a one-row DataFrame with column ``qv``.
    """
    k = clamp_top_k(k)
    if isinstance(query_vec, DataFrame):
        scored = emb.crossJoin(F.broadcast(query_vec))
        qv_sql = "qv"
    else:
        scored = emb
        qv_sql = array_float_literal(query_vec)
    return (
        scored.withColumn("score", cosine_score(vec_col, qv_sql))
        .drop("qv")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


@register(
    "rag_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       round({duckdb_cosine('e.embedding', 'q.qv')}, 4) AS score
FROM embeddings e CROSS JOIN q
ORDER BY score DESC, e.vec_id ASC
LIMIT 5
""",
    description="flagship: brute-force cosine top-k (reference rag_query core)",
    tags=("rag", "vector", "topk"),
    bench=True,
)
def rag_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most similar embeddings to the vec_id=0 vector.

    Plan: parquet scan → broadcast 1-row query → codegen cosine →
    TakeOrderedAndProject(k=5). Zero shuffles.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return topk_by_vector(emb, q, k=5).select("vec_id", "label", "score")


@register(
    "rag_query_result",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         round({duckdb_cosine('e.embedding', 'q.qv')}, 4) AS score
  FROM embeddings e CROSS JOIN q
  ORDER BY score DESC, e.vec_id ASC
  LIMIT 5
)
SELECT s.vec_id, s.score,
       substring(d.text, 1, 200) AS snippet,
       d.n_chars, d.lang, d.source
FROM scored s JOIN documents d ON d.doc_id = s.vec_id
ORDER BY s.score DESC, s.vec_id ASC
""",
    description="rag_query full result contract: top-k joined back to documents"
    " {path,score,snippet,totalLines,fileSize} analog (reference src/index.ts:269-275)",
    tags=("rag", "vector", "topk", "join"),
    bench=True,
)
def rag_query_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference result shape: top-k then join to the documents table for
    snippet + metadata (the reference denormalizes these per chunk;
    FIXTURES.md keeps documents/embeddings as separate fixture tables, so
    the projection is a broadcast join on the 5-row top-k side)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    top = topk_by_vector(emb, q, k=5).select("vec_id", "score")
    return (
        F.broadcast(top)
        .join(docs, top["vec_id"] == docs["doc_id"])
        .select(
            "vec_id",
            "score",
            F.substring("text", 1, 200).alias("snippet"),
            "n_chars",
            "lang",
            "source",
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
    )


#: MMR re-rank parameters: candidate pool size, results returned,
#: relevance weight (mmr = LAM*rel - (1-LAM)*max_sim_to_selected).
MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA = 0.7


@register(
    "rag_mmr_topk",
    oracle=f"""
WITH RECURSIVE emb_v AS (
  -- valid_embedding gate: a NaN-element vector otherwise enters the
  -- pool with a NaN relevance and the engines' NaN orderings diverge
  SELECT * FROM embeddings WHERE {valid_embedding_sql('duckdb')}
),
cand AS (
  SELECT e.vec_id, e.embedding,
         round({duckdb_cosine('e.embedding', 'q.qv')}, 4) AS rel
  FROM emb_v e
  CROSS JOIN (SELECT embedding AS qv FROM emb_v WHERE vec_id = 0) q
  WHERE e.vec_id <> 0
  ORDER BY rel DESC, e.vec_id ASC
  LIMIT {MMR_POOL}
),
pair AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         round({duckdb_cosine('a.embedding', 'b.embedding')}, 4) AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
sel AS (
  SELECT * FROM (
    SELECT 1 AS rank, [vec_id] AS chosen, vec_id, rel, CAST(rel AS DOUBLE) AS mmr
    FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
  )
  UNION ALL
  SELECT s.rank + 1, list_append(s.chosen, nxt.vec_id), nxt.vec_id, nxt.rel,
         nxt.mmr
  FROM sel s CROSS JOIN LATERAL (
    SELECT c.vec_id, c.rel,
           {MMR_LAMBDA} * c.rel - {1 - MMR_LAMBDA} * (
             SELECT max(p.sim) FROM pair p
             WHERE p.a_id = c.vec_id AND list_contains(s.chosen, p.b_id)) AS mmr
    FROM cand c
    WHERE NOT list_contains(s.chosen, c.vec_id)
    ORDER BY mmr DESC, c.vec_id ASC
    LIMIT 1
  ) nxt
  WHERE s.rank < {MMR_K}
)
SELECT rank, vec_id, rel, mmr FROM sel ORDER BY rank
""",
    description="MMR-diversified top-k: greedy maximal-marginal-relevance"
    " re-rank of the cosine top-20 candidate pool (lambda=0.7) — the"
    " diversity re-ranker real RAG stacks run after retrieval",
    tags=("rag", "vector", "topk", "rerank"),
    bench=True,
)
def rag_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98):
    greedily pick argmax of ``lam*rel - (1-lam)*max_sim_to_selected``.

    Two-stage shape: (1) candidate generation is the shuffle-free
    brute-force top-N scan (TakeOrderedAndProject — the same plan as
    rag_topk); (2) the O(K*N^2) greedy re-rank runs on the bounded
    N={MMR_POOL} pool inside a cogrouped ``applyInPandas`` keyed by
    query id — with a batch of M query vectors the re-rank parallelizes
    per query while each group's state stays a constant ~N^2 sims. No
    driver-side collect touches the corpus.

    Cross-engine determinism: relevance and pairwise sims are rounded to
    4 decimals (computed by the bit-identical HOF fold both engines, see
    functions/vector.py), and the greedy arithmetic is plain float64
    (0.7*rel - 0.3*max_sim) on those identical inputs with vec_id
    tie-breaks, so the selection sequence is engine-identical; the mmr
    doubles are emitted raw ("compared as-is", registry rule 3).
    """
    # valid_embedding gate — mirrors the oracle's emb_v CTE
    emb = load_table(spark, sf_dir, "embeddings").filter(valid_embedding())
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = (
        # The query document itself is excluded from the pool: a
        # self-match is not a result, and worse, sim(c, query_doc) ==
        # rel(c), which collapses the penalty term into a pure rescale
        # of relevance and defeats the diversification.
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("rel", cosine_score("embedding", "qv"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_POOL)
        .select(F.lit(0).alias("qid"), "vec_id", "embedding", "rel")
    )
    # NOT checkpointed, unlike mmr_topk_batch below: the pool does feed
    # three plan consumers, but for the single-qid pool the re-inlined
    # scoring subtrees run as CONCURRENT stages and beat one serialized
    # checkpoint (r14 interleaved A/B: ckpt x1.11 — rejected).
    return mmr_rerank(cand, mmr_pairs(cand)).drop("qid").orderBy("rank")


#: Hard cap on the per-query candidate pool mmr_pairs accepts. The
#: self-join is O(pool²) PER QUERY by design (the pool is the bounded
#: output of a top-N retrieval stage, never the corpus); this cap makes
#: the contract explicit so a caller that skips the top-N stage fails
#: loudly instead of launching a quadratic job. 512² ≈ 262k pairs/query
#: is still a trivially small broadcast.
MMR_POOL_MAX = 512


def mmr_pairs(cand: DataFrame, pool_bound: int = MMR_POOL) -> DataFrame:
    """Pairwise candidate similarities per query: (qid, a_id, b_id, sim).

    ``cand`` is (qid, vec_id, embedding, rel), at most ``pool_bound``
    rows per qid — callers state the bound their candidate stage
    enforces (rag_mmr_topk/rag_mmr_batch: ``LIMIT MMR_POOL`` per query).
    The self-join is keyed on qid, so each query's N(N-1) pairs are
    computed where its candidates already live; sims use the same
    rounded bit-identical HOF fold as relevance (functions/vector.py).
    """
    if pool_bound > MMR_POOL_MAX:
        raise ValueError(
            f"mmr_pairs pool_bound={pool_bound} exceeds MMR_POOL_MAX="
            f"{MMR_POOL_MAX}: the per-query self-join is O(pool²) and "
            "relies on a bounded top-N candidate stage upstream"
        )
    pa = cand.alias("mpa")
    pb = cand.alias("mpb")
    return (
        pa.join(
            F.broadcast(pb),
            (F.col("mpa.qid") == F.col("mpb.qid"))
            & (F.col("mpa.vec_id") != F.col("mpb.vec_id")),
        )
        .select(
            F.col("mpa.qid").alias("qid"),
            F.col("mpa.vec_id").alias("a_id"),
            F.col("mpb.vec_id").alias("b_id"),
            cosine_score("mpa.embedding", "mpb.embedding").alias("sim"),
        )
    )


def mmr_rerank(
    cand: DataFrame,
    pair: DataFrame,
    k: int = MMR_K,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Greedy MMR selection per query id: cogroup the candidate list
    (qid, vec_id, rel) with the pair sims (qid, a_id, b_id, sim) and run
    the O(k·N²) selection in one pandas call per query. Returns
    (qid, rank, vec_id, rel, mmr).

    With a batch of M query vectors this parallelizes per qid — each
    group's state is the constant ~N² sim matrix, so executor memory is
    flat no matter how large the corpus or the batch.
    """
    import pandas as pd

    one_minus_lam = 1 - lam

    def greedy_mmr(cands: pd.DataFrame, pairs: pd.DataFrame) -> pd.DataFrame:
        if cands.empty:
            return pd.DataFrame(
                columns=["qid", "rank", "vec_id", "rel", "mmr"]
            )
        qid = cands["qid"].iloc[0]
        rel = dict(zip(cands["vec_id"], cands["rel"]))
        sim = dict(zip(zip(pairs["a_id"], pairs["b_id"]), pairs["sim"]))
        remaining = sorted(rel)
        first = min(remaining, key=lambda v: (-rel[v], v))
        chosen = [(qid, 1, first, rel[first], float(rel[first]))]
        remaining.remove(first)
        while remaining and len(chosen) < k:
            best, best_mmr = None, None
            for c in remaining:
                max_sim = max(sim[(c, s)] for _, _, s, _, _ in chosen)
                m = lam * rel[c] - one_minus_lam * max_sim
                if best is None or m > best_mmr or (m == best_mmr and c < best):
                    best, best_mmr = c, m
            chosen.append((qid, len(chosen) + 1, best, rel[best], best_mmr))
            remaining.remove(best)
        return pd.DataFrame(
            chosen, columns=["qid", "rank", "vec_id", "rel", "mmr"]
        )

    return (
        cand.select("qid", "vec_id", "rel")
        .groupBy("qid")
        .cogroup(pair.groupBy("qid"))
        .applyInPandas(
            lambda left, right: greedy_mmr(left, right),
            "qid long, rank int, vec_id long, rel double, mmr double",
        )
    )


@register(
    "rag_mmr_batch",
    oracle=f"""
WITH RECURSIVE emb_v AS (
  -- valid_embedding gate (same contract as rag_mmr_topk)
  SELECT * FROM embeddings WHERE {valid_embedding_sql('duckdb')}
),
ranked AS (
  SELECT q.qid, e.vec_id, e.embedding,
         round({duckdb_cosine('e.embedding', 'q.qv')}, 4) AS rel,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY round({duckdb_cosine('e.embedding', 'q.qv')}, 4) DESC,
                    e.vec_id ASC) AS rn
  FROM emb_v e
  CROSS JOIN (SELECT vec_id AS qid, embedding AS qv FROM emb_v
              WHERE vec_id IN (0, 1, 2)) q
  WHERE e.vec_id <> q.qid
),
cand AS (SELECT qid, vec_id, embedding, rel FROM ranked WHERE rn <= {MMR_POOL}),
pair AS (
  SELECT a.qid, a.vec_id AS a_id, b.vec_id AS b_id,
         round({duckdb_cosine('a.embedding', 'b.embedding')}, 4) AS sim
  FROM cand a JOIN cand b ON a.qid = b.qid AND a.vec_id <> b.vec_id
),
sel AS (
  SELECT qid, 1 AS rank, [vec_id] AS chosen, vec_id, rel,
         CAST(rel AS DOUBLE) AS mmr
  FROM (SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY rel DESC, vec_id ASC) AS rr FROM cand)
  WHERE rr = 1
  UNION ALL
  SELECT s.qid, s.rank + 1, list_append(s.chosen, nxt.vec_id), nxt.vec_id,
         nxt.rel, nxt.mmr
  FROM sel s CROSS JOIN LATERAL (
    SELECT c.vec_id, c.rel,
           {MMR_LAMBDA} * c.rel - {1 - MMR_LAMBDA} * (
             SELECT max(p.sim) FROM pair p
             WHERE p.qid = s.qid AND p.a_id = c.vec_id
               AND list_contains(s.chosen, p.b_id)) AS mmr
    FROM cand c
    WHERE c.qid = s.qid AND NOT list_contains(s.chosen, c.vec_id)
    ORDER BY mmr DESC, c.vec_id ASC
    LIMIT 1
  ) nxt
  WHERE s.rank < {MMR_K}
)
SELECT qid, rank, vec_id, rel, mmr FROM sel ORDER BY qid, rank
""",
    description="batched MMR: three query vectors diversity-re-ranked in"
    " ONE job — shared corpus scan, per-qid window top-20, greedy"
    " selection parallel per query (the M-query production shape)",
    tags=("rag", "vector", "topk", "rerank", "batch"),
)
def rag_mmr_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked instance of :func:`mmr_topk_batch` over the query
    batch {vec_id 0, 1, 2}, each excluding its own document. The oracle
    runs the same greedy recursion with the qid carried in the recursive
    working set — every query advances one rank per recursion step, so
    batch semantics (not just the single-query case) are hash-pinned
    across engines."""
    # valid_embedding gate — mirrors the oracle's emb_v CTE
    emb = load_table(spark, sf_dir, "embeddings").filter(valid_embedding())
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("vec_id").alias("q_vec_id"),
    )
    return mmr_topk_batch(emb, queries).orderBy("qid", "rank")


def mmr_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    pool: int = MMR_POOL,
    k: int = MMR_K,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Batched MMR over M query vectors in one job.

    ``queries`` is (qid, qv[, q_vec_id]) — ``q_vec_id`` (optional)
    excludes the query's own document from its pool. Candidate
    generation broadcasts the query batch over one corpus scan and
    takes the per-qid top-``pool`` with a qid-partitioned window — the
    scan is shared by all M queries, and the only wide exchange hashes
    the (tiny) scored candidate rows by qid. The greedy re-rank then
    parallelizes per query (see :func:`mmr_rerank`).
    """
    from pyspark.sql import Window

    scored = emb.crossJoin(F.broadcast(queries))
    if "q_vec_id" in queries.columns:
        scored = scored.filter(F.col("vec_id") != F.col("q_vec_id"))
    w = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("vec_id"))
    cand = (
        scored.withColumn("rel", cosine_score("embedding", "qv"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= pool)
        .select("qid", "vec_id", "embedding", "rel")
    )
    # The pool feeds THREE plan consumers (rerank's cogroup left side +
    # both sides of the pair self-join) and Catalyst re-inlines the
    # corpus scoring scan + per-qid rank window into each (the
    # re-inlined-CTE trap, guide §3.3). One eager checkpoint of the
    # M×pool-row pool (tiny: qid + id + 64-float embedding + rel) runs
    # the scoring once (r14 interleaved A/B: x0.88); selection math is
    # unchanged. rag_mmr_topk's single-qid pool is NOT checkpointed —
    # there the concurrent re-inlined stages win (x1.11).
    cand = cand.localCheckpoint(eager=True)
    return mmr_rerank(cand, mmr_pairs(cand), k=k, lam=lam)


@register(
    "rag_hybrid_topk",
    oracle=f"""
WITH q AS (
  SELECT list_distinct(string_split(text, ' ')) AS qtoks
  FROM documents WHERE doc_id = 0
),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT d.doc_id,
         list_distinct(string_split(d.text, ' ')) AS toks,
         e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.doc_id <> 0
)
SELECT c.doc_id,
       round(CAST(len(list_intersect(c.toks, q.qtoks)) AS DOUBLE)
             / len(list_distinct(list_concat(c.toks, q.qtoks))), 4) AS lex_score,
       round({duckdb_cosine('c.embedding', 'qv.qv')}, 4) AS vec_score,
       round({duckdb_cosine('c.embedding', 'qv.qv')} * 0.5
             + CAST(len(list_intersect(c.toks, q.qtoks)) AS DOUBLE)
               / len(list_distinct(list_concat(c.toks, q.qtoks))) * 0.5,
             4) AS hybrid_score
FROM cand c CROSS JOIN q CROSS JOIN qv
ORDER BY hybrid_score DESC, c.doc_id ASC
LIMIT 10
""",
    description="hybrid retrieval: equal-weight fusion of lexical Jaccard"
    " and cosine similarity, top-10 — the lexical+vector search real RAG"
    " deployments run (extends the reference's vector-only rag_query)",
    tags=("rag", "vector", "text", "topk"),
    bench=True,
)
def rag_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both scores are computed from raw doubles in ONE pass over the
    candidates (same expression tree both engines, rounded only at the
    output/sort boundary). Plan: documents⋈embeddings on id (broadcast at
    fixture scale), 1-row query side broadcast, codegen scoring,
    TakeOrderedAndProject(10) — the corpus is scanned once and never
    shuffled; at 100 TB the candidate set would first be cut by an index
    (sim_ivf_topk's cell pruning or the LSH buckets) before this exact
    fusion rescoring."""
    from mcp_rag_server_spark.functions.vector import cosine

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        docs.filter(F.col("doc_id") == 0)
        .select(F.array_distinct(F.split("text", " ")).alias("qtoks"))
        .crossJoin(
            emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
        )
    )
    cand = (
        docs.filter(F.col("doc_id") != 0)
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
        .join(emb, F.col("doc_id") == F.col("vec_id"))
    )
    lex = F.size(F.array_intersect("toks", "qtoks")).cast("double") / F.size(
        F.array_union("toks", "qtoks")
    )
    vec = cosine("embedding", "qv")
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            F.round(lex, 4).alias("lex_score"),
            F.round(vec, 4).alias("vec_score"),
            F.round(vec * 0.5 + lex * 0.5, 4).alias("hybrid_score"),
        )
        .orderBy(F.desc("hybrid_score"), F.asc("doc_id"))
        .limit(10)
    )


#: RRF smoothing constant (Cormack, Clarke & Buettcher, SIGIR'09 — 60
#: is the paper's recommended value, near-universal in deployments).
RRF_K = 60


@register(
    "rag_rrf_topk",
    oracle=f"""
WITH q AS (
  SELECT list_distinct(string_split(text, ' ')) AS qtoks
  FROM documents WHERE doc_id = 0
),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT d.doc_id,
         list_distinct(string_split(d.text, ' ')) AS toks,
         e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.doc_id <> 0
),
scored AS (
  SELECT c.doc_id,
         round(CAST(len(list_intersect(c.toks, q.qtoks)) AS DOUBLE)
               / len(list_distinct(list_concat(c.toks, q.qtoks))), 4)
           AS lex_score,
         round({duckdb_cosine('c.embedding', 'qv.qv')}, 4) AS vec_score
  FROM cand c CROSS JOIN q CROSS JOIN qv
),
ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY lex_score DESC, doc_id ASC)
           AS lex_rank,
         row_number() OVER (ORDER BY vec_score DESC, doc_id ASC)
           AS vec_rank
  FROM scored
)
SELECT doc_id, lex_rank, vec_rank,
       1.0 / ({RRF_K} + lex_rank) + 1.0 / ({RRF_K} + vec_rank) AS rrf_score
FROM ranked
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 10
""",
    description="reciprocal-rank fusion (Cormack et al. SIGIR'09, k=60):"
    " lexical and vector rankings fused by 1/(k+rank) sums — the"
    " score-scale-free fusion real search stacks use beside"
    " rag_hybrid_topk's weighted-sum; ranks use the ROUNDED scores with"
    " doc_id tie-break, so both engines rank identically",
    tags=("rag", "vector", "text", "topk", "fusion"),
)
def rag_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF needs only each retriever's RANKS, never its score scale —
    which is why it survives heterogeneous retrievers (BM25 + cosine +
    anything) without calibration. Ranks come from row_number over the
    rounded scores (rounding first makes the rank, and hence the hashed
    result, engine-exact; doc_id breaks ties totally). The rank windows
    are GLOBAL but bounded: at 100 TB this fusion runs over each
    query's index-pruned candidate pool (IVF cells / LSH buckets, same
    boundedness argument as the MMR pool stage), never the raw corpus.
    The 1/(k+rank) terms are single IEEE divisions of small integers —
    bit-identical both engines, emitted unrounded per registry rule 3."""
    from mcp_rag_server_spark.functions.vector import cosine

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        docs.filter(F.col("doc_id") == 0)
        .select(F.array_distinct(F.split("text", " ")).alias("qtoks"))
        .crossJoin(
            emb.filter(F.col("vec_id") == 0).select(
                F.col("embedding").alias("qv")
            )
        )
    )
    cand = (
        docs.filter(F.col("doc_id") != 0)
        .select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
        )
        .join(emb, F.col("doc_id") == F.col("vec_id"))
    )
    lex = F.size(F.array_intersect("toks", "qtoks")).cast("double") / F.size(
        F.array_union("toks", "qtoks")
    )
    vec = cosine("embedding", "qv")
    scored = cand.crossJoin(F.broadcast(q)).select(
        "doc_id",
        F.round(lex, 4).alias("lex_score"),
        F.round(vec, 4).alias("vec_score"),
    )
    ranked = scored.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("lex_score"), F.asc("doc_id")))
        .alias("lex_rank"),
        F.row_number()
        .over(Window.orderBy(F.desc("vec_score"), F.asc("doc_id")))
        .alias("vec_rank"),
    )
    return (
        ranked.select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            (
                F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank"))
                + F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank"))
            ).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


#: Okapi BM25 constants (Robertson et al., TREC-3): k1 saturates term
#: frequency, b scales length normalization. 1.2 / 0.75 are the
#: canonical defaults (and Lucene's).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10


@register(
    "rag_bm25_topk",
    oracle=f"""
WITH toked AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
q AS (
  SELECT DISTINCT unnest(list_distinct(toks)) AS token
  FROM toked WHERE doc_id = 0
),
cand AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS token
  FROM toked WHERE doc_id <> 0
),
tf AS (
  SELECT doc_id, dl, token, COUNT(*) AS tf FROM cand
  GROUP BY doc_id, dl, token
),
scal AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM toked WHERE doc_id <> 0
),
m AS (SELECT t.doc_id, t.dl, t.token, t.tf FROM tf t JOIN q USING (token)),
dft AS (SELECT token, COUNT(*) AS df FROM m GROUP BY token),
contrib AS (
  SELECT m.doc_id,
         CAST(round(
           round(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0), 6)
           * (CAST(m.tf AS DOUBLE) * ({BM25_K1} + 1.0))
           / (CAST(m.tf AS DOUBLE)
              + {BM25_K1} * (1.0 - {BM25_B}
                             + {BM25_B} * CAST(m.dl AS DOUBLE) / s.avgdl)),
           6) AS DECIMAL(18,6)) AS c
  FROM m JOIN dft d USING (token) CROSS JOIN scal s
)
SELECT doc_id,
       COUNT(*) AS n_matched,
       round(CAST(SUM(c) AS DOUBLE), 4) AS bm25
FROM contrib
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOPK}
""",
    description="Okapi BM25 lexical retrieval (k1=1.2, b=0.75): df/idf"
    " over the candidate corpus, length-normalized tf saturation,"
    " top-10 — the inverted-index scoring real search engines pair with"
    " the vector scan (rag_rrf_topk fuses exactly such rankings)",
    tags=("rag", "text", "topk", "bm25"),
)
def rag_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf = ln((N−df+0.5)/(df+0.5)+1) (the non-negative Robertson form
    Lucene uses). Corpus statistics (N, avgdl, df) are defined over the
    CANDIDATE set (doc_id ≠ 0) in both engines.

    Determinism: idf is rounded to 6dp (ln is libm-dependent in the last
    ulp), each term contribution is one IEEE expression tree rounded to
    6dp and summed as DECIMAL(18,6) (order-independent), and the rounded
    4dp score is the sort key with doc_id tie-break (registry rules 2-5).

    Scale shape: tokenize+explode is narrow; tf is ONE (doc_id, token)
    partial aggregation — the only corpus-wide shuffle; the query-term
    semi filter broadcasts ≤|q| tokens so df and everything after run on
    the matched sliver; scalars are a 1-row broadcast; final scoring is a
    doc-keyed aggregation of matched rows ending in
    TakeOrderedAndProject. At 100 TB the tf table is the inverted index
    — computed once, bucketed by token, reused across queries."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", F.split("text", " ").alias("toks"))
    # array_distinct already dedups within the single query doc, so no
    # .distinct() (it would add a shuffle for rows that can't repeat).
    qterms = toked.filter(F.col("doc_id") == 0).select(
        F.explode(F.array_distinct("toks")).alias("token")
    )
    cand = toked.filter(F.col("doc_id") != 0)
    tf = (
        cand.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("token"),
        )
        .groupBy("doc_id", "dl", "token")
        .agg(F.count("*").alias("tf"))
    )
    scal = cand.agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.size("toks")).cast("double") / F.count("*")
        ).alias("avgdl"),
    )
    m = tf.join(F.broadcast(qterms), "token")
    dft = m.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            + 1.0
        ),
        6,
    )
    norm = (F.col("tf").cast("double") * (BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + BM25_K1
        * (1.0 - BM25_B + BM25_B * F.col("dl").cast("double") / F.col("avgdl"))
    )
    return (
        m.join(F.broadcast(dft), "token")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            F.round(idf * norm, 6).cast("decimal(18,6)").alias("c"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_matched"),
            F.round(F.sum("c").cast("double"), 4).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


#: Context packing: queries, candidate pool per query, token budget.
PACK_QUERIES = 3
PACK_POOL = 20
PACK_BUDGET_TOKENS = 600


def _pack_sql(dialect: str) -> str:
    ntok = (
        "size(split(d.text, ' '))"
        if dialect == "spark"
        else "len(string_split(d.text, ' '))"
    )
    cos = (
        "rag_cos_ph"
        if dialect == "spark"
        else f"round({duckdb_cosine('e.embedding', 'q.qv')}, 4)"
    )
    return f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS qv FROM embeddings
  WHERE vec_id < {PACK_QUERIES}
),
scored AS (
  SELECT q.q_id, e.vec_id, {cos} AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id
),
pool AS (
  SELECT q_id, vec_id, score FROM (
    SELECT q_id, vec_id, score,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY score DESC, vec_id) AS rn
    FROM scored) WHERE rn <= {PACK_POOL}
),
with_tokens AS (
  SELECT p.q_id, p.vec_id, p.score,
         CAST({ntok} AS BIGINT) AS n_tokens
  FROM pool p JOIN documents d ON p.vec_id = d.doc_id
),
running AS (
  SELECT q_id, vec_id, score, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY q_id
                                  ORDER BY score DESC, vec_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM with_tokens
),
packed AS (
  SELECT * FROM running WHERE cum_tokens <= {PACK_BUDGET_TOKENS}
)
SELECT q_id,
       COUNT(*) AS n_docs_packed,
       CAST(MAX(cum_tokens) AS BIGINT) AS tokens_used,
       MIN(score) AS min_score_packed,
       MAX(score) AS top_score
FROM packed
GROUP BY q_id
ORDER BY q_id
""", cos


@register(
    "rag_context_pack",
    oracle=_pack_sql("duckdb")[0],
    description="RAG context packing under a token budget: per query,"
    " greedy take of top-cosine candidates while the running token sum"
    " fits 600 — rank + prefix-sum windows over the bounded candidate"
    " pool, per-query packed-set census hashed (the context-window"
    " assembly step between retrieval and generation)",
    tags=("rag", "vector", "budget", "window"),
)
def rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step RAG serving actually ships: retrieval gives a ranked
    pool, the prompt has a token budget, and the packer takes
    best-first until the budget closes (greedy by rounded-4 score with
    vec_id tie-break — deterministic, and optimal when candidates are
    valued by rank). Shapes: the scored scan + per-query rank window
    bound the pool to PACK_POOL rows per query, so the token join
    against documents and the prefix-sum budget window run on
    queries×pool rows, not the corpus; both windows share the q_id
    partitioning (one shuffle). Token counts reuse the whitespace
    tokenizer contract of ta_token_stats (vec_id = doc_id in the
    fixtures; in production the chunk store carries its own token
    counts at write time)."""
    text, cos = _pack_sql("spark")
    spark_cos = "round(" + cosine_sql("e.embedding", "q.qv") + ", 4)"
    text = text.replace("rag_cos_ph", spark_cos)
    return sql(
        spark,
        text,
        embeddings=load_table(spark, sf_dir, "embeddings"),
        documents=load_table(spark, sf_dir, "documents"),
    )


#: Multi-query fusion: the expansion-variant query vectors, per-list
#: pool depth, and fused result size.
MQF_QUERY_IDS = (0, 1, 2)
MQF_POOL = 20
MQF_TOP = 10


@register(
    "rag_multi_query_fusion",
    oracle=f"""
WITH qs AS (
  SELECT vec_id AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id IN {MQF_QUERY_IDS}
),
cand AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id NOT IN {MQF_QUERY_IDS}
),
scored AS (
  SELECT q.query_id, c.vec_id,
         round({{cos}}, 4) AS score
  FROM cand c CROSS JOIN qs q
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rnk
  FROM scored
),
pooled AS (SELECT query_id, vec_id, rnk FROM ranked WHERE rnk <= {MQF_POOL}),
fused AS (
  SELECT vec_id,
         COUNT(*) AS n_lists,
         round(SUM(CAST(round(1.0 / (60 + rnk), 8) AS DECIMAL(18,8))), 8)
           AS rrf_score
  FROM pooled GROUP BY vec_id
)
SELECT vec_id, n_lists, CAST(rrf_score AS DOUBLE) AS rrf_score
FROM fused
ORDER BY rrf_score DESC, vec_id
LIMIT {MQF_TOP}
""".replace(
        "{cos}", duckdb_cosine("c.embedding", "q.qv")
    ),
    description="multi-query retrieval fusion (query expansion): three"
    " query variants each retrieve a rank pool, reciprocal-rank fusion"
    " merges them with appearance counts — the expansion/HyDE-style"
    " consensus retrieval that rewards docs several phrasings agree on",
    tags=("rag", "retrieval", "fusion", "expansion"),
)
def rag_multi_query_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query expansion retrieves with several REPHRASINGS of one
    intent (synonym rewrites, an LLM-hypothesized answer doc — here
    three fixture vectors standing in for the variant embeddings) and
    fuses by rank: RRF needs no score calibration across variants,
    and a doc surfacing in multiple lists gets a consensus boost
    (n_lists is carried in the hash). Scale shape: the variant set is
    a broadcast-sized build side against ONE corpus scan — adding
    variants widens the broadcast, never re-scans; the rank windows
    partition by query_id over that single scored stream; the fused
    table is ≤ variants·pool rows. Each reciprocal rank is rounded-8
    then decimal-summed (the float-Σ ordering discipline), so the
    fused scores — and the final heap top-10 — hash exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id").isin(*MQF_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = emb.filter(~F.col("vec_id").isin(*MQF_QUERY_IDS)).select(
        "vec_id", "embedding"
    )
    scored = cand.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "vec_id",
        cosine_score("embedding", "qv").alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    pooled = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= MQF_POOL)
    )
    fused = pooled.groupBy("vec_id").agg(
        F.count("*").alias("n_lists"),
        F.round(
            F.sum(
                F.round(F.lit(1.0) / (F.lit(60) + F.col("rnk")), 8).cast(
                    "decimal(18,8)"
                )
            ),
            8,
        )
        .cast("double")
        .alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("vec_id")).limit(
        MQF_TOP
    )


#: Parent-document retrieval: chunk geometry (char windows, reference
#: splitChunks parity) and the fixed lexical query.
PD_CHUNK_SIZE = 200
PD_CHUNK_OVERLAP = 40
PD_QUERY_TERMS = ("spark", "join", "merge")
PD_TOP_K = 5


@register(
    "rag_parent_doc_topk",
    oracle=f"""
WITH chunks AS (
  {duckdb_chunk_sql("documents", "doc_id", "text",
                    PD_CHUNK_SIZE, PD_CHUNK_OVERLAP)}
),
scored AS (
  SELECT doc_id, chunk,
         round(CAST(len(list_intersect(
                 list_distinct(string_split(chunk_text, ' ')),
                 {list(PD_QUERY_TERMS)!r}))
               AS DOUBLE) / {len(PD_QUERY_TERMS)}, 4) AS score
  FROM chunks
),
ranked AS (
  SELECT doc_id, chunk, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, chunk) AS rn
  FROM scored
),
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(COUNT(CASE WHEN score > 0 THEN 1 END) AS BIGINT)
           AS n_matching_chunks
  FROM scored GROUP BY doc_id
)
SELECT r.doc_id, r.chunk AS best_chunk, r.score AS best_score,
       p.n_chunks, p.n_matching_chunks
FROM ranked r JOIN per_doc p ON p.doc_id = r.doc_id
WHERE r.rn = 1
ORDER BY r.score DESC, r.doc_id
LIMIT {PD_TOP_K}
""",
    description="parent-document retrieval: score small chunks, return"
    " whole parent docs — per-doc best chunk (argmax with chunk-index"
    " tie-break), match counts, and the top-5 parents by best-chunk"
    " score; the small-to-big RAG pattern that retrieves precisely"
    " but reads contextually",
    tags=("rag", "chunks", "topk"),
)
def rag_parent_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small chunks retrieve precisely (less dilution per embedding)
    but LLMs want the surrounding context — so production RAG scores
    chunks and returns PARENTS (LangChain's ParentDocumentRetriever,
    LlamaIndex's small-to-big). The operator is that aggregation
    shape end-to-end: the reference-parity char-window chunker
    (functions/text.py splitChunks twin — a narrow posexplode, no
    shuffle) scores each chunk lexically against the fixed query
    terms (overlap fraction rounded 4 — the deterministic stand-in
    for a chunk-embedding cosine; the aggregation above it is
    identical either way), then ONE doc-keyed shuffle carries both
    the argmax chunk (row_number over (score DESC, chunk) — the
    rounded score is the sort key, chunk index breaks ties) and the
    match census, and TakeOrdered returns the top-5 parents. At
    100 TB the chunk explosion stays inside the scan stage and the
    only wide operation is the per-doc reduce."""
    docs = load_table(spark, sf_dir, "documents")
    from mcp_rag_server_spark.functions.text import chunk_array

    chunks = docs.select(
        "doc_id",
        F.posexplode(
            chunk_array("text", PD_CHUNK_SIZE, PD_CHUNK_OVERLAP)
        ).alias("chunk", "chunk_text"),
    )
    score = F.round(
        F.size(
            F.array_intersect(
                F.array_distinct(F.split(F.col("chunk_text"), " ")),
                F.array(*[F.lit(t) for t in PD_QUERY_TERMS]),
            )
        ).cast("double")
        / F.lit(float(len(PD_QUERY_TERMS))),
        4,
    )
    scored = chunks.select("doc_id", "chunk", score.alias("score"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("chunk"))
    ranked = scored.withColumn("rn", F.row_number().over(w))
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count(F.when(F.col("score") > 0, 1)).alias("n_matching_chunks"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .join(per_doc, "doc_id")
        .select(
            "doc_id",
            F.col("chunk").alias("best_chunk"),
            F.col("score").alias("best_score"),
            "n_chunks",
            "n_matching_chunks",
        )
        .orderBy(F.desc("best_score"), F.asc("doc_id"))
        .limit(PD_TOP_K)
    )
