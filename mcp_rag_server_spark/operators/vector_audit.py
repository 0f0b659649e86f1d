"""Embedding-dimension audits (round-4 additions to the ANN surface).

``sim_matryoshka_topk`` measures retrieval recall when scoring only a
PREFIX of each embedding — the Matryoshka representation-learning
deployment question (Kusupati et al. 2022, public): models trained with
MRL pack coarse-to-fine structure into prefixes, so serving can score
8/16/32 dims and rescore survivors at full width. The audit quantifies
what that costs on a given corpus: recall@k of each prefix width's
top-k against the full-width top-k, all from ONE scan.

Scale shape: identical to sim_ivf_recall — one scored pass feeds every
ranking (the stack/unpivot is free column math inside codegen), each
ranking is a bounded per-group window, and the overlap join touches k
rows per width. At 100 TB the full-width side is the sampled audit run,
exactly like production ANN recall monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, sql
from mcp_rag_server_spark.functions.vector import (
    cosine_score,
    duckdb_cosine,
    valid_embedding_sql,
)
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.session import fanout_width, spread_scan

#: Prefix widths audited (the last is the full fixture width = exact).
MAT_DIMS = (8, 16, 32, 64)
MAT_K = 10


def _duck_prefix_cosine(d: str) -> str:
    return duckdb_cosine(
        f"list_slice(e.embedding, 1, {d})", f"list_slice(q.qv, 1, {d})"
    )


@register(
    "sim_matryoshka_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
dims AS (SELECT unnest([{", ".join(map(str, MAT_DIMS))}]) AS n_dims),
scored AS (
  SELECT d.n_dims, e.vec_id,
         CASE d.n_dims
           {" ".join(f"WHEN {d} THEN round({_duck_prefix_cosine(d)}, 4)" for d in MAT_DIMS)}
         END AS score
  FROM embeddings e CROSS JOIN q CROSS JOIN dims d
),
exact_topk AS (
  SELECT vec_id FROM scored WHERE n_dims = {MAT_DIMS[-1]}
  ORDER BY score DESC, vec_id ASC LIMIT {MAT_K}
),
ranked AS (
  SELECT n_dims, vec_id,
         row_number() OVER (PARTITION BY n_dims
                            ORDER BY score DESC, vec_id ASC) AS rn
  FROM scored
),
overlap AS (
  SELECT r.n_dims, COUNT(*) AS n_overlap
  FROM ranked r JOIN exact_topk e USING (vec_id)
  WHERE r.rn <= {MAT_K}
  GROUP BY r.n_dims
)
SELECT d.n_dims,
       {MAT_K} AS k,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(COALESCE(o.n_overlap, 0) / {MAT_K}.0, 4) AS recall_at_k
FROM dims d LEFT JOIN overlap o USING (n_dims)
ORDER BY d.n_dims
""",
    description="Matryoshka prefix-dimension audit: recall@10 of top-k"
    " scored on the first 8/16/32 dims vs the full 64 — the"
    " dimension-vs-accuracy dial prefix-truncated serving is tuned by"
    " (the SQ8/IVF audits' sibling for width reduction)",
    tags=("similarity", "vector", "matryoshka", "recall"),
)
def sim_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four prefix scores are computed together (four codegen'd HOF
    folds over progressively longer slices of the same array — no
    shuffle for scoring); stack() unpivots them so each width's ranking
    is one bounded window, and overlap against the full-width top-k is
    a k-row broadcast join. Catalyst re-evaluates the scored subtree
    for the exact-topk branch (cheap here; at audit scale you'd
    checkpoint the scored sample once, as sim_ivf_recall notes)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    wide = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        *[
            cosine_score(
                f"slice(embedding, 1, {d})", f"slice(qv, 1, {d})"
            ).alias(f"s{d}")
            for d in MAT_DIMS
        ],
    )
    stack_args = ", ".join(f"{d}, s{d}" for d in MAT_DIMS)
    scored = wide.selectExpr(
        "vec_id", f"stack({len(MAT_DIMS)}, {stack_args}) AS (n_dims, score)"
    )
    exact_topk = (
        scored.filter(F.col("n_dims") == MAT_DIMS[-1])
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(MAT_K)
        .select("vec_id")
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("n_dims").orderBy(
                F.desc("score"), F.asc("vec_id")
            )
        ),
    )
    overlap = (
        ranked.filter(F.col("rn") <= MAT_K)
        .join(F.broadcast(exact_topk), "vec_id")
        .groupBy("n_dims")
        .agg(F.count("*").alias("n_overlap"))
    )
    dims = emb.limit(1).select(
        F.explode(F.array(*[F.lit(d) for d in MAT_DIMS])).alias("n_dims")
    )
    return (
        dims.join(overlap, "n_dims", "left")
        .select(
            "n_dims",
            F.lit(MAT_K).alias("k"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)) / F.lit(float(MAT_K)), 4
            ).alias("recall_at_k"),
        )
        .orderBy("n_dims")
    )


#: Product-quantization geometry: M subspaces × DSUB dims = 64, and a
#: 10-codeword codebook per subspace (the fixture's label partition is
#: the deterministic stand-in for a trained k-means codebook — same
#: role it plays for sim_ivf_topk's coarse quantizer).
PQ_M = 8
PQ_DSUB = 8
PQ_K = 5


PQ_NPROBE = 3


def label_dim_means(emb: DataFrame) -> DataFrame:
    """(label, dim, c): decimal-exact per-(label, element) means — the
    ONE N×D explode + shuffle that both quantizers derive from. The
    coarse centroids are these means collected per label; the PQ
    codebook is the SAME values re-keyed by subspace (m = dim div dsub,
    d = dim % dsub) — computing them once lets Catalyst reuse the
    (label, dim) exchange instead of exploding the corpus twice."""
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "xf"))
        .groupBy("label", "dim")
        .agg(
            (
                F.sum(
                    F.round(F.col("xf").cast("double"), 7).cast(
                        "decimal(18,7)"
                    )
                ).cast("double")
                / F.count("*")
            ).alias("c")
        )
    )


def pq_codewords(
    emb: DataFrame, means: DataFrame | None = None
) -> DataFrame:
    """(m, label, cvec): per-(subspace, label) codeword arrays from
    decimal-exact element means — the deterministic codebook. Pass a
    precomputed :func:`label_dim_means` frame to share its exchange
    with other consumers (sim_ivfpq_topk's coarse quantizer)."""
    cb = (means if means is not None else label_dim_means(emb)).select(
        F.expr(f"CAST(dim div {PQ_DSUB} AS INT)").alias("m"),
        "label",
        F.expr(f"CAST(dim % {PQ_DSUB} AS INT)").alias("d"),
        "c",
    )
    return cb.groupBy("m", "label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, c))), pq_s -> pq_s.c)"
        ).alias("cvec")
    )


def pq_assign(emb: DataFrame, cw: DataFrame) -> DataFrame:
    """(vec_id, m, label): nearest codeword per subspace — the index
    build (N×M narrow pass against the broadcast codebook)."""
    msub = emb.limit(1).select(
        F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m")
    )
    sv = emb.crossJoin(F.broadcast(msub)).select(
        "vec_id",
        "m",
        F.expr(f"slice(embedding, m * {PQ_DSUB} + 1, {PQ_DSUB})").alias("svec"),
    )
    dd = F.round(
        F.expr(
            "aggregate(zip_with(svec, cvec, (pq_x, pq_c) -> "
            "(CAST(pq_x AS DOUBLE) - pq_c) * (CAST(pq_x AS DOUBLE) - pq_c)), "
            "CAST(0 AS DOUBLE), (pq_acc, pq_v) -> pq_acc + pq_v)"
        ),
        6,
    )
    dist = sv.join(F.broadcast(cw), "m").select(
        "vec_id", "m", "label", dd.alias("dd")
    )
    return (
        dist.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id", "m").orderBy("dd", "label")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "label")
    )


def pq_qdot(cw: DataFrame, q: DataFrame) -> DataFrame:
    """(m, label, qd): per-query codeword dot table — the only per-query
    vector math ADC needs (k_codebooks × M rows)."""
    return cw.crossJoin(F.broadcast(q)).select(
        "m",
        "label",
        F.round(
            F.expr(
                f"aggregate(zip_with(slice(qv, m * {PQ_DSUB} + 1, {PQ_DSUB}),"
                " cvec, (pq_qx, pq_qc) -> CAST(pq_qx AS DOUBLE) * pq_qc),"
                " CAST(0 AS DOUBLE), (pq_qacc, pq_qv) -> pq_qacc + pq_qv)"
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("qd"),
    )


def pq_adc_scores(assign: DataFrame, qdot: DataFrame) -> DataFrame:
    """(vec_id, adc_raw): ADC score = sum of M table lookups."""
    return (
        assign.join(F.broadcast(qdot), ["m", "label"])
        .groupBy("vec_id")
        .agg(F.sum("qd").cast("double").alias("adc_raw"))
    )


#: Shared oracle CTE chain for the PQ family (q, elements, codebook,
#: assignment, qdot) — each query appends its own tail.
_PQ_CTES = f"""emb_v AS (
  -- valid_embedding gate: invalid vectors (NULL / wrong-dim /
  -- NULL-or-NaN-element) are dropped by contract on BOTH engines
  -- (census: sim_embedding_validate) — ungated, a NaN element flowed
  -- into the codeword means and DuckDB's decimal cast errored while
  -- Spark silently NULLed (r12 dirty sweep, NaN-element fixture row)
  SELECT * FROM embeddings WHERE {valid_embedding_sql('duckdb')}
),
q AS (SELECT embedding AS qv FROM emb_v WHERE vec_id = 0),
pos AS (SELECT unnest(range(1, {PQ_M * PQ_DSUB} + 1)) AS i),
elem AS (
  SELECT e.vec_id, e.label,
         CAST((p.i - 1) // {PQ_DSUB} AS INT) AS m,
         CAST((p.i - 1) % {PQ_DSUB} AS INT) AS d,
         CAST(e.embedding[p.i] AS DOUBLE) AS x
  FROM emb_v e CROSS JOIN pos p
),
cb AS (
  SELECT m, label, d,
         CAST(SUM(CAST(round(x, 7) AS DECIMAL(18,7))) AS DOUBLE)
           / COUNT(*) AS c
  FROM elem GROUP BY m, label, d
),
cw AS (SELECT m, label, list(c ORDER BY d) AS cvec FROM cb GROUP BY m, label),
msub AS (SELECT unnest(range(0, {PQ_M})) AS m),
sv AS (
  SELECT e.vec_id, ms.m,
         list_slice(e.embedding, ms.m * {PQ_DSUB} + 1,
                    ms.m * {PQ_DSUB} + {PQ_DSUB}) AS svec
  FROM emb_v e CROSS JOIN msub ms
),
dist AS (
  SELECT s.vec_id, s.m, c.label,
         round(list_sum(list_transform(range(1, {PQ_DSUB} + 1),
               i -> (CAST(s.svec[i] AS DOUBLE) - c.cvec[i])
                    * (CAST(s.svec[i] AS DOUBLE) - c.cvec[i]))), 6) AS dd
  FROM sv s JOIN cw c ON c.m = s.m
),
assign AS (
  SELECT vec_id, m, label FROM (
    SELECT vec_id, m, label,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY dd, label) AS rn
    FROM dist) WHERE rn = 1
),
qdot AS (
  SELECT c.m, c.label,
         CAST(round(list_sum(list_transform(range(1, {PQ_DSUB} + 1),
               i -> CAST(q.qv[c.m * {PQ_DSUB} + i] AS DOUBLE) * c.cvec[i])), 6)
              AS DECIMAL(18,6)) AS qd
  FROM cw c CROSS JOIN q
)"""


@register(
    "sim_pq_adc_topk",
    oracle=f"""
WITH {_PQ_CTES},
adc AS (
  SELECT a.vec_id, CAST(SUM(qd.qd) AS DOUBLE) AS adc_raw
  FROM assign a JOIN qdot qd ON qd.m = a.m AND qd.label = a.label
  GROUP BY a.vec_id
)
SELECT e.vec_id, e.label,
       round(adc.adc_raw, 4) AS adc_score,
       round({duckdb_cosine('e.embedding', 'q.qv')}, 4) AS exact_score
-- join-back on RAW embeddings: adc vec_ids are already gated, so
-- this fetch is equivalent to emb_v but skips a redundant gate pass
FROM adc JOIN embeddings e USING (vec_id) CROSS JOIN q
ORDER BY adc_score DESC, e.vec_id ASC
LIMIT {PQ_K}
""",
    description="product-quantization ADC top-k: 8x8 subspace codebooks"
    " (per-label means as the deterministic codebook), nearest-codeword"
    " assignment, asymmetric-distance scoring from a precomputed"
    " query-to-codeword table, exact cosine alongside — the"
    " memory-bound ANN scale path beyond SQ8",
    tags=("similarity", "vector", "quantization", "pq", "topk"),
    bench=True,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compresses each vector to M=8 codeword ids (here 8×~3.3 bits
    vs 64×4 bytes) and scores queries WITHOUT decompressing: ADC
    (asymmetric distance computation, Jégou et al. 2011, public) sums M
    precomputed query-to-codeword products. Pipeline: (1) codebook =
    per-(subspace, label) element means — decimal-summed so both
    engines get bit-identical codewords; (2) assignment = broadcast
    join of N×M subvectors against the 80-codeword table, argmin by
    rounded L2 with label tie-break; (3) the 80-entry qdot table is
    the per-query lookup — scoring a vector is 8 adds of
    decimal-rounded doubles, no vector math at query time. At 100 TB
    the codebook and qdot tables stay broadcast-sized (k_codebooks ×
    256 rows) no matter the corpus; the only big operand is the
    narrow N×M assignment pass, done once at index build. r14: the
    gated corpus is spread_scan'd on vec_id so the codebook element
    explode and the N×M nearest-codeword folds parallelize on
    single-row-group fixture layouts (guide §2.5)."""
    # valid_embedding gate — mirrors the oracle's emb_v CTE (a NaN
    # element otherwise reaches the codeword means: silent NULL on
    # Spark's decimal cast, an error on DuckDB's)
    emb = spread_scan(
        load_table(spark, sf_dir, "embeddings"), "vec_id"
    ).filter(F.expr(valid_embedding_sql("spark")))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cw = pq_codewords(emb)
    adc = pq_adc_scores(pq_assign(emb, cw), pq_qdot(cw, q))
    # join-back on the RAW table: adc ids are already gated (oracle twin)
    emb_raw = load_table(spark, sf_dir, "embeddings")
    return (
        adc.join(emb_raw, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round("adc_raw", 4).alias("adc_score"),
            cosine_score("embedding", "qv").alias("exact_score"),
        )
        .orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(PQ_K)
    )


@register(
    "sim_ivfpq_topk",
    oracle=f"""
WITH {_PQ_CTES},
cent AS (
  SELECT label,
         list(c ORDER BY dim) AS cvec64
  FROM (
    SELECT label, m * {PQ_DSUB} + d AS dim,
           CAST(SUM(CAST(round(x, 7) AS DECIMAL(18,7))) AS DOUBLE)
             / COUNT(*) AS c
    FROM elem GROUP BY label, m * {PQ_DSUB} + d
  ) GROUP BY label
),
cellrank AS (
  SELECT label FROM (
    SELECT c.label,
           row_number() OVER (ORDER BY
             round(list_sum(list_transform(range(1, {PQ_M * PQ_DSUB} + 1),
                   i -> (CAST(q.qv[i] AS DOUBLE) - c.cvec64[i])
                        * (CAST(q.qv[i] AS DOUBLE) - c.cvec64[i]))), 6) ASC,
             c.label ASC) AS rnk
    FROM cent c CROSS JOIN q
  ) WHERE rnk <= {PQ_NPROBE}
),
cand AS (
  SELECT e.vec_id, e.label FROM emb_v e
  JOIN cellrank cr ON e.label = cr.label
),
adc AS (
  SELECT a.vec_id, CAST(SUM(qd.qd) AS DOUBLE) AS adc_raw
  FROM assign a
  JOIN cand ON cand.vec_id = a.vec_id
  JOIN qdot qd ON qd.m = a.m AND qd.label = a.label
  GROUP BY a.vec_id
)
SELECT e.vec_id, e.label,
       round(adc.adc_raw, 4) AS adc_score,
       round({duckdb_cosine('e.embedding', 'q.qv')}, 4) AS exact_score
-- join-back on RAW embeddings: adc vec_ids are already gated, so
-- this fetch is equivalent to emb_v but skips a redundant gate pass
FROM adc JOIN embeddings e USING (vec_id) CROSS JOIN q
ORDER BY adc_score DESC, e.vec_id ASC
LIMIT {PQ_K}
""",
    description="IVF+PQ top-k (the FAISS IVFPQ layout): rank coarse"
    " cells by centroid distance to the query, prune to nprobe=3 cells,"
    " ADC-score only the surviving candidates from their precomputed"
    " codes — cell pruning bounds the scan, PQ bounds the bytes",
    tags=("similarity", "vector", "ivf", "pq", "quantization", "topk"),
    bench=True,
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition production ANN serves (Jégou et al. 2011): the
    coarse quantizer (full-width per-label centroids, decimal-exact)
    selects nprobe cells by centroid-to-query distance, and only those
    cells' vectors are scored — via their PQ codes and the qdot lookup
    table, no full-width vector math per candidate. The valid_embedding
    gate costs a measured ~16% here (interleaved A/B at sf0.1: the
    corpus is scanned by q/means/assign, each re-applying the scan
    predicate; the gated ids' join-back fetch uses the RAW table to
    avoid a fourth pass) — the price of defined dirty semantics on a
    quantization audit; at 100 TB you validate once into a quarantined
    corpus and this gate is a no-op scan predicate. At 100 TB the cell
    column is the partition key (partition pruning IS the cell prune),
    codes are the only bytes the query touches, and both the centroid
    and qdot tables stay broadcast-sized. r14: spread_scan on vec_id
    (same rationale as sim_pq_adc_topk — parallel codebook/assignment
    passes over the single-row-group fixture scan)."""
    # valid_embedding gate — mirrors the oracle's emb_v CTE
    emb = spread_scan(
        load_table(spark, sf_dir, "embeddings"), "vec_id"
    ).filter(F.expr(valid_embedding_sql("spark")))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    means = label_dim_means(emb)  # shared with the PQ codebook below
    cent = means.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, c))), pq_t -> pq_t.c)"
        ).alias("cvec64")
    )
    cdist = F.round(
        F.expr(
            "aggregate(zip_with(qv, cvec64, (pq_cx, pq_cc) -> "
            "(CAST(pq_cx AS DOUBLE) - pq_cc) * (CAST(pq_cx AS DOUBLE) - pq_cc)), "
            "CAST(0 AS DOUBLE), (pq_cacc, pq_cv) -> pq_cacc + pq_cv)"
        ),
        6,
    )
    cells = (
        cent.crossJoin(F.broadcast(q))
        .select("label", cdist.alias("cd"))
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.asc("cd"), F.asc("label"))),
        )
        .filter(F.col("rnk") <= PQ_NPROBE)
        .select("label")
    )
    cand_emb = emb.join(F.broadcast(cells), "label")
    cw = pq_codewords(emb, means=means)
    # Encode ONLY the probed cells' vectors: per-vector assignment is
    # independent, so the cell prune pushes below the PQ encode — at
    # scale this is partition pruning doing the same thing to the scan.
    assign = pq_assign(cand_emb, cw)
    adc = pq_adc_scores(assign, pq_qdot(cw, q))
    # join-back on the RAW table: adc ids are already gated (oracle twin)
    emb_raw = load_table(spark, sf_dir, "embeddings")
    return (
        adc.join(emb_raw, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round("adc_raw", 4).alias("adc_score"),
            cosine_score("embedding", "qv").alias("exact_score"),
        )
        .orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(PQ_K)
    )


def _pq_dist(cw: DataFrame, sv: DataFrame) -> DataFrame:
    """(vec_id, m, label, dd, svec): every subvector scored against every
    codeword of its subspace (broadcast codebook, codegen fold)."""
    dd = F.round(
        F.expr(
            "aggregate(zip_with(svec, cvec, (pt_x, pt_c) -> "
            "(CAST(pt_x AS DOUBLE) - pt_c) * (CAST(pt_x AS DOUBLE) - pt_c)), "
            "CAST(0 AS DOUBLE), (pt_acc, pt_v) -> pt_acc + pt_v)"
        ),
        6,
    )
    return sv.join(F.broadcast(cw), "m").select(
        "vec_id", "m", "label", dd.alias("dd"), "svec"
    )


def _pq_argmin(dist: DataFrame) -> DataFrame:
    """(vec_id, m, label, dd, svec): nearest codeword via the map-side
    arg-min aggregation (min(struct(dd, label)) — same (dd, label)
    tie-break as a rank-1 window without shuffling the k scored copies,
    the clustering.py _assign layout)."""
    return (
        dist.groupBy("vec_id", "m")
        .agg(
            F.min(F.struct("dd", "label")).alias("b"),
            F.first("svec").alias("svec"),
        )
        .select(
            "vec_id",
            "m",
            F.col("b.label").alias("label"),
            F.col("b.dd").alias("dd"),
            "svec",
        )
    )


def _pq_err(assign: DataFrame, err_name: str, used_name: str) -> DataFrame:
    """Per-subspace distortion + codeword usage from an assignment."""
    return assign.groupBy("m").agg(
        F.countDistinct("label").alias(used_name),
        F.round(
            F.sum(F.col("dd").cast("decimal(18,6)")).cast("double"), 4
        ).alias(err_name),
    )


_PQT_DIST_SQL = (
    "round(list_sum(list_transform(range(1, {dsub} + 1), "
    "i -> (CAST(s.svec[i] AS DOUBLE) - c.cvec[i]) "
    "* (CAST(s.svec[i] AS DOUBLE) - c.cvec[i]))), 6)"
)


@register(
    "sim_pq_train",
    oracle=f"""
WITH pos AS (SELECT unnest(range(1, {PQ_M * PQ_DSUB} + 1)) AS i),
emb_v AS (
  -- valid_embedding gate: invalid vectors are dropped by contract
  -- on BOTH engines (census: sim_embedding_validate)
  SELECT * FROM embeddings WHERE {valid_embedding_sql('duckdb')}
),
elem AS (
  SELECT e.vec_id, e.label,
         CAST((p.i - 1) // {PQ_DSUB} AS INT) AS m,
         CAST((p.i - 1) % {PQ_DSUB} AS INT) AS d,
         CAST(e.embedding[p.i] AS DOUBLE) AS x
  FROM emb_v e CROSS JOIN pos p
),
cb0 AS (
  SELECT m, label, d,
         CAST(SUM(CAST(round(x, 7) AS DECIMAL(18,7))) AS DOUBLE)
           / COUNT(*) AS c
  FROM elem GROUP BY m, label, d
),
cw0 AS (SELECT m, label, list(c ORDER BY d) AS cvec FROM cb0 GROUP BY m, label),
msub AS (SELECT unnest(range(0, {PQ_M})) AS m),
sv AS (
  SELECT e.vec_id, ms.m,
         list_slice(e.embedding, ms.m * {PQ_DSUB} + 1,
                    ms.m * {PQ_DSUB} + {PQ_DSUB}) AS svec
  FROM emb_v e CROSS JOIN msub ms
),
dist0 AS (
  SELECT s.vec_id, s.m, c.label, {_PQT_DIST_SQL.format(dsub=PQ_DSUB)} AS dd
  FROM sv s JOIN cw0 c ON c.m = s.m
),
a0 AS (
  SELECT vec_id, m, label, dd FROM (
    SELECT vec_id, m, label, dd,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, label) AS rn
    FROM dist0) WHERE rn = 1
),
cb1 AS (
  SELECT a.m, a.label, el.d,
         CAST(SUM(CAST(round(el.x, 7) AS DECIMAL(18,7))) AS DOUBLE)
           / COUNT(*) AS c
  FROM a0 a JOIN elem el ON el.vec_id = a.vec_id AND el.m = a.m
  GROUP BY a.m, a.label, el.d
),
cw1 AS (SELECT m, label, list(c ORDER BY d) AS cvec FROM cb1 GROUP BY m, label),
dist1 AS (
  SELECT s.vec_id, s.m, c.label, {_PQT_DIST_SQL.format(dsub=PQ_DSUB)} AS dd
  FROM sv s JOIN cw1 c ON c.m = s.m
),
a1 AS (
  SELECT vec_id, m, label, dd FROM (
    SELECT vec_id, m, label, dd,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, label) AS rn
    FROM dist1) WHERE rn = 1
),
agg0 AS (
  SELECT m, COUNT(DISTINCT label) AS n_used_seed,
         round(CAST(SUM(CAST(dd AS DECIMAL(18,6))) AS DOUBLE), 4) AS err_seed
  FROM a0 GROUP BY m
),
agg1 AS (
  SELECT m, COUNT(DISTINCT label) AS n_used_refined,
         round(CAST(SUM(CAST(dd AS DECIMAL(18,6))) AS DOUBLE), 4) AS err_refined
  FROM a1 GROUP BY m
)
SELECT m, n_used_seed, n_used_refined, err_seed, err_refined,
       err_refined <= err_seed AS improved
FROM agg0 JOIN agg1 USING (m)
ORDER BY m
""",
    description="PQ codebook training (one Lloyd refinement per"
    " subspace): seed codewords from per-label means, re-estimate from"
    " the nearest-codeword assignment, and report per-subspace"
    " distortion before/after plus codeword usage — the training step"
    " sim_pq_adc_topk/sim_ivfpq_topk consume a finished codebook from",
    tags=("similarity", "vector", "quantization", "pq", "iterative"),
)
def sim_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd on each of the M=8 subspaces independently, in ONE plan:
    the subvector table (vec_id, m, svec) is built once; each iteration
    is a broadcast-codebook scoring pass plus an arg-min aggregation
    (map-side combined — one row per (vec_id, m) crosses the wire), and
    the codebook update is one (m, label, d) decimal-mean shuffle.
    Monotonicity of Lloyd (distortion never increases) is ASSERTED by
    the hashed `improved` column — a wrong tie-break or drifted centroid
    flips it. At 100 TB the codebook stays broadcast-sized (M × k ×
    dsub doubles) and every wide stage is keyed by (vec_id, m) or
    (m, label, d) — the same distributed-Lloyd layout clustering.py
    documents, ×M subspaces."""
    # valid_embedding gate — mirrors the oracle's emb_v CTE
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.expr(valid_embedding_sql("spark"))
    )
    cw0 = pq_codewords(emb)
    msub = emb.limit(1).select(
        F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m")
    )
    sv = emb.crossJoin(F.broadcast(msub)).select(
        "vec_id",
        "m",
        F.expr(f"slice(embedding, m * {PQ_DSUB} + 1, {PQ_DSUB})").alias("svec"),
    )
    a0 = _pq_argmin(_pq_dist(cw0, sv))
    cb1e = a0.select(
        "m", "label", F.posexplode("svec").alias("pd", "xf")
    ).select(
        "m",
        "label",
        F.col("pd").cast("int").alias("d"),
        F.col("xf").cast("double").alias("x"),
    )
    cw1 = (
        cb1e.groupBy("m", "label", "d")
        .agg(
            (
                F.sum(F.round(F.col("x"), 7).cast("decimal(18,7)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("c")
        )
        .groupBy("m", "label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d, c))), pt_s -> pt_s.c)"
            ).alias("cvec")
        )
    )
    a1 = _pq_argmin(_pq_dist(cw1, sv))
    return (
        _pq_err(a0, "err_seed", "n_used_seed")
        .join(_pq_err(a1, "err_refined", "n_used_refined"), "m")
        .select(
            "m",
            "n_used_seed",
            "n_used_refined",
            "err_seed",
            "err_refined",
            (F.col("err_refined") <= F.col("err_seed")).alias("improved"),
        )
        .orderBy("m")
    )


#: Embedding dimensionality for the drift audit (matches the fixture).
DRIFT_DIMS = 64


@register(
    "sim_centroid_drift",
    oracle=f"""
WITH pos AS (SELECT unnest(range(1, {DRIFT_DIMS} + 1)) AS i),
emb_v AS (
  -- valid_embedding gate: invalid vectors are dropped by contract
  -- on BOTH engines (census: sim_embedding_validate)
  SELECT * FROM embeddings WHERE {valid_embedding_sql('duckdb')}
),
elem AS (
  SELECT e.label, e.vec_id % 2 AS half, CAST(p.i - 1 AS INT) AS d,
         CAST(e.embedding[p.i] AS DOUBLE) AS x
  FROM emb_v e CROSS JOIN pos p
),
means AS (
  SELECT label, half, d,
         CAST(SUM(CAST(round(x, 7) AS DECIMAL(18,7))) AS DOUBLE)
           / COUNT(*) AS c
  FROM elem GROUP BY label, half, d
),
counts AS (
  SELECT label,
         CAST(COUNT(DISTINCT CASE WHEN vec_id % 2 = 0 THEN vec_id END)
              AS BIGINT) AS n_first,
         CAST(COUNT(DISTINCT CASE WHEN vec_id % 2 = 1 THEN vec_id END)
              AS BIGINT) AS n_second
  FROM emb_v GROUP BY label
),
paired AS (
  SELECT a.label, a.d, a.c AS ca, b.c AS cb
  FROM means a JOIN means b
    ON a.label = b.label AND a.d = b.d AND a.half = 0 AND b.half = 1
),
sums AS (
  SELECT label,
         CAST(SUM(CAST(round(ca * cb, 8) AS DECIMAL(18,8))) AS DOUBLE)
           AS dot,
         CAST(SUM(CAST(round(ca * ca, 8) AS DECIMAL(18,8))) AS DOUBLE)
           AS na,
         CAST(SUM(CAST(round(cb * cb, 8) AS DECIMAL(18,8))) AS DOUBLE)
           AS nb
  FROM paired GROUP BY label
)
SELECT s.label, c.n_first, c.n_second,
       round(s.dot / (sqrt(s.na) * sqrt(s.nb)), 6) AS drift_cosine
FROM sums s JOIN counts c ON c.label = s.label
ORDER BY s.label
""",
    description="index-staleness audit: per label, the cosine between"
    " the centroid of even-id vectors and the centroid of odd-id"
    " vectors (two disjoint halves standing in for index-build-time vs"
    " current data) — a drift cosine near 1 means the coarse quantizer"
    " still fits; decimal-exact means and rounded-product sums make"
    " the statistic hash across engines",
    tags=("similarity", "vector", "audit", "drift"),
)
def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/PQ codebooks are trained once and age as data arrives; the
    operational question is WHEN to retrain. The standard cheap answer
    compares the trained-time centroids against centroids of recent
    data — here the even/odd vec_id halves give two deterministic
    disjoint samples per label (the production form feeds build-time
    and current snapshots). Each half's centroid uses the same
    decimal-exact elementwise mean as the k-means trainer; the
    64-term cosine sums round each product to 8 then decimal-sum
    (float Σ order is engine-dependent — the rounding makes it not
    matter), so the drift cosine itself is hashable. Everything
    partial-aggregates: element rows → (label, half, d) means →
    64-row-per-label joins — no full-vector shuffles, no windows."""
    # valid_embedding gate — mirrors the oracle's emb_v CTE
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.expr(valid_embedding_sql("spark"))
    )
    elem = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding")).alias("d", "x"),
    )
    means = elem.groupBy("label", "half", "d").agg(
        (
            F.sum(F.round(F.col("x").cast("double"), 7).cast("decimal(18,7)"))
            .cast("double")
            / F.count("*")
        ).alias("c")
    )
    counts = emb.groupBy("label").agg(
        F.countDistinct(
            F.when(F.col("vec_id") % 2 == 0, F.col("vec_id"))
        )
        .cast("bigint")
        .alias("n_first"),
        F.countDistinct(
            F.when(F.col("vec_id") % 2 == 1, F.col("vec_id"))
        )
        .cast("bigint")
        .alias("n_second"),
    )
    a = means.filter(F.col("half") == 0).select(
        "label", "d", F.col("c").alias("ca")
    )
    b = means.filter(F.col("half") == 1).select(
        "label", "d", F.col("c").alias("cb")
    )
    dsum8 = lambda e: F.sum(F.round(e, 8).cast("decimal(18,8)")).cast(
        "double"
    )
    sums = (
        a.join(b, ["label", "d"])
        .groupBy("label")
        .agg(
            dsum8(F.col("ca") * F.col("cb")).alias("dot"),
            dsum8(F.col("ca") * F.col("ca")).alias("na"),
            dsum8(F.col("cb") * F.col("cb")).alias("nb"),
        )
    )
    return (
        sums.join(counts, "label")
        .select(
            "label",
            "n_first",
            "n_second",
            F.round(
                F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))),
                6,
            ).alias("drift_cosine"),
        )
        .orderBy("label")
    )


#: Johnson-Lindenstrauss audit geometry: project 64 dims onto JL_K
#: md5-derived ±1 hyperplanes (scaled 1/sqrt(JL_K)), measure pairwise
#: squared-distance distortion over the JL_PAIR_SAMPLE lowest-md5
#: vectors (bounded: the audit cost is sample², constant in corpus
#: size — the AUDIT_SAMPLE_ROWS discipline).
JL_K = 16
JL_DIM = 64
JL_PAIR_SAMPLE = 50
JL_EPS = 0.5


def _jl_oracle() -> str:
    sign = (
        "CASE WHEN CAST('0x' || substr(md5('jl:' || CAST(k AS VARCHAR)"
        " || ':' || CAST(i AS VARCHAR)), 1, 1) AS BIGINT) % 2 = 0"
        " THEN 1 ELSE -1 END"
    )
    return f"""
WITH samp AS (
  SELECT vec_id, embedding FROM embeddings
  ORDER BY md5('jls:' || CAST(vec_id AS VARCHAR)) LIMIT {JL_PAIR_SAMPLE}
),
el AS (
  SELECT vec_id, u.i, CAST(embedding[u.i + 1] AS DOUBLE) AS x
  FROM samp CROSS JOIN (SELECT unnest(range(0, {JL_DIM})) AS i) u
),
r AS (
  SELECT k, i, {sign} AS s
  FROM (SELECT unnest(range(0, {JL_K})) AS k)
  CROSS JOIN (SELECT unnest(range(0, {JL_DIM})) AS i)
),
proj AS (
  SELECT e.vec_id, r.k,
         CAST(SUM(CAST(round(r.s * e.x, 8) AS DECIMAL(28,8)))
              AS DOUBLE) / sqrt({JL_K}) AS y
  FROM el e JOIN r ON r.i = e.i
  GROUP BY e.vec_id, r.k
),
prs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM samp a JOIN samp b ON a.vec_id < b.vec_id
),
od AS (
  SELECT p.va, p.vb,
         CAST(SUM(CAST(round((ea.x - eb.x) * (ea.x - eb.x), 8)
                       AS DECIMAL(28,8))) AS DOUBLE) AS d2
  FROM prs p
  JOIN el ea ON ea.vec_id = p.va
  JOIN el eb ON eb.vec_id = p.vb AND eb.i = ea.i
  GROUP BY p.va, p.vb
),
pd AS (
  SELECT p.va, p.vb,
         CAST(SUM(CAST(round((pa.y - pb.y) * (pa.y - pb.y), 8)
                       AS DECIMAL(28,8))) AS DOUBLE) AS d2
  FROM prs p
  JOIN proj pa ON pa.vec_id = p.va
  JOIN proj pb ON pb.vec_id = p.vb AND pb.k = pa.k
  GROUP BY p.va, p.vb
),
ratios AS (
  SELECT CAST(round(pd.d2 / od.d2, 6) AS DECIMAL(18,6)) AS rr
  FROM od JOIN pd ON pd.va = od.va AND pd.vb = od.vb
  WHERE od.d2 > 0
)
SELECT {JL_K} AS k_dims,
       COUNT(*) AS n_pairs,
       round(CAST(SUM(rr) AS DOUBLE) / COUNT(*), 6) AS mean_ratio_sq,
       round(CAST(MIN(rr) AS DOUBLE), 6) AS min_ratio_sq,
       round(CAST(MAX(rr) AS DOUBLE), 6) AS max_ratio_sq,
       round(CAST(COUNT(CASE WHEN abs(CAST(rr AS DOUBLE) - 1)
                              <= {JL_EPS} THEN 1 END) AS DOUBLE)
             / COUNT(*), 6) AS share_within_eps
FROM ratios
"""


@register(
    "sim_random_projection_jl",
    oracle=_jl_oracle(),
    description="Johnson-Lindenstrauss projection audit: 64 dims onto"
    " 16 md5-derived ±1 hyperplanes (data-independent, train-free),"
    " pairwise squared-distance distortion over a bounded sample —"
    " mean/min/max ratio and the share inside the ±50% JL band, the"
    " readout that says how much cheap dimension folding costs",
    tags=("similarity", "vector", "quantization", "audit", "sampling"),
)
def sim_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JL lemma says a data-INDEPENDENT random projection roughly
    preserves pairwise distances — no training pass, no codebook, a
    sign matrix derived from md5 text (engine-identical, no RNG), so
    unlike PCA/PQ it works before any data exists. The audit measures
    what the lemma promises: squared-distance ratios over sample
    pairs, distances computed RELATIONALLY (dim-keyed joins +
    rounded-decimal sums — no array-fold ordering to trust), sample
    and hyperplane counts constant in corpus size. At 16 dims for 64
    the distortion is honest (k ≪ the 8/ε² lemma bound): the hashed
    min/max/share columns are the evidence for choosing k, exactly
    the sweep a production reducer runs before committing to a
    projection width."""
    emb = load_table(spark, sf_dir, "embeddings")
    samp = (
        emb.orderBy(
            F.md5(F.concat(F.lit("jls:"), F.col("vec_id").cast("string")))
        )
        .limit(JL_PAIR_SAMPLE)
        .select("vec_id", "embedding")
    )
    el = samp.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    r = (
        spark.range(JL_K)
        .select(F.col("id").alias("k"))
        .crossJoin(spark.range(JL_DIM).select(F.col("id").alias("i")))
        .select(
            "k",
            "i",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("jl:"),
                                F.col("k").cast("string"),
                                F.lit(":"),
                                F.col("i").cast("string"),
                            )
                        ),
                        1,
                        1,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
                == 0,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("s"),
        )
    )
    proj = (
        el.join(F.broadcast(r), "i")
        .groupBy("vec_id", "k")
        .agg(
            (
                F.sum(
                    F.round(F.col("s") * F.col("x"), 8).cast("decimal(28,8)")
                ).cast("double")
                / F.sqrt(F.lit(JL_K))
            ).alias("y")
        )
    )
    sa = samp.select(F.col("vec_id").alias("va"))
    sb = samp.select(F.col("vec_id").alias("vb"))
    prs = sa.join(F.broadcast(sb), F.col("va") < F.col("vb"))
    ea = el.select(F.col("vec_id").alias("va"), "i", F.col("x").alias("xa"))
    eb = el.select(F.col("vec_id").alias("vb"), "i", F.col("x").alias("xb"))
    od = (
        prs.join(ea, "va")
        .join(eb, ["vb", "i"])
        .groupBy("va", "vb")
        .agg(
            F.sum(
                F.round(
                    (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")),
                    8,
                ).cast("decimal(28,8)")
            )
            .cast("double")
            .alias("od2")
        )
    )
    pa = proj.select(F.col("vec_id").alias("va"), "k", F.col("y").alias("ya"))
    pb = proj.select(F.col("vec_id").alias("vb"), "k", F.col("y").alias("yb"))
    pd_ = (
        prs.join(pa, "va")
        .join(pb, ["vb", "k"])
        .groupBy("va", "vb")
        .agg(
            F.sum(
                F.round(
                    (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")),
                    8,
                ).cast("decimal(28,8)")
            )
            .cast("double")
            .alias("pd2")
        )
    )
    ratios = (
        od.join(pd_, ["va", "vb"])
        .filter(F.col("od2") > 0)
        .select(
            F.round(F.col("pd2") / F.col("od2"), 6)
            .cast("decimal(18,6)")
            .alias("rr")
        )
    )
    return ratios.agg(
        F.lit(JL_K).alias("k_dims"),
        F.count("*").alias("n_pairs"),
        F.round(F.sum("rr").cast("double") / F.count("*"), 6).alias(
            "mean_ratio_sq"
        ),
        F.round(F.min("rr").cast("double"), 6).alias("min_ratio_sq"),
        F.round(F.max("rr").cast("double"), 6).alias("max_ratio_sq"),
        F.round(
            F.count(
                F.when(
                    F.abs(F.col("rr").cast("double") - 1) <= JL_EPS, 1
                )
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("share_within_eps"),
    )


#: Compression-frontier audit: queries, cutoff, and the ladder rungs'
#: storage cost (bytes per 64-dim vector).
CF_QUERIES = 10
CF_K = 5
CF_JL_K = 16


_CF_SIGN_SPARK = (
    "CASE WHEN CAST(conv(substr(md5(concat('jl:',"
    " CAST(k AS STRING), ':', CAST(i AS STRING))), 1, 1),"
    " 16, 10) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
)


def _frontier_proj_sql(width: int = 32) -> str:
    """Standalone Spark statement for the JL sign-projection — the
    (vec_id, k, y) table the operator localCheckpoints as
    ``cf_proj_v`` (it is consumed four times downstream; inline it
    re-ran per consumer). Identical arithmetic to the DuckDB oracle's
    inline ``proj`` CTE."""
    return f"""
WITH emb_v AS (SELECT * FROM embeddings
               WHERE {valid_embedding_sql("spark")}),
elx AS (SELECT /*+ REPARTITION({width}, vec_id) */
                    vec_id, posexplode(embedding) AS (i0, xf)
             FROM emb_v),
el AS (SELECT vec_id, i0 AS i, CAST(xf AS DOUBLE) AS x FROM elx),
r AS (
  SELECT k, i, {_CF_SIGN_SPARK} AS s
  FROM (SELECT explode(sequence(0, {CF_JL_K - 1})) AS k) kk CROSS JOIN
       (SELECT explode(sequence(0, 63)) AS i) ii
)
SELECT e.vec_id, r.k,
       CAST(SUM(CAST(round(r.s * e.x, 8) AS DECIMAL(28,8)))
            AS DOUBLE) / 4.0 AS y
FROM el e JOIN r ON r.i = e.i
GROUP BY e.vec_id, r.k
"""


def _frontier_hits_sql(dialect: str, staged: bool = False, width: int = 32) -> str:
    """The expensive core of the bytes-vs-recall frontier — float32
    (truth), SQ8 dequantized cosine, JL-16 projected cosine, and 1-bit
    sign/Hamming, all ranked against the exact top-{CF_K} — reduced to
    ONE row of hit counts. ``staged=True`` (Spark execution) reads the
    JL projection from the checkpointed ``cf_proj_v`` relation instead of
    inlining it."""
    from mcp_rag_server_spark.functions.vector import cosine_sql
    from mcp_rag_server_spark.operators.late_interaction import (
        _pack_duck,
        _pack_spark,
    )

    if dialect == "spark":
        cos = cosine_sql
        pack = _pack_spark
        dims = ("SELECT explode(sequence(0, 63)) AS i", )[0]
        ks = "SELECT explode(sequence(0, {k})) AS k"
        elx = ("SELECT vec_id, posexplode(embedding) AS (i0, xf)"
               " FROM emb_v")
        el_fix = "SELECT vec_id, i0 AS i, CAST(xf AS DOUBLE) AS x FROM elx"
        sign = _CF_SIGN_SPARK
        bitcnt = "bit_count"
        xor = "c.lo ^ qc.q_lo"
        xor2 = "c.hi ^ qc.q_hi"
    else:
        cos = duckdb_cosine
        pack = _pack_duck
        ks = "SELECT unnest(range(0, {k})) AS k"
        elx = None
        sign = ("CASE WHEN CAST('0x' || substr(md5('jl:' ||"
                " CAST(k AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)"
                " AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END")
        bitcnt = "bit_count"
        xor = "xor(c.lo, qc.q_lo)"
        xor2 = "xor(c.hi, qc.q_hi)"
    if dialect == "spark":
        el_cte = f"elx AS ({elx}),\nel AS ({el_fix})"
    else:
        el_cte = ("el AS (SELECT vec_id, u.i,"
                  " CAST(embedding[u.i + 1] AS DOUBLE) AS x"
                  " FROM emb_v CROSS JOIN"
                  " (SELECT unnest(range(0, 64)) AS i) u)")
    kcte = ks.format(k=CF_JL_K if dialect == "duckdb" else CF_JL_K - 1)
    proj_block = f"""{el_cte},
r AS (
  SELECT k, i, {sign} AS s
  FROM ({kcte}) kk CROSS JOIN
       ({'SELECT unnest(range(0, 64)) AS i' if dialect == 'duckdb'
         else 'SELECT explode(sequence(0, 63)) AS i'}) ii
),
proj AS (
  SELECT e.vec_id, r.k,
         CAST(SUM(CAST(round(r.s * e.x, 8) AS DECIMAL(28,8)))
              AS DOUBLE) / 4.0 AS y
  FROM el e JOIN r ON r.i = e.i
  GROUP BY e.vec_id, r.k
)"""
    if staged:
        # Spark execution path: `proj` is consumed four times (pq, pv,
        # and twice via pnorm); as an inline CTE each consumer re-ran
        # the whole 2M-row sign-projection join. The operator
        # localCheckpoints it and binds it as cf_proj_v.
        proj_block = "proj AS (SELECT * FROM cf_proj_v)"
    # The sf fixtures are single-row-group parquet (BASELINE.md caveat)
    # — without a re-spread the corpus-side HOF cosine/pack stages run
    # as ONE task. Production layouts have many files; the hint only
    # restores the parallelism a real layout gives for free (the
    # sim_power_iteration_pc1 pattern).
    hint = f"/*+ REPARTITION({width}, vec_id) */ " if dialect == "spark" else ""
    return f"""
WITH emb_v AS (
  -- valid_embedding gate: all four rungs (exact/SQ8/JL/1-bit) read
  -- the same survivors, both engines (census: sim_embedding_validate)
  SELECT * FROM embeddings WHERE {valid_embedding_sql(dialect)}
),
q AS (SELECT vec_id AS q_id, embedding AS qv FROM emb_v
           WHERE vec_id < {CF_QUERIES}),
p AS (
  SELECT {hint}vec_id, embedding,
         CAST({'list_min' if dialect == 'duckdb' else 'array_min'}(embedding) AS DOUBLE) AS mn,
         (CAST({'list_max' if dialect == 'duckdb' else 'array_max'}(embedding) AS DOUBLE)
          - CAST({'list_min' if dialect == 'duckdb' else 'array_min'}(embedding) AS DOUBLE)) / 255.0 AS sc
  FROM emb_v
),
d AS (
  SELECT vec_id, embedding,
         {'list_transform' if dialect == 'duckdb' else 'transform'}(embedding,
           sqv -> CASE WHEN sc = 0 THEN mn
                       ELSE mn + round((CAST(sqv AS DOUBLE) - mn) / sc, 0)
                             * sc END) AS dq
  FROM p
),
base AS (
  SELECT q.q_id, d.vec_id,
         round({cos('d.embedding', 'q.qv')}, 4) AS s_exact,
         round({cos('d.dq', 'q.qv')}, 4) AS s_sq8
  FROM d JOIN q ON d.vec_id <> q.q_id
),
codes AS (
  SELECT {hint}vec_id,
         CAST({pack('embedding', 0)} AS BIGINT) AS lo,
         CAST({pack('embedding', 32)} AS BIGINT) AS hi
  FROM emb_v
),
qc AS (SELECT q.q_id, c.lo AS q_lo, c.hi AS q_hi
       FROM codes c JOIN q ON c.vec_id = q.q_id),
ham AS (
  SELECT qc.q_id, c.vec_id,
         CAST({bitcnt}({xor}) + {bitcnt}({xor2}) AS INT) AS hd
  FROM codes c JOIN qc ON c.vec_id <> qc.q_id
),
{proj_block},
pnorm AS (
  SELECT vec_id,
         CAST(SUM(CAST(round(y * y, 8) AS DECIMAL(28,8))) AS DOUBLE)
           AS n2
  FROM proj GROUP BY vec_id
),
jl AS (
  SELECT q.q_id, pv.vec_id,
         round(CAST(SUM(CAST(round(pv.y * pq.y, 8) AS DECIMAL(28,8)))
                    AS DOUBLE)
               / (sqrt(na.n2) * sqrt(nb.n2) + 1e-10), 4) AS s_jl
  FROM q
  JOIN proj pq ON pq.vec_id = q.q_id
  JOIN proj pv ON pv.k = pq.k AND pv.vec_id <> q.q_id
  JOIN pnorm na ON na.vec_id = pv.vec_id
  JOIN pnorm nb ON nb.vec_id = q.q_id
  GROUP BY q.q_id, pv.vec_id, na.n2, nb.n2
),
alls AS (
  SELECT b.q_id, b.vec_id, b.s_exact, b.s_sq8, h.hd, j.s_jl
  FROM base b
  JOIN ham h ON h.q_id = b.q_id AND h.vec_id = b.vec_id
  JOIN jl j ON j.q_id = b.q_id AND j.vec_id = b.vec_id
),
rk AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY s_exact DESC, vec_id) AS rn_exact,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY s_sq8 DESC, vec_id) AS rn_sq8,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY hd ASC, vec_id) AS rn_ham,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY s_jl DESC, vec_id) AS rn_jl
  FROM alls
),
rkhits AS (
  SELECT
    CAST(COUNT(CASE WHEN rn_sq8 <= {CF_K} AND rn_exact <= {CF_K}
               THEN 1 END) AS BIGINT) AS h_sq8,
    CAST(COUNT(CASE WHEN rn_jl <= {CF_K} AND rn_exact <= {CF_K}
               THEN 1 END) AS BIGINT) AS h_jl,
    CAST(COUNT(CASE WHEN rn_ham <= {CF_K} AND rn_exact <= {CF_K}
               THEN 1 END) AS BIGINT) AS h_ham,
    CAST(COUNT(CASE WHEN rn_exact <= {CF_K} THEN 1 END) AS BIGINT)
      AS h_total
  FROM rk
)
SELECT * FROM rkhits
"""


def _frontier_ladder_sql(hits_src: str, materialized: bool = False) -> str:
    """The cheap 4-row bytes-vs-recall ladder over the 1-row hit
    counts. Split from the core so the Spark side localCheckpoints the
    hits row — as one statement the four union branches each re-ran
    the entire rank/score lineage (the re-inlined-CTE trap; 7.7 s →
    ~2 s steady at sf0.1). ``materialized`` is DuckDB's evaluation
    hint for the single-statement oracle (results identical)."""
    mat = "MATERIALIZED " if materialized else ""
    return f"""
WITH hits AS {mat}({hits_src})
SELECT * FROM (
  SELECT '0_float32' AS method, 256 AS bytes_per_vec,
         round(h_total / CAST(h_total AS DOUBLE), 4) AS recall_at_k
  FROM hits
  UNION ALL
  SELECT '1_sq8', 64, round(h_sq8 / CAST(h_total AS DOUBLE), 4) FROM hits
  UNION ALL
  SELECT '2_jl16', 64, round(h_jl / CAST(h_total AS DOUBLE), 4) FROM hits
  UNION ALL
  SELECT '3_binary', 8, round(h_ham / CAST(h_total AS DOUBLE), 4)
  FROM hits
) ladder
ORDER BY method
"""


def _frontier_sql(dialect: str) -> str:
    """Single-statement form (DuckDB oracle)."""
    return _frontier_ladder_sql(
        _frontier_hits_sql(dialect), materialized=dialect == "duckdb"
    )


@register(
    "sim_compression_frontier",
    oracle=_frontier_sql("duckdb"),
    description="the quantization ladder's bytes-vs-recall frontier in"
    " one statement: float32 truth, SQ8 (4x), JL-16 (4x), and 1-bit"
    " sign/Hamming (32x) each ranked against the exact top-5 over ten"
    " queries — the storage-budget decision table every vector-index"
    " deployment starts from",
    tags=("similarity", "vector", "quantization", "audit", "eval"),
    bench=True,
)
def sim_compression_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each compression rung is registered alone (sim_sq8_topk,
    sim_random_projection_jl, sim_binary_hamming_topk); the decision
    anyone actually makes is BETWEEN them at a storage budget, so the
    frontier scores all rungs in one statement over a shared query
    set and hashes recall@5 per rung as one exact hit-count ratio
    (h_method / 50 — integer arithmetic, no per-query float means).
    The float32 row is the identity-by-construction baseline that
    anchors the table. Plan: one corpus×Q broadcast pass for
    exact+SQ8, an integer-only Hamming pass over packed codes, a
    k×dim sign-matrix join for JL (the projection is corpus-sized
    rows × 16 components, decimal-exact), four q_id-partitioned rank
    windows, one reduce. On this near-isotropic fixture the ladder
    degrades honestly (SQ8 ≈ exact, JL-16 partial, 1-bit lowest) —
    the shape, not flattery, is the deliverable. Two localCheckpoint
    stages keep Spark from re-running shared lineage per consumer
    (the re-inlined-CTE trap): the JL projection (consumed 4×: pq,
    pv, twice via pnorm) and the 1-row hit-count core (consumed 4×
    by the ladder's union branches). 7.7 s → ~2.5 s steady at
    sf0.1."""
    emb = load_table(spark, sf_dir, "embeddings")
    width = fanout_width(spark)
    # r15: sizing these hints like spread_scan (width 16 for this
    # table) was tried and MEASURED x1.12 SLOWER interleaved — unlike
    # the table's other consumers, each corpus row here fans into
    # CF_QUERIES pair-folds (6 HOF folds × 10 queries), so per-task
    # work is an order heavier and full cluster width is the optimum.
    # Full width stays (OPTIMIZATION_r15.md frontier section).
    proj = sql(
        spark, _frontier_proj_sql(width=width), embeddings=emb
    ).localCheckpoint(eager=True)
    hits = sql(
        spark,
        _frontier_hits_sql("spark", staged=True, width=width),
        embeddings=emb,
        cf_proj_v=proj,
    ).localCheckpoint(eager=True)
    return sql(
        spark, _frontier_ladder_sql("SELECT * FROM cf_hits_v"), cf_hits_v=hits
    )
