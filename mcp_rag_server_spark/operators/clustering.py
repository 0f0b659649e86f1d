"""Iterative clustering as joins + aggregations (Lloyd's k-means).

The star-contraction connected-components operator (operators/dedup.py)
covers graph iteration; this module covers the other iterative workhorse
of embedding pipelines: k-means refinement (codebook training for
IVF/PQ, corpus clustering for mixture design). Each Lloyd iteration is
exactly two distributed primitives —

  assignment: corpus ⋈ broadcast(centroids) → argmin distance per row
  update:     one shuffle keyed by cluster, decimal-exact element means

— so an iteration costs one narrow pass plus one bounded shuffle, and
the centroid table stays broadcast-sized (k × dims) no matter the
corpus. A fixed iteration count keeps the whole computation
SQL-expressible, so the DuckDB oracle replays it CTE-for-CTE and the
driver hash-checks real iterative ML, not just its plumbing.

Determinism discipline (registry rules): centroid element means are
round-7-then-DECIMAL sums (order-independent, bit-identical across
engines); distances are index-order float64 folds rounded to 6;
assignment ties break by cluster id; inertia is a DECIMAL sum of the
rounded distances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import input_files, load_table
from mcp_rag_server_spark.functions.vector import (
    valid_embedding,
    valid_embedding_sql,
)
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.session import fanout_width, spread_scan

KM_DIMS = 64
KM_ITERS = 2


def _centroids_from(assign_elem: DataFrame) -> DataFrame:
    """(cluster, d, x) element rows → (cluster, cvec) with decimal-exact
    per-element means, array rebuilt in dimension order."""
    return (
        assign_elem.groupBy("cluster", "d")
        .agg(
            (
                F.sum(F.round(F.col("x"), 7).cast("decimal(18,7)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("c")
        )
        .groupBy("cluster")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d, c))), km_s -> km_s.c)"
            ).alias("cvec")
        )
    )


def _assign(
    emb: DataFrame, centroids: DataFrame, keep_embedding: bool = False
) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, cluster, dd).

    The arg-min is ``min(struct(dd, cluster))`` — same (distance,
    cluster) tie-break as a rank-1 window, but it partial-aggregates
    map-side, so the shuffle carries one combined row per vector
    instead of all k scored copies (a window would sort-shuffle N×k).
    ``keep_embedding=True`` rides the vector along (constant per
    vec_id), so the Lloyd update can re-explode the assignment directly
    instead of joining back to the element table."""
    dd = F.round(
        F.expr(
            "aggregate(zip_with(embedding, cvec, (km_x, km_c) -> "
            "(CAST(km_x AS DOUBLE) - km_c) * (CAST(km_x AS DOUBLE) - km_c)), "
            "CAST(0 AS DOUBLE), (km_acc, km_v) -> km_acc + km_v)"
        ),
        6,
    )
    scored = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "embedding", "cluster", dd.alias("dd")
    )
    aggs = [F.min(F.struct("dd", "cluster")).alias("b")]
    if keep_embedding:
        aggs.append(F.first("embedding").alias("embedding"))
    cols = [
        "vec_id",
        F.col("b.cluster").alias("cluster"),
        F.col("b.dd").alias("dd"),
    ]
    if keep_embedding:
        cols.append(F.col("embedding"))
    return scored.groupBy("vec_id").agg(*aggs).select(*cols)


def _km_duck_dist(vec: str, cvec: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, {KM_DIMS} + 1), "
        f"i -> (CAST({vec}[i] AS DOUBLE) - {cvec}[i]) "
        f"* (CAST({vec}[i] AS DOUBLE) - {cvec}[i]))), 6)"
    )


_KM_ORACLE = f"""
WITH pos AS (SELECT unnest(range(1, {KM_DIMS} + 1)) AS i),
emb_v AS (
  -- valid_embedding gate: invalid vectors (NULL/empty/ragged/NaN
  -- element) are dropped by contract on BOTH engines before any
  -- distance fold (census: sim_embedding_validate)
  SELECT * FROM embeddings WHERE {valid_embedding_sql('duckdb')}
),
elem AS (
  SELECT e.vec_id, e.label, CAST(p.i - 1 AS INT) AS d,
         CAST(e.embedding[p.i] AS DOUBLE) AS x
  FROM emb_v e CROSS JOIN pos p
),
c0e AS (
  SELECT label AS cluster, d,
         CAST(SUM(CAST(round(x, 7) AS DECIMAL(18,7))) AS DOUBLE)
           / COUNT(*) AS c
  FROM elem GROUP BY label, d
),
c0 AS (SELECT cluster, list(c ORDER BY d) AS cvec FROM c0e GROUP BY cluster),
d1 AS (
  SELECT e.vec_id, c.cluster, {_km_duck_dist('e.embedding', 'c.cvec')} AS dd
  FROM emb_v e CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY dd, cluster) AS rn
    FROM d1) WHERE rn = 1
),
c1e AS (
  SELECT a.cluster, el.d,
         CAST(SUM(CAST(round(el.x, 7) AS DECIMAL(18,7))) AS DOUBLE)
           / COUNT(*) AS c
  FROM a1 a JOIN elem el USING (vec_id)
  GROUP BY a.cluster, el.d
),
c1 AS (SELECT cluster, list(c ORDER BY d) AS cvec FROM c1e GROUP BY cluster),
d2 AS (
  SELECT e.vec_id, c.cluster, {_km_duck_dist('e.embedding', 'c.cvec')} AS dd
  FROM emb_v e CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, cluster, dd FROM (
    SELECT vec_id, cluster, dd,
           row_number() OVER (PARTITION BY vec_id ORDER BY dd, cluster) AS rn
    FROM d2) WHERE rn = 1
)
SELECT cluster,
       COUNT(*) AS n_assigned,
       round(CAST(SUM(CAST(dd AS DECIMAL(18,6))) AS DOUBLE), 4) AS inertia
FROM a2
GROUP BY cluster
ORDER BY cluster
"""


@register(
    "sim_kmeans_refine",
    oracle=_KM_ORACLE,
    description=f"k-means Lloyd refinement ({KM_ITERS} iterations from"
    " per-label seed centroids): per-cluster membership and inertia"
    " after re-assignment — iterative codebook training as broadcast"
    " joins + keyed aggregations, hash-checked end to end",
    tags=("similarity", "vector", "clustering", "iterative"),
    bench=True,
)
def sim_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeds are the per-label element means (the same deterministic
    stand-in for k-means++ that sim_pq_adc_topk uses per subspace);
    two Lloyd iterations then per-cluster size and inertia from the
    final assignment. Every stage is engine-replayable: the oracle
    runs the identical CTE chain, so a drifted centroid, a wrong tie
    break, or a lost vector changes the hash. At 100 TB: centroids
    broadcast (k×dims doubles), assignment is a map-side-combined
    arg-min aggregation (one combined row per vector crosses the wire,
    never the k scored copies a rank window would sort-shuffle), the
    assigned vectors ride along so the update explodes them directly
    (no join back to an element table), and each update is one
    cluster-keyed shuffle of (cluster, d, partial-sum) rows — the
    textbook distributed Lloyd layout. r14: the gated corpus is
    spread_scan'd on vec_id so the element explode and both per-row
    argmin distance folds parallelize on single-row-group fixture
    layouts (guide §2.5); no-op on multi-split production layouts."""
    # valid_embedding gate — mirrors the oracle's emb_v CTE
    emb = spread_scan(
        load_table(spark, sf_dir, "embeddings"), "vec_id"
    ).filter(valid_embedding())
    elem = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "xf"),
    ).select(
        "vec_id",
        "label",
        F.col("pos").cast("int").alias("d"),
        F.col("xf").cast("double").alias("x"),
    )
    c0 = _centroids_from(elem.select(F.col("label").alias("cluster"), "d", "x"))
    a1 = _assign(emb, c0, keep_embedding=True)
    c1 = _centroids_from(
        a1.select("cluster", F.posexplode("embedding").alias("pos", "xf"))
        .select(
            "cluster",
            F.col("pos").cast("int").alias("d"),
            F.col("xf").cast("double").alias("x"),
        )
    )
    a2 = _assign(emb, c1)
    return (
        a2.groupBy("cluster")
        .agg(
            F.count("*").alias("n_assigned"),
            F.round(
                F.sum(F.col("dd").cast("decimal(18,6)")).cast("double"), 4
            ).alias("inertia"),
        )
        .orderBy("cluster")
    )


#: SemDeDup cosine threshold — same contract as dedup.py's
#: COSINE_NEARDUP_THRESHOLD (rounded-4 score is the decision value).
SEMDEDUP_THRESHOLD = 0.35

_SD_ORACLE = f"""
WITH pos AS (SELECT unnest(range(1, {KM_DIMS} + 1)) AS i),
emb_v AS (
  -- valid_embedding gate: invalid vectors (NULL/empty/ragged/NaN
  -- element) are dropped by contract on BOTH engines before any
  -- distance fold (census: sim_embedding_validate)
  SELECT * FROM embeddings WHERE {valid_embedding_sql('duckdb')}
),
elem AS (
  SELECT e.vec_id, e.label, CAST(p.i - 1 AS INT) AS d,
         CAST(e.embedding[p.i] AS DOUBLE) AS x
  FROM emb_v e CROSS JOIN pos p
),
c0e AS (
  SELECT label AS cluster, d,
         CAST(SUM(CAST(round(x, 7) AS DECIMAL(18,7))) AS DOUBLE)
           / COUNT(*) AS c
  FROM elem GROUP BY label, d
),
c0 AS (SELECT cluster, list(c ORDER BY d) AS cvec FROM c0e GROUP BY cluster),
d1 AS (
  SELECT e.vec_id, c.cluster, {_km_duck_dist('e.embedding', 'c.cvec')} AS dd
  FROM emb_v e CROSS JOIN c0 c
),
asg AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY dd, cluster) AS rn
    FROM d1) WHERE rn = 1
),
withnorm AS (
  SELECT a.vec_id, a.cluster, e.embedding,
         sqrt(list_sum(list_transform(range(1, {KM_DIMS} + 1),
              sd_i -> CAST(e.embedding[sd_i] AS DOUBLE)
                      * CAST(e.embedding[sd_i] AS DOUBLE)))) AS nrm
  FROM asg a JOIN emb_v e ON e.vec_id = a.vec_id
),
pairs AS (
  SELECT b.vec_id AS drop_id, b.cluster
  FROM withnorm a
  JOIN withnorm b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(
          list_sum(list_transform(range(1, {KM_DIMS} + 1),
            sd_i -> CAST(a.embedding[sd_i] AS DOUBLE)
                    * CAST(b.embedding[sd_i] AS DOUBLE)))
          / (a.nrm * b.nrm + 1e-10), 4) >= {SEMDEDUP_THRESHOLD}
),
drops AS (SELECT cluster, COUNT(DISTINCT drop_id) AS n_dropped FROM pairs
          GROUP BY cluster),
sizes AS (SELECT cluster, COUNT(*) AS n_vectors FROM asg GROUP BY cluster)
SELECT s.cluster, s.n_vectors,
       COALESCE(d.n_dropped, 0) AS n_dropped,
       s.n_vectors - COALESCE(d.n_dropped, 0) AS n_kept,
       CAST(s.n_vectors - COALESCE(d.n_dropped, 0) AS DOUBLE)
         / s.n_vectors AS keep_ratio
FROM sizes s LEFT JOIN drops d ON s.cluster = d.cluster
ORDER BY s.cluster
"""

_SD_DOT = (
    "aggregate(zip_with(a.embedding, b.embedding, (sd_x, sd_y) -> "
    "CAST(sd_x AS DOUBLE) * CAST(sd_y AS DOUBLE)), CAST(0 AS DOUBLE), "
    "(sd_acc, sd_v) -> sd_acc + sd_v)"
)
_SD_NORM = (
    "sqrt(aggregate(transform(embedding, sd_x -> "
    "CAST(sd_x AS DOUBLE) * CAST(sd_x AS DOUBLE)), CAST(0 AS DOUBLE), "
    "(sd_acc, sd_v) -> sd_acc + sd_v))"
)


@register(
    "dd_semdedup",
    oracle=_SD_ORACLE,
    description="SemDeDup cluster-blocked semantic dedup: k-means-assign"
    " embeddings to learned centroids, find within-cluster cosine pairs"
    " >= 0.35, drop the higher id of each pair — per-cluster kept/"
    "dropped census hashed against the oracle's identical chain"
    " (Abbas et al. 2023, SemDeDup)",
    tags=("dedup", "vector", "clustering"),
)
def dd_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's economics: the quadratic cosine stage is confined
    WITHIN learned clusters (cluster = blocking key), so cost is
    Σ cluster² instead of corpus² — same bound shape as MinHash
    banding, but over embedding space, which catches semantic dups
    lexical shingles miss. The assignment reuses the kmeans pack's
    broadcast-centroid arg-min; the pair join shuffles both sides once
    on cluster; at 100 TB cluster count scales with corpus (fixed
    expected cluster size) so per-cluster work is constant. Vector
    norms are computed ONCE PER VECTOR before the pair join and ride
    the shuffle — the pair stage folds only the dot product (one HOF
    per pair instead of three; this cut sf0.1 steady time 8.3 s →
    ~3 s). Fixed-width dense vectors make the precomputed norm
    numerically identical to functions/vector.py's truncated-prefix
    cosine (which handles ragged inputs); the epsilon-denominator and
    rounded-4 decision contracts are unchanged. Keep-decision is the
    deterministic lowest-id rule (a vector is dropped iff a smaller-id
    neighbor scores >= threshold on the ROUNDED-4 value)."""
    # valid_embedding gate — mirrors the oracle's emb_v CTE
    emb = load_table(spark, sf_dir, "embeddings").filter(valid_embedding())
    elem = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "xf"),
    ).select(
        F.col("label").alias("cluster"),
        F.col("pos").cast("int").alias("d"),
        F.col("xf").cast("double").alias("x"),
    )
    c0 = _centroids_from(elem)
    asg = _assign(emb, c0, keep_embedding=True).select(
        "vec_id", "cluster", "embedding", F.expr(_SD_NORM).alias("nrm")
    )
    # r15: eager-checkpointing asg (it feeds both self-join sides +
    # sizes) measured x1.55 SLOWER interleaved — the re-inlined
    # argmin subtrees run as CONCURRENT stages in the single
    # statement (the rag_mmr_topk lesson), and ReuseExchange already
    # dedupes the self-join's exchange. Inline form stays.
    a, b = asg.alias("a"), asg.alias("b")
    score = F.round(
        F.expr(_SD_DOT)
        / (F.col("a.nrm") * F.col("b.nrm") + F.lit(1e-10)),
        4,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(score >= F.lit(SEMDEDUP_THRESHOLD))
        .select(
            F.col("b.vec_id").alias("drop_id"),
            F.col("b.cluster").alias("cluster"),
        )
    )
    drops = pairs.groupBy("cluster").agg(
        F.countDistinct("drop_id").alias("n_dropped")
    )
    sizes = asg.groupBy("cluster").agg(F.count("*").alias("n_vectors"))
    return (
        sizes.join(drops, "cluster", "left")
        .select(
            "cluster",
            "n_vectors",
            F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
            (
                F.col("n_vectors") - F.coalesce(F.col("n_dropped"), F.lit(0))
            ).alias("n_kept"),
            (
                (
                    F.col("n_vectors")
                    - F.coalesce(F.col("n_dropped"), F.lit(0))
                ).cast("double")
                / F.col("n_vectors")
            ).alias("keep_ratio"),
        )
        .orderBy("cluster")
    )


#: IVF-cell candidate blocking, shared by sim_knn_graph and
#: dd_embedding_neardup (r6 verdict: their blocks must be DATA-derived,
#: never the fixture `label` column). Seeds are the CELL_SEEDS
#: lowest-md5 vectors (deterministic medoid-style seeds — the
#: PC1_SAMPLE / AUDIT_SAMPLE_ROWS discipline, RNG-free so both engines
#: pick identical seeds); every vector probes its CELL_PROBES nearest
#: cells (squared-L2, rounded-6, cell-id tie-break), so candidate pairs
#: are vectors sharing a probed cell. Multi-probe to 2 cells recovers
#: boundary pairs a single-cell assignment would sever. The seed
#: count is COMPUTED from the corpus: nlist = max(CELL_SEEDS,
#: ceil(N / TARGET_CELL_SIZE)) — see :func:`n_cells` — so expected
#: cell size, and with it the per-cell quadratic pair work, stays
#: constant as the corpus grows (the IVF sizing rule; at real scale
#: the seeds would be kmeans-trained like sim_kmeans_refine's
#: codebook, but the count law is the same). At every fixture SF
#: (5 / 500 / 5000 vectors) the formula resolves to the CELL_SEEDS
#: floor of 8, so fixture behavior — and every recorded recall
#: number — is unchanged. Round 9 (r8 verdict item 5): the raw
#: md5 medoids are refined by ONE Lloyd pass before the probe
#: assignment — argmin over seeds, then decimal-exact per-cell
#: element means (the sim_kmeans_refine machinery) — keeping the
#: deterministic seed chain so the DuckDB CTE replays it
#: end-to-end. Measured on the near-isotropic fixture (DuckDB
#: probe, tools/recall_probe.py): pair recall at cosine>=0.35 rises
#: 196/272 (0.72) -> 212/272 (0.78) at sf0.01 and 2948/4143 (0.71)
#: -> 3017/4143 (0.73) at sf0.1; kNN recall@3 rises 0.69 -> 0.74 /
#: 0.70 -> 0.72 — all at an essentially unchanged candidate budget
#: (58.0k -> 59.1k / 925.6k -> 928.3k pairs) —
#: honestly bounded, like the multi-probe/JL audits, because
#: isotropic vectors carry little cluster structure for ANY
#: geometric blocking; production embedding corpora are strongly
#: clustered.
CELL_SEEDS = 8  # nlist floor — what every fixture SF resolves to
CELL_PROBES = 2
CELL_SALT = "cell"
#: Target expected vectors per IVF cell: nlist grows ∝ N above
#: CELL_SEEDS · TARGET_CELL_SIZE vectors (8192 — above the largest
#: fixture, far below any production corpus), bounding candidate
#: pairs per vector at ~CELL_PROBES · TARGET_CELL_SIZE regardless of
#: corpus size.
TARGET_CELL_SIZE = 1024


def n_cells(n_vectors: int) -> int:
    """IVF cell count for a corpus of ``n_vectors``: ceil(N / target
    cell size), floored at CELL_SEEDS. Shared by the Spark plan, the
    DuckDB oracle CTE (which embeds the same formula as SQL over
    COUNT(*)), and the Python twin in tests."""
    return max(CELL_SEEDS, -(-int(n_vectors) // TARGET_CELL_SIZE))


#: Memoized full-table counts: :func:`cell_probes` runs an eager
#: ``count()`` at DataFrame-CONSTRUCTION time when the caller passes
#: no ``n_vectors`` (the seed count must be known to build the plan).
#: Plan-only tooling (plan_lint / gen_plans) and multi-query sessions
#: construct the probe plan many times over the SAME read-only parquet
#: source — memoizing makes the count a once-per-source cost. Key =
#: :func:`~mcp_rag_server_spark.catalog.input_files` of the frame, so
#: both a rewritten directory (fresh part filenames) AND an in-place
#: single-file regeneration (same path, new stat — the round-4
#: fixture-refresh precedent) get fresh entries, and a non-local source
#: (no stat to see an overwrite by) is never memoized. The memo is only
#: consulted for bare scans (no Filter/Join/Aggregate/Limit/Sample in
#: the analyzed plan): a contract-violating filtered ``emb`` stays
#: locally wrong instead of poisoning later full-table calls.
_COUNT_MEMO: dict[tuple, int] = {}

#: Logical nodes under which a frame's row count IS a pure property of
#: the source files — a WHITELIST (advice r10): a blocklist of
#: count-changing nodes silently goes stale when Spark adds one
#: (Offset, FlatMapGroupsInPandas, ...), and a false negative poisons
#: the full-table memo entry, while a false positive here merely pays
#: an extra count(). Anything not listed (including every count-neutral
#: node we could have allowed, e.g. Sort/Repartition) skips the memo.
_COUNT_SAFE_NODES = frozenset(
    {"Relation", "Project", "SubqueryAlias", "View"}
)


def _plan_nodes(plan: str) -> list[str]:
    """Leading node names of an analyzed-plan dump's lines (tree
    markers ``+-``/``:-``/``:`` stripped)."""
    out = []
    for line in plan.splitlines():
        word = line.lstrip(" +-:")
        tok = ""
        for c in word:
            if c.isalpha():
                tok += c
            else:
                break
        if tok:
            out.append(tok)
    return out


def _corpus_count(df: DataFrame) -> int:
    plan = df._jdf.queryExecution().analyzed().toString()
    if any(n not in _COUNT_SAFE_NODES for n in _plan_nodes(plan)):
        return df.count()
    key = input_files(df)
    if not key:  # no local file scan to stamp the count with
        return df.count()
    if key not in _COUNT_MEMO:
        _COUNT_MEMO[key] = df.count()
    return _COUNT_MEMO[key]


#: SQL text of the rounded-6 squared-L2 fold between the row's
#: ``embedding`` and one broadcast centroid struct ``cp_s`` — the
#: SAME arithmetic (casts, fold order, rounding) as the DuckDB CTE's
#: cp_d0/cp_dist stages.
_CP_DD_FOLD = (
    "round(aggregate(zip_with(embedding, cp_s.cvec, (cp_x, cp_c) -> "
    "(CAST(cp_x AS DOUBLE) - CAST(cp_c AS DOUBLE)) "
    "* (CAST(cp_x AS DOUBLE) - CAST(cp_c AS DOUBLE))), "
    "CAST(0 AS DOUBLE), (cp_acc, cp_v) -> cp_acc + cp_v), 6)"
)

_CP_LONG_MAX = (1 << 63) - 1


def _scored_cells_expr(arr_col: str) -> str:
    """``array<struct(dd, cell)>`` per row: the distance to every
    centroid in the broadcast array column ``arr_col``, computed ONCE
    per element (interpreted HOFs get no common-subexpression
    elimination — the r8 lesson — so dd must be materialized before
    any comparator references it twice)."""
    return (
        f"transform({arr_col}, cp_s -> "
        f"named_struct('dd', {_CP_DD_FOLD}, 'cell', cp_s.cell))"
    )


def _fold_top2_expr(arr_col: str) -> str:
    """Single-pass per-row top-2 over the scored-cells array: an
    ``aggregate`` fold carrying (best, second-best) — constant
    accumulator, no shuffle, no per-key aggregation state. The
    comparator is lexicographic (dd, cell), identical to ``min
    (struct)`` / ``array_sort`` / the oracle's ``ORDER BY dd, cell``;
    (dd, cell) elements are unique per row (cell is unique), so the
    result is independent of the array's construction order and the
    +Infinity/LONG_MAX sentinels can never survive for CONTRACT-VALID
    input (nlist >= 2 always: n_cells floors at CELL_SEEDS, and every
    non-null non-NaN dd beats +Infinity). A NULL/NaN embedding element
    nulls/NaNs dd for every centroid and the sentinel survives —
    :func:`cell_probes` raises on it rather than emit LONG_MAX."""
    return f"""aggregate(
  {_scored_cells_expr(arr_col)},
  named_struct(
    'b1d', CAST('Infinity' AS DOUBLE), 'b1c', {_CP_LONG_MAX}L,
    'b2d', CAST('Infinity' AS DOUBLE), 'b2c', {_CP_LONG_MAX}L),
  (cp_a, cp_e) -> CASE
    WHEN cp_e.dd < cp_a.b1d
         OR (cp_e.dd = cp_a.b1d AND cp_e.cell < cp_a.b1c)
      THEN named_struct('b1d', cp_e.dd, 'b1c', cp_e.cell,
                        'b2d', cp_a.b1d, 'b2c', cp_a.b1c)
    WHEN cp_e.dd < cp_a.b2d
         OR (cp_e.dd = cp_a.b2d AND cp_e.cell < cp_a.b2c)
      THEN named_struct('b1d', cp_a.b1d, 'b1c', cp_a.b1c,
                        'b2d', cp_e.dd, 'b2c', cp_e.cell)
    ELSE cp_a END)"""


def _refined_centroids(emb: DataFrame, nlist: int) -> DataFrame:
    """(cell, cvec): the nlist lowest-md5 medoid seeds refined by ONE
    Lloyd pass (per-row fold argmin over the broadcast seed array,
    then decimal-exact per-cell element means — :func:`_centroids_from`,
    the sim_kmeans_refine machinery), with the empty-cell guard.

    The rank-1 assignment is ``array_min`` over the scored-cells array
    — struct ordering IS the (dd, cell) tie-break — evaluated per row
    against the ONE-row broadcast seed array: zero shuffles and no
    aggregation where the r9 form paid a crossJoin + SortAggregate
    (min(struct) buffers are not mutable-fixed-width, so that agg
    sorted N x nlist rows per partition).

    Empty-cell guard: when two seeds TIE at rounded-6 squared distance
    0 (bit-identical vectors, or any pair within ~7e-4 L2 that rounds
    to 0.0 — exact dedup does NOT prevent the latter), the (dd, cell)
    tie-break assigns both to the lower cell id and the higher cell
    wins no rank-1 member, so its centroid row would vanish and nlist
    silently shrink. Fall back to the seed vector itself,
    element-rounded to 7 — bit-identical to the centroid a sole-member
    cell would get (round-7 decimal sum / 1), so the guard is a no-op
    whenever every cell keeps a member (all fixtures)."""
    seeds = (
        emb.orderBy(
            F.md5(
                F.concat(
                    F.lit(f"{CELL_SALT}:"), F.col("vec_id").cast("string")
                )
            )
        )
        .limit(nlist)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec"))
    )
    seeds_arr = seeds.agg(
        F.collect_list(F.struct("cell", "cvec")).alias("cp_arr")
    )
    assign0 = emb.crossJoin(F.broadcast(seeds_arr)).select(
        F.expr(f"array_min({_scored_cells_expr('cp_arr')}).cell").alias(
            "cluster"
        ),
        "embedding",
    )
    cent = _centroids_from(
        assign0.select(
            "cluster", F.posexplode("embedding").alias("pos", "xf")
        ).select(
            "cluster",
            F.col("pos").cast("int").alias("d"),
            F.col("xf").cast("double").alias("x"),
        )
    ).select(F.col("cluster").alias("cell"), "cvec")
    return (
        seeds.select("cell", F.col("cvec").alias("cp_seed_vec"))
        .join(cent, "cell", "left")
        .select(
            "cell",
            F.coalesce(
                F.col("cvec"),
                F.expr(
                    "transform(cp_seed_vec, cp_x ->"
                    " round(CAST(cp_x AS DOUBLE), 7))"
                ),
            ).alias("cvec"),
        )
    )


def cell_probes(emb: DataFrame, n_vectors: int | None = None) -> DataFrame:
    """(vec_id, cell) with CELL_PROBES rows per vector: the IVF
    coarse-assignment used as a candidate-blocking key.

    Stage 0 picks the nlist lowest-md5 vectors as medoid seeds; ONE
    Lloyd refinement pass (:func:`_refined_centroids`) replaces each
    medoid with its cell's centroid before the probe assignment,
    lifting pair recall 0.72 -> 0.78 (sf0.01) / 0.71 -> 0.73 (sf0.1)
    at the same candidate budget (r8 verdict item 5; constants block
    above). Every stage stays in the deterministic seed chain, so the
    DuckDB CTE (:func:`duckdb_cell_probes_cte`) replays it end-to-end.

    Plan shape (round 10): the centroid table is collected to a
    ONE-row broadcast array and both the Lloyd argmin and the final
    top-2 are PER-ROW folds over it (:func:`_fold_top2_expr`) — zero
    shuffles and zero aggregation state in the assignment stages; the
    only shuffle left is the (cell, dim)-keyed centroid update
    inherent to Lloyd. This one form replaced r9's collect_list
    groupBy (per-key state = nlist structs, quadratic in N total
    under the sizing law) and r10-interim's min(struct) argmin taken
    twice (SortAggregate x2 + an emb re-shuffle, measured 2.7x the
    list path): the fold needs no memory-model dispatch because its
    state is a 4-field accumulator per row at ANY nlist — measured
    identical output and faster than both at N=300k/nlist=293
    (tools/probe_path_stress.py). Per-row transient cost is the
    nlist-element scored array (~16 B x nlist), which stays tiny
    beneath the broadcast bound below. A larger CELL_PROBES would be
    ``slice(array_sort(scored), 1, k)`` — same semantics, one sort
    per row.

    Broadcast bound, stated honestly: nlist = N/TARGET_CELL_SIZE, and
    a centroid row is 64 float64s, so the broadcast stays under
    Spark's comfort zone (~512 MB) up to nlist ~ 10^6 — about 10^9
    vectors at the current sizing. Beyond that, the textbook move is
    two-level coarse quantization (a sqrt(nlist)-cell quantizer over
    the centroids themselves, then probe within the winning
    super-cell), which keeps every broadcast at sqrt scale; the
    assignment/update stages here are unchanged by that swap.

    PRECONDITION: ``emb`` must be the FULL embeddings table of the
    sf_dir being queried — the DuckDB oracle CTE hard-codes
    ``COUNT(*) FROM embeddings`` for the seed count, so a filtered or
    sampled ``emb`` diverges from the oracle. Callers with a known
    count pass ``n_vectors`` to skip the eager count Spark action
    this otherwise runs at DataFrame-CONSTRUCTION time; without it
    the count is memoized per input-file set (:data:`_COUNT_MEMO`),
    so plan-only tooling (plan_lint / gen_plans) and multi-query
    sessions pay it once per source, not once per plan build."""
    n = _corpus_count(emb) if n_vectors is None else n_vectors
    cent = _refined_centroids(emb, n_cells(n))
    cent_arr = cent.agg(
        F.collect_list(F.struct("cell", "cvec")).alias("cp_arr")
    )
    # Sentinel guard (advice r10): a NULL/NaN element anywhere in a
    # row's embedding makes the dd fold NULL (or NaN, which Spark
    # orders above +Infinity) for EVERY centroid, so no fold step ever
    # fires and the (Infinity, LONG_MAX) init survives — the reference
    # list picker would instead emit nothing for that row, so the two
    # forms diverge exactly when input violates the non-null contract.
    # Fail loudly instead of emitting LONG_MAX as a real cell id.
    return (
        emb.crossJoin(F.broadcast(cent_arr))
        .select("vec_id", F.expr(_fold_top2_expr("cp_arr")).alias("cp_b"))
        .select(
            "vec_id",
            F.explode(F.array("cp_b.b1c", "cp_b.b2c")).alias("cell"),
        )
        .select(
            "vec_id",
            F.expr(
                f"CASE WHEN cell = {_CP_LONG_MAX}L THEN"
                " CAST(raise_error('cell_probes: top-2 sentinel"
                " survived — an embedding contains NULL/NaN, violating"
                " the non-null input contract') AS BIGINT)"
                " ELSE cell END"
            ).alias("cell"),
        )
    )


def _probe_reference_list(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """REFERENCE top-2 picker: the r5-r9 shipped form (crossJoin the
    centroid TABLE, shuffle on vec_id, ``collect_list`` all nlist
    scored structs per key, sort-slice). Kept solely so tests and
    tools/probe_path_stress.py can prove the shipped per-row fold
    emits the identical probe table through an independently-shaped
    plan — do not use in operators (its aggregation state is nlist
    structs per key, quadratic in N total under the sizing law).

    The cross-form identity holds ONLY on contract-clean input: on a
    NULL/NaN-element embedding the shipped fold RAISES its sentinel
    guard while this list form silently DROPS the row (NULL dd sorts
    away) — acceptable because the guard fires before any consumer
    sees divergent output (tests/test_scale_patterns.py::
    test_cell_probes_raises_on_null_embedding_element)."""
    dd = F.round(
        F.expr(
            "aggregate(zip_with(embedding, cvec, (cp_x, cp_c) -> "
            "(CAST(cp_x AS DOUBLE) - CAST(cp_c AS DOUBLE)) "
            "* (CAST(cp_x AS DOUBLE) - CAST(cp_c AS DOUBLE))), "
            "CAST(0 AS DOUBLE), (cp_acc, cp_v) -> cp_acc + cp_v)"
        ),
        6,
    )
    return (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "cell", dd.alias("dd"))
        .groupBy("vec_id")
        .agg(
            F.expr(
                "slice(array_sort(collect_list(struct(dd, cell))), 1, "
                f"{CELL_PROBES})"
            ).alias("cp_top")
        )
        .select("vec_id", F.explode("cp_top.cell").alias("cell"))
    )


def duckdb_cell_probes_cte() -> str:
    """DuckDB CTE chain ``cp_seeds / cp_d0 / cp_a0 / cp_cent /
    cp_centf / cp_dist / probed`` mirroring :func:`cell_probes` arithmetic
    exactly: index-order squared-L2 fold rounded 6 with (dd, cell)
    tie-break, one Lloyd refinement of the md5 medoids (rank-1
    assignment, then round-7-decimal per-cell element means — the
    _KM_ORACLE c1e discipline) before the final top-CELL_PROBES
    assignment."""
    return f"""cp_in AS (
  -- DESIGNED loud twin of the Spark fold's sentinel guard (r12): an
  -- embedding violating the non-null/fixed-dim contract raises the
  -- SAME named refusal here instead of an accidental NaN-cast error,
  -- so both engines refuse dirty probe input by contract
  SELECT vec_id,
         CASE WHEN {valid_embedding_sql('duckdb')}
              THEN embedding
              ELSE error('cell_probes: top-2 sentinel contract — an'
                         ' embedding is NULL/wrong-dim or contains'
                         ' NULL/NaN, violating the non-null input'
                         ' contract') END AS embedding
  FROM embeddings
),
cp_seeds AS (
  SELECT cell, cvec FROM (
    SELECT vec_id AS cell, embedding AS cvec,
           row_number() OVER (
             ORDER BY md5('{CELL_SALT}:' || CAST(vec_id AS VARCHAR))
           ) AS cp_sr
    FROM cp_in)
  WHERE cp_sr <= GREATEST({CELL_SEEDS},
    CEIL((SELECT COUNT(*) FROM cp_in) / {TARGET_CELL_SIZE}.0))
),
cp_d0 AS (
  SELECT e.vec_id, s.cell,
         round(list_sum(list_transform(range(1, {KM_DIMS} + 1), cp_i ->
           (CAST(e.embedding[cp_i] AS DOUBLE) - CAST(s.cvec[cp_i] AS DOUBLE))
           * (CAST(e.embedding[cp_i] AS DOUBLE)
              - CAST(s.cvec[cp_i] AS DOUBLE)))), 6) AS dd
  FROM cp_in e CROSS JOIN cp_seeds s
),
cp_a0 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dd, cell) AS cp_rn0
    FROM cp_d0) WHERE cp_rn0 = 1
),
cp_cent AS MATERIALIZED (
  SELECT cell, list(c ORDER BY d) AS cvec FROM (
    SELECT a.cell, cp_u.d,
           CAST(SUM(CAST(round(CAST(e.embedding[cp_u.d + 1] AS DOUBLE), 7)
                         AS DECIMAL(18,7))) AS DOUBLE)
             / COUNT(*) AS c
    FROM cp_a0 a JOIN cp_in e USING (vec_id)
    CROSS JOIN (SELECT unnest(range(0, {KM_DIMS})) AS d) cp_u
    GROUP BY a.cell, cp_u.d)
  GROUP BY cell
),
cp_centf AS (
  SELECT s.cell,
         coalesce(c.cvec, list_transform(s.cvec, cp_x ->
           round(CAST(cp_x AS DOUBLE), 7))) AS cvec
  FROM cp_seeds s LEFT JOIN cp_cent c USING (cell)
),
cp_dist AS (
  SELECT e.vec_id, s.cell,
         round(list_sum(list_transform(range(1, {KM_DIMS} + 1), cp_i ->
           (CAST(e.embedding[cp_i] AS DOUBLE) - s.cvec[cp_i])
           * (CAST(e.embedding[cp_i] AS DOUBLE)
              - s.cvec[cp_i]))), 6) AS dd
  FROM cp_in e CROSS JOIN cp_centf s
),
probed AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dd, cell) AS cp_rn
    FROM cp_dist) WHERE cp_rn <= {CELL_PROBES}
)"""


#: Power-iteration count for the top principal component. Three
#: iterations from the deterministic uniform start; like PR_ITERS /
#: HITS_ITERS the fixed count keeps the loop SQL-expressible, and the
#: numpy cross-check replays the SAME three iterations (algorithm
#: replication, not convergence comparison).
PC1_ITERS = 3
PC1_DIM = 64

#: Covariance-training sample bound: the PC1 covariance is estimated
#: on the PC1_SAMPLE lowest-md5 vectors (deterministic across engines,
#: runs, partitionings — the AUDIT_SAMPLE_ROWS discipline). The d×d
#: moment pass costs sample·d² products, CONSTANT in corpus size —
#: exactly how production quantizer/PCA training bounds itself (FAISS
#: trains on samples); the fixture sf0.1 slice dropped from 17.9 s to
#: ~4 s under the cap with no contract change.
PC1_SAMPLE = 1024


def _pc1_iter_sql(i: int) -> str:
    prev = f"v{i - 1}"
    return f"""
w{i} AS (
  SELECT c.i,
         CAST(SUM(CAST(round(c.cov * v.x, 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS wx
  FROM cov c JOIN {prev} v ON v.i = c.j
  GROUP BY c.i
),
n{i} AS (
  SELECT sqrt(CAST(SUM(CAST(round(wx * wx, 9) AS DECIMAL(28,9)))
                   AS DOUBLE)) AS nrm
  FROM w{i}
),
v{i} AS (
  SELECT w.i, w.wx / n.nrm AS x FROM w{i} w CROSS JOIN n{i} n
)"""


_PC1_ORACLE = f"""
WITH emb_v AS (
  -- valid_embedding gate: a NaN element otherwise reaches the moment
  -- sums (DuckDB's decimal cast errors, Spark NULLs silently)
  SELECT * FROM embeddings WHERE {valid_embedding_sql('duckdb')}
),
samp AS (
  SELECT vec_id, embedding FROM emb_v
  ORDER BY md5('pc1:' || CAST(vec_id AS VARCHAR)) LIMIT {PC1_SAMPLE}
),
el AS (
  SELECT vec_id, u.i, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM samp CROSS JOIN (SELECT unnest(range(1, {PC1_DIM} + 1)) AS i) u
),
nrow AS (SELECT COUNT(*) AS n FROM samp),
mom2 AS (
  SELECT a.i, b.i AS j,
         CAST(SUM(CAST(round(a.x * b.x, 8) AS DECIMAL(28,8)))
              AS DOUBLE) AS sij
  FROM el a JOIN el b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
),
mom1 AS (
  SELECT i, CAST(SUM(CAST(round(x, 8) AS DECIMAL(28,8))) AS DOUBLE) AS si
  FROM el GROUP BY i
),
cov AS (
  SELECT m2.i, m2.j,
         (m2.sij - ma.si * mb.si / nr.n) / (nr.n - 1) AS cov
  FROM mom2 m2
  JOIN mom1 ma ON ma.i = m2.i
  JOIN mom1 mb ON mb.i = m2.j
  CROSS JOIN nrow nr
),
tr AS (
  SELECT CAST(SUM(CAST(round(cov, 9) AS DECIMAL(28,9))) AS DOUBLE) AS t
  FROM cov WHERE i = j
),
v0 AS (SELECT i, CAST(0.125 AS DOUBLE) AS x FROM mom1),
{",".join(_pc1_iter_sql(i) for i in range(1, PC1_ITERS + 1))}
SELECT v.i AS dim,
       round(v.x, 6) AS loading,
       round(n.nrm, 4) AS lambda_est,
       round(n.nrm / t.t, 6) AS explained_share
FROM v{PC1_ITERS} v
CROSS JOIN n{PC1_ITERS} n CROSS JOIN tr t
ORDER BY v.i
"""


@register(
    "sim_power_iteration_pc1",
    oracle=_PC1_ORACLE,
    description="top principal component of the embedding cloud via"
    " three power iterations on the exact covariance matrix (one"
    " dim-pair moment pass, matvec as a keyed join), with the"
    " Rayleigh-norm eigenvalue estimate and explained-variance share"
    " — the spectral readout behind PCA whitening, dimension-budget"
    " and Matryoshka-truncation decisions",
    tags=("similarity", "vector", "iterative", "stats"),
)
def sim_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA at scale starts with exactly two distributed shapes: ONE
    pass building the d×d covariance from dim-pair moments over a
    BOUNDED deterministic sample (lowest-md5 vectors — quantizer/PCA
    training on samples is the production norm, and it makes the
    moment pass constant in corpus size; 4096 partial keys shuffle
    regardless), then d×d-sized power
    iterations (matvec = join on j + decimal-exact gather, L2
    normalization from a broadcast 1-row norm) that never touch the
    data again. Covariance rides the sufficient-statistics identity
    (Sij − Si·Sj/n)/(n−1) like agg_ols_sufficient_stats; every
    per-edge product is rounded-9 decimal-summed; the uniform 1/8
    start vector is exactly dyadic. Only the COVARIANCE is
    localCheckpoint'd: below it every iteration subtree is a
    join+agg over 4096 checkpointed rows, so the ~2^iters lazy
    replays cost microseconds while each eager checkpoint would cost
    a scheduled job — the opposite trade from PageRank/HITS, where
    the un-truncated subtree was the expensive part (measured: 10 s
    of checkpoint jobs → ~2 s total without them). The fixed 3-iteration loop is
    replayed term-for-term by the numpy cross-check in
    test_reference_semantics — same start, same roundings — so the
    implementation is verified against an independent matrix library,
    while convergence quality is what lambda_est/explained_share
    report honestly. At 100 TB: one corpus pass, then driver-free
    64×64 algebra."""
    # valid_embedding gate — mirrors the oracle's emb_v CTE
    emb = load_table(spark, sf_dir, "embeddings").filter(valid_embedding())
    samp = (
        emb.orderBy(
            F.md5(F.concat(F.lit("pc1:"), F.col("vec_id").cast("string")))
        )
        .limit(PC1_SAMPLE)
        .select("vec_id", "embedding")
        # a global limit lands on ONE partition — without this
        # re-spread the whole sample·d² product pass runs as a single
        # task (measured 9.4 s -> ~1.5 s at sf0.1); keying by vec_id
        # also co-partitions the self-join below. Width derives from
        # the cluster (hash-partition count never affects values).
        .repartition(fanout_width(spark), "vec_id")
    )
    el = samp.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "vec_id", (F.col("pos") + 1).alias("i"), F.col("xf").cast("double").alias("x")
    )
    nrow = samp.agg(F.count("*").alias("n"))
    a, b = el.alias("a"), el.alias("b")
    mom2 = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.sum(
                F.round(F.col("a.x") * F.col("b.x"), 8).cast("decimal(28,8)")
            )
            .cast("double")
            .alias("sij")
        )
    )
    mom1 = el.groupBy("i").agg(
        F.sum(F.round(F.col("x"), 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("si")
    )
    ma = mom1.select(F.col("i").alias("mi"), F.col("si").alias("si_a"))
    mb = mom1.select(F.col("i").alias("mj"), F.col("si").alias("si_b"))
    cov = (
        mom2.join(ma, F.col("mi") == F.col("i"))
        .join(mb, F.col("mj") == F.col("j"))
        .crossJoin(F.broadcast(nrow))
        .select(
            "i",
            "j",
            (
                (F.col("sij") - F.col("si_a") * F.col("si_b") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("cov"),
        )
        .localCheckpoint(eager=True)
    )
    tr = cov.filter(F.col("i") == F.col("j")).agg(
        F.sum(F.round(F.col("cov"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("t")
    )
    v = cov.select("i").distinct().select(
        "i", F.lit(0.125).cast("double").alias("x")
    )
    norm = None
    for _ in range(PC1_ITERS):
        w = (
            cov.join(v.withColumnRenamed("i", "j"), "j")
            .groupBy("i")
            .agg(
                F.sum(
                    F.round(F.col("cov") * F.col("x"), 9).cast(
                        "decimal(28,9)"
                    )
                )
                .cast("double")
                .alias("wx")
            )
        )
        norm = w.agg(
            F.sqrt(
                F.sum(
                    F.round(F.col("wx") * F.col("wx"), 9).cast(
                        "decimal(28,9)"
                    )
                ).cast("double")
            ).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(norm)).select(
            "i", (F.col("wx") / F.col("nrm")).alias("x")
        )
    return (
        v.crossJoin(F.broadcast(norm))
        .crossJoin(F.broadcast(tr))
        .select(
            F.col("i").alias("dim"),
            F.round("x", 6).alias("loading"),
            F.round("nrm", 4).alias("lambda_est"),
            F.round(F.col("nrm") / F.col("t"), 6).alias("explained_share"),
        )
        .orderBy("dim")
    )
