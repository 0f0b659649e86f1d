"""Sketch-aggregation audits — approximate answers with driver-checked
error bounds.

At 100 TB, COUNT(DISTINCT) and exact percentiles are shuffle-heavy;
HyperLogLog++ (`approx_count_distinct`) and t-digest-style quantiles
(`percentile_approx`) are the partial-aggregating, single-pass
replacements. Their estimates are engine-specific, so they cannot be
value-hashed against DuckDB — instead each audit emits the EXACT answer
plus a boolean "estimate within bound" computed on the Spark side, and
the oracle asserts the exact answer with the bound literally true.
A drifting estimate (or a broken sketch) flips the boolean and fails
the driver's hash, so the approximation contract itself is driver
evidence; the numeric tolerance analysis lives in
tests/test_sketches.py. Both sketches are deterministic for fixed data
(hash-based, no RNG), which is what makes the boolean stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, sql
from mcp_rag_server_spark.registry import register

#: HLL++ relative standard deviation; bound checked at 3x rsd.
HLL_RSD = 0.05
HLL_COLS = (
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("lineitem", "l_orderkey"),
    ("orders", "o_custkey"),
)


@register(
    "agg_hll_audit",
    oracle="\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name,"
        f" COUNT(DISTINCT {c}) AS exact_distinct,"
        f" TRUE AS approx_in_bound FROM {t}"
        for t, c in HLL_COLS
    )
    + "\nORDER BY col_name",
    description="HyperLogLog++ audit: approx_count_distinct(rsd=0.05)"
    " must land within 3x rsd of the exact distinct count on four key"
    " columns — the estimate-vs-truth contract of the sketch that"
    " replaces COUNT(DISTINCT) at scale, driver-checked via an"
    " exact+boolean row the oracle asserts",
    tags=("agg", "sketch", "approx"),
)
def agg_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One partial-aggregating pass per table computes exact and HLL
    side by side (the exact side exists only to judge the sketch; in
    production you run the sketch alone). The boolean is the driver
    evidence: if Spark's HLL++ ever lands outside ±3·rsd on this data,
    the row hash changes."""
    parts = []
    for table, col in HLL_COLS:
        t = load_table(spark, sf_dir, table)
        parts.append(
            t.agg(
                F.lit(col).alias("col_name"),
                F.count_distinct(F.col(col)).alias("exact_distinct"),
                F.approx_count_distinct(F.col(col), HLL_RSD).alias("_approx"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    in_bound = (
        F.abs(
            F.col("_approx").cast("double")
            / F.col("exact_distinct").cast("double")
            - 1.0
        )
        <= 3 * HLL_RSD
    )
    return out.select(
        "col_name", "exact_distinct", in_bound.alias("approx_in_bound")
    ).orderBy("col_name")


#: Percentiles audited and the rank tolerance of the bound.
PCT_PS = (0.5, 0.9, 0.99)
PCT_RANK_TOL = 0.01
PCT_ACCURACY = 10000


@register(
    "agg_percentile_audit",
    oracle="\nUNION ALL\n".join(
        f"SELECT CAST({p} AS DOUBLE) AS p,"
        f" COUNT(*) AS n_rows,"
        f" TRUE AS approx_in_bound FROM lineitem"
        for p in PCT_PS
    )
    + "\nORDER BY p",
    description="approx-percentile audit: percentile_approx must land"
    " between the exact quantiles at p±0.01 (the rank-error contract of"
    " the single-pass sketch that replaces sort-based percentiles at"
    " scale), driver-checked via a count+boolean row the oracle asserts",
    tags=("agg", "sketch", "approx", "percentile"),
)
def agg_percentile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx's guarantee is on RANK, not value: the
    estimate must be some data value whose rank is within ±tol·N of
    p·N. The audit computes exact quantiles at p−tol and p+tol in the
    same pass (exact `percentile` — the expensive judge, fine at audit
    scale) and checks containment; a drifted estimate flips the hashed
    boolean. Exact quantile VALUES are deliberately not hashed — Spark's
    exact percentile interpolates while DuckDB's quantile_disc picks a
    data value, and the audit's contract is the bound, not the
    interpolation convention."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE aggregate pass for all three p's: the array forms of
    # percentile_approx / percentile share a single sketch / a single
    # sorted value buffer, where the per-p loop paid 3 scans and six
    # independent exact-percentile states (measured 11 s -> ~3 s steady
    # at sf0.1; values and hash identical — same literals, same
    # arithmetic, one posexplode instead of a union)
    ps = list(PCT_PS)
    los = [max(0.0, p - PCT_RANK_TOL) for p in ps]
    his = [min(1.0, p + PCT_RANK_TOL) for p in ps]
    ps_sql = ", ".join(str(p) for p in ps)
    # Double-typed literals for the OUTPUT column: bare `array(0.5, ...)`
    # parses as decimal(2,2), which reaches pandas as Decimal('0.50') and
    # hash-mismatches the oracle's float64 0.5 under string
    # canonicalization (r10 regression). `0.5D` forces DOUBLE. The
    # _approx/_bounds literals below are percentile-function INPUTS, not
    # output columns — their type never leaves the aggregate.
    ps_sql_d = ", ".join(f"{p}D" for p in ps)
    bounds_sql = ", ".join(str(x) for x in los + his)
    agg = li.agg(
        F.count("*").alias("n_rows"),
        F.expr(
            f"percentile_approx(l_extendedprice, array({ps_sql}),"
            f" {PCT_ACCURACY})"
        ).alias("_approx"),
        F.expr(
            f"percentile(l_extendedprice, array({bounds_sql}))"
        ).alias("_bounds"),
    )
    n = len(ps)
    return (
        agg.selectExpr(
            "n_rows",
            "_approx",
            "_bounds",
            f"posexplode(array({ps_sql_d})) AS (_i, p)",
        )
        .select(
            "p",
            "n_rows",
            (
                (F.expr("_approx[_i]") >= F.expr("_bounds[_i]"))
                & (F.expr("_approx[_i]") <= F.expr(f"_bounds[_i + {n}]"))
            ).alias("approx_in_bound"),
        )
        .orderBy("p")
    )


#: Bloom prefilter geometry: m bits, k md5-seeded hash positions.
BLOOM_M = 8192
BLOOM_K = 3
BLOOM_SEGMENT = "BUILDING"


def _bloom_pos(dialect: str, key_expr: str, seed: int) -> str:
    """Bit position ``h_seed(key) mod m`` from an 8-hex-digit md5 prefix
    — the same cross-engine 32-bit fold as dedup.py's _hexval8."""
    if dialect == "spark":
        h = f"substr(md5(concat('b{seed}:', CAST({key_expr} AS STRING))), 1, 8)"
        return f"CAST(conv({h}, 16, 10) AS BIGINT) % {BLOOM_M}"
    h = f"substr(md5('b{seed}:' || CAST({key_expr} AS VARCHAR)), 1, 8)"
    return f"CAST('0x' || {h} AS BIGINT) % {BLOOM_M}"


@register(
    "join_bloom_prefilter",
    oracle=f"""
WITH build AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'
),
bits AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(
        f"SELECT {_bloom_pos('duckdb', 'c_custkey', j)} AS pos FROM build"
        for j in range(BLOOM_K)
    )}
  )
),
pk AS (SELECT DISTINCT o_custkey FROM orders),
probe AS (
  {" UNION ALL ".join(
      f"SELECT o_custkey, {_bloom_pos('duckdb', 'o_custkey', j)} AS pos"
      " FROM pk"
      for j in range(BLOOM_K)
  )}
),
flags AS (
  SELECT p.o_custkey,
         BOOL_AND(b.pos IS NOT NULL) AS is_candidate
  FROM probe p LEFT JOIN bits b ON p.pos = b.pos
  GROUP BY p.o_custkey
),
verdicts AS (
  SELECT f.o_custkey, f.is_candidate,
         (c.c_custkey IS NOT NULL) AS is_true
  FROM flags f LEFT JOIN build c ON f.o_custkey = c.c_custkey
),
keystats AS (
  SELECT COUNT(*) AS n_probe_keys,
         COUNT(CASE WHEN is_candidate THEN 1 END) AS n_candidate_keys,
         COUNT(CASE WHEN is_true THEN 1 END) AS n_true_keys,
         COUNT(CASE WHEN is_candidate AND NOT is_true THEN 1 END)
           AS n_fp_keys,
         COUNT(CASE WHEN is_true AND NOT is_candidate THEN 1 END)
           AS n_missed_keys
  FROM verdicts
),
rowstats AS (
  SELECT COUNT(*) AS n_candidate_rows
  FROM orders o JOIN verdicts v
    ON o.o_custkey = v.o_custkey AND v.is_candidate
)
SELECT (SELECT COUNT(*) FROM build) AS n_build_keys,
       (SELECT COUNT(*) FROM bits) AS n_bits_set,
       k.n_probe_keys, k.n_candidate_keys, k.n_true_keys, k.n_fp_keys,
       k.n_missed_keys, r.n_candidate_rows,
       CAST(k.n_fp_keys AS DOUBLE)
         / (k.n_probe_keys - k.n_true_keys) AS fp_rate
FROM keystats k CROSS JOIN rowstats r
""",
    description="Bloom-filter semi-join prefilter audit: a k=3/m=8192"
    " md5-seeded bloom built from BUILDING-segment customers prunes the"
    " orders probe side before the true join; candidate/true/false-"
    "positive accounting (zero missed keys = the no-false-negative"
    " contract) is hashed against an oracle replaying the identical"
    " bit math",
    tags=("join", "sketch", "bloom", "approx"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The runtime-filter pattern behind Spark's own
    InSubqueryExec/bloom runtime filters and every warehouse's
    semi-join pushdown, made explicit and auditable: build-side keys
    hash to k bit positions (the distinct-position table IS the bitmap
    — ≤ m rows, broadcast), the probe side keeps a key only when ALL k
    of its positions are set, and the true join runs on the survivors.
    At 100 TB the win is shuffle mass: the probe shuffle carries only
    candidates (true matches + the hashed fp_rate), and the bitmap
    rides the broadcast lane no matter how large the probe is. The
    no-false-negative contract (n_missed_keys = 0) and the measured
    fp_rate are both inside the driver hash. Spark's native
    bloom_filter_agg produces an engine-specific binary the oracle
    can't replay — this md5-position formulation keeps the identical
    membership math runnable in DuckDB."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = cust.filter(F.col("c_mktsegment") == BLOOM_SEGMENT).select(
        "c_custkey"
    )
    bits = None
    for j in range(BLOOM_K):
        part = build.select(
            F.expr(_bloom_pos("spark", "c_custkey", j)).alias("pos")
        )
        bits = part if bits is None else bits.unionByName(part)
    bits = bits.distinct()

    pk = orders.select("o_custkey").distinct()
    probe = None
    for j in range(BLOOM_K):
        part = pk.select(
            "o_custkey",
            F.expr(_bloom_pos("spark", "o_custkey", j)).alias("pos"),
        )
        probe = part if probe is None else probe.unionByName(part)
    flags = (
        probe.join(F.broadcast(bits.withColumn("hit", F.lit(True))), "pos", "left")
        .groupBy("o_custkey")
        .agg(F.bool_and(F.col("hit").isNotNull()).alias("is_candidate"))
    )
    verdicts = flags.join(
        F.broadcast(build.withColumn("t", F.lit(True))),
        flags.o_custkey == build.c_custkey,
        "left",
    ).select(
        "o_custkey",
        "is_candidate",
        F.col("t").isNotNull().alias("is_true"),
    )
    keystats = verdicts.agg(
        F.count("*").alias("n_probe_keys"),
        F.count(F.when(F.col("is_candidate"), 1)).alias("n_candidate_keys"),
        F.count(F.when(F.col("is_true"), 1)).alias("n_true_keys"),
        F.count(
            F.when(F.col("is_candidate") & ~F.col("is_true"), 1)
        ).alias("n_fp_keys"),
        F.count(
            F.when(F.col("is_true") & ~F.col("is_candidate"), 1)
        ).alias("n_missed_keys"),
    )
    rowstats = (
        orders.join(
            F.broadcast(verdicts.filter(F.col("is_candidate"))),
            "o_custkey",
        )
        .agg(F.count("*").alias("n_candidate_rows"))
    )
    nb = build.agg(F.count("*").alias("n_build_keys"))
    nbits = bits.agg(F.count("*").alias("n_bits_set"))
    return (
        nb.crossJoin(F.broadcast(nbits))
        .crossJoin(F.broadcast(keystats))
        .crossJoin(F.broadcast(rowstats))
        .select(
            "n_build_keys",
            "n_bits_set",
            "n_probe_keys",
            "n_candidate_keys",
            "n_true_keys",
            "n_fp_keys",
            "n_missed_keys",
            "n_candidate_rows",
            (
                F.col("n_fp_keys").cast("double")
                / (F.col("n_probe_keys") - F.col("n_true_keys"))
            ).alias("fp_rate"),
        )
    )


#: Equi-width histogram bucket count.
HIST_NB = 20


@register(
    "agg_histogram_equiwidth",
    oracle=f"""
WITH ext AS (
  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
  FROM lineitem
),
b AS (
  SELECT CAST(LEAST(FLOOR((l_extendedprice - e.lo)
                          / ((e.hi - e.lo) / {HIST_NB})),
                    {HIST_NB - 1}) AS INT) AS bucket,
         l_extendedprice, e.lo, e.hi
  FROM lineitem CROSS JOIN ext e
)
SELECT bucket,
       lo + bucket * ((hi - lo) / {HIST_NB}) AS bucket_lo,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(l_extendedprice, 4) AS DECIMAL(18,4)))
            AS DOUBLE) AS sum_price
FROM b
GROUP BY bucket, lo, hi
ORDER BY bucket
""",
    description=f"equi-width histogram ({HIST_NB} buckets) over"
    " l_extendedprice with data-derived [min,max] edges riding a"
    " broadcast 1-row aggregate — the profile/EDA primitive behind"
    " optimizer column statistics, one narrow pass + one bounded-key"
    " aggregation",
    tags=("agg", "histogram", "profile"),
)
def agg_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two passes: a 1-row min/max aggregate (broadcast back onto the
    scan — never a driver-side collect) and one group-by on the derived
    bucket id, whose cardinality is the constant NB regardless of table
    size, so the final shuffle carries NB combined rows per map task.
    The bucket edges and the FLOOR assignment are fixed-operand-order
    IEEE double math — identical in DuckDB — and per-bucket sums go
    through round-4 DECIMAL partials (order-independent) like every
    float aggregate in the registry."""
    li = load_table(spark, sf_dir, "lineitem")
    ext = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(HIST_NB)
    b = li.crossJoin(F.broadcast(ext)).select(
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("lo")) / width),
            F.lit(HIST_NB - 1),
        )
        .cast("int")
        .alias("bucket"),
        "l_extendedprice",
        "lo",
        "hi",
    )
    return (
        b.groupBy("bucket", "lo", "hi")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.round(F.col("l_extendedprice"), 4).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            "bucket",
            (
                F.col("lo")
                + F.col("bucket") * ((F.col("hi") - F.col("lo")) / F.lit(HIST_NB))
            ).alias("bucket_lo"),
            "n_rows",
            "sum_price",
        )
        .orderBy("bucket")
    )


_BENFORD_SQL = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INT) AS d
  FROM orders WHERE o_totalprice >= 1
),
obs AS (
  SELECT d, COUNT(*) AS n FROM digits GROUP BY d
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM obs),
expected AS (
  SELECT d, n, t.n_total,
         round(ln(1 + CAST(1 AS DOUBLE) / d) / ln(CAST(10 AS DOUBLE)), 8)
           AS p_benford
  FROM obs CROSS JOIN tot t
)
SELECT d AS first_digit, n AS n_observed, n_total,
       p_benford,
       round(CAST(n AS DOUBLE) / n_total, 6) AS p_observed,
       round((CAST(n AS DOUBLE) - n_total * p_benford)
             * (CAST(n AS DOUBLE) - n_total * p_benford)
             / (n_total * p_benford), 6) AS chi2_term
FROM expected
ORDER BY first_digit
"""


@register(
    "agg_benford_audit",
    oracle=_BENFORD_SQL,
    description="Benford's-law first-digit audit over order totals:"
    " observed vs log10(1+1/d) expected frequencies with per-digit"
    " chi-square terms — the data-forensics screen for fabricated or"
    " truncated numeric columns, exact counts + rounded-log expecteds",
    tags=("agg", "audit", "benford", "quality"),
)
def agg_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First significant digits of natural multiplicative data follow
    P(d) = log10(1 + 1/d) (Benford 1938); fabricated, capped, or
    unit-mangled columns don't — auditors and data-quality monitors
    screen for exactly this. The digit extract is string head of the
    integer part (explicit FLOOR first — a bare double→BIGINT cast
    TRUNCATES in Spark but ROUNDS half-even in DuckDB, which moved
    89999.99 across the 8/9 digit boundary; FLOOR is engine-identical
    — codegen), counts are exact, and the expected
    probabilities are rounded-8 ln ratios (log-parity discipline), so
    the per-digit chi-square terms hash identically. One bounded-key
    (9-digit) aggregation after a narrow scan; the verdict is read by
    summing chi2_term against the chi-square critical value — the
    per-digit terms are kept so the hash pins WHERE any deviation
    lives, not just its total."""
    text = _BENFORD_SQL.replace("AS VARCHAR", "AS STRING")
    return sql(spark, text, orders=load_table(spark, sf_dir, "orders"))


_FPRINT_SQL = """
WITH rowh AS (
  -- every field COALESCEd to the chr(1) sentinel BEFORE hashing: a NULL
  -- anywhere would otherwise make Spark's concat_ws silently skip the
  -- field while DuckDB's || nulls the whole row-hash (string_agg then
  -- drops it) — the two engines would fingerprint different row SETS.
  -- chr(1) cannot collide with real values (doc_id/n_chars render as
  -- digits, lang is alphanumeric, text rides through md5 first).
  SELECT source,
         md5(COALESCE(CAST(doc_id AS VARCHAR), chr(1)) || '|'
             || COALESCE(lang, chr(1)) || '|'
             || COALESCE(CAST(n_chars AS VARCHAR), chr(1)) || '|'
             || COALESCE(md5(text), chr(1))) AS rh
  FROM documents
),
persource AS (
  SELECT source,
         COUNT(*) AS n_rows,
         md5(string_agg(rh, '' ORDER BY rh)) AS source_digest
  FROM rowh GROUP BY source
)
SELECT source, n_rows, source_digest
FROM persource
ORDER BY source
"""


@register(
    "agg_table_fingerprint",
    oracle=_FPRINT_SQL,
    description="order-insensitive table content fingerprint: per-row"
    " md5 over canonicalized columns, sorted and folded to one digest"
    " per source partition — the Merkle-leaf checksum replicas compare"
    " to verify a 100 TB copy without moving data; any changed, lost,"
    " or duplicated row anywhere flips its partition digest",
    tags=("agg", "integrity", "fingerprint", "audit"),
)
def agg_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication/migration verification needs a content equality
    check that is ORDER-INSENSITIVE (two copies of a table rarely
    store rows in the same order) and cheap to compare (one digest per
    partition, not per row). Per-row md5 over a canonical column
    serialization, sorted WITHIN the partition, folded with one more
    md5: the sort makes the digest a pure set property, and comparing
    N_partitions digests verifies the whole table — the Merkle-tree
    leaf level (parent levels fold the partition digests the same
    way). This digest IS this engine's driver-correctness mechanism
    turned into an operator: the oracle computes the identical digest
    in DuckDB, so the hash check proves two ENGINES agree on content,
    which is exactly the cross-replica guarantee. The in-partition
    sort is bounded by partition size; at 100 TB you fingerprint at
    file or bucket granularity (the compacted store's unit), never
    globally."""
    docs = load_table(spark, sf_dir, "documents")
    sent = F.lit("\x01")  # NULL sentinel — see the oracle's comment
    rowh = docs.select(
        "source",
        F.md5(
            F.concat_ws(
                "|",
                F.coalesce(F.col("doc_id").cast("string"), sent),
                F.coalesce(F.col("lang"), sent),
                F.coalesce(F.col("n_chars").cast("string"), sent),
                F.coalesce(F.md5("text"), sent),
            )
        ).alias("rh"),
    )
    return (
        rowh.groupBy("source")
        .agg(
            F.count("*").alias("n_rows"),
            F.md5(
                F.concat_ws(
                    "", F.array_sort(F.collect_list("rh"))
                )
            ).alias("source_digest"),
        )
        .orderBy("source")
    )


#: KMV (k-minimum-values) sketch size. 64 keeps the union estimate's
#: relative SD ~1/sqrt(62) ≈ 13% — coarse, but the point of the audit
#: is the INTERSECTION path HLL cannot take at all.
KMV_K = 64

def _kmv_sql(dialect: str) -> str:
    """One SQL text for both engines: KMV sketches per event_type over
    distinct users, then pairwise union/Jaccard/intersection ESTIMATES
    beside their exact answers. The sketch element is the 32-bit md5
    fold of 'kmv:'||user_id (engine-identical strings → identical
    integers), so both engines build bit-identical sketches and every
    estimate divides exact integers — rounded once at the end."""
    if dialect == "spark":
        fold = (
            "CAST(conv(substr(md5('kmv:' || CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT)"
        )
    else:
        fold = (
            "CAST('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),"
            " 1, 8) AS BIGINT)"
        )
    k = KMV_K
    return f"""
WITH hd AS (
  SELECT DISTINCT event_type, {fold} AS hv FROM events
),
rk AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
  FROM hd
),
sk AS (SELECT event_type, hv FROM rk WHERE r <= {k}),
ex AS (SELECT event_type, COUNT(*) AS n_exact FROM hd GROUP BY event_type),
types AS (SELECT DISTINCT event_type FROM sk),
pair_hashes AS (
  SELECT s.event_type AS type_a, t.event_type AS type_b, s.hv
  FROM sk s JOIN types t ON s.event_type < t.event_type
  UNION
  SELECT t.event_type, s.event_type, s.hv
  FROM sk s JOIN types t ON t.event_type < s.event_type
),
pu AS (
  SELECT type_a, type_b, hv,
         row_number() OVER (PARTITION BY type_a, type_b ORDER BY hv) AS r
  FROM pair_hashes
),
upto AS (SELECT type_a, type_b, hv FROM pu WHERE r <= {k}),
ustats AS (
  SELECT type_a, type_b, COUNT(*) AS ku, MAX(hv) AS u_max
  FROM upto GROUP BY type_a, type_b
),
nboth AS (
  SELECT u.type_a, u.type_b, COUNT(*) AS n_both
  FROM upto u
  JOIN sk sa ON sa.event_type = u.type_a AND sa.hv = u.hv
  JOIN sk sb ON sb.event_type = u.type_b AND sb.hv = u.hv
  GROUP BY u.type_a, u.type_b
),
exact_inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_inter_exact
  FROM hd a JOIN hd b
    ON a.hv = b.hv AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
),
est AS (
  SELECT s.type_a, s.type_b, s.ku,
         COALESCE(b.n_both, 0) AS n_both,
         CASE WHEN s.ku < {k} THEN CAST(s.ku AS DOUBLE)
              ELSE ({k} - 1)
                   / (CAST(s.u_max AS DOUBLE) / 4294967296.0)
         END AS est_union
  FROM ustats s
  LEFT JOIN nboth b ON b.type_a = s.type_a AND b.type_b = s.type_b
)
SELECT e.type_a, e.type_b,
       ea.n_exact AS n_a, eb.n_exact AS n_b,
       (ea.n_exact + eb.n_exact - COALESCE(x.n_inter_exact, 0))
         AS n_union_exact,
       COALESCE(x.n_inter_exact, 0) AS n_inter_exact,
       round(e.est_union, 1) AS est_union,
       round(CAST(e.n_both AS DOUBLE) / e.ku, 4) AS est_jaccard,
       round(CAST(e.n_both AS DOUBLE) / e.ku * e.est_union, 1)
         AS est_inter
FROM est e
JOIN ex ea ON ea.event_type = e.type_a
JOIN ex eb ON eb.event_type = e.type_b
LEFT JOIN exact_inter x
  ON x.type_a = e.type_a AND x.type_b = e.type_b
ORDER BY e.type_a, e.type_b
"""


@register(
    "agg_kmv_distinct_audit",
    oracle=_kmv_sql("duckdb"),
    description="KMV (k-minimum-values) sketch audit: pairwise"
    " union/Jaccard/INTERSECTION estimates between event-type user"
    " sets beside their exact answers — the mergeable set-operation"
    " sketch HLL cannot provide (HLL unions but never intersects)",
    tags=("agg", "sketch", "kmv", "audit"),
)
def agg_kmv_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_hll_audit covers distinct COUNTS; audience-overlap questions
    (how many users both click AND purchase?) need set INTERSECTION,
    which HLL sketches cannot answer. KMV (Bar-Yossef et al. 2002;
    Beyer et al. SIGMOD'07 "distinct-value synopses") keeps the k
    smallest hash values per set: D̂ = (k-1)/max_kth_normalized_hash,
    sketches union by merging+truncating to k, and the fraction ρ of
    union-sketch members present in both input sketches estimates
    Jaccard, giving |A∩B| ≈ ρ·D̂_union. Everything here is integer-
    exact until the final divisions (engine-identical md5-fold
    elements, rank windows over ≤k·types rows), and each estimate row
    carries its exact answer, so the driver hash pins the estimator's
    output, not a tolerance. Scale shape: the sketch build is one
    rank window per type over DISTINCT (type, hash) — partial-agg
    friendly, sketch size constant; the pairwise stage touches only
    k·types rows (broadcast-sized regardless of corpus). With k=64
    the sketch is exact below 64 distinct users (the CASE branch),
    measured ~13% RSD above."""
    text = _kmv_sql("spark")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Count-min geometry: d seeded hash rows of w buckets, and the number
#: of audited heavy hitters.
CM_W = 512
CM_D = 3
CM_TOP = 10


def _cm_pos(dialect: str, seed: int) -> str:
    """Bucket position for seed ``seed`` — the bloom-filter fold reused
    with the CM width."""
    if dialect == "spark":
        h = f"substr(md5(concat('cm{seed}:', CAST(user_id AS STRING))), 1, 8)"
        return f"CAST(conv({h}, 16, 10) AS BIGINT) % {CM_W}"
    h = f"substr(md5('cm{seed}:' || CAST(user_id AS VARCHAR)), 1, 8)"
    return f"CAST('0x' || {h} AS BIGINT) % {CM_W}"


def _cm_sql(dialect: str) -> str:
    """One SQL text per engine: build the d×w counter table from raw
    event rows, probe it for the exact top-CM_TOP users, report
    estimate beside exact count. CM guarantees est ≥ exact always and
    est ≤ exact + εN with high probability — the audit hashes the
    overestimate itself."""
    build = "\nUNION ALL\n".join(
        f"SELECT {j} AS seed, {_cm_pos(dialect, j)} AS pos, COUNT(*) AS cnt"
        f" FROM events GROUP BY {_cm_pos(dialect, j)}"
        for j in range(CM_D)
    )
    probe_pos = "\nUNION ALL\n".join(
        f"SELECT user_id, n_exact, {j} AS seed, {_cm_pos(dialect, j)} AS pos"
        f" FROM topk"
        for j in range(CM_D)
    )
    return f"""
WITH cm AS (
{build}
),
exact AS (
  SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY user_id
),
topk AS (
  SELECT user_id, n_exact FROM exact
  ORDER BY n_exact DESC, user_id LIMIT {CM_TOP}
),
probe AS (
{probe_pos}
),
est AS (
  SELECT p.user_id, p.n_exact, MIN(c.cnt) AS cm_est
  FROM probe p JOIN cm c ON c.seed = p.seed AND c.pos = p.pos
  GROUP BY p.user_id, p.n_exact
)
SELECT user_id, n_exact, cm_est,
       cm_est - n_exact AS overestimate,
       cm_est >= n_exact AS never_underestimates
FROM est
ORDER BY n_exact DESC, user_id
"""


@register(
    "agg_cm_sketch_audit",
    oracle=_cm_sql("duckdb"),
    description="count-min sketch audit: a d=3 x w=512 counter table"
    " built in one pass estimates per-user event frequencies; the"
    " exact top-10 heavy hitters are probed against it with the"
    " overestimate and the never-underestimates guarantee hashed —"
    " the point-query frequency sketch beside HLL (cardinality), KMV"
    " (set ops), and bloom (membership)",
    tags=("agg", "sketch", "countmin", "audit"),
)
def agg_cm_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min (Cormode & Muthukrishnan 2005) answers 'how often did
    key x occur?' from d·w counters instead of a per-key table: each
    of d seeded hashes increments one of w counters, a point query
    takes the MIN across its d counters — collisions only ever ADD,
    so est ≥ exact unconditionally (the hashed boolean) and
    est ≤ exact + e/w·N with probability 1-e^-d. The build is d
    partial-aggregating GROUP BYs over a bucket column (at 100 TB:
    one pass, d·w longs of state — broadcastable); the probe joins
    the CM_TOP audited keys (exact heap top-k) against d·CM_TOP
    bucket rows. Deterministic md5-seeded folds make both engines
    build the identical counter table, so the estimates — not just
    the bounds — hash across engines."""
    text = _cm_sql("spark")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Join-cardinality audit: the two fixture joins estimated.
_JCARD_JOINS = (
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    # the non-FK case: both sides carry the per-customer frequency
    # dispersion, so true = Σc² exceeds the uniform N²/ndv by ~10%
    # (probed 1.1027 at sf0.01, 1.0997 at sf0.1) — the column that
    # keeps err_ratio from being a vacuous 1.0 everywhere
    ("orders_self_custkey", "orders", "o_custkey", "orders", "o_custkey"),
)


def _jcard_block(name: str, ta: str, ka: str, tb: str, kb: str) -> str:
    return f"""
SELECT '{name}' AS join_name,
       a.rows_a, a.ndv_a, b.rows_b, b.ndv_b, t.true_rows,
       round(CAST(a.rows_a AS DOUBLE) * b.rows_b
             / GREATEST(a.ndv_a, b.ndv_b), 2) AS est_uniform,
       round(t.true_rows / (CAST(a.rows_a AS DOUBLE) * b.rows_b
             / GREATEST(a.ndv_a, b.ndv_b)), 4) AS err_ratio
FROM (SELECT CAST(COUNT(*) AS BIGINT) AS rows_a,
             CAST(COUNT(DISTINCT {ka}) AS BIGINT) AS ndv_a FROM {ta}) a
CROSS JOIN
     (SELECT CAST(COUNT(*) AS BIGINT) AS rows_b,
             CAST(COUNT(DISTINCT {kb}) AS BIGINT) AS ndv_b FROM {tb}) b
CROSS JOIN
     (SELECT CAST(SUM(ca * cb) AS BIGINT) AS true_rows
      FROM (SELECT {ka} AS k, COUNT(*) AS ca FROM {ta} GROUP BY {ka}) x
      JOIN (SELECT {kb} AS k, COUNT(*) AS cb FROM {tb} GROUP BY {kb}) y
        ON x.k = y.k) t"""


_JCARD_SQL = (
    "\nUNION ALL\n".join(_jcard_block(*j) for j in _JCARD_JOINS)
    + "\nORDER BY join_name"
)


@register(
    "agg_join_cardinality_audit",
    oracle=_JCARD_SQL,
    description="join-size estimation audit: the CBO's uniform-ndv"
    " formula |A|·|B|/max(ndv) beside the EXACT join cardinality"
    " (computed as Σ cA(k)·cB(k) over per-key counts — never by"
    " materializing the join) for two fixture joins, with the"
    " error ratio hashed — the statistics quality check behind every"
    " cost-based join reorder",
    tags=("agg", "stats", "cbo", "join"),
)
def agg_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based optimizers pick join orders from estimated output
    cardinalities, and the workhorse estimate is the uniform-frequency
    formula |A|·|B|/max(ndv_A, ndv_B). The audit computes that
    estimate from exact table stats AND the true cardinality — as the
    sum of per-key count products over the key intersection, i.e. two
    partial aggregations and a key-sized join, never the joined rows
    themselves (the same trick makes the audit runnable at 100 TB,
    where materializing lineitem⋈orders to count it would be the
    bottleneck the estimate exists to avoid). err_ratio = true/est:
    1.0 where the uniformity assumption holds (the two FK joins),
    ~1.10 on the self-join whose both sides share the per-customer
    frequency dispersion (1 + CV² exactly), and unbounded on Zipf
    keys (token joins — why inverted-index joins never trust the
    uniform formula) — the hashed number IS the statistics quality
    the optimizer depends on. At scale ndv comes
    from HLL (agg_hll_audit pins its error contract); here it is
    exact so the audit isolates the FORMULA's error, not the
    sketch's."""
    tables = ("orders", "customer", "lineitem")
    return sql(
        spark, _JCARD_SQL, **{t: load_table(spark, sf_dir, t) for t in tables}
    )
