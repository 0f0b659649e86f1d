"""Multi-dimensional data layout: Z-order (Morton) clustering audit.

Single-key range layouts (sources/ingest.py's compacted store) give
min/max data skipping on ONE key; queries that filter on a second
dimension still scan everything. The standard fix at 100 TB is a
space-filling-curve sort key: interleave the bits of both dimensions
(Morton/Z-order) and range-partition on the interleaved value, so
EVERY partition is a bounded tile in BOTH dimensions and parquet
footer min/max prunes on either predicate (the layout behind
Delta/Iceberg OPTIMIZE ZORDER BY).

The query below builds the 16-bit Morton key over (customer bucket,
order-date bucket), assigns each order to one of 16 z-range partitions
(a stateless shift — at scale this is `repartitionByRange(z)` +
`sortWithinPartitions(z)` at write time), and audits the claim that
matters: per-partition extents of BOTH dimensions are bounded (each
partition is a 64×64 tile of the 256×256 grid), so the skip fraction
for a point predicate on either dimension is ≥ 1 − 64/256. A linear
layout bounds only its sort dimension; the hashed extent columns would
blow up if the interleave broke.

All bucket/interleave math is integer shift/mask plus one shared FLOOR
scaling per dimension — engine-identical (registry rule 3), so the
DuckDB oracle replays the exact bit math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, sql
from mcp_rag_server_spark.registry import register

#: Grid resolution: 8 bits per dimension -> 16-bit Morton key.
ZO_BITS = 8
ZO_CELLS = 1 << ZO_BITS  # 256
#: z >> 12 -> 16 partitions, each a 64x64 tile of the 256x256 grid.
ZO_PART_SHIFT = 12
ZO_TILE = 64  # sqrt(2**ZO_PART_SHIFT)


def _morton(dialect: str, x: str, y: str) -> str:
    """16-bit Morton interleave: bit i of x -> bit 2i, bit i of y ->
    bit 2i+1. Same integer value in both engines."""
    if dialect == "spark":
        terms = [
            f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})" for i in range(ZO_BITS)
        ] + [
            f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})"
            for i in range(ZO_BITS)
        ]
    else:
        terms = [f"((({x} >> {i}) & 1) << {2 * i})" for i in range(ZO_BITS)] + [
            f"((({y} >> {i}) & 1) << {2 * i + 1})" for i in range(ZO_BITS)
        ]
    return "(" + " + ".join(terms) + ")"


def _zo_oracle() -> str:
    x = "x"
    y = "y"
    return f"""
WITH ext AS (
  SELECT MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
         MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax
  FROM orders
),
g AS (
  SELECT CAST(LEAST(FLOOR((o_custkey - e.cmin) * CAST({ZO_CELLS} AS DOUBLE)
                          / (e.cmax - e.cmin + 1)), {ZO_CELLS - 1}) AS INT)
           AS x,
         CAST(LEAST(FLOOR(date_diff('day', e.dmin, o_orderdate)
                          * CAST({ZO_CELLS} AS DOUBLE)
                          / (date_diff('day', e.dmin, e.dmax) + 1)),
                    {ZO_CELLS - 1}) AS INT) AS y
  FROM orders CROSS JOIN ext e
),
z AS (
  SELECT x, y, {_morton('duckdb', x, y)} AS zval FROM g
)
SELECT CAST(zval >> {ZO_PART_SHIFT} AS INT) AS z_part,
       COUNT(*) AS n_rows,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max,
       MAX(x) - MIN(x) + 1 AS x_extent,
       MAX(y) - MIN(y) + 1 AS y_extent,
       (MAX(x) - MIN(x) + 1 <= {ZO_TILE})
         AND (MAX(y) - MIN(y) + 1 <= {ZO_TILE}) AS tile_bounded
FROM z
GROUP BY zval >> {ZO_PART_SHIFT}
ORDER BY z_part
"""


@register(
    "zorder_layout",
    oracle=_zo_oracle(),
    description="Z-order (Morton) clustering audit: 16-bit bit-interleave"
    " of (customer bucket, order-date bucket), 16 z-range partitions,"
    " per-partition extents of BOTH dimensions hashed with the"
    " tile-bounded contract (every partition a 64x64 tile) — the"
    " multi-dim data-skipping layout behind OPTIMIZE ZORDER BY",
    tags=("layout", "zorder", "skipping"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why interleave instead of sort-by-(a,b): a lexicographic sort
    bounds only its leading key per partition; the Morton key gives
    every z-range a tile bounded in BOTH dimensions, so parquet
    min/max footers prune scans for predicates on EITHER column. The
    audit hashes exactly that contract (tile_bounded must be true for
    all 16 partitions — bit-math drift or a broken interleave flips
    it). Plan shape: one 1-row min/max aggregate broadcast onto the
    scan, pure integer shift/mask projection (whole-stage codegen, no
    shuffle), one bounded-key aggregation — at write time the same z
    column feeds repartitionByRange + sortWithinPartitions, which is
    the production path this query audits."""
    o = load_table(spark, sf_dir, "orders")
    ext = o.agg(
        F.min("o_custkey").alias("cmin"),
        F.max("o_custkey").alias("cmax"),
        F.min("o_orderdate").alias("dmin"),
        F.max("o_orderdate").alias("dmax"),
    )
    g = o.crossJoin(F.broadcast(ext)).select(
        F.least(
            F.floor(
                (F.col("o_custkey") - F.col("cmin"))
                * F.lit(ZO_CELLS).cast("double")
                / (F.col("cmax") - F.col("cmin") + 1)
            ),
            F.lit(ZO_CELLS - 1),
        )
        .cast("int")
        .alias("x"),
        F.least(
            F.floor(
                F.datediff(F.col("o_orderdate"), F.col("dmin"))
                * F.lit(ZO_CELLS).cast("double")
                / (F.datediff(F.col("dmax"), F.col("dmin")) + 1)
            ),
            F.lit(ZO_CELLS - 1),
        )
        .cast("int")
        .alias("y"),
    )
    z = g.select("x", "y", F.expr(_morton("spark", "x", "y")).alias("zval"))
    return (
        z.groupBy(
            F.shiftright(F.col("zval"), ZO_PART_SHIFT)
            .cast("int")
            .alias("z_part")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            (F.max("x") - F.min("x") + 1).alias("x_extent"),
            (F.max("y") - F.min("y") + 1).alias("y_extent"),
            (
                (F.max("x") - F.min("x") + 1 <= ZO_TILE)
                & (F.max("y") - F.min("y") + 1 <= ZO_TILE)
            ).alias("tile_bounded"),
        )
        .orderBy("z_part")
    )


#: Compaction planning: soft target bin size (chars stand in for
#: bytes on the fixture) and the small-file threshold.
COMPACT_TARGET = 4096
COMPACT_SMALL_LT = COMPACT_TARGET // 2


def _compaction_sql(dialect: str) -> str:
    """Per-partition sorted-greedy bin packing: files ordered
    (size DESC, lang) inside each source, bin = exclusive-prefix DIV
    target — the associative, window-partitioned form of the packing
    every lakehouse OPTIMIZE job runs."""
    div = "//" if dialect == "duckdb" else "DIV"
    return f"""
WITH manifest AS (
  SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY source, lang
),
planned AS (
  SELECT source, lang, bytes,
         CAST((SUM(bytes) OVER (PARTITION BY source
                                ORDER BY bytes DESC, lang
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - bytes)
              {div} {COMPACT_TARGET} AS BIGINT) AS bin
  FROM manifest
),
bins AS (
  SELECT source, bin, CAST(SUM(bytes) AS BIGINT) AS bin_bytes
  FROM planned GROUP BY source, bin
)
SELECT p.source,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(p.bytes) AS BIGINT) AS total_bytes,
       CAST(COUNT(CASE WHEN p.bytes < {COMPACT_SMALL_LT} THEN 1 END)
            AS BIGINT) AS n_small_files,
       b.n_bins,
       b.max_bin_bytes,
       round(SUM(p.bytes) / (CAST(b.n_bins AS DOUBLE) * {COMPACT_TARGET}),
             4) AS avg_fill_ratio
FROM planned p
JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(MAX(bin_bytes) AS BIGINT) AS max_bin_bytes
      FROM bins GROUP BY source) b
  ON b.source = p.source
GROUP BY p.source, b.n_bins, b.max_bin_bytes
ORDER BY p.source
"""


@register(
    "ingest_compaction_plan",
    oracle=_compaction_sql("duckdb"),
    description="small-file compaction planning: per-source manifest"
    " (size per (source, lang) file), sorted-greedy prefix-sum bin"
    f" packing against a {COMPACT_TARGET}-byte soft target — files,"
    " small-file count, bins, max bin size, and fill ratio per"
    " partition, the plan every lakehouse OPTIMIZE job computes"
    " before rewriting anything",
    tags=("ingest", "layout", "compaction"),
)
def ingest_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files problem is THE lakehouse operational tax, and
    the planning step is pure relational work over the manifest —
    never the data: order each partition's files (size DESC, a
    deterministic total order with the lang tie-break), take the
    EXCLUSIVE prefix sum, and integer-divide by the target so each
    bin is a target-width stripe of the cumulative size (a bin can
    exceed the target by at most one file's tail — the standard
    soft-boundary semantics; true first-fit-decreasing is inherently
    sequential and buys ≤ 2% fill on realistic manifests). The
    window partitions by source exactly as production compaction
    partitions by table partition, so no corpus-wide order exists at
    any manifest size; compact_store (sources/ingest.py) is the
    executor this planner fronts. Hashed per source: file and
    small-file counts, bin count, max bin, fill ratio."""
    text = _compaction_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))
