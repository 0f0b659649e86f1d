"""Relational operator surface — TPC-H-style query pack.

The reference has NO general joins/aggregations/windows/set-ops
(SURVEY.md §2.3-§2.7: its only "joins" are two hash-map key matchings in
the incremental updater, src/indexer.ts:413-511). BASELINE.json directs
the new engine to expose the standard relational surface; this module
does so with vanilla Spark DataFrame plans over the TPC-H-ish fixture
star schema, tuned the way a 100 TB deployment would be:

  - dimension tables (region/nation/customer/supplier/part) are
    broadcast — fact-table joins never shuffle the big side on a dim key;
  - aggregates are partial (map-side combine) by construction;
  - top-k = orderBy().limit() → TakeOrderedAndProject (no global sort);
  - float aggregates follow the decimal-sum determinism discipline
    (functions/numeric.py) so results hash-match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, sql
from mcp_rag_server_spark.functions.vector import (
    duckdb_cosine as _duckdb_cosine,
)
from mcp_rag_server_spark.functions.numeric import (
    davg,
    dsum,
    duckdb_davg,
    duckdb_dsum,
)
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.session import spread_scan

_REVENUE = "l_extendedprice * (1 - l_discount)"


def _revenue() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "tpch_q1",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {duckdb_dsum('l_quantity', 4)} AS sum_qty,
       {duckdb_dsum('l_extendedprice', 4)} AS sum_base_price,
       {duckdb_dsum(_REVENUE, 6)} AS sum_disc_price,
       {duckdb_dsum(_REVENUE + ' * (1 + l_tax)', 6)} AS sum_charge,
       {duckdb_davg('l_quantity', 6)} AS avg_qty,
       {duckdb_davg('l_extendedprice', 6)} AS avg_price,
       {duckdb_davg('l_discount', 6)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    description="TPC-H Q1 pricing summary: wide aggregate with map-side combine",
    tags=("relational", "agg"),
    bench=True,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14: the single-row-group fixture scan made the 11 decimal
    partial sums run as ONE task (~2 s serial at sf0.1); spread_scan
    re-spreads the filtered scan on l_orderkey so the partial
    aggregation parallelizes (guide §2.5 input skew) — measured x0.44
    interleaved A/B; a no-op on multi-split production layouts."""
    li = spread_scan(
        load_table(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp")
        ),
        "l_orderkey",
    )
    charge = _revenue() * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 4).alias("sum_qty"),
            dsum("l_extendedprice", 4).alias("sum_base_price"),
            dsum(_revenue(), 6).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity", 6).alias("avg_qty"),
            davg("l_extendedprice", 6).alias("avg_price"),
            davg("l_discount", 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q3",
    oracle=f"""
SELECT l.l_orderkey,
       {duckdb_dsum(_REVENUE, 6)} AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
""",
    description="TPC-H Q3 shipping priority: AQE-sized joins + top-k",
    tags=("relational", "join", "topk"),
    bench=True,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan shape: lineitem scan (filter pushed to parquet) ⋈
    (customer⋈orders filtered) → partial agg → TakeOrderedAndProject(10).

    No explicit broadcast hints: orders and customer scale with SF, so a
    forced broadcast of a date-filtered orders side OOMs at 100 TB. AQE's
    dynamic join selection broadcasts them when the runtime size is under
    autoBroadcastJoinThreshold (it is at fixture scale) and falls back to
    a shuffle hash join on l_orderkey otherwise."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        li.join(
            orders.join(cust, orders["o_custkey"] == cust["c_custkey"]),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_revenue(), 6).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5",
    oracle=f"""
SELECT n.n_name, {duckdb_dsum(_REVENUE, 6)} AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
""",
    description="TPC-H Q5 local supplier volume: 6-way star join,"
    " constant dims hinted, rest AQE-sized",
    tags=("relational", "join", "agg"),
    bench=True,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # Hints only on the constant-size dims (nation/region). orders,
    # customer, and supplier scale with SF — AQE broadcasts them when the
    # runtime size qualifies, else shuffle hash join on the fact keys.
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(
            s,
            (F.col("l_suppkey") == s["s_suppkey"])
            & (F.col("c_nationkey") == s["s_nationkey"]),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .groupBy("n_name")
        .agg(dsum(_revenue(), 6).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "tpch_q6",
    oracle=f"""
SELECT {duckdb_dsum('l_extendedprice * l_discount', 6)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    description="TPC-H Q6 forecast revenue: pure pushed-down filter + scalar agg",
    tags=("relational", "filter", "agg"),
    bench=True,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four predicates are parquet-pushable; the plan is scan→agg with
    no shuffle beyond the final single-row exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "tpch_q4_exists",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    description="TPC-H Q4-style EXISTS: left-semi join with residual predicate",
    tags=("relational", "join", "semi"),
)
def tpch_q4_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q10_returns",
    oracle=f"""
SELECT c.c_custkey, c.c_name, {duckdb_dsum(_REVENUE, 6)} AS revenue,
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-07-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
""",
    description="TPC-H Q10 returned-item reporting: top-20 lossy customers",
    tags=("relational", "join", "topk"),
)
def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # orders/customer scale with SF: no forced broadcast (AQE decides);
    # nation is constant-size and keeps the hint.
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_revenue(), 6).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "window_topn_per_nation",
    oracle="""
SELECT c_nationkey, c_custkey, c_name, c_acctbal, rn
FROM (
  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer)
WHERE rn <= 3
ORDER BY c_nationkey, rn
""",
    description="ranking window: top-3 customers per nation (row_number)",
    tags=("relational", "window"),
)
def window_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_name", "c_acctbal", "rn")
        .orderBy("c_nationkey", "rn")
    )


@register(
    "window_lag_orders",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_totalprice) OVER w AS prev_price,
       o_totalprice - lag(o_totalprice) OVER w AS price_delta
FROM orders
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
    description="analytic window: lag + delta per customer order history",
    tags=("relational", "window"),
)
def window_lag_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        prev.alias("prev_price"),
        (F.col("o_totalprice") - prev).alias("price_delta"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "window_moving_avg",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       (o_totalprice
        + coalesce(lag(o_totalprice, 1) OVER w, 0)
        + coalesce(lag(o_totalprice, 2) OVER w, 0))
       / (1 + CASE WHEN lag(o_totalprice, 1) OVER w IS NULL THEN 0 ELSE 1 END
            + CASE WHEN lag(o_totalprice, 2) OVER w IS NULL THEN 0 ELSE 1 END)
       AS mavg3
FROM orders
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
    description="frame window: 3-order moving average (lag-composed for"
    " cross-engine float determinism)",
    tags=("relational", "window"),
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A rows-frame AVG would be engine-dependent in summation order
    (DuckDB uses segment trees for sliding frames); composing the same
    3-term expression from lag() pins the float op order in both engines."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    l1, l2 = F.lag("o_totalprice", 1).over(w), F.lag("o_totalprice", 2).over(w)
    num = F.col("o_totalprice") + F.coalesce(l1, F.lit(0)) + F.coalesce(l2, F.lit(0))
    den = (
        F.lit(1)
        + F.when(l1.isNull(), 0).otherwise(1)
        + F.when(l2.isNull(), 0).otherwise(1)
    )
    return o.select(
        "o_custkey", "o_orderkey", "o_totalprice", (num / den).alias("mavg3")
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "rollup_sales_by_region",
    oracle=f"""
SELECT r.r_name, n.n_name,
       COUNT(*) AS n_orders,
       {duckdb_dsum('o.o_totalprice', 4)} AS total_sales
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP(r.r_name, n.n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
""",
    description="ROLLUP hierarchy totals (region→nation→grand total)",
    tags=("relational", "agg", "rollup"),
)
def rollup_sales_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", 4).alias("total_sales"),
        )
        .orderBy(
            F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first()
        )
    )


@register(
    "cube_lineitem_flags",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
    description="CUBE grouping sets over lineitem status flags",
    tags=("relational", "agg", "cube"),
)
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "set_intersect_status",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_custkey
""",
    description="INTERSECT: customers with both pending and fulfilled orders",
    tags=("relational", "setop"),
)
def set_intersect_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = o.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    f_ = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return p.intersect(f_).orderBy("o_custkey")


@register(
    "set_except_customers",
    oracle="""
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders
ORDER BY c_custkey
""",
    description="EXCEPT: customers who never ordered",
    tags=("relational", "setop"),
)
def set_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.subtract(o).orderBy("c_custkey")


@register(
    "anti_join_idle_customers",
    oracle="""
SELECT n.n_name, COUNT(*) AS idle_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY n.n_name
ORDER BY n.n_name
""",
    description="left-anti join: customers without orders, per nation"
    " (generalizes the reference's deleted-file anti join, indexer.ts:431-443)",
    tags=("relational", "join", "anti"),
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count("*").alias("idle_customers"))
        .orderBy("n_name")
    )


@register(
    "outer_join_order_counts",
    oracle="""
SELECT c.c_mktsegment,
       COUNT(DISTINCT c.c_custkey) AS n_customers,
       COUNT(o.o_orderkey) AS n_orders
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
    description="left outer join preserving order-less customers",
    tags=("relational", "join", "outer"),
)
def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "distinct_agg_lineitem",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    description="multi-distinct aggregation (expand + two-phase agg in Spark)",
    tags=("relational", "agg", "distinct"),
)
def distinct_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "correlated_max_price_part",
    oracle="""
SELECT p.p_brand, p.p_partkey, p.p_retailprice
FROM part p
JOIN (SELECT p_brand, max(p_retailprice) AS max_price
      FROM part GROUP BY p_brand) m
  ON p.p_brand = m.p_brand AND p.p_retailprice = m.max_price
ORDER BY p.p_brand, p.p_partkey
""",
    description="correlated-subquery shape: priciest part(s) per brand",
    tags=("relational", "join", "subquery"),
)
def correlated_max_price_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").alias("p")
    m = (
        load_table(spark, sf_dir, "part")
        .groupBy(F.col("p_brand").alias("m_brand"))
        .agg(F.max("p_retailprice").alias("max_price"))
        .alias("m")
    )
    return (
        p.join(
            F.broadcast(m),
            (F.col("p.p_brand") == F.col("m.m_brand"))
            & (F.col("p.p_retailprice") == F.col("m.max_price")),
        )
        .select("p.p_brand", "p.p_partkey", "p.p_retailprice")
        .orderBy("p_brand", "p_partkey")
    )


@register(
    "top_parts_by_revenue",
    oracle=f"""
SELECT l.l_partkey, p.p_name, p.p_brand,
       {duckdb_dsum(_REVENUE, 6)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY l.l_partkey, p.p_name, p.p_brand
ORDER BY revenue DESC, l.l_partkey ASC
LIMIT 15
""",
    description="fact-side aggregation + broadcast dim join + top-k",
    tags=("relational", "join", "topk", "agg"),
    bench=True,
)
def top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate lineitem BEFORE joining part (pre-aggregation shrinks the
    join input from |lineitem| to |parts| rows — at 100 TB this is the
    difference between shuffling 100 TB and broadcasting a dim). r14:
    spread_scan on the groupBy key so the decimal partial aggregation
    parallelizes on single-row-group fixture layouts — keyed on
    l_partkey, the exchange it adds REPLACES the groupBy's (measured
    x0.66 interleaved A/B at sf0.1); no-op on multi-split layouts."""
    li = spread_scan(load_table(spark, sf_dir, "lineitem"), "l_partkey")
    p = load_table(spark, sf_dir, "part")
    agg = li.groupBy("l_partkey").agg(
        dsum(_revenue(), 6).alias("revenue"), F.count("*").alias("n_lines")
    )
    return (
        agg.join(p, agg["l_partkey"] == p["p_partkey"])
        .select("l_partkey", "p_name", "p_brand", "revenue", "n_lines")
        .orderBy(F.desc("revenue"), F.asc("l_partkey"))
        .limit(15)
    )


# --------------------------------------------------------------------------
# TPC-H extension pack. The fixture schema omits partsupp and the
# commit/receipt/shipmode lineitem columns (TESTDATA.md), so Q2/Q9/Q11/
# Q12/Q16/Q20/Q21 are not expressible verbatim; the queries below are the
# remaining classics, verbatim in shape, adapted only in predicates to the
# fixture's value domains (NATION_n names, PROMO p_type, 1995-2001 dates).
# --------------------------------------------------------------------------


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       EXTRACT(YEAR FROM l.l_shipdate) AS l_year,
       {duckdb_dsum(_REVENUE, 6)} AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
""",
    description="TPC-H Q7 volume shipping: 5-way join, two broadcast nation"
    " dims under an OR pair predicate, year rollup",
    tags=("relational", "join", "agg"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four non-fact tables broadcast; lineitem is the only shuffled
    input and only through the final (supp_nation, cust_nation, year)
    aggregation — 3 grouping values x 2 years of state."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dsum(_revenue(), 6).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                     THEN CAST({_REVENUE} AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
         / {duckdb_dsum(_REVENUE, 6)} AS mkt_share
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
WHERE p.p_type = 'PROMO'
  AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY EXTRACT(YEAR FROM o.o_orderdate)
ORDER BY o_year
""",
    description="TPC-H Q8 market share: conditional-sum ratio over a 6-way"
    " star join",
    tags=("relational", "join", "agg"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    rev_dec = _revenue().cast("decimal(18,6)")
    nation_rev = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", rev_dec).otherwise(
            F.lit(0).cast("decimal(18,6)")
        )
    ).cast("double")
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((nation_rev / dsum(_revenue(), 6)).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "tpch_q14_promo_revenue",
    oracle=f"""
SELECT EXTRACT(MONTH FROM l.l_shipdate) AS ship_month,
       100.00 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN CAST({_REVENUE} AS DECIMAL(18,6))
                              ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
         / {duckdb_dsum(_REVENUE, 6)} AS promo_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY EXTRACT(MONTH FROM l.l_shipdate)
ORDER BY ship_month
""",
    description="TPC-H Q14 promo revenue percentage by ship month",
    tags=("relational", "join", "agg"),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part")
    rev_dec = _revenue().cast("decimal(18,6)")
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", rev_dec).otherwise(
            F.lit(0).cast("decimal(18,6)")
        )
    ).cast("double")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg((F.lit(100.0) * promo / dsum(_revenue(), 6)).alias("promo_revenue"))
        .orderBy("ship_month")
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no, {duckdb_dsum(_REVENUE, 6)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue0 r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
ORDER BY s.s_suppkey
""",
    description="TPC-H Q15 top supplier: scalar-subquery max over a revenue"
    " view",
    tags=("relational", "join", "subquery"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The revenue view aggregates the fact first (|suppliers| rows), then
    the scalar max is a 1-row broadcast joined back — no second fact scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_revenue(), 6).alias("total_revenue")
    )
    mx = revenue0.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue0.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
WITH pa AS (
  SELECT l_partkey, 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE)) AS half_avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
         AS avg_yearly,
       COUNT(*) AS n_small_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pa    ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1' AND l.l_quantity < pa.half_avg_qty
""",
    description="TPC-H Q17 small-quantity revenue: per-part avg correlated"
    " predicate (pre-agg + re-join, no correlated rescan)",
    tags=("relational", "join", "subquery", "agg"),
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (
            0.5
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
                / F.count("*").cast("double")
            )
        ).alias("half_avg_qty")
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(pa, li["l_partkey"] == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count("*").alias("n_small_lines"),
        )
    )


@register(
    "tpch_q18_large_volume",
    oracle="""
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 120
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o  ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN big       ON big.l_orderkey = o.o_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 25
""",
    description="TPC-H Q18 large-volume customers: HAVING semi-filter then"
    " re-aggregate",
    tags=("relational", "join", "agg", "topk"),
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HAVING pre-pass reduces lineitem to qualifying orderkeys
    (left_semi) before the wide join — the anti-pattern it avoids is
    joining the full fact three ways and filtering last."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
        .filter(F.col("q") > 120)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
SELECT {duckdb_dsum(_REVENUE, 6)} AS revenue, COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
""",
    description="TPC-H Q19 disjunctive predicates across the join (OR of"
    " three brand/size/quantity envelopes)",
    tags=("relational", "join", "agg"),
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(dsum(_revenue(), 6).alias("revenue"), F.count("*").alias("n_lines"))
    )


# --------------------------------------------------------------------------
# Analytic extensions: exact percentiles, pivot, ranking windows.
# --------------------------------------------------------------------------


@register(
    "agg_exact_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5)  AS q50,
       quantile_cont(l_quantity, 0.75) AS q75,
       MIN(l_quantity) AS qmin,
       MAX(l_quantity) AS qmax
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    description="exact continuous percentiles per group (Spark percentile"
    " == DuckDB quantile_cont, both linear interpolation)",
    tags=("relational", "agg", "percentile"),
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles sort each group's values — fine per bounded
    group. For 100 TB unbounded groups switch to approx_percentile
    (t-digest sketch, map-side combinable); kept exact here because the
    oracle comparison demands bit-equality."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("q25"),
            F.expr("percentile(l_quantity, 0.5)").alias("q50"),
            F.expr("percentile(l_quantity, 0.75)").alias("q75"),
            F.min("l_quantity").alias("qmin"),
            F.max("l_quantity").alias("qmax"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "pivot_status_by_priority",
    oracle="""
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_f,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_o,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    description="pivot (orders status x priority) — Spark pivot() with an"
    " explicit value list vs conditional-count oracle",
    tags=("relational", "pivot", "agg"),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot() with explicit values: no extra distinct-values job, and at
    scale the output width is fixed at plan time."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )
    return piv.select(
        "o_orderpriority",
        F.col("F").alias("status_f"),
        F.col("O").alias("status_o"),
        F.col("P").alias("status_p"),
    ).orderBy("o_orderpriority")


@register(
    "window_rank_analytics",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       rank()         OVER w AS bal_rank,
       dense_rank()   OVER w AS bal_dense_rank,
       ntile(4)       OVER w AS bal_quartile,
       round(percent_rank() OVER w, 6) AS bal_pct_rank,
       round(cume_dist()    OVER w, 6) AS bal_cume_dist
FROM customer
WHERE c_custkey <= 200
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_mktsegment, bal_rank, c_custkey
""",
    description="ranking-window analytics pack: rank/dense_rank/ntile/"
    "percent_rank/cume_dist per market segment",
    tags=("relational", "window"),
)
def window_rank_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.ntile(4).over(w).alias("bal_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    ).orderBy("c_mktsegment", "bal_rank", "c_custkey")


@register(
    "grouping_sets_sales",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       GROUPING_ID(l_returnflag, l_linestatus) AS g_id
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY g_id, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
    description="GROUPING SETS with GROUPING() markers and the packed"
    " GROUPING_ID() bitmask (explicit mixed set list, distinct from"
    " cube/rollup)",
    tags=("relational", "agg", "groupingsets"),
)
def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both engines compute GROUPING_ID over the same column order, so
    the packed bitmask (0 = fully grouped row, 1 = status rolled up,
    3 = grand total) is hash-comparable as a plain BIGINT — it doubles
    as the total-order sort key distinguishing the three set levels."""
    text = (
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               GROUPING(l_returnflag) AS g_flag,
               GROUPING(l_linestatus) AS g_status,
               GROUPING_ID(l_returnflag, l_linestatus) AS g_id
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY g_id, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )
    return sql(spark, text, lineitem=load_table(spark, sf_dir, "lineitem"))


@register(
    "unpivot_lineitem_metrics",
    oracle="""
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value
FROM wide UNPIVOT (value FOR metric IN (sum_qty, sum_price, sum_disc))
ORDER BY l_returnflag, metric
""",
    description="UNPIVOT / melt: wide per-flag aggregate rotated to long"
    " (metric, value) rows — the inverse of pivot_status_by_priority,"
    " via DataFrame.unpivot vs DuckDB UNPIVOT",
    tags=("relational", "unpivot"),
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long rotation is pure column math — Spark's Expand node, no
    shuffle beyond the one aggregation exchange; at 100 TB the unpivot
    multiplies rows 3× AFTER the aggregation has collapsed them, never
    before. Decimal partial sums keep the melted doubles exact across
    engines (registry determinism rule 2)."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "metric",
        "value",
    ).orderBy("l_returnflag", "metric")


@register(
    "sql_rag_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       round({_duckdb_cosine('e.embedding', 'q.qv')}, 4) AS score
FROM embeddings e CROSS JOIN q
ORDER BY score DESC, e.vec_id ASC
LIMIT 5
""",
    description="the flagship query through the pure-SQL surface"
    " (Spark SQL over the bound fixture — same plan as the DataFrame form)",
    tags=("rag", "sql", "topk"),
)
def sql_rag_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every operator here is reachable from SQL too; this binds the
    fixture as a relation and runs rag_query's core as one SQL string —
    oracle-gated with rag_topk's exact result contract, registered
    separately so the SQL entry path itself is verified."""
    from mcp_rag_server_spark.functions.vector import cosine_sql

    text = (
        f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, e.label,
               round({cosine_sql("e.embedding", "q.qv")}, 4) AS score
        FROM embeddings e CROSS JOIN q
        ORDER BY score DESC, e.vec_id ASC
        LIMIT 5
        """
    )
    return sql(spark, text, embeddings=load_table(spark, sf_dir, "embeddings"))


@register(
    "agg_stats_lineitem",
    oracle="""
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(var_samp(l_quantity), 6) AS var_qty,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    description="statistical aggregates (stddev/variance/correlation/"
    "covariance) per group — single-pass partial-aggregable moments",
    tags=("relational", "agg", "stats"),
)
def agg_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates are all map-side-combinable (merged
    sum/sum-of-squares/cross-moment state), so the plan is the same
    partial+final shape as SUM — the right statistics path at 100 TB.
    Cross-engine note: both engines accumulate doubles in arbitrary
    order, so results agree only to ~1e-10 relative; rounding at 1e-6
    (values O(10..10k)) absorbs that, same argument as token_entropy."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "covar_qty_price"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_string_concat_nations",
    oracle="""
SELECT r.r_name,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
""",
    description="ordered string aggregation per group (array_sort +"
    " array_join vs string_agg ORDER BY — determinism via explicit sort)",
    tags=("relational", "agg", "string"),
)
def agg_string_concat_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list order is nondeterministic under parallel merge, so
    string aggregation MUST sort the collected array before joining —
    the only way a distributed string_agg is reproducible."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            )
        )
        .orderBy("r_name")
    )


@register(
    "full_outer_order_ship_days",
    oracle="""
WITH o AS (SELECT date_trunc('day', o_orderdate) AS d, COUNT(*) AS n
           FROM orders GROUP BY 1),
l AS (SELECT date_trunc('day', l_shipdate) AS d, COUNT(*) AS n
      FROM lineitem GROUP BY 1)
SELECT COALESCE(o.d, l.d) AS day,
       CAST(COALESCE(o.n, 0) AS BIGINT) AS n_ordered,
       CAST(COALESCE(l.n, 0) AS BIGINT) AS n_shipped,
       CASE WHEN o.d IS NULL THEN 'ship_only'
            WHEN l.d IS NULL THEN 'order_only'
            ELSE 'both' END AS side
FROM o FULL OUTER JOIN l ON o.d = l.d
ORDER BY day
""",
    description="FULL OUTER join reconciliation: orders placed vs items"
    " shipped per day — ship-only days (the fulfilment tail past the"
    " last order) and order-only days surface as one-sided rows; the"
    " join type the registry's join inventory lacked",
    tags=("relational", "join", "outer"),
)
def full_outer_order_ship_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sides pre-aggregate to one row per day BEFORE the join (the
    same partial-agg-first discipline as top_parts_by_revenue), so the
    full outer join touches |days| rows, not facts — at 100 TB the
    shuffle moves ~2500 day rows per side, nothing else."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count("*").alias("n_o"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.date_trunc("day", "l_shipdate").alias("d"))
        .agg(F.count("*").alias("n_l"))
    )
    od, ld = o.alias("od"), li.alias("ld")
    return (
        od.join(ld, F.col("od.d") == F.col("ld.d"), "full_outer")
        .select(
            F.coalesce(F.col("od.d"), F.col("ld.d")).alias("day"),
            F.coalesce(F.col("n_o"), F.lit(0)).alias("n_ordered"),
            F.coalesce(F.col("n_l"), F.lit(0)).alias("n_shipped"),
            F.when(F.col("od.d").isNull(), "ship_only")
            .when(F.col("ld.d").isNull(), "order_only")
            .otherwise("both")
            .alias("side"),
        )
        .orderBy("day")
    )


@register(
    "window_range_trailing30",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER tw AS DOUBLE)
         AS trailing30_revenue,
       COUNT(*) OVER tw AS trailing30_orders
FROM orders
WHERE o_custkey < 100
WINDOW tw AS (
  PARTITION BY o_custkey
  ORDER BY CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
)
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
    description="time-based RANGE window frame: per-customer trailing"
    " 30-day revenue and order count at every order — the value-based"
    " frame (peers included by date distance, not row position) the"
    " ROWS-frame pack (window_moving_avg) cannot express",
    tags=("relational", "window", "range-frame"),
)
def window_range_trailing30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frames bound by VALUE distance: two orders 30 days apart
    share a frame no matter how many rows sit between, and same-date
    peers always aggregate together (which is also why the result is
    deterministic without a row tie-break — the frame depends only on
    the date value). Ordering is the epoch-day integer
    (``unix_date``/date-subtraction), identical in both engines, so the
    30-day bound is exact integer arithmetic. The windowed SUM runs over
    exact DECIMAL(18,4) partials (order-independent within the frame).
    Scale: one customer-keyed shuffle; frame state is bounded by order
    density × 30 days per key."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    tw = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_date(F.col("o_orderdate").cast("date")))
        .rangeBetween(-30, Window.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .over(tw)
            .cast("double")
            .alias("trailing30_revenue"),
            F.count("*").over(tw).alias("trailing30_orders"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


_DIST_PACK_SQL = """
WITH ranked AS (
  -- o_totalprice IS NOT NULL: a row with no price has no place in a
  -- price distribution (a NULL price ranks FIRST in Spark's window,
  -- LAST in DuckDB's, shifting every pct_rank/cume in the partition)
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         percent_rank() OVER w AS pct_rank,
         cume_dist() OVER w AS cume,
         ntile(4) OVER w AS quartile
  FROM orders
  WHERE o_totalprice IS NOT NULL
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey)
)
SELECT o_orderkey, o_orderpriority, o_totalprice,
       pct_rank, cume, quartile
FROM ranked
WHERE o_orderkey % 100 = 0
ORDER BY o_orderpriority, o_totalprice, o_orderkey
"""


@register(
    "window_distribution_pack",
    oracle=_DIST_PACK_SQL,
    description="distribution window functions — percent_rank, cume_dist,"
    " ntile(4) — per order-priority partition with a total tie-break"
    " ordering; the three analytic shapes the rank pack lacked, sampled"
    " to every 100th key AFTER the windows so the full-partition values"
    " are what gets hashed",
    tags=("relational", "window", "distribution"),
)
def window_distribution_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank = (rank-1)/(n-1) and cume_dist = n_le/n are exact
    rationals evaluated as one double division — identical in both
    engines — and ntile is pure integer bucketing, so all three hash
    cleanly under the total (price, key) ordering. One keyed window =
    one shuffle on o_orderpriority; the %100 sample filter sits ABOVE
    the window (it must — sampling before the window would change
    every distribution value) so the hashed values cover the full
    partitions while the result stays bounded. Spark runs the literal
    oracle text (WINDOW clause syntax is shared)."""
    return sql(
        spark, _DIST_PACK_SQL, orders=load_table(spark, sf_dir, "orders")
    )


_SIMPSON_SQL = """
WITH per AS (
  SELECT lang, source, COUNT(*) AS n
  FROM documents GROUP BY lang, source
),
tot AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs,
         COUNT(*) AS n_sources,
         CAST(SUM(n * (n - 1)) AS BIGINT) AS pair_num
  FROM per GROUP BY lang
)
SELECT lang, n_docs, n_sources, pair_num,
       CAST(n_docs * (n_docs - 1) AS BIGINT) AS pair_den,
       -- NULLIF: a single-doc lang group has pair_den 0; both engines
       -- must yield NULL (DuckDB NULLs /0 anyway, Spark ANSI throws)
       CAST(pair_num AS DOUBLE) / NULLIF(n_docs * (n_docs - 1), 0)
         AS simpson,
       CASE WHEN pair_num = 0 THEN NULL
            ELSE CAST(n_docs * (n_docs - 1) AS DOUBLE) / pair_num
       END AS effective_sources
FROM tot
ORDER BY lang
"""


@register(
    "ta_simpson_diversity",
    oracle=_SIMPSON_SQL,
    description="Simpson diversity of the source mixture per language:"
    " the collision probability Σ n_i(n_i-1) / N(N-1) as EXACT integer"
    " numerator/denominator (hash-pinned) plus the double ratio and the"
    " effective-source-count inverse — the mixture-balance diagnostic"
    " for training-corpus curation, zero float aggregation",
    tags=("textanalysis", "diversity", "mixture"),
)
def ta_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's index is the diversity measure that stays EXACT
    distributed: it is a pure count statistic (the probability two
    random docs share a source), so numerator and denominator are
    integer partial sums — no log, no float aggregate — and the hash
    pins the exact rationals, not a rounded transcendental (Shannon
    entropy would hang parity on cross-libm log()). Two bounded-key
    aggregations: (lang, source) then lang. The effective-source count
    1/λ is the curation signal: a lang whose effective sources ≪
    actual sources is dominated by one crawl and needs re-weighting
    (ta_mix_temperature is the re-weighting step downstream)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    tot = per.groupBy("lang").agg(
        F.sum("n").alias("n_docs"),
        F.count("*").alias("n_sources"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("pair_num"),
    )
    pair_den = F.col("n_docs") * (F.col("n_docs") - 1)
    return tot.select(
        "lang",
        "n_docs",
        "n_sources",
        "pair_num",
        pair_den.alias("pair_den"),
        # try_divide: single-doc group → pair_den 0 → NULL, matching
        # the oracle's NULLIF (DuckDB NULLs /0; Spark ANSI throws)
        F.try_divide(F.col("pair_num").cast("double"), pair_den).alias(
            "simpson"
        ),
        F.when(F.col("pair_num") == 0, F.lit(None).cast("double"))
        .otherwise(pair_den.cast("double") / F.col("pair_num"))
        .alias("effective_sources"),
    ).orderBy("lang")


_CORR_SQL = """
WITH pairs AS (
  -- complete pairs only, enforced ONCE at the scan so every moment
  -- (n, Σx, Σy, Σxy, Σx², Σy²) aggregates the SAME row support: a
  -- one-sided-NULL row counted in some sums but not others pushes
  -- pearson_r outside [-1,1] and skews slope/intercept (r11 advice —
  -- the n-only CASE gate was the half-applied version of this fix).
  -- WHERE, not per-SUM CASEs: one predicate, pushed to the scan.
  SELECT l_returnflag,
         CAST(round(l_quantity, 4) AS DECIMAL(19,4)) AS x,
         CAST(round(l_extendedprice, 4) AS DECIMAL(19,4)) AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
),
m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM pairs GROUP BY l_returnflag
)
-- NULLIF on every denominator: a degenerate group (single complete
-- pair, or zero variance) must yield NULL on BOTH engines — DuckDB
-- already NULLs x/0, Spark under ANSI throws without the guard
SELECT l_returnflag, n,
       round((n * sxy - sx * sy)
         / NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0),
             9) AS pearson_r,
       round((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 9) AS slope,
       round((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx)
         / NULLIF(n, 0), 9) AS intercept
FROM m
ORDER BY l_returnflag
"""


@register(
    "agg_pearson_corr",
    oracle=_CORR_SQL,
    description="engine-exact distributed Pearson correlation + OLS"
    " slope/intercept of extendedprice on quantity per returnflag —"
    " decimal-exact moment sums (n, Σx, Σy, Σxy, Σx², Σy²) then one"
    " fixed-order IEEE evaluation of the closed forms; the distributed"
    " twin of corr()/regr_slope() without their order-dependent float"
    " accumulation",
    tags=("relational", "agg", "stats", "regression"),
)
def agg_pearson_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in corr()/regr_*() accumulate doubles in partition order —
    nondeterministic across partitionings and engines. The moment-sum
    formulation is the fix that also SCALES: the five sums are
    DECIMAL partial aggregates (order-independent, map-side combined;
    products of two round-4 DECIMAL(19,4) values sum exactly in
    DECIMAL(38,8); 19 not 18 because DuckDB keeps int64 storage at 18
    and overflows the mantissa product, while ≥19 promotes to int128), so one bounded-key shuffle carries six numbers per
    group and the correlation/regression math happens once per group
    at the top, rounded to 9 (the moment sums carry ~18 significant
    digits, and the two engines' decimal→double casts can differ by
    one ulp there — DuckDB converts the int128 mantissa then divides,
    Java rounds the decimal value once; round-9 absorbs it). Same discipline as ta_zipf_fit's
    closed-form least squares, applied to the Pearson/OLS pair."""
    return sql(
        spark, _CORR_SQL, lineitem=load_table(spark, sf_dir, "lineitem")
    )


_SET_ALL_SQL = """
WITH r_side AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
a_side AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'),
exc AS (SELECT l_suppkey FROM r_side EXCEPT ALL SELECT l_suppkey FROM a_side),
intr AS (SELECT l_suppkey FROM r_side INTERSECT ALL
         SELECT l_suppkey FROM a_side)
SELECT 'except_all' AS op,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_suppkey) AS n_keys,
       CAST(MIN(l_suppkey) AS BIGINT) AS min_key,
       CAST(MAX(l_suppkey) AS BIGINT) AS max_key
FROM exc
UNION ALL
SELECT 'intersect_all' AS op,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_suppkey) AS n_keys,
       CAST(MIN(l_suppkey) AS BIGINT) AS min_key,
       CAST(MAX(l_suppkey) AS BIGINT) AS max_key
FROM intr
ORDER BY op
"""


@register(
    "set_all_multiplicity",
    oracle=_SET_ALL_SQL,
    description="EXCEPT ALL / INTERSECT ALL multiset semantics: supplier"
    " keys of returned vs accepted lineitems compared WITH multiplicity"
    " (bag difference keeps max(m-n,0) copies, bag intersection"
    " min(m,n)) — the ALL variants the distinct INTERSECT/EXCEPT pack"
    " doesn't cover, summarized to hashed row/key counts",
    tags=("relational", "setop"),
)
def set_all_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag semantics distribute exactly like the distinct variants —
    Spark plans exceptAll/intersectAll as a keyed count aggregation
    plus a generate (multiplicity replay), one shuffle per side on the
    compare key, no sort of either input. The summary row per op keeps
    the result bounded while the hash still pins every multiplicity
    (a lost or extra copy moves n_rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    r_side = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    a_side = li.filter(F.col("l_returnflag") == "A").select("l_suppkey")

    def summarize(df: DataFrame, op: str) -> DataFrame:
        return df.agg(
            F.lit(op).alias("op"),
            F.count("*").alias("n_rows"),
            F.countDistinct("l_suppkey").alias("n_keys"),
            F.min("l_suppkey").cast("bigint").alias("min_key"),
            F.max("l_suppkey").cast("bigint").alias("max_key"),
        )

    return (
        summarize(r_side.exceptAll(a_side), "except_all")
        .unionByName(summarize(r_side.intersectAll(a_side), "intersect_all"))
        .orderBy("op")
    )


_VALUE_FRAMES_SQL = """
WITH v AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         first_value(o_totalprice) OVER w AS frame_first,
         last_value(o_totalprice) OVER w AS frame_last,
         nth_value(o_totalprice, 2) OVER w AS frame_second,
         MIN(o_orderkey) OVER wp AS run_min_key,
         MAX(o_orderkey) OVER wd AS rem_max_key
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING),
         wp AS (PARTITION BY o_orderpriority
                ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wd AS (PARTITION BY o_orderpriority
                ORDER BY o_totalprice DESC, o_orderkey DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT o_orderkey, o_orderpriority, o_totalprice,
       frame_first, frame_last, frame_second,
       run_min_key, rem_max_key
FROM v
WHERE o_orderkey % 100 = 0
ORDER BY o_orderpriority, o_totalprice, o_orderkey
"""


@register(
    "window_value_frames",
    oracle=_VALUE_FRAMES_SQL,
    description="value window functions over explicit ROWS frames —"
    " first_value/last_value/nth_value on a sliding ±3 frame plus"
    " running-min and remaining-max frames — the frame-navigation"
    " shapes the rank/lag packs don't cover, sampled post-window",
    tags=("relational", "window", "frames"),
)
def window_value_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value read VALUES out of an explicit frame (vs
    rank's positions and lag's fixed offsets): the ±3 sliding frame is
    bounded-state streaming-friendly navigation, and the two prefix
    frames express running-min-key / remaining-max-key without a
    self-join. The remaining-side aggregate deliberately runs over a
    DESC-sorted PREFIX frame, not last_value over CURRENT ROW →
    UNBOUNDED FOLLOWING: Spark evaluates a shrinking
    UnboundedFollowing frame from scratch per row — O(n²) per
    partition, measured 128 s at sf0.1 — while prefix frames are
    incremental O(n) (0.9 s; the identity: the remaining set in ASC
    order is a prefix in DESC order). Cost: one extra in-partition
    sort for the DESC window, same single shuffle (the plan pin
    asserts two Window nodes, zero extra exchanges). Total (price,
    key) ordering makes every frame content deterministic; the %100
    filter samples AFTER the windows."""
    return sql(
        spark, _VALUE_FRAMES_SQL, orders=load_table(spark, sf_dir, "orders")
    )


_WMEDIAN_SQL = """
WITH w AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice, 4) AS DECIMAL(18,4)) AS price,
         CAST(round(l_quantity, 4) AS DECIMAL(18,4)) AS wt
  FROM lineitem
),
cum AS (
  SELECT l_returnflag, price, wt,
         CAST(SUM(wt) OVER (PARTITION BY l_returnflag
                            ORDER BY price, wt
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS DECIMAL(18,4)) AS cw,
         CAST(SUM(wt) OVER (PARTITION BY l_returnflag)
              AS DECIMAL(18,4)) AS tw
  FROM w
),
hit AS (
  SELECT l_returnflag, price, cw, tw
  FROM cum
  WHERE cw * 2 >= tw
),
med AS (
  SELECT l_returnflag, price AS weighted_median, tw
  FROM (SELECT l_returnflag, price, tw,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY cw, price) AS rn
        FROM hit)
  WHERE rn = 1
)
SELECT l_returnflag,
       CAST(weighted_median AS DOUBLE) AS weighted_median,
       CAST(tw AS DOUBLE) AS total_weight
FROM med
ORDER BY l_returnflag
"""


@register(
    "agg_weighted_median",
    oracle=_WMEDIAN_SQL,
    description="exact weighted median (quantity-weighted"
    " extendedprice) per returnflag via decimal cumulative-weight"
    " prefix windows — the first value whose running weight reaches"
    " half the total; the weighted-percentile primitive percentile()"
    " cannot express",
    tags=("relational", "agg", "percentile", "weighted"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median = inverse CDF at 0.5 of a weighted empirical
    distribution. Distributed form: one value-ordered prefix-sum
    window per group over DECIMAL-exact weights, then the first row
    where 2·cum ≥ total (the doubling keeps the half-threshold test in
    exact integers-scaled-by-10⁴ — no division, no float compare).
    The group total rides the same window spec as an unbounded frame,
    so Catalyst computes both in one Window pass; one shuffle on
    (returnflag) + the in-partition sort the window needs anyway. The
    tie-break (price, wt) totalizes row order so cum weights — and
    hence the selected row — are engine-identical."""
    return sql(
        spark, _WMEDIAN_SQL, lineitem=load_table(spark, sf_dir, "lineitem")
    )


_GINI_SQL = """
WITH per_user AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)))
              AS DECIMAL(18,4)) AS x
  FROM events GROUP BY event_type, user_id
),
ranked AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY x, user_id) AS i
  -- finite-valued users only: a NULL x must not take a Lorenz rank
  -- (support parity for n/sx/six), and a NULL ORDER BY key ranks
  -- NULLS-FIRST in Spark vs NULLS-LAST in DuckDB — the ordered-
  -- computation NULL-gate rule
  FROM per_user WHERE x IS NOT NULL
),
m AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         -- x widened to DECIMAL(19,4): the BIGINT-rank x DECIMAL product
         -- sums in int64 mantissas in DuckDB below 19 digits and can
         -- overflow at larger fixtures (agg_pearson_corr discipline)
         CAST(SUM(i * CAST(x AS DECIMAL(19,4))) AS DOUBLE) AS six
  FROM ranked GROUP BY event_type
)
SELECT event_type, n,
       round(sx, 4) AS total_value,
       round((2 * six - (n + 1) * sx) / (n * sx), 6) AS gini
FROM m
ORDER BY event_type
"""


@register(
    "agg_gini_index",
    oracle=_GINI_SQL,
    description="exact Gini coefficient of per-user value concentration"
    " per event type — rank-weighted decimal moment sums then one"
    " fixed-order closed-form evaluation; the inequality/concentration"
    " diagnostic (is 1% of users 90% of the volume?) behind skew-aware"
    " capacity planning",
    tags=("relational", "agg", "stats", "gini"),
)
def agg_gini_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini via the rank formula G = (2·Σi·x_i − (n+1)·Σx)/(n·Σx) over
    ascending-sorted values: the sort is a per-type rank window (total
    (x, user_id) ordering so ranks are engine-identical), Σx and Σi·x
    are decimal-exact partials (BIGINT rank × DECIMAL value), and the
    closed form evaluates once per type. One keyed shuffle for the
    user aggregation, one for the rank window — no pairwise |x_i−x_j|
    stage (the naive mean-absolute-difference form is O(n²)). The
    hashed value answers the planning question directly: a type whose
    gini approaches 1 is a hot-key workload (ev_salted_hot_key_join
    is the mitigation on the books)."""
    return sql(spark, _GINI_SQL, events=load_table(spark, sf_dir, "events"))


_LATERAL_SQL = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice,
       row_number() OVER (PARTITION BY c.c_custkey
                          ORDER BY t.o_totalprice DESC, t.o_orderkey) AS rk
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_custkey % 10 = 0
ORDER BY c.c_custkey, rk
"""


@register(
    "sql_lateral_topn",
    oracle=_LATERAL_SQL,
    description="correlated LATERAL subquery: top-2 orders per customer"
    " via a per-row dependent subquery with ORDER BY + LIMIT — the"
    " lateral-join SQL surface (Spark 4 decorrelates it to a ranked"
    " window, DuckDB executes it natively; identical rows either way)",
    tags=("relational", "sql", "lateral", "topk"),
)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-surface registration matters because the EXECUTION
    diverges: DuckDB runs the lateral subquery per outer row; Spark's
    optimizer DECORRELATES it into a join + per-key rank window
    (DecorrelateInnerQuery) — same semantics, cluster-friendly plan
    (no per-row re-execution at 100 TB). The total (price, key)
    ordering inside the subquery makes the top-2 rows engine-identical
    even under price ties; the display rank is computed in the OUTER
    query keyed by the customer (a rank placed inside the lateral body
    decorrelates into an un-keyed window — the plan lint caught
    exactly that). The %10 outer filter bounds the result; it pushes
    into the decorrelated join's probe side."""
    return sql(
        spark,
        _LATERAL_SQL,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


#: Columns profiled (name, cast-to-double expr usable in both engines).
PROFILE_COLS = (
    ("l_quantity", "l_quantity"),
    ("l_extendedprice", "l_extendedprice"),
    ("l_discount", "l_discount"),
    ("l_tax", "l_tax"),
)

_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS col_name,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT({expr}) AS n_null,
       COUNT(DISTINCT {expr}) AS n_distinct,
       round(MIN({expr}), 4) AS min_value,
       round(MAX({expr}), 4) AS max_value,
       COUNT(CASE WHEN {expr} = 0 THEN 1 END) AS n_zero
FROM lineitem"""
    for name, expr in PROFILE_COLS
) + "\nORDER BY col_name"


@register(
    "agg_column_profile",
    oracle=_PROFILE_SQL,
    description="column-profiling pass over four lineitem measures:"
    " null/zero/distinct counts and min/max per column — the data-"
    "quality profile every onboarding pipeline runs first, one"
    " aggregate scan per column batch with exact distincts",
    tags=("relational", "agg", "profile", "quality"),
)
def agg_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profile-first discipline: nulls, zeros, cardinality, and
    range per column BEFORE any modeling decision (these four numbers
    catch unit mistakes, sentinel values, and join-key explosions
    before they cost a cluster-day). Exact COUNT(DISTINCT) per column
    is the expensive honest version (the HLL sketch in agg_hll_audit
    is the at-scale substitute — both registered, the trade-off
    documented there); everything else partial-aggregates. Column
    batches union AFTER aggregation — four 1-row aggregates, so the
    union carries 4 rows, not 4 scans' worth of raw data (Spark still
    scans per branch; at 100 TB you fold all columns into ONE
    aggregate row and unpivot it — registered as the
    unpivot_lineitem_metrics shape)."""
    return sql(
        spark, _PROFILE_SQL, lineitem=load_table(spark, sf_dir, "lineitem")
    )


#: Market-basket: minimum pair support and result size.
MB_MIN_PAIRS = 3
MB_TOP_K = 20
#: Skew guard: a basket wider than this keeps only its MB_BASKET_CAP
#: lowest-md5 items (deterministic, unbiased w.r.t. part identity) —
#: the basket-keyed self-join is Σ basket², so ONE mega-basket
#: (a crawl dump order, a bot cart) is quadratic without a cap. The
#: fixture's TPC-H orders are ≤7 items, so the cap never fires at test
#: scale; items_dropped in the hashed output proves the accounting
#: (same drop-accounting discipline as ta_mixture_cap).
MB_BASKET_CAP = 32

_BASKET_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
ranked AS (
  SELECT l_orderkey, l_partkey,
         row_number() OVER (PARTITION BY l_orderkey
           ORDER BY md5(CAST(l_partkey AS VARCHAR)), l_partkey) AS rn
  FROM items
),
capped AS (
  SELECT l_orderkey, l_partkey FROM ranked WHERE rn <= {MB_BASKET_CAP}
),
dropacct AS (
  SELECT CAST(COUNT(CASE WHEN rn > {MB_BASKET_CAP} THEN 1 END) AS BIGINT)
           AS items_dropped,
         CAST(COUNT(DISTINCT CASE WHEN rn > {MB_BASKET_CAP}
                                  THEN l_orderkey END) AS BIGINT)
           AS baskets_capped
  FROM ranked
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM capped),
supp AS (
  SELECT l_partkey, COUNT(*) AS n_orders_with
  FROM capped GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n_together
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {MB_MIN_PAIRS}
),
scored AS (
  SELECT p.part_a, p.part_b, p.n_together,
         sa.n_orders_with AS n_a, sb.n_orders_with AS n_b,
         round(CAST(p.n_together AS DOUBLE) * n.n
               / (CAST(sa.n_orders_with AS DOUBLE) * sb.n_orders_with),
               6) AS lift
  FROM pairs p
  JOIN supp sa ON p.part_a = sa.l_partkey
  JOIN supp sb ON p.part_b = sb.l_partkey
  CROSS JOIN n_orders n
)
SELECT part_a, part_b, n_together, n_a, n_b, lift,
       d.items_dropped, d.baskets_capped
FROM scored CROSS JOIN dropacct d
ORDER BY lift DESC, part_a, part_b
LIMIT {MB_TOP_K}
"""


@register(
    "join_market_basket",
    oracle=_BASKET_SQL,
    description="market-basket association mining: co-purchased part"
    " pairs within orders, scored by lift = P(a,b)/(P(a)P(b)) over"
    " exact order counts, support-thresholded before scoring, heap"
    " top-20 — the A-priori pair stage as one basket-keyed self-join",
    tags=("relational", "join", "association", "basket"),
)
def join_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining's pair stage: the self-join keys on the
    BASKET (orderkey), so pair work is Σ basket_size² — bounded by
    order width, never parts² (the same blocking bound as every dedup
    pair stage here). Σ basket² still dies on ONE mega-basket, so
    baskets wider than MB_BASKET_CAP keep only their lowest-md5 items
    (one basket-keyed rank window — the same shuffle key the pair join
    needs anyway) with the dropped-item count carried in the hashed
    output. The support HAVING prunes before the lift join,
    which then touches only surviving pairs against the broadcast-
    sized per-part support table; lift's exact integer counts make the
    rounded score engine-identical (one operand cast to double before
    the n_a*n_b product — BIGINT would overflow past ~3e9-order
    supports), and the (lift, part_a, part_b)
    total order makes the top-20 stable. At 100 TB the A-priori
    escalation (triples from frequent pairs) repeats the same
    keyed-join shape on the pruned survivors."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    wcap = Window.partitionBy("l_orderkey").orderBy(
        F.md5(F.col("l_partkey").cast("string")), F.col("l_partkey")
    )
    ranked = items.withColumn("rn", F.row_number().over(wcap))
    capped = ranked.filter(F.col("rn") <= MB_BASKET_CAP).select(
        "l_orderkey", "l_partkey"
    )
    dropacct = ranked.agg(
        F.count(F.when(F.col("rn") > MB_BASKET_CAP, 1))
        .cast("bigint")
        .alias("items_dropped"),
        F.countDistinct(
            F.when(F.col("rn") > MB_BASKET_CAP, F.col("l_orderkey"))
        )
        .cast("bigint")
        .alias("baskets_capped"),
    )
    n_orders = capped.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    supp = capped.groupBy("l_partkey").agg(
        F.count("*").alias("n_orders_with")
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_together"))
        .filter(F.col("n_together") >= MB_MIN_PAIRS)
    )
    sa = supp.select(
        F.col("l_partkey").alias("part_a"),
        F.col("n_orders_with").alias("n_a"),
    )
    sb = supp.select(
        F.col("l_partkey").alias("part_b"),
        F.col("n_orders_with").alias("n_b"),
    )
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .crossJoin(F.broadcast(dropacct))
        .select(
            "part_a",
            "part_b",
            "n_together",
            "n_a",
            "n_b",
            F.round(
                F.col("n_together").cast("double")
                * F.col("n")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
            "items_dropped",
            "baskets_capped",
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(MB_TOP_K)
    )


_OLS_SQL = """
WITH vals AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_quantity, 4) AS DECIMAL(18,4)) AS x1,
         CAST(round(l_discount, 4) AS DECIMAL(18,4)) AS x2,
         CAST(round(l_extendedprice, 4) AS DECIMAL(18,4)) AS y
  FROM lineitem
),
m AS (
  SELECT grp,
         COUNT(*) AS n,
         CAST(SUM(x1) AS DOUBLE) AS sx1,
         CAST(SUM(x2) AS DOUBLE) AS sx2,
         CAST(SUM(y)  AS DOUBLE) AS sy,
         CAST(SUM(CAST(x1 AS DECIMAL(19,4)) * x1) AS DOUBLE) AS sx1x1,
         CAST(SUM(CAST(x2 AS DECIMAL(19,4)) * x2) AS DOUBLE) AS sx2x2,
         CAST(SUM(CAST(x1 AS DECIMAL(19,4)) * x2) AS DOUBLE) AS sx1x2,
         CAST(SUM(CAST(x1 AS DECIMAL(19,4)) * y)  AS DOUBLE) AS sx1y,
         CAST(SUM(CAST(x2 AS DECIMAL(19,4)) * y)  AS DOUBLE) AS sx2y,
         CAST(SUM(CAST(y  AS DECIMAL(19,4)) * y)  AS DOUBLE) AS syy
  FROM vals GROUP BY grp
),
solved AS (
  SELECT grp, n, sy, sx1y, sx2y, syy,
         n * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
           - sx1 * (sx1 * sx2x2 - sx1x2 * sx2)
           + sx2 * (sx1 * sx1x2 - sx1x1 * sx2) AS det,
         sy * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
           - sx1 * (sx1y * sx2x2 - sx1x2 * sx2y)
           + sx2 * (sx1y * sx1x2 - sx1x1 * sx2y) AS det0,
         n * (sx1y * sx2x2 - sx1x2 * sx2y)
           - sy * (sx1 * sx2x2 - sx1x2 * sx2)
           + sx2 * (sx1 * sx2y - sx1y * sx2) AS det1,
         n * (sx1x1 * sx2y - sx1y * sx1x2)
           - sx1 * (sx1 * sx2y - sx1y * sx2)
           + sy * (sx1 * sx1x2 - sx1x1 * sx2) AS det2
  FROM m
),
coefs AS (
  SELECT grp, n, sy, sx1y, sx2y, syy,
         det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
  FROM solved
)
SELECT grp AS l_returnflag, n AS n_rows,
       round(b0, 6) AS beta_intercept,
       round(b1, 6) AS beta_quantity,
       round(b2, 6) AS beta_discount,
       round(1 - (syy - b0 * sy - b1 * sx1y - b2 * sx2y)
                 / (syy - sy * sy / n), 6) AS r_squared
FROM coefs
ORDER BY l_returnflag
"""


@register(
    "agg_ols_sufficient_stats",
    oracle=_OLS_SQL,
    description="distributed multivariate OLS via sufficient statistics:"
    " per return flag, extendedprice regressed on quantity + discount —"
    " one decimal-exact moment pass builds the normal equations, a"
    " closed-form 3x3 Cramer solve yields coefficients and R², no"
    " iteration, no driver-side math",
    tags=("agg", "stats", "regression", "ml"),
)
def agg_ols_sufficient_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear models over tabular features don't need an ML runtime at
    any scale: OLS is EXACTLY solvable from sufficient statistics —
    the (X'X, X'y) moments — which partial-aggregate map-side like any
    sum. One pass computes ten decimal-exact moments per group (every
    cross product widened through DECIMAL(19,4) — the int128
    discipline; Σy² of 6M prices needs ~32 digits), the 3×3 normal
    equations solve in closed form via Cramer's rule as plain
    expressions, and R² falls out of the same moments. ONE shared SQL
    text drives both engines, so every determinant multiplies in the
    same operand order — the doubles are bit-identical and the
    rounded coefficients hash. This is the 2-feature instance of the
    general pattern (agg_pearson_corr is the 1-feature case): at any
    feature count p the moment matrix is p², never n, and the solve is
    driver-free constant work per group — the 100 TB shape for
    fitting per-segment pricing/propensity baselines without leaving
    SQL."""
    return sql(spark, _OLS_SQL, lineitem=load_table(spark, sf_dir, "lineitem"))


_MODE_SQL = """
WITH counts AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
),
ranked AS (
  SELECT l_returnflag, qty, n,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY n DESC, qty ASC) AS rnk,
         CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS BIGINT)
           AS n_total
  FROM counts
)
SELECT l_returnflag,
       MAX(CASE WHEN rnk = 1 THEN qty END) AS mode_qty,
       MAX(CASE WHEN rnk = 1 THEN n END) AS mode_count,
       round(CAST(MAX(CASE WHEN rnk = 1 THEN n END) AS DOUBLE) * 100.0
             / MAX(n_total), 6) AS mode_share_pct,
       MAX(CASE WHEN rnk = 2 THEN qty END) AS second_mode_qty,
       MAX(CASE WHEN rnk = 2 THEN n END) AS second_mode_count
FROM ranked
WHERE rnk <= 2
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "agg_mode_per_group",
    oracle=_MODE_SQL,
    description="exact mode (and runner-up) of quantity per return flag"
    " with an explicit count-DESC/value-ASC tie policy and the modal"
    " share — the most-common-value statistic engines disagree on"
    " tie-breaking about, pinned deterministic",
    tags=("relational", "agg", "stats", "window"),
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native mode() is a portability trap: engines break frequency
    ties differently (and some nondeterministically), so the mode here
    is SPELLED as count + rank with a total (n DESC, qty ASC) order —
    the same answer on any engine, any partitioning. The runner-up and
    modal share ride the same window: share near 100% flags a
    degenerate column (a constant in disguise), mode ≈ second flags a
    contested one. Cost is one (flag, qty)-keyed partial-agg shuffle
    — distinct-value-bounded, not row-bounded — plus a window over the
    tiny counts table."""
    return sql(
        spark, _MODE_SQL, lineitem=load_table(spark, sf_dir, "lineitem")
    )


_SKEWKURT_SQL = """
WITH vals AS (
  SELECT l_returnflag,
         CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DOUBLE) AS x
  FROM lineitem
),
pows AS (
  SELECT l_returnflag,
         CAST(round(x, 6) AS DECIMAL(28,6)) AS x1,
         CAST(round(x * x, 6) AS DECIMAL(28,6)) AS x2,
         CAST(round(x * x * x, 6) AS DECIMAL(28,6)) AS x3,
         CAST(round(x * x * x * x, 6) AS DECIMAL(28,6)) AS x4
  FROM vals
),
sums AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(x1) AS DOUBLE) AS s1,
         CAST(SUM(x2) AS DOUBLE) AS s2,
         CAST(SUM(x3) AS DOUBLE) AS s3,
         CAST(SUM(x4) AS DOUBLE) AS s4
  FROM pows GROUP BY l_returnflag
),
cm AS (
  SELECT l_returnflag, n,
         s1 / n AS mu,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * (s2 / n)
           + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4 * (s1 / n) * (s3 / n)
           + 6 * (s1 / n) * (s1 / n) * (s2 / n)
           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM sums
)
SELECT l_returnflag, n,
       round(mu, 6) AS mean_qty,
       round(sqrt(m2), 6) AS stddev_pop,
       round(m3 / NULLIF(sqrt(m2) * sqrt(m2) * sqrt(m2), 0), 6)
         AS skewness,
       round(m4 / NULLIF(m2 * m2, 0) - 3, 6) AS excess_kurtosis
FROM cm
ORDER BY l_returnflag
"""


@register(
    "agg_skew_kurtosis",
    oracle=_SKEWKURT_SQL,
    description="exact population skewness and excess kurtosis per"
    " return flag from one decimal-exact power-sum pass — the 3rd/4th"
    " moments completing the agg_stats family, spelled from raw sums"
    " because engines' built-ins disagree on bias correction",
    tags=("relational", "agg", "stats"),
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's skewness()/kurtosis() are population moments, DuckDB's
    are sample-bias-corrected — the SAME DATA hashes differently
    through the built-ins, so the moments are spelled from raw power
    sums instead (population convention, the one distribution-shape
    screens want). Quantities are integer-valued, so x²..x⁴ are exact
    in doubles; each power is rounded and DECIMAL(28,6)-summed
    (order-independent), and every derived statistic is
    fixed-operand-order double math — m2=0 degenerates to NULL via
    NULLIF in both engines. One partial-agg shuffle on the group key;
    skew/kurt of a 100 TB fact column costs exactly a grouped SUM."""
    return sql(
        spark, _SKEWKURT_SQL, lineitem=load_table(spark, sf_dir, "lineitem")
    )


def _winsor_sql(dialect: str) -> str:
    """Winsorized / trimmed means per return flag: the 5th/95th
    percentiles come from one grouped quantile pass joined back, then
    clamp (winsorize) or exclude (trim). Spark percentile == DuckDB
    quantile_cont on identical doubles."""
    pct = "percentile" if dialect == "spark" else "quantile_cont"
    arr = "array(0.05, 0.95)" if dialect == "spark" else "[0.05, 0.95]"
    # 1-based element access: Spark [] is 0-based, DuckDB [] is 1-based
    q1 = "element_at(qs, 1)" if dialect == "spark" else "qs[1]"
    q2 = "element_at(qs, 2)" if dialect == "spark" else "qs[2]"
    return f"""
WITH vals AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DOUBLE) AS x
  FROM lineitem
),
bounds AS (
  SELECT l_returnflag,
         {q1} AS p05,
         {q2} AS p95
  FROM (SELECT l_returnflag,
               {pct}(x, {arr}) AS qs
        FROM vals GROUP BY l_returnflag)
),
clamped AS (
  SELECT v.l_returnflag,
         CAST(round(v.x, 4) AS DECIMAL(18,4)) AS x_raw,
         CAST(round(CASE WHEN v.x < b.p05 THEN b.p05
                         WHEN v.x > b.p95 THEN b.p95
                         ELSE v.x END, 4) AS DECIMAL(18,4)) AS x_win,
         CASE WHEN v.x < b.p05 THEN 1 ELSE 0 END AS lo,
         CASE WHEN v.x > b.p95 THEN 1 ELSE 0 END AS hi
  FROM vals v JOIN bounds b ON b.l_returnflag = v.l_returnflag
)
SELECT l_returnflag,
       COUNT(*) AS n,
       round(CAST(SUM(x_raw) AS DOUBLE) / COUNT(*), 6) AS mean_raw,
       round(CAST(SUM(x_win) AS DOUBLE) / COUNT(*), 6) AS mean_winsorized,
       round(CAST(SUM(CASE WHEN lo + hi = 0 THEN x_raw END) AS DOUBLE)
             / COUNT(CASE WHEN lo + hi = 0 THEN 1 END), 6)
         AS mean_trimmed_90,
       CAST(SUM(lo) AS BIGINT) AS n_clamped_lo,
       CAST(SUM(hi) AS BIGINT) AS n_clamped_hi
FROM clamped
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "agg_winsorized_mean",
    oracle=_winsor_sql("duckdb"),
    description="robust means per return flag: 5/95-winsorized and"
    " 90%-trimmed means beside the raw mean, with clamp counts — the"
    " outlier-resistant location estimates metric pipelines swap in"
    " when a fat tail owns the plain average",
    tags=("relational", "agg", "stats", "robust"),
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A heavy-tailed metric hands its mean to whichever row is
    largest; winsorizing clamps the tails to the 5th/95th percentiles
    (keeping mass) and trimming drops them (keeping only the middle
    90%) — the two standard robust fixes, and the experimentation
    default for revenue metrics (Tukey; widely used since). Exact
    group quantiles come from ONE grouped ARRAY-percentile pass
    (both cut points from a single value buffer, half the exact
    aggregate's cost) whose
    3-row result joins back broadcast-sized; clamped values are
    rounded then decimal-summed so every mean is order-independent.
    Two passes over the fact column total — at 100 TB the quantile
    pass would swap to percentile_approx under the
    agg_percentile_audit contract, same plan shape."""
    text = _winsor_sql("spark")
    return sql(spark, text, lineitem=load_table(spark, sf_dir, "lineitem"))


#: Breadth milestones for the running-distinct census.
RD_MILESTONES = (2, 3, 4, 5)


def _running_distinct_sql(dialect: str) -> str:
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    tks = ",\n".join(
        f"         MIN(CASE WHEN distinct_so_far >= {k} THEN ts END)"
        f" AS t{k}" for k in RD_MILESTONES
    )
    if dialect == "spark":
        stack_args = ", ".join(f"{k}, t{k}" for k in RD_MILESTONES)
        unpivot = (
            f"  SELECT user_id, t0, k, tk FROM per_user"
            f" LATERAL VIEW stack({len(RD_MILESTONES)}, {stack_args})"
            f" AS k, tk"
        )
    else:
        unpivot = "\n  UNION ALL".join(
            f"\n  SELECT user_id, t0, {k} AS k, t{k} AS tk FROM per_user"
            for k in RD_MILESTONES
        )
    return f"""
WITH firsts AS (
  -- ts IS NOT NULL: an undated event in the ORDER BY ts windows is
  -- engine-divergent (Spark NULLS FIRST claims the first-occurrence
  -- flag and shifts every prefix sum; DuckDB NULLS LAST doesn't) —
  -- the r13 class, surfaced by the r14 undated-purchase fixture row
  SELECT user_id, ts, event_id,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS is_first
  FROM events WHERE ts IS NOT NULL
),
running AS (
  SELECT user_id, ts,
         SUM(is_first) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS distinct_so_far,
         MIN(ts) OVER (PARTITION BY user_id) AS t0
  FROM firsts
),
per_user AS (
  SELECT user_id,
{tks},
         MIN(t0) AS t0
  FROM running GROUP BY user_id
),
milestones AS (
{unpivot}
)
SELECT k AS milestone_distinct_types,
       COUNT(*) AS n_users,
       COUNT(tk) AS n_reached,
       round(CAST(SUM(CASE WHEN tk IS NOT NULL THEN
                    CAST(round(({us}(tk) - {us}(t0))
                               / 60000000.0, 4) AS DECIMAL(18,4))
                  END) AS DOUBLE) / NULLIF(COUNT(tk), 0), 4)
         AS mean_minutes_to_k
FROM milestones
GROUP BY k
ORDER BY milestone_distinct_types
"""


@register(
    "window_running_distinct",
    oracle=_running_distinct_sql("duckdb"),
    description="running COUNT(DISTINCT) as a window — the"
    " first-occurrence-flag + prefix-sum rewrite of a frame neither"
    " engine supports directly — read as the breadth-milestone curve:"
    " users reaching 2/3/4/5 distinct event types and the mean"
    " minutes to each milestone",
    tags=("relational", "window", "events", "stats"),
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT x) OVER (ORDER BY ts) is unsupported in Spark
    AND DuckDB — the standard rewrite makes it two stacked windows:
    flag each row that is the FIRST occurrence of its (user, type)
    (a per-(user,type) row_number), then prefix-sum the flags per
    user. Both windows share the user-keyed shuffle; the tie order
    (ts, event_id) is total, so the running count is engine-exact.
    The milestone unpivot is a stack() over the per-user aggregate
    (the ev_cohort_ltv_curve lesson: a UNION of CTE selects re-scans
    the facts per branch), and the curve read off it —
    time-to-k-types — is the engagement-breadth readout product
    analytics wants from this frame. Output is bounded by the
    milestone list, never by users."""
    text = _running_distinct_sql("spark")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


_SKYLINE_SQL = """
WITH pairs AS (
  -- both objectives non-null: a part missing price or size has no
  -- position in a (price, size) dominance order — and NULL prices
  -- sort FIRST in Spark's prefix window vs LAST in DuckDB's, so an
  -- ungated NULL silently reshapes the frontier differently per engine
  SELECT p_retailprice AS price, p_size AS sz, p_partkey
  FROM part
  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
),
per_price AS (
  SELECT price, MAX(sz) AS best_sz
  FROM pairs GROUP BY price
),
flagged AS (
  SELECT price, best_sz,
         MAX(best_sz) OVER (ORDER BY price
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS best_cheaper
  FROM per_price
),
sky AS (
  SELECT price, best_sz
  FROM flagged
  WHERE best_cheaper IS NULL OR best_sz > best_cheaper
)
SELECT s.price, CAST(s.best_sz AS BIGINT) AS sz,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(MIN(p.p_partkey) AS BIGINT) AS min_partkey
FROM sky s
JOIN pairs p ON p.price = s.price AND p.sz = s.best_sz
GROUP BY s.price, s.best_sz
ORDER BY s.price
"""


@register(
    "agg_skyline_2d",
    oracle=_SKYLINE_SQL,
    description="2-D skyline (Pareto frontier) over parts: the"
    " cheapest-for-their-size / biggest-for-their-price points"
    " (minimize retail price, maximize size) via per-price collapse +"
    " one prefix-max over the domain-bounded distinct-price table —"
    " the multi-objective shortlist operator, never an all-pairs"
    " dominance join",
    tags=("agg", "skyline", "window", "multiobjective"),
)
def agg_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skyline (Börzsönyi et al. ICDE'01) keeps points no other
    point beats on BOTH objectives — the textbook formulation is an
    all-pairs NOT EXISTS dominance join, quadratic and exactly what
    this repo's lint exists to reject. The 2-D case collapses to
    sorted linear work: group to per-price max size (one shuffle —
    same-price points are dominated by their price's best unless they
    ARE it), then a point survives iff its size strictly exceeds the
    running max over all strictly-cheaper prices — one prefix-max
    window over the DISTINCT-PRICE table, which is bounded by the
    price grid (a data-domain constant: cents within a fixed band,
    ≤1001 values here — the ta_length_drift allowlist argument),
    never by part count. Multiplicity and a representative key come
    from one join back at the winning (price, size) points. Skyline
    sizes probed: 5/4/2 rows across the three SFs — small by nature,
    which is the point of a shortlist."""
    return sql(spark, _SKYLINE_SQL, part=load_table(spark, sf_dir, "part"))
