"""Data-quality expectation suite — the Great-Expectations-style gate
battery a pipeline runs before trusting a batch.

Each expectation is one exact aggregate (range, accepted-values,
uniqueness, referential integrity, cross-field consistency, frequency
cap) emitted as a (check, table, n_rows, n_violations, passed) row;
the whole suite is a UNION ALL of partial-aggregating scans plus one
key-sized anti-join census, so it costs a handful of single-pass
scans at any corpus size. The driver hash covers the violation COUNTS,
not just the booleans — a check that starts failing (or failing
differently) changes the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mcp_rag_server_spark.catalog import load_table, sql
from mcp_rag_server_spark.registry import register

#: Frequency-cap expectation: max orders a single customer may carry.
#: Deliberately strict enough to FAIL on the fixture (13 customers
#: exceed it at sf0.01; the sf0.001 max is exactly 18) so the suite
#: hashes a real failure path, not a vacuous all-green table.
DQ_MAX_ORDERS_PER_CUSTOMER = 18

_DQ_SQL = f"""
SELECT 'o_totalprice_positive' AS check_name, 'orders' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
                  THEN 1 END) AS BIGINT) AS n_violations,
       COUNT(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
             THEN 1 END) = 0 AS passed
FROM orders
UNION ALL
SELECT 'l_quantity_in_1_50', 'lineitem',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50
                        OR l_quantity IS NULL THEN 1 END) AS BIGINT),
       COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50
              OR l_quantity IS NULL THEN 1 END) = 0
FROM lineitem
UNION ALL
SELECT 'event_type_accepted', 'events',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(CASE WHEN event_type NOT IN
                  ('click','error','purchase','signup','view')
                  OR event_type IS NULL THEN 1 END) AS BIGINT),
       COUNT(CASE WHEN event_type NOT IN
             ('click','error','purchase','signup','view')
             OR event_type IS NULL THEN 1 END) = 0
FROM events
UNION ALL
SELECT 'o_orderkey_unique', 'orders',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
       COUNT(*) = COUNT(DISTINCT o_orderkey)
FROM orders
UNION ALL
SELECT 'lineitem_orderkey_fk', 'lineitem',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
       CAST(COUNT(*) AS BIGINT),
       COUNT(*) = 0
FROM (SELECT l.l_orderkey FROM lineitem l
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey IS NULL) orphans
UNION ALL
SELECT 'n_chars_matches_text', 'documents',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(CASE WHEN n_chars <> length(text)
                        OR text IS NULL THEN 1 END) AS BIGINT),
       COUNT(CASE WHEN n_chars <> length(text) OR text IS NULL
             THEN 1 END) = 0
FROM documents
UNION ALL
SELECT 'orders_per_customer_le_{DQ_MAX_ORDERS_PER_CUSTOMER}', 'orders',
       (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders),
       CAST(COUNT(*) AS BIGINT),
       COUNT(*) = 0
FROM (SELECT o_custkey FROM orders GROUP BY o_custkey
      HAVING COUNT(*) > {DQ_MAX_ORDERS_PER_CUSTOMER}) hot
ORDER BY check_name
"""


@register(
    "dq_expectations_audit",
    oracle=_DQ_SQL,
    description="data-quality expectation suite: seven exact checks"
    " (value range, accepted values, key uniqueness, FK integrity,"
    " cross-field consistency, frequency cap) with violation counts"
    " and pass booleans hashed per check — the batch-admission gate"
    " run before any downstream job trusts the data; the frequency"
    " cap legitimately FAILS at sf0.01 so the failure path is hashed"
    " too",
    tags=("dq", "quality", "audit", "agg"),
)
def dq_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every production pipeline fronts its tables with an expectation
    suite (Great Expectations, dbt tests, Deequ); the operator is the
    suite itself as ONE relational statement. Each check reduces to a
    partial-aggregating scan (conditional counts — map-side combined,
    one pass per table) except referential integrity, which is the
    orphan census via a key-distinct anti-join — the 100 TB shape is
    a broadcast of the distinct build side or a key-partitioned
    shuffle, never a row-level materialization. Counts are hashed,
    not just booleans, so a regression from 13 violations to 14 is
    driver-visible. The deliberately-failing frequency cap pins the
    failure path (see DQ_MAX_ORDERS_PER_CUSTOMER); Deequ-style
    anomaly EVOLUTION over batches is ta_length_drift /
    ev_cusum_drift territory and already registered."""
    tables = ("orders", "lineitem", "customer", "events", "documents")
    return sql(
        spark, _DQ_SQL, **{t: load_table(spark, sf_dir, t) for t in tables}
    )
