"""Temporal join operators: as-of join and bounded range join.

Neither exists in the reference (SURVEY.md §2.3 — no join operator at
all) and neither is a Spark builtin, so these are the "custom operator
as composition" case (build-spec: compose existing DataFrame ops before
reaching for UDFs):

- **as-of join** = union the two inputs tagged, one window pass per key
  with ``last(ignorenulls)`` over rows-unbounded-preceding. ONE shuffle
  on the join key, state = one value per key — the classic distributed
  as-of shape (a sort-merge band join would need a range condition Spark
  can only nested-loop). The DuckDB oracle uses its *native* ASOF JOIN,
  so our composition is checked against a first-class implementation.

- **bounded range join** = bucketize time to the range width, explode
  the left side to its two candidate buckets, equi-join on
  (key, bucket), re-filter the exact interval. Turns an
  O(n²)-per-key theta join into a shuffle equi-join whose per-bucket
  fan-in is bounded by event density × range width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, sql
from mcp_rag_server_spark.functions.numeric import dsum, duckdb_dsum
from mcp_rag_server_spark.registry import register

RANGE_GAP_US = 5 * 60 * 1_000_000  # 5 minutes

#: ev_gap_fill user cutoff — bounds the densified timeline on the
#: comparison fixture (5 users × ~700 hourly slots ≈ 3.5k rows).
GAP_FILL_USERS = 5


@register(
    "tj_asof_last_order",
    oracle="""
-- CASE: an undated event has no as-of position — DuckDB's ASOF sort
-- treats a NULL probe time as +infinity and matches the user's LAST
-- order, so the match is nulled in the projection to the defined
-- no-match semantics (the Spark union+window yields NULL natively)
SELECT e.event_id, e.user_id, e.ts,
       CASE WHEN e.ts IS NOT NULL THEN o.o_orderdate END
         AS last_order_date
FROM events e
ASOF LEFT JOIN orders o
  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
ORDER BY e.event_id
""",
    description="as-of join (events x orders): union + keyed window with"
    " last(ignorenulls) vs DuckDB's native ASOF JOIN",
    tags=("temporal", "asof", "join"),
    bench=True,
)
def tj_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each event: the user's most recent order date at-or-before the
    event time. Order rows sort before event rows at equal timestamps
    (src 0 < 1), so an order on the event's own timestamp matches —
    ASOF's <= semantics."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("timestamp").alias("od_date"),
        F.lit(1).alias("src"),
    )
    od = load_table(spark, sf_dir, "orders").filter(
        # equality-join semantics: a NULL o_custkey matches no event,
        # but the union+window would carry it into the NULL-user
        # partition — drop it from the build side
        F.col("o_custkey").isNotNull()
    ).select(
        F.col("o_custkey").cast("long").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate").cast("timestamp").alias("od_date"),
        F.lit(0).alias("src"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.unionByName(od)
        .withColumn("last_order_date", F.last("od_date", ignorenulls=True).over(w))
        .filter(F.col("src") == 1)
        .select("event_id", "user_id", "ts", "last_order_date")
        .orderBy("event_id")
    )


@register(
    "tj_range_pairs_5min",
    oracle=f"""
SELECT a.user_id, COUNT(*) AS n_pairs
FROM events a JOIN events b
  ON b.user_id = a.user_id
 AND epoch_us(b.ts) >  epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + {RANGE_GAP_US}
GROUP BY a.user_id
ORDER BY a.user_id
""",
    description="bounded range self-join (pairs of same-user events within"
    " 5 min) via time-bucket equi-join",
    tags=("temporal", "range", "join"),
)
def tj_range_pairs_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: ordered event pairs (a, b) with b within (0, 5min] after
    a. The left side explodes to its two candidate buckets; the right
    joins on its own bucket — every qualifying pair lands in exactly one
    bucket, so no dedup is needed and the join is a plain shuffle
    equi-join on (user_id, bucket)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    a = ev.select(
        F.col("user_id"),
        F.col("event_id").alias("a_id"),
        F.col("us").alias("a_us"),
        F.explode(
            F.array(
                F.floor(F.col("us") / RANGE_GAP_US),
                F.floor(F.col("us") / RANGE_GAP_US) + 1,
            )
        ).alias("bucket"),
    )
    b = ev.select(
        F.col("user_id").alias("b_user"),
        F.col("us").alias("b_us"),
        F.floor(F.col("us") / RANGE_GAP_US).alias("b_bucket"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("bucket") == F.col("b_bucket"))
            & (F.col("b_us") > F.col("a_us"))
            & (F.col("b_us") <= F.col("a_us") + RANGE_GAP_US),
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("user_id")
    )


@register(
    "ev_gap_fill",
    oracle=f"""
WITH hourly AS (
  -- ts IS NOT NULL: an h=NULL hourly row is provably inert here (MIN/
  -- MAX skip it, the timeline equi-join never matches it) — the gate
  -- makes the gap-compression exclusion explicit instead of emergent
  SELECT user_id, date_trunc('hour', ts) AS hour_ts,
         COUNT(*) AS hr_events,
         {duckdb_dsum('value', 4)} AS hr_value
  FROM events WHERE user_id < {GAP_FILL_USERS} AND ts IS NOT NULL
  GROUP BY user_id, date_trunc('hour', ts)
),
span AS (
  SELECT user_id, MIN(hour_ts) AS mn, MAX(hour_ts) AS mx
  FROM hourly GROUP BY user_id
),
timeline AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_ts
  FROM span
),
j AS (
  SELECT t.user_id, t.hour_ts,
         COALESCE(h.hr_events, 0) AS n_events,
         h.hr_events IS NULL AS is_gap,
         h.hr_value
  FROM timeline t LEFT JOIN hourly h USING (user_id, hour_ts)
)
SELECT user_id, hour_ts, CAST(n_events AS BIGINT) AS n_events, is_gap,
       last_value(hr_value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hour_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_value
FROM j
ORDER BY user_id, hour_ts
""",
    description="time-series densification: per-user hourly timeline"
    " generated over each user's active span (sequence explode), gaps"
    " marked, hourly value forward-filled with last(ignorenulls) — the"
    " resample+ffill primitive of every metrics/feature pipeline",
    tags=("events", "temporal", "window", "gapfill"),
)
def ev_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill = generate the dense per-key timeline (``sequence`` from
    each key's min to max hour, exploded), left-join the sparse hourly
    aggregate back, then forward-fill the value with ``last(ignorenulls)``
    over rows-unbounded-preceding — the same one-pass window the as-of
    join above uses, so ffill state is O(1) per user.

    Scale shape: hourly agg is ONE (user, hour) partial aggregation; the
    span agg and timeline explode run on one row per user; the left join
    and ffill window shuffle once on user_id. The densified row count is
    users × span-hours — bounded by the resample granularity, not by the
    event count; for multi-year spans you'd densify per (user, day)
    chunk to keep any single explode bounded, same composition.

    First hour per user is always observed (span min comes from the
    data), so filled_value is never NULL — both engines agree on the
    NULL-free ffill result, sidestepping IGNORE NULLS edge semantics."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < GAP_FILL_USERS) & F.col("ts").isNotNull()
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(
        F.count("*").alias("hr_events"),
        dsum("value", 4).alias("hr_value"),
    )
    timeline = (
        hourly.groupBy("user_id")
        .agg(F.min("hour_ts").alias("mn"), F.max("hour_ts").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_ts"),
        )
    )
    j = timeline.join(hourly, ["user_id", "hour_ts"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        j.select(
            "user_id",
            "hour_ts",
            F.coalesce("hr_events", F.lit(0)).alias("n_events"),
            F.col("hr_events").isNull().alias("is_gap"),
            F.last("hr_value", ignorenulls=True).over(w).alias("filled_value"),
        )
        .orderBy("user_id", "hour_ts")
    )


def _nearest_sql(dialect: str = "duckdb") -> str:
    """Shared text modulo two tokens: epoch_us/unix_micros and the
    IGNORE NULLS placement (inside the call for DuckDB, outside for
    Spark)."""
    inn = "IGNORE NULLS" if dialect == "duckdb" else ""
    out = "" if dialect == "duckdb" else "IGNORE NULLS"
    return f"""
WITH unioned AS (
  -- ts IS NOT NULL both branches: an undated probe has no temporal
  -- neighbors (its own prior/next diverge with the engines' NULL
  -- sort placement — latently, since the %100 sample happened to
  -- skip the fixture's undated ids), and an undated order is
  -- IGNORE-NULLS-invisible anyway (r14, sequence contract)
  SELECT user_id, ts, event_id,
         CAST(NULL AS TIMESTAMP) AS od_date, 1 AS src
  FROM events WHERE ts IS NOT NULL
  UNION ALL
  SELECT o_custkey AS user_id, o_orderdate AS ts,
         CAST(NULL AS BIGINT) AS event_id, o_orderdate AS od_date, 0 AS src
  FROM orders WHERE o_orderdate IS NOT NULL
),
carried AS (
  SELECT user_id, ts, event_id, src,
         last_value(od_date {inn}) {out} OVER (
           PARTITION BY user_id ORDER BY ts, src, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prior_order,
         last_value(od_date {inn}) {out} OVER (
           PARTITION BY user_id
           ORDER BY ts DESC, src DESC, event_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS next_order
  FROM unioned
),
ev AS (
  SELECT event_id, user_id, ts, prior_order, next_order,
         CASE
           WHEN prior_order IS NULL THEN next_order
           WHEN next_order IS NULL THEN prior_order
           WHEN epoch_us(ts) - epoch_us(prior_order)
                <= epoch_us(next_order) - epoch_us(ts)
             THEN prior_order
           ELSE next_order
         END AS nearest_order
  FROM carried WHERE src = 1
)
SELECT event_id, user_id, ts, prior_order, next_order, nearest_order,
       CAST((CASE
         WHEN nearest_order IS NULL THEN NULL
         WHEN epoch_us(ts) >= epoch_us(nearest_order)
           THEN epoch_us(ts) - epoch_us(nearest_order)
         ELSE epoch_us(nearest_order) - epoch_us(ts)
       END) // 1000000 AS BIGINT) AS nearest_gap_s
FROM ev
WHERE event_id % 100 = 0
ORDER BY event_id
"""


@register(
    "tj_nearest_order",
    oracle=_nearest_sql(),
    description="nearest-event temporal join: for each event, the"
    " user's closest order in EITHER time direction — prior via the"
    " ASC carry window, next via the DESC-prefix identity (no shrinking"
    " frame), tie broken toward the prior side; |gap| in exact integer"
    " seconds, sampled post-window",
    tags=("temporal", "asof", "join", "nearest"),
)
def tj_nearest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tj_asof_last_order answers "most recent at-or-before"; the
    nearest-neighbor variant needs the NEXT order too, and the naive
    next-side window (CURRENT ROW → UNBOUNDED FOLLOWING with
    first_value) is Spark's O(n²) shrinking frame
    (window_value_frames measured it at 100×). Both directions here
    are incremental prefix carries — the next-order carry runs over
    the DESC sort, where the future is a prefix. Same union trick as
    the as-of join (order rows sort before event rows at equal ts on
    the ASC side and after them on the DESC side, so an order at the
    event's own timestamp is 'prior' — <= semantics, gap 0). One
    shuffle on user_id; the tie and the gap are exact integer micros
    arithmetic. The %100 sample sits above the windows."""
    text = _nearest_sql("spark").replace("epoch_us(", "unix_micros(")
    # Spark has no // integer-division operator
    text = text.replace("// 1000000", "DIV 1000000")
    return sql(
        spark,
        text,
        events=load_table(spark, sf_dir, "events"),
        orders=load_table(spark, sf_dir, "orders"),
    )


#: Interval half-width for the union op: each event claims
#: [ts, ts + 30 min) of activity.
IU_SPAN_US = 1_800_000_000


def _interval_union_sql() -> str:
    """Merge overlapping per-user activity intervals (each event opens a
    30-minute interval) into maximal islands — the classic interval
    union: a row starts a new island iff its start exceeds the running
    max of all PRIOR ends (one prefix-max window), island ids are the
    prefix sum of those flags (second window on the same sort), then
    per-island extents aggregate. All arithmetic in integer epoch
    micros — exact in both engines."""
    return f"""
WITH iv AS (
  -- ts IS NOT NULL: an undated event opens no interval (a NULL start
  -- sorts FIRST in Spark's prefix-max window vs LAST in DuckDB's,
  -- fabricating a different island structure per engine)
  SELECT user_id, event_id,
         epoch_us(ts) AS s,
         epoch_us(ts) + {IU_SPAN_US} AS e
  FROM events WHERE ts IS NOT NULL
),
flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
             PARTITION BY user_id ORDER BY s, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  -- the SAME total (s, event_id) order as the flag window: a tie
  -- order that differed between the two windows could hand a
  -- tied row the neighboring island's id
  SELECT user_id, s, e,
         CAST(SUM(new_island) OVER (
             PARTITION BY user_id ORDER BY s, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS island
  FROM flagged
),
merged AS (
  SELECT user_id, island,
         MIN(s) AS island_start,
         MAX(e) AS island_end
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       COUNT(*) AS n_islands,
       CAST(SUM(island_end - island_start) AS BIGINT) AS covered_us,
       CAST(MAX(island_end - island_start) AS BIGINT) AS longest_us
FROM merged
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "tj_interval_union",
    oracle=_interval_union_sql(),
    description="interval union (merge overlapping intervals): each"
    " event opens a 30-min activity interval, overlapping intervals"
    " per user coalesce into maximal islands via a prefix-max window"
    " — per-user island count, exact covered time, longest stretch;"
    " the coverage/utilization primitive sessionization's gap rule"
    " cannot express",
    tags=("temporal", "interval", "window"),
)
def tj_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_sessionize splits on GAPS between points; interval union
    merges on OVERLAP between spans — the right primitive when rows
    carry durations (meeting-room coverage, on-call windows, machine
    utilization). The distributed form is two windows on ONE
    user-keyed sort: a running max of prior interval ends decides
    island starts (an interval overlaps the union of everything
    before it iff its start ≤ that max), and a prefix sum of the
    start flags numbers the islands — O(n log n) in the sort, never
    the naive interval×interval overlap join. Ordering is total
    ((s, event_id) / (s, e)), micros are exact BIGINTs, so island
    boundaries — and the hashed coverage sums — are engine-identical.
    The sentinel -1 is safe: epoch micros of every fixture ts is
    positive."""
    text = _interval_union_sql().replace("epoch_us(", "unix_micros(")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))
