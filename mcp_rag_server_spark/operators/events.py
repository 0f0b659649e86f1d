"""Event analytics over the event-time `events` fixture (batch side).

The reference is batch-only with restart-time incremental refresh
(SURVEY.md §2.9 — no watermarks, no windows); BASELINE.json directs the
new engine to provide event-time analytics as first-class capability.
The batch expressions here (tumbling windows via date_trunc,
sessionization via gaps-and-islands, funnel via conditional min-agg)
have streaming twins in mcp_rag_server_spark/streaming/ built on
Structured Streaming with watermarks.

Scale notes: every query below groups on bounded-cardinality keys
(hour buckets, user_id) and aggregates with map-side combine; the
sessionize window partitions by user_id, which at 100 TB shuffles once
on a well-distributed key (150 users per 10k events here; in a real
corpus user_id cardinality is huge, so no skew concern — a hot user
would be handled by AQE skew-split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, sql
from mcp_rag_server_spark.functions.numeric import (
    davg,
    dsum,
    duckdb_davg,
    duckdb_dsum,
)
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.session import fanout_width

#: Session gap threshold (microseconds) — 30 minutes.
SESSION_GAP_US = 30 * 60 * 1_000_000


@register(
    "ev_hourly_windows",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {duckdb_dsum('value', 4)} AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
ORDER BY window_start, event_type
""",
    description="tumbling 1h event-time windows (batch twin of the streaming"
    " window() aggregation)",
    tags=("events", "window", "agg"),
    bench=True,
)
def ev_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", 4).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "ev_json_extract",
    oracle="""
-- json_valid gate: Spark's get_json_object returns NULL on malformed
-- JSON; DuckDB's json_extract_string THROWS — the CASE makes the
-- oracle's malformed/NULL-props behavior identical (NULL bucket)
SELECT CAST(json_extract_string(
         CASE WHEN json_valid(props) THEN props END, '$.k')
       AS INT) % 10 AS k_bucket,
       COUNT(*) AS n,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM events
GROUP BY 1
ORDER BY k_bucket
""",
    description="semi-structured JSON prop extraction + bucket aggregation"
    " (events.props is a JSON string column, FIXTURES.md A1)",
    tags=("events", "json"),
)
def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("k_bucket")
    )


@register(
    "ev_sessionize",
    oracle=f"""
WITH marked AS (
  -- ts IS NOT NULL: an undated event has no place in an inactivity-
  -- gap sequence — boundary NULL placements cancel (NULL gap -> 0),
  -- but a mid-sequence placement under DuckDB's parallel sort NULLs
  -- out a REAL gap and can swallow a session boundary (r14, r13
  -- jitter class)
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(1 + SUM(new_session) AS BIGINT) AS n_sessions
FROM marked
GROUP BY user_id
ORDER BY user_id
""",
    description="sessionization (30-min inactivity gap) via gaps-and-islands"
    " — batch twin of session_window() in streaming/",
    tags=("events", "session", "window"),
    bench=True,
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap detection uses integer epoch-microseconds so the comparison is
    exact in both engines (no interval/float coercion)."""
    # sequence contract (r14): mirror of the oracle's ts gate
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new_session = F.when(
        us - F.lag(us).over(w) > SESSION_GAP_US, F.lit(1)
    ).otherwise(F.lit(0))
    return (
        ev.select("user_id", "event_id", new_session.alias("new_session"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (1 + F.sum("new_session")).alias("n_sessions"),
        )
        .orderBy("user_id")
    )


@register(
    "ev_funnel",
    oracle="""
WITH stages AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS saw_view,
       COUNT(CASE WHEN t_click > t_view THEN 1 END) AS view_then_click,
       COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
         AS full_funnel
FROM stages
""",
    description="ordered funnel (view→click→purchase) via conditional min-agg",
    tags=("events", "funnel"),
)
def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return stages.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("saw_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "view_then_click"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("full_funnel"),
    )


@register(
    "ev_top_users_by_value",
    oracle=f"""
SELECT user_id,
       COUNT(*) AS n_events,
       {duckdb_dsum('value', 4)} AS total_value,
       {duckdb_davg('value', 6)} AS avg_value
FROM events
GROUP BY user_id
ORDER BY total_value DESC, user_id ASC
LIMIT 20
""",
    description="top-k users by accumulated value (TakeOrderedAndProject)",
    tags=("events", "agg", "topk"),
)
def ev_top_users_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", 4).alias("total_value"),
            davg("value", 6).alias("avg_value"),
        )
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(20)
    )


@register(
    "ev_dedup_by_second",
    oracle="""
WITH keyed AS (
  SELECT user_id, event_type, date_trunc('second', ts) AS ts_sec,
         MIN(event_id) AS keep_event_id, COUNT(*) AS n_copies
  FROM events
  GROUP BY user_id, event_type, date_trunc('second', ts)
)
SELECT COUNT(*) AS n_unique,
       CAST(SUM(n_copies) AS BIGINT) AS n_raw,
       CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_dropped
FROM keyed
""",
    description="event dedup on (user, type, second) keeping first event_id"
    " — exact-dedup building block",
    tags=("events", "dedup"),
)
def ev_dedup_by_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.groupBy(
        "user_id", "event_type", F.date_trunc("second", F.col("ts")).alias("ts_sec")
    ).agg(F.min("event_id").alias("keep_event_id"), F.count("*").alias("n_copies"))
    return keyed.agg(
        F.count("*").alias("n_unique"),
        F.sum("n_copies").alias("n_raw"),
        (F.sum("n_copies") - F.count("*")).alias("n_dropped"),
    )


@register(
    "ev_type_value_stats",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n,
       {duckdb_dsum('value', 4)} AS total_value,
       {duckdb_davg('value', 6)} AS avg_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    description="per-type value stats (min/max exact, sum/avg via decimal)",
    tags=("events", "agg"),
)
def ev_type_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            dsum("value", 4).alias("total_value"),
            davg("value", 6).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type")
    )


@register(
    "ev_grouped_map_running",
    oracle="""
SELECT user_id, event_id,
       row_number() OVER w AS seq,
       -- finite gate + -Infinity identity: NaN/Inf carry no magnitude
       -- (numeric.py contract), and max-of-no-finite-values is the
       -- max identity, so leading non-finite rows render identically
       -- on both engines instead of NULL-vs-NaN
       COALESCE(MAX(CASE WHEN isfinite(value) THEN value END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING),
                CAST('-Infinity' AS DOUBLE)) AS run_max_value
-- ts IS NOT NULL: the sequence contract excludes undated events —
-- pandas NaT-last happened to coincide with DuckDB NULLS LAST, but
-- the oracle's parallel window sort can place a NULL key anywhere
-- (r13 jitter class), renumbering every seq after it (r14)
FROM events WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, seq
""",
    description="grouped-map applyInPandas: per-user event sequence and"
    " running max, vectorized in pandas, vs a window-function oracle",
    tags=("events", "pandas", "grouped-map"),
)
def ev_grouped_map_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-map Arrow shape (applyInPandas): each user's events
    arrive as ONE pandas frame, sorted inside the UDF for determinism
    (shuffle order is not stable), then processed with vectorized
    cumulative ops. Chosen state ops (sequence, cummax) involve no float
    accumulation, so the result is bit-identical to the window oracle.
    Scale: one shuffle on user_id; per-group memory = that user's events
    — use this API only when per-group logic truly needs a local frame
    (else window functions stay JVM-side and stream).

    PRODUCTION FORM: this query exists to demonstrate the grouped-map
    shape; its own oracle — a plain ``row_number()`` / running ``MAX``
    window over (user_id, ts, event_id) — IS the recommended
    implementation for this computation. grouped-map invokes Python
    once per key (~1 ms each; measured ~7.6 s over the ~10k-user
    sf0.1 fixture vs well under a second for the window form), so
    reserve it for logic a window/aggregate genuinely cannot express."""
    import pandas as pd  # noqa: F401 (documents the dependency)

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        # sequence contract (r14): mirror of the oracle's ts gate
        .filter(F.col("ts").isNotNull())
    )

    def running(pdf):
        import numpy as np

        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        pdf["seq"] = range(1, len(pdf) + 1)
        # finite contract: mask NaN/Inf before cummax (pandas skipna
        # keeps Inf, SQL MAX ranks NaN largest), fill the leading
        # no-finite-yet prefix with the max identity -Infinity to
        # match the oracle's COALESCE
        # cummax leaves NaN AT masked positions (it skips them for the
        # running state but does not emit the carry) — ffill carries
        # the last finite max over them, like the SQL window does
        pdf["run_max_value"] = (
            pdf["value"].where(np.isfinite(pdf["value"])).cummax()
            .ffill()
            .fillna(float("-inf"))
        )
        return pdf[["user_id", "event_id", "seq", "run_max_value"]]

    out = ev.groupBy("user_id").applyInPandas(
        running,
        schema="user_id long, event_id long, seq int, run_max_value double",
    )
    return out.orderBy("user_id", "seq")


@register(
    "ev_anomaly_zscore",
    oracle=f"""
WITH stats AS (
  SELECT user_id,
         COUNT(*) AS n,
         {duckdb_dsum('value', 4)} AS s1,
         {duckdb_dsum('value * value', 4)} AS s2
  FROM events
  GROUP BY user_id
),
z AS (
  SELECT e.user_id, e.event_id,
         round((e.value - s.s1 / s.n)
               / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1)), 4) AS z
  FROM events e JOIN stats s USING (user_id)
  WHERE s.n > 1 AND (s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1) > 0
)
SELECT user_id, event_id, z FROM z
WHERE abs(z) >= 2.5
ORDER BY user_id, event_id
""",
    description="per-user z-score outliers (|z| >= 2.5) — anomaly flagging"
    " with exact decimal moment sums so both engines compute identical"
    " doubles (no order-dependent float accumulation)",
    tags=("events", "stats", "anomaly"),
)
def ev_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean and variance come from decimal partial sums of x and x²
    (functions/numeric.py discipline): the sums are exact and
    order-independent, the final double expression tree is identical in
    both engines, and z is rounded to 4 decimals BEFORE the threshold
    filter so the kept set is deterministic. Plan: one groupBy(user_id)
    with map-side combine + a broadcast stats join — two scans of events
    but no wide shuffle of the event rows."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        dsum("value", 4).alias("s1"),
        dsum(F.col("value") * F.col("value"), 4).alias("s2"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    z = F.round(
        (F.col("value") - F.col("s1") / F.col("n")) / F.sqrt(var), 4
    )
    return (
        ev.join(stats, "user_id")
        .filter((F.col("n") > 1) & (var > 0))
        .select("user_id", "event_id", z.alias("z"))
        .filter(F.abs(F.col("z")) >= 2.5)
        .orderBy("user_id", "event_id")
    )


@register(
    "ev_salted_hot_key_join",
    oracle=f"""
WITH big AS (
  SELECT CASE WHEN event_id % 10 < 8 THEN 0 ELSE user_id END AS k, value
  FROM events
),
dim AS (
  SELECT DISTINCT user_id AS k, user_id % 3 AS tier FROM events
)
SELECT d.tier,
       COUNT(*) AS n_events,
       {duckdb_dsum('b.value', 4)} AS total_value
FROM big b JOIN dim d ON b.k = d.k
GROUP BY d.tier
ORDER BY d.tier
""",
    description="explicit salted join on a deliberately 80%-hot key"
    " (functions/skew.py) vs a plain-join oracle — the manual skew lever"
    " for stages AQE can't rewrite",
    tags=("events", "join", "skew"),
)
def ev_salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80% of events are remapped onto key 0 (a pathological hot key),
    then joined to the per-user tier dim through ``salted_join``: the
    shuffle key becomes (k, _salt), spreading the hot key over n_salts
    partitions (plan witness:
    tests/test_scale_patterns.py::test_salted_join_query_plan_fans_out).
    Salt assignment is a deterministic row hash — the result is
    join-equivalent to the plain join the oracle runs."""
    from mcp_rag_server_spark.functions.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    big = ev.select(
        F.when(F.col("event_id") % 10 < 8, F.lit(0).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("k"),
        "value",
    )
    dim = (
        ev.select(F.col("user_id").alias("k"))
        .distinct()
        .withColumn("tier", F.col("k") % 3)
    )
    return (
        salted_join(big, dim, on="k", n_salts=8)
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", 4).alias("total_value"),
        )
        .orderBy("tier")
    )


@register(
    "ev_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_offset
  FROM events e JOIN firsts f ON f.user_id = e.user_id
),
cohort_sizes AS (
  SELECT cohort_day, COUNT(*) AS n_users FROM firsts GROUP BY cohort_day
)
SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day, a.day_offset,
       COUNT(*) AS n_active,
       round(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(s.n_users), 6) AS retention
FROM activity a
JOIN firsts f ON f.user_id = a.user_id
JOIN cohort_sizes s ON s.cohort_day = f.cohort_day
GROUP BY f.cohort_day, a.day_offset
ORDER BY f.cohort_day, a.day_offset
""",
    description="cohort retention: users bucketed by first-seen day, share"
    " still active at each day offset — classic two-level event analytics",
    tags=("events", "cohort", "agg", "join"),
)
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohorting is two aggregations over one shuffle key (user_id): the
    first-seen aggregate, then distinct (user, day-offset) activity —
    both partial-aggregate before shuffling, and the cohort-size join is
    a broadcast (|cohorts| rows). At 100 TB the only big shuffle is the
    per-user min, which AQE-coalesces to the true user cardinality."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    cohort_sizes = firsts.groupBy(F.col("cohort_day").alias("s_day")).agg(
        F.count("*").alias("n_users")
    )
    return (
        activity.join(
            F.broadcast(cohort_sizes), F.col("cohort_day") == F.col("s_day")
        )
        .groupBy("cohort_day", "day_offset")
        .agg(
            F.count("*").alias("n_active"),
            F.round(
                F.count("*").cast("double") / F.any_value("n_users"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "ev_props_map_stats",
    oracle="""
-- json_valid gate: Spark's from_json yields a NULL map on malformed/
-- NULL props and explode drops the row; DuckDB's json_keys THROWS on
-- malformed input — the CASE (json_keys(NULL) -> NULL -> unnest
-- emits no rows) reproduces the drop
SELECT e.event_type,
       t.key AS prop_key,
       COUNT(*) AS n,
       MIN(CAST(json_extract(e.props, '$.' || t.key) AS INT)) AS min_v,
       MAX(CAST(json_extract(e.props, '$.' || t.key) AS INT)) AS max_v,
       round(CAST(SUM(CAST(json_extract(e.props, '$.' || t.key) AS INT))
                  AS DOUBLE) / COUNT(*), 6) AS avg_v
FROM events e,
     unnest(json_keys(CASE WHEN json_valid(e.props) THEN e.props END))
       AS t(key)
GROUP BY e.event_type, t.key
ORDER BY e.event_type, prop_key
""",
    description="map-typed property aggregation: props JSON parsed to"
    " map<string,int>, exploded to (key, value) rows, per-(event_type,"
    " key) stats — the MapType surface (from_json map schema + map"
    " explode) the scalar-function inventory lacked",
    tags=("events", "json", "map"),
)
def ev_props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_json_extract pulls ONE known path; real event streams carry
    open-ended property bags, which is Spark's MapType: parse the whole
    object (`from_json` to map<string,int>), explode to key rows, and
    aggregate per key. The explode is narrow; the only shuffle is the
    (event_type, key) partial agg — the shape that holds when the bag
    has a thousand distinct keys instead of the fixture's one. Integer
    sums are exact, so the mean divides identical operands in both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    kv = ev.select(
        "event_type",
        F.explode(
            F.from_json(F.col("props"), "map<string,int>")
        ).alias("prop_key", "v"),
    )
    return (
        kv.groupBy("event_type", "prop_key")
        .agg(
            F.count("*").alias("n"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.round(
                F.sum("v").cast("double") / F.count("*"), 6
            ).alias("avg_v"),
        )
        .orderBy("event_type", "prop_key")
    )


@register(
    "ev_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
  -- sequence contract: an event with no user or no time has no
  -- position in a per-user event-time order (and NULL ts sorts
  -- FIRST in Spark windows vs LAST in DuckDB)
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / SUM(n_transitions) OVER (PARTITION BY from_type) AS p_transition
FROM pairs
ORDER BY from_type, to_type
""",
    description="first-order Markov transition matrix over per-user"
    " event sequences: lead() pairs, (from,to) counts, and row-"
    "normalized transition probabilities — the session-path mining"
    " primitive behind funnels and next-event prediction",
    tags=("events", "window", "sequence"),
)
def ev_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-event pairs come from ONE user-keyed window (lead
    over (ts, event_id) — the same total per-user order every ev_*
    sequence query pins); the matrix is a bounded (|types|²) aggregate
    with map-side combine, and row normalization is a window over that
    tiny matrix, not the events. p_transition is one IEEE division of
    two exact BIGINTs — bit-identical across engines, emitted unrounded
    (registry rule 3). At 100 TB: one user-keyed shuffle for the lead,
    one partial-agg shuffle carrying ≤|types|² combined rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.expr("user_id IS NOT NULL AND ts IS NOT NULL")  # sequence contract
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    norm = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(norm)
        ).alias("p_transition"),
    ).orderBy("from_type", "to_type")


#: Session-path mining: cap the path at the first PATH_MAX_EVENTS events
#: of each session so the path alphabet stays bounded at any scale.
PATH_MAX_EVENTS = 5
PATH_TOP = 10


@register(
    "ev_session_paths",
    oracle=f"""
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  -- sequence contract: an event with no user or no time has no
  -- position in a per-user event-time order (and NULL ts sorts
  -- FIRST in Spark windows vs LAST in DuckDB)
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
),
ranked AS (
  SELECT user_id, session_no, event_type,
         row_number() OVER (PARTITION BY user_id, session_no
                            ORDER BY ts, event_id) AS rn
  FROM sess
),
paths AS (
  SELECT user_id, session_no,
         array_to_string(list(event_type ORDER BY rn), '>') AS path
  FROM ranked WHERE rn <= {PATH_MAX_EVENTS}
  GROUP BY user_id, session_no
)
SELECT path, COUNT(*) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {PATH_TOP}
""",
    description="session-path mining: sessionize (30-min gap), take each"
    " session's first 5 event types in event-time order, collapse to a"
    " 'view>click>purchase' path string, top-10 paths by frequency —"
    " the clickstream-pattern query behind funnel design",
    tags=("events", "window", "sequence", "session"),
)
def ev_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path assembly is ORDER-INSENSITIVE by construction: events are
    collected as (ts, event_id, event_type) structs, array_sort'ed (the
    struct's lexicographic order IS the session's event-time order, with
    event_id breaking ts ties), then projected to the type sequence — so
    the result is identical no matter what order the shuffle delivers
    rows in, the same discipline every collect_list in this repo
    follows. The {PATH_MAX_EVENTS}-event cap bounds per-session state and
    the path-string alphabet (≤ |types|^{PATH_MAX_EVENTS} keys) at any
    corpus size. Shape: one user-keyed window pass (lag + running sum
    share it), one (user, session) aggregation, one bounded path
    aggregation."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.expr("user_id IS NOT NULL AND ts IS NOT NULL")  # sequence contract
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new_session = F.when(
        us - F.lag(us).over(w) > SESSION_GAP_US, F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
    )
    paths = (
        sess.withColumn("rn", rn)
        .filter(F.col("rn") <= PATH_MAX_EVENTS)
        .groupBy("user_id", "session_no")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(ts, event_id, event_type))), sp_e -> sp_e.event_type),"
                " '>')"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP)
    )


#: Recursive reachability: keep only transition edges seen at least
#: this often (sparsifies the |types|² graph so hop depths are
#: non-trivial: at sf0.01, 'view' reaches signup/click at 1 hop and
#: purchase/error only at 2).
REACH_MIN_TRANSITIONS = 400
REACH_START = "view"
REACH_MAX_HOPS = 4

_REACH_EDGES_SQL = f"""
SELECT from_type, to_type FROM (
  SELECT from_type, to_type, COUNT(*) AS n FROM (
    -- ts IS NOT NULL: an undated event sits FIRST in Spark's lead
    -- order and LAST in DuckDB's, so the engines would count
    -- DIFFERENT transition edges (hidden today only by the >= {REACH_MIN_TRANSITIONS}
    -- threshold) — sequence contract, r14
    SELECT event_type AS from_type,
           lead(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS to_type
    FROM {{src}} WHERE ts IS NOT NULL
  ) WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
) WHERE n >= {REACH_MIN_TRANSITIONS}
"""

_REACH_RECURSE_SQL = f"""
WITH RECURSIVE reach(event_type, hops) AS (
  SELECT '{REACH_START}', 0
  UNION ALL
  SELECT e.to_type, r.hops + 1
  FROM reach r JOIN {{edges}} e ON e.from_type = r.event_type
  WHERE r.hops < {REACH_MAX_HOPS}
)
SELECT event_type, CAST(MIN(hops) AS BIGINT) AS min_hops
FROM reach
GROUP BY event_type
ORDER BY min_hops, event_type
"""


@register(
    "sql_recursive_reach",
    # DuckDB allows non-recursive CTEs inside WITH RECURSIVE, so the
    # oracle prepends the edge derivation and reuses the IDENTICAL
    # recursion text.
    oracle=f"WITH RECURSIVE edges AS ({_REACH_EDGES_SQL.format(src='events')})"
    + _REACH_RECURSE_SQL.format(edges="edges").replace(
        "WITH RECURSIVE reach", ", reach"
    ),
    description="recursive-CTE reachability (Spark 4 WITH RECURSIVE):"
    " min-hop distance from 'view' over the frequent-transition graph"
    " (edges with >=400 observations) — iterative graph traversal"
    " expressed declaratively, identical recursion SQL both engines",
    tags=("events", "sql", "recursive", "graph"),
)
def sql_recursive_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recursion SQL is IDENTICAL on both engines; the edge
    derivation is materialized FIRST (a single-partition
    localCheckpoint'd DataFrame) because a recursive member re-evaluates
    every CTE it references per iteration — inlined, each of the
    {REACH_MAX_HOPS} steps re-ran the lead window over the whole events
    table (4.2 s at sf0.1; ~1.5 s materialized, and what remains is the
    loop executor's fixed per-iteration job-scheduling cost, independent
    of corpus size). That split is also the right scale design: derive
    the small graph from big data once, then traverse. The recursion's
    working set is one row per (reachable type, path) with depth capped
    at {REACH_MAX_HOPS}. For unbounded graphs at 100 TB use the
    star-contraction operator instead (O(log n) rounds, each a bounded
    shuffle)."""
    edges = sql(
        spark,
        _REACH_EDGES_SQL.format(src="events"),
        events=load_table(spark, sf_dir, "events"),
    )
    return sql(
        spark,
        _REACH_RECURSE_SQL.format(edges="edges"),
        edges=edges.coalesce(1).localCheckpoint(eager=True),
    )


#: Conditional-aggregate pack threshold.
COND_HIGH = 90.0


@register(
    "agg_conditional_argmax",
    oracle=f"""
WITH cond AS (
  SELECT event_type,
         COUNT(*) AS n_events,
         CAST(count_if(value > {COND_HIGH}) AS BIGINT) AS n_high,
         bool_or(value > {COND_HIGH}) AS any_high,
         bool_and(value > 0) AS all_positive
  FROM events GROUP BY event_type
),
ranked AS (
  -- coalesce to ±infinity: a NULL value is never an arg-extreme
  -- candidate (Spark's struct comparator ranks NULL first, DuckDB's
  -- window NULLS LAST — without the pin the engines pick different
  -- users the moment a value is NULL)
  SELECT event_type, user_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY coalesce(value, CAST('-infinity'
                              AS DOUBLE)) DESC, event_id DESC) AS rmax,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY coalesce(value, CAST('infinity'
                              AS DOUBLE)) ASC, event_id ASC) AS rmin
  FROM events
)
SELECT c.event_type, c.n_events, c.n_high, c.any_high, c.all_positive,
       mx.user_id AS top_value_user, mn.user_id AS bottom_value_user
FROM cond c
-- IS NOT DISTINCT FROM: USING(event_type) would drop the NULL-typed
-- group that the Spark side's single groupBy naturally keeps
JOIN (SELECT event_type, user_id FROM ranked WHERE rmax = 1) mx
  ON mx.event_type IS NOT DISTINCT FROM c.event_type
JOIN (SELECT event_type, user_id FROM ranked WHERE rmin = 1) mn
  ON mn.event_type IS NOT DISTINCT FROM c.event_type
ORDER BY c.event_type
""",
    description="conditional/argmax aggregate pack: count_if, bool_or,"
    " bool_and, and max_by/min_by with a total (value, event_id)"
    " ordering key — single-pass map-side-combinable aggregates that"
    " replace the rank-window-then-filter idiom for argmax",
    tags=("events", "agg", "conditional"),
)
def agg_conditional_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by take struct(value, event_id) as their ordering key
    — event_id makes the key TOTAL, so a duplicated max value cannot
    produce engine-dependent winners (the same discipline as every
    rank tie-break here; the oracle realizes the identical ordering as
    rank-1 windows). Unlike the window idiom, max_by partial-aggregates:
    one combined (event_type) row per map task crosses the wire instead
    of a per-group sort — the argmax shape that scales. count_if/
    bool_or/bool_and fold into the same single aggregation pass."""
    ev = load_table(spark, sf_dir, "events")
    # NULL values are pinned to the losing end of each key: Spark's
    # struct comparator would rank (NULL, id) FIRST (making a NULL-value
    # row the min_by winner) while DuckDB's windows put NULLs last —
    # ±infinity gives both engines the same never-wins semantics
    key_max = F.struct(
        F.expr("coalesce(value, CAST('-infinity' AS DOUBLE))").alias("v"),
        F.col("event_id").alias("event_id"),
    )
    key_min = F.struct(
        F.expr("coalesce(value, CAST('infinity' AS DOUBLE))").alias("v"),
        F.col("event_id").alias("event_id"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(f"count_if(value > {COND_HIGH})").alias("n_high"),
            F.expr(f"bool_or(value > {COND_HIGH})").alias("any_high"),
            F.expr("bool_and(value > 0)").alias("all_positive"),
            F.max_by("user_id", key_max).alias("top_value_user"),
            F.min_by("user_id", key_min).alias("bottom_value_user"),
        )
        .orderBy("event_type")
    )


#: CEP pattern: the strict-ADJACENT view→click→purchase sequence (no
#: intervening event), with a completion deadline.
CEP_DEADLINE_US = 24 * 3600 * 1_000_000


@register(
    "ev_cep_conversion",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2,
         epoch_us(lead(ts, 2) OVER w) - epoch_us(ts) AS span_us
  -- ts IS NOT NULL: a trailing undated purchase under DuckDB's
  -- NULLS LAST would complete a view->click pattern with a NULL
  -- span (counted in n_patterns, absent from n_within_24h) that
  -- Spark's NULLS FIRST never forms (r14, sequence contract)
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
hits AS (
  SELECT user_id, span_us FROM seq
  WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
)
SELECT user_id,
       COUNT(*) AS n_patterns,
       CAST(COUNT(CASE WHEN span_us <= {CEP_DEADLINE_US} THEN 1 END)
            AS BIGINT) AS n_within_24h,
       CAST(MIN(span_us) // 1000000 AS BIGINT) AS fastest_span_s
FROM hits
GROUP BY user_id
ORDER BY user_id
""",
    description="complex-event-pattern detection: STRICT-adjacent"
    " view->click->purchase runs per user (no intervening event —"
    " stricter than ev_funnel's any-order stage minima) with a 24h"
    " completion deadline — the MATCH_RECOGNIZE-style contiguous"
    " sequence query, composed from lead() offsets",
    tags=("events", "window", "sequence", "cep"),
)
def ev_cep_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length contiguous patterns need no state machine: the
    k-step pattern is a conjunction over lead(·, 0..k-1) on ONE
    user-keyed window (all three leads share the same sort — one
    shuffle, one per-key pass; ev_funnel covers the unordered-stage
    variant, ev_session_paths the whole-sequence census). The deadline
    span is an exact integer epoch difference floor-divided to seconds
    — no float, engine-identical. Variable-length patterns (A then
    eventually B with conditions) escalate to
    applyInPandasWithState/transformWithState, already registered in
    the streaming pack."""
    # sequence contract (r14): mirror of the oracle's ts gate
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        (
            F.unix_micros(F.lead("ts", 2).over(w)) - F.unix_micros("ts")
        ).alias("span_us"),
    )
    hits = seq.filter(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
    )
    return (
        hits.groupBy("user_id")
        .agg(
            F.count("*").alias("n_patterns"),
            F.count(
                F.when(F.col("span_us") <= CEP_DEADLINE_US, 1)
            ).alias("n_within_24h"),
            (F.floor(F.min("span_us") / 1_000_000))
            .cast("bigint")
            .alias("fastest_span_s"),
        )
        .orderBy("user_id")
    )


@register(
    "ev_hypertable_rollup",
    oracle=f"""
WITH minute AS (
  SELECT date_trunc('minute', ts) AS m, event_type,
         COUNT(*) AS n, {duckdb_dsum('value', 4)} AS v
  FROM events GROUP BY date_trunc('minute', ts), event_type
),
hour AS (
  SELECT date_trunc('hour', m) AS h, event_type,
         CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM minute GROUP BY date_trunc('hour', m), event_type
),
day AS (
  SELECT date_trunc('day', h) AS d, event_type,
         CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM hour GROUP BY date_trunc('day', h), event_type
),
counts AS (
  SELECT (SELECT COUNT(*) FROM minute) AS n_minute_rows,
         (SELECT COUNT(*) FROM hour) AS n_hour_rows
)
SELECT d.d AS day, d.event_type, d.n AS n_events, d.v AS total_value,
       d.v / d.n AS avg_value,
       c.n_minute_rows, c.n_hour_rows
FROM day d CROSS JOIN counts c
ORDER BY day, event_type
""",
    description="hypertable-style continuous-aggregate rollup: minute ->"
    " hour -> day, each level re-aggregated FROM the level below (never"
    " from raw) with decimal-exact composable partials — the"
    " multi-resolution lattice time-series stores maintain; the day"
    " level is hashed against the oracle's identical chain, so a"
    " non-composable partial (an avg carried instead of sum+count)"
    " breaks the hash",
    tags=("events", "window", "rollup", "timeseries"),
)
def ev_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate contract is that partials COMPOSE:
    count and decimal-sum re-aggregate exactly level-to-level, and avg
    is derived (sum/count, one IEEE division) only at read time — carry
    an average through the lattice and day-level numbers drift, which
    the hash would catch. Each level is one keyed partial aggregation
    whose input is the (much smaller) level below: at 100 TB the
    minute level is the only scan of raw events, hour reads ~1/60th of
    that, day ~1/1440th — the entire economics of hypertable rollups,
    and the same shape foreachBatch MERGE maintains incrementally in
    the streaming pack (st_latest_state). The minute/hour row counts
    ride along so the hash also pins the intermediate cardinalities,
    not just the top of the lattice."""
    ev = load_table(spark, sf_dir, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("m"), "event_type"
    ).agg(F.count("*").alias("n"), dsum("value", 4).alias("v"))
    hour = minute.groupBy(
        F.date_trunc("hour", F.col("m")).alias("h"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum(F.col("v").cast("decimal(18,4)")).cast("double").alias("v"),
    )
    day = hour.groupBy(
        F.date_trunc("day", F.col("h")).alias("day"), "event_type"
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum(F.col("v").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_value"),
    )
    counts = minute.agg(F.count("*").alias("n_minute_rows")).crossJoin(
        hour.agg(F.count("*").alias("n_hour_rows"))
    )
    return (
        day.crossJoin(F.broadcast(counts))
        .select(
            "day",
            "event_type",
            "n_events",
            "total_value",
            (F.col("total_value") / F.col("n_events")).alias("avg_value"),
            "n_minute_rows",
            "n_hour_rows",
        )
        .orderBy("day", "event_type")
    )


#: EWMA lookback depth (terms) and dyadic decay alpha = 1/2.
EWMA_LAGS = 8


def _ewma_sql() -> str:
    """ONE SQL text for both engines (parity by construction): hourly
    decimal-exact totals, then an EWMA whose 8 dyadic-weight terms are
    a FIXED-operand-order double expression over lag() columns —
    per-row IEEE math (registry rule 3), no order-dependent float
    aggregate anywhere."""
    lags = ",\n         ".join(
        f"lag(v, {k}) OVER (PARTITION BY event_type ORDER BY h) AS l{k}"
        for k in range(EWMA_LAGS)
    )
    num = " + ".join(
        f"COALESCE(l{k}, CAST(0 AS DOUBLE)) * CAST({0.5 ** (k + 1)!r} AS DOUBLE)"
        for k in range(EWMA_LAGS)
    )
    den = " + ".join(
        f"(CASE WHEN l{k} IS NOT NULL THEN CAST({0.5 ** (k + 1)!r} AS DOUBLE)"
        f" ELSE CAST(0 AS DOUBLE) END)"
        for k in range(EWMA_LAGS)
    )
    return f"""
WITH hourly AS (
  -- ts IS NOT NULL: a NULL hour in the ORDER BY h lag windows is
  -- engine-divergent and DuckDB-thread-nondeterministic (r13)
  SELECT date_trunc('hour', ts) AS h, event_type,
         CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY date_trunc('hour', ts), event_type
),
lagged AS (
  SELECT event_type, h, v,
         {lags}
  FROM hourly
)
SELECT event_type, h AS hour, v AS hourly_value,
       ({num}) / ({den}) AS ewma
FROM lagged
ORDER BY event_type, hour
"""


@register(
    "ev_ewma_value",
    oracle=_ewma_sql(),
    description="exponentially-weighted moving average (alpha=1/2,"
    " 8-term truncation) over per-type hourly value totals — the"
    " time-series smoothing primitive, as one keyed window with"
    " fixed-operand-order dyadic-weight terms (identical IEEE math in"
    " both engines, no order-dependent float aggregate)",
    tags=("events", "window", "timeseries", "ewma"),
)
def ev_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The truncated-EWMA formulation keeps smoothing DISTRIBUTABLE:
    the textbook recursive EWMA (s_t = a·v_t + (1-a)·s_{t-1}) is a
    sequential scan, but with a = 1/2 the weight of the 9th-newest
    point is < 0.2%, so an 8-term window is numerically the same
    smoother and runs as ONE per-type window (one shuffle, lag() reads
    no state beyond the frame). Spark executes the literal oracle text
    — parity by construction — and at 100 TB the window partitions by
    series key exactly like ev_gap_fill/ev_scd2_intervals."""
    return sql(spark, _ewma_sql(), events=load_table(spark, sf_dir, "events"))


#: Two-sided 95% critical value for the two-proportion z-test.
ABTEST_Z_CRIT = 1.96


def _abtest_sql() -> str:
    """ONE SQL text for both engines: md5-parity arm assignment, exact
    per-arm user/conversion counts (conversion = purchase share of a
    user's events > 20% — a metric that actually varies per user; a
    raw any-purchase flag saturates at p = 1 on this corpus), then the
    two-proportion z statistic as fixed-operand-order IEEE double math
    (sqrt is correctly rounded per IEEE 754 — identical in both
    engines), NULL-guarded when the pooled rate degenerates to 0 or 1
    (z is undefined there; the guard is an exact integer test)."""
    arm = (
        "CASE WHEN CAST(conv(substr(md5(concat('arm:', CAST(user_id AS"
        " STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B'"
        " END"
    )
    return f"""
WITH peruser AS (
  SELECT user_id, {{arm}} AS arm,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   * 5 > COUNT(*) THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
  FROM peruser GROUP BY arm
),
w AS (
  SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
         MAX(CASE WHEN arm = 'A' THEN c END) AS conv_a,
         MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
         MAX(CASE WHEN arm = 'B' THEN c END) AS conv_b
  FROM arms
)
SELECT n_a, conv_a, n_b, conv_b,
       CAST(conv_a AS DOUBLE) / n_a AS p_a,
       CAST(conv_b AS DOUBLE) / n_b AS p_b,
       CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
            THEN NULL ELSE
       (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         / sqrt(
             (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
             * (CAST(1 AS DOUBLE)
                - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
             * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)
           ) END AS z_score,
       CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
            THEN NULL ELSE
       abs((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         / sqrt(
             (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
             * (CAST(1 AS DOUBLE)
                - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
             * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)
           )) > {ABTEST_Z_CRIT} END AS significant_95
FROM w
"""


@register(
    "ev_abtest_ztest",
    oracle=_abtest_sql().format(
        arm="CASE WHEN CAST('0x' || substr(md5('arm:' || CAST(user_id AS"
        " VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END"
    ),
    description="two-proportion z-test on purchase conversion between"
    " md5-parity experiment arms — deterministic A/B bucketing, exact"
    " per-arm counts, z statistic and 95% verdict as fixed-order IEEE"
    " math hashed against the oracle's identical formula",
    tags=("events", "abtest", "stats"),
)
def ev_abtest_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis end-to-end in one plan: hash-parity arm
    assignment (the md5 fold every dedup/sampling op uses — i.e. a
    REAL deterministic bucketing function, not rand()), one user-keyed
    partial aggregation for per-user conversion, one 2-row arm
    aggregate, then the pooled two-proportion z statistic. Counts are
    exact integers; the statistic is per-row IEEE math over them
    (sqrt/divide are correctly-rounded IEEE ops, registry rule 3), so
    the full significance verdict sits inside the driver hash. At
    100 TB the only corpus-wide shuffle is the user-keyed aggregation,
    which partial-aggregates map-side."""
    arm = (
        "CASE WHEN CAST(conv(substr(md5(concat('arm:', CAST(user_id AS"
        " STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B'"
        " END"
    )
    text = _abtest_sql().format(arm=arm)
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: CUSUM alarm threshold in per-type stddev units.
CUSUM_K_SIGMA = 3.0


def _cusum_sql() -> str:
    """ONE SQL text for both engines. The CUSUM recursion
    s_t = max(0, s_{t-1} + y_t) is not a window aggregate, but it has
    the exact prefix identity s_t = S_t − min(0, min_{j<=t} S_j) over
    the running sum S — two prefix-window aggregates, both DECIMAL-
    exact, so the distributed form is bit-identical to the sequential
    recursion in both engines."""
    return f"""
WITH hourly AS (
  -- ts IS NOT NULL: a NULL hour in the ORDER BY h prefix windows is
  -- engine-divergent and DuckDB-thread-nondeterministic (r13)
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)))
              AS DECIMAL(18,4)) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
stats AS (
  SELECT event_type, h, v,
         CAST(round(
           CAST(SUM(v) OVER (PARTITION BY event_type) AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY event_type), 4)
           AS DECIMAL(18,4)) AS mu,
         -- one operand widened to DECIMAL(19,4): DECIMAL(18,4)² products
         -- sum in int64 mantissas in DuckDB and can overflow at larger
         -- fixtures; 19+ digits forces the int128 path (same discipline
         -- as agg_pearson_corr)
         CAST(SUM(CAST(v AS DECIMAL(19,4)) * v) OVER (
             PARTITION BY event_type) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY event_type) AS m2,
         CAST(SUM(v) OVER (PARTITION BY event_type) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY event_type) AS m1
  -- finite-valued hours only: a NULL-total hour (all its rows non-finite)
  -- must not enter counts/ranks its value is absent from (support parity)
  FROM hourly WHERE v IS NOT NULL
),
prefix AS (
  SELECT event_type, h, v, mu, m1, m2,
         CAST(SUM(CAST(v - mu AS DECIMAL(18,4))) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DECIMAL(18,4)) AS s_run
  FROM stats
),
cusum AS (
  SELECT event_type, h, m1, m2,
         CAST(s_run - LEAST(CAST(0 AS DECIMAL(18,4)), MIN(s_run) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS DECIMAL(18,4)) AS s_pos,
         sqrt(GREATEST(m2 - m1 * m1, CAST(0 AS DOUBLE))) AS sigma
  FROM prefix
)
SELECT event_type,
       COUNT(*) AS n_hours,
       round(CAST(MAX(s_pos) AS DOUBLE), 4) AS max_cusum,
       COUNT(CASE WHEN CAST(s_pos AS DOUBLE)
                       > {CUSUM_K_SIGMA} * sigma THEN 1 END)
         AS n_alarm_hours,
       MIN(CASE WHEN CAST(s_pos AS DOUBLE)
                     > {CUSUM_K_SIGMA} * sigma THEN h END)
         AS first_alarm_hour
FROM cusum
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "ev_cusum_drift",
    oracle=_cusum_sql(),
    description="CUSUM drift detection over per-type hourly value"
    " totals: the one-sided cumulative-sum statistic computed EXACTLY"
    " via its prefix identity (running sum minus running min — two"
    " decimal prefix windows), alarms where the statistic exceeds"
    " 3 sigma; the change-point monitor that the z-score anomaly pack"
    " can't express (CUSUM accumulates small persistent shifts)",
    tags=("events", "window", "timeseries", "cusum"),
)
def ev_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_anomaly_zscore flags single outlier points; CUSUM catches
    the other failure mode — a small persistent mean shift that never
    trips a per-point threshold but accumulates. The textbook form is
    a sequential recursion; the prefix identity
    s_t = S_t − min(0, min_{j≤t} S_j) turns it into two keyed
    prefix-window aggregates over DECIMAL-exact sums, so the whole
    statistic (and the 3σ alarm verdict derived from decimal moments)
    sits inside the driver hash with zero order-dependent float math.
    One shuffle on event_type serves every window; at 100 TB the
    series key partitions exactly like ev_ewma_value/ev_gap_fill."""
    return sql(spark, _cusum_sql(), events=load_table(spark, sf_dir, "events"))


def _trend_sql() -> str:
    """ONE SQL text for both engines: per-type hourly totals, integer
    hour offsets from each series' start, decimal-exact regression
    moments, closed-form OLS + 3-step forecast (same moment discipline
    as agg_pearson_corr / ta_zipf_fit)."""
    return """
WITH hourly AS (
  -- ts IS NOT NULL: an undated event must not mint an h=NULL "hour"
  -- whose v reaches SUM(v) while epoch_us(NULL) keeps its t out of
  -- SUM(t)/SUM(t*t)/SUM(t*v) — OLS moments on mismatched support
  -- (gap-compression contract, r14: same gate as the r13 five)
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)))
              AS DECIMAL(19,4)) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
idx AS (
  SELECT event_type, v,
         CAST(round(CAST(epoch_us(h) - MIN(epoch_us(h)) OVER (
             PARTITION BY event_type) AS DOUBLE)
           / 3600000000.0, 0) AS BIGINT) AS t
  -- finite-valued hours only: a NULL-total hour (all its rows non-finite)
  -- must not enter counts/ranks its value is absent from (support parity)
  FROM hourly WHERE v IS NOT NULL
),
m AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(t) AS BIGINT) AS sx,
         CAST(SUM(t * t) AS BIGINT) AS sxx,
         CAST(SUM(v) AS DOUBLE) AS sy,
         CAST(SUM(t * v) AS DOUBLE) AS sxy,
         CAST(MAX(t) AS BIGINT) AS tmax
  FROM idx GROUP BY event_type
)
-- NULLIF: a one-hour series (e.g. the NULL-type/NULL-ts dirty group)
-- has zero t-variance; both engines must yield NULL, not throw
SELECT event_type, n,
       round((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 9) AS slope,
       round((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx) / n, 9)
         AS intercept,
       round((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx) / n
             + (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * (tmax + 1), 6)
         AS fc_1h,
       round((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx) / n
             + (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * (tmax + 3), 6)
         AS fc_3h
FROM m
ORDER BY event_type
"""


@register(
    "ev_trend_forecast",
    oracle=_trend_sql(),
    description="per-type linear trend forecast: OLS of hourly value"
    " totals on integer hour offsets via decimal/bigint-exact moment"
    " sums, closed-form slope/intercept and +1h/+3h extrapolations —"
    " the capacity-planning forecast primitive, engine-exact",
    tags=("events", "timeseries", "regression", "forecast"),
)
def ev_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting as distributed regression: hour offsets are exact
    integers (epoch-microsecond difference / 3600e6 — hours are exact
    multiples, the round(...) is belt-and-braces for the double
    division), so Σt/Σt² are exact BIGINT partials and Σv/Σtv exact
    decimal partials; the OLS closed forms and the two extrapolations
    evaluate once per series as fixed-operand-order IEEE math. Same
    moment discipline as agg_pearson_corr, pointed at the time axis.
    One bounded-key shuffle per aggregation level; the only window is
    the per-series MIN for the offset origin."""
    text = _trend_sql()
    # Spark's epoch microseconds function is unix_micros; DuckDB's is
    # epoch_us — the ONLY token that differs between the two texts.
    text = text.replace("epoch_us(", "unix_micros(")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Attribution lookback window (microseconds) — 24 h.
ATTR_WINDOW_US = 24 * 3600 * 1_000_000


def _attrib_sql(dialect: str = "duckdb") -> str:
    """IGNORE NULLS sits INSIDE the call in DuckDB and OUTSIDE it in
    Spark — the one non-shared token besides epoch_us/unix_micros."""
    inn = "IGNORE NULLS" if dialect == "duckdb" else ""
    out = "" if dialect == "duckdb" else "IGNORE NULLS"
    return f"""
WITH seq AS (
  SELECT user_id, event_type, ts, value,
         last_value(CASE WHEN event_type = 'click' THEN ts END
                    {inn}) {out} OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_ts
  FROM events
),
attributed AS (
  SELECT date_trunc('hour', last_click_ts) AS click_hour, value
  FROM seq
  WHERE event_type = 'purchase'
    AND last_click_ts IS NOT NULL
    AND epoch_us(ts) - epoch_us(last_click_ts) <= {ATTR_WINDOW_US}
)
SELECT click_hour,
       COUNT(*) AS n_purchases,
       CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4))) AS DOUBLE)
         AS attributed_value
FROM attributed
GROUP BY click_hour
ORDER BY click_hour
"""


@register(
    "ev_attribution_last_touch",
    oracle=_attrib_sql(),
    description="last-touch attribution: each purchase's value is"
    " credited to the hour of the user's most recent prior click"
    " within a 24h lookback — one user-keyed IGNORE-NULLS carry"
    " window (no purchases x clicks self-join), decimal-exact"
    " hourly credit totals",
    tags=("events", "window", "attribution"),
)
def ev_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attribution join everyone writes as purchases ⋈ clicks with
    a BETWEEN predicate — a range join that explodes on hot users —
    expressed instead as ONE ordered carry: last_value(click ts,
    ignore nulls) over the user's history up to the row BEFORE the
    purchase (strictly-prior contact; the 1-PRECEDING frame bound is
    the strictness). O(1) state per row, one user-keyed shuffle, and
    the 24h deadline is an exact integer micros difference. Same
    carry-forward machinery as ev_gap_fill/tj_asof_last_order, pointed
    at the marketing-attribution shape."""
    text = _attrib_sql("spark").replace("epoch_us(", "unix_micros(")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: PIT feature window (microseconds) — 24 h, strictly before the label.
PIT_WINDOW_US = 24 * 3600 * 1_000_000


def _pit_sql() -> str:
    """ONE SQL text for both engines (epoch token swapped): trailing
    RANGE frame ending 1 microsecond BEFORE the label row — the
    no-leakage contract of point-in-time feature joins."""
    return f"""
WITH feat AS (
  SELECT event_id, user_id, ts, event_type, value,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) OVER pit
           AS views_24h,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER pit
           AS clicks_24h,
         CAST(COALESCE(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)))
                       OVER pit, 0) AS DOUBLE) AS value_24h,
         COUNT(*) OVER pit AS events_24h
  FROM events
  WINDOW pit AS (
    PARTITION BY user_id ORDER BY epoch_us(ts)
    RANGE BETWEEN {PIT_WINDOW_US} PRECEDING AND 1 PRECEDING
  )
)
SELECT event_id, user_id, ts,
       views_24h, clicks_24h, value_24h, events_24h,
       CAST(round(value, 4) AS DOUBLE) AS label_value
FROM feat
WHERE event_type = 'purchase' AND event_id % 20 = 0
ORDER BY event_id
"""


@register(
    "ev_pit_features",
    oracle=_pit_sql(),
    description="point-in-time-correct training features: per purchase"
    " label, trailing-24h behavioral aggregates from a RANGE frame that"
    " ends 1 microsecond BEFORE the label row — the feature-store"
    " no-leakage join, as one user-keyed window (sampled post-window)",
    tags=("events", "window", "features", "training"),
)
def ev_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-set assembly step feature stores exist for: every
    label row gets features computed ONLY from strictly-earlier data.
    The 1-PRECEDING upper bound on the value-based RANGE frame is the
    leakage guard — same-microsecond peers (and the label itself) are
    excluded BY VALUE, so the result is deterministic with no row
    tie-break and auditable by construction (a frame ending at CURRENT
    ROW would leak the label's own value into value_24h). One
    user-keyed shuffle serves all four feature aggregates; at 100 TB
    this replaces the per-feature correlated subqueries a naive
    training-set builder runs, and the same frame maintains online in
    the streaming pack's stateful shapes."""
    text = _pit_sql().replace("epoch_us(", "unix_micros(")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


def _km_sql() -> str:
    """Kaplan-Meier per first-view-month cohort (ONE SQL text; epoch
    token swapped per engine). Product-limit via exp(Σ rounded ln
    terms) — the cumulative product as a prefix sum under the
    rounded-log parity discipline; a time where d = n (everyone left
    dies) zeroes the curve from there on via the dead-flag counter."""
    return """
WITH t0s AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0
  FROM events GROUP BY user_id
),
obs_end AS (SELECT MAX(ts) AS tmax FROM events),
subj AS (
  SELECT s.user_id,
         date_trunc('month', s.t0) AS cohort,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= s.t0
                  THEN e.ts END) AS tp,
         s.t0
  FROM t0s s JOIN events e ON e.user_id = s.user_id
  WHERE s.t0 IS NOT NULL
  GROUP BY s.user_id, s.t0
),
durs AS (
  SELECT cohort,
         CAST((epoch_us(COALESCE(tp, o.tmax)) - epoch_us(t0)) // 3600000000
              AS BIGINT) AS dur_h,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM subj CROSS JOIN obs_end o
),
times AS (
  SELECT cohort, dur_h,
         CAST(SUM(ev) AS BIGINT) AS d,
         CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
  FROM durs GROUP BY cohort, dur_h
),
risk AS (
  SELECT cohort, dur_h, d, c,
         CAST(SUM(d + c) OVER (PARTITION BY cohort) AS BIGINT)
           - CAST(COALESCE(SUM(d + c) OVER (
               PARTITION BY cohort ORDER BY dur_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n_at_risk
  FROM times
),
terms AS (
  SELECT cohort, dur_h, d, c, n_at_risk,
         CASE WHEN d = 0 THEN CAST(0 AS DECIMAL(18,8))
              WHEN d = n_at_risk THEN CAST(0 AS DECIMAL(18,8))
              ELSE CAST(round(ln(CAST(n_at_risk - d AS DOUBLE)
                                 / n_at_risk), 8) AS DECIMAL(18,8))
         END AS lterm,
         CASE WHEN d = n_at_risk THEN 1 ELSE 0 END AS dead
  FROM risk
),
curve AS (
  SELECT cohort, dur_h, d, c, n_at_risk,
         CAST(SUM(lterm) OVER (PARTITION BY cohort ORDER BY dur_h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DECIMAL(18,8)) AS cuml,
         CAST(SUM(dead) OVER (PARTITION BY cohort ORDER BY dur_h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS n_dead_times
  FROM terms
)
SELECT cohort, dur_h, n_at_risk, d AS n_events, c AS n_censored,
       CASE WHEN n_dead_times > 0 THEN CAST(0 AS DOUBLE)
            ELSE round(exp(CAST(cuml AS DOUBLE)), 6) END AS survival
FROM curve
WHERE d > 0 OR c > 0
ORDER BY cohort, dur_h
"""


@register(
    "ev_survival_km",
    oracle=_km_sql(),
    description="Kaplan-Meier survival curves per first-view-month"
    " cohort: time from first view to first purchase with censoring at"
    " observation end — the product-limit estimator as a prefix sum of"
    " rounded-ln terms (cumulative product under the log-parity"
    " discipline), risk sets from exact prefix counts",
    tags=("events", "survival", "stats", "window"),
)
def ev_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis distributes cleanly once the product-limit
    Π(1 − d_i/n_i) becomes exp(Σ ln(...)): the sum is a cohort-keyed
    prefix window over DECIMAL-exact rounded-8 log terms (same
    transcendental discipline as ta_unigram_logprob/ta_kl_source_drift
    — the log never rides a float aggregate), the risk set n_i is an
    exact suffix count from two prefix aggregates, and censored
    subjects (no purchase by observation end) leave the risk set
    without an event term — the estimator's whole point. A time where
    d = n zeroes the curve onward via the dead-time counter (ln(0)
    never evaluates — the CASE guards it). Stratifying by first-view
    cohort keeps every window keyed (no global window) and is what a
    real retention analysis does anyway. Durations bucket to hours so
    the curve table is subjects-bounded per cohort."""
    text = _km_sql().replace("epoch_us(", "unix_micros(")
    text = text.replace("// 3600000000", "DIV 3600000000")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


def _ks_sql() -> str:
    """Two-sample KS per event type between md5-parity user arms:
    D = max over observed values of |F_A − F_B|, from exact prefix
    counts over the merged per-type value sequence."""
    arm_spark = (
        "CASE WHEN CAST(conv(substr(md5(concat('arm:', CAST(user_id AS"
        " STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B'"
        " END"
    )
    return f"""
WITH tagged AS (
  -- value IS NOT NULL: a row with no value has no place in a value
  -- CDF (and NULL v sorts FIRST in Spark's cume window, LAST in
  -- DuckDB's, skewing every prefix count differently per engine)
  SELECT event_type, {{arm}} AS arm, round(value, 4) AS v
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM tagged GROUP BY event_type
),
steps AS (
  SELECT event_type, v,
         CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS da,
         CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS db
  FROM tagged GROUP BY event_type, v
),
cdf AS (
  SELECT event_type, v,
         CAST(SUM(da) OVER (PARTITION BY event_type ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS ca,
         CAST(SUM(db) OVER (PARTITION BY event_type ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cb
  FROM steps
),
d AS (
  SELECT c.event_type,
         MAX(ABS(CAST(c.ca AS DOUBLE) / k.n_a
                 - CAST(c.cb AS DOUBLE) / k.n_b)) AS ks_d,
         MAX(k.n_a) AS n_a, MAX(k.n_b) AS n_b
  FROM cdf c JOIN counts k ON c.event_type = k.event_type
  GROUP BY c.event_type
)
SELECT event_type, n_a, n_b,
       round(ks_d, 6) AS ks_d,
       -- n_a cast to DOUBLE BEFORE the multiply: a BIGINT n_a * n_b
       -- overflows int64 when per-arm counts exceed ~3e9 rows (the
       -- 100 TB regime this targets)
       ks_d > 1.36 * sqrt(CAST(n_a + n_b AS DOUBLE)
                          / (CAST(n_a AS DOUBLE) * n_b))
         AS reject_95
FROM d
ORDER BY event_type
"""


@register(
    "ev_ks_test",
    oracle=_ks_sql().format(
        arm="CASE WHEN CAST('0x' || substr(md5('arm:' || CAST(user_id AS"
        " VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END"
    ),
    description="two-sample Kolmogorov-Smirnov test per event type"
    " between md5-parity experiment arms: D = max |F_A - F_B| from"
    " exact prefix counts over the merged value sequence, with the"
    " 95% critical-value verdict — the distribution-level A/B"
    " comparison the mean-level z-test can't see",
    tags=("events", "abtest", "stats", "ks"),
)
def ev_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_abtest_ztest compares arm MEANS; KS compares the whole
    distributions — it catches a treatment that shifts variance or
    shape while leaving the mean alone. The empirical CDFs never
    materialize per row: the per-type value sequence aggregates to one
    row per distinct (type, value) with per-arm step counts, a
    type-keyed prefix window turns steps into cumulative counts, and D
    is the max of |ca/n_a − cb/n_b| — exact integers until one final
    rounded division per distinct value. Checking D only at observed
    values is exact (the CDF difference is constant between steps).
    One shuffle on event_type serves the step aggregation and the
    prefix window; the asymptotic 1.36·sqrt((n+m)/nm) critical value
    gives the hashed 95% verdict."""
    arm = (
        "CASE WHEN CAST(conv(substr(md5(concat('arm:', CAST(user_id AS"
        " STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B'"
        " END"
    )
    text = _ks_sql().format(arm=arm)
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


_STREAK_SQL = """
WITH days AS (
  -- ts IS NOT NULL: an undated purchase would put a NULL d into the
  -- ORDER BY d row_number below — the r13 engine-divergent /
  -- DuckDB-thread-jittery class, on the DAY axis (r14; the dirty
  -- fixture's undated-purchase row materializes this path)
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
grp AS (
  SELECT user_id, d,
         CAST(d - CAST(row_number() OVER (PARTITION BY user_id
                       ORDER BY d) AS INT) AS DATE) AS anchor
  FROM days
),
streaks AS (
  SELECT user_id, anchor, COUNT(*) AS len,
         MIN(d) AS streak_start
  FROM grp GROUP BY user_id, anchor
),
best AS (
  SELECT user_id, len, streak_start FROM (
    SELECT user_id, len, streak_start,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY len DESC, streak_start) AS rn
    FROM streaks) WHERE rn = 1
)
SELECT CAST(len AS BIGINT) AS streak_days,
       COUNT(*) AS n_users,
       MIN(user_id) AS example_user
FROM best
GROUP BY len
ORDER BY streak_days
"""


@register(
    "ev_purchase_streaks",
    oracle=_STREAK_SQL,
    description="longest consecutive-day purchase streak per user via"
    " the date-minus-row-number gaps-and-islands anchor (distinct"
    " purchase days -> constant anchor within a run), histogrammed"
    " into a streak-length census",
    tags=("events", "window", "streaks"),
)
def ev_purchase_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic gaps-and-islands identity in its date form: within
    a run of CONSECUTIVE days, date − row_number() is constant, so the
    anchor date IS the island key and streak length is a plain count —
    no self-join, no recursive walk. Differs from ev_sessionize's
    gap-threshold islands (time differences) by being calendar-exact:
    two purchases 47h apart on adjacent days still extend the streak.
    Two user-keyed windows (row_number, best-streak rank) on one
    shuffle; the census aggregation is bounded by max streak length.
    Date arithmetic (DATE minus integer) is engine-identical."""
    return sql(spark, _STREAK_SQL, events=load_table(spark, sf_dir, "events"))


#: Robust anomaly threshold: |x - median| > K * MAD * 1.4826.
MAD_K = 3.0
MAD_CONSISTENCY = 1.4826


def _mad_sql() -> str:
    return f"""
WITH hourly AS (
  -- ts IS NOT NULL: an undated event's h=NULL row otherwise enters
  -- n_hours and the per-type median/MAD census as a phantom "hour"
  -- (gap-compression contract, r14: same gate as the r13 five)
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
med AS (
  SELECT event_type, round(quantile_cont(v, 0.5), 6) AS med
  FROM hourly GROUP BY event_type
),
dev AS (
  SELECT h.event_type, h.h, h.v, m.med,
         round(ABS(h.v - m.med), 6) AS adev
  FROM hourly h JOIN med m ON h.event_type = m.event_type
  -- finite-valued hours only (support parity: n_hours must
  -- count the hours the median/MAD census actually judges)
  WHERE h.v IS NOT NULL
),
mad AS (
  SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n_hours,
       MAX(d.med) AS median_value,
       MAX(m.mad) AS mad,
       COUNT(CASE WHEN d.adev > {MAD_K} * m.mad * {MAD_CONSISTENCY}
                  THEN 1 END) AS n_anomalies
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
ORDER BY d.event_type
"""


@register(
    "ev_anomaly_mad",
    oracle=_mad_sql(),
    description="robust (median/MAD) anomaly census per event type:"
    " hours where |v - median| > 3 * MAD * 1.4826 — the outlier"
    " detector that, unlike ev_anomaly_zscore's moments, is not itself"
    " corrupted by the outliers it hunts; exact interpolated medians"
    " rounded-6 for parity",
    tags=("events", "anomaly", "robust", "stats"),
)
def ev_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-score detector's weakness is that extreme points inflate
    the very mean/stddev that judge them; median and MAD have a 50%
    breakdown point, so one wild hour cannot hide itself. Spark's
    exact percentile() and DuckDB's quantile_cont share linear-
    interpolation semantics (the agg_exact_percentiles parity
    precedent); rounding each to 6 before the comparisons keeps the
    census engine-identical. Two bounded-key aggregations over the
    hourly table (itself one keyed partial agg), one small join back —
    the medians are per-type scalars, broadcast-sized at any scale."""
    text = (
        _mad_sql().replace("quantile_cont(v, 0.5)", "percentile(v, 0.5)")
        .replace("quantile_cont(adev, 0.5)", "percentile(adev, 0.5)")
    )
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Autocorrelation lags: adjacent hour and daily seasonality.
ACF_LAGS = (1, 24)


def _acf_sql() -> str:
    moments = ",\n         ".join(
        f"""COUNT(l{k}) AS n{k},
         CAST(SUM(CAST(round(v * l{k}, 4) AS DECIMAL(28,4))) AS DOUBLE)
           AS sxy{k},
         CAST(SUM(CASE WHEN l{k} IS NOT NULL
                       THEN CAST(round(v, 4) AS DECIMAL(18,4)) END)
              AS DOUBLE) AS sx{k},
         CAST(SUM(CASE WHEN l{k} IS NOT NULL
                       THEN CAST(round(l{k}, 4) AS DECIMAL(18,4)) END)
              AS DOUBLE) AS sy{k},
         CAST(SUM(CASE WHEN l{k} IS NOT NULL
                       THEN CAST(round(v * v, 4) AS DECIMAL(28,4)) END)
              AS DOUBLE) AS sxx{k},
         CAST(SUM(CAST(round(l{k} * l{k}, 4) AS DECIMAL(28,4))) AS DOUBLE)
           AS syy{k}"""
        for k in ACF_LAGS
    )
    lag_cols = ",\n         ".join(
        f"lag(v, {k}) OVER (PARTITION BY event_type ORDER BY h) AS l{k}"
        for k in ACF_LAGS
    )
    out_cols = ",\n       ".join(
        f"""n{k} AS n_pairs_{k},
       round((n{k} * sxy{k} - sx{k} * sy{k})
             / sqrt((n{k} * sxx{k} - sx{k} * sx{k})
                    * (n{k} * syy{k} - sy{k} * sy{k})), 6) AS acf_{k}"""
        for k in ACF_LAGS
    )
    return f"""
WITH hourly AS (
  -- ts IS NOT NULL: a NULL hour in the ORDER BY h lag windows is
  -- engine-divergent and DuckDB-thread-nondeterministic (r13)
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
lagged AS (
  SELECT event_type, h, v,
         {lag_cols}
  -- finite-valued hours only: a NULL-total hour (all its rows non-finite)
  -- must not enter counts/ranks its value is absent from (support parity)
  FROM hourly WHERE v IS NOT NULL
),
m AS (
  SELECT event_type,
         {moments}
  FROM lagged GROUP BY event_type
)
SELECT event_type,
       {out_cols}
FROM m
ORDER BY event_type
"""


@register(
    "ev_autocorr",
    oracle=_acf_sql(),
    description="lag-1 and lag-24 autocorrelation of per-type hourly"
    " totals (Pearson over lagged pairs via decimal-exact moments,"
    " wide one-row-per-type output so BOTH lags come from one window"
    " pass and one aggregation) — the seasonality diagnostic: a daily"
    " cycle shows as high lag-24 ACF",
    tags=("events", "timeseries", "stats", "autocorrelation"),
)
def ev_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation as the agg_pearson_corr moment discipline over
    (v_t, v_{t-k}) pairs produced by lag() — no self-join of the
    series with itself (the textbook formulation shifts and joins;
    the window carries the shifted copy for free on the same
    series-keyed sort both lags share). Pair moments are round-4
    DECIMAL partials restricted to rows where the lag exists, so each
    lag's Pearson is computed over exactly its pair set; the closed
    form evaluates once per (type, lag) and rounds to 6 (the moment
    magnitudes sit near the engines' decimal→double ulp boundary).
    Wide output (acf_1, acf_24 as columns) rather than a long-format
    union: a UNION of per-lag branches made Spark inline the whole
    window+aggregate subtree per branch — twice the work for the same
    numbers.
    Lag-24 is the capacity-planning signal: strong daily seasonality
    justifies ev_seasonal per-hour provisioning rather than a flat
    ev_trend_forecast extrapolation."""
    return sql(spark, _acf_sql(), events=load_table(spark, sf_dir, "events"))


_SEASONAL_SQL = """
WITH hourly AS (
  SELECT event_type,
         CAST(extract(hour FROM ts) AS INT) AS hour_of_day,
         CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)) AS v
  FROM events
),
prof AS (
  SELECT event_type, hour_of_day,
         COUNT(*) AS n_events,
         CAST(SUM(v) AS DECIMAL(18,4)) AS total_value
  FROM hourly GROUP BY event_type, hour_of_day
),
tot AS (
  SELECT event_type,
         CAST(SUM(total_value) AS DECIMAL(18,4)) AS day_total
  FROM prof GROUP BY event_type
),
shaped AS (
  SELECT p.event_type, p.hour_of_day, p.n_events,
         CAST(p.total_value AS DOUBLE) AS total_value,
         round(CAST(p.total_value AS DOUBLE)
               / CAST(t.day_total AS DOUBLE), 6) AS value_share,
         row_number() OVER (PARTITION BY p.event_type
                            ORDER BY p.total_value DESC, p.hour_of_day)
           AS peak_rank
  FROM prof p JOIN tot t ON p.event_type = t.event_type
)
SELECT event_type, hour_of_day, n_events, total_value, value_share,
       peak_rank = 1 AS is_peak_hour
FROM shaped
ORDER BY event_type, hour_of_day
"""


@register(
    "ev_seasonal_profile",
    oracle=_SEASONAL_SQL,
    description="hour-of-day seasonal profile per event type: activity"
    " share and the arg-max peak hour over the 24-bucket clock-time"
    " census — the provisioning curve the lag-24 autocorrelation"
    " (ev_autocorr) justifies reading",
    tags=("events", "timeseries", "seasonal"),
)
def ev_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational complement to ev_autocorr: ACF says whether a
    daily cycle exists; this says what SHAPE it has — per-type share
    of value by clock hour plus the deterministic peak-hour flag (rank
    on the exact DECIMAL total with an hour tie-break, so the flag is
    engine-identical even with tied hours). 24×5 bounded keys, one
    partial-agg shuffle, a broadcast-size totals join, one tiny rank
    window. extract(hour) is clock-time bucketing — the right axis for
    provisioning, vs date_trunc's absolute-time buckets everywhere
    else in the pack."""
    return sql(
        spark, _SEASONAL_SQL, events=load_table(spark, sf_dir, "events")
    )


_RFM_SQL = """
WITH obs AS (SELECT MAX(ts) AS tmax FROM events),
rfm AS (
  SELECT e.user_id,
         CAST((epoch_us(o.tmax) - epoch_us(MAX(e.ts))) // 86400000000
              AS BIGINT) AS recency_days,
         COUNT(CASE WHEN e.event_type = 'purchase' THEN 1 END)
           AS frequency,
         CAST(SUM(CASE WHEN e.event_type = 'purchase'
                       THEN CAST(round(CASE WHEN isnan(e.value) OR abs(e.value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE e.value END, 4) AS DECIMAL(18,4)) END)
              AS DOUBLE) AS monetary
  FROM events e CROSS JOIN obs o
  GROUP BY e.user_id, o.tmax
),
scored AS (
  SELECT user_id, recency_days, frequency, monetary,
         ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
         ntile(5) OVER (ORDER BY frequency, user_id) AS f_score
  FROM rfm
)
SELECT r_score, f_score,
       COUNT(*) AS n_users,
       CAST(MIN(user_id) AS BIGINT) AS example_user,
       round(CAST(SUM(CAST(round(monetary, 4) AS DECIMAL(18,4)))
                  AS DOUBLE), 4) AS segment_value
FROM scored
GROUP BY r_score, f_score
ORDER BY r_score, f_score
"""


@register(
    "ev_rfm_segments",
    oracle=_RFM_SQL,
    description="RFM customer segmentation: per-user recency/frequency/"
    "monetary features, quintile scores via deterministic total-ordered"
    " ntile, and the (R,F) segment census with per-segment value — the"
    " lifecycle-marketing segmentation grid",
    tags=("events", "segmentation", "rfm", "window"),
)
def ev_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical customer-value segmentation: one user-keyed
    aggregation computes all three features (recency as exact integer
    days from the corpus max — a control-plane-free broadcast 1-row
    aggregate; frequency and monetary as exact counts/decimal sums),
    then ntile(5) assigns R and F quintiles (no monetary quintile: the
    grid below is (R,F), and a dead m_score window would not only waste
    a global sort — monetary is NULL for never-purchasing users, and
    Spark orders NULLS FIRST ascending vs DuckDB's NULLS LAST, a parity
    trap on an unused column). The ntile windows are
    GLOBAL by nature (a quintile is a rank over the whole user base) —
    but their input is the per-user feature table, one row per user,
    the same bounded-by-users contract as chunks_table's allowlisted
    window; at larger scale the exact ntile swaps for
    approx-percentile bucket edges (agg_percentile_audit registers
    that estimator's contract). The (user_id) tie-breaks make every
    quintile boundary engine-identical. Output is the 5×5 (R,F) grid
    census, bounded regardless of user count."""
    text = _RFM_SQL.replace("epoch_us(", "unix_micros(").replace(
        "// 86400000000", "DIV 86400000000"
    )
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


def _welch_sql() -> str:
    """Welch's unequal-variance t-test per event type between md5-parity
    user arms. Moments are decimal-exact (one operand widened to
    DECIMAL(19,4) in the square sum — the int128 discipline); the
    t statistic and Welch–Satterthwaite df are derived doubles rounded
    once at the end, and the verdict uses the large-sample 1.96
    critical value (n per arm is far past the t→normal regime; no
    t-table dependency)."""
    return """
WITH tagged AS (
  SELECT event_type, {arm} AS arm,
         CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)) AS v
  FROM events
),
m AS (
  -- COUNT(v), not COUNT(*): the finite/NULL gate above nulls v for
  -- NaN/Inf/NULL rows, so n must count exactly the rows s1/s2
  -- aggregate — COUNT(*) diluted the means on dirty data while parity
  -- still held (shared text; r11 advice)
  SELECT event_type, arm,
         COUNT(v) AS n,
         CAST(SUM(v) AS DOUBLE) AS s1,
         CAST(SUM(CAST(v AS DECIMAL(19,4)) * v) AS DOUBLE) AS s2
  FROM tagged GROUP BY event_type, arm
),
wide AS (
  SELECT event_type,
         MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
         MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
         MAX(CASE WHEN arm = 'A' THEN s1 END) AS s1_a,
         MAX(CASE WHEN arm = 'B' THEN s1 END) AS s1_b,
         MAX(CASE WHEN arm = 'A' THEN s2 END) AS s2_a,
         MAX(CASE WHEN arm = 'B' THEN s2 END) AS s2_b
  FROM m GROUP BY event_type
),
-- NULLIF guards: a degenerate group (single-row arm, or an arm with
-- zero variance) must yield NULL stats on BOTH engines — DuckDB NULLs
-- division by zero, Spark under ANSI throws without them
stats AS (
  SELECT event_type, n_a, n_b,
         s1_a / n_a AS m_a,
         s1_b / n_b AS m_b,
         (s2_a - s1_a * s1_a / n_a) / NULLIF(n_a - 1, 0) AS var_a,
         (s2_b - s1_b * s1_b / n_b) / NULLIF(n_b - 1, 0) AS var_b
  FROM wide
),
welch AS (
  SELECT event_type, n_a, n_b,
         (m_a - m_b) / NULLIF(sqrt(var_a / n_a + var_b / n_b), 0)
           AS t_stat,
         (var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
           / NULLIF((var_a / n_a) * (var_a / n_a) / NULLIF(n_a - 1, 0)
              + (var_b / n_b) * (var_b / n_b) / NULLIF(n_b - 1, 0), 0)
           AS df,
         m_a - m_b AS mean_diff
  FROM stats
)
SELECT event_type, n_a, n_b,
       round(mean_diff, 6) AS mean_diff,
       round(t_stat, 4) AS t_stat,
       round(df, 2) AS df_welch,
       -- COALESCE: an undecidable verdict (degenerate group -> NULL t)
       -- is 'no rejection'; also a rendering guard - a NULL boolean
       -- reaches pandas as None (Spark) vs NaN (DuckDB)
       COALESCE(abs(t_stat) > 1.96, FALSE) AS reject_95
FROM welch
ORDER BY event_type
"""


@register(
    "ev_welch_ttest",
    oracle=_welch_sql().format(
        arm="CASE WHEN CAST('0x' || substr(md5('arm:' || CAST(user_id AS"
        " VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END"
    ),
    description="Welch's unequal-variance t-test per event type between"
    " md5-parity experiment arms: decimal-exact moments, the"
    " Welch-Satterthwaite df, and the 95% verdict — the MEAN-level"
    " companion to the proportion z-test and the distribution-level KS",
    tags=("events", "abtest", "stats", "ttest"),
)
def ev_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_abtest_ztest compares proportions and ev_ks_test whole
    distributions; the workhorse experiment readout is a difference of
    MEANS under unequal variances — Welch's t. Everything before the
    final expressions is exact: counts and decimal sums partial-
    aggregate map-side (one shuffle on (event_type, arm), pivoted to
    one row per type), variances come from the moment identity over
    those exact sums, and t/df are single derived doubles rounded
    once. The 1.96 verdict is the large-sample limit — at fixture and
    at 100 TB arm sizes, t's distribution is indistinguishable from
    normal, which keeps the critical value a constant instead of a
    df-indexed table lookup."""
    arm = (
        "CASE WHEN CAST(conv(substr(md5(concat('arm:', CAST(user_id AS"
        " STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B'"
        " END"
    )
    text = _welch_sql().format(arm=arm)
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


def _mi_sql() -> str:
    """MI and chi-square between event_type and hour-of-day from one
    exact contingency table. Each cell's ln ratio is rounded-8 then
    decimal-weighted by the exact cell count (transcendental-rounding
    discipline); marginal products cast to DOUBLE before multiplying
    (BIGINT n_x*n_y overflows at ~3e9-row margins)."""
    return """
WITH cells AS (
  SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr,
         COUNT(*) AS n_xy
  FROM events GROUP BY event_type, CAST(extract(hour FROM ts) AS BIGINT)
),
mx AS (SELECT event_type, CAST(SUM(n_xy) AS BIGINT) AS n_x
       FROM cells GROUP BY event_type),
my AS (SELECT hr, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY hr),
tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells),
terms AS (
  SELECT c.n_xy,
         CAST(round(ln((CAST(t.n AS DOUBLE) * c.n_xy)
                       / (CAST(x.n_x AS DOUBLE) * y.n_y)), 8)
              AS DECIMAL(19,8)) AS lr,
         CAST(round(
           (c.n_xy - CAST(x.n_x AS DOUBLE) * y.n_y / t.n)
           * (c.n_xy - CAST(x.n_x AS DOUBLE) * y.n_y / t.n)
           / (CAST(x.n_x AS DOUBLE) * y.n_y / t.n), 6)
              AS DECIMAL(18,6)) AS chi_term
  FROM cells c
  JOIN mx x ON x.event_type = c.event_type
  JOIN my y ON y.hr = c.hr
  CROSS JOIN tot t
),
counts AS (
  SELECT (SELECT COUNT(*) FROM mx) AS n_types,
         (SELECT COUNT(*) FROM my) AS n_hours
)
SELECT t.n AS n_events,
       c.n_types, c.n_hours,
       (c.n_types - 1) * (c.n_hours - 1) AS dof,
       round(CAST(SUM(x.lr * x.n_xy) AS DOUBLE) / t.n, 6) AS mi_nats,
       round(CAST(SUM(x.chi_term) AS DOUBLE), 2) AS chi2
FROM terms x CROSS JOIN tot t CROSS JOIN counts c
GROUP BY t.n, c.n_types, c.n_hours
"""


@register(
    "ev_mutual_information",
    oracle=_mi_sql(),
    description="exact mutual information and chi-square between"
    " event_type and hour-of-day from one contingency pass — the"
    " dependence screen (is traffic mix time-of-day dependent?) behind"
    " feature selection and stratification decisions, decimal-exact"
    " cell weights with rounded-ln terms",
    tags=("events", "stats", "mi", "chi2"),
)
def ev_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) over the exact
    (type × hour) contingency table; chi² is the same table against
    independence expecteds. Both reduce to ONE partial-aggregated
    group-by (the cell table — |types|·24 rows) plus broadcast-sized
    marginal joins, so the screen costs a single shuffle at any corpus
    size. Cross-engine: each cell's ln ratio is rounded-8 then
    multiplied by the exact BIGINT cell count inside DECIMAL (19,8 —
    the product of an 8-dp decimal and a count needs the int128
    path), chi² terms are rounded-6 per cell and decimal-summed; dof
    is exact. MI=0 ⇔ independent; paired with chi² the row answers
    'dependent, and is it significant' in one hash."""
    return sql(spark, _mi_sql(), events=load_table(spark, sf_dir, "events"))


_ENTROPY_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
  -- sequence contract: an event with no user or no time has no
  -- position in a per-user event-time order (and NULL ts sorts
  -- FIRST in Spark windows vs LAST in DuckDB)
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
trans AS (
  SELECT event_type AS from_type, next_type, COUNT(*) AS c
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
rowtot AS (
  SELECT from_type, CAST(SUM(c) AS BIGINT) AS n
  FROM trans GROUP BY from_type
),
terms AS (
  SELECT t.from_type, r.n,
         CAST(round(ln(CAST(r.n AS DOUBLE) / t.c), 8)
              AS DECIMAL(19,8)) * t.c AS w
  FROM trans t JOIN rowtot r ON r.from_type = t.from_type
)
SELECT from_type,
       MAX(n) AS n_transitions,
       round(CAST(SUM(w) AS DOUBLE) / MAX(n), 6) AS entropy_nats,
       round(exp(CAST(SUM(w) AS DOUBLE) / MAX(n)), 4) AS perplexity
FROM terms
GROUP BY from_type
ORDER BY from_type
"""


@register(
    "ev_entropy_rate",
    oracle=_ENTROPY_SQL,
    description="Markov transition entropy per source state: H of the"
    " next-event distribution from each event_type (rounded-ln terms"
    " weighted by exact transition counts) with its perplexity — the"
    " predictability readout over the same chain ev_transition_matrix"
    " tabulates",
    tags=("events", "stats", "markov", "entropy"),
)
def ev_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_transition_matrix gives the chain's probabilities; the
    entropy of each row answers the operational question — how
    PREDICTABLE is what follows a given event? (perplexity e^H = the
    effective branching factor: 1 = deterministic funnel step, |types|
    = uniform noise). H = Σ (c/n)·ln(n/c) over the row's exact
    transition counts; each ln is rounded-8 then decimal-weighted by
    the exact count (the transcendental discipline), so the per-state
    entropies hash across engines. Shape: one user-keyed lead window
    (the same shuffle the transition matrix uses) aggregated to a
    |types|² table — constant-size after the first aggregation
    regardless of corpus."""
    return sql(spark, _ENTROPY_SQL, events=load_table(spark, sf_dir, "events"))


#: DiD design: hours of "post" period before the corpus max timestamp.
DID_POST_HOURS = 72


def _did_sql() -> str:
    """Difference-in-differences per event type: md5-parity arms ×
    pre/post periods (post = the last DID_POST_HOURS before the corpus
    max, hour-aligned). Cell moments are decimal-exact; the estimator
    and its large-sample SE are derived doubles rounded once."""
    cut = (
        "(SELECT (epoch_us(date_trunc('hour', MAX(ts)))"
        f" - {DID_POST_HOURS} * 3600000000) AS cut FROM events)"
    )
    return f"""
WITH cutoff AS {cut},
tagged AS (
  SELECT event_type, {{arm}} AS arm,
         CASE WHEN epoch_us(e.ts) >= c.cut THEN 'post' ELSE 'pre' END
           AS period,
         CAST(round(CASE WHEN isnan(e.value) OR abs(e.value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE e.value END, 4) AS DECIMAL(18,4)) AS v
  -- ts IS NOT NULL: an undated event cannot be assigned a pre/post
  -- period (NULL >= cut fell through to 'pre' silently); the
  -- event-time contract drops it, same as st_lambda_cutover's cut
  FROM events e CROSS JOIN cutoff c
  WHERE e.ts IS NOT NULL
),
m AS (
  -- COUNT(v), not COUNT(*): n divides the cell means and variances,
  -- so it must count the rows the finite-gated SUMs actually include
  -- (r12 support-parity rule; same fix as ev_welch_ttest)
  SELECT event_type, arm, period,
         COUNT(v) AS n,
         CAST(SUM(v) AS DOUBLE) AS s1,
         CAST(SUM(CAST(v AS DECIMAL(19,4)) * v) AS DOUBLE) AS s2
  FROM tagged GROUP BY event_type, arm, period
),
cells AS (
  SELECT event_type,
         MAX(CASE WHEN arm = 'A' AND period = 'pre' THEN s1 / n END)
           AS m_a_pre,
         MAX(CASE WHEN arm = 'A' AND period = 'post' THEN s1 / n END)
           AS m_a_post,
         MAX(CASE WHEN arm = 'B' AND period = 'pre' THEN s1 / n END)
           AS m_b_pre,
         MAX(CASE WHEN arm = 'B' AND period = 'post' THEN s1 / n END)
           AS m_b_post,
         MAX(CASE WHEN arm = 'A' AND period = 'pre'
                  THEN (s2 - s1 * s1 / n) / NULLIF(n - 1, 0) / n END) AS vn_a_pre,
         MAX(CASE WHEN arm = 'A' AND period = 'post'
                  THEN (s2 - s1 * s1 / n) / NULLIF(n - 1, 0) / n END) AS vn_a_post,
         MAX(CASE WHEN arm = 'B' AND period = 'pre'
                  THEN (s2 - s1 * s1 / n) / NULLIF(n - 1, 0) / n END) AS vn_b_pre,
         MAX(CASE WHEN arm = 'B' AND period = 'post'
                  THEN (s2 - s1 * s1 / n) / NULLIF(n - 1, 0) / n END) AS vn_b_post,
         CAST(SUM(n) AS BIGINT) AS n_total
  FROM m GROUP BY event_type
),
did AS (
  SELECT event_type, n_total,
         (m_b_post - m_b_pre) - (m_a_post - m_a_pre) AS est,
         sqrt(vn_a_pre + vn_a_post + vn_b_pre + vn_b_post) AS se
  FROM cells
)
SELECT event_type, n_total,
       round(est, 6) AS did_estimate,
       round(se, 6) AS std_error,
       round(est / NULLIF(se, 0), 4) AS z_stat,
       COALESCE(abs(est / NULLIF(se, 0)) > 1.96, FALSE) AS reject_95
FROM did
ORDER BY event_type
"""


@register(
    "ev_did_estimator",
    oracle=_did_sql().format(
        arm="CASE WHEN CAST('0x' || substr(md5('arm:' || CAST(e.user_id AS"
        " VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END"
    ),
    description="difference-in-differences per event type: md5-parity"
    " arms x hour-aligned pre/post periods, the 2x2 cell means from"
    " decimal-exact moments, the DiD estimate with its large-sample SE"
    " and 95% verdict — the quasi-experimental readout when treatment"
    " wasn't randomized at assignment time",
    tags=("events", "abtest", "stats", "did"),
)
def ev_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """When exposure correlates with time (a staged rollout), a naive
    post-period A/B diff confounds treatment with drift; DiD subtracts
    each arm's own pre-period baseline, removing any additive
    arm-level and period-level effects. All four cell moments come
    from ONE (type, arm, period)-keyed partial aggregation — the
    pivot to a 2×2 is a constant-size MAX-CASE fold, the cutoff is a
    1-row scalar subquery in integer epoch micros (no driver
    collect), and the estimate/SE/z are single derived doubles
    rounded once (SE via Var(x̄) sums — the four cells are disjoint
    samples). The md5 arms make the fixture's verdict deterministic;
    in production the arm expression is the rollout flag."""
    arm = (
        "CASE WHEN CAST(conv(substr(md5(concat('arm:', CAST(e.user_id AS"
        " STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B'"
        " END"
    )
    text = _did_sql().format(arm=arm).replace("epoch_us(", "unix_micros(")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Bot heuristics: flag thresholds (events per active minute; coefficient
#: of variation of inter-arrival micros). Production values for these
#: heuristics sit at ~3/min and CV<0.4; the fixture's synthetic traffic
#: is uniformly sparse (median ~0.0016/min, CV ~0.87), so the registered
#: thresholds are set at the fixture's upper-decile rate and median CV —
#: the GRID must be non-degenerate for the hash to pin the flag logic,
#: and the thresholds are config, not algorithm.
BOT_RATE_PER_MIN = 0.0018
BOT_CV_MAX = 0.87


_BOT_SQL = f"""
WITH seq AS (
  -- ts IS NOT NULL: boundary NULL placements cancel (the epoch diff
  -- NULLs out either way), but a mid-sequence placement under
  -- DuckDB's parallel sort would NULL out BOTH adjacent gaps,
  -- silently losing a real inter-arrival (r14, r13 jitter class)
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events WHERE ts IS NOT NULL
),
gaps AS (
  SELECT user_id,
         COUNT(*) AS n_gaps,
         CAST(SUM(gap) AS BIGINT) AS span_us,
         CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS mean_gap,
         CAST(SUM(CAST(gap AS DECIMAL(19,0)) * gap) AS DOUBLE)
           / COUNT(*) AS m2_gap
  FROM seq WHERE gap IS NOT NULL
  GROUP BY user_id
),
feats AS (
  SELECT user_id, n_gaps,
         (n_gaps + 1) * 60000000.0 / span_us AS rate_per_min,
         sqrt(GREATEST(m2_gap - mean_gap * mean_gap, CAST(0 AS DOUBLE)))
           / mean_gap AS cv_gap
  FROM gaps
  WHERE span_us > 0 AND n_gaps >= 5
),
flagged AS (
  SELECT user_id, n_gaps, rate_per_min, cv_gap,
         CASE WHEN rate_per_min > {BOT_RATE_PER_MIN} THEN 1 ELSE 0 END
           AS f_rate,
         CASE WHEN cv_gap < {BOT_CV_MAX} THEN 1 ELSE 0 END AS f_regular
  FROM feats
)
SELECT f_rate, f_regular,
       COUNT(*) AS n_users,
       CAST(MIN(user_id) AS BIGINT) AS example_user,
       round(CAST(SUM(CAST(round(rate_per_min, 6) AS DECIMAL(18,6)))
                  AS DOUBLE) / COUNT(*), 4) AS mean_rate,
       round(CAST(SUM(CAST(round(cv_gap, 6) AS DECIMAL(18,6)))
                  AS DOUBLE) / COUNT(*), 4) AS mean_cv
FROM flagged
GROUP BY f_rate, f_regular
ORDER BY f_rate, f_regular
"""


@register(
    "ev_bot_heuristics",
    oracle=_BOT_SQL,
    description="bot-traffic heuristics: per-user event rate and"
    " inter-arrival regularity (coefficient of variation) from one"
    " lag window, the (rate, regularity) flag grid census with mean"
    " features — the traffic-hygiene filter run before user events"
    " feed training or analytics",
    tags=("events", "quality", "bot", "window"),
)
def ev_bot_heuristics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scripted traffic looks different from humans on two cheap axes:
    VOLUME (events per active minute) and REGULARITY (humans are
    bursty — inter-arrival CV well above a timer loop's near-zero).
    Both derive from one user-keyed lag window: exact integer gap
    micros, decimal-exact first/second moments (the gap product runs
    through DECIMAL(19,0) — int128 in DuckDB, since squared micro
    gaps overflow int64 at day-scale gaps), CV from the moment
    identity. Users with <5 gaps are excluded (CV of 2 points is
    noise, same floor production heuristics use). Output is the 2×2
    flag census — bounded regardless of user count — with rounded-6
    decimal-summed feature means so the grid hashes exactly."""
    text = _BOT_SQL.replace("epoch_us(", "unix_micros(")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


_POWER_SQL = """
WITH vals AS (
  SELECT event_type, CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)) AS v
  FROM events
),
m AS (
  -- COUNT(v), not COUNT(*): n must match the rows the finite-gated
  -- sums aggregate, or dirty rows dilute mu/var (r11 advice, same
  -- class as ev_welch_ttest)
  SELECT event_type,
         COUNT(v) AS n,
         CAST(SUM(v) AS DOUBLE) AS s1,
         CAST(SUM(CAST(v AS DECIMAL(19,4)) * v) AS DOUBLE) AS s2
  FROM vals GROUP BY event_type
),
-- NULLIF guards: a single-event type has no variance, a zero-mean
-- type has no relative MDE — NULL on both engines, never a throw
stats AS (
  SELECT event_type, n,
         s1 / n AS mu,
         (s2 - s1 * s1 / n) / NULLIF(n - 1, 0) AS var
  FROM m
)
SELECT event_type, n AS n_events,
       round(mu, 6) AS mean_value,
       round(sqrt(var), 6) AS stddev,
       round(2.8 * sqrt(2 * var / (CAST(n AS DOUBLE) / 2)), 6)
         AS mde_abs,
       round(2.8 * sqrt(2 * var / (CAST(n AS DOUBLE) / 2))
             / NULLIF(mu, 0), 6) AS mde_rel,
       CAST(CEIL(2 * 2.8 * 2.8 * var
                 / NULLIF(0.01 * mu * 0.01 * mu, 0))
            AS BIGINT) AS n_per_arm_for_1pct
FROM stats
ORDER BY event_type
"""


@register(
    "ev_power_mde",
    oracle=_POWER_SQL,
    description="experiment power planning per event type: minimum"
    " detectable effect at 80% power / 95% confidence for an A/B"
    " split of the current traffic, and the per-arm sample size a 1%"
    " relative lift would need — the pre-experiment readout computed"
    " from the same decimal-exact moments the test family uses",
    tags=("events", "abtest", "stats", "power"),
)
def ev_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The test family (z/t/KS/DiD) reads experiments AFTER the fact;
    the planning question comes first — 'can this metric even detect
    the lift we care about?' MDE = (z_α/2 + z_β)·sqrt(2σ²/n_arm) with
    the standard 1.96+0.84 ≈ 2.8 constant, n_arm = current traffic
    halved; inverting gives the per-arm n a 1% relative lift needs.
    Everything derives from one decimal-exact moment pass per type
    (same int128-widened square sum as ev_welch_ttest) — the
    statistics are single derived doubles rounded once, and CEIL
    (engine-identical on exact doubles) makes the sample size an
    integer both engines agree on. A type whose n_per_arm exceeds
    plausible traffic is a metric you cannot ship an experiment on —
    that is the decision this row feeds."""
    return sql(spark, _POWER_SQL, events=load_table(spark, sf_dir, "events"))


#: Rolling-median window width (hours) and the robust-anomaly factor.
RM_WINDOW_H = 24
RM_DEV_FACTOR = 1.5


def _rolling_median_sql(dialect: str) -> str:
    """Per-type hourly totals with a trailing-24h exact rolling median
    and a robust deviation flag. The median window aggregate is
    ``percentile`` (Spark) / ``quantile_cont`` (DuckDB) — the same
    continuous-interpolation definition — over a ROWS frame of
    bounded width."""
    med = "percentile(v, 0.5)" if dialect == "spark" else "quantile_cont(v, 0.5)"
    return f"""
WITH hourly AS (
  -- ts IS NOT NULL: an undated event has no hour, and a NULL hour
  -- entering the ORDER BY h window is engine-divergent (Spark NULLS
  -- FIRST, DuckDB NULLS LAST) AND nondeterministic in DuckDB's
  -- multithreaded window sort (r13 jitter-sweep finding — the r12
  -- roving dirty-sweep MISMATCH)
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)))
              AS DOUBLE) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
roll AS (
  SELECT event_type, h, v,
         {med} OVER (PARTITION BY event_type ORDER BY h
             ROWS BETWEEN {RM_WINDOW_H - 1} PRECEDING AND CURRENT ROW)
           AS med
  -- finite-valued hours only: a NULL-total hour (all its rows non-finite)
  -- must not enter counts/ranks its value is absent from (support parity)
  FROM hourly WHERE v IS NOT NULL
)
SELECT event_type,
       COUNT(*) AS n_hours,
       COUNT(CASE WHEN v > {RM_DEV_FACTOR} * med THEN 1 END)
         AS n_spikes,
       COUNT(CASE WHEN med > 0 AND v < med / {RM_DEV_FACTOR} THEN 1 END)
         AS n_dips,
       round(CAST(SUM(CAST(round(med, 4) AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*), 4) AS mean_rolling_median
FROM roll
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "ev_rolling_median",
    oracle=_rolling_median_sql("duckdb"),
    description="trailing-24h EXACT rolling median of hourly volume per"
    " event type with spike/dip counts at 1.5x deviation — the robust"
    " smoother that flags what a rolling MEAN absorbs (one outlier"
    " hour drags a mean for a day; the median shrugs it off)",
    tags=("events", "timeseries", "window", "robust"),
)
def ev_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert baselines want a rolling MEDIAN: a single crazy hour
    contaminates a trailing mean for the whole window, while the
    median moves only when half the window moves. The exact median
    rides a bounded ROWS frame (24 values re-ranked per row —
    O(w log w)·n with w constant, NOT the O(n²) shrinking-frame trap;
    at wider windows the substitute is percentile_approx, whose
    contract agg_percentile_audit registers). Spark's percentile and
    DuckDB's quantile_cont share the continuous-interpolation
    definition, and the hashed census rounds the medians before the
    decimal mean, so engines agree bit-for-bit. One (type)-keyed
    shuffle serves the hourly aggregate and the window."""
    text = _rolling_median_sql("spark")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Shared hourly-series CTE: per-type hourly totals as exact decimals,
#: an integer hour index t (1-based, gap-free only if every hour has
#: events — the index is ordinal, which is what the estimators below
#: want), the per-type prefix sums of v and v² and the per-type totals.
#: Squared decimals widen one operand to DECIMAL(19,4) (int128 in
#: DuckDB) per the cross-engine overflow rule.
_HOURLY_SEQ_CTE = """
hourly AS (
  -- ts IS NOT NULL: an undated event has no hour, and a NULL hour
  -- takes ordinal t=1 in Spark's ROW_NUMBER (NULLS FIRST) but t=n in
  -- DuckDB's (NULLS LAST), silently re-pairing (t, v) per engine
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)))
              AS DECIMAL(18,4)) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
seq AS (
  SELECT event_type, h, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(v) OVER (PARTITION BY event_type ORDER BY h
                      ROWS UNBOUNDED PRECEDING) AS sl,
         SUM(CAST(v AS DECIMAL(19,4)) * v)
             OVER (PARTITION BY event_type ORDER BY h
                   ROWS UNBOUNDED PRECEDING) AS ql,
         SUM(v) OVER (PARTITION BY event_type) AS stot,
         SUM(CAST(v AS DECIMAL(19,4)) * v)
             OVER (PARTITION BY event_type) AS qtot
  -- finite-valued hours only: a NULL-total hour (all its rows non-finite)
  -- must not enter counts/ranks its value is absent from (support parity)
  FROM hourly WHERE v IS NOT NULL
)"""

#: Minimum segment length (hours) on each side of a changepoint.
CHANGEPOINT_MIN_SEG = 12

_CHANGEPOINT_SQL = f"""
WITH {_HOURLY_SEQ_CTE},
gains AS (
  SELECT event_type, h, t, n,
         CAST(sl AS DOUBLE) AS sld,
         CAST(stot AS DOUBLE) AS sd,
         CAST(qtot AS DOUBLE) AS qd,
         CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / t
           + (CAST(stot AS DOUBLE) - CAST(sl AS DOUBLE))
             * (CAST(stot AS DOUBLE) - CAST(sl AS DOUBLE)) / (n - t)
           AS gain
  FROM seq
  WHERE t >= {CHANGEPOINT_MIN_SEG} AND t <= n - {CHANGEPOINT_MIN_SEG}
),
best AS (
  SELECT event_type, h, t, n, sld, sd, qd, gain,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY gain DESC, t ASC) AS rnk
  FROM gains
)
SELECT event_type,
       n AS n_hours,
       t AS change_idx,
       h AS change_hour,
       round(sld / t, 6) AS mean_before,
       round((sd - sld) / (n - t), 6) AS mean_after,
       round((gain - sd * sd / n)
             / NULLIF(qd - sd * sd / n, 0), 6) AS var_explained
FROM best
WHERE rnk = 1
ORDER BY event_type
"""


@register(
    "ev_changepoint",
    oracle=_CHANGEPOINT_SQL,
    description="single-changepoint detection (binary-segmentation"
    " step) per event type: the hour split maximizing between-segment"
    " sum-of-squares over the hourly series, with before/after means"
    " and the variance-explained score — the level-shift detector"
    " behind alerting and drift triage",
    tags=("events", "timeseries", "stats", "changepoint", "window"),
)
def ev_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary segmentation's inner step scores EVERY split k by the
    between-segment sum of squares — naively O(n²) re-aggregation, but
    with prefix sums it is one window pass: gain(k) = S_l²/k +
    S_r²/(n−k) (the constant −S²/n deferred to the variance-explained
    ratio). The prefix sums are exact decimals, so gain is a single
    derived double per row — bit-identical cross-engine — and the
    argmax orders by (gain DESC, t ASC), a total order. Splits leaving
    a segment shorter than 12 h are excluded (a 1-hour 'segment' is an
    outlier, not a regime). Everything partitions by event_type: at
    100 TB this is one shuffle of 720 rows per series key, the same
    shape as ev_rolling_median — series length is calendar-bounded,
    not data-bounded."""
    return sql(
        spark, _CHANGEPOINT_SQL, events=load_table(spark, sf_dir, "events")
    )


def _theil_sen_sql(dialect: str, width: int = 32) -> str:
    """Theil-Sen robust slope per type: exact median over all pairwise
    slopes of the hourly series. The pair join is bounded by CALENDAR
    (n = hours in range, so n(n-1)/2 pairs per type regardless of row
    count); slopes are single derived doubles from exact decimals."""
    med = "percentile" if dialect == "spark" else "quantile_cont"
    return f"""
WITH {_HOURLY_SEQ_CTE},
seq_probe AS (
  -- REPARTITION spreads the probe side round-robin so the pair
  -- expansion (only ~5 join keys) parallelizes beyond the key count;
  -- the hint is a comment to DuckDB (2.7x at sf0.1: 4.5s -> 1.7s).
  -- Width is cluster-derived at execution (fanout_width), 32 in the
  -- registered oracle text where it is dead commentary.
  SELECT /*+ REPARTITION({width}) */ event_type, v, t FROM seq
),
pairs AS (
  SELECT a.event_type,
         (CAST(b.v AS DOUBLE) - CAST(a.v AS DOUBLE))
           / (b.t - a.t) AS slope
  FROM seq_probe a JOIN seq b
    ON a.event_type = b.event_type AND a.t < b.t
),
ts_est AS (
  SELECT event_type,
         COUNT(*) AS n_pairs,
         {med}(slope, 0.5) AS ts_slope
  FROM pairs GROUP BY event_type
),
ols AS (
  SELECT event_type,
         MAX(n) AS n_hours,
         CAST(SUM(CAST(t AS DECIMAL(19,4)) * v) AS DOUBLE) AS stv,
         CAST(SUM(v) AS DOUBLE) AS sv,
         CAST(SUM(CAST(t AS BIGINT)) AS DOUBLE) AS st,
         CAST(SUM(CAST(t AS BIGINT) * t) AS DOUBLE) AS stt
  FROM seq GROUP BY event_type
)
SELECT o.event_type,
       o.n_hours,
       e.n_pairs,
       round(e.ts_slope, 6) AS ts_slope,
       round((o.n_hours * o.stv - o.st * o.sv)
             / (o.n_hours * o.stt - o.st * o.st), 6) AS ols_slope,
       round(e.ts_slope - (o.n_hours * o.stv - o.st * o.sv)
             / (o.n_hours * o.stt - o.st * o.st), 6) AS slope_gap
FROM ols o JOIN ts_est e ON o.event_type = e.event_type
ORDER BY o.event_type
"""


@register(
    "ev_theil_sen",
    oracle=_theil_sen_sql("duckdb"),
    description="Theil-Sen robust trend per event type: the exact"
    " median of all pairwise hourly slopes beside the OLS slope and"
    " their gap — the outlier-immune trend estimate (29% breakdown"
    " point vs OLS's zero) used when single crazy hours poison the"
    " least-squares fit",
    tags=("events", "timeseries", "stats", "robust", "join"),
)
def ev_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Theil-Sen estimator is the MEDIAN of the O(n²) pairwise
    slopes — normally disqualifying, but the pairs here are over the
    HOURLY series, so n is calendar-bounded (720 hours in this range
    → ≤259k pairs per type at ANY data scale; a year is 8760 → 38M
    pairs per type, still one modest shuffle). The self-join keys on
    event_type so pairs never cross series; each slope is one derived
    double from exact decimal hour totals, and Spark's percentile ==
    DuckDB's quantile_cont (continuous interpolation) over identical
    doubles. The OLS slope from the same exact moments rides along so
    the output IS the robustness diagnostic: slope_gap far from 0
    means outlier hours are steering the least-squares fit."""
    text = _theil_sen_sql("spark", width=fanout_width(spark))
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Train share of the hourly series for the forecast backtest.
BACKTEST_TRAIN_SHARE = 0.8

_BACKTEST_SQL = f"""
WITH {_HOURLY_SEQ_CTE},
marked AS (
  SELECT event_type, h, t, n, v,
         CAST(FLOOR({BACKTEST_TRAIN_SHARE} * n) AS BIGINT) AS n_train
  FROM seq
),
coef AS (
  SELECT event_type,
         MAX(n_train) AS n_train,
         MAX(n) - MAX(n_train) AS n_test,
         (COUNT(CASE WHEN t <= n_train THEN 1 END)
            * CAST(SUM(CASE WHEN t <= n_train
                       THEN CAST(t AS DECIMAL(19,4)) * v END) AS DOUBLE)
          - CAST(SUM(CASE WHEN t <= n_train THEN CAST(t AS BIGINT) END)
                 AS DOUBLE)
            * CAST(SUM(CASE WHEN t <= n_train THEN v END) AS DOUBLE))
         / (COUNT(CASE WHEN t <= n_train THEN 1 END)
              * CAST(SUM(CASE WHEN t <= n_train
                         THEN CAST(t AS BIGINT) * t END) AS DOUBLE)
            - CAST(SUM(CASE WHEN t <= n_train THEN CAST(t AS BIGINT) END)
                   AS DOUBLE)
              * CAST(SUM(CASE WHEN t <= n_train THEN CAST(t AS BIGINT) END)
                     AS DOUBLE)) AS slope,
         CAST(SUM(CASE WHEN t <= n_train THEN v END) AS DOUBLE)
           / COUNT(CASE WHEN t <= n_train THEN 1 END) AS mean_train,
         CAST(SUM(CASE WHEN t <= n_train THEN CAST(t AS BIGINT) END)
              AS DOUBLE)
           / COUNT(CASE WHEN t <= n_train THEN 1 END) AS mean_t,
         CAST(MAX(CASE WHEN t = n_train THEN v END) AS DOUBLE) AS last_train
  FROM marked GROUP BY event_type
),
scored AS (
  SELECT m.event_type, c.n_train, c.n_test, c.slope,
         c.mean_train - c.slope * c.mean_t AS intercept,
         c.last_train,
         CAST(round(abs(CAST(m.v AS DOUBLE)
              - (c.mean_train - c.slope * c.mean_t + c.slope * m.t)), 6)
              AS DECIMAL(18,6)) AS err_model,
         CAST(round(abs(CAST(m.v AS DOUBLE) - c.last_train), 6)
              AS DECIMAL(18,6)) AS err_naive,
         CAST(round(CASE WHEN CAST(m.v AS DOUBLE) > 0 THEN
              abs(CAST(m.v AS DOUBLE)
                  - (c.mean_train - c.slope * c.mean_t + c.slope * m.t))
              / CAST(m.v AS DOUBLE) END, 6) AS DECIMAL(18,6)) AS ape
  FROM marked m JOIN coef c ON m.event_type = c.event_type
  WHERE m.t > m.n_train
)
SELECT event_type, n_train, n_test,
       round(slope, 6) AS slope,
       round(intercept, 6) AS intercept,
       round(CAST(SUM(err_model) AS DOUBLE) / n_test, 6) AS mae_model,
       round(CAST(SUM(err_naive) AS DOUBLE) / n_test, 6) AS mae_naive,
       round(1 - CAST(SUM(err_model) AS DOUBLE)
               / NULLIF(CAST(SUM(err_naive) AS DOUBLE), 0), 6) AS skill,
       round(CAST(SUM(ape) AS DOUBLE) / NULLIF(COUNT(ape), 0), 6)
         AS mape_model
FROM scored
GROUP BY event_type, n_train, n_test, slope, intercept
ORDER BY event_type
"""


@register(
    "ev_forecast_backtest",
    oracle=_BACKTEST_SQL,
    description="rolling-origin forecast backtest per event type: OLS"
    " trend fit on the first 80% of hours, scored on the held-out 20%"
    " — MAE vs the last-train-value persistence baseline, the skill"
    " score, and MAPE; the evaluation loop that decides whether"
    " ev_trend_forecast's model is better than doing nothing",
    tags=("events", "timeseries", "stats", "forecast", "abtest"),
)
def ev_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A forecast nobody backtests is a guess: this holds out the most
    recent 20% of hours, fits the trend on the rest (closed-form OLS
    from ONE conditional decimal moment pass — the
    agg_ols_sufficient_stats discipline with a t<=n_train mask), and
    scores against PERSISTENCE (carry the last train value forward),
    the baseline any real model must beat. skill > 0 means the trend
    earns its keep; MAPE only averages hours with v > 0 (APE is
    undefined at zero). Per-hour absolute errors are rounded then
    decimal-summed so the test-window aggregate is order-independent.
    One (type)-keyed shuffle for moments + one broadcast-sized join of
    coefficients back to test rows — series length stays
    calendar-bounded at any data volume."""
    return sql(
        spark, _BACKTEST_SQL, events=load_table(spark, sf_dir, "events")
    )


_RATIO_CI_SQL = """
WITH fin AS (
  -- finite-valued events only, gated ONCE at the scan: the ratio
  -- metric's numerator (Σv) and denominator (Σn) must share one row
  -- support, and every delta-method moment must aggregate the same
  -- per-user pairs — a dirty row counted in n but absent from v
  -- skews R and its SE while shared-text parity still holds
  SELECT event_type, user_id,
         CAST(round(value, 4) AS DECIMAL(18,4)) AS fv
  FROM events
  WHERE NOT (value IS NULL OR isnan(value)
             OR abs(value) = CAST('Infinity' AS DOUBLE))
),
peruser AS (
  SELECT event_type, user_id,
         CAST(SUM(fv) AS DECIMAL(18,4)) AS v,
         COUNT(*) AS n
  FROM fin GROUP BY event_type, user_id
),
m AS (
  SELECT event_type,
         COUNT(*) AS u,
         CAST(SUM(n) AS BIGINT) AS n_events,
         CAST(SUM(v) AS DOUBLE) AS sv,
         CAST(SUM(CAST(n AS BIGINT)) AS DOUBLE) AS sn,
         CAST(SUM(CAST(v AS DECIMAL(19,4)) * v) AS DOUBLE) AS svv,
         CAST(SUM(CAST(n AS BIGINT) * n) AS DOUBLE) AS snn,
         CAST(SUM(CAST(n AS DECIMAL(19,4)) * v) AS DOUBLE) AS svn
  FROM peruser GROUP BY event_type
),
iid AS (
  SELECT event_type,
         COUNT(*) AS ne,
         CAST(SUM(fv) AS DOUBLE) AS isv,
         CAST(SUM(CAST(fv AS DECIMAL(19,4)) * fv) AS DOUBLE) AS isvv
  FROM fin GROUP BY event_type
),
est AS (
  SELECT event_type, u, n_events,
         sv / sn AS r,
         (svv - sv * sv / u) / (u - 1) AS var_v,
         (snn - sn * sn / u) / (u - 1) AS var_n,
         (svn - sv * sn / u) / (u - 1) AS cov_vn,
         sn / u AS mean_n
  FROM m
),
se AS (
  SELECT event_type, u, n_events, r,
         sqrt((var_v - 2 * r * cov_vn + r * r * var_n)
              / (u * mean_n * mean_n)) AS se_cluster
  FROM est
)
SELECT se.event_type, se.u AS n_users, se.n_events,
       round(se.r, 6) AS ratio_value_per_event,
       round(se.se_cluster, 6) AS se_cluster,
       round(se.r - 1.96 * se.se_cluster, 6) AS ci_lo,
       round(se.r + 1.96 * se.se_cluster, 6) AS ci_hi,
       round(se.se_cluster
             / NULLIF(sqrt(((i.isvv - i.isv * i.isv / i.ne) / (i.ne - 1))
                           / i.ne), 0), 6) AS design_effect
FROM se JOIN iid i ON i.event_type = se.event_type
ORDER BY se.event_type
"""


@register(
    "ev_ratio_metric_ci",
    oracle=_RATIO_CI_SQL,
    description="delta-method confidence interval for the ratio metric"
    " value-per-event with USER-level clustering: per-type ratio,"
    " cluster-robust SE, 95% CI, and the design effect vs the naive"
    " iid SE — the unit-of-randomization correction every"
    " per-user-randomized experiment needs before reading a"
    " per-event metric",
    tags=("events", "abtest", "stats", "ratio"),
)
def ev_ratio_metric_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomize by USER, measure per EVENT, and the iid SE is a lie:
    events within a user correlate, so the ratio metric R = Σv/Σn
    needs the delta method over per-user cluster totals —
    Var(R) ≈ (σ²_v − 2R·σ_vn + R²·σ²_n) / (U·n̄²) (Deng et al.,
    KDD'17's ratio-metric form). Everything comes from one per-user
    aggregation + one per-type moment pass, decimal-exact sums with
    the int128-widened products, statistics as single derived
    doubles. design_effect = SE_cluster / SE_iid — the factor by
    which naive per-event analysis overstates precision, from a
    per-type iid moment pass joined back (broadcast-sized). At 100 TB
    every aggregation shuffles on bounded keys (type×user, then
    type)."""
    return sql(
        spark, _RATIO_CI_SQL, events=load_table(spark, sf_dir, "events")
    )


def _funnel_time_sql(dialect: str) -> str:
    """Time-to-convert quantiles between funnel stages. Per user: the
    FIRST timestamp of each stage; a conversion is a later first-next
    after first-prev. Deltas are exact integer microseconds cast to
    minutes once; quantiles via percentile / quantile_cont."""
    pct = "percentile" if dialect == "spark" else "quantile_cont"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN {us}(ts) END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN {us}(ts) END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN {us}(ts) END)
           AS t_purchase
  FROM events GROUP BY user_id
),
deltas AS (
  SELECT '0_view_to_click' AS step_pair,
         CAST(t_click - t_view AS DOUBLE) / 60000000.0 AS mins
  FROM firsts WHERE t_view IS NOT NULL AND t_click > t_view
  UNION ALL
  SELECT '1_click_to_purchase',
         CAST(t_purchase - t_click AS DOUBLE) / 60000000.0
  FROM firsts WHERE t_click IS NOT NULL AND t_purchase > t_click
  UNION ALL
  SELECT '2_view_to_purchase',
         CAST(t_purchase - t_view AS DOUBLE) / 60000000.0
  FROM firsts WHERE t_view IS NOT NULL AND t_purchase > t_view
)
SELECT step_pair,
       COUNT(*) AS n_converted,
       round({pct}(mins, 0.5), 4) AS p50_minutes,
       round({pct}(mins, 0.9), 4) AS p90_minutes,
       round(CAST(SUM(CAST(round(mins, 4) AS DECIMAL(18,4)))
                  AS DOUBLE) / COUNT(*), 4) AS mean_minutes
FROM deltas
GROUP BY step_pair
ORDER BY step_pair
"""


@register(
    "ev_funnel_time_quantiles",
    oracle=_funnel_time_sql("duckdb"),
    description="time-to-convert distribution per funnel step pair"
    " (view→click, click→purchase, view→purchase): conversion counts"
    " with exact p50/p90/mean minutes from first-touch timestamps —"
    " ev_funnel says HOW MANY convert, this says HOW LONG they take",
    tags=("events", "funnel", "stats", "timeseries"),
)
def ev_funnel_time_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion RATE hides latency: a funnel that converts in days
    needs different retargeting than one converting in minutes. Per
    user, each stage's FIRST timestamp comes from one conditional
    min-agg pass (the ev_funnel shape); step deltas are exact integer
    microsecond differences (strictly-later semantics, so instant or
    out-of-order stage pairs don't count), and the p50/p90 are exact
    continuous quantiles over identical doubles in both engines, with
    the mean rounded-then-decimal-summed. One (user)-keyed shuffle +
    one small quantile aggregation per step pair — user count scales,
    the three-row output never does."""
    text = _funnel_time_sql("spark")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Centered trend window half-width (hours) for the decomposition.
DECOMP_HALF_W = 12

_DECOMP_SQL = f"""
WITH hourly AS (
  -- ts IS NOT NULL: a NULL hour in the ORDER BY h trend window is
  -- engine-divergent and DuckDB-thread-nondeterministic (r13)
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)))
              AS DECIMAL(18,4)) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
trend AS (
  SELECT event_type, h, v,
         CAST(SUM(v) OVER w AS DOUBLE) / COUNT(*) OVER w AS tr,
         CAST(EXTRACT(HOUR FROM h) AS INT) AS hod
  -- finite-valued hours only: a NULL-total hour (all its rows non-finite)
  -- must not enter counts/ranks its value is absent from (support parity)
  FROM hourly WHERE v IS NOT NULL
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN {DECOMP_HALF_W} PRECEDING
                        AND {DECOMP_HALF_W} FOLLOWING)
),
detr AS (
  SELECT event_type, h, hod,
         CAST(v AS DOUBLE) AS vd,
         CAST(round(CAST(v AS DOUBLE) - tr, 6) AS DECIMAL(18,6)) AS dt
  FROM trend
),
seas AS (
  SELECT event_type, h, vd, dt,
         CAST(SUM(dt) OVER (PARTITION BY event_type, hod) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY event_type, hod) AS s
  FROM detr
),
parts AS (
  SELECT event_type,
         CAST(dt AS DOUBLE) AS dtd,
         CAST(round(CAST(dt AS DOUBLE) - s, 6) AS DECIMAL(18,6)) AS resid,
         CAST(round(vd - s, 6) AS DECIMAL(18,6)) AS deseas
  FROM seas
),
moms AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(round(dtd, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sd1,
         CAST(SUM(CAST(round(dtd * dtd, 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sd2,
         CAST(SUM(resid) AS DOUBLE) AS sr1,
         CAST(SUM(CAST(round(CAST(resid AS DOUBLE)
                             * CAST(resid AS DOUBLE), 6)
                       AS DECIMAL(28,6))) AS DOUBLE) AS sr2,
         CAST(SUM(deseas) AS DOUBLE) AS ss1,
         CAST(SUM(CAST(round(CAST(deseas AS DOUBLE)
                             * CAST(deseas AS DOUBLE), 6)
                       AS DECIMAL(28,6))) AS DOUBLE) AS ss2
  FROM parts GROUP BY event_type
)
SELECT event_type, n AS n_hours,
       round(GREATEST(0, 1 - (sr2 / n - (sr1 / n) * (sr1 / n))
                         / NULLIF(sd2 / n - (sd1 / n) * (sd1 / n), 0)), 6)
         AS seasonality_strength,
       round(GREATEST(0, 1 - (sr2 / n - (sr1 / n) * (sr1 / n))
                         / NULLIF(ss2 / n - (ss1 / n) * (ss1 / n), 0)), 6)
         AS trend_strength
FROM moms
ORDER BY event_type
"""


@register(
    "ev_seasonal_decompose",
    oracle=_DECOMP_SQL,
    description="additive time-series decomposition per event type:"
    " centered 25h rolling-mean trend, hour-of-day seasonal component"
    " of the detrended series, and the Hyndman seasonality/trend"
    " strength scores from the residual variance — the STL-lite"
    " readout that says whether a series is calendar-driven or"
    " drifting",
    tags=("events", "timeseries", "stats", "window"),
)
def ev_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v = trend + seasonal + residual, each component a WINDOW, none
    a model fit: the trend is a bounded centered ROWS frame (25 h — a
    day-wide low-pass), the seasonal term is the per-(type, hour-of-
    day) mean of the detrended series (a partitioned window, 24 groups
    per type), and strength = 1 − Var(resid)/Var(detrended) (resp.
    deseasonalized) is Hyndman's F_s/F_t score, clamped at 0. Every
    component boundary rounds to 6 then decimal-sums, so the variance
    moments hash exactly cross-engine. Both windows partition by
    series key: at 100 TB this is two keyed shuffles, frame width and
    24 hod groups constant. Spark executes the literal oracle text
    (named WINDOW clause included — both engines support it)."""
    return sql(spark, _DECOMP_SQL, events=load_table(spark, sf_dir, "events"))


#: LTV curve age cutoffs (days since a user's first event).
LTV_CUTOFFS = (0, 7, 14, 28)


def _ltv_sql(dialect: str) -> str:
    """Cohort LTV curve: users bucketed by first-seen week, cumulative
    value per user at fixed age cutoffs. Day indices are exact integer
    epoch-day arithmetic (no date-function dialect drift)."""
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    if dialect == "spark":
        # stack() unpivots ONE evaluation of the wide aggregate; a
        # UNION of per-cutoff selects re-inlines the whole CTE (and
        # the events scan) once per branch — 4 fact scans, caught by
        # the plan pin before ship.
        stack_args = ", ".join(
            f"{c}, ltv{c}" for c in LTV_CUTOFFS
        )
        branches = (
            f"  SELECT cohort_week, n_users, age_days,"
            f" cum_value_per_user\n"
            f"  FROM wide LATERAL VIEW stack({len(LTV_CUTOFFS)},"
            f" {stack_args}) AS age_days, cum_value_per_user"
        )
    else:
        branches = "\n".join(
            f"  SELECT cohort_week, n_users, {c} AS age_days,"
            f" ltv{c} AS cum_value_per_user FROM wide\n  UNION ALL"
            for c in LTV_CUTOFFS
        ).rstrip()
        if branches.endswith("UNION ALL"):
            branches = branches[: -len("UNION ALL")]
    sums = ",\n".join(
        f"         round(CAST(SUM(CASE WHEN age_days <= {c} THEN v"
        f" ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)"
        f" / COUNT(DISTINCT user_id), 6) AS ltv{c}"
        for c in LTV_CUTOFFS
    )
    return f"""
WITH days AS (
  SELECT user_id, event_type,
         CAST(FLOOR({us}(ts) / 86400000000.0) AS BIGINT) AS day_idx,
         CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)) AS val
  FROM events
),
cohorted AS (
  SELECT user_id, day_idx, val,
         MIN(CASE WHEN event_type = 'purchase' THEN day_idx END)
           OVER (PARTITION BY user_id) AS cohort_day
  FROM days
),
aged AS (
  SELECT user_id,
         CAST(FLOOR(cohort_day / 7.0) AS BIGINT) AS cohort_week,
         day_idx - cohort_day AS age_days,
         val AS v
  FROM cohorted
  WHERE cohort_day IS NOT NULL AND day_idx >= cohort_day
),
wide AS (
  SELECT cohort_week,
         COUNT(DISTINCT user_id) AS n_users,
{sums}
  FROM aged GROUP BY cohort_week
)
SELECT cohort_week, n_users, age_days, cum_value_per_user
FROM ({branches})
ORDER BY cohort_week, age_days
"""


@register(
    "ev_cohort_ltv_curve",
    oracle=_ltv_sql("duckdb"),
    description="payer-cohort LTV curve: per first-PURCHASE-week"
    " cohort, average cumulative post-conversion value per payer at"
    " ages 0/7/14/28 days — the growth-accounting triangle read as"
    " curves, one conditional-sum pass then unpivoted",
    tags=("events", "cohort", "timeseries", "agg"),
)
def ev_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_cohort_retention answers 'do they come back'; LTV answers
    'what are they worth by age a' — the curve whose flattening point
    sets payback windows. Cohorts anchor on each user's FIRST
    PURCHASE (payer cohorts): the fixture's users are all active
    from day one, so first-SEEN cohorts collapse to a single week
    (probed), while conversion dates spread across the range — and
    payer LTV is the number payback math actually uses. Cumulative-
    at-cutoff needs no window over ages: each cutoff is a conditional
    decimal sum in ONE grouped pass over (cohort_week), then the wide
    row unpivots to curve points (a 4-branch union of the TINY
    aggregate, not of the fact table). Day and week indices are
    integer epoch arithmetic — date_trunc('week') anchors differ
    across engines, FLOOR(day/7) cannot. One user-keyed window finds
    the anchor, one grouped pass does the rest."""
    text = _ltv_sql("spark")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Anomaly threshold (standard deviations from the baseline mean).
SEAS_Z_THRESHOLD = 3.0

_SEAS_ANOM_SQL = f"""
WITH hourly AS (
  -- ts IS NOT NULL: an undated event's h=NULL row (hod NULL, its own
  -- stratum) otherwise counts in n_hours and shifts the per-type
  -- global baseline — a per-hour statistic must not include a
  -- phantom hour (gap-compression contract, r14 criterion extension)
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(EXTRACT(HOUR FROM date_trunc('hour', ts)) AS INT) AS hod,
         CAST(SUM(CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)))
              AS DECIMAL(18,4)) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
scored AS (
  SELECT event_type, h, hod,
         CAST(v AS DOUBLE) AS vd,
         CAST(SUM(v) OVER ws AS DOUBLE) / COUNT(*) OVER ws AS mu_s,
         CAST(SUM(CAST(v AS DECIMAL(19,4)) * v) OVER ws AS DOUBLE)
           / COUNT(*) OVER ws AS m2_s,
         COUNT(*) OVER ws AS n_s,
         CAST(SUM(v) OVER wg AS DOUBLE) / COUNT(*) OVER wg AS mu_g,
         CAST(SUM(CAST(v AS DECIMAL(19,4)) * v) OVER wg AS DOUBLE)
           / COUNT(*) OVER wg AS m2_g
  -- finite-valued hours only: a NULL-total hour (all its rows non-finite)
  -- must not enter counts/ranks its value is absent from (support parity)
  FROM hourly WHERE v IS NOT NULL
  WINDOW ws AS (PARTITION BY event_type, hod),
         wg AS (PARTITION BY event_type)
),
z AS (
  SELECT event_type, h, vd, n_s,
         (vd - mu_s) / NULLIF(sqrt(m2_s - mu_s * mu_s), 0) AS z_seas,
         (vd - mu_g) / NULLIF(sqrt(m2_g - mu_g * mu_g), 0) AS z_glob
  FROM scored
)
SELECT event_type,
       COUNT(*) AS n_hours,
       COUNT(CASE WHEN abs(z_seas) > {SEAS_Z_THRESHOLD} THEN 1 END)
         AS n_anomalies_seasonal,
       COUNT(CASE WHEN abs(z_glob) > {SEAS_Z_THRESHOLD} THEN 1 END)
         AS n_anomalies_global,
       COUNT(CASE WHEN abs(z_seas) > {SEAS_Z_THRESHOLD}
                   AND abs(z_glob) <= {SEAS_Z_THRESHOLD} THEN 1 END)
         AS n_only_seasonal_catches,
       round(MAX(abs(z_seas)), 4) AS max_abs_z_seasonal
FROM z
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "ev_anomaly_seasonal_zscore",
    oracle=_SEAS_ANOM_SQL,
    description="seasonality-aware anomaly census per event type: each"
    " hour z-scored against its OWN (type, hour-of-day) baseline"
    " beside the global-baseline count — the detector that catches a"
    " quiet-hour spike the global σ absorbs, with the"
    " only-seasonal-caught delta column proving the baseline matters",
    tags=("events", "timeseries", "anomaly", "window", "stats"),
)
def ev_anomaly_seasonal_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 a.m. traffic doubling is an incident; 3 p.m. traffic at the
    same absolute level is a Tuesday — anomaly baselines must
    condition on the calendar. Each hour's z-score uses the mean/σ of
    its OWN (type, hour-of-day) stratum (a partitioned window over
    the hourly table — 24 strata per type, population σ from the
    decimal-exact moment identity), with the global-baseline z
    riding the same pass from a second named window; the census
    column n_only_seasonal_catches counts hours flagged ONLY under
    the seasonal baseline — the detector's value, hashed. Both
    windows partition by bounded keys; series length is
    calendar-bounded at any volume (the ev_rolling_median
    argument)."""
    return sql(
        spark, _SEAS_ANOM_SQL, events=load_table(spark, sf_dir, "events")
    )


_OVERLAP_SQL = """
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
),
sizes AS (
  SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_both
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT i.type_a, i.type_b,
       sa.n AS n_a, sb.n AS n_b, i.n_both,
       round(CAST(i.n_both AS DOUBLE)
             / (sa.n + sb.n - i.n_both), 6) AS jaccard,
       round(CAST(i.n_both AS DOUBLE)
             / CASE WHEN sa.n < sb.n THEN sa.n ELSE sb.n END, 6)
         AS containment_min
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
ORDER BY i.type_a, i.type_b
"""


@register(
    "ev_user_overlap_jaccard",
    oracle=_OVERLAP_SQL,
    description="audience-overlap matrix: for every event-type pair,"
    " shared-user count, Jaccard, and min-containment from one"
    " distinct-incidence self-join keyed on user — the"
    " which-audiences-are-the-same-people readout behind funnel"
    " design and sketch validation (the exact numbers"
    " agg_kmv_distinct_audit's estimators approximate)",
    tags=("events", "join", "stats", "agg"),
)
def ev_user_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap is the set-intersection question asked of
    event streams: the distinct (type, user) incidence list self-joins
    ON USER (the scalable key — a user belongs to ≤5 types, so the
    join fans out by type count, never by user count), intersections
    aggregate per type pair, and set sizes broadcast back. Jaccard
    says how interchangeable two audiences are; min-containment says
    whether the smaller one is a subset (funnel stages should be
    nested; campaign audiences should not). All integer exact, output
    bounded by types². At 100 TB this is the exact baseline the KMV
    sketch path estimates when even the incidence list is too big to
    self-join."""
    return sql(spark, _OVERLAP_SQL, events=load_table(spark, sf_dir, "events"))


#: Bootstrap resample count and the Poisson(1) inverse-CDF ladder
#: (cumulative probabilities scaled to the md5 %10000 draw).
BOOT_B = 16
_POIS_LADDER = (
    "CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1 WHEN u < 9197 THEN 2"
    " WHEN u < 9810 THEN 3 WHEN u < 9963 THEN 4 ELSE 5 END"
)


def _bootstrap_sql(dialect: str) -> str:
    """Deterministic Poisson bootstrap: each (event, resample) weight
    is Poisson(1) quantized through ONE md5 draw (the RNG-free
    discipline every sampler in the repo uses)."""
    if dialect == "spark":
        fold = (
            "CAST(conv(substr(md5(concat('boot:', CAST(event_id AS STRING),"
            " ':', CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT) % 10000"
        )
        bgen = f"LATERAL VIEW explode(sequence(1, {BOOT_B})) AS b"
    else:
        fold = (
            "CAST('0x' || substr(md5('boot:' || CAST(event_id AS VARCHAR)"
            " || ':' || CAST(b AS VARCHAR)), 1, 8) AS BIGINT) % 10000"
        )
        bgen = f"CROSS JOIN (SELECT unnest(range(1, {BOOT_B} + 1)) AS b)"
    return f"""
WITH drawn AS (
  SELECT event_type, b,
         CAST(round(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END, 4) AS DECIMAL(18,4)) AS v,
         {_POIS_LADDER.replace("u", f"({fold})")} AS wgt
  FROM events {bgen}
),
resample_means AS (
  -- finite-valued events only: a NULL-v row's weight must not enter
  -- the denominator of a mean its value is absent from (support parity)
  SELECT event_type, b,
         CAST(round(CAST(SUM(wgt * v) AS DOUBLE)
                    / NULLIF(SUM(wgt), 0), 6) AS DECIMAL(18,6)) AS m
  FROM drawn WHERE v IS NOT NULL GROUP BY event_type, b
),
boot AS (
  SELECT event_type,
         COUNT(*) AS n_resamples,
         CAST(SUM(m) AS DOUBLE) AS s1,
         CAST(SUM(CAST(m AS DECIMAL(19,6)) * m) AS DOUBLE) AS s2
  FROM resample_means GROUP BY event_type
),
point AS (
  -- WHERE-gated so COUNT(*) counts exactly the rows the sum
  -- aggregates — COUNT(*) over the NULL-gate form diluted mu on
  -- dirty data (support parity)
  SELECT event_type,
         CAST(SUM(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE)
           / COUNT(*) AS mu
  FROM events
  WHERE NOT (value IS NULL OR isnan(value)
             OR abs(value) = CAST('Infinity' AS DOUBLE))
  GROUP BY event_type
)
SELECT p.event_type,
       round(p.mu, 6) AS point_mean,
       b.n_resamples,
       round(sqrt((b.s2 - b.s1 * b.s1 / b.n_resamples)
                  / (b.n_resamples - 1)), 6) AS se_boot,
       round(p.mu - 1.96 * sqrt((b.s2 - b.s1 * b.s1 / b.n_resamples)
                                / (b.n_resamples - 1)), 6) AS ci_lo,
       round(p.mu + 1.96 * sqrt((b.s2 - b.s1 * b.s1 / b.n_resamples)
                                / (b.n_resamples - 1)), 6) AS ci_hi
FROM point p JOIN boot b ON b.event_type = p.event_type
ORDER BY p.event_type
"""


@register(
    "ev_bootstrap_ci",
    oracle=_bootstrap_sql("duckdb"),
    description="deterministic Poisson-bootstrap confidence interval"
    " for the per-type mean value: 16 resamples whose weights are"
    " Poisson(1) quantized from md5 draws (RNG-free, engine-exact),"
    " bootstrap SE and normal-approximation CI — the"
    " distribution-free uncertainty readout beside the delta-method"
    " and t-test family",
    tags=("events", "stats", "abtest", "sampling"),
)
def ev_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Poisson bootstrap (Chamandy et al., Google 2012) IS the
    distributed bootstrap: resampling n rows with replacement needs
    global coordination, but Poisson(1) per-row weights are i.i.d. —
    each row draws its weight independently, so B resamples are one
    flat map over the data. Here the draw is md5-quantized through
    the Poisson inverse-CDF ladder (deterministic: same weights on
    any engine, any partitioning — the repo's no-rand() rule), the
    B=16 resample means ride rounded-decimal sums, and the SE/CI
    derive from their exact moments. One B×-expanded pass + one
    point pass; at 100 TB B scales the flat map linearly and nothing
    else. Weighted-mean resamples approximate the studentized
    bootstrap's simpler sibling honestly — se_boot here tracks the
    delta-method SE where both apply, distribution-free where it
    does not."""
    text = _bootstrap_sql("spark")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


def _cuped_sql() -> str:
    """CUPED variance reduction from one sufficient-statistics pass.
    Per-user pre/post sums are exact decimals; cross moments widen one
    operand to DECIMAL(19,4) (int128 path); every derived statistic is
    a double of near-exact mantissas rounded once at output (theta 6,
    variances 2, estimates 6 — the transcendental-free analogue of the
    rounding discipline)."""
    return """
WITH bounds AS (
  SELECT MIN({epoch}(ts)) AS lo, MAX({epoch}(ts)) AS hi FROM events
),
per_user AS (
  SELECT user_id,
         {arm} AS arm,
         COALESCE(CAST(SUM(CASE WHEN is_pre THEN dval END)
                       AS DECIMAL(18,4)), 0) AS pre,
         COALESCE(CAST(SUM(CASE WHEN NOT is_pre THEN dval END)
                       AS DECIMAL(18,4)), 0) AS post
  FROM (SELECT e.user_id, CAST(CASE WHEN isnan(e.value) OR abs(e.value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE e.value END AS DECIMAL(18,4)) AS dval,
               ({epoch}(e.ts) < b.lo + (b.hi - b.lo) {div} 2) AS is_pre
        FROM events e CROSS JOIN bounds b) t
  GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pre) AS DOUBLE) AS s_pre,
         CAST(SUM(post) AS DOUBLE) AS s_post,
         CAST(SUM(pre * CAST(pre AS DECIMAL(19,4))) AS DOUBLE) AS s_pre2,
         CAST(SUM(post * CAST(post AS DECIMAL(19,4))) AS DOUBLE) AS s_post2,
         CAST(SUM(pre * CAST(post AS DECIMAL(19,4))) AS DOUBLE) AS s_prepost,
         CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN arm = 'B' THEN pre END) AS DOUBLE) AS s_pre_t,
         CAST(SUM(CASE WHEN arm = 'B' THEN post END) AS DOUBLE) AS s_post_t
  FROM per_user
),
d AS (
  SELECT n, n_t, n - n_t AS n_c,
         s_pre2 / n - (s_pre / n) * (s_pre / n) AS var_pre,
         s_post2 / n - (s_post / n) * (s_post / n) AS var_post,
         s_prepost / n - (s_pre / n) * (s_post / n) AS cov_pp,
         s_post_t / n_t - (s_post - s_post_t) / (n - n_t) AS raw_diff,
         s_pre_t / n_t - (s_pre - s_pre_t) / (n - n_t) AS pre_diff
  FROM m
),
f AS (
  SELECT n, n_t, n_c, var_post, raw_diff, pre_diff,
         round(cov_pp / var_pre, 6) AS theta,
         var_post - 2 * (cov_pp / var_pre) * cov_pp
           + (cov_pp / var_pre) * (cov_pp / var_pre) * var_pre
           AS var_cuped
  FROM d
)
SELECT n AS n_users, n_t, n_c, theta,
       round(var_post, 2) AS var_post,
       round(var_cuped, 2) AS var_cuped,
       round(100 * (1 - var_cuped / var_post), 4) AS var_reduction_pct,
       round(raw_diff, 6) AS est_raw,
       round(raw_diff - theta * pre_diff, 6) AS est_cuped
FROM f
"""


@register(
    "ev_cuped_adjustment",
    oracle=_cuped_sql().format(
        arm="CASE WHEN CAST('0x' || substr(md5('arm:' || CAST(user_id AS"
        " VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END",
        epoch="epoch_us",
        div="//",
    ),
    description="CUPED variance reduction (Deng et al., WSDM'13): the"
    " first half of the timeline is the pre-period covariate, theta ="
    " cov(pre,post)/var(pre) from one exact-moment pass, and the hashed"
    " row carries theta, the raw and adjusted variances, the variance"
    " reduction percentage, and the raw vs CUPED-adjusted treatment"
    " estimates between the md5-parity arms",
    tags=("events", "abtest", "stats", "cuped"),
)
def ev_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experiment-platform workhorse: regress out what users
    already did BEFORE the experiment. adjusted = post − θ·(pre −
    mean_pre) leaves the treatment estimate unbiased (assignment is
    independent of pre) but shrinks variance by exactly ρ²; the
    hashed var_reduction_pct IS that ρ² realized on this data, and
    est_raw vs est_cuped shows the estimate moving as pre-period
    imbalance is corrected. Everything reduces to sufficient
    statistics: one user-keyed shuffle builds per-user exact-decimal
    pre/post sums (the same shape at 100 TB — users partition
    cleanly), one single-row reduce collects n/Σ/Σ²/Σxy overall and
    per arm, and var(adjusted) comes from the moment identity
    var_post − 2θ·cov + θ²·var_pre rather than a second pass over
    adjusted rows. The timeline-median split is fixture determinism;
    a real platform uses the experiment start date it already knows
    (same two-aggregation plan). Same md5 'arm:' fold as
    ev_welch_ttest, so arms agree across the A/B family."""
    text = (
        _cuped_sql().format(
            arm="CASE WHEN CAST(conv(substr(md5(concat('arm:',"
            " CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0"
            " THEN 'A' ELSE 'B' END",
            epoch="unix_micros",
            div="DIV",
        )
    )
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: mSPRT mixture scale: the N(0, tau^2) prior over the alternative's
#: mean difference, in metric units.
MSPRT_TAU2 = 25.0
MSPRT_ALPHA = 0.05


def _msprt_sql() -> str:
    """Always-valid sequential monitoring (mixture SPRT, Johari et
    al. KDD'17) over daily cumulative sufficient statistics. Exact
    decimal daily sums roll up through one bounded window over the
    day table; every transcendental is a single derived double
    rounded once (log-lambda 6), and the always-valid p is exp of the
    ROUNDED log-lambda — deterministic by construction."""
    return f"""
WITH rows_tagged AS (
  -- ts IS NOT NULL: an undated event has no day in the monitoring
  -- curve (a NULL day enters Spark's cumulative window FIRST and
  -- DuckDB's LAST, shifting every prefix after it)
  SELECT CAST(ts AS DATE) AS day,
         {{arm}} AS arm,
         CAST(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END AS DECIMAL(18,4)) AS dval
  FROM events WHERE ts IS NOT NULL
),
daily AS (
  SELECT day,
         -- COUNT over dval, not THEN 1: n must count exactly the rows
         -- the finite-gated sums aggregate (support parity)
         CAST(COUNT(CASE WHEN arm = 'A' THEN dval END) AS BIGINT) AS n_a_d,
         SUM(CASE WHEN arm = 'A' THEN dval END) AS s_a_d,
         SUM(CASE WHEN arm = 'A'
             THEN dval * CAST(dval AS DECIMAL(19,4)) END) AS s2_a_d,
         CAST(COUNT(CASE WHEN arm = 'B' THEN dval END) AS BIGINT) AS n_b_d,
         SUM(CASE WHEN arm = 'B' THEN dval END) AS s_b_d,
         SUM(CASE WHEN arm = 'B'
             THEN dval * CAST(dval AS DECIMAL(19,4)) END) AS s2_b_d
  FROM rows_tagged
  GROUP BY day
),
cum AS (
  SELECT day,
         CAST(SUM(n_a_d) OVER w AS BIGINT) AS n_a,
         CAST(SUM(s_a_d) OVER w AS DOUBLE) AS s_a,
         CAST(SUM(s2_a_d) OVER w AS DOUBLE) AS s2_a,
         CAST(SUM(n_b_d) OVER w AS BIGINT) AS n_b,
         CAST(SUM(s_b_d) OVER w AS DOUBLE) AS s_b,
         CAST(SUM(s2_b_d) OVER w AS DOUBLE) AS s2_b
  FROM daily
  WINDOW w AS (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
stats AS (
  SELECT day, n_a, n_b,
         s_b / n_b - s_a / n_a AS delta,
         (s2_a / n_a - (s_a / n_a) * (s_a / n_a)) / n_a
           + (s2_b / n_b - (s_b / n_b) * (s_b / n_b)) / n_b AS sig2
  FROM cum
),
ll AS (
  SELECT day, n_a, n_b,
         round(delta, 6) AS mean_diff,
         round(delta / sqrt(sig2), 4) AS z,
         round(0.5 * ln(sig2 / (sig2 + {MSPRT_TAU2}))
               + {MSPRT_TAU2} * delta * delta
                 / (2 * sig2 * (sig2 + {MSPRT_TAU2})), 6) AS log_lambda
  FROM stats
)
SELECT CAST(day AS {{strt}}) AS day, n_a, n_b, mean_diff, z, log_lambda,
       round(least(CAST(1 AS DOUBLE), exp(-log_lambda)), 6)
         AS p_always_valid,
       (round(least(CAST(1 AS DOUBLE), exp(-log_lambda)), 6)
        <= {MSPRT_ALPHA}) AS crossed
FROM ll
ORDER BY day
"""


@register(
    "ev_msprt_sequential",
    oracle=_msprt_sql().format(
        arm="CASE WHEN CAST('0x' || substr(md5('arm:' || CAST(user_id AS"
        " VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END",
        strt="VARCHAR",
    ),
    description="always-valid sequential A/B monitoring (mixture SPRT,"
    " Johari et al. KDD'17): per-day cumulative moments between the"
    " md5-parity arms, the normal-mixture log likelihood ratio, and"
    " the anytime-valid p per day — the peek-safe monitoring curve"
    " fixed-horizon tests forbid, hashed day by day",
    tags=("events", "abtest", "stats", "sequential"),
)
def ev_msprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-horizon tests (ev_welch_ttest) are invalid if you look
    before the horizon; the mixture SPRT's likelihood ratio is a
    martingale under the null, so 1/Λ is a p-value at EVERY day
    simultaneously — the reason experiment platforms ship it as the
    default monitor. Λ under a N(0, τ²) mixture has the closed form
    sqrt(σ²/(σ²+τ²))·exp(τ²Δ²/(2σ²(σ²+τ²))) with Δ the cumulative
    mean difference and σ² its variance estimate; both come from
    per-day sufficient statistics (exact decimal Σ/Σ² per arm — one
    day-keyed shuffle over the events), rolled up by one window over
    the DAY table, which is bounded by the calendar no matter the
    corpus (30 rows here; 10 years is 3653). On the null-true fixture
    (arms are an md5 split) the hashed curve stays honestly
    uncrossed — log-lambda hovers near 0 and the anytime p near 1;
    the machinery it pins (exact moment rollup, martingale form,
    rounded-transcendental determinism) is what the audit is for.
    Same 'arm:' fold as ev_welch_ttest / ev_cuped_adjustment."""
    text = (
        _msprt_sql().format(
            arm="CASE WHEN CAST(conv(substr(md5(concat('arm:',"
            " CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0"
            " THEN 'A' ELSE 'B' END",
            strt="STRING",
        )
    )
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Stationary-distribution power iteration: unrolled steps.
MARKOV_PI_ITERS = 8


def _stationary_sql() -> str:
    """π_{k+1} = π_k·T unrolled over the |types|² transition matrix.
    Probabilities are rounded-8 decimals; each step's 5-term sums are
    exact decimal adds of exact decimal products (one operand widened
    to DECIMAL(19,8) — int128), re-rounded to 8 per step, so the whole
    chain is engine-identical. MATERIALIZED guards DuckDB's CTE
    re-inlining on the pi chain."""
    parts = [f"""
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
  -- sequence contract: an event with no user or no time has no
  -- position in a per-user event-time order (and NULL ts sorts
  -- FIRST in Spark windows vs LAST in DuckDB)
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
t AS MATERIALIZED (
  SELECT from_type, to_type,
         CAST(round(CAST(n_transitions AS DOUBLE)
                    / SUM(n_transitions) OVER (PARTITION BY from_type), 8)
              AS DECIMAL(18,8)) AS p
  FROM pairs
),
states AS (SELECT DISTINCT from_type AS state FROM t),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM states),
pi0 AS MATERIALIZED (
  SELECT state, CAST(round(CAST(1 AS DOUBLE) / ns.n, 8) AS DECIMAL(18,8))
           AS p
  FROM states CROSS JOIN ns
)"""]
    for i in range(1, MARKOV_PI_ITERS + 1):
        parts.append(f""",
pi{i} AS MATERIALIZED (
  SELECT t.to_type AS state,
         CAST(round(CAST(SUM(pi{i - 1}.p * CAST(t.p AS DECIMAL(19,8)))
                         AS DOUBLE), 8) AS DECIMAL(18,8)) AS p
  FROM t JOIN pi{i - 1} ON pi{i - 1}.state = t.from_type
  GROUP BY t.to_type
)""")
    k, km1 = MARKOV_PI_ITERS, MARKOV_PI_ITERS - 1
    parts.append(f"""
SELECT f.state,
       round(CAST(f.p AS DOUBLE), 6) AS stationary_p,
       (SELECT round(CAST(SUM(ABS(a.p - b.p)) AS DOUBLE), 8)
        FROM pi{k} a JOIN pi{km1} b ON b.state = a.state) AS delta_l1,
       {k} AS n_iters
FROM pi{k} f
ORDER BY f.state""")
    return "".join(parts)


@register(
    "ev_markov_stationary",
    oracle=_stationary_sql(),
    description="stationary distribution of the event-type Markov"
    f" chain: {MARKOV_PI_ITERS} unrolled power-iteration steps over"
    " the row-normalized transition matrix from a uniform start — the"
    " long-run traffic mix per state, with the final L1 step size"
    " hashed as the convergence certificate",
    tags=("events", "sequence", "markov", "iterative"),
)
def ev_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_transition_matrix gives the one-step dynamics; the
    stationary π (πT = π) is what the chain DOES long-run — the
    equilibrium traffic mix capacity planning and simulation seeds
    use. Power iteration over a |types|-sized vector: each step is a
    broadcast-sized join against the (≤|types|²) matrix plus a 5-row
    group-by — after the single user-keyed lead shuffle that builds
    the matrix, every iteration costs nothing at any corpus scale
    (the matrix is the sufficient statistic, exactly like
    sim_kmeans_refine's centroids). Probabilities live as rounded-8
    decimals so the multiply-sum-round chain is engine-exact; the
    hashed delta_l1 (≈3e-6 at sf0.01 after 8 steps) certifies the
    iteration actually converged rather than just ran. Same
    (ts, event_id) per-user total order as every ev_* sequence op."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.expr("user_id IS NOT NULL AND ts IS NOT NULL")  # sequence contract
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    norm = Window.partitionBy("from_type")
    t = pairs.select(
        "from_type",
        "to_type",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(norm),
            8,
        )
        .cast("decimal(18,8)")
        .alias("p"),
    ).localCheckpoint(eager=True)
    states = t.select(F.col("from_type").alias("state")).distinct()
    ns = states.agg(F.count("*").alias("n"))
    pi = states.crossJoin(F.broadcast(ns)).select(
        "state",
        F.round(F.lit(1.0) / F.col("n"), 8).cast("decimal(18,8)").alias("p"),
    )
    prev = None
    for _ in range(MARKOV_PI_ITERS):
        prev = pi
        pi_in = pi.select(
            F.col("state").alias("from_type"), F.col("p").alias("pi_p")
        )
        pi = (
            t.join(pi_in, "from_type")
            .select(
                F.col("to_type").alias("state"),
                (
                    F.col("pi_p") * F.col("p").cast("decimal(19,8)")
                ).alias("pp"),
            )
            .groupBy("state")
            .agg(
                F.round(F.sum("pp").cast("double"), 8)
                .cast("decimal(18,8)")
                .alias("p")
            )
        )
    delta = (
        pi.select("state", F.col("p").alias("pk"))
        .join(prev.select("state", F.col("p").alias("pk1")), "state")
        .agg(
            F.round(
                F.sum(F.abs(F.col("pk") - F.col("pk1"))).cast("double"), 8
            ).alias("delta_l1")
        )
    )
    return (
        pi.crossJoin(F.broadcast(delta))
        .select(
            "state",
            F.round(F.col("p").cast("double"), 6).alias("stationary_p"),
            "delta_l1",
            F.lit(MARKOV_PI_ITERS).alias("n_iters"),
        )
        .orderBy("state")
    )


def _concurrency_sql() -> str:
    """Peak concurrent sessions per day by the TWO-LEVEL sweep: each
    session emits (+1 at start, −1 at end), a day-partitioned prefix
    sum runs locally, and only the per-day NET deltas cross days
    through one calendar-bounded window — the same rewrite
    window_running_distinct uses, so no corpus-sized global order
    exists. Ties at one (ts, delta) are interchangeable (+1s or −1s
    commute among themselves), so the running MAX is deterministic
    without a per-row tie-break."""
    return f"""
WITH ordered AS (
  -- sequence contract: an undated or userless event has no place in
  -- a session timeline (NULL ts sorts FIRST in Spark, LAST in DuckDB)
  SELECT user_id, ts,
         lag({{epoch}}(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS prev_us,
         {{epoch}}(ts) AS us
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN prev_us IS NULL OR us - prev_us > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM ordered
),
numbered AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS sess
  FROM flagged
),
sessions AS (
  SELECT user_id, sess, MIN(ts) AS s_ts, MAX(ts) AS e_ts
  FROM numbered GROUP BY user_id, sess
),
bounds AS (
  SELECT s_ts AS ts, 1 AS delta FROM sessions
  UNION ALL
  SELECT e_ts, -1 FROM sessions
),
swept AS (
  SELECT CAST(ts AS DATE) AS day, ts, delta,
         SUM(delta) OVER (PARTITION BY CAST(ts AS DATE)
                          ORDER BY ts, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS local_run
  FROM bounds
),
daily AS (
  SELECT day,
         CAST(SUM(delta) AS BIGINT) AS day_net,
         CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sessions_started,
         CAST(MAX(local_run) AS BIGINT) AS _lp
  FROM swept GROUP BY day
),
offs AS (
  SELECT day, n_sessions_started, _lp,
         SUM(day_net) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - day_net AS off
  FROM daily
),
peaks AS (
  SELECT day, n_sessions_started,
         CAST(_lp + off AS BIGINT) AS peak_concurrency
  FROM offs
)
SELECT CAST(day AS {{strt}}) AS day, n_sessions_started,
       peak_concurrency,
       CAST(MAX(peak_concurrency) OVER () AS BIGINT) AS overall_peak
FROM peaks
ORDER BY day
"""


@register(
    "ev_concurrency_curve",
    oracle=_concurrency_sql().format(epoch="epoch_us", strt="VARCHAR"),
    description="peak concurrent sessions per day via the two-level"
    " sweep line: gap-sessionized intervals emit ±1 boundary events,"
    " a day-partitioned prefix sum runs locally, and only per-day net"
    " deltas cross days through one calendar-bounded window — the"
    " capacity-planning curve (how many sessions were open at once)"
    " with the overall peak hashed beside each day",
    tags=("events", "window", "temporal", "sessions"),
)
def ev_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-concurrency is THE sweep-line aggregate (meeting rooms,
    connection pools, license seats), and its textbook form — one
    running sum over all boundary events in global time order — is
    exactly the corpus-sized global window the plan lint rejects. The
    scalable rewrite: prefix sums are associative, so a
    day-partitioned local sweep plus a prefix over per-day NETS
    reconstructs every running value (local_run + preceding days'
    net), and the only global order left is the calendar-bounded day
    table. Sessions reuse ev_sessionize's gap rule (same
    SESSION_GAP_US, same (ts, event_id) per-user order); a
    single-event session contributes −1 before +1 at its instant
    (delta-ascending tie rule) and so never counts as concurrent —
    stated, deterministic, and the conservative choice. Peak per day
    and the overall peak are both inside the driver hash."""
    text = _concurrency_sql().format(epoch="unix_micros", strt="STRING")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: SLO monitoring: error budget (allowed error-event fraction) and the
#: Google-SRE-style multi-window burn thresholds. Probed: at sf0.01
#: the pair fires on 3 hours across 2 days; at sf0.1 the larger
#: hourly samples concentrate and the SLO is honestly met (0 alerts,
#: max-burn columns still vary).
SLO_ERROR_BUDGET = 0.25
SLO_BURN_FAST = 1.4
SLO_BURN_SLOW = 1.2


def _burn_rate_sql() -> str:
    """Multi-window burn-rate monitor over hourly error rates: the 6h
    trailing window is a RANGE frame on the integer epoch-hour key
    (gap-correct, unlike a ROWS frame), and the only unpartitioned
    window runs over the calendar-bounded hour table."""
    return f"""
WITH hourly AS (
  SELECT {{epoch}}(ts) {{div}} 3600000000 AS eh,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
              AS BIGINT) AS e
  FROM events
  GROUP BY {{epoch}}(ts) {{div}} 3600000000
),
trail AS (
  SELECT eh, n, e,
         CAST(SUM(n) OVER w AS BIGINT) AS n6,
         CAST(SUM(e) OVER w AS BIGINT) AS e6
  FROM hourly
  WINDOW w AS (ORDER BY eh RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
),
rates AS (
  SELECT eh,
         round((CAST(e AS DOUBLE) / n) / {SLO_ERROR_BUDGET}, 6)
           AS burn_1h,
         round((CAST(e6 AS DOUBLE) / n6) / {SLO_ERROR_BUDGET}, 6)
           AS burn_6h
  FROM trail
)
SELECT CAST(eh {{div}} 24 AS BIGINT) AS day_index,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       MAX(burn_1h) AS max_burn_1h,
       MAX(burn_6h) AS max_burn_6h,
       CAST(COUNT(CASE WHEN burn_1h > {SLO_BURN_FAST}
                        AND burn_6h > {SLO_BURN_SLOW} THEN 1 END)
            AS BIGINT) AS n_alert_hours
FROM rates
GROUP BY CAST(eh {{div}} 24 AS BIGINT)
ORDER BY day_index
"""


@register(
    "ev_slo_burn_rate",
    oracle=_burn_rate_sql().format(epoch="epoch_us", div="//"),
    description="SRE multi-window burn-rate monitoring (Google SRE"
    " workbook): hourly error-budget burn plus the 6h trailing burn"
    " via a gap-correct RANGE frame on the epoch hour — per-day max"
    " burns and the fast-AND-slow alert count hashed, the paging rule"
    " that suppresses blips but catches sustained burns",
    tags=("events", "slo", "window", "monitoring"),
)
def ev_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alerting on raw error rate pages on noise; the SRE workbook's
    rule pages only when a FAST window (is it burning now?) and a
    SLOW window (has it been burning long enough to matter?) both
    exceed budget multiples. The fast window is the hourly rollup
    itself; the slow one is a 6-hour trailing sum via RANGE BETWEEN 5
    PRECEDING on the integer epoch-hour — RANGE, not ROWS, so a
    missing hour shortens the window instead of silently stretching
    it over a gap. The hourly rollup is one partial-agg shuffle on
    the hour key; the trailing window runs over the calendar-bounded
    hour table (720 rows per month — same allowlist argument as
    ev_msprt_sequential). Burn rates are exact-count ratios rounded
    6, and the rounded values gate the alert, so the hashed per-day
    census (max burns + alert hours) is engine-exact. Thresholds are
    fixture-probed (see SLO_* comment) so both the firing and the
    all-clear paths are exercised across SFs."""
    text = _burn_rate_sql().format(epoch="unix_micros", div="DIV")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


def _delta_decomp_sql() -> str:
    """Period-over-period metric decomposition per segment: exact
    decimal sums per (half, type), then the volume/rate/interaction
    identity in doubles rounded once at output."""
    return f"""
WITH bounds AS (
  SELECT MIN({{epoch}}(ts)) AS lo, MAX({{epoch}}(ts)) AS hi FROM events
),
tagged AS (
  SELECT e.event_type,
         ({{epoch}}(e.ts) >= b.lo + (b.hi - b.lo) {{div}} 2) AS is_h2,
         CAST(CASE WHEN isnan(e.value) OR abs(e.value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE e.value END AS DECIMAL(18,4)) AS dval
  FROM events e CROSS JOIN bounds b
),
seg AS (
  SELECT event_type,
         CAST(COUNT(CASE WHEN NOT is_h2 THEN 1 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN NOT is_h2 THEN dval END) AS DOUBLE) AS v1,
         CAST(COUNT(CASE WHEN is_h2 THEN 1 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN is_h2 THEN dval END) AS DOUBLE) AS v2
  FROM tagged GROUP BY event_type
),
fx AS (
  SELECT event_type, n1, n2,
         v1, v2, v2 - v1 AS delta,
         (n2 - n1) * (v1 / n1) AS vol_effect,
         n1 * (v2 / n2 - v1 / n1) AS rate_effect,
         (n2 - n1) * (v2 / n2 - v1 / n1) AS inter_effect
  FROM seg
)
SELECT event_type, n1, n2,
       round(v1, 4) AS value_h1,
       round(v2, 4) AS value_h2,
       round(delta, 4) AS delta,
       round(vol_effect, 4) AS volume_effect,
       round(rate_effect, 4) AS rate_effect,
       round(inter_effect, 4) AS interaction_effect,
       -- COALESCE: a segment empty in one half has NULL effects — the
       -- identity is undecidable, not exact (and a NULL boolean reaches
       -- pandas as None from Spark vs NaN from DuckDB)
       COALESCE(
         ABS(delta - (vol_effect + rate_effect + inter_effect)) < 1e-6,
         FALSE) AS decomposition_exact
FROM fx
ORDER BY event_type
"""


@register(
    "ev_delta_decomposition",
    oracle=_delta_decomp_sql().format(epoch="epoch_us", div="//"),
    description="why-did-the-metric-move decomposition: per-segment"
    " period-over-period value change split into volume, rate, and"
    " interaction effects (the price-volume identity), with the"
    " effects-sum-to-delta identity hashed as a boolean — the root-"
    "cause table behind every metrics review",
    tags=("events", "stats", "bi", "decomposition"),
)
def ev_delta_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Revenue moved −8%: how much is fewer events vs less value per
    event, and in which segment?" — the decomposition identity
    Δv = Δn·r₁ + n₁·Δr + Δn·Δr answers it exactly, per segment, from
    the same sufficient statistics a rollup already computes: one
    (segment)-keyed aggregate with conditional exact-decimal sums per
    half (timeline median split, as ev_cuped_adjustment), then pure
    per-row arithmetic. Each effect is a double of near-exact
    mantissas rounded once; the hashed decomposition_exact boolean
    asserts the identity held to 1e-6 BEFORE rounding, so a broken
    formula (or a lossy refactor) flips the hash even if the rounded
    effects happen to collide. At 100 TB this is one partial-agg
    shuffle on the segment key — the census is segment-sized."""
    text = _delta_decomp_sql().format(epoch="unix_micros", div="DIV")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Growth accounting period length (one day, in microseconds):
#: probed — WEEKLY granularity is degenerate on this fixture (every
#: user is active every week: 150 new then all-retained rows), while
#: daily activity is sporadic (150 new / 3438 retained / 418
#: resurrected at sf0.01), so every transition class is populated.
GA_DAY_US = 86_400 * 1_000_000


def _growth_sql() -> str:
    """Daily growth accounting over per-(user, day) activity rows:
    classification needs only each user's previous/next ACTIVE day
    (user-partitioned lag/lead), never a calendar join."""
    return f"""
WITH uw AS (
  -- sequence contract: activity classification needs a user and a day
  SELECT DISTINCT user_id,
         {{epoch}}(ts) {{div}} {GA_DAY_US} AS day_index
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
seq AS (
  SELECT user_id, day_index,
         lag(day_index) OVER (PARTITION BY user_id
                               ORDER BY day_index) AS prev_w,
         lead(day_index) OVER (PARTITION BY user_id
                                ORDER BY day_index) AS next_w,
         MIN(day_index) OVER (PARTITION BY user_id) AS first_w
  FROM uw
)
SELECT CAST(day_index AS BIGINT) AS day_index,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       CAST(COUNT(CASE WHEN day_index = first_w THEN 1 END) AS BIGINT)
         AS n_new,
       CAST(COUNT(CASE WHEN prev_w = day_index - 1 THEN 1 END)
            AS BIGINT) AS n_retained,
       CAST(COUNT(CASE WHEN prev_w IS NOT NULL
                        AND prev_w < day_index - 1 THEN 1 END)
            AS BIGINT) AS n_resurrected,
       CAST(COUNT(CASE WHEN next_w IS NULL OR next_w > day_index + 1
                  THEN 1 END) AS BIGINT) AS n_churned_next
FROM seq
GROUP BY day_index
ORDER BY day_index
"""


@register(
    "ev_growth_accounting",
    oracle=_growth_sql().format(epoch="epoch_us", div="//"),
    description="daily growth accounting: every active (user, day)"
    " classified as new / retained / resurrected from the user's"
    " previous active day, plus the will-churn-next count — the"
    " product-analytics ledger whose identity n_active = new +"
    " retained + resurrected is hashed implicitly in the counts",
    tags=("events", "window", "growth", "cohort"),
)
def ev_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth-accounting ledger (new/retained/resurrected/churned
    — the table every consumer product reviews) reduces to per-user
    ADJACENCY over active days: new ⇔ first active day, retained ⇔
    previous active day is exactly day−1, resurrected ⇔ a gap
    strictly longer than one day, churn-next ⇔ the next active day
    is not day+1. One distinct over (user, day) — a partial-agg
    shuffle — then user-partitioned lag/lead/min windows (keyed by
    the same user hash, O(active-days-per-user) state), then a
    day-keyed rollup bounded by the calendar. The DAILY grain is
    probed, not assumed — weekly was degenerate on this fixture (see
    GA_DAY_US). Nothing global, nothing approximate;
    ev_cohort_retention slices the same activity by SIGNUP cohort,
    this ledger slices it by TRANSITION — the standard pair."""
    text = _growth_sql().format(epoch="unix_micros", div="DIV")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: IPW: treatment = ≥7 pre-period purchases (probed ~50/50 split,
#: corr(T, pre-activity) ≈ 0.24 — genuinely confounded), fixed
#: propensity-model weights (spread probed: p ranges ~0.3–0.7), and
#: the standard clip.
IPW_TREAT_MIN_PURCHASES = 7
IPW_W0, IPW_W1, IPW_W2 = -3.0, 0.8, 0.2
IPW_CLIP_LO, IPW_CLIP_HI = 0.05, 0.95


def _ipw_sql() -> str:
    """Horvitz-Thompson IPW ATE with a fixed-weight logistic
    propensity over pre-period confounders: sigmoid rounded 6, clip,
    per-row weighted-outcome terms rounded 6 then decimal-summed."""
    return f"""
WITH b AS (
  SELECT MIN({{epoch}}(ts)) AS lo, MAX({{epoch}}(ts)) AS hi FROM events
),
u AS (
  SELECT e.user_id,
    CAST(COUNT(CASE WHEN {{epoch}}(e.ts) < b.lo + (b.hi - b.lo) {{div}} 2
               THEN 1 END) AS BIGINT) AS n_pre,
    CAST(COALESCE(SUM(CASE WHEN {{epoch}}(e.ts)
                            < b.lo + (b.hi - b.lo) {{div}} 2
                  THEN CAST(CASE WHEN isnan(e.value) OR abs(e.value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE e.value END AS DECIMAL(18,4)) END), 0)
         AS DOUBLE) AS v_pre,
    CASE WHEN COUNT(CASE WHEN {{epoch}}(e.ts)
                          < b.lo + (b.hi - b.lo) {{div}} 2
                          AND e.event_type = 'purchase' THEN 1 END)
              >= {IPW_TREAT_MIN_PURCHASES} THEN 1 ELSE 0 END AS t,
    CAST(COALESCE(SUM(CASE WHEN {{epoch}}(e.ts)
                            >= b.lo + (b.hi - b.lo) {{div}} 2
                  THEN CAST(CASE WHEN isnan(e.value) OR abs(e.value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE e.value END AS DECIMAL(18,4)) END), 0)
         AS DOUBLE) AS y
  FROM events e CROSS JOIN b
  GROUP BY e.user_id
),
scored AS (
  SELECT user_id, t, y,
         LEAST({IPW_CLIP_HI}, GREATEST({IPW_CLIP_LO},
           round(CAST(1 AS DOUBLE)
                 / (CAST(1 AS DOUBLE)
                    + exp(-({IPW_W0} + {IPW_W1} * (n_pre / 10.0)
                            + {IPW_W2} * (v_pre / 1000.0)))), 6)))
           AS p
  FROM u
),
terms AS (
  SELECT t, y, p,
         CAST(round(t * y / p, 6) AS DECIMAL(19,6)) AS wy1,
         CAST(round((1 - t) * y / (1 - p), 6) AS DECIMAL(19,6)) AS wy0,
         CAST(round(t / p, 6) AS DECIMAL(19,6)) AS w1,
         CAST(round((1 - t) / (1 - p), 6) AS DECIMAL(19,6)) AS w0
  FROM scored
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(t) AS BIGINT) AS n_treated,
       round(CAST(SUM(CASE WHEN t = 1 THEN CAST(p AS DECIMAL(18,6)) END)
                  AS DOUBLE) / SUM(t), 6) AS mean_p_treated,
       round(CAST(SUM(CASE WHEN t = 1 THEN CAST(y AS DECIMAL(18,4)) END)
                  AS DOUBLE) / SUM(t)
             - CAST(SUM(CASE WHEN t = 0 THEN CAST(y AS DECIMAL(18,4)) END)
                    AS DOUBLE) / (COUNT(*) - SUM(t)), 6) AS ate_naive,
       round(CAST(SUM(wy1) AS DOUBLE) / CAST(SUM(w1) AS DOUBLE)
             - CAST(SUM(wy0) AS DOUBLE) / CAST(SUM(w0) AS DOUBLE), 6)
         AS ate_ipw,
       round(CAST(SUM(w1) AS DOUBLE) * CAST(SUM(w1) AS DOUBLE)
             / CAST(SUM(w1 * CAST(w1 AS DECIMAL(20,6))) AS DOUBLE), 2)
         AS ess_treated
FROM terms
"""


@register(
    "ev_propensity_ipw",
    oracle=_ipw_sql().format(epoch="epoch_us", div="//"),
    description="observational causal effect via inverse-propensity"
    " weighting: self-selected treatment (heavy pre-period"
    " purchasers), fixed-weight logistic propensity over pre-period"
    " confounders, clipped Hajek-normalized IPW ATE beside the naive"
    " difference, with the treated effective sample size — the"
    " confounding-corrected estimate A/B tests cannot give you when"
    " assignment was not randomized",
    tags=("events", "causal", "stats", "ipw"),
)
def ev_propensity_ipw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """When treatment is SELF-selected (users who bought ≥7 times —
    probed: a ~50/50 split genuinely correlated with pre-period
    activity), the naive treated-vs-control difference mixes the
    effect with the confounding; weighting each user by 1/p(T|X)
    (Horvitz-Thompson, Hajek-normalized here) recovers an unbiased
    ATE under unconfoundedness. The propensity model is the same
    fixed-weight-logistic inference shape as ta_logreg_quality
    (weights as config, sigmoid rounded 6), probabilities clipped to
    [0.05, 0.95] exactly as production IPW clips, and every weighted
    term is a per-row double rounded 6 then decimal-summed — so the
    whole estimator is one user-keyed aggregate plus one single-row
    reduce, the CUPED plan shape with weights instead of covariance.
    ess_treated = (Σw)²/Σw² is the overlap diagnostic reviewers ask
    for: how many effective users survive the weighting."""
    text = _ipw_sql().format(epoch="unix_micros", div="DIV")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


_SEQ_SUPPORT_SQL = """
WITH f AS (
  SELECT user_id, event_type, MIN(ts) AS first_ts
  FROM events GROUP BY user_id, event_type
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(COUNT(*) AS BIGINT) AS n_users_both,
       CAST(COUNT(CASE WHEN a.first_ts < b.first_ts THEN 1 END)
            AS BIGINT) AS n_a_first,
       CAST(COUNT(CASE WHEN b.first_ts < a.first_ts THEN 1 END)
            AS BIGINT) AS n_b_first,
       CAST(COUNT(CASE WHEN a.first_ts = b.first_ts THEN 1 END)
            AS BIGINT) AS n_tie,
       round(COUNT(CASE WHEN a.first_ts < b.first_ts THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS pct_a_first
FROM f a
JOIN f b ON b.user_id = a.user_id AND a.event_type < b.event_type
GROUP BY a.event_type, b.event_type
ORDER BY type_a, type_b
"""


@register(
    "ev_seq_pattern_support",
    oracle=_SEQ_SUPPORT_SQL,
    description="sequential-pattern support census: for every"
    " event-type pair, how many users' FIRST occurrence of A precedes"
    " their first of B (supports 69–83 of 150 at sf0.01 — a real"
    " ordering signal, probed) — the length-2 PrefixSpan support"
    " table that seeds sequence mining",
    tags=("events", "sequence", "mining"),
)
def ev_seq_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining's first question is which orderings are even
    common, and the exists-A-before-B formulation degenerates on
    month-long histories (min(A) < max(B) is true for ~every pair) —
    probed, so the census uses FIRST occurrences: whose debut came
    first. That reduces to a (user, type)-keyed MIN aggregate (one
    shuffle) and a user-keyed self-join bounded by |types|² rows per
    user; the support counts are exact and the tie column makes the
    trichotomy total (same-microsecond debuts count as neither
    order). At 100 TB the per-user type table is |types| rows — the
    join never touches raw events twice. The full PrefixSpan
    iteration (grow supported prefixes) repeats exactly this shape
    per pattern length; length-2 is the census every run starts
    from (length-3 support needs the same first-ts table joined
    three ways — identical cost model)."""
    return sql(
        spark, _SEQ_SUPPORT_SQL, events=load_table(spark, sf_dir, "events")
    )


#: Stickiness: the engaged-action event type and the trailing window
#: width (days). Probed: all-event WAU saturates at the full user
#: base (150/150), purchase-scoped W3AU varies 99–121 at sf0.01 —
#: the ratio is non-degenerate only for the sparser action.
STICKY_EVENT = "purchase"
STICKY_WINDOW_DAYS = 3


def _stickiness_sql() -> str:
    """DAU / trailing-W-day AU for the engaged action via the bounded
    explode: each active (user, day) contributes to the W window-ends
    it falls in — a ×W fanout then a distinct count per window end,
    the standard distributed rolling-distinct (no per-day rescans,
    no corpus-wide window)."""
    w = STICKY_WINDOW_DAYS
    return f"""
WITH ud AS (
  SELECT DISTINCT user_id, {{epoch}}(ts) {{div}} 86400000000 AS d
  FROM events WHERE event_type = '{STICKY_EVENT}'
),
bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM ud),
dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_dau FROM ud GROUP BY d),
fan AS (
  SELECT user_id, d + ofs AS wend
  FROM ud CROSS JOIN ({{offsets}}) o
),
wau AS (
  SELECT wend, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_wau
  FROM fan GROUP BY wend
)
SELECT CAST(dau.d AS BIGINT) AS day_index,
       dau.n_dau,
       wau.n_wau AS n_wau_{w}d,
       round(dau.n_dau / CAST(wau.n_wau AS DOUBLE), 4) AS stickiness
FROM dau
JOIN wau ON wau.wend = dau.d
CROSS JOIN bounds b
WHERE dau.d BETWEEN b.lo + {w - 1} AND b.hi
ORDER BY day_index
"""


@register(
    "ev_stickiness_ratio",
    oracle=_stickiness_sql().format(
        epoch="epoch_us", div="//",
        offsets="SELECT unnest(range(0, "
        f"{STICKY_WINDOW_DAYS})) AS ofs",
    ),
    description="engagement stickiness (the DAU/MAU family): daily"
    f" purchasing users over trailing-{STICKY_WINDOW_DAYS}-day"
    " purchasing users via the bounded-explode rolling distinct —"
    " probed on the sparser action because all-event WAU saturates at"
    " the full user base — the habit-strength curve per day",
    tags=("events", "growth", "engagement", "window"),
)
def ev_stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness (DAU/MAU, here DAU/W3AU on the engaged action) asks
    what fraction of the rolling active base shows up daily. Rolling
    DISTINCT does not decompose like a sum, so the scalable form is
    the bounded explode: each active (user, day) row contributes to
    exactly W window-ends, then one distinct-count per window end —
    a ×W fanout of the (user, day) table, never a per-day rescan and
    never a corpus-sized window (window_running_distinct's
    first-occurrence trick solves the CUMULATIVE variant; the
    trailing variant needs the fanout). The action and width are
    probed, not assumed (see STICKY_* comment): all-event weekly AU
    saturates at 150/150 and would hash a constant. Edge days
    without a full trailing window are excluded via the bounds
    join."""
    text = (
        _stickiness_sql().format(
            epoch="unix_micros", div="DIV",
            offsets="SELECT explode(sequence(0, "
            f"{STICKY_WINDOW_DAYS - 1})) AS ofs",
        )
    )
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


def _ohlc_sql() -> str:
    """Hourly OHLC bars: open/close via rank-1 rows under the
    (ts, event_id) total order, high/low/volume as plain aggregates —
    one hour-keyed shuffle plus hour-partitioned windows."""
    return """
WITH based AS (
  SELECT {epoch}(ts) {div} 3600000000 AS eh, ts, event_id,
         CAST(CASE WHEN isnan(value) OR abs(value) = CAST('Infinity' AS DOUBLE) THEN NULL ELSE value END AS DECIMAL(18,4)) AS v
  FROM events
),
ranked AS (
  SELECT eh, v,
         row_number() OVER (PARTITION BY eh
                            ORDER BY ts, event_id) AS rn_open,
         row_number() OVER (PARTITION BY eh
                            ORDER BY ts DESC, event_id DESC) AS rn_close
  -- bars are over FINITE ticks only: a non-finite first/last tick
  -- must not claim the open/close rank nor pad n_events (support
  -- parity with the high/low/volume aggregates, which skip NULL v)
  FROM based WHERE v IS NOT NULL
),
oc AS (
  SELECT eh,
         CAST(MAX(CASE WHEN rn_open = 1 THEN v END) AS DOUBLE)
           AS open_v,
         CAST(MAX(CASE WHEN rn_close = 1 THEN v END) AS DOUBLE)
           AS close_v,
         CAST(MAX(v) AS DOUBLE) AS high_v,
         CAST(MIN(v) AS DOUBLE) AS low_v,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(v) AS DOUBLE) AS volume
  FROM ranked GROUP BY eh
)
SELECT CAST(eh AS BIGINT) AS hour_index,
       open_v, high_v, low_v, close_v, n_events,
       round(volume, 4) AS volume
FROM oc
ORDER BY hour_index
"""


@register(
    "ev_ohlc_bars",
    oracle=_ohlc_sql().format(epoch="epoch_us", div="//"),
    description="hourly OHLC bars over event values: open/close by the"
    " (ts, event_id) total order, high/low/volume as plain"
    " aggregates — the candlestick rollup time-series stores serve,"
    " as one hour-keyed shuffle",
    tags=("events", "window", "temporal", "ohlc"),
)
def ev_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC is the canonical order-sensitive rollup: high/low/volume
    are plain partial aggregates, but open/close depend on WHICH row
    came first/last — resolved by rank-1 rows under the same
    (ts, event_id) per-key total order every ev_* sequence op pins
    (two row_number windows sharing the hour partition the group-by
    needs anyway, so no extra shuffle). Values ride DECIMAL(18,4)
    so the volume sum is order-free; open/high/low/close are exact
    row values. At 100 TB the hour key partitions cleanly and each
    bar's state is O(1) — the same shape TimescaleDB/kdb serve
    continuously, here as the batch rollup with a driver hash."""
    text = _ohlc_sql().format(epoch="unix_micros", div="DIV")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


#: Attribution-window grid for the conversion-sensitivity sweep
#: (probed: 1/21/57/142 of 150 converters at sf0.01 — every rung
#: moves).
CONV_WINDOWS = (
    ("1_hour", 1), ("2_six_hours", 6), ("3_one_day", 24),
    ("4_seven_days", 168),
)


def _conv_window_sql() -> str:
    grid = ", ".join(f"('{lab}', {h})" for lab, h in CONV_WINDOWS)
    return f"""
WITH s AS (
  SELECT user_id, MIN(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT s.user_id, MIN(e.ts) AS p_ts
  FROM s JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
   AND e.ts > s.s_ts
  GROUP BY s.user_id
),
d AS (
  SELECT s.user_id,
         {{epoch}}(p.p_ts) - {{epoch}}(s.s_ts) AS delta_us
  FROM s LEFT JOIN p ON p.user_id = s.user_id
),
grid AS (SELECT * FROM (VALUES {grid}) AS g(window_label, window_hours))
SELECT g.window_label,
       CAST(g.window_hours AS BIGINT) AS window_hours,
       CAST(COUNT(*) AS BIGINT) AS n_eligible,
       CAST(COUNT(CASE WHEN d.delta_us
                  <= g.window_hours * CAST(3600000000 AS BIGINT)
                  THEN 1 END) AS BIGINT) AS n_converted,
       round(COUNT(CASE WHEN d.delta_us
                   <= g.window_hours * CAST(3600000000 AS BIGINT)
                   THEN 1 END) / CAST(COUNT(*) AS DOUBLE), 4)
         AS conversion_rate
FROM d CROSS JOIN grid g
GROUP BY g.window_label, g.window_hours
ORDER BY g.window_label
"""


@register(
    "ev_conversion_window_sensitivity",
    oracle=_conv_window_sql().format(epoch="epoch_us"),
    description="attribution-window sensitivity: first-signup →"
    " first-subsequent-purchase conversion at 1h/6h/1d/7d windows —"
    " the sweep that shows how much a reported conversion rate is an"
    " artifact of the window choice (1/21/57/142 of 150 on the"
    " fixture), as one pass over per-user first-event times",
    tags=("events", "funnel", "sensitivity"),
)
def ev_conversion_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Every funnel number hides an attribution window, and moving it
    moves the metric — the sweep makes that visible before anyone
    ships 'conversion improved'. Per-user first signup and first
    LATER purchase are two keyed MIN aggregates (the strictly-after
    condition keeps pre-signup purchases from converting backwards);
    the grid is a 4-row broadcast, so the whole sweep is the same
    one-pass cost as a single-window funnel. ev_funnel fixes one
    window and counts stage-by-stage; ev_funnel_time_quantiles shows
    the latency distribution; this hashes the METRIC'S derivative
    with respect to the window — the sensitivity reviewers should
    ask for."""
    text = _conv_window_sql().format(epoch="unix_micros")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


_BURSTINESS_SQL = """
WITH pp AS (
  -- ts IS NOT NULL: an undated purchase diverges the engines — under
  -- Spark's NULLS FIRST its lag pair is filtered (prev NULL), under
  -- DuckDB's NULLS LAST it mints a NULL gap row that COUNT(*) counts
  -- and the sums skip (n_gaps off by one, diluted mean) — the r14
  -- undated-purchase fixture row caught exactly this
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
g AS (
  SELECT round(({epoch}(ts) - {epoch}(prev))
               / CAST(3600000000 AS DOUBLE), 6) AS gap_h
  FROM pp WHERE prev IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
       round(CAST(SUM(CAST(gap_h AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 4) AS mean_gap_h,
       round(sqrt(CAST(SUM(CAST(gap_h AS DECIMAL(18,6))
                          * CAST(gap_h AS DECIMAL(19,6))) AS DOUBLE)
                  / COUNT(*)
                  - (CAST(SUM(CAST(gap_h AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*))
                    * (CAST(SUM(CAST(gap_h AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(*))), 4) AS sd_gap_h,
       round(sqrt(CAST(SUM(CAST(gap_h AS DECIMAL(18,6))
                          * CAST(gap_h AS DECIMAL(19,6))) AS DOUBLE)
                  / COUNT(*)
                  - (CAST(SUM(CAST(gap_h AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*))
                    * (CAST(SUM(CAST(gap_h AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(*)))
             / (CAST(SUM(CAST(gap_h AS DECIMAL(18,6))) AS DOUBLE)
                / COUNT(*)), 4) AS cv,
       round(COUNT(CASE WHEN gap_h < 12 THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS pct_lt_12h,
       round(COUNT(CASE WHEN gap_h < 24 THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS pct_lt_24h,
       round(COUNT(CASE WHEN gap_h < 48 THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS pct_lt_48h
FROM g
"""


@register(
    "ev_interpurchase_burstiness",
    oracle=_BURSTINESS_SQL.format(epoch="epoch_us"),
    description="inter-purchase interval distribution: mean/sd/CV of"
    " per-user gaps plus exact share-under-threshold rungs — CV ≈ 1"
    " is Poisson-like, > 1 bursty, < 1 regular (the fixture probes"
    " 1.022, honestly memoryless), the demand-process diagnostic"
    " inventory and CRM models start from",
    tags=("events", "temporal", "stats"),
)
def ev_interpurchase_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Whether purchases arrive like a Poisson process (CV = 1) or in
    bursts (CV > 1) decides which demand model applies. Gaps come
    from the standard per-user (ts, event_id) lag; each gap is
    rounded 6 (hours) so the moment sums are exact decimals — the
    variance rides the moment identity with the (19,6) widening, and
    CV is one derived double rounded 4. The threshold rungs are
    exact count ratios (no percentile interpolation — Spark and
    DuckDB interpolate exact percentiles differently, the
    agg_percentile_audit lesson). One user-keyed window + one
    single-row reduce."""
    text = _BURSTINESS_SQL.format(epoch="unix_micros")
    return sql(spark, text, events=load_table(spark, sf_dir, "events"))


_VALUE_VALIDATE_SQL = """
SELECT event_type,
       COUNT(*) AS n_total,
       COUNT(CASE WHEN value IS NULL THEN 1 END) AS n_null,
       COUNT(CASE WHEN isnan(value) THEN 1 END) AS n_nan,
       COUNT(CASE WHEN value = CAST('Infinity' AS DOUBLE) THEN 1 END)
         AS n_pos_inf,
       COUNT(CASE WHEN value = CAST('-Infinity' AS DOUBLE) THEN 1 END)
         AS n_neg_inf,
       COUNT(CASE WHEN value IS NOT NULL AND NOT isnan(value)
                   AND abs(value) <> CAST('Infinity' AS DOUBLE)
             THEN 1 END) AS n_finite
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "ev_value_validate",
    oracle=_VALUE_VALIDATE_SQL,
    description="numeric validity census per event type: counts of"
    " NULL / NaN / +Inf / -Inf / finite values in events.value — the"
    " observable twin of the functions/numeric finite gate, so the"
    " rows dsum/davg exclude by contract are COUNTED, never silently"
    " vanished (the metric-column analogue of sim_embedding_validate)",
    tags=("events", "dq", "audit", "census"),
)
def ev_value_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-finite contract (functions/numeric.py) EXCLUDES NaN/±Inf
    from every decimal-exact aggregate on both engines — correct, but
    at 100 TB a silent exclusion must be countable or an upstream bug
    (a service suddenly emitting NaN) hides inside stable-looking
    sums. This census is the validate step for the numeric gate:
    per-type conditional counts in one scan, classes disjoint by
    construction (NULL / NaN / +Inf / −Inf / finite partition the
    column exactly, so n_total reconciles), one bounded-key shuffle.
    Spark's isnan(NULL) is FALSE and DuckDB's is NULL — both fall
    through the CASE, so the clauses never double count; ±Inf equality
    comparisons are IEEE-exact. The dirty-fixture
    test pins that each injected non-finite row lands in exactly its
    class; ONE shared SQL text is both the Spark query and the DuckDB
    oracle (parity by construction)."""
    return sql(
        spark, _VALUE_VALIDATE_SQL, events=load_table(spark, sf_dir, "events")
    )
