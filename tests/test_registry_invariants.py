"""Registry contract invariants.

The driver checks a 50-query prefix of ordered_registry() and records
BENCH_r{N}.json over the bench=True set; both contracts fail silently if
a name is mistyped (ordered_registry skips unknown names) or the bench
set drifts (numbers stop being comparable across rounds). Pin them.
"""

from __future__ import annotations

import re

import pytest

from mcp_rag_server_spark.registry import DRIVER_PRIORITY, load_all

from conftest import SF001

#: The bench headline set is fixed across rounds — BENCH_r{N}.json totals
#: are only comparable because this list never changes (BASELINE.md).
#: Sanctioned expansions only: round 4 added the five r3 flagships
#: (r3 verdict item 5), round 5 the five r4 flagships (r4 verdict
#: item 3) — see BENCH_NOTES.md; cross-round totals compare on the
#: original-18 subset, per-query times on everything.
BENCH_SET = {
    # round-8 promotions (r7 verdict item 5: the three slowest real
    # queries regressed/hid silently because none was bench=True —
    # BENCH_NOTES "Round-8 idle bench reference")
    "dd_embedding_neardup",
    "dd_method_agreement",
    "sim_compression_frontier",
    # fourth-sitting promotions (BENCH_NOTES "Round-6 sitting bench")
    "ev_ivm_delta_rollup",
    "ta_bpe_apply",
    "ta_quality_auc",
    # round-6 promotions (BENCH_NOTES "Round-6 headline-set expansion")
    "dd_jaccard_same_source",
    "sim_knn_graph",
    "ta_winnowing_fingerprint",
    "ta_gopher_rules",
    "sim_pq_adc_topk",
    "sim_kmeans_refine",
    "sim_ivfpq_topk",
    "ev_scd2_intervals",
    "chunk_split",
    "dd_minhash_lsh",
    "emb_hash_embed",
    "ev_hourly_windows",
    "ev_sessionize",
    "rag_query_result",
    "rag_topk",
    "sim_ann_topk",
    "ta_bigram_top",
    "ta_token_stats",
    "tj_asof_last_order",
    "top_parts_by_revenue",
    "tpch_q1",
    "tpch_q21_waiting_orders",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q9_product_profit",
    # round-4 additions (baseline round: BENCH_r04)
    "rag_mmr_topk",
    "rag_hybrid_topk",
    "sim_sq8_topk",
    "ta_pack_sequences",
    "ta_pii_scrub",
}


def test_driver_priority_names_exist_and_fit_window():
    reg = load_all()
    missing = [n for n in DRIVER_PRIORITY if n not in reg]
    assert not missing, f"DRIVER_PRIORITY names not in registry: {missing}"
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY)), "duplicates"
    assert len(DRIVER_PRIORITY) <= 50, (
        f"{len(DRIVER_PRIORITY)} entries — the driver checks only 50; "
        "anything past the prefix silently gets no correctness row"
    )


def test_bench_set_is_stable():
    reg = load_all()
    got = {n for n, s in reg.items() if s.bench}
    assert got == BENCH_SET, (
        "bench=True set changed — BENCH_r{N}.json totals lose cross-round "
        f"comparability. added={got - BENCH_SET} removed={BENCH_SET - got}"
    )


@pytest.mark.parametrize(
    "patterns, allowed",
    [
        # stateful.py holds a SCOPED override (set → try →
        # finally-restore) of the state-store provider around one
        # streaming query — a temporary override with cleanup, not a
        # leaked session mutation.
        pytest.param(
            (".conf.set(",), {"session.py", "stateful.py"}, id="conf"
        ),
        # catalog.sql binds a statement's relations under uuid names and
        # drops them before returning; anything else registering a
        # view rebinds a session-global name another statement reads.
        pytest.param(
            (
                ".createOrReplaceTempView(",
                ".createTempView(",
                ".createGlobalTempView(",
            ),
            {"catalog.py"},
            id="temp_view",
        ),
        # catalog.input_files is the one answer to "which files back
        # this table, and did they change"; a private stat or walk
        # elsewhere drifts from it (hidden files, file: URI decoding).
        pytest.param(
            ("os.stat(", "os.path.getsize(", "os.walk(", ".inputFiles()"),
            {"catalog.py"},
            id="file_listing",
        ),
        # sources/ingest.py's replace_dir is the one way to replace a
        # live directory (and recover_dir its one rollback); a second
        # rename-based swap elsewhere has its own crash windows.
        pytest.param(("os.rename(", "os.replace("), {"ingest.py"}, id="dir_swap"),
        # events_stream.run_foreach_batch is the one streaming sink: a
        # memory sink registers a session-global view per query name
        # that outlives the call, and a second writeStream call site is
        # a second runner with its own checkpoint and result handling.
        pytest.param(
            (".queryName(", 'format("memory")'), set(), id="stream_sink"
        ),
        pytest.param((".writeStream",), {"events_stream.py"}, id="stream_writer"),
        # a registered function name is session-global: a second call
        # rebinds it under a concurrent statement and it outlives the
        # call. A UDTF is applied as a DataFrame lateral join instead.
        pytest.param(
            ("udtf.register(", "udf.register("), set(), id="session_name"
        ),
        # the bucket spec lives in the catalog, so ingest_bucketed_join
        # saves per-call uuid-named tables and drops them before it
        # returns; anywhere else a saved table is a leaked global name.
        pytest.param(
            (".saveAsTable(",), {"ingest_query.py"}, id="session_table"
        ),
    ],
)
def test_no_session_conf_mutation_outside_session_module(patterns, allowed):
    """Session-global state is mutated ONLY in its owning module:
    conf in session.py (VERDICT r2 item: per-call conf.set is racy
    under concurrency and hides session requirements from the
    driver-session wrapper), temp views in catalog.py (a rebound view
    name makes a concurrent statement read another query's
    relation); file stats and listings are read ONLY in catalog.py
    too, a live directory is renamed ONLY in sources/ingest.py, a
    stream is written ONLY by streaming/events_stream.py's foreachBatch
    runner, no function name is registered, and a table is saved ONLY
    by operators/ingest_query.py."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "mcp_rag_server_spark"
    offenders = [
        str(p.relative_to(pkg.parent))
        for p in pkg.rglob("*.py")
        if p.name not in allowed
        and any(pat in p.read_text() for pat in patterns)
    ]
    assert offenders == [], offenders


def test_no_fixture_tuned_fanout_literal():
    """Fan-out de-collapse hints must derive their width from the
    cluster (session.fanout_width), never a fixture-tuned literal
    (r8 verdict item 2: three hard-coded repartition(32)s would
    under-spread a 1000-executor cluster 32×). Scope: operator
    modules — the ONLY repartition integers allowed there are small
    file-count knobs (<8) on fixture-writing paths; streaming/
    keeps its N_SPLIT_FILES constant (a named, documented source
    split)."""
    import pathlib
    import re

    ops = (
        pathlib.Path(__file__).resolve().parent.parent
        / "mcp_rag_server_spark"
        / "operators"
    )
    code_pat = re.compile(r"\.repartition\(\s*(\d+)")
    sql_pat = re.compile(r"REPARTITION\(\s*(\d+)")
    offenders = []
    for p in sorted(ops.glob("*.py")):
        for lineno, line in enumerate(p.read_text().splitlines(), 1):
            stripped = line.split("#", 1)[0]
            for pat in (code_pat, sql_pat):
                for m in pat.finditer(stripped):
                    if int(m.group(1)) >= 8:
                        offenders.append(f"{p.name}:{lineno}: {line.strip()}")
    assert offenders == [], (
        "fixture-tuned partition literal — use session.fanout_width: "
        f"{offenders}"
    )


#: The ONLY types allowed in query output schemas: each has VERIFIED
#: pandas-side rendering parity between Spark toPandas() and DuckDB
#: fetchdf() under the driver's string-level hash (the r11 full-registry
#: type sweep found exactly these eight in the 302 outputs — no Float/
#: Decimal/Date/Map/Binary/Array anywhere). A whitelist, not a
#: blocklist, for the same reason _corpus_count's plan-node check is
#: (r10): a blocklist silently goes stale the day a new fragile type
#: ships; an over-strict whitelist just fails a test, and the fix is a
#: one-line addition HERE after verifying the new type's rendering
#: parity on both engines.
_RENDER_SAFE_LEAF_TYPES = frozenset(
    {
        "BooleanType",
        "ByteType",
        "ShortType",
        "IntegerType",
        "LongType",
        "DoubleType",
        "StringType",
        "TimestampType",
        "TimestampNTZType",
    }
)


def _unverified_types(dt) -> set:
    """Leaf-type names (plus 'ArrayType'/'MapType'/'StructType' markers
    for nesting) in dt that are NOT on the rendering-parity whitelist."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    # Nested containers are themselves unverified: no current query
    # outputs one, and the canon for list/dict values differs between
    # engines (np.ndarray vs list, dict insertion order) in ways the
    # leaf-type whitelist cannot vouch for.
    if isinstance(dt, StructType):
        bad = {"StructType"}
        for f in dt.fields:
            bad |= _unverified_types(f.dataType)
        return bad
    if isinstance(dt, ArrayType):
        return {"ArrayType"} | _unverified_types(dt.elementType)
    if isinstance(dt, MapType):
        return (
            {"MapType"}
            | _unverified_types(dt.keyType)
            | _unverified_types(dt.valueType)
        )
    name = type(dt).__name__
    return set() if name in _RENDER_SAFE_LEAF_TYPES else {name}


def test_output_schema_types_are_rendering_verified(spark):
    """Every query output column must use a type with verified
    cross-engine rendering parity (_RENDER_SAFE_LEAF_TYPES). Known
    offenders this guards against, each a real or near-miss regression:

    - Decimal: Spark→pandas yields Decimal objects whose str() carries
      scale ('0.50'), the DuckDB side fetches float64 ('0.5') — the
      driver's string-level hash flags exactly the cases where the
      renderings diverge, and whether they diverge is an accident of
      scale (the r8→r10 agg_percentile_audit regression: decimal(2,2)
      red, decimal(2,1) green by luck). Cast to DOUBLE/BIGINT at the
      output projection; decimals are fine INSIDE a query.
    - Date: Spark toPandas → datetime.date, DuckDB fetchdf →
      Timestamp — different canon classes even for identical values
      (the ev_msprt_sequential r6 lesson). CAST day columns to
      STRING/VARCHAR at output.
    - Float (float32): promoted to float64 by canon .item(), so the
      repr exposes float32 rounding ('0.10000000149011612') whenever
      the oracle computes the same value in float64. Cast to DOUBLE.
    - Map: reaches pandas as dict; str(dict) is insertion-order-
      sensitive and Spark map ordering is not deterministic. Project
      to sorted key/value arrays or exploded rows.

    Schema analysis only — nothing executes."""
    reg = load_all()
    offenders = []
    for name in sorted(reg):
        df = reg[name].spark_fn(spark, SF001)
        bad = {
            f.name: sorted(_unverified_types(f.dataType))
            for f in df.schema.fields
            if _unverified_types(f.dataType)
        }
        if bad:
            offenders.append(f"{name}: {bad}")
    assert offenders == [], (
        "output column type lacks verified cross-engine rendering "
        "parity — cast at the projection, or verify the new type on "
        f"both engines and extend _RENDER_SAFE_LEAF_TYPES: {offenders}"
    )


def test_every_query_has_oracle_or_documented_rows_only():
    reg = load_all()
    no_oracle = [n for n, s in reg.items() if s.oracle is None]
    # Current state: every registered query is oracle-checked. If a
    # genuinely non-SQL-expressible op lands, list it explicitly here so
    # the downgrade to rows-only is a reviewed decision, not an accident.
    assert no_oracle == [], no_oracle


#: Queries whose oracle reads a calendar truncation of events.ts but
#: are ALLOWED to skip the `ts IS NOT NULL` gate: the bucket is a pure
#: output GROUP BY key, so an undated event yields one visible,
#: deterministic NULL-bucket census row on BOTH engines (no ordered
#: window touches it, no second-level statistic aggregates over the
#: bucketed rows). Any statistic computed OVER the bucketed series —
#: windows ordered by the bucket, medians/OLS/z-baselines/counts-of-
#: buckets, period splits — must gate instead: a NULL phantom bucket
#: either jitters DuckDB's parallel window sort (r13 root cause) or
#: skews the statistic's support (r14 extension: ev_trend_forecast /
#: ev_anomaly_mad / ev_anomaly_seasonal_zscore on the hour axis,
#: ev_purchase_streaks on the day axis).
CALENDAR_CENSUS_ALLOWLIST = frozenset(
    {
        # hour is the output group key; NULL-hour row is the census row
        "ev_hourly_windows",
        "st_incremental_rollup",
        # minute->hour->day rollup lattice: every level keys its output
        # by the bucket; the NULL bucket propagates as one visible row
        # per level and n_minute_rows/n_hour_rows count it as such
        "ev_hypertable_rollup",
        # cohort_day comes from a NULL-skipping MIN(ts); never-dated
        # users drop deterministically at the cohort_sizes equi-join
        # (NULL = NULL is not true on either engine), and a NULL
        # day_offset is a visible output group row — no ordered window
        "ev_cohort_retention",
    }
)

#: Calendar-unit truncations of events.ts the scan looks for (both the
#: bare and the aliased form the oracle texts use).
_TS_TRUNC_TOKENS = tuple(
    f"date_trunc('{unit}', {col})"
    for unit in ("minute", "hour", "day", "week", "month")
    for col in ("ts", "e.ts")
)


def test_calendar_statistics_gate_null_ts():
    """Static scan (r13, extended r14 to every per-bucket statistic on
    every calendar unit): an oracle that buckets events by
    date_trunc(<unit>, ts) must carry a `ts IS NOT NULL` gate unless
    it is a pure per-bucket census (allowlist above). The gate is the
    gap-compression contract: undated events are excluded from series
    statistics and stay countable via ev_value_validate
    (tests/test_dirty_input_parity.py header)."""
    reg = load_all()
    offenders = []
    for name, spec in sorted(reg.items()):
        o = spec.oracle or ""
        if not any(tok in o for tok in _TS_TRUNC_TOKENS):
            continue
        if name in CALENDAR_CENSUS_ALLOWLIST:
            continue
        if "ts IS NOT NULL" not in o:
            offenders.append(name)
    assert offenders == [], (
        "per-bucket statistic over events lacks the ts IS NOT NULL "
        "gap-compression gate (or an explicit census allowlist entry "
        f"with the NULL-bucket-row justification): {offenders}"
    )


#: Oracles with a ts-ordered window over events that are SAFE without
#: the `ts IS NOT NULL` gate, each for a verified structural reason —
#: not "the sweep happened to match" (window_running_distinct taught
#: that lesson: its MATCH was coincidental until the r14 undated-
#: purchase fixture row flipped it).
TS_WINDOW_ALLOWLIST = frozenset(
    {
        # ORDER BY ts DESC, event_id DESC: both engines place NULLs
        # LAST under DESC (Spark rule; DuckDB default null order), and
        # the event_id tiebreak makes the order total even among
        # all-NULL keys — the latest-state winner is engine-identical
        # and thread-stable
        "ev_latest_state",
        "st_latest_state",
        # hour partition key is epoch(ts): NULL ts isolates into the
        # NULL-hour partition where every ts is NULL and event_id
        # makes the order total; real partitions cannot contain a
        # NULL ts at all. The undated bar is a visible census row
        # (same contract as ev_hourly_windows)
        "ev_ohlc_bars",
    }
)

_TS_WINDOW_RE = re.compile(
    r"(?:OVER|AS)\s*\(([^()]*ORDER BY[^()]*)\)", re.S
)


def test_ts_ordered_windows_gate_null_ts():
    """Static scan (r14): a window ordered by events.ts must not admit
    a NULL order key — Spark sorts NULLS FIRST where DuckDB's default
    is NULLS LAST (engine divergence), and DuckDB's MULTITHREADED
    window sort places NULL keys nondeterministically (r13 root
    cause). Any oracle reading events with an OVER/WINDOW clause
    ordered by ts needs the `ts IS NOT NULL` gate or a structural
    justification in TS_WINDOW_ALLOWLIST."""
    reg = load_all()
    offenders = []
    for name, spec in sorted(reg.items()):
        o = spec.oracle or ""
        if "events" not in o:
            continue
        ts_wins = [
            w
            for w in _TS_WINDOW_RE.findall(o)
            if re.search(r"ORDER BY\s+(?:e\.)?ts\b", w)
        ]
        if not ts_wins:
            continue
        if name in TS_WINDOW_ALLOWLIST:
            continue
        if "ts IS NOT NULL" not in o:
            offenders.append(name)
    assert offenders == [], (
        "ts-ordered window over events admits a NULL order key "
        "(engine-divergent and DuckDB-thread-jittery) — gate with "
        "ts IS NOT NULL in both texts or justify in "
        f"TS_WINDOW_ALLOWLIST: {offenders}"
    )
