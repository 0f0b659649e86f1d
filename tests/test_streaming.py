"""Streaming-specific tests beyond the registry parity gate: the
foreachBatch MERGE sink (idempotent upsert keyed by event_id)."""

from __future__ import annotations

import os

import pytest

from mcp_rag_server_spark.streaming.events_stream import merge_events_stream

SF0001 = "/root/testdata/sf0.001"


def test_foreach_batch_merge_idempotent(spark, tmp_path):
    target = str(tmp_path / "merge1")
    merge_events_stream(spark, SF0001, target)
    merged = spark.read.parquet(os.path.join(target, "events_merged"))
    n_src = spark.read.parquet(os.path.join(SF0001, "events.parquet")).count()
    n_distinct = merged.select("event_id").distinct().count()
    assert merged.count() == n_distinct  # one row per key after upsert
    assert n_distinct <= n_src

    # Replaying the same stream into a fresh checkpoint must not add rows
    # (the MERGE is keyed, so duplicates collapse).
    import shutil

    shutil.rmtree(os.path.join(target, "_checkpoint"))
    merge_events_stream(spark, SF0001, target)
    spark.catalog.refreshByPath(os.path.join(target, "events_merged"))
    again = spark.read.parquet(os.path.join(target, "events_merged"))
    assert again.count() == n_distinct


def test_transform_with_state_when_available(spark):
    """Spark 4's transformWithStateInPandas needs protobuf in the Python
    worker; gated as a capability (mcp_rag_server_spark/streaming/
    stateful.py::transform_with_state_available). When available, the
    multi-batch result must equal the batch count/min aggregate."""
    import pytest

    from mcp_rag_server_spark.streaming.stateful import (
        st_transform_with_state,
        transform_with_state_available,
    )

    if not transform_with_state_available():
        pytest.skip("protobuf not installed: transformWithState runner unavailable")

    import pyspark.sql.functions as F

    from mcp_rag_server_spark.catalog import load_table

    got = st_transform_with_state(spark, "/root/testdata/sf0.001").collect()
    want = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.min("value").alias("min_value"))
        .orderBy("user_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_streaming_ingest_checkpointed_incremental(spark, tmp_path):
    """Continuous-ingest mode: the streaming file source's checkpoint is
    the incremental-refresh ledger — a second availableNow run after new
    files arrive ingests ONLY the new files (no re-chunking of old ones,
    no duplicates), surviving across separate query instances."""
    from mcp_rag_server_spark.operators.chunking import DOC_CHUNK_OVERLAP  # noqa: F401
    from mcp_rag_server_spark.streaming.ingest_stream import run_ingest_stream

    root = tmp_path / "corpus"
    (root / "sub").mkdir(parents=True)
    (root / "a.txt").write_text("alpha " * 40)
    (root / "sub" / "b.txt").write_text("bravo " * 80)
    (root / "skip.md").write_text("wrong extension")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    run_ingest_stream(spark, str(root), store, ckpt, chunk_size=120, chunk_overlap=30)
    first = spark.read.parquet(store).collect()
    paths = {r["rel_path"] for r in first}
    assert paths == {"a.txt", "sub/b.txt"}
    # chunk semantics identical to the batch chunker
    from tests.test_ingest import ref_split_chunks

    a_chunks = sorted(
        (r for r in first if r["rel_path"] == "a.txt"), key=lambda r: r["chunk"]
    )
    assert [r["text"] for r in a_chunks] == ref_split_chunks("alpha " * 40, 120, 30)

    # New file arrives; old file UNCHANGED must not be re-ingested.
    (root / "c.txt").write_text("charlie " * 30)
    run_ingest_stream(spark, str(root), store, ckpt, chunk_size=120, chunk_overlap=30)
    second = spark.read.parquet(store).collect()
    by_path = {}
    for r in second:
        by_path.setdefault(r["rel_path"], []).append(r)
    assert set(by_path) == {"a.txt", "sub/b.txt", "c.txt"}
    # no duplicates: per (rel_path, chunk) exactly one row
    keys = [(r["rel_path"], r["chunk"]) for r in second]
    assert len(keys) == len(set(keys))
    # old rows byte-identical (came from the first run's files)
    assert sorted(map(tuple, (r for r in second if r["rel_path"] != "c.txt"))) == \
        sorted(map(tuple, first))


def test_scd1_apply_batch_skips_replayed_batch(spark, tmp_path):
    """apply_batch must be idempotent under checkpoint batch replay: a
    crash between the snapshot swap and the checkpoint commit makes
    foreachBatch re-deliver the same batch_id on restart, and re-merging
    it would double-count n_events. The _batch_id sidecar (written into
    the staged snapshot before the swap) is the high-water mark."""
    from mcp_rag_server_spark.catalog import load_table
    from mcp_rag_server_spark.streaming.cdc_stream import (
        apply_batch,
        applied_batch_id,
    )

    tgt = str(tmp_path / "latest_state")
    ev = load_table(spark, SF0001, "events").limit(200)
    half = ev.filter("event_id % 2 = 0")

    apply_batch(tgt, half, 0)
    apply_batch(tgt, ev.filter("event_id % 2 = 1"), 1)
    assert applied_batch_id(tgt) == 1
    snap1 = spark.read.parquet(tgt)
    total = snap1.agg({"n_events": "sum"}).collect()[0][0]
    assert total == 200

    # Replay batch 1 (and an older batch 0): both must be skipped.
    apply_batch(tgt, ev.filter("event_id % 2 = 1"), 1)
    apply_batch(tgt, half, 0)
    spark.catalog.refreshByPath(tgt)
    again = spark.read.parquet(tgt)
    assert again.agg({"n_events": "sum"}).collect()[0][0] == 200
    assert applied_batch_id(tgt) == 1


def _seed_events(tmp_path) -> str:
    """A corpus dir whose events.parquet holds 50 events with ids no
    sf0.001 event has, so merging sf0.001 on top must keep all 50."""
    import duckdb

    seed = tmp_path / "seed"
    seed.mkdir()
    duckdb.sql(
        "COPY (SELECT * REPLACE (event_id + 1000000000 AS event_id) "
        f"FROM read_parquet('{SF0001}/events.parquet') ORDER BY event_id LIMIT 50) "
        f"TO '{seed}/events.parquet' (FORMAT PARQUET)"
    )
    return str(seed)


@pytest.mark.parametrize("sink", ["apply_batch", "merge_events_stream"])
@pytest.mark.parametrize(
    "call, nth",
    [("rename", 1), ("rename", 2), ("rmtree", 1)],
    ids=["rename-1", "rename-2", "rmtree"],
)
def test_crashed_merge_recovers(spark, tmp_path, monkeypatch, sink, call, nth):
    """A streaming merge that dies at any step of its snapshot swap
    (either rename, or partway through deleting a copy) loses nothing:
    replaying the batch after the restart leaves the same table and the
    same high-water mark as a run that never crashed. ``apply_batch``
    merges batch 1 onto the snapshot of batch 0; ``merge_events_stream``
    merges sf0.001's events onto 50 stored rows with other keys, and
    its restart reuses the crashed run's checkpoint."""
    import shutil

    from mcp_rag_server_spark.catalog import load_table
    from mcp_rag_server_spark.streaming.cdc_stream import (
        apply_batch,
        applied_batch_id,
    )

    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    if sink == "apply_batch":
        ev = load_table(spark, SF0001, "events")
        b0, b1 = ev.filter("event_id % 5 = 0"), ev.filter("event_id % 5 = 1")
        tables = {t: os.path.join(t, "latest_state") for t in (clean, crashed)}
        for tgt in tables.values():
            apply_batch(tgt, b0, 0)

        def merge(target: str) -> None:
            apply_batch(tables[target], b1, 1)

    else:
        seed = _seed_events(tmp_path)
        tables = {t: os.path.join(t, "events_merged") for t in (clean, crashed)}
        for target in tables:
            merge_events_stream(spark, seed, target)
            shutil.rmtree(os.path.join(target, "_checkpoint"))

        def merge(target: str) -> None:
            merge_events_stream(spark, SF0001, target)

    merge(clean)
    module = {"rename": os, "rmtree": shutil}[call]
    real = getattr(module, call)
    calls = []

    def crash_on_nth(*args, **kwargs):
        calls.append(args)
        if len(calls) != nth:
            return real(*args, **kwargs)
        if call == "rmtree":  # delete one data file, then die
            parquet = sorted(f for f in os.listdir(args[0]) if f.endswith(".parquet"))
            os.remove(os.path.join(args[0], parquet[0]))
        raise OSError("crash injected by the test")

    monkeypatch.setattr(module, call, crash_on_nth)
    with pytest.raises(Exception, match="crash injected"):
        merge(crashed)
    monkeypatch.undo()

    merge(crashed)  # the restart replays the batch that died
    got, want = (
        sorted(map(tuple, spark.read.parquet(tables[t]).collect()))
        for t in (crashed, clean)
    )
    assert got == want
    assert applied_batch_id(tables[crashed]) == applied_batch_id(tables[clean])


def test_scd1_merge_is_split_invariant(spark, tmp_path):
    """The merge algebra claim, tested directly: slicing the same event
    log into 1, 3, or 7 batches (deterministic mod split) must produce
    byte-identical snapshots — latest = max(ts, event_id) is
    associative/commutative and counts add."""
    from mcp_rag_server_spark.catalog import load_table
    from mcp_rag_server_spark.streaming.cdc_stream import apply_batch

    ev = load_table(spark, SF0001, "events").limit(400)
    results = {}
    for n_splits in (1, 3, 7):
        tgt = str(tmp_path / f"snap_{n_splits}")
        for b in range(n_splits):
            apply_batch(tgt, ev.filter(f"event_id % {n_splits} = {b}"), b)
        rows = sorted(
            map(tuple, spark.read.parquet(tgt).collect())
        )
        results[n_splits] = rows
    assert results[1] == results[3] == results[7]


def test_ingest_append_batch_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch must REPLACE its own batch_id partition,
    not append a duplicate copy; a genuinely new batch still lands."""
    from mcp_rag_server_spark.streaming.ingest_stream import append_batch

    store = str(tmp_path / "store")
    df = spark.range(10).selectExpr("CAST(id AS STRING) AS rel_path")
    append_batch(store, df, 0)
    assert spark.read.parquet(store).count() == 10
    append_batch(store, df, 0)  # checkpoint replay of batch 0
    spark.catalog.refreshByPath(store)
    assert spark.read.parquet(store).count() == 10
    append_batch(store, df, 1)
    spark.catalog.refreshByPath(store)
    assert spark.read.parquet(store).count() == 20


def test_scd1_swap_recovery_discards_partial_first_batch(spark, tmp_path):
    """A crash DURING the very first staged write (no old snapshot, no
    _batch_id marker yet) must NOT be promoted: the partial dir is
    discarded and the replayed batch rebuilds from scratch — promoting
    it would wedge every later read with UNABLE_TO_INFER_SCHEMA."""
    from mcp_rag_server_spark.catalog import load_table
    from mcp_rag_server_spark.streaming.cdc_stream import (
        apply_batch,
        applied_batch_id,
    )

    tgt = str(tmp_path / "latest_state")
    # Simulate the crash artifact: a staged dir with no parquet and no
    # _batch_id marker (the marker is written only after a complete
    # parquet write).
    os.makedirs(tgt + ".next/_temporary")
    ev = load_table(spark, SF0001, "events").limit(50)
    apply_batch(tgt, ev, 0)  # the replay
    spark.catalog.refreshByPath(tgt)
    assert applied_batch_id(tgt) == 0
    assert (
        spark.read.parquet(tgt).agg({"n_events": "sum"}).collect()[0][0]
        == 50
    )
    assert not os.path.exists(tgt + ".next")


def test_incremental_rollup_replay_is_idempotent(spark):
    """Re-applying an already-merged batch_id must be a no-op (the
    _batch_id high-water mark) — otherwise a checkpoint replay would
    double-count the rollup partials."""
    import os
    import shutil
    import tempfile

    from mcp_rag_server_spark.catalog import load_table
    from mcp_rag_server_spark.streaming.cdc_stream import apply_merge_batch
    from mcp_rag_server_spark.streaming.rollup_stream import (
        _rollup_merge,
        _rollup_snapshot,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(500)
    base = os.path.join(tempfile.gettempdir(), "spark_graft_rollup_replay")
    shutil.rmtree(base, ignore_errors=True)
    tgt = os.path.join(base, "snap")
    os.makedirs(base, exist_ok=True)
    apply_merge_batch(tgt, ev, 0, _rollup_snapshot, _rollup_merge)
    first = sorted(
        tuple(r) for r in spark.read.parquet(tgt).collect()
    )
    # replay the same batch — must be skipped, not re-merged
    apply_merge_batch(tgt, ev, 0, _rollup_snapshot, _rollup_merge)
    second = sorted(
        tuple(r) for r in spark.read.parquet(tgt).collect()
    )
    assert first == second
    shutil.rmtree(base, ignore_errors=True)


def test_kmv_stream_sketch_is_split_invariant(spark):
    """st_kmv_sketch's merge algebra: building per-half sketches from an
    arbitrary split of the events table and merging them must equal the
    sketch of the whole table — the property that makes the streamed
    artifact hash-comparable to a batch oracle no matter how the log is
    cut into micro-batches (and, at 100 TB, lets per-shard sketches
    combine without re-scanning history)."""
    import pyspark.sql.functions as F

    from mcp_rag_server_spark.streaming.rollup_stream import (
        _kmv_merge,
        _kmv_snapshot,
    )

    ev = spark.read.parquet(os.path.join(SF0001, "events.parquet"))
    whole = _kmv_snapshot(ev)
    a = ev.filter(F.col("event_id") % 3 == 0)
    b = ev.filter(F.col("event_id") % 3 != 0)
    merged = _kmv_merge(_kmv_snapshot(a), _kmv_snapshot(b))
    assert sorted(whole.collect()) == sorted(merged.collect())
    # merge is idempotent: re-merging the whole sketch is a no-op
    again = _kmv_merge(whole, whole)
    assert sorted(again.collect()) == sorted(whole.collect())


def test_lambda_cutover_merge_tolerates_overlapping_halves(spark):
    """st_lambda_cutover's seam claim: the (count, decimal-sum) key-wise
    merge is correct even when the batch and streamed halves OVERLAP in
    hours — only the row split, never the hour boundary, decides
    correctness. Split the events at a non-hour-aligned row predicate
    (both halves own rows in shared hours) and check the merged rollup
    equals the one-shot aggregate."""
    import pyspark.sql.functions as F

    ev = spark.read.parquet(os.path.join(SF0001, "events.parquet"))

    def rollup(df):
        return df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value"), 4).cast("decimal(18,4)"))
            .cast("decimal(18,4)")
            .alias("total_value"),
        )

    one_shot = rollup(ev).select(
        "h", "event_type", "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )
    halves = rollup(ev.filter(F.col("event_id") % 2 == 0)).unionByName(
        rollup(ev.filter(F.col("event_id") % 2 == 1))
    )
    merged = halves.groupBy("h", "event_type").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("total_value")
        .cast("decimal(18,4)")
        .cast("double")
        .alias("total_value"),
    )
    assert sorted(one_shot.collect()) == sorted(merged.collect())


def test_enrich_static_keeps_unmatched_users_as_unknown(spark, tmp_path):
    """st_enrich_static's LEFT join contract: every event whose user has
    no customer row must survive into segment='UNKNOWN' (an inner join
    silently dropping them is the classic enrichment bug). The fixture
    has NO orphan users at any SF — the oracle parity gate would pass
    an inner-join regression — so run the registered operator against
    a corpus copy whose customer dim drops half its keys, forcing the
    unmatched path."""
    import pyspark.sql.functions as F

    from mcp_rag_server_spark.registry import load_all

    import duckdb

    # single parquet FILES (the fixture layout read_event_stream globs)
    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{SF0001}/events.parquet')) "
        f"TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"
    )
    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{SF0001}/customer.parquet') "
        f"WHERE c_custkey % 2 = 0) "
        f"TO '{tmp_path}/customer.parquet' (FORMAT PARQUET)"
    )
    ev = spark.read.parquet(os.path.join(SF0001, "events.parquet"))

    rows = load_all()["st_enrich_static"].spark_fn(spark, str(tmp_path)).collect()

    n_events = ev.count()
    n_orphans = ev.filter(F.col("user_id") % 2 == 1).count()
    assert n_orphans > 0, "split must exercise the unmatched path"
    assert sum(r["n_events"] for r in rows) == n_events
    unknown = sum(r["n_events"] for r in rows if r["segment"] == "UNKNOWN")
    assert unknown == n_orphans
