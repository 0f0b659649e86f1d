"""``session.spread_scan``: the size-aware de-collapse of a scan.

``spread_scan`` re-spreads a scan whose file layout yields fewer tasks
than the cluster has cores: one task per ``_SPREAD_TASK_BYTES`` of
on-disk scan input (``catalog.input_files``), floored at 8, capped at
the cluster width. It is idempotent (a frame whose lineage already
carries a RepartitionByExpression is returned untouched — no double
exchange), and a lineage with no local file scan is returned untouched
without running a job. These tests pin:

1. SIZING MATH: the width formula against the live fixture byte sizes
   (deficit regime → sized width; enough estimated splits under the
   session's ``spark.sql.files.maxPartitionBytes`` → no-op).
2. KEYED EXCHANGE IN THE PLAN: spread targets carry a hashpartitioning
   exchange on the declared key below the heavy stage — the structural
   claim OPTIMIZATION_r15.md makes per query.
3. WIDTH-INDEPENDENT VALUES: collected rows are identical across
   spread widths (the registry's per-row-math / order-free-aggregate
   determinism rule, now exercised explicitly for the spread class).
4. GUARDS: zero keys raise; an already-spread frame is not re-spread;
   a non-local scan is not sized.
"""

from __future__ import annotations

import os

import pytest
from conftest import SF0001, SF001

from mcp_rag_server_spark import session
from mcp_rag_server_spark.catalog import load_table
from mcp_rag_server_spark.obs import count_jobs
from mcp_rag_server_spark.registry import load_all
from mcp_rag_server_spark.session import spread_scan

#: bench spread targets whose FINAL plan retains the keyed exchange
#: (query name → hash key the spread declares). Queries that fold the
#: exchange into a downstream checkpoint job (dd_method_agreement,
#: ta_bpe_*) are pinned by test_plan_shapes'
#: test_final_plans_read_checkpointed_stage instead.
SPREAD_PLAN_QUERIES = {
    "tpch_q1": "l_orderkey",
    "top_parts_by_revenue": "l_partkey",
    "ta_winnowing_fingerprint": "doc_id",
    "dd_minhash_lsh": "doc_id",
    "sim_kmeans_refine": "vec_id",
    "sim_pq_adc_topk": "vec_id",
    "sim_ivfpq_topk": "vec_id",
}

#: width-independence sample: one query per spread family.
WIDTH_INDEPENDENT_QUERIES = (
    "tpch_q1",
    "dd_minhash_lsh",
    "ta_winnowing_fingerprint",
    "sim_pq_adc_topk",
)


def test_spread_width_is_size_aware(spark, monkeypatch):
    """Width = clamp(ceil(bytes / _SPREAD_TASK_BYTES), 8, cluster).
    Cluster width pinned to 32 so the sized middle of the clamp is
    actually exercised (the 8-core test session would clamp all three
    fixtures to the floor)."""
    monkeypatch.setattr(session, "fanout_width", lambda s: 32)
    cap = 32
    for tbl, key in (
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("lineitem", "l_orderkey"),
    ):
        df = load_table(spark, SF001, tbl)
        nbytes = os.path.getsize(f"{SF001}/{tbl}.parquet")
        expect = min(cap, max(8, -(-nbytes // session._SPREAD_TASK_BYTES)))
        got = spread_scan(df, key).rdd.getNumPartitions()
        assert got == expect, (tbl, nbytes, got, expect)


def test_spread_noop_when_layout_fans_out(spark):
    """Estimated splits >= cluster width → the scan is returned as-is
    (the production multi-split gate). The split size is the session's
    own conf, suffixed form included."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        df = load_table(spark, SF001, "lineitem")  # ~1 MB at sf0.01
        assert spread_scan(df, "l_orderkey") is df
    finally:
        spark.conf.set(key, old)


def test_spread_noop_on_non_local_scan(spark, monkeypatch):
    """A scan whose files are not local has no byte size to go by: the
    frame comes back as-is and no job runs to size it."""
    df = load_table(spark, SF0001, "documents").select("doc_id", "text")
    monkeypatch.setattr(
        df, "inputFiles", lambda: ["s3a://bucket/documents.parquet"]
    )
    assert count_jobs(spark, lambda: spread_scan(df, "doc_id")) == 0
    assert spread_scan(df, "doc_id") is df


def test_spread_requires_keys(spark):
    df = load_table(spark, SF0001, "documents")
    with pytest.raises(ValueError):
        spread_scan(df)


def test_spread_is_idempotent(spark):
    """A second spread on an already-spread lineage is a no-op — no
    double exchange, and no AQE plan finalization at construction."""
    df = load_table(spark, SF0001, "documents")
    once = spread_scan(df, "doc_id")
    assert spread_scan(once, "doc_id") is once
    # survives a projection on top (the shingle-stage call pattern
    # passes a spread view through select() before re-spreading)
    projected = once.select("doc_id", "text")
    assert spread_scan(projected, "doc_id") is projected


def test_spread_targets_keep_keyed_exchange_in_plan(spark):
    reg = load_all()
    for name, key in SPREAD_PLAN_QUERIES.items():
        df = reg[name].spark_fn(spark, SF0001)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert f"hashpartitioning({key}" in plan, (name, key)


def test_spread_values_are_width_independent(spark):
    """Same rows at width 8, the sized width, and full cluster width —
    the determinism contract that makes the sizing safe to re-tune."""
    reg = load_all()
    orig = session._SPREAD_TASK_BYTES
    try:
        for name in WIDTH_INDEPENDENT_QUERIES:
            rows = []
            for task_bytes in (1, orig, 1 << 40):
                session._SPREAD_TASK_BYTES = task_bytes
                rows.append(
                    sorted(
                        map(tuple, reg[name].spark_fn(spark, SF001).collect())
                    )
                )
            assert rows[0] == rows[1] == rows[2], name
            assert len(rows[0]) > 0, name
    finally:
        session._SPREAD_TASK_BYTES = orig
