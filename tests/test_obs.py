"""``obs``: the timing and job-attribution helpers the bench and tools
share. A profile splits one pass of a query into build (construction),
plan, execute and fetch; jobs are attributed by job group, so a job a
pool thread runs for the caller counts only if the thread inherits the
caller's job group."""

from __future__ import annotations

from conftest import SF0001

from mcp_rag_server_spark.obs import LAYERS, count_jobs, min_seconds, profile
from mcp_rag_server_spark.registry import load_all


def test_min_seconds_calls_fn_runs_times():
    calls = []
    assert min_seconds(lambda: calls.append(1), 3) >= 0
    assert len(calls) == 3


def test_profile_lazy_query_runs_no_construction_job(spark):
    """rag_topk builds a lazy frame: every job it runs is a run job.
    The first build warms the relation memo (its schema read is a job)."""
    fn = load_all()["rag_topk"].spark_fn
    fn(spark, SF0001)
    rec = profile(spark, lambda: fn(spark, SF0001))
    assert rec["build"]["jobs"] == 0
    assert rec["execute"]["jobs"] >= 1 and rec["fetch"]["jobs"] >= 1
    assert rec["rows"] > 0
    layer_s = sum(rec[layer]["s"] for layer in LAYERS)
    assert abs(layer_s - rec["wall_s"]) <= 0.05 * rec["wall_s"]



def test_profile_and_count_jobs_restore_the_job_labels(spark):
    """A measured call leaves the thread's job group and description as
    they were, so later jobs and SQL executions keep their own labels;
    unset labels stay unset."""
    sc = spark.sparkContext
    labels = ("spark.jobGroup.id", "spark.job.description")

    def run_both():
        profile(spark, lambda: spark.range(3))
        assert tuple(map(sc.getLocalProperty, labels)) == before
        count_jobs(spark, lambda: spark.range(3).collect())
        assert tuple(map(sc.getLocalProperty, labels)) == before

    before = (None, None)
    assert tuple(map(sc.getLocalProperty, labels)) == before
    run_both()
    sc.setJobGroup("caller-group", "caller description")
    try:
        before = ("caller-group", "caller description")
        run_both()
    finally:
        for key in labels:
            sc.setLocalProperty(key, None)
