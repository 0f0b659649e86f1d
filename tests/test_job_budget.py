"""Job budget of the warm ``build()`` path: the refresh must cost what
its delta costs, not what the corpus costs; and job attribution of
construction-time jobs run on pool threads.

Jobs are counted by ``obs.count_jobs`` (``setJobGroup`` +
``statusTracker()``, both work with ``spark.ui.enabled=false``). The
ceilings are the counts of the cold build and the delta-proportional
refresh on this corpus at ``local[8]``; a regression toward reading
every body or rewriting the whole store on each build (a no-op reopen
ran 20 jobs and a one-file refresh 23 before it), toward inferring the
store's schema from its footers, or toward a second scan of the store
for the next id fails here.
"""

from __future__ import annotations

import os

from conftest import SF0001

from mcp_rag_server_spark.obs import count_jobs, profile
from mcp_rag_server_spark.registry import load_all
from mcp_rag_server_spark.sources.ingest import IngestParams, build

PARAMS = IngestParams(chunk_size=200, chunk_overlap=40, allowed_ext=("md", "py"))

#: (cold build, no-op reopen, one-file refresh) job ceilings: the
#: cold build is its store write; a reopen is the delta's one exchange
#: (map stage + result); a refresh adds only its store write.
COLD_CEILING, NOOP_CEILING, REFRESH_CEILING = 4, 2, 6


def parquet_files(store: str) -> list[str]:
    return [
        os.path.join(d, n)
        for d, _, names in os.walk(os.path.join(store, "chunks"))
        for n in names
        if n.endswith(".parquet")
    ]


def test_warm_build_job_budget(spark, tmp_path):
    root = tmp_path / "corpus"
    for i in range(8):
        path = root / f"d{i % 3}" / f"f{i}.{'md' if i % 2 else 'py'}"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(f"file {i} body text " * (40 + 10 * i))
    store = str(tmp_path / "store")
    assert count_jobs(spark, lambda: build(spark, str(root), store, PARAMS)) <= COLD_CEILING

    assert count_jobs(spark, lambda: build(spark, str(root), store, PARAMS)) <= NOOP_CEILING

    files_before = len(parquet_files(store))
    with open(root / "d1" / "f1.md", "a", encoding="utf-8") as f:
        f.write("appended so the size changes")
    assert count_jobs(spark, lambda: build(spark, str(root), store, PARAMS)) <= REFRESH_CEILING
    assert len(parquet_files(store)) <= files_before


def test_pooled_construction_jobs_carry_caller_job_group(spark):
    """tpch_q21_waiting_orders runs its construction-time checkpoints
    on a thread pool; those jobs must be attributed to the job group of
    the thread that built the query, or a per-query job count reads 0.
    A first build warms the relation memo, so the counted build runs
    no schema-inference job on the calling thread: only pooled jobs,
    which ``obs.profile`` files under the query's ``build`` layer."""
    q21 = load_all()["tpch_q21_waiting_orders"].spark_fn
    q21(spark, SF0001)
    assert count_jobs(spark, lambda: q21(spark, SF0001)) > 0
    assert profile(spark, lambda: q21(spark, SF0001))["build"]["jobs"] > 0
