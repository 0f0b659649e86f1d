"""Concurrent statements on ONE session return the rows a sequential run
returns.

A long-lived server session answers many calls at once, and several
operators fan their own stages out over thread pools. Operators bind
their SQL relations per statement (``catalog.sql``): no statement
rebinds a session-global name, so a concurrent statement cannot read
another query's ``documents`` / ``events`` / intermediate relation,
and no temp view outlives its statement.
"""

from __future__ import annotations

import hashlib
import random
from concurrent.futures import ThreadPoolExecutor

from conftest import SF0001, SF001

from mcp_rag_server_spark.registry import load_all

#: Queries that returned wrong rows under concurrency while operators
#: bound relations through session-global temp views, plus every
#: operator that chains an intermediate relation into a later statement,
#: plus one streaming query per sink shape (windowed aggregation and
#: foreachBatch merge).
QUERIES = (
    "dd_method_agreement",
    "dd_simhash",
    "sim_compression_frontier",
    "sim_multiprobe_lsh",
    "sql_rag_topk",
    "sql_recursive_reach",
    "st_latest_state",
    "st_sliding_windows",
    "ta_bpe_apply",
    "ta_bpe_train",
    "ta_dataset_card",
    "ta_doremi_step",
    "ta_lang_confusion",
    "ta_readability_fk",
)
THREADS = 8
SHUFFLE_SEEDS = (0, 1)


def _digest(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_concurrent_queries_match_sequential(spark):
    reg = load_all()
    jobs = [(name, sf) for name in QUERIES for sf in (SF0001, SF001)]
    views_before = _temp_views(spark)

    def run(job: tuple[str, str]) -> str:
        name, sf = job
        return _digest(reg[name].spark_fn(spark, sf))

    expected = {job: run(job) for job in jobs}
    for seed in SHUFFLE_SEEDS:
        order = jobs[:]
        random.Random(seed).shuffle(order)
        with ThreadPoolExecutor(max_workers=THREADS) as pool:
            got = dict(zip(order, pool.map(run, order, timeout=900)))
        wrong = sorted(job for job in jobs if got[job] != expected[job])
        assert wrong == [], f"shuffle seed {seed}: wrong rows for {wrong}"
    assert _temp_views(spark) == views_before


#: Queries that write files: each call owns a per-call temp dir (and,
#: for the bucketed join, per-call table names), so two calls at once on
#: the SAME sf neither collide on a path nor read each other's files.
FILE_WRITING_QUERIES = ("ingest_orc_roundtrip", "ingest_bucketed_join")


def test_same_sf_file_writers_run_concurrently(spark):
    reg = load_all()
    expected = {
        name: _digest(reg[name].spark_fn(spark, SF0001))
        for name in FILE_WRITING_QUERIES
    }
    jobs = [name for name in FILE_WRITING_QUERIES for _ in range(2)]

    def run(name: str) -> str:
        return _digest(reg[name].spark_fn(spark, SF0001))

    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        got = list(pool.map(run, jobs, timeout=900))
    wrong = [name for name, d in zip(jobs, got) if d != expected[name]]
    assert wrong == [], f"wrong rows for {wrong}"
