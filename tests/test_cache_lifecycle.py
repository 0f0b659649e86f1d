"""Session cache contract (r8 verdict item 4).

Operators in this repo ``cache()`` a small set of intermediates that a
single query references more than once (LSH signatures, the
cell-probe assignment and its scored half-matrix) and
``localCheckpoint(eager=True)`` loop-invariant stages in iterative ops
and the read-backs of the ``ingest_*`` queries' per-call files.
Neither is ever ``unpersist()``ed by the operator, BY DESIGN: a query
function returns a LAZY DataFrame, so the cache must still exist when
the caller executes it — a scoped unpersist inside the operator would
evict before first use.

The documented contract that makes this safe in a long shared session:

1. Every ``cache()`` site stores a BOUNDED intermediate — bounded by
   corpus keys (signatures: rows x bands), by the blocking design
   (candidate pairs: ~CELL_PROBES x TARGET_CELL_SIZE per vector), or
   by a fixture-sized side input — never an unbounded join product.
2. Cached plans are DETERMINISTIC analyzed subtrees, so Spark's
   CacheManager dedupes re-invocations and cross-query sharing onto
   one entry per distinct (operator stage, sf_dir): re-running a
   query, or running the three graph builds that share
   ``_cell_scored_half``, must NOT add entries.
3. ``localCheckpoint`` blocks are reclaimed by the ContextCleaner once
   the DataFrame is garbage-collected; they never accumulate in the
   CacheManager.
4. A session owner who needs the memory back calls
   ``spark.catalog.clearCache()`` between workloads — the operators
   re-materialize on demand (correctness never depends on a cache
   being present, only re-use speed does).

This test pins point 2 (the boundedness mechanism) and a generous
absolute memory bound at sf0.001: run every cache-site query twice in
one session and assert the CacheManager entry count is identical
after both passes and the total cached bytes stay small.
"""

from __future__ import annotations

import pytest

from mcp_rag_server_spark.registry import load_all

SF = "/root/testdata/sf0.001"

#: One query per distinct ``cache()`` call site (grep
#: ``\.cache()`` over mcp_rag_server_spark/ — update when a site is
#: added or removed; the count assertion below fails loudly if a new
#: site breaks dedup).
CACHING_QUERIES = [
    "dd_minhash_lsh",  # _lsh_candidate_pairs signature cache
    "dd_lsh_band_audit",  # its own sigs + per-band cache
    "dd_incremental_minhash",
    "dd_graph_triangles",
    "sim_knn_graph",  # probed + half caches
    "sim_graph_greedy_search",  # shares the half cache entry
    "sim_kcore_decompose",  # shares the half cache entry
]


@pytest.fixture(scope="module")
def spark():
    from mcp_rag_server_spark.session import get_spark

    s = get_spark(app_name="cache-lifecycle-test", cpus="8")
    s.sparkContext.setLogLevel("ERROR")
    yield s


try:  # the introspection below needs py4j; absent under Spark Connect
    from py4j.protocol import Py4JError
except ImportError:  # pragma: no cover
    Py4JError = ()  # type: ignore[assignment,misc]

#: Missing Python-side attrs (_jsparkSession under Connect) raise
#: AttributeError; a RENAMED/REMOVED JVM-side method raises Py4JError
#: at call time (py4j resolves attributes lazily, so the miss only
#: surfaces on invocation). Both mean "introspection internals moved",
#: not "cache contract broken" — skip, don't error: the contract
#: itself stays covered by tools/reinvoke_audit.py via public API.
_INTERNALS_MOVED = (AttributeError,) + (
    (Py4JError,) if isinstance(Py4JError, type) else ()
)


def _cache_entries(spark) -> int:
    # reaches through private py4j internals (no public cache-entry
    # count exists); a Spark upgrade that moves them should skip the
    # suite's mechanism pin, not error it.
    try:
        return (
            spark._jsparkSession.sharedState()
            .cacheManager()
            .cachedData()
            .size()
        )
    except _INTERNALS_MOVED as e:  # pragma: no cover - upgrade path
        pytest.skip(f"CacheManager internals moved in this Spark: {e}")


def _cached_bytes(spark) -> int:
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)
    except _INTERNALS_MOVED as e:  # pragma: no cover - upgrade path
        pytest.skip(f"RDD storage internals moved in this Spark: {e}")


def test_cache_entries_bounded_across_reinvocation(spark):
    spark.catalog.clearCache()
    reg = load_all()
    for name in CACHING_QUERIES:
        reg[name].spark_fn(spark, SF).collect()
    first_pass = _cache_entries(spark)
    for name in CACHING_QUERIES:
        reg[name].spark_fn(spark, SF).collect()
    second_pass = _cache_entries(spark)
    assert second_pass == first_pass, (
        "CacheManager entries grew on re-invocation — a cache() site's "
        "analyzed plan is non-deterministic (new entry per call leaks "
        f"memory in a long session): {first_pass} -> {second_pass}"
    )
    # one entry per distinct cached stage; sharing must dedupe (the
    # three graph builds contribute TWO entries — probed + half — not
    # six). Update alongside CACHING_QUERIES when sites change.
    assert first_pass <= 12, first_pass
    # generous absolute bound at sf0.001 — catches a cache site
    # switching from a bounded intermediate to a join product
    assert _cached_bytes(spark) < 64 * 1024 * 1024, _cached_bytes(spark)
    spark.catalog.clearCache()
    assert _cache_entries(spark) == 0


def test_bound_cached_frame_stays_cached(spark):
    """A ``.cache()``d frame bound into a statement by catalog.sql is
    still a CacheManager entry afterwards, and the statement reads it
    from memory. (``spark.sql(text, x=df)`` fails this: its
    ``spark.catalog.dropTempView`` cleanup uncaches the frame.)"""
    from mcp_rag_server_spark.catalog import load_table, sql

    spark.catalog.clearCache()
    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    docs.cache()
    before = _cache_entries(spark)
    assert before == 1
    df = sql(
        spark, "SELECT source, COUNT(*) AS n FROM d GROUP BY source", d=docs
    )
    assert _cache_entries(spark) == before
    assert "InMemoryRelation" in (
        df._jdf.queryExecution().optimizedPlan().toString()
    )
    assert df.count() > 0
    spark.catalog.clearCache()
