"""An operator called twice in one session, with its first frame still
held, returns the same rows from both frames and leaves the session as
it found it.

A long-lived server session keeps the frames it handed out while it
answers the next call. So a call must not delete what an earlier frame
reads (a shared scratch dir emptied by the next run), and must not
leave state behind in the session: no temp view (a memory sink's
query name), no saved table, no registered function, no active
stream, no temp dir.

Inputs: every streaming-tagged query, every ``ingest_*`` query that
writes files, ``chunk_udtf`` (a table function), plus the operators
that read ``localCheckpoint`` blocks (checkpoints must not leak between
calls) or materialize them from a thread pool (no ordering or race
sensitivity). The values themselves are oracle-pinned elsewhere; this
compares call to call.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from conftest import SF0001
from test_plan_shapes import CKPT_QUERIES

from mcp_rag_server_spark.registry import load_all

#: operators whose checkpoint inputs materialize from a thread pool.
THREADED_QUERIES = ("dd_method_agreement", "tpch_q21_waiting_orders")

STREAMING_QUERIES = tuple(
    name for name, spec in load_all().items() if "streaming" in spec.tags
)

#: operators that write files into a per-call temp dir.
INGEST_QUERIES = tuple(
    name
    for name, spec in load_all().items()
    if spec.spark_fn.__module__.endswith(".ingest_query")
)

QUERIES = sorted(
    {
        *CKPT_QUERIES,
        *THREADED_QUERIES,
        *STREAMING_QUERIES,
        *INGEST_QUERIES,
        "chunk_udtf",
    }
)


def _session_state(spark) -> tuple:
    tmp = tempfile.gettempdir()
    tables = spark.catalog.listTables()
    return (
        {t.name for t in tables if t.isTemporary},
        {t.name for t in tables if not t.isTemporary},
        {f.name for f in spark.catalog.listFunctions() if f.isTemporary},
        {q.id for q in spark.streams.active},
        {
            path
            for pattern in ("st_*", "ingest_*", "spark_graft_*")
            for path in glob.glob(os.path.join(tmp, pattern))
        },
    )


@pytest.mark.parametrize("name", QUERIES)
def test_second_call_keeps_first_frame_and_session(spark, name):
    fn = load_all()[name].spark_fn
    before = _session_state(spark)
    first = fn(spark, SF0001)
    second = fn(spark, SF0001)
    rows = first.collect()
    assert rows == second.collect(), name
    assert len(rows) > 0, name
    assert _session_state(spark) == before, name
