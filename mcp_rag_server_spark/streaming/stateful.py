"""Custom stateful streaming operator via applyInPandasWithState.

The build-spec's "custom stateful operators" case: when watermarked
window/session aggregations can't express the semantics, Spark's
arbitrary-state API gives a per-key state dict with batch-at-a-time
pandas processing. Demonstrated here with a running per-user
(event_count, max_value) accumulator across micro-batches.

Correctness design: state transitions use only order-independent math
(integer count, max) so the final state is identical regardless of row
order within batches or file processing order across batches — which is
what makes the streaming result hash-comparable to a batch SQL oracle.
A float running *sum* here would be order-sensitive; use the decimal
discipline (functions/numeric.py) if you need one.

Scale shape: state lives in the executor state store partitioned by the
grouping key (one shuffle per batch on user_id); each key holds two
longs — state size is O(distinct users), not O(events).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mcp_rag_server_spark.catalog import load_table
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.streaming.events_stream import (
    run_to_frame,
    split_file_stream,
)


def running_user_stats(stream: DataFrame) -> DataFrame:
    """events stream → per-user cumulative (n_events, max_value), one
    updated row per user per micro-batch that touched it."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, mx = state.get
        else:
            n, mx = 0, None
        for pdf in pdfs:
            n += len(pdf)
            # finite contract (functions/numeric.py): NaN/Inf carry no
            # usable magnitude — pandas' skipna-max would keep Inf and
            # skip NaN while SQL MAX ranks NaN largest; the mask makes
            # the accumulator match the finite-gated oracle exactly
            import numpy as np

            fv = pdf["value"][np.isfinite(pdf["value"])]
            if len(fv):
                m = float(fv.max())
                mx = m if mx is None else max(mx, m)
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, max_value double",
        stateStructType="n long, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "st_stateful_user_stats",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       -- finite gate: matches the accumulator's np.isfinite mask
       MAX(CASE WHEN isfinite(value) THEN value END) AS max_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    description="STREAMING custom stateful operator (applyInPandasWithState"
    " running per-user count/max over multi-batch file stream) vs batch oracle",
    tags=("streaming", "stateful", "events"),
)
def st_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splits events into N files and streams them one file per trigger,
    so the state genuinely accumulates across micro-batches."""
    ev = load_table(spark, sf_dir, "events")  # ts already micros here
    return _final_state(ev, running_user_stats, "max_value")


def _final_state(
    ev: DataFrame, stateful: Callable[[DataFrame], DataFrame], value: str
) -> DataFrame:
    """Stream ``ev`` through ``stateful`` one split file per trigger and
    keep every update-mode emission (:func:`run_to_frame`); n_events is
    cumulative and strictly grows with each touched batch, so the
    max-count row per user is the final state."""
    with tempfile.TemporaryDirectory(prefix="st_stateful_src_") as src:
        stream = split_file_stream(ev, src)
        updates = run_to_frame(stateful(stream), output_mode="update")
    final = updates.groupBy("user_id").agg(
        F.max(F.struct("n_events", value)).alias("s")
    )
    return final.select("user_id", "s.n_events", f"s.{value}").orderBy("user_id")


def _twstate_processor():
    """Build the StatefulProcessor lazily (import is 4.x-only)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStatsProcessor(StatefulProcessor):
        """Per-user (n_events, min_value) ValueState; emits the updated
        cumulative row for every key a micro-batch touches. Count and
        min are order-independent, so the final state is batching- and
        order-invariant (same discipline as running_user_stats)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", "n long, mn double")

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, mn = self._state.get()
            else:
                n, mn = 0, None
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    m = float(pdf["value"].min())
                    mn = m if mn is None else min(mn, m)
            self._state.update((n, mn))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "min_value": [mn]}
            )

        def close(self) -> None:
            pass

    return UserStatsProcessor()


def transform_with_state_available() -> bool:
    """transformWithStateInPandas ships its own Python runner that needs
    protobuf (google.protobuf.descriptor); this container doesn't have
    it, so the operator is capability-gated rather than registered (a
    registry entry must always run). When the dependency is present the
    operator is exercised by tests/test_streaming.py and is oracle-
    equivalent to: SELECT user_id, COUNT(*), MIN(value) FROM events
    GROUP BY user_id."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
        return True
    except ImportError:
        return False


def st_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The successor API to applyInPandasWithState: typed state handles
    (ValueState/ListState/MapState), timers, and TTL, backed by the
    RocksDB state store — the 100 TB-stream answer to unbounded key
    cardinality (state spills off-heap instead of living in executor
    memory). Same multi-file micro-batch harness as
    st_stateful_user_stats (:func:`_final_state`), so it ends in
    :func:`run_to_frame` like the registered streaming queries; that
    path is unverified wherever protobuf is missing, since its test then
    skips (:func:`transform_with_state_available`)."""
    ev = load_table(spark, sf_dir, "events")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        return _final_state(
            ev,
            lambda stream: stream.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=_twstate_processor(),
                outputStructType="user_id long, n_events long, min_value double",
                outputMode="Update",
                timeMode="None",
            ),
            "min_value",
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
