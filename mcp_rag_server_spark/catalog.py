"""Table catalog over the driver-provided parquet fixtures.

Tables (TESTDATA.md / FIXTURES.md): TPC-H-ish star schema plus the
RAG-domain tables (documents / embeddings / events). At 100 TB these
would be partitioned external tables; locally they are single parquet
files, so readers below go straight through the DataFrame reader and
rely on Catalyst for column pruning + predicate pushdown.
"""

from __future__ import annotations

import os
import re
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Tables that stay constant-size regardless of scale factor (TPC-H
#: region/nation are fixed at 5/25 rows) and are therefore always safe to
#: broadcast-hint. customer/supplier/part scale linearly with SF, so their
#: join strategy is left to AQE + autoBroadcastJoinThreshold at runtime.
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _local_path(uri: str) -> str | None:
    """The local filesystem path of a plain path or ``file:`` URI;
    None for any other scheme."""
    parsed = urlparse(uri)
    if parsed.scheme == "file":
        return unquote(parsed.path)
    return None if parsed.scheme else uri


def _data_files(root: str) -> list[str]:
    """``root`` itself, or the unhidden files under the directory."""
    if not os.path.isdir(root):
        return [root]
    found = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d[0] not in "_."]
        found += [
            os.path.join(dirpath, f) for f in filenames if f[0] not in "_."
        ]
    return found


def input_files(
    source: str | DataFrame,
) -> tuple[tuple[str, int, int], ...] | None:
    """``(path, size, mtime_ns)`` of every data file Spark reads for
    ``source`` — a path, or a DataFrame whose lineage scans files — in
    path order; None when a file is not local or cannot be stat'd.

    A directory is walked under Spark's hidden-file rule: names that
    start with ``_`` or ``.`` (``_SUCCESS``, ``.crc`` checksums,
    ``_temporary`` staging) are skipped. A DataFrame reports the files
    its scan listed (``inputFiles()``); a lineage with no file scan
    (checkpointed, in-memory) gives ``()``. This is the one place the
    package lists or stats files, so "which files back this table and
    did they change" has one answer.

    As a change stamp it has the filesystem's limits: a rewrite that
    keeps every file's size and lands inside the mtime granularity
    (1 s on some network and older filesystems) is not seen.
    """
    if isinstance(source, DataFrame):
        paths = [_local_path(uri) for uri in source.inputFiles()]
    else:
        root = _local_path(source)
        paths = [root] if root is None else _data_files(root)
    if None in paths:
        return None
    try:
        stats = [os.stat(path) for path in paths]
    except OSError:
        return None
    return tuple(
        sorted((p, st.st_size, st.st_mtime_ns) for p, st in zip(paths, stats))
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Column pruning / filter pushdown happen
    automatically because this is a plain parquet scan.

    The resolved relation is memoized PER SESSION, one entry per path,
    stamped with :func:`input_files` of the path: ``spark.read.parquet``
    pays ~100-160 ms of driver-side work per call (directory listing +
    parquet footer schema read + relation resolution — r15
    measurement), and the operator suite re-reads the same handful of
    fixtures many times per query construction. This is METADATA
    caching only — the exact thing a catalog table gives you in
    production (guide §6: session file-listing caches exist precisely
    to avoid repeated listings of an unchanged table) — every action
    still scans the parquet bytes; no row, aggregate, or query result
    is ever stored. A fixture rewritten in place (any data file added,
    removed or re-stamped) replaces its path's entry, so the memo never
    holds more than one relation per path, and the memo dies with the
    session object.

    The returned handle is SHARED by every caller in the session:
    callers never ``persist()``/``cache()``/``unpersist()`` it (that
    would turn the metadata memo into a data cache for everyone);
    persist a derived frame instead.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    stamp = input_files(path)  # None: non-local / vanished, uncached
    cache: dict | None = None
    if stamp is not None:
        cache = getattr(spark, "_graft_relation_cache", None)
        if cache is None:
            cache = {}
            spark._graft_relation_cache = cache
        hit = cache.get(path)
        if hit is not None and hit[0] == stamp:
            return hit[1]
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    if cache is not None:
        cache[path] = (stamp, df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Make ``events.ts`` a session-tz TIMESTAMP regardless of how the
    fixture vintage encoded it. Two encodings exist across driver
    generations:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so the
      session-level nanosAsLong conf (session.REQUIRED_RUNTIME_CONFS)
      reads it as a BIGINT of nanoseconds; truncate to microseconds with
      integer division — exactly what DuckDB does when it narrows
      TIMESTAMP_NS, so both engines see identical event times.
    - TIMESTAMP(MICROS) without UTC-adjustment: Spark infers
      TIMESTAMP_NTZ; cast to TIMESTAMP (session tz is pinned to UTC, so
      the wall-clock value is unchanged and matches DuckDB's naive
      TIMESTAMP read bit-for-bit).
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: A statement's leading ``WITH`` / ``WITH RECURSIVE`` keyword.
_LEADING_WITH = re.compile(r"\A\s*WITH(?:\s+RECURSIVE)?\s+", re.IGNORECASE)


def sql(spark: SparkSession, text: str, **relations: DataFrame) -> DataFrame:
    """Run ``text`` with each keyword frame bound as the relation of
    that name, for this statement only.

    Each frame gets a fresh uuid view, bound to its name by a leading
    CTE ``<name> AS (TABLE <view>)`` (spliced into the text's own WITH
    list when it has one); Spark inlines it, so the optimized plan is
    the one a global view of that name gives. No session-global name is
    rebound, so concurrent statements cannot read each other's
    relations, and an unbound name fails with TABLE_OR_VIEW_NOT_FOUND.
    The text — the same text the DuckDB oracle runs — is neither
    formatted nor quoted.

    Views are dropped through the session catalog:
    ``spark.catalog.dropTempView`` would also uncache a ``.cache()``d
    frame passed in. Cached-data substitution runs before CTE inlining,
    so a cached plan is matched inside a bound frame, not across it.
    """
    views = {name: f"rel_{uuid.uuid4().hex}" for name in relations}
    bindings = ", ".join(
        f"{name} AS (TABLE {view})" for name, view in views.items()
    )
    head = _LEADING_WITH.match(text)
    if head:
        text = f"{text[: head.end()]}{bindings}, {text[head.end():]}"
    else:
        text = f"WITH {bindings}\n{text}"
    session_catalog = spark._jsparkSession.sessionState().catalog()
    try:
        for name, view in views.items():
            relations[name].createTempView(view)
        return spark.sql(text)
    finally:
        for view in views.values():
            session_catalog.dropTempView(view)
