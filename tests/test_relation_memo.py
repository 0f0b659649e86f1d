"""Round-15 pin: the per-session relation memo in catalog.load_table.

load_table memoizes the RESOLVED RELATION (a lazy DataFrame handle)
per session, one entry per path stamped with every data file's
(path, size, mtime_ns) — metadata caching only,
the session-level listing/footer reuse guide §6 endorses. These tests
pin the contract that makes it safe:

1. HIT: the same (session, path) returns the same DataFrame object —
   no repeated footer/listing resolution.
2. INVALIDATION: a file rewritten in place (mtime or size moved) is
   re-resolved, one part file of a directory table included, so no
   stale relation can survive a fixture rewrite, and the new relation
   REPLACES the old entry (bounded memo).
3. ISOLATION: different sf_dirs resolve to different relations.
4. NO DATA CACHING: the memoized frame is not persisted — its storage
   level is NONE, so every action still scans the parquet bytes.
"""

from __future__ import annotations

import os
import shutil

from conftest import SF0001, SF001

from mcp_rag_server_spark.catalog import load_table


def test_memo_returns_same_relation(spark):
    a = load_table(spark, SF0001, "orders")
    b = load_table(spark, SF0001, "orders")
    assert a is b


def test_memo_invalidates_on_rewrite(spark, tmp_path):
    d = str(tmp_path)
    shutil.copy(f"{SF0001}/orders.parquet", f"{d}/orders.parquet")
    a = load_table(spark, d, "orders")
    n_before = a.count()
    # rewrite in place with different content (the sf0.01 fixture)
    shutil.copy(f"{SF001}/orders.parquet", f"{d}/orders.parquet")
    os.utime(f"{d}/orders.parquet")
    b = load_table(spark, d, "orders")
    assert b is not a
    assert b.count() != n_before


def test_memo_keeps_one_entry_per_rewritten_path(spark, tmp_path):
    path = f"{tmp_path}/orders.parquet"
    for src in (SF0001, SF001, SF0001):  # the copy, then two rewrites
        shutil.copy(f"{src}/orders.parquet", path)
        # step the mtime so the same-size third copy is a visible change
        os.utime(path, ns=(os.stat(path).st_mtime_ns + 10**9,) * 2)
        rows = load_table(spark, str(tmp_path), "orders").count()
        assert rows == spark.read.parquet(f"{src}/orders.parquet").count()
    memo = spark._graft_relation_cache
    assert [k for k in memo if str(tmp_path) in str(k)] == [path]


def test_memo_is_per_directory(spark):
    a = load_table(spark, SF0001, "orders")
    b = load_table(spark, SF001, "orders")
    assert a is not b


def test_memo_does_not_persist_data(spark):
    df = load_table(spark, SF0001, "orders")
    assert df.storageLevel.useMemory is False
    assert df.storageLevel.useDisk is False


def test_memo_sees_part_file_rewritten_in_directory_table(spark, tmp_path):
    """A directory table's mtime does not move when a part file is
    rewritten in place; the memo stamp covers every data file, so each
    load after a rewrite re-resolves and returns the new rows. A stale
    handle keeps the old file length, and a part file that grew past it
    loses the row group whose midpoint now lies beyond that length."""
    import pyarrow.parquet as pq

    table = tmp_path / "orders.parquet"
    spark.read.parquet(f"{SF0001}/orders.parquet").repartition(2).write.parquet(
        str(table)
    )
    # pyarrow rewrites below; a Hadoop checksum sidecar would go stale
    for crc in table.glob(".*.crc"):
        crc.unlink()
    parts = sorted(table.glob("part-*.parquet"))
    assert len(parts) == 2
    full = pq.read_table(parts[0])
    other = pq.read_metadata(parts[1]).num_rows
    pq.write_table(full.slice(0, 10), parts[0])
    assert load_table(spark, str(tmp_path), "orders").count() == 10 + other
    dir_mtime = os.stat(table).st_mtime_ns
    for rows in (full.num_rows, 5):  # grow, then shrink, same file name
        pq.write_table(full.slice(0, rows), parts[0])
        assert os.stat(table).st_mtime_ns == dir_mtime
        df = load_table(spark, str(tmp_path), "orders")
        assert df.count() == rows + other
        assert len(df.collect()) == rows + other
