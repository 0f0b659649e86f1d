"""Full driver-contract verification: drive __spark_entry__.py exactly
as the external driver does — entry(), then every queries() entry
against its oracle_sql() under the driver's comparison (row count +
column set + order-insensitive canonical value hash, BOTH sides through
pandas).

This is the runnable form of .claude/skills/verify/SKILL.md's recipe;
run it before every commit that touches a query or operator.

Usage: python tools/verify_contract.py [sf_dir]   (default sf0.01)
Exit 1 on any mismatch or error; prints one line per failure plus a
TOTAL line.

SPARK_GRAFT_EXTRA_CONFS="k=v,k=v" adds Spark confs to the session —
the no-codegen sweep modality (r8 addition, previously an inline
script) is:

    SPARK_GRAFT_EXTRA_CONFS="spark.sql.codegen.wholeStage=false,\
spark.sql.codegen.factoryMode=NO_CODEGEN" \
        python tools/verify_contract.py /root/testdata/sf0.001
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from test_oracle_parity import canon_rows  # noqa: E402

from mcp_rag_server_spark.catalog import TABLES  # noqa: E402


def load_entry():
    """``__spark_entry__`` loaded by path, as the driver loads it."""
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def replay(spark, sf_dir: str) -> int:
    """Every ``queries()`` entry at ``sf_dir`` against its
    ``oracle_sql()`` under the driver's comparison; prints one line per
    failure plus a TOTAL line and returns the number of failures."""
    mod = load_entry()
    qs, osql = mod.queries(), mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    nbad = 0
    for name in sorted(qs):
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
            srows = [
                tuple(r) for r in spdf.itertuples(index=False, name=None)
            ]
            if name not in osql:
                continue  # rows-only contract
            ddf = con.execute(osql[name]).fetchdf()
            drows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
            ok = canon_rows(list(spdf.columns), srows) == canon_rows(
                list(ddf.columns), drows
            )
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            nbad += 1
            print(f"{name}: ERROR {exc}")
            continue
        if not ok:
            nbad += 1
            print(f"{name}: MISMATCH ({len(srows)} spark rows)")
    print(f"TOTAL {len(qs)} at {sf_dir} MISMATCHES {nbad}")
    return nbad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
    )
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    for kv in filter(None, extra.split(",")):
        k, _, v = kv.partition("=")
        print(f"extra conf: {k.strip()}={v.strip()}")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    df = load_entry().entry(spark)
    print("entry rows:", len(df.collect()), df.schema.simpleString()[:120])
    return 1 if replay(spark, sf_dir) else 0


if __name__ == "__main__":
    sys.exit(main())
