"""Partition-invariance sweep: replay the full oracle contract under a
deliberately ODD parallelism (local[3], shuffle.partitions=3).

The registry's core promise is that every query's canonical rows are
independent of partitioning — no order-dependent float accumulation,
no partition-local tie-breaks. The driver and verify_contract.py both
run at local[8]/8, so a query that only happens to be deterministic at
that layout would slip through; this sweep is the counterfactual
layout. Any mismatch here with a green verify_contract run means an
order-dependent aggregate (the decimal-sum rules in the registry
docstring were skipped somewhere).

Usage: python tools/partition_sweep.py [sf_dir]   (~7 min at sf0.001)
Exit code 1 on any mismatch or error.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.verify_contract import replay  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[3]")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.default.parallelism", "3")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    return 1 if replay(spark, sf) else 0


if __name__ == "__main__":
    raise SystemExit(main())
