"""Cross-SF oracle sweep: replay the driver's comparison for EVERY
registry query at a non-default scale factor (default sf0.001).

The driver gate runs at sf0.01; size assumptions can hide there. This
sweep caught ingest_gdpr_delete's dynamic-overwrite empty-partition
no-op (sf0.001 has one user per bucket, so erasing the user empties
the bucket — and a bucket absent from the written frame keeps its old
files). Run at round start alongside tools/roundstart.py.

Usage: python tools/cross_sf_sweep.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mcp_rag_server_spark.session import get_spark  # noqa: E402
from tools.verify_contract import replay  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="cross_sf_sweep", cpus=8, shuffle_partitions=8)
    return 1 if replay(spark, sf_dir) else 0


if __name__ == "__main__":
    raise SystemExit(main())
