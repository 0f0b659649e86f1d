"""Re-invocation audit: call every SIDE-EFFECT operator twice in one
session, holding the first frame, then collect both and require
identical result sets.

The ingest_* and st_* operators write files into a per-call temp dir
and return ``localCheckpoint`` blocks read before it is deleted. Two
same-session hazards exist for that shape:

1. A second call deleting or rewriting the files a held frame of the
   first call still reads (a scratch dir shared by calls): collecting
   each frame before the next call cannot see it, so the first frame
   is collected only after the second call.
2. Checkpoint/high-water-mark state that survives the rebuild and
   makes the second run skip batches.

The driver itself runs each query once per session, but the bench's
cold/steady timing, the timing sweeps, and any interactive or server
use re-invoke — so the contract is: same session, same inputs, same
rows.

Usage: python tools/reinvoke_audit.py [sf_dir]   (~2.5 min at sf0.001)
Exit code 1 if any operator diverges or errors.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: Modules whose registered queries write tmp-dir corpora.
SIDE_EFFECT_MODULES = (
    "ingest_query",
    "cdc_stream",
    "events_stream",
    "rollup_stream",
    "stateful",
)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from mcp_rag_server_spark.registry import load_all
    from mcp_rag_server_spark.session import get_spark

    spark = get_spark(
        app_name="reinvoke-audit", cpus=8, shuffle_partitions=8
    )
    reg = load_all()
    names = [
        n
        for n, spec in reg.items()
        if spec.spark_fn.__module__.rsplit(".", 1)[-1]
        in SIDE_EFFECT_MODULES
    ]
    bad: list[str] = []
    for n in names:
        t0 = time.time()
        try:
            first = reg[n].spark_fn(spark, sf)
            second = reg[n].spark_fn(spark, sf)
            a = sorted(map(tuple, first.collect()))
            b = sorted(map(tuple, second.collect()))
            ok = (a == b) and len(a) > 0
        except Exception as e:  # noqa: BLE001 - audit reports, not raises
            ok = False
            a = []
            print(f"{n}: ERROR {type(e).__name__}: {str(e)[:160]}")
        print(f"{n:32s} ok={ok} rows={len(a)} {time.time() - t0:.1f}s")
        if not ok:
            bad.append(n)
    print(f"audited {len(names)} side-effect operators, diverging: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
