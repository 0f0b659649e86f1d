"""Serial-dominance audit: every bench=True query timed at local[1]
and local[32] in fresh subprocesses; a heavy query whose time doesn't
drop with 32x threads is serial-dominated — the property that kills a
plan at 1000 executors regardless of how fast the fixture run looks.

Why this exists (round 8): tools/plan_lint.py lints PRE-AQE plans, and
those lie — dd_embedding_neardup's pre-AQE explain showed a 32-way
REPARTITION_BY_NUM exchange while the EXECUTED plan had eliminated it
(EnsureRequirements: the upstream shuffle already hash-partitioned on
the same key) and AQE coalesced the survivor to ONE reader, running a
925k-pair HOF cosine fold single-task (12.6 s; 2.9 s after the
round-robin fix). This audit measures the ground truth instead of
reading any plan.

Usage: python tools/parallelism_audit.py [sf_dir]   (~6 min at sf0.1,
idle box required — load noise moves both numbers).
Flags queries with local[1] time >= MIN_HEAVY_S and speedup below
MIN_SPEEDUP. Known-justified ratios ~1.0 (scan-bound single-row-group
fixture queries, sub-second shuffle-light work, pandas_udf batch
overhead) are listed in BENCH_NOTES "Round-8 serial-dominance audit" —
the ALLOW set below mirrors it. Exit 1 on any unallowed flag.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: A query is "heavy" (worth flagging) above this local[1] seconds.
MIN_HEAVY_S = 1.0
#: Heavy queries must speed up at least this much at local[32].
MIN_SPEEDUP = 1.3

#: Justified ~1.0x ratios, each with the written reason in BENCH_NOTES
#: ("Round-8 serial-dominance audit"):
ALLOW = {
    # pure scan+aggregate on the single-row-group fixture (BASELINE.md
    # caveat; test_scan_parallelism_scales_with_file_count pins the
    # production multi-file layout parallelizes the scan)
    "tpch_q1",
    # same scan-bound class: the shingle/minhash projection rides the
    # single-task fixture scan (one row group); the LSH bucket join
    # downstream is already keyed and tiny at this SF
    "dd_jaccard_same_source",
    # compute is histogram-sized after the r7 restructure; remaining
    # time is six 1-row subqueries + the single-task corpus scan
    "dd_method_agreement",
    # narrow scan → Arrow UDF → explode on the single-row-group
    # fixture: one task by design (r9 removed the trailing sort that
    # made it a NEGATIVE scaler; now ~1.0x flat, the scan-bound class)
    "emb_hash_embed",
    # shuffle-light TPC-H / window / broadcast work at this SF where
    # 32-way scheduling overhead ~= compute
    "tpch_q21_waiting_orders",
    "tj_asof_last_order",
    "sim_ivfpq_topk",
    "sim_pq_adc_topk",
    "sim_kmeans_refine",
    "ta_winnowing_fingerprint",
    "ta_bpe_apply",
    "ev_scd2_intervals",
    "ev_ivm_delta_rollup",
}

_CHILD = r"""
import sys, json
sys.path.insert(0, %(repo)r)
from mcp_rag_server_spark.obs import min_seconds
from mcp_rag_server_spark.registry import load_all
from mcp_rag_server_spark.session import get_spark
spark = get_spark(app_name="parallelism_audit", cpus=%(cpus)r)
spark.sparkContext.setLogLevel("ERROR")
bench = {n: s for n, s in load_all().items() if s.bench}
bench["rag_topk"].spark_fn(spark, %(sf)r).collect()
t = {
    name: round(min_seconds(lambda: spec.spark_fn(spark, %(sf)r).collect(), 2), 3)
    for name, spec in sorted(bench.items())
}
json.dump(t, open(%(out)r, "w"))
"""


def run(cpus: str, sf: str) -> dict[str, float]:
    # mkstemp, not a fixed name in the shared tempdir: a predictable
    # path collides across concurrent runs and is symlink-clobberable.
    fd, out = tempfile.mkstemp(
        prefix=f"parallelism_audit_{cpus}_", suffix=".json"
    )
    os.close(fd)
    try:
        code = _CHILD % {"repo": REPO, "cpus": cpus, "sf": sf, "out": out}
        subprocess.run(
            [sys.executable, "-c", code], check=True, timeout=1800
        )
        with open(out, encoding="utf-8") as fh:
            return json.load(fh)
    finally:
        os.unlink(out)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    t1 = run("1", sf)
    t32 = run("32", sf)
    flagged = []
    print(f"{'query':34s} {'local1':>7s} {'local32':>8s} {'speedup':>8s}")
    for n in sorted(t1, key=lambda q: -t1[q]):
        ratio = t1[n] / t32[n] if t32[n] else float("inf")
        mark = ""
        if t1[n] >= MIN_HEAVY_S and ratio < MIN_SPEEDUP:
            mark = "ALLOWED" if n in ALLOW else "** FLAG **"
            if n not in ALLOW:
                flagged.append(n)
        print(f"{n:34s} {t1[n]:7.2f} {t32[n]:8.2f} {ratio:8.2f} {mark}")
    print(
        f"audited {len(t1)} bench queries: {len(flagged)} unallowed"
        f" serial-dominated {flagged}"
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
