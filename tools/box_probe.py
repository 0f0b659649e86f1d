"""Box-condition probe: is a bench comparison trustworthy right now?

Rounds 3, 6, 7 and 10 each lost time to machine-condition artifacts
(concurrent load fabricating a +53% "regression"; lucky-tail records;
a day-long monotonic drift that moved queries untouched since r3 in
lockstep). The reliable tell is always the same: SENTINEL queries
whose code has not changed in many rounds move together with the
suspect ones. This tool automates that tell.

It times four cheap, stable, old-code sentinels (min-of-5, after a
bench-like multi-query JVM warm-up — see _WARMUP for why that matters)
and compares each against its pinned idle reference (recorded round
10, load avg 0.10, the same box the baselines were recorded on):

    ratio ~ 1.00        box matches the reference recordings
    ratio >> 1 (broad)  machine degraded: do NOT adjudicate bench
                        movement as code until the probe recovers

Usage: python tools/box_probe.py
Exit 0 and print the index either way (informational); treat a
geometric-mean index above ~1.15 as "bench numbers unreliable".
Re-pin SENTINEL_REF only from a run whose probe index was ~1.0, whose
load average was idle, AND whose same-day full bench matched the
recorded bands (bench_diff vs the latest artifact: no broad shift) —
and note the re-pin in BENCH_NOTES.
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mcp_rag_server_spark.obs import min_seconds  # noqa: E402
from mcp_rag_server_spark.registry import load_all  # noqa: E402
from mcp_rag_server_spark.session import get_spark  # noqa: E402

#: (query, pinned idle min-of-5 seconds at sf0.1 local[32]) — all four
#: untouched since early rounds, spanning the cost classes a box
#: slowdown shows up in: codegen scan-agg (tpch_q6), shuffle-free
#: top-k with a HOF fold (rag_topk), explode-heavy SQL (chunk_split),
#: Arrow batch boundary (ta_token_stats). Re-pinned round 12 from the
#: tool's OWN warmed protocol on an idle box (load 0.09; same-day full
#: bench 30.75 s, in-band vs the r11 artifacts) — the r10 pins came
#: from a bench-context recording, which centered chunk_split at 0.47
#: while this protocol reads ~0.24, scattering per-sentinel ratios
#: 0.56–1.23 on a healthy box (BENCH_NOTES "Round-12 sentinel
#: re-pin"). With protocol-native pins each sentinel can localize
#: drift on its own, not only through the geomean.
SENTINEL_REF: dict[str, float] = {
    "tpch_q6": 0.221,
    "rag_topk": 0.258,
    "chunk_split": 0.240,
    "ta_token_stats": 0.259,
}

#: Bench-like JVM warm-up before measuring (r11 finding, BENCH_NOTES
#: "Round-11 box_probe protocol fix"): the pinned refs come from
#: bench.py's fully-warmed 37-query session, so measuring after a
#: SINGLE warm-up query reads JIT/codegen warm-up, not box condition —
#: an idle healthy box scored 1.54-1.60 under the old protocol and
#: 1.02-1.06 under this one, on the same hour, with the full bench at
#: x0.94 vs the r10 artifact / zero >25% movers. The spread covers the
#: hot code classes the sentinels exercise (codegen scan-agg, HOF
#: folds, explode, Arrow batches, shuffle joins).
_WARMUP = (
    "rag_topk", "tpch_q1", "tpch_q3", "ta_token_stats", "chunk_split",
    "ev_sessionize", "dd_minhash_lsh", "ta_bigram_top", "tpch_q6",
    "sim_sq8_topk", "rag_hybrid_topk", "top_parts_by_revenue",
)


def warm_up(spark, reg, sf_dir: str) -> None:
    """Run the :data:`_WARMUP` queries once each."""
    for w in _WARMUP:
        reg[w].spark_fn(spark, sf_dir).collect()


def measure_index(spark, reg, sf_dir: str, verbose: bool = False) -> float:
    """Time the four sentinels (min-of-5) against their pinned refs and
    return the geomean condition index. The caller is responsible for a
    bench-like warm JVM (:func:`warm_up`) — on a cold session the
    ratios read JIT, not box condition."""
    ratios = []
    if verbose:
        print(f"{'sentinel':16s} {'ref':>7s} {'now':>7s} {'ratio':>6s}")
    for name, ref in SENTINEL_REF.items():
        best = min_seconds(lambda: reg[name].spark_fn(spark, sf_dir).collect(), 5)
        r = best / ref
        ratios.append(r)
        if verbose:
            print(f"{name:16s} {ref:7.3f} {best:7.3f} {r:6.2f}")
    return math.exp(sum(math.log(r) for r in ratios) / len(ratios))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="box-probe")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()

    # bench-like warm-up so ratios compare like with like (the refs
    # were recorded in a fully-warmed bench session — see _WARMUP)
    warm_up(spark, reg, sf_dir)

    index = measure_index(spark, reg, sf_dir, verbose=True)
    verdict = (
        "box matches reference recordings"
        if index < 1.15
        else "box DEGRADED vs reference — bench comparisons unreliable"
    )
    print(f"box condition index (geomean): {index:.2f} — {verdict}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
