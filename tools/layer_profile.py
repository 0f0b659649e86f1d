"""Layer profile of registered queries: one ``obs.profile`` pass per
query after the box_probe warm-up, written to ``PROFILE_<tag>.json``.

Usage: python tools/layer_profile.py <tag> [query ...]
       (no query = the whole registry; data from $SPARK_GRAFT_SF_DIR,
       default /root/testdata/sf0.1; master local[$SPARK_GRAFT_CPUS])

Per query: ``bench`` (tagged bench=True), ``wall_s``, ``rows`` and the
layers of ``obs.profile`` (build = construction; plan, execute, fetch =
the run). ``box`` states nproc, master, sf, load average and the
box_probe index after the warm-up. One draw per query: rank queries
within one file; compare two files only when their boxes match.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mcp_rag_server_spark.obs import LAYERS, profile  # noqa: E402
from mcp_rag_server_spark.registry import load_all  # noqa: E402
from mcp_rag_server_spark.session import get_spark  # noqa: E402
from tools.box_probe import measure_index, warm_up  # noqa: E402


def totals(records: list[dict]) -> dict:
    return {
        layer: {
            "s": round(sum(r[layer]["s"] for r in records), 3),
            "jobs": sum(r[layer]["jobs"] for r in records),
        }
        for layer in LAYERS
    }


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    tag, names = argv[0], argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    warm_up(spark, reg, sf_dir)
    box = {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "probe_index": round(measure_index(spark, reg, sf_dir), 3),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    queries: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in names or sorted(reg):
        spec = reg[name]
        try:
            rec = profile(spark, lambda: spec.spark_fn(spark, sf_dir))
        except Exception as exc:  # a loud refusal must not end the sweep
            errors[name] = f"{type(exc).__name__}: {exc}".splitlines()[0]
            print(f"  {name}: ERR {errors[name]}", flush=True)
            continue
        finally:
            spark.catalog.clearCache()
        queries[name] = {"bench": spec.bench, **rec}
        layers = "  ".join(f"{layer} {rec[layer]['s']:6.3f}" for layer in LAYERS)
        run_jobs = sum(rec[layer]["jobs"] for layer in LAYERS[1:])
        print(f"{'B' if spec.bench else ' '} {name:36s} {layers}  jobs "
              f"{rec['build']['jobs']}+{run_jobs}", flush=True)

    records = list(queries.values())
    ratios = [sum(r[layer]["s"] for layer in LAYERS) / r["wall_s"] for r in records]
    out = {
        "tag": tag,
        "box": box,
        "totals": {
            "all": totals(records),
            "bench": totals([r for r in records if r["bench"]]),
            "layer_sum_over_wall": [min(ratios, default=None), max(ratios, default=None)],
        },
        "queries": queries,
        "errors": errors,
    }
    path = os.path.join(REPO, f"PROFILE_{tag}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
    print(f"{len(queries)} profiled, {len(errors)} errors -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
