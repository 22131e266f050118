"""Solo-timing A/B probes (run with NO other Spark driver alive).

Two probes, each writing an evidence file:

  python tools/ab_probe.py knn     -> evidence/knn_top100_ab_r8.json
      7 fresh-plan runs of the knn_top100 catalog query at sf0.1
      (the r7 bench showed a 1.34x blip; this is the pricing_summary
      A/B pattern from r7 — decide noise vs regression on a median).

  python tools/ab_probe.py cdc     -> evidence/cdc_merge_hot_r8.json
      best-of-2 fresh-plan wall times for skew_probe.cdc_frame at
      x8/x16 (the r7 skew evidence recorded SINGLE timings, violating
      the repo's own best-of-2 convention for lone outliers; the
      2.85x x8->x16 ratio needs a clean read before being treated as
      superlinear).

The r9 BM25 idf-hoist A/B (in-plan stats vs driver literals) is
recorded in evidence/bm25_ab_r9.json; bm25_scores has only the
hoisted form now, so there is nothing left to A/B.

Timing convention: per CLAUDE.md, a single timing can read 5-10x high
on ~1 query per run (GC pause / shuffle hiccup), so every number here
is min/median over repeated fresh-plan builds, and clearCache +
rebuild between runs (a cleared InMemoryRelation otherwise recomputes
its upstream per consumer).
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fegis_spark.session import configure_for_oracle, get_spark  # noqa: E402
from fegis_spark.operators.bm25 import clear_memos

SF_DIR = "/root/testdata/sf0.1"


def _timed(df) -> float:
    t0 = time.time()
    df.collect()
    return round(time.time() - t0, 4)


def probe_knn(runs: int = 7) -> dict:
    from fegis_spark.catalog import catalog

    spark = configure_for_oracle(get_spark("ab_probe"))
    e = catalog()["knn_top100"]
    e.builder(spark, SF_DIR).collect()  # warm page cache + JVM
    times = []
    for _ in range(runs):
        spark.catalog.clearCache(); clear_memos()
        times.append(_timed(e.builder(spark, SF_DIR)))
    return {
        "query": "knn_top100",
        "sf": 0.1,
        "runs": times,
        "median": round(statistics.median(times), 4),
        "r6_bench": 0.33,
        "r7_bench": 0.44,
    }


def probe_cdc(factors=(8, 16)) -> dict:
    from tools.skew_probe import cdc_frame

    spark = configure_for_oracle(get_spark("ab_probe"))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    out: dict = {"probe": "cdc_merge_hot best-of-2 (r7 verdict #5)", "factors": {}}
    for factor in factors:
        cdc_frame(spark, factor).collect()  # warm
        runs = [_timed(cdc_frame(spark, factor)) for _ in range(3)]
        out["factors"][f"x{factor}"] = {"runs": runs, "best": min(runs)}
    b8 = out["factors"]["x8"]["best"]
    b16 = out["factors"]["x16"]["best"]
    out["x8_to_x16_wall_ratio_best"] = round(b16 / b8, 3)
    out["r7_single_timing_ratio"] = round(3.088 / 1.082, 3)
    return out


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "knn"
    if which == "knn":
        res, path = probe_knn(), "evidence/knn_top100_ab_r8.json"
    elif which == "cdc":
        res, path = probe_cdc(), "evidence/cdc_merge_hot_r8.json"
    else:
        raise SystemExit(f"unknown probe {which}")
    print(json.dumps(res, indent=1))
    Path(path).write_text(json.dumps(res, indent=1) + "\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
