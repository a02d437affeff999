"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1), local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with the noop sink (full pipeline runs, nothing
collected to the driver) so timings measure the engine, not result transfer.

``--repeat N`` (default 3) runs each query N times and reports the
per-query MEDIAN, with the min and the relative spread ((max-min)/min)
recorded alongside in BENCH_full.json — the box's documented ambient-load
swing is 2-4x on disjoint subsets per run, so a regression is only real
when it exceeds the recorded noise band (VERDICT r3 item 9).

``vs_baseline`` compares this run with BASELINE_ANCHORS.json, a copy of
one earlier BENCH_full.json.  It is null unless that run has the same
``sf`` and ``cpus``: only runs from the same box at the same parallelism
are comparable.  Re-anchor with ``cp BENCH_full.json BASELINE_ANCHORS.json``
after an exclusive run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES
from glue_etl_nyc_yellow_taxi_analysis_spark.registry import HEADLINE
from glue_etl_nyc_yellow_taxi_analysis_spark.session import (
    default_parallelism,
    get_spark,
)

METRIC = "headline-suite wall-clock, noop sink, local mode"


def warm(spark, sf_dir: str) -> None:
    """Warm the JVM + parquet footers outside the timed region."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(10).write.format(
        "noop"
    ).mode("overwrite").save()


def time_lane(spark, name: str, sf_dir: str, repeat: int) -> list[float]:
    """Wall seconds of ``repeat`` noop-sink runs of one query.

    The cache is cleared first so cache-bearing queries (minhash sigs,
    semdedup assignments) do not tax their successors' timings; a
    query's OWN first-run cache still warms its later runs."""
    fn = QUERIES[name]
    spark.catalog.clearCache()
    runs = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return runs


def compare(run: dict, anchor: dict) -> dict | None:
    """``vs_baseline`` of ``run`` against ``anchor`` (both BENCH_full.json
    shapes): medians against medians, mins against mins, over the lanes
    both runs timed.  None when the two runs differ in ``sf`` or
    ``cpus``, or share no lane."""
    if anchor.get("sf") != run["sf"] or anchor.get("cpus") != run["cpus"]:
        return None
    a_med, a_min = anchor.get("queries") or {}, anchor.get("min") or {}
    both = [q for q in run["queries"] if a_med.get(q) and a_min.get(q)]
    if not both:
        return None
    ratios = {q: run["queries"][q] / a_med[q] for q in both}
    worst_q = max(ratios, key=ratios.get)
    return {
        "n_anchored": len(both),
        "aggregate": round(
            sum(run["queries"][q] for q in both) / sum(a_med[q] for q in both), 3
        ),
        "aggregate_min": round(
            sum(run["min"][q] for q in both) / sum(a_min[q] for q in both), 3
        ),
        "median": round(sorted(ratios.values())[len(ratios) // 2], 3),
        "worst": [worst_q, round(ratios[worst_q], 2)],
        "over_2x": sorted(q for q, r in ratios.items() if r > 2.0),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--repeat", type=int, default=3,
        help="runs per query; the reported number is the MEDIAN run",
    )
    args = ap.parse_args()
    repeat = max(args.repeat, 1)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, sf_dir)

    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        runs = time_lane(spark, name, sf_dir, repeat)
        timings[name] = round(statistics.median(runs), 3)
        mins[name] = round(min(runs), 3)
        # run-to-run spread: (max-min)/min — regressions are only real when
        # they exceed the recorded noise band of the same machine/run
        spreads[name] = round((max(runs) - min(runs)) / max(min(runs), 1e-9), 3)

    total = round(sum(timings.values()), 3)
    full = {
        "metric": METRIC,
        "value": total,
        "unit": "sec",
        "stat": f"median of {repeat}",
        "queries": timings,
        "min": mins,
        "spread": spreads,
        "sf": float(sf),
        "cpus": default_parallelism(),
    }
    here = os.path.dirname(os.path.abspath(__file__))
    anchors_path = os.path.join(here, "BASELINE_ANCHORS.json")
    anchor = {}
    if os.path.exists(anchors_path):
        with open(anchors_path) as f:
            anchor = json.load(f)
    full["vs_baseline"] = compare(full, anchor)
    # full per-query dict to a file (and to stdout EARLY, for humans);
    # the FINAL stdout line stays compact — the driver captures only the
    # tail of stdout, and a 90-query JSON line overflows that window
    with open(os.path.join(here, "BENCH_full.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps(full))
    worst = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])
    print(
        json.dumps(
            {
                "metric": METRIC,
                "value": total,
                "unit": "sec",
                "stat": f"median of {repeat}",
                "sf": float(sf),
                "cpus": full["cpus"],
                "n_queries": len(timings),
                "queries": worst,
                "vs_baseline": full["vs_baseline"],
                "full": "BENCH_full.json",
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
