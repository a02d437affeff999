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
from glue_etl_nyc_yellow_taxi_analysis_spark.session import get_spark

# recent-window anchor (r9 verdict item 4): the all-time anchor is a
# min over EVERY committed artifact, so it only ratchets down as rounds
# accumulate lucky runs — the aggregate ratio then climbs on statistics
# alone (measured r7 1.03x → r9 1.46x with zero plan regressions).  The
# recent floor (min over the last _RECENT_WINDOW full runs in
# BENCH_history.jsonl, same sf) is the drift-free second read: a real
# regression moves BOTH ratios; ratchet artifacts move only the
# all-time one.  When a lane's all-time floor sits >1.5x below its
# recent floor, bench emits it as a RESET_ROUND candidate for
# tools/regen_baseline.py (the per-lane re-anchor mechanism).
_RECENT_WINDOW = 3
_RESET_SUGGEST_RATIO = 1.5


def _history_path() -> str:
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_history.jsonl"
    )


def _recent_floors(sf: float) -> dict[str, float]:
    """Per-query min over the last _RECENT_WINDOW committed full runs at
    this sf (prior runs only — this run compares against history)."""
    entries = []
    try:
        with open(_history_path()) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if rec.get("sf") == sf:
                    entries.append(rec)
    except OSError:
        return {}
    floors: dict[str, float] = {}
    for rec in entries[-_RECENT_WINDOW:]:
        for key in ("queries", "min"):
            for name, sec in (rec.get(key) or {}).items():
                v = float(sec)
                if v > 0 and (name not in floors or v < floors[name]):
                    floors[name] = v
    return floors


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

    # warm the JVM + parquet footers outside the timed region
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(10).write.format(
        "noop"
    ).mode("overwrite").save()

    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        # clean storage-memory slate per query: cache-bearing queries
        # (minhash sigs, semdedup assignments) must not tax their
        # successors' timings; a query's OWN first-run cache still warms
        # its later runs (the median stays meaningful)
        spark.catalog.clearCache()
        runs = []
        for _ in range(repeat):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        timings[name] = round(statistics.median(runs), 3)
        mins[name] = round(min(runs), 3)
        # run-to-run spread: (max-min)/min — regressions are only real when
        # they exceed the recorded noise band of the same machine/run
        spreads[name] = round((max(runs) - min(runs)) / max(min(runs), 1e-9), 3)

    total = round(sum(timings.values()), 3)
    # recent-window floors (read BEFORE this run is appended to history)
    recent_floors = _recent_floors(float(sf))
    # vs-baseline comparison, emitted automatically (r6 verdict item 4):
    # anchors are the cross-run minimum per query (BASELINE_ANCHORS.json,
    # regenerated by tools/regen_baseline.py); ratios use this run's
    # per-query MEDIAN so ambient noise shows up as ratio, not anchor drift
    vs_baseline = None
    anchors_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_ANCHORS.json"
    )
    if os.path.exists(anchors_path):
        with open(anchors_path) as f:
            anchors = json.load(f)
        both = [q for q in timings if anchors.get(q)]
        if both:
            ratios = {q: timings[q] / anchors[q] for q in both}
            worst_q = max(ratios, key=ratios.get)
            vs_baseline = {
                "n_anchored": len(both),
                "aggregate": round(
                    sum(timings[q] for q in both)
                    / sum(anchors[q] for q in both),
                    3,
                ),
                # min-vs-min: anchors are cross-run minima, so comparing
                # this run's MEDIAN against them is ≥1-biased under
                # ambient load; the min-aggregate is the noise-robust
                # read (a real regression moves BOTH numbers)
                "aggregate_min": round(
                    sum(mins[q] for q in both)
                    / sum(anchors[q] for q in both),
                    3,
                ),
                "median": round(sorted(ratios.values())[len(ratios) // 2], 3),
                "worst": [worst_q, round(ratios[worst_q], 2)],
                "over_2x": sorted(q for q, r in ratios.items() if r > 2.0),
            }
    # second ratio vs the recent-window floor + RESET_ROUND suggestions
    vs_recent = None
    if recent_floors:
        rboth = [q for q in timings if recent_floors.get(q)]
        if rboth:
            rratios = {q: timings[q] / recent_floors[q] for q in rboth}
            rworst = max(rratios, key=rratios.get)
            vs_recent = {
                "window_runs": _RECENT_WINDOW,
                "n_anchored": len(rboth),
                "aggregate": round(
                    sum(timings[q] for q in rboth)
                    / sum(recent_floors[q] for q in rboth),
                    3,
                ),
                "aggregate_min": round(
                    sum(mins[q] for q in rboth)
                    / sum(recent_floors[q] for q in rboth),
                    3,
                ),
                "median": round(sorted(rratios.values())[len(rratios) // 2], 3),
                "worst": [rworst, round(rratios[rworst], 2)],
            }
            if vs_baseline:
                with open(anchors_path) as f:
                    _anchors = json.load(f)
                vs_recent["reset_candidates"] = sorted(
                    q
                    for q in rboth
                    if _anchors.get(q)
                    and _anchors[q] * _RESET_SUGGEST_RATIO
                    < min(recent_floors[q], mins[q])
                )
    full = {
        "metric": "headline-suite wall-clock, noop sink, local mode",
        "value": total,
        "unit": "sec",
        "stat": f"median of {repeat}",
        "queries": timings,
        "min": mins,
        "spread": spreads,
        "sf": float(sf),
        "vs_baseline": vs_baseline,
        "vs_recent": vs_recent,
    }
    # append this run to the committed history (full runs only — a
    # partial/custom run must not shift the recent floors)
    if len(timings) == len(HEADLINE):
        with open(_history_path(), "a") as f:
            f.write(
                json.dumps(
                    {"sf": float(sf), "queries": timings, "min": mins},
                    sort_keys=True,
                )
                + "\n"
            )
    # full per-query dict to a file (and to stdout EARLY, for humans);
    # the FINAL stdout line stays compact — the driver captures only the
    # tail of stdout, and a 90-query JSON line overflows that window
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json")
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps(full))
    worst = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])
    print(
        json.dumps(
            {
                "metric": "headline-suite wall-clock, noop sink, local mode",
                "value": total,
                "unit": "sec",
                "stat": f"median of {repeat}",
                "sf": float(sf),
                "n_queries": len(timings),
                "queries": worst,
                "vs_baseline": vs_baseline,
                "vs_recent": vs_recent,
                "full": "BENCH_full.json",
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
