"""Scale rehearsal: dedup/ANN path at sf0.1 vs a generated sf1.

SCALE.md claims the banded dedup and LSH-ANN paths grow sub-quadratically
because candidate generation is bucket-bounded, never all-pairs.  This
measures that once past the driver's largest shipped SF (VERDICT r3 item
10): wall-times for the three standing-index queries plus the LSH
collision profile (candidate pairs, verified pairs, largest band bucket)
at both scales.

    python tools/gen_scale_data.py /tmp/sg_sf1 --docs 50000 --vectors 20000
    python tools/scale_rehearsal.py /root/testdata/sf0.1 /tmp/sg_sf1

Prints one JSON object per sf dir plus a growth summary.  Candidate
growth ~n (duplicate density held constant by the generator) and
query wall-time well under the 100x a quadratic stage would show at
10x rows is the pass bar.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import time_lane, warm
from glue_etl_nyc_yellow_taxi_analysis_spark.operators import dedup
from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES
from glue_etl_nyc_yellow_taxi_analysis_spark.session import get_spark

REHEARSAL_QUERIES = (
    "q_minhash_dedup_oracle",
    "q_dedup_incremental",
    "q_ann_lsh_oracle",
    # round-4 retrieval stack: BM25 tokenize + dense cosine + fusion
    "q_hybrid_retrieval",
    "q_contrastive_pairs",
    # corpus-wide text-dedup passes (K-gram / shingle-DF shuffles —
    # shuffle volume scales with corpus tokens, the heaviest text path)
    "q_substr_dedup",
    "q_boilerplate_ratio",
    "q_line_dedup",
    # round-5 curation lanes: DSIR hashed-bucket shuffle + the
    # unigram-LM tercile cut (tokenize-dominated corpus passes)
    "q_dsir_weights",
    "q_ccnet_buckets",
)


def profile_sf(spark, sf_dir: str) -> dict:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()

    # collision profile on the production lane (xxhash64, 32 hashes /
    # 8 bands, 3-shingles, tau=0.6 — minhash_dedup_pairs defaults)
    sigs = dedup.minhash_signatures(docs).cache()
    sigs.count()
    cands = dedup.minhash_lsh_candidates(sigs)
    n_cands = cands.count()
    n_pairs = dedup.minhash_dedup_pairs(docs).count()
    max_bucket = (
        dedup.banded_keys(sigs)
        .groupBy("band_idx", "band_hash")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    sigs.unpersist()

    times = {
        name: round(time_lane(spark, name, sf_dir, 1)[0], 2)
        for name in REHEARSAL_QUERIES
    }

    return {
        "sf_dir": sf_dir,
        "docs": n_docs,
        "vectors": n_vecs,
        "lsh_candidate_pairs": n_cands,
        "verified_pairs": n_pairs,
        "max_band_bucket": max_bucket,
        "times_sec": times,
    }


def time_suite(spark, sf_dir: str, names) -> dict:
    """One timed noop-sink run per query (bench's lane timer without the
    median-of-3 — the rehearsal wants growth FACTORS, not anchors)."""
    warm(spark, sf_dir)
    times = {}
    for name in names:
        try:
            times[name] = round(time_lane(spark, name, sf_dir, 1)[0], 2)
        except Exception as exc:  # registry-wide sweeps hit env-gated lanes
            print(f"ERR {name} @ {sf_dir}: {type(exc).__name__}", file=sys.stderr)
            times[name] = float("nan")
    return times


def full_suite(dirs: list[str], everything: bool = False) -> None:
    """r5 verdict item 3: growth factors for the WHOLE headline suite,
    not just the dedup/retrieval lanes.  Flags any query whose wall time
    grows more than 10x at 10x rows (latent super-linear stage) — noise
    floor 0.5s so a 0.05s->0.6s query doesn't count as a scale-killer.
    ``everything`` sweeps the ENTIRE declared registry instead (the
    headline list covers ~60% of it; the rest is equally capable of
    hiding a corpus-constant-bound stage)."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.registry import HEADLINE

    names = list(QUERIES) if everything else HEADLINE
    spark = get_spark(app_name="scale-rehearsal-full")
    spark.sparkContext.setLogLevel("ERROR")
    base, big = dirs
    t_base = time_suite(spark, base, names)
    t_big = time_suite(spark, big, names)
    ok = [k for k in t_base if t_base[k] == t_base[k] and t_big[k] == t_big[k]]
    errored = [k for k in t_base if k not in ok]
    growth = {k: round(t_big[k] / max(t_base[k], 1e-9), 2) for k in ok}
    flagged = {
        k: {"sf0.1_sec": t_base[k], "sf1_sec": t_big[k], "growth": v}
        for k, v in growth.items()
        if v > 10.0 and t_big[k] > 0.5
    }
    # Second look for flagged queries — two false-flag classes observed:
    # (a) one-sample noise: the pass times each query ONCE, so a GC pause
    #     or OS flush can inflate a single number 20x (q_event_sessionize
    #     measured 19s in a pass, 0.9s in isolation).  Re-time flagged
    #     queries min-of-2 and drop flags that don't reproduce.
    # (b) super-linear OUTPUT by semantics: threshold-pair enumeration
    #     (embedding_neardup, edit_distance) legitimately emits ~n² rows.
    #     Count output rows at both scales; a query is only a SUSPECT
    #     when wall time grows faster than its own output — work per
    #     emitted row must not grow with corpus size.
    for k, info in list(flagged.items()):
        re_base = min(
            time_suite(spark, base, [k])[k] for _ in range(2)
        )
        re_big = min(time_suite(spark, big, [k])[k] for _ in range(2))
        re_growth = round(re_big / max(re_base, 1e-9), 2)
        info["retimed_sec"] = [re_base, re_big]
        info["retimed_growth"] = re_growth
        if not (re_growth > 10.0 and re_big > 0.5):
            info["verdict"] = "not reproduced (one-sample noise)"
            continue
        try:
            n_base = QUERIES[k](spark, base).count()
            n_big = QUERIES[k](spark, big).count()
        except Exception:
            info["verdict"] = "suspect (output count failed)"
            continue
        out_growth = round(n_big / max(n_base, 1), 2)
        info["out_rows"] = [n_base, n_big]
        info["out_growth"] = out_growth
        info["verdict"] = (
            "output-bound" if re_growth <= out_growth else "suspect"
        )
    print(json.dumps({"sf_dir": base, "times_sec": t_base}))
    print(json.dumps({"sf_dir": big, "times_sec": t_big}))
    print(
        json.dumps(
            {
                "n_queries": len(growth),
                "errored": errored,
                "total_base_sec": round(sum(t_base[k] for k in ok), 1),
                "total_big_sec": round(sum(t_big[k] for k in ok), 1),
                "median_growth": round(
                    sorted(growth.values())[len(growth) // 2], 2
                ),
                "max_growth": max(growth.items(), key=lambda kv: kv[1]),
                "flagged_over_10x": flagged,
            }
        )
    )


def main():
    args = [a for a in sys.argv[1:] if a not in ("--full", "--all")]
    dirs = args or ["/root/testdata/sf0.1", "/tmp/sg_sf1"]
    if "--full" in sys.argv[1:] or "--all" in sys.argv[1:]:
        full_suite(dirs, everything="--all" in sys.argv[1:])
        return
    spark = get_spark(app_name="scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    results = [profile_sf(spark, d) for d in dirs]
    for r in results:
        print(json.dumps(r))
    if len(results) == 2 and results[0]["docs"]:
        a, b = results
        ratio = b["docs"] / a["docs"]
        print(
            json.dumps(
                {
                    "row_growth": round(ratio, 2),
                    "candidate_growth": round(
                        b["lsh_candidate_pairs"] / max(a["lsh_candidate_pairs"], 1), 2
                    ),
                    "quadratic_would_be": round(ratio * ratio, 2),
                    "time_growth": {
                        k: round(b["times_sec"][k] / max(a["times_sec"][k], 1e-9), 2)
                        for k in b["times_sec"]
                    },
                }
            )
        )


if __name__ == "__main__":
    main()
