"""Pretraining-corpus preparation CLI — the FULL curation stack as one
Spark session.

``curate_corpus`` chains dedup → quality → split; this job is the
complete pipeline a pretraining run ships, composing every
individually-oracled stage family end to end with per-stage row/token
accounting (r6 verdict item 3: each lane is proven alone — the composed
DAG, its cache/checkpoint boundaries, cumulative lineage, and memory
pressure are the shape a real 100 TB user runs):

  1. quality funnel   — the 4 ``gopher_rules`` applied as a filter
                        (q_quality_filter_funnel accounts them; here
                        they gate), with per-rule cumulative drops
  2. exact dedup      — md5-fingerprint arg-min (q_dedup_exact_docs)
  3. fuzzy dedup      — MinHash-LSH banded candidates → exact-Jaccard
                        verify → connected components → keep each
                        cluster's lowest id (q_dedup_clusters lane)
  4. contamination    — drop docs sharing a 5-gram shingle with the
                        benchmark (``contamination_hits``; --benchmark
                        parquet, or the q_contamination_check stand-in:
                        doc_id % 97 == 0 docs ARE the benchmark and
                        leave the corpus)
  5. DSIR + mixture   — ``dsir_weights_of`` importance scores ×
                        ``mixture_shares_of`` T=1/2 per-source token
                        quotas: each source admits its highest-DSIR
                        docs until its share of --token-budget is spent
  5.5 tokenizer (opt) — ``--bpe-merges N``: train BPE on the admitted
                        corpus, encode every doc, and budget the pack
                        stage in learned-tokenizer tokens (the oracled
                        q_bpe_pack composition; jobs/train_tokenizer is
                        the standalone artifact-emitting variant)
  6. pack             — fixed-budget sequence packing over the global
                        two-phase running sum (q_sequence_packing)
  7. split + shard    — deterministic md5 80/10/10 + per-split shards
                        (q_train_split / curate_corpus rule)
  8. write + card     — snappy parquet partitioned by split; one JSON
                        dataset card with exact per-stage accounting
                        and per-stage wall times; terminal-state
                        notification seam

Scale posture: every stage is a keyed shuffle (fingerprint, band
bucket, shingle, (doc_id, b), source, split) or a broadcast of a
bounded table (bench shingles, B=256 DSIR buckets, |sources| quotas);
survivor frames persist across exactly one stage boundary and unpersist
behind themselves; the CC survivor set is materialized so the
iterative lineage never re-enters downstream plans.

    python -m glue_etl_nyc_yellow_taxi_analysis_spark.jobs.pretrain_prep \\
        --source /data/documents.parquet --output /data/pretrain \\
        [--token-budget N] [--pack-budget 512] [--threshold 0.6] \\
        [--shards 8] [--benchmark bench.parquet] [--notify-jsonl f] \\
        [--bpe-merges N]
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F

from ..operators import dedup, text
from ..operators.indexing import global_running_sum, keyed_running_sum
from ..operators.materialize import materialize
from ..session import get_spark
from .notify import JobNotifier, jsonl_sink, run_with_notification, stderr_sink


def prepare(
    spark,
    source: str,
    output: str,
    token_budget: int | None = None,
    pack_budget: int = 512,
    threshold: float = 0.6,
    shards: int = 8,
    benchmark: str | None = None,
    bpe_merges: int | None = None,
) -> dict:
    """Run the full preparation pipeline; returns the dataset card."""
    from ..queries_ext10 import contamination_hits, gopher_rules
    from ..queries_ext26 import dsir_weights_of
    from ..queries_ext34 import mixture_shares_of

    t0 = time.time()
    walls: dict[str, float] = {}

    def lap(stage: str) -> None:
        nonlocal t0
        walls[stage] = round(time.time() - t0, 2)
        t0 = time.time()

    docs = spark.read.parquet(source)
    for col in ("doc_id", "text"):
        if col not in docs.columns:
            raise ValueError(
                f"prepare() needs a {col!r} column; {source} has {docs.columns}"
            )
    if "source" not in docs.columns:
        docs = docs.withColumn("source", F.lit("default"))
    if "lang" not in docs.columns:  # dsir's target-distribution key
        docs = docs.withColumn("lang", F.lit("en"))
    if "n_chars" not in docs.columns:  # the funnel's length rule input
        docs = docs.withColumn("n_chars", F.length("text"))
    tok = F.coalesce(F.size(text.tokens("text")), F.lit(0)).cast("long")
    docs = docs.withColumn("n_tokens", tok).persist()
    base = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    n_input, tok_input = base["n"], int(base["t"] or 0)
    if n_input == 0:
        raise ValueError(f"no documents under {source!r}")
    lap("load")

    # 1. quality funnel — gate on all 4 rules (NULL text fails), and
    #    account the per-rule cumulative drops in the SAME pass shape
    #    as q_quality_filter_funnel
    r1, r2, r3, r4 = gopher_rules()
    flags = docs.select(
        "doc_id",
        r1.alias("p1"),
        (r1 & r2).alias("p12"),
        (r1 & r2 & r3).alias("p123"),
        (r1 & r2 & r3 & r4).alias("p1234"),
    )
    funnel_row = flags.agg(
        *[
            F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long").alias(c)
            for c in ("p1", "p12", "p123", "p1234")
        ]
    ).collect()[0]
    quality_kept = docs.join(
        flags.filter(F.col("p1234")).select("doc_id"), "doc_id", "left_semi"
    ).persist()
    n_quality = quality_kept.count()
    docs.unpersist()
    lap("quality_funnel")

    # 2. exact dedup — arg-min doc_id per content fingerprint
    keep_ids = dedup.dedup_exact_docs(quality_kept).select(
        F.col("keep_id").alias("doc_id")
    )
    exact_kept = quality_kept.join(keep_ids, "doc_id", "left_semi").persist()
    n_exact = exact_kept.count()
    quality_kept.unpersist()
    lap("exact_dedup")

    # 3. fuzzy dedup — banded MinHash candidates, verified pairs,
    #    connected components; keep each cluster's smallest id.  The
    #    survivor frame is materialized: CC's O(log² n)-round
    #    lineage must not re-enter every downstream stage plan.
    pairs = dedup.minhash_dedup_pairs(exact_kept, threshold=threshold)
    comp = dedup.connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    dupes = comp.filter(F.col("u") != F.col("label")).select(
        F.col("u").alias("doc_id")
    )
    near_kept = materialize(
        exact_kept.join(dupes, "doc_id", "left_anti"),
        "fuzzy-dedup survivors: every later stage reads them",
    )
    n_near = near_kept.count()
    exact_kept.unpersist()
    lap("fuzzy_dedup")

    # 4. contamination gate — benchmark docs from --benchmark, else the
    #    q_contamination_check stand-in (doc_id % 97 == 0), which also
    #    REMOVES the stand-in bench docs from the corpus (they are eval)
    if benchmark is not None:
        bench_docs = spark.read.parquet(benchmark).select("text")
        corpus, n_corpus = near_kept, n_near
    else:
        bench_docs = near_kept.filter(F.col("doc_id") % 97 == 0)
        corpus = near_kept.filter(F.col("doc_id") % 97 != 0)
        n_corpus = corpus.count()
    hits = contamination_hits(corpus, bench_docs).select("doc_id")
    clean = corpus.join(hits, "doc_id", "left_anti").persist()
    n_clean = clean.count()
    n_bench_removed = n_near - n_corpus  # stand-in bench docs are eval
    lap("contamination")

    # 5. DSIR × mixture admission — per-source token quota from the
    #    T=1/2 shares, spent on the source's highest-DSIR docs first.
    #    The per-source cumulative window is the web_ingest admission
    #    shape; quotas are a |sources|-row broadcast.
    total_budget = (
        token_budget
        if token_budget is not None
        else int(
            (clean.agg(F.sum("n_tokens").alias("t")).collect()[0]["t"] or 0)
            // 2
        )
    )
    # null-safe quota join: groupBy keeps NULL source as its own group,
    # but a plain equi-join would silently drop every NULL-source doc
    # here (misattributed to removed_over_quota) while their tokens
    # still inflated the share denominators.  eqNullSafe gives
    # NULL-source docs their own quota bucket — same standard as
    # keyed_running_sum below and web_ingest's NULL-key passthrough.
    quotas = mixture_shares_of(clean).select(
        F.col("source").alias("__q_source"),
        (F.col("share_e6") * F.lit(total_budget) / F.lit(1_000_000))
        .cast("bigint")
        .alias("quota_tokens"),
    )
    scored = (
        clean.join(dsir_weights_of(clean), "doc_id", "left")
        .join(
            F.broadcast(quotas),
            F.col("source").eqNullSafe(F.col("__q_source")),
        )
        .drop("__q_source")
    )
    # the per-source cumulative sum is the two-phase keyed_running_sum
    # — a bare per-source window single-tasks the hottest domain; the
    # ascending order key coalesce(−dsir, 1e18) encodes
    # "dsir DESC NULLS LAST, doc_id" exactly
    admitted = (
        keyed_running_sum(
            scored.withColumn(
                "__prio",
                F.coalesce(-F.col("dsir_logratio"), F.lit(float(1e18))),
            ),
            ["source"],
            "__prio",
            "n_tokens",
            out_col="__cum",
            tiebreak_cols=["doc_id"],
        )
        .filter(F.col("__cum") <= F.col("quota_tokens"))
        .drop("__prio", "__cum", "quota_tokens")
        .persist()
    )
    adm = admitted.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    n_admitted, tok_admitted = adm["n"], int(adm["t"] or 0)
    clean.unpersist()
    lap("dsir_mixture")

    # 5.5 optional tokenizer stage — train BPE on the ADMITTED corpus
    #     (train-on-what-you-ship: the tokenizer must never see removed
    #     or contaminated docs), then ENCODE every admitted doc; the
    #     pack budget then counts LEARNED-tokenizer tokens, which is
    #     what a pretraining data loader actually packs by.  Same
    #     composition as the oracled q_bpe_pack lane.
    tokenizer_card = None
    if bpe_merges:
        from ..queries_ext38 import _train, bpe_token_counts, fertility_of

        w, merges = _train(spark, admitted, n_merges=bpe_merges)
        fert = fertility_of(admitted, w).agg(
            F.sum("n_tokens").alias("t"), F.sum("n_symbols").alias("s")
        ).collect()[0]
        n_wt, n_sym = int(fert["t"] or 0), int(fert["s"] or 0)
        tokenizer_card = {
            "n_merges": len(merges),
            "merges": [m[3] for m in merges],
            # exact-integer fertility: post-BPE symbols per word token
            "fertility_e6": (n_sym * 1_000_000) // n_wt if n_wt else 0,
        }
        pack_counts = bpe_token_counts(admitted, w).select(
            "doc_id", F.col("n_bpe_tokens").alias("__pack_tokens")
        )
        lap("bpe_tokenizer")
    else:
        pack_counts = admitted.select(
            "doc_id", F.col("n_tokens").alias("__pack_tokens")
        )

    # 6. sequence packing — two-phase global running sum, never a
    #    one-task window
    cum = global_running_sum(
        pack_counts, "doc_id", "__pack_tokens", out_col="__cum_tokens",
    )
    packed = admitted.join(
        cum.withColumn(
            "pack_id",
            F.expr(
                f"CAST((__cum_tokens - __pack_tokens) DIV {pack_budget} AS BIGINT)"
            ),
        ).select("doc_id", "pack_id"),
        "doc_id",
    )
    lap("pack")

    # 7. deterministic split (80/10/10 md5 buckets) + per-split shard
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(100),
    )
    shard = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(shards),
    )
    final = packed.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    ).withColumn("shard", shard)

    # 8. write + card — the split rollup reads the WRITTEN corpus back
    #    (metadata-cheap) instead of re-running the pipeline
    out_path = f"{output}/corpus"
    final.write.mode("overwrite").partitionBy("split").option(
        "compression", "snappy"
    ).parquet(out_path)
    admitted.unpersist()
    written = spark.read.parquet(out_path)
    splits = {
        r["split"]: (r["n"], int(r["t"]))
        for r in written.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t"))
        .collect()
    }
    n_packs = written.select("pack_id").distinct().count()
    by_source = {
        # NULL source keeps its own bucket through admission (eqNullSafe
        # above); the card keys it "<null>" because JSON objects need
        # string keys and sort_keys can't compare None to str
        ("<null>" if r["source"] is None else r["source"]): int(r["t"])
        for r in written.groupBy("source")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }  # bounded: |sources|
    lap("write")

    card = {
        "input_docs": n_input,
        "input_tokens": tok_input,
        "funnel_pass": {
            "len": funnel_row["p1"],
            "wordlen": funnel_row["p12"],
            "stopword": funnel_row["p123"],
            "ttr": funnel_row["p1234"],
        },
        "removed_quality": n_input - n_quality,
        "removed_exact_dup": n_quality - n_exact,
        "removed_near_dup": n_exact - n_near,
        "removed_benchmark": n_bench_removed,
        "removed_contaminated": n_corpus - n_clean,
        "removed_over_quota": n_clean - n_admitted,
        "kept": n_admitted,
        "kept_tokens": tok_admitted,
        "token_budget": total_budget,
        "tokens_by_source": by_source,
        "n_packs": n_packs,
        "pack_budget": pack_budget,
        "splits": splits,
        "shards": shards,
        "stage_wall_sec": walls,
    }
    if tokenizer_card is not None:
        card["tokenizer"] = tokenizer_card
    print("pretrain card: " + json.dumps(card, sort_keys=True))
    return card


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="pretraining corpus preparation")
    p.add_argument("--source", required=True, help="raw documents parquet path")
    p.add_argument("--output", required=True, help="prepared corpus output dir")
    p.add_argument(
        "--token-budget",
        type=int,
        default=None,
        help="total admitted-token budget (default: half the surviving tokens)",
    )
    p.add_argument("--pack-budget", type=int, default=512, help="tokens per pack")
    p.add_argument("--threshold", type=float, default=0.6, help="near-dup Jaccard τ")
    p.add_argument("--shards", type=int, default=8, help="shards per split")
    p.add_argument(
        "--benchmark",
        default=None,
        help="benchmark parquet (text column) for the contamination gate; "
        "default: the doc_id %% 97 == 0 stand-in",
    )
    p.add_argument(
        "--bpe-merges",
        type=int,
        default=None,
        help="train a BPE tokenizer (N merges) on the admitted corpus and "
        "pack by learned-token counts instead of whitespace counts",
    )
    p.add_argument(
        "--notify-jsonl",
        default=None,
        help="append a SUCCEEDED/FAILED terminal-state payload here",
    )
    args = p.parse_args(argv)

    notifier = JobNotifier([stderr_sink])
    if args.notify_jsonl:
        notifier.add(jsonl_sink(args.notify_jsonl))

    def _run() -> dict:
        spark = get_spark(app_name="pretrain-prep")
        return prepare(
            spark,
            args.source,
            args.output,
            token_budget=args.token_budget,
            pack_budget=args.pack_budget,
            threshold=args.threshold,
            shards=args.shards,
            benchmark=args.benchmark,
            bpe_merges=args.bpe_merges,
        )

    run_with_notification(
        "pretrain-prep",
        _run,
        notifier,
        detail={"source": args.source, "output": args.output},
    )


if __name__ == "__main__":
    main()
