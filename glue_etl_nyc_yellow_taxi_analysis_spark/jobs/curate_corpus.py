"""Corpus-curation CLI — the training-data pipeline as one runnable job.

The reference's jobs turn a raw monthly drop into a consumable star
schema; this job is the same shape for an LLM corpus: raw documents
parquet in, curated/split/sharded training corpus out, with exact
removal accounting and the terminal-state notification seam.  It is
pure composition of the engine's proven operators — nothing here is new
logic, which is the point: a user chains the same pieces the oracle
gate checks one by one.

Stages (each a documented, individually-oracled lane):
  1. exact dedup        — md5 fingerprint, keep lowest doc_id (arg-min,
                          reproducible; `dedup.dedup_exact_docs` lane)
  2. near dedup         — MinHash-LSH banded candidates → exact-Jaccard
                          verify → connected components → keep each
                          cluster's lowest id (`q_dedup_clusters` lane)
  3. quality filter     — centi-integer logit classifier
                          (`q_quality_classifier` lane)
  4. split + shard      — deterministic md5 buckets, 90/5/5
                          train/val/test + per-split shards
                          (`q_train_split` / `q_global_shuffle` lanes)
  5. write              — snappy parquet partitioned by split

    python -m glue_etl_nyc_yellow_taxi_analysis_spark.jobs.curate_corpus \\
        --source /data/documents.parquet --output /data/curated \\
        [--threshold 0.6] [--shards 8] [--notify-jsonl state.jsonl]
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

from ..operators import dedup
from ..session import get_spark
from .notify import JobNotifier, jsonl_sink, run_with_notification, stderr_sink


def curate(spark, source: str, output: str, threshold: float = 0.6, shards: int = 8) -> dict:
    """Run the curation pipeline; returns the accounting dict.

    Required input columns: ``doc_id`` (integral), ``text``.  A missing
    ``source`` column (the quality classifier's reporting key) is filled
    with a constant — validated up front so a schema problem fails in
    milliseconds, not after the dedup passes have run (review r4)."""
    docs = spark.read.parquet(source)
    for col in ("doc_id", "text"):
        if col not in docs.columns:
            raise ValueError(
                f"curate() needs a {col!r} column; {source} has {docs.columns}"
            )
    if "source" not in docs.columns:
        docs = docs.withColumn("source", F.lit("default"))
    n_input = docs.count()

    # 1. exact dedup: arg-min doc_id per content fingerprint — the SAME
    # md5(normalized(text)) lane q_dedup_exact_docs oracles (raw-md5
    # here would silently diverge from the proven lane on whitespace/
    # case variants; review r4).  One keyed shuffle of (16-byte
    # fingerprint, id); dropDuplicates would be nondeterministic.
    # Each surviving stage is cached: it feeds the next stage AND its
    # count action AND (for the last) the write + split rollup — without
    # persistence the whole upstream pipeline re-runs ~4× (review r4)
    keep_ids = dedup.dedup_exact_docs(docs).select(F.col("keep_id").alias("doc_id"))
    exact_kept = docs.join(keep_ids, "doc_id", "left_semi").persist()
    n_exact = exact_kept.count()

    # 2. near dedup: banded MinHash candidates, verified pairs, connected
    # components; keep each cluster's smallest id
    pairs = dedup.minhash_dedup_pairs(exact_kept, threshold=threshold)
    comp = dedup.connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    dupes = comp.filter(F.col("u") != F.col("label")).select(
        F.col("u").alias("doc_id")
    )
    near_kept = exact_kept.join(dupes, "doc_id", "left_anti").persist()
    n_near = near_kept.count()
    exact_kept.unpersist()

    # 3. quality filter: centi-integer logit classifier
    from ..queries_ext16 import quality_scores

    scores = quality_scores(near_kept).select("doc_id", "keep")
    quality_kept = near_kept.join(
        scores.filter(F.col("keep") == 1).select("doc_id"), "doc_id", "left_semi"
    ).persist()
    n_quality = quality_kept.count()
    near_kept.unpersist()

    # 4. deterministic split (90/5/5 by md5 bucket) + per-split shard
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(100),
    )
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
        F.lit(shards),
    )
    final = quality_kept.withColumn(
        "split",
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"),
    ).withColumn("shard", shard)

    # 5. write partitioned by split; the split rollup reads the WRITTEN
    # corpus back (metadata-cheap) instead of re-running the pipeline
    final.write.mode("overwrite").partitionBy("split").option(
        "compression", "snappy"
    ).parquet(output)
    quality_kept.unpersist()

    splits = {
        r["split"]: r["n"]
        for r in spark.read.parquet(output)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    card = {
        "input_docs": n_input,
        "removed_exact_dup": n_input - n_exact,
        "removed_near_dup": n_exact - n_near,
        "removed_quality": n_near - n_quality,
        "kept": n_quality,
        "splits": splits,
        "shards": shards,
    }
    print("curation card: " + json.dumps(card, sort_keys=True))
    return card


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="corpus curation pipeline")
    p.add_argument("--source", required=True, help="raw documents parquet path")
    p.add_argument("--output", required=True, help="curated corpus output dir")
    p.add_argument("--threshold", type=float, default=0.6, help="near-dup Jaccard τ")
    p.add_argument("--shards", type=int, default=8, help="shards per split")
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
        spark = get_spark(app_name="curate-corpus")
        return curate(
            spark, args.source, args.output, threshold=args.threshold, shards=args.shards
        )

    run_with_notification(
        "curate-corpus",
        _run,
        notifier,
        detail={"source": args.source, "output": args.output},
    )


if __name__ == "__main__":
    main()
