"""Tokenizer-training CLI — the ext38 BPE loop as one runnable job.

``pretrain_prep`` curates the corpus; a real pipeline then TRAINS the
tokenizer on the curated text before packing.  This job runs the
word-type BPE loop (queries_ext38: one corpus-scale explode+count, then
per-iteration work bounded by |types|) and publishes the artifacts a
tokenizer release ships:

  1. merges          — the ordered merge table (step, lsym, rsym,
                       merged, pair_freq) → ``merges.parquet``
  2. vocab           — every post-merge symbol with its corpus
                       occurrence count (weighted by word freq), ranked
                       → ``vocab.parquet``
  3. fertility       — per-source token/symbol totals under the learned
                       merges (the compression the tokenizer actually
                       achieves on its own training corpus)
                       → ``fertility.parquet``
  4. notify          — the terminal-state seam (SNS-email twin)

    python -m glue_etl_nyc_yellow_taxi_analysis_spark.jobs.train_tokenizer \\
        --docs /root/testdata/sf0.001/documents.parquet --output ./tok \\
        [--merges 12] [--notify-jsonl state.jsonl]

Determinism: the whole loop is count-argmax over exact integers with a
lexicographic tie-break — same input, bit-identical artifacts (asserted
by the CLI test, same standard as pretrain_prep's card).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

from ..session import get_spark
from .notify import JobNotifier, jsonl_sink, run_with_notification, stderr_sink


def train(spark, docs_path: str, output: str, n_merges: int = 12) -> dict:
    """Run the BPE loop; write artifacts; return the accounting card."""
    from .. import queries_ext38 as bpe

    docs = spark.read.parquet(docs_path)
    n_docs = docs.count()
    if n_docs == 0:
        raise ValueError(f"no documents under {docs_path!r}")

    w, merges = bpe._train(spark, docs, n_merges=n_merges)

    merges_df = spark.createDataFrame(
        merges,
        "step int, lsym string, rsym string, merged string, pair_freq bigint",
    )
    merges_df.write.mode("overwrite").parquet(f"{output}/merges.parquet")

    # vocab: every post-merge symbol, occurrence-weighted by word freq
    vocab = (
        w.select("freq", F.explode(F.expr(bpe._SYMS)).alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
    )
    vocab.write.mode("overwrite").parquet(f"{output}/vocab.parquet")
    n_symbols = spark.read.parquet(f"{output}/vocab.parquet").count()

    # fertility under the learned merges — the lane's own frame-level
    # helper, so the job and q_bpe_fertility share one implementation
    fertility = bpe.fertility_of(docs, w)
    fertility.write.mode("overwrite").parquet(f"{output}/fertility.parquet")
    fert = {
        r["source"]: (int(r["n_tokens"]), int(r["n_symbols"]))
        for r in spark.read.parquet(f"{output}/fertility.parquet").collect()
    }  # bounded: |sources|

    card = {
        "n_docs": n_docs,
        "n_merges_requested": n_merges,
        "n_merges_learned": len(merges),
        "merges": [[m[1], m[2]] for m in merges],
        "vocab_size": n_symbols,
        "n_tokens": sum(t for t, _ in fert.values()),
        "n_symbols_after_bpe": sum(s for _, s in fert.values()),
        "fertility_by_source": {k: list(v) for k, v in fert.items()},
    }
    print("tokenizer card: " + json.dumps(card, sort_keys=True))
    return card


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="BPE tokenizer training")
    p.add_argument("--docs", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="artifact output dir")
    p.add_argument("--merges", type=int, default=12)
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
        spark = get_spark(app_name="train-tokenizer")
        return train(spark, args.docs, args.output, n_merges=args.merges)

    run_with_notification(
        "train-tokenizer",
        _run,
        notifier,
        detail={"docs": args.docs, "output": args.output},
    )


if __name__ == "__main__":
    main()
