"""Evaluation-report CLI — the eval-metric family as one runnable job.

``corpus_stats`` publishes release statistics; this job publishes the
EVALUATION card a model-output or corpus-comparison run ships: pairwise
generation metrics, scorer rank agreement, gate accounting, and a
corpus-level discrimination score, composing the ext30/31/32 lanes end
to end through their shared frame-level helpers (one implementation for
the registry query and the job — the web_ingest extraction rule):

  1. pair metrics    — BLEU-2 (candidate-side clipped precision) and
                       ROUGE-1/2 (reference-side recall + F1) joined per
                       LEAD-adjacent (candidate, reference) pair →
                       ``pair_metrics.parquet``
  2. rank agreement  — exact Kendall tau-a per source between two
                       scorer rankings (K-bounded all-pairs) →
                       ``rank_agreement.parquet``
  3. blocklist gate  — C4-style badword accounting per source →
                       ``blocklist_stats.parquet``
  4. quality AUC     — exact tie-aware Mann-Whitney ROC-AUC of the
                       dup-ness score vs the generator's marker (ONE
                       row, card-only)
  5. notify          — the terminal-state seam (SNS-email twin)

All card aggregates are integral (ppm / basis-point lanes) and bounded:
one-row reductions plus a |sources|-row collect — nothing driver-side
scales with the corpus.

    python -m glue_etl_nyc_yellow_taxi_analysis_spark.jobs.eval_report \\
        --docs /root/testdata/sf0.001/documents.parquet --output ./eval \\
        [--notify-jsonl state.jsonl]
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

from ..session import get_spark
from .notify import JobNotifier, jsonl_sink, run_with_notification, stderr_sink


def build_report(spark, docs_path: str, output: str) -> dict:
    """Run the evaluation pass; returns the report card."""
    from ..queries_ext30 import bleu_pair_metrics
    from ..queries_ext31 import quality_auc_of
    from ..queries_ext32 import (
        blocklist_stats_of,
        rank_agreement_of,
        rouge_pair_metrics,
    )

    docs = spark.read.parquet(docs_path)
    n_docs = docs.count()
    if n_docs == 0:
        raise ValueError(f"no documents under {docs_path!r}")

    # 1. pair metrics: both lanes derive from the same LEAD pairing but
    #    do NOT drop NULL-text pairs identically — BLEU left-joins the
    #    reference side (a NULL-text ref still emits p1_e6=0) while
    #    ROUGE inner-joins the ref token length (that pair drops) — so
    #    the join must be FULL OUTER: n_pairs counts the union, and the
    #    per-lane means already exclude the other lane's NULLs via
    #    count(col).
    pair = bleu_pair_metrics(docs).join(
        rouge_pair_metrics(docs), ["cand", "ref_id"], "full_outer"
    )
    pair.write.mode("overwrite").parquet(f"{output}/pair_metrics.parquet")
    pair = spark.read.parquet(f"{output}/pair_metrics.parquet")
    s = pair.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(
            "CASE WHEN count(bleu2_e6) > 0 THEN"
            " sum(bleu2_e6) div count(bleu2_e6) END"
        )
        .cast("long")
        .alias("mean_bleu2_e6"),
        F.expr(
            "CASE WHEN count(f1_e6) > 0 THEN"
            " sum(f1_e6) div count(f1_e6) END"
        )
        .cast("long")
        .alias("mean_rouge_f1_e6"),
        F.expr(
            "CASE WHEN count(f2_e6) > 0 THEN"
            " sum(f2_e6) div count(f2_e6) END"
        )
        .cast("long")
        .alias("mean_rouge_f2_e6"),
    ).collect()[0]

    # 2. rank agreement: |sources| rows — bounded collect for the card
    tau = rank_agreement_of(docs)
    tau.write.mode("overwrite").parquet(f"{output}/rank_agreement.parquet")
    tau_rows = spark.read.parquet(f"{output}/rank_agreement.parquet").collect()
    taus = sorted(r["tau_e6"] for r in tau_rows)

    # 3. blocklist gate accounting
    bl = blocklist_stats_of(docs)
    bl.write.mode("overwrite").parquet(f"{output}/blocklist_stats.parquet")
    bl_tot = (
        spark.read.parquet(f"{output}/blocklist_stats.parquet")
        .agg(
            F.sum("n_flagged").cast("long").alias("flagged"),
            F.sum("hit_tokens").cast("long").alias("hits"),
        )
        .collect()[0]
    )

    # 4. corpus discrimination: one row by construction
    auc = quality_auc_of(docs).collect()[0]

    card = {
        "n_docs": n_docs,
        "n_pairs": s["n_pairs"],
        "mean_bleu2_e6": s["mean_bleu2_e6"],
        "mean_rouge_f1_e6": s["mean_rouge_f1_e6"],
        "mean_rouge_f2_e6": s["mean_rouge_f2_e6"],
        "n_sources_ranked": len(tau_rows),
        "tau_e6_min": taus[0] if taus else None,
        "tau_e6_max": taus[-1] if taus else None,
        "blocklist_flagged_docs": bl_tot["flagged"],
        "blocklist_hit_tokens": bl_tot["hits"],
        "quality_auc_e6": auc["auc_e6"],
    }
    print("eval card: " + json.dumps(card, sort_keys=True))
    return card


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="evaluation metric report")
    p.add_argument("--docs", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="report output dir")
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
        spark = get_spark(app_name="eval-report")
        return build_report(spark, args.docs, args.output)

    run_with_notification(
        "eval-report",
        _run,
        notifier,
        detail={"docs": args.docs, "output": args.output},
    )


if __name__ == "__main__":
    main()
