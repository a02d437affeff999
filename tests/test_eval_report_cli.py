"""End-to-end evaluation-report CLI: documents in → pair-metric,
rank-agreement and blocklist-accounting files out, with the one-line
card cross-checked against the registry lanes it composes.  Mirrors
test_corpus_stats_cli for the eval side."""

import pytest

pytestmark = pytest.mark.slow  # multi-session e2e; excluded from the driver-window run

import json
import os
import subprocess
import sys

from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_eval_report_cli(spark, sf_dir, tmp_path):
    work = str(tmp_path)
    out = f"{work}/report"
    notify = f"{work}/state.jsonl"
    docs_path = f"{sf_dir}/documents.parquet"

    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.eval_report",
            "--docs", docs_path,
            "--output", out,
            "--notify-jsonl", notify,
        ],
        cwd=work,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]

    card_line = [
        l for l in r.stdout.splitlines() if l.startswith("eval card: ")
    ][0]
    card = json.loads(card_line.removeprefix("eval card: "))

    # the job composes the REGISTRY lanes: the card must reconcile with
    # them exactly (same helpers, same corpus)
    bleu = {
        (r2["cand"], r2["ref_id"]): r2
        for r2 in QUERIES["q_bleu_pairs"](spark, sf_dir).collect()
    }
    rouge = {
        (r2["cand"], r2["ref_id"]): r2
        for r2 in QUERIES["q_rouge_pairs"](spark, sf_dir).collect()
    }
    assert card["n_pairs"] == len(bleu) == len(rouge)
    b_vals = [r2["bleu2_e6"] for r2 in bleu.values() if r2["bleu2_e6"] is not None]
    assert card["mean_bleu2_e6"] == sum(b_vals) // len(b_vals)
    f1_vals = [r2["f1_e6"] for r2 in rouge.values()]
    assert card["mean_rouge_f1_e6"] == sum(f1_vals) // len(f1_vals)

    taus = [
        r2["tau_e6"]
        for r2 in QUERIES["q_rank_correlation"](spark, sf_dir).collect()
    ]
    assert card["n_sources_ranked"] == len(taus)
    assert card["tau_e6_min"] == min(taus)
    assert card["tau_e6_max"] == max(taus)

    bl = QUERIES["q_blocklist_filter"](spark, sf_dir).collect()
    assert card["blocklist_flagged_docs"] == sum(r2["n_flagged"] for r2 in bl)
    assert card["blocklist_hit_tokens"] == sum(r2["hit_tokens"] for r2 in bl)

    auc = QUERIES["q_quality_auc"](spark, sf_dir).collect()[0]
    assert card["quality_auc_e6"] == auc["auc_e6"]

    # output files: pair metrics carry both lanes' columns per pair
    pair = spark.read.parquet(f"{out}/pair_metrics.parquet")
    assert pair.count() == card["n_pairs"]
    for col in ("p1_e6", "bleu2_e6", "r1_e6", "f1_e6", "r2_e6", "f2_e6"):
        assert col in pair.columns

    # terminal-state seam fired exactly once with SUCCEEDED
    with open(notify) as f:
        states = [json.loads(l) for l in f if l.strip()]
    assert [s["state"] for s in states] == ["SUCCEEDED"]
    assert states[0]["job"] == "eval-report"
