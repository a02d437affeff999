"""End-to-end web-ingest CLI: documents in → URL-deduped, topic-routed,
budget-packed partitioned corpus out, with exact accounting and the
terminal-state notification.  Mirrors test_corpus_stats_cli for the
web on-ramp."""

import pytest

pytestmark = pytest.mark.slow  # multi-session e2e; excluded from the driver-window run

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.operators import text

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# small enough to bind AFTER URL dedup (sf0.001 leaves ~4 survivors
# per source at ~60 tokens each)
_BUDGET = 150


def test_web_ingest_cli(spark, sf_dir, tmp_path):
    work = str(tmp_path)
    out = f"{work}/web"
    notify = f"{work}/state.jsonl"
    docs_path = f"{sf_dir}/documents.parquet"

    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.web_ingest",
            "--docs", docs_path,
            "--output", out,
            "--budget", str(_BUDGET),
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
        l for l in r.stdout.splitlines() if l.startswith("ingest card: ")
    ][0]
    card = json.loads(card_line.removeprefix("ingest card: "))
    n_in = spark.read.parquet(docs_path).count()

    # accounting must balance exactly
    assert card["n_docs_in"] == n_in
    assert (
        card["n_url_dups_removed"] + card["n_budget_dropped"] + card["n_admitted"]
        == n_in
    )
    assert card["n_url_dups_removed"] > 0  # canonicalization must collapse some
    assert card["n_budget_dropped"] > 0    # the budget must bind
    assert sum(card["topic_counts"].values()) == card["n_admitted"]

    corpus = spark.read.parquet(f"{out}/corpus")
    assert corpus.count() == card["n_admitted"]

    # no two admitted docs share a canonical URL
    dup = (
        corpus.filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0

    # every source's admitted token total respects the budget
    toks = corpus.select(
        "source",
        F.coalesce(text.token_count("text").cast("bigint"), F.lit(0)).alias("t"),
    )
    over = toks.groupBy("source").agg(F.sum("t").alias("s")).filter(
        F.col("s") > _BUDGET
    )
    assert over.count() == 0

    # partition layout: one directory per primary topic in the card
    parts = {
        p.removeprefix("primary_topic=")
        for p in os.listdir(f"{out}/corpus")
        if p.startswith("primary_topic=")
    }
    assert parts == set(card["topic_counts"])

    # terminal-state seam fired SUCCEEDED exactly once
    states = [json.loads(l) for l in open(notify)]
    assert [s["state"] for s in states] == ["SUCCEEDED"]


def test_web_ingest_null_source(spark, sf_dir, tmp_path):
    """The NULL-source class, pinned end-to-end on the web on-ramp
    (r9, the jobs/pretrain_prep twin): admission packs per-source, and
    keyed_running_sum's offset join is the exact seam where a plain
    equi-join silently drops every NULL-key row.  Plant NULL sources
    (every doc_id % 7 == 0), run the CLI, and require (a) the
    accounting to balance EXACTLY — a silent drop breaks
    dups + dropped + admitted == n_in before anything else — and
    (b) NULL-source docs to survive into the written corpus under
    their own budget bucket."""
    src = f"{tmp_path}/docs_null_source"
    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn(
            "source",
            F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
                F.col("source")
            ),
        )
        .write.parquet(src)
    )
    out = f"{tmp_path}/web"
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.web_ingest",
            "--docs", src,
            "--output", out,
            "--budget", str(_BUDGET),
        ],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    card_line = [
        l for l in r.stdout.splitlines() if l.startswith("ingest card: ")
    ][0]
    card = json.loads(card_line.removeprefix("ingest card: "))
    n_in = spark.read.parquet(src).count()
    assert card["n_docs_in"] == n_in
    assert (
        card["n_url_dups_removed"]
        + card["n_budget_dropped"]
        + card["n_admitted"]
        == n_in
    )

    corpus = spark.read.parquet(f"{out}/corpus")
    null_kept = corpus.filter(F.col("source").isNull())
    assert null_kept.count() > 0, "NULL-source docs were dropped at admission"
    # the NULL bucket is budgeted like any other source
    null_tok = null_kept.select(
        F.coalesce(
            text.token_count("text").cast("bigint"), F.lit(0)
        ).alias("t")
    ).agg(F.sum("t")).collect()[0][0]
    assert null_tok is not None and 0 < null_tok <= _BUDGET


def test_web_ingest_from_warc(spark, sf_dir, tmp_path):
    """The r10 first mile end-to-end: documents → synthesized WARC
    shards (+ one planted corrupt shard) → record walk → HTTP split →
    HTML→text extraction → URL dedup/topic/budget stages.  The
    WARC-Target-URI must feed URL dedup (real host in `source`), the
    corrupt shard must be counted not fatal, and extraction must
    recover every document's text words."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.jobs.web_ingest import (
        synth_warc_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    shards = synth_warc_shards(docs)
    corrupt = spark.createDataFrame(
        [(99, bytearray(b"WARC/1.0\r\ntruncated mid-hea"))],
        "shard_id long, payload binary",
    )
    shards_path = f"{tmp_path}/shards"
    shards.unionByName(corrupt).write.parquet(shards_path)

    # robots bodies gating the emitted frontier: hub blocks /s/src1
    robots_path = f"{tmp_path}/robots"
    spark.createDataFrame(
        [("hub.example.net", "User-agent: *\nDisallow: /s/src1\nCrawl-delay: 4\n# note")],
        "host string, txt string",
    ).write.parquet(robots_path)

    out = f"{tmp_path}/web"
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.web_ingest",
            "--warc", shards_path,
            "--output", out,
            "--budget", "500",
            "--robots", robots_path,
        ],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    card = json.loads(
        [l for l in r.stdout.splitlines() if l.startswith("ingest card: ")][0]
        .removeprefix("ingest card: ")
    )
    assert card["n_docs_in"] == n_docs  # every record walked out
    assert card["n_corrupt_shards"] == 1
    assert card["n_url_dups_removed"] == 0  # real URIs are all distinct
    assert card["n_budget_dropped"] + card["n_admitted"] == n_docs

    corpus = spark.read.parquet(f"{out}/corpus")
    row = corpus.orderBy("doc_id").limit(1).collect()[0]
    # source derived from the target URI's host, url is the real URI
    assert row["source"] == "crawl.example.org"
    assert row["url"] == f"https://crawl.example.org/doc/{row['doc_id']}"
    # extraction recovered the document's own words
    orig = (
        docs.filter(F.col("doc_id") == row["doc_id"]).collect()[0]["text"]
    )
    assert orig.split()[0] in row["text"]
    assert "<p>" not in row["text"] and "not text" not in row["text"]

    # the crawl loop closed: discovered links were robots-gated and
    # already-fetched URLs subtracted before the frontier write
    assert card["n_links_discovered"] > 0
    assert card["n_blocked_robots"] > 0  # hub's /s/src1 rule fired
    assert card["n_already_fetched"] == n_docs  # every self-link removed
    assert card["n_frontier"] == (
        card["n_links_discovered"]
        - card["n_blocked_robots"]
        - card["n_already_fetched"]
    )
    frontier = spark.read.parquet(f"{out}/frontier")
    assert frontier.count() == card["n_frontier"]
    assert frontier.filter(F.col("host") == "crawl.example.org").count() == 0
    assert frontier.filter(F.col("url").contains("/s/src1")).count() == 0
    assert frontier.filter(F.col("url").contains("/s/src0")).count() > 0

    # the REP pacing plan: hub publishes Crawl-delay 4, every other
    # frontier host defaults to 1 s; the card carries the drain wall
    schedule = {
        r["host"]: r for r in spark.read.parquet(f"{out}/schedule").collect()
    }
    per_host = {
        r["host"]: r["n"]
        for r in frontier.groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(schedule) == set(per_host)
    for host, r in schedule.items():
        want_delay = 4 if host == "hub.example.net" else 1
        assert r["crawl_delay_s"] == want_delay, r
        assert r["n_fetches"] == per_host[host], r
        assert r["makespan_s"] == max(per_host[host] - 1, 0) * want_delay, r
    assert card["crawl_makespan_s"] == max(
        r["makespan_s"] for r in schedule.values()
    )
