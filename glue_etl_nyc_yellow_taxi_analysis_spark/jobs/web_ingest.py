"""Web-ingest CLI — the crawl on-ramp as one runnable job.

``curate_corpus`` dedups and quality-filters CONTENT; this job runs the
stages a web corpus passes BEFORE content ever matters, composing the
ext30 operator lanes end to end:

  0. WARC first mile (``--warc`` / ``--synth-warc-from-docs``, r10) —
     walk (shard_id, payload) WARC shards (ISO 28500 record framing,
     operators/warc.py), split the HTTP envelope, extract text from the
     HTML (operators/html.py pure projections), derive ``source`` from
     the target URI's host; corrupt shards are counted, never fatal.
     The WARC-Target-URI feeds stage 1 directly — real crawl URLs, no
     planted column.
  1. URL dedup      — canonicalize each doc's URL
                      (``queries_ext30.canonical_url``: lowercase host,
                      strip :443/fragment/trailing-slash/utm_*, sort
                      params) and keep ONE doc per canonical form
                      (smallest doc_id — the deterministic survivor
                      rule every dedup lane here uses).
  2. topic routing  — ``queries_ext30.keyword_tags`` against the
                      broadcast dictionary; a doc's PRIMARY topic (first
                      tag, or 'untagged') becomes its output partition.
  3. budget packing — per-source longest-first admission under a
                      running token budget (the q_token_budget_pack
                      window), so every source lands within its token
                      quota.
  4. write + card   — admitted docs partitioned by primary topic,
                      exact removal accounting printed as the run card,
                      terminal-state notification (the SNS-email seam).

Every stage is a keyed shuffle or a map stage — URL dedup shuffles on
the canonical key, packing windows on source; nothing global, nothing
driver-side beyond the bounded card aggregates.

    python -m glue_etl_nyc_yellow_taxi_analysis_spark.jobs.web_ingest \\
        --docs /root/testdata/sf0.001/documents.parquet --output ./web \\
        [--budget 1000] [--notify-jsonl state.jsonl]

Input docs may carry their own ``url`` column; the synthetic corpus has
none, so the job plants the deterministic messy URL per doc
(``queries_ext30._messy_url`` — the plant-then-process pattern) to keep
the pipeline runnable end to end on driver testdata.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import text
from ..session import get_spark
from .notify import JobNotifier, jsonl_sink, run_with_notification, stderr_sink


def synth_warc_shards(docs, n_shards: int = 4):
    """A (shard_id, payload) WARC-shard frame from a documents table —
    the --synth path for tests/rehearsals without real crawl shards on
    disk (process_media's --synth-from-docs pattern).  One warcinfo
    head record + one HTTP-response record per doc, page = the
    deterministic synth HTML."""
    from ..operators import warc
    from ..operators.multimodal import _shard_stage

    docs = docs.select(
        (F.col("doc_id") % n_shards).alias("shard_id"), "doc_id", "text", "source"
    )
    pack = warc._shard_pack("web-ingest-synth", "https://crawl.example.org/doc/")
    return _shard_stage(docs, pack)


def docs_from_warc(spark, shards):
    """The real first mile: (shard_id, payload) WARC shards → a
    documents frame (doc_id, url, source, text, n_chars).  One Arrow
    pass walks records and splits the HTTP envelope (fail-soft: a
    corrupt shard yields one NULL marker row, counted by the card);
    HTML→text extraction and host parsing are pure projections.  The
    WARC-Target-URI feeds URL dedup directly — no planted URL.

    doc_id: the URI's trailing path integer when present (the synth
    convention), else the first 60 bits of md5(uri) — deterministic
    either way, so retries and re-runs key identically."""
    import hashlib

    from pyspark.sql import types as T

    from ..operators import html as H
    from ..operators import warc
    from ..operators.multimodal import _row_stage

    parse, split_http = warc.parse_warc, warc.split_http_response
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("url", T.StringType(), True),
            T.StructField("page", T.StringType(), True),
        ]
    )

    def doc_id_of(uri):
        tail = uri.rstrip("/").rsplit("/", 1)[-1]
        if tail.isdigit():
            return int(tail)
        return int.from_bytes(hashlib.md5(uri.encode()).digest()[:8], "big") >> 4

    def walk(payload):
        try:
            rows = []
            for headers, block in parse(bytes(payload)):
                if headers.get("warc-type") != "response":
                    continue
                uri = headers["warc-target-uri"]
                _, _, body = split_http(block)
                rows.append((doc_id_of(uri), uri, body.decode("utf-8", "replace")))
        except (ValueError, KeyError):
            rows = [(None, None, None)]  # corrupt-shard marker
        yield from rows

    walked = _row_stage(shards, ("payload",), schema, walk)
    txt = H.extract_text_col(F.col("page"))
    return walked.select(
        "doc_id",
        "url",
        H.host_col(F.col("url")).alias("source"),
        txt.alias("text"),
        F.length(txt).cast("bigint").alias("n_chars"),
        "page",  # kept for the frontier stage (dropped before the write)
    )


def run_ingest(
    spark,
    docs_path: str,
    output: str,
    budget: int = 1000,
    from_warc: bool = False,
    robots_path: str | None = None,
) -> dict:
    """Run the on-ramp; returns the accounting card.  With
    ``from_warc``, ``docs_path`` is a (shard_id, payload) WARC-shard
    parquet and the job runs the FULL first mile — record walk, HTTP
    split, HTML→text extraction, host-derived source — before the
    URL-dedup/topic/budget stages, then CLOSES the crawl loop: links
    discovered in the fetched pages are robots-gated (``robots_path``:
    a (host, txt) parquet of robots.txt bodies; absent → all allowed),
    already-fetched URLs are removed, and the remainder is written as
    ``{output}/frontier`` — the next crawl's input."""
    from ..queries_ext30 import _messy_url, canonical_url, keyword_tags

    n_corrupt_shards = 0
    walked = None
    if from_warc:
        walked = docs_from_warc(spark, spark.read.parquet(docs_path))
        # one pass materializes walk results for the corrupt count +
        # the pipeline (codec work must not run once per consumer)
        walked = walked.localCheckpoint()
        n_corrupt_shards = walked.filter(F.col("doc_id").isNull()).count()
        docs = walked.filter(F.col("doc_id").isNotNull()).drop("page")
    else:
        docs = spark.read.parquet(docs_path)
    n_in = docs.count()
    if n_in == 0:
        raise ValueError(f"no documents under {docs_path!r}")

    # 1. URL dedup: one survivor per canonical URL (docs with a NULL
    #    URL have nothing to dedup on — they pass through untouched)
    url = F.col("url") if "url" in docs.columns else _messy_url()
    with_url = docs.withColumn("canonical_url", canonical_url(url))
    w_url = Window.partitionBy("canonical_url").orderBy("doc_id")
    survivors = (
        with_url.withColumn(
            "__rk",
            F.when(F.col("canonical_url").isNull(), F.lit(1)).otherwise(
                F.row_number().over(w_url)
            ),
        )
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )

    # 2. topic routing: primary tag = first fired topic, else 'untagged'
    tagged = survivors.withColumn(
        "primary_topic",
        F.coalesce(
            # F.get, not element_at: ANSI element_at RAISES on the empty
            # array an untagged doc produces; get returns NULL
            F.get(keyword_tags(text.tokens("text")), 0),
            F.lit("untagged"),
        ),
    )

    # 3. per-source token-budget admission (longest first, doc_id
    #    tiebreak) — the two-phase keyed_running_sum, not a bare
    #    per-source window (which single-tasks the hottest domain);
    #    coalesce(−n_chars, 2⁶²) ascending == n_chars DESC NULLS LAST
    from ..operators.indexing import keyed_running_sum

    tok = F.coalesce(text.token_count("text").cast("bigint"), F.lit(0))
    packed = keyed_running_sum(
        tagged.withColumn("__tok", tok).withColumn(
            "__ord", F.coalesce(-F.col("n_chars").cast("bigint"), F.lit(2**62))
        ),
        ["source"],
        "__ord",
        "__tok",
        out_col="__cum",
        tiebreak_cols=["doc_id"],
    ).drop("__ord")
    admitted = packed.filter(F.col("__cum") <= budget)

    # 4. write partitioned by primary topic + exact accounting
    #    (drop BOTH window internals — __tok is still needed below for
    #    the accounting aggregate, so drop only on the write branch)
    out_path = f"{output}/corpus"
    admitted.drop("__cum", "__tok").write.mode("overwrite").partitionBy(
        "primary_topic"
    ).parquet(out_path)

    n_survivors = survivors.count()
    acc = admitted.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("__tok"), F.lit(0)).alias("tok"),
    ).collect()[0]
    topics = {
        r["primary_topic"]: r["n"]
        for r in spark.read.parquet(out_path)
        .groupBy("primary_topic")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }  # bounded: |topics| + 1

    # close the crawl loop: discovered links → robots gate → minus
    # already-fetched → the next crawl's frontier
    frontier_card = {}
    if walked is not None:
        from ..operators import html as H
        from ..operators import robots as R

        links = (
            walked.filter(F.col("page").isNotNull())
            .select(F.explode(H.links_col(F.col("page"))).alias("url"))
            .withColumn("host", H.host_col(F.col("url")))
            .filter(F.col("host") != "")
            .withColumn("path", R.url_path(F.col("url")))
            .distinct()
        )
        if robots_path:
            rules = R.parse_robots(spark.read.parquet(robots_path))
        else:
            rules = spark.createDataFrame(
                [], "host string, is_allow int, prefix string"
            )
        gated = R.gate_frontier(links, rules, ["url"]).localCheckpoint()
        fetched = docs.select(F.col("url").alias("f_url")).distinct()
        frontier = (
            gated.filter(F.col("is_allowed") == 1)
            .join(fetched, gated["url"] == fetched["f_url"], "left_anti")
            .select("url", "host")
        )
        frontier.write.mode("overwrite").parquet(f"{output}/frontier")
        n_front = spark.read.parquet(f"{output}/frontier").count()
        n_links = gated.count()
        n_blocked = gated.filter(F.col("is_allowed") == 0).count()
        frontier_card = {
            "n_links_discovered": n_links,
            "n_blocked_robots": n_blocked,
            "n_already_fetched": n_links - n_blocked - n_front,
            "n_frontier": n_front,
        }
        if robots_path:
            # REP politeness plan for the next wave: per-host fetch
            # pacing from Crawl-delay (default 1 s) — |hosts|-bounded
            pace = F.coalesce("crawl_delay_s", F.lit(1))
            schedule = (
                spark.read.parquet(f"{output}/frontier")
                .groupBy("host")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_fetches"))
                .join(
                    F.broadcast(
                        R.parse_crawl_delay(spark.read.parquet(robots_path))
                    ),
                    "host",
                    "left",
                )
                .select(
                    "host",
                    pace.alias("crawl_delay_s"),
                    "n_fetches",
                    (F.greatest(F.col("n_fetches") - 1, F.lit(0)) * pace)
                    .cast("bigint")
                    .alias("makespan_s"),
                )
            )
            schedule.write.mode("overwrite").parquet(f"{output}/schedule")
            drain = (
                spark.read.parquet(f"{output}/schedule")
                .agg(F.max("makespan_s"))
                .collect()[0][0]
            )  # bounded: one scalar
            frontier_card["crawl_makespan_s"] = int(drain or 0)

    card = {
        "n_docs_in": n_in,
        "n_corrupt_shards": n_corrupt_shards,
        **frontier_card,
        "n_url_dups_removed": n_in - n_survivors,
        "n_budget_dropped": n_survivors - acc["n"],
        "n_admitted": acc["n"],
        "tok_admitted": int(acc["tok"]),
        "budget_per_source": budget,
        "topic_counts": topics,
    }
    print("ingest card: " + json.dumps(card, sort_keys=True))
    return card


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="web-crawl ingest on-ramp")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--docs", help="documents parquet path")
    src.add_argument(
        "--warc",
        help="(shard_id, payload) WARC-shard parquet: run the full "
        "first mile (record walk, HTTP split, HTML->text) first",
    )
    src.add_argument(
        "--synth-warc-from-docs",
        help="documents parquet: synthesize WARC shards, then ingest "
        "them through the --warc path (tests/rehearsals)",
    )
    p.add_argument("--output", required=True, help="output dir")
    p.add_argument("--budget", type=int, default=1000, help="tokens per source")
    p.add_argument(
        "--robots",
        default=None,
        help="(host, txt) parquet of robots.txt bodies gating the "
        "emitted frontier (WARC modes only; absent = all allowed)",
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
        spark = get_spark(app_name="web-ingest")
        if args.synth_warc_from_docs:
            shards_path = f"{args.output}/warc_shards"
            synth_warc_shards(
                spark.read.parquet(args.synth_warc_from_docs)
            ).write.mode("overwrite").parquet(shards_path)
            return run_ingest(
                spark, shards_path, args.output, budget=args.budget,
                from_warc=True, robots_path=args.robots,
            )
        if args.warc:
            return run_ingest(
                spark, args.warc, args.output, budget=args.budget,
                from_warc=True, robots_path=args.robots,
            )
        return run_ingest(spark, args.docs, args.output, budget=args.budget)

    run_with_notification(
        "web-ingest",
        _run,
        notifier,
        detail={
            "docs": args.docs or args.warc or args.synth_warc_from_docs,
            "output": args.output,
        },
    )


if __name__ == "__main__":
    main()
