"""Extended inventory XLVIII — the WARC/HTML web on-ramp (round 10).

A CommonCrawl-style ingest starts at WARC shards (ISO 28500) and
HTML→text extraction — the two first-mile steps BEFORE the existing
URL-canonicalization / boilerplate / blocklist / quality gates.  The
archive ingredients landed in round 9 (ustar walk, gzip member
framing); this module assembles them into the web shape:

- ``q_warc_ingest`` — documents → 4 real .warc shards (warcinfo head
  record + one HTTP-response record per doc, deterministic record ids)
  → walk back (version/framing/Content-Length verification, HTTP
  envelope split) → per-record rows.  A fifth, deliberately TRUNCATED
  shard exercises the fail-soft path: one NULL marker row, never a
  dead stage — and the oracle pins that row too.
- ``q_warcgz_ingest`` — the wire form: the same records as per-record
  gzip members (.warc.gz, the seekability convention); decoded rows —
  and the oracle — are identical to the uncompressed lane's.
- ``q_html_extract`` — tag-strip text extraction as PURE column
  expressions (script/style/comment removal, tag strip, entity decode,
  whitespace collapse — whole-stage codegen, zero Python).  Every
  third page carries malformed tag soup (unclosed tags, bare ``<``,
  ``>`` inside an attribute value) — hostile input must produce
  deterministic text, not a crash.
- ``q_html_links`` — link extraction for the crawl frontier: every
  href, host parsed from absolute URLs, per-host link/doc counts.

Scale shape: shard construction is ONE keyed shuffle (grouping is
inherent to sharding); walks are linear per-shard Arrow passes whose
payloads never cross another Exchange (the ext47 tar-lane contract);
the HTML lanes are pure projections + one keyed aggregate.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import html as H
from .operators import multimodal, warc
from .registry import register
from .tables import _t


_DOCS_PER_SHARD = 250  # shard count GROWS with the corpus (the 10x-rows
# probe measured the gz lane at 13x wall with a fixed 4-shard layout:
# per-record deflate work grew 10x while parallelism stayed 4 of 32
# cores — shard count is the parallelism, so size shards by content,
# exactly how a production writer targets ~1 GB per shard)
_BAD_SHARD = -1  # shard_id of the injected truncated shard
_URI_PREFIX = "https://crawl.example.org/doc/"

_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("record_idx", T.IntegerType(), True),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("html_md5", T.StringType(), True),
    ]
)


def _n_shards(docs) -> int:
    """Content-sized shard count: ceil(n / _DOCS_PER_SHARD), min 1 —
    one bounded metadata-cheap count action."""
    return max(1, -(-docs.count() // _DOCS_PER_SHARD))


def _warc_pack(gz: bool):
    """The batch lanes' WARC shard pack (see warc._shard_pack)."""
    return warc._shard_pack("glue-etl-nyc-yellow-taxi-analysis-spark", _URI_PREFIX, gz)


def _warc_lane(spark, sf_dir, gz: bool):
    # every name a worker closure touches is a LOCAL bound from the
    # standalone operators.warc module, so the executor imports only
    # that module, never this one and its query dependencies
    base = _t(spark, sf_dir, "documents")
    n_shards = _n_shards(base)
    docs = base.select(
        (F.col("doc_id") % n_shards).alias("shard_id"), "doc_id", "text", "source"
    )
    split_http = warc.split_http_response
    parse = warc.parse_warc_gz if gz else warc.parse_warc
    uri_prefix = _URI_PREFIX

    shards = multimodal._shard_stage(docs, _warc_pack(gz))
    # the hostile row: a shard cut mid-header — the walker must account
    # it as ONE NULL marker row, never kill the stage
    bad = spark.createDataFrame(
        [(_BAD_SHARD, bytearray(b"WARC/1.0\r\nWARC-Type: resp"))],
        multimodal._SHARD_SCHEMA,
    )

    def walk(sid, payload):
        idx = 0
        for headers, block in parse(bytes(payload)):
            if headers.get("warc-type") != "response":
                continue
            uri = headers["warc-target-uri"]
            _, http_headers, body = split_http(block)
            if int(http_headers.get("content-length", -1)) != len(body):
                raise ValueError("HTTP Content-Length mismatch")
            doc_id = int(uri.removeprefix(uri_prefix))
            yield sid, idx, doc_id, len(body), hashlib.md5(body).hexdigest()
            idx += 1

    return multimodal._row_stage(
        shards.unionByName(bad),
        ("shard_id", "payload"),
        _RECORD_SCHEMA,
        walk,
        (ValueError, KeyError),
    )


def q_warc_ingest(spark, sf_dir):
    """WARC shard round trip (uncompressed): docs → .warc → walk.
    See module docstring."""
    return _warc_lane(spark, sf_dir, gz=False)


def q_warcgz_ingest(spark, sf_dir):
    """The wire form: per-record gzip members (.warc.gz).  Same decoded
    rows — and the same oracle — as the uncompressed lane."""
    return _warc_lane(spark, sf_dir, gz=True)


SQL_WARC_INGEST = f"""
WITH k AS (
  SELECT greatest(1, CAST(ceil(COUNT(*) / {_DOCS_PER_SHARD}.0) AS BIGINT))
      AS n FROM documents
)
SELECT doc_id % (SELECT n FROM k) AS shard_id,
       CAST(row_number() OVER (PARTITION BY doc_id % (SELECT n FROM k)
                               ORDER BY doc_id) - 1 AS INTEGER)
         AS record_idx,
       doc_id,
       CAST(octet_length(encode({H.synth_html_sql()})) AS BIGINT) AS n_bytes,
       md5({H.synth_html_sql()}) AS html_md5
FROM documents
UNION ALL
SELECT {_BAD_SHARD}, CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
"""

register(q_warc_ingest, SQL_WARC_INGEST)
register(q_warcgz_ingest, SQL_WARC_INGEST)


def q_html_extract(spark, sf_dir):
    """HTML→text extraction, zero Python: synthesize each doc's page
    (boilerplate + entities + per-``doc_id%3==1`` malformed tag soup),
    tag-strip it with ordered regex steps, emit per-doc accounting —
    html/text sizes, token count, and the md5 of the extracted text.
    The whole lane is one projection inside whole-stage codegen."""
    docs = _t(spark, sf_dir, "documents")
    page = H.synth_html_col(F.col("doc_id"), F.col("text"), F.col("source"))
    txt = H.extract_text_col(page)
    return docs.select(
        "doc_id",
        F.length(page).cast("bigint").alias("n_html_chars"),
        F.length(txt).cast("bigint").alias("n_text_chars"),
        F.size(F.split(txt, " ")).cast("bigint").alias("n_tokens"),
        F.md5(txt).alias("text_md5"),
    )


_HTML_SQL = H.synth_html_sql()
_TEXT_SQL = H.extract_text_sql("page")

SQL_HTML_EXTRACT = f"""
WITH p AS (
  SELECT doc_id, {_HTML_SQL} AS page FROM documents
), x AS (
  SELECT doc_id, page, {_TEXT_SQL} AS txt FROM p
)
SELECT doc_id,
       CAST(length(page) AS BIGINT) AS n_html_chars,
       CAST(length(txt) AS BIGINT) AS n_text_chars,
       CAST(len(string_split(txt, ' ')) AS BIGINT) AS n_tokens,
       md5(txt) AS text_md5
FROM x
"""

register(q_html_extract, SQL_HTML_EXTRACT)


def q_html_links(spark, sf_dir):
    """Crawl-frontier link extraction: every href in every page (the
    nav comment's relative link included — a frontier sees raw HTML),
    hosts parsed from absolute URLs, per-host link and doc counts.
    One projection + explode + one host-keyed aggregate."""
    docs = _t(spark, sf_dir, "documents")
    page = H.synth_html_col(F.col("doc_id"), F.col("text"), F.col("source"))
    links = docs.select(
        "doc_id", F.explode(H.links_col(page)).alias("url")
    ).withColumn("host", H.host_col(F.col("url")))
    return (
        links.filter(F.col("host") != "")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


SQL_HTML_LINKS = f"""
WITH p AS (
  SELECT doc_id, {_HTML_SQL} AS page FROM documents
), l AS (
  SELECT doc_id,
         unnest(regexp_extract_all(page, 'href="([^"]+)"', 1)) AS url
  FROM p
), h AS (
  SELECT doc_id, regexp_extract(url, '^https?://([^/]+)/', 1) AS host FROM l
)
SELECT host, COUNT(*) AS n_links, COUNT(DISTINCT doc_id) AS n_docs
FROM h WHERE host <> '' GROUP BY host
"""

register(q_html_links, SQL_HTML_LINKS)


def q_stream_warc_ingest(spark, sf_dir):
    """The first mile IN-STREAM: WARC shards arrive as a file-source
    stream (2 parquet shard files, maxFilesPerTrigger=1 → ≥2
    micro-batches); the record walk + HTTP envelope split run as a
    stateless Arrow mapInPandas stage and the HTML→text extraction as
    pure projections — append mode, no watermark, no state store.  The
    drained sink must equal the batch lane ``q_html_extract`` row for
    row, so this lane shares its oracle VERBATIM (stream/batch
    equivalence through the whole WARC→HTML→text chain).  Scale
    posture: per-batch linear walks, zero shuffle, shard payloads never
    leave the walking executor."""
    import tempfile

    from .streaming.ingest import stream_files

    base = _t(spark, sf_dir, "documents")
    n_shards = max(2, _n_shards(base))  # content-sized, floor 2
    docs = base.select(
        (F.col("doc_id") % n_shards).alias("shard_id"), "doc_id", "text", "source"
    )
    parse, split_http = warc.parse_warc, warc.split_http_response
    uri_prefix = _URI_PREFIX

    shards = multimodal._shard_stage(
        docs, warc._shard_pack("stream-fixture", uri_prefix)
    )
    # content-sized source files (the r11 stream-source rule): a file
    # with k shard-rows walks k shards in ONE task, so files track the
    # shard count; half per trigger keeps >=2 micro-batches
    src_dir = tempfile.mkdtemp(prefix="sg_warc_src_")
    n_files = max(2, n_shards)
    shards.repartition(n_files).write.mode("overwrite").parquet(src_dir)

    pages_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("page", T.StringType(), True),
        ]
    )

    def walk(payload):
        for headers, block in parse(bytes(payload)):
            if headers.get("warc-type") != "response":
                continue
            _, _, body = split_http(block)
            doc_id = int(headers["warc-target-uri"].removeprefix(uri_prefix))
            yield doc_id, body.decode("utf-8")

    stream = stream_files(
        spark,
        src_dir,
        multimodal._SHARD_SCHEMA,
        max_files_per_trigger=max(1, n_files // 2),
    ).drop("__source_file")
    # fail-hard (no errors tuple): the stream carries no hostile shard
    pages = multimodal._row_stage(stream, ("payload",), pages_schema, walk)
    txt = H.extract_text_col(F.col("page"))
    out = pages.select(
        "doc_id",
        F.length("page").cast("bigint").alias("n_html_chars"),
        F.length(txt).cast("bigint").alias("n_text_chars"),
        F.size(F.split(txt, " ")).cast("bigint").alias("n_tokens"),
        F.md5(txt).alias("text_md5"),
    )
    sink = "sg_stream_warc_ingest"
    ckpt = tempfile.mkdtemp(prefix="sg_warc_ckpt_")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


register(q_stream_warc_ingest, SQL_HTML_EXTRACT)


# --------------------------------------------------------------------------
# robots.txt gate — REP 9309 longest-match filtering of the link frontier
# --------------------------------------------------------------------------

# one deterministic robots.txt per host (single `User-agent: *` group —
# multi-group agent selection is the documented seam; comment and
# Crawl-delay lines prove the parser skips non-rule directives).
# Odd-mirror hosts block /d/ with a longest-match Allow carve-out for
# /d/1*; even mirrors publish only no-op lines (empty Disallow); the
# hub blocks one source path.
_ROBOTS_ODD = (
    "User-agent: *\n# mirror policy\nDisallow: /d/\nAllow: /d/1\n"
    "Crawl-delay: 2\nSitemap: https://cdn.example.net/maps/odd.xml"
)
_ROBOTS_EVEN = (
    "User-agent: *\n# open mirror\nDisallow:\nCrawl-delay: 3\n"
    "sitemap: https://cdn.example.net/maps/even.xml"  # lowercase: REP
    # directive names are case-insensitive
)
_ROBOTS_HUB = (
    "User-agent: *\nDisallow: /s/src1\n# hub rules\n"
    "Sitemap: https://cdn.example.net/maps/hub-a.xml\n"
    "Sitemap: https://cdn.example.net/maps/hub-b.xml"  # multiple allowed
)


def _robots_frontier(spark, sf_dir, materialize_hosts=False):
    """Shared synth for the REP lanes: the link frontier (doc_id, url,
    host, path) and the per-host robots.txt bodies.

    ``materialize_hosts`` checkpoints the |hosts|-bounded distinct-host
    table the robots bodies hang off (r12 multi-scan rule: the base is
    FAR narrower than its corpus-sized derivation).  Lanes that consume
    ``robots`` twice (rule engine + Crawl-delay pacing — schedule/
    slots/pacing) pass True and save one full HTML-synth+link-extract
    pass; single-consumer lanes keep the lazy form, where the pass
    count is identical either way."""
    from .operators import robots as R

    docs = _t(spark, sf_dir, "documents")
    page = H.synth_html_col(F.col("doc_id"), F.col("text"), F.col("source"))
    frontier = (
        docs.select("doc_id", F.explode(H.links_col(page)).alias("url"))
        .withColumn("host", H.host_col(F.col("url")))
        .filter(F.col("host") != "")
        .withColumn("path", R.url_path(F.col("url")))
    )
    hosts = frontier.select("host").distinct()
    if materialize_hosts:
        hosts = hosts.localCheckpoint()
    k = F.regexp_extract("host", "^m([0-9])", 1)
    robots = (
        hosts
        .withColumn(
            "txt",
            F.when(F.col("host") == "hub.example.net", F.lit(_ROBOTS_HUB))
            .when(k.try_cast("int") % 2 == 1, F.lit(_ROBOTS_ODD))
            .otherwise(F.lit(_ROBOTS_EVEN)),
        )
    )
    return frontier, robots


def q_robots_filter(spark, sf_dir):
    """robots.txt gate over the crawl frontier (REP 9309 semantics):
    synthesize one robots.txt per host, PARSE it (line split, rule
    extraction, no-op/comment/Crawl-delay skipping), then filter every
    absolute link by longest-prefix match — ties break toward Allow,
    no matching rule means allowed.  Emits one verdict row per
    (doc_id, url) with the winning rule.

    Scale shape: the rules table is |hosts|-bounded and broadcast; the
    frontier streams through one prefix-match join + one (doc_id, url)
    keyed argmax — no self-joins, no windows over the frontier."""
    from .operators import robots as R

    frontier, robots = _robots_frontier(spark, sf_dir)
    rules = R.parse_robots(robots)
    return R.gate_frontier(frontier, rules, ["doc_id", "url"]).select(
        "doc_id", "url", "host", "is_allowed", "rule"
    )


# shared REP CTE prefix: page synth -> frontier -> robots bodies ->
# parsed rules -> longest-match argmax (q_robots_filter's final select
# and q_crawl_schedule's pacing aggregate both build on `best`)
_SQL_REP_CTES = f"""
WITH p AS (
  SELECT doc_id, {_HTML_SQL} AS page FROM documents
), frontier AS (
  SELECT doc_id, url,
         regexp_extract(url, '^https?://([^/]+)/', 1) AS host,
         regexp_extract(url, '^https?://[^/]+(/.*)$', 1) AS path
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(page, 'href="([^"]+)"', 1)) AS url
        FROM p)
  WHERE regexp_extract(url, '^https?://([^/]+)/', 1) <> ''
), robots AS (
  SELECT host,
         CASE WHEN host = 'hub.example.net' THEN '{_ROBOTS_HUB}'
              WHEN TRY_CAST(regexp_extract(host, '^m([0-9])', 1) AS INTEGER) % 2 = 1
                THEN '{_ROBOTS_ODD}'
              ELSE '{_ROBOTS_EVEN}' END AS txt
  FROM (SELECT DISTINCT host FROM frontier)
), rules AS (
  -- directive names matched case-insensitively, in lockstep with
  -- operators/robots.py (RFC 9309 §2.1)
  SELECT host,
         CASE WHEN lower(trim(line)) LIKE 'allow:%' THEN 1 ELSE 0 END AS is_allow,
         trim(CASE WHEN lower(trim(line)) LIKE 'allow:%' THEN substr(trim(line), 7)
                   ELSE substr(trim(line), 10) END) AS prefix
  FROM (SELECT host, unnest(string_split(txt, chr(10))) AS line FROM robots)
  WHERE (lower(trim(line)) LIKE 'allow:%' OR lower(trim(line)) LIKE 'disallow:%')
        AND trim(CASE WHEN lower(trim(line)) LIKE 'allow:%' THEN substr(trim(line), 7)
                      ELSE substr(trim(line), 10) END) <> ''
), best AS (
  SELECT doc_id, url,
         max(struct_pack(l := length(prefix), a := is_allow, p := prefix)) AS b
  FROM frontier f JOIN rules r
    ON f.host = r.host AND left(f.path, length(r.prefix)) = r.prefix
  GROUP BY doc_id, url
)"""

SQL_ROBOTS_FILTER = f"""{_SQL_REP_CTES}
SELECT f.doc_id, f.url, f.host,
       COALESCE(b.b.a, 1) AS is_allowed,
       b.b.p AS rule
FROM frontier f LEFT JOIN best b ON f.doc_id = b.doc_id AND f.url = b.url
"""

register(q_robots_filter, SQL_ROBOTS_FILTER)


def q_crawl_schedule(spark, sf_dir):
    """REP politeness plan (Crawl-delay, RFC 9309 §2.4 extension): the
    per-host next-fetch schedule a polite crawler derives from
    robots.txt pacing + frontier volume.  Each frontier URL is gated by
    the rule engine first (blocked URLs consume no fetch slot), then
    one keyed aggregate emits the per-host plan: distinct allowed /
    blocked fetch counts, the host's Crawl-delay (max across lines —
    the conservative pace; default 1 s when the host publishes none),
    and the makespan (n_allowed - 1) * delay — the wall-clock seconds
    a single polite worker needs to drain the host's queue.

    Closes the r10 verdict's REP-compliance gap: operators/robots.py
    previously parsed Crawl-delay as a skip-only no-op.

    Scale shape: verdicts reuse the broadcast rule engine; the pacing
    table is |hosts|-bounded; the only corpus-wide work is one distinct
    + one keyed aggregate over the frontier — no windows, no self-joins.
    All-integer output (exact oracle)."""
    from .operators import robots as R

    frontier, robots = _robots_frontier(spark, sf_dir, materialize_hosts=True)
    rules = R.parse_robots(robots)
    verdicts = R.gate_frontier(frontier, rules, ["doc_id", "url"])
    # a crawler fetches each URL once however many docs cite it
    per_url = verdicts.select("host", "url", "is_allowed").distinct()
    counts = per_url.groupBy("host").agg(
        F.sum("is_allowed").cast("bigint").alias("n_allowed"),
        F.sum(1 - F.col("is_allowed")).cast("bigint").alias("n_blocked"),
    )
    pace = F.coalesce("crawl_delay_s", F.lit(1))
    return counts.join(F.broadcast(R.parse_crawl_delay(robots)), "host", "left").select(
        "host",
        pace.alias("crawl_delay_s"),
        "n_allowed",
        "n_blocked",
        (F.greatest(F.col("n_allowed") - 1, F.lit(0)) * pace)
        .cast("bigint")
        .alias("makespan_s"),
    )


SQL_CRAWL_SCHEDULE = f"""{_SQL_REP_CTES}, per_url AS (
  SELECT DISTINCT f.host, f.url, COALESCE(b.b.a, 1) AS is_allowed
  FROM frontier f LEFT JOIN best b ON f.doc_id = b.doc_id AND f.url = b.url
), counts AS (
  SELECT host,
         CAST(SUM(is_allowed) AS BIGINT) AS n_allowed,
         CAST(SUM(1 - is_allowed) AS BIGINT) AS n_blocked
  FROM per_url GROUP BY host
), delays AS (
  SELECT host,
         max(CAST(trim(substr(trim(line), 13)) AS INTEGER)) AS crawl_delay_s
  FROM (SELECT host, unnest(string_split(txt, chr(10))) AS line FROM robots)
  WHERE lower(trim(line)) LIKE 'crawl-delay:%'
  GROUP BY host
)
SELECT c.host,
       COALESCE(d.crawl_delay_s, 1) AS crawl_delay_s,
       c.n_allowed, c.n_blocked,
       CAST(greatest(c.n_allowed - 1, 0) * COALESCE(d.crawl_delay_s, 1)
            AS BIGINT) AS makespan_s
FROM counts c LEFT JOIN delays d ON c.host = d.host
"""

register(q_crawl_schedule, SQL_CRAWL_SCHEDULE)
