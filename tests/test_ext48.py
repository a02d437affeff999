"""ext48 — WARC/HTML web on-ramp lanes.

The synth page is implemented THREE ways (Python for WARC payloads,
Spark column, DuckDB SQL) — the tri-agreement test here is what makes
the shared oracle an actual cross-check rather than a tautology.
Extraction semantics are replayed INDEPENDENTLY with stdlib
html.parser, never the production regexes.
"""

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES
from glue_etl_nyc_yellow_taxi_analysis_spark.operators import html as H
from glue_etl_nyc_yellow_taxi_analysis_spark.operators import warc
from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext48 import (
    _BAD_SHARD,
    q_html_extract,
    q_warc_ingest,
    q_warcgz_ingest,
)


def test_synth_html_tri_agreement(spark, sf_dir):
    """Python, Spark-column, and DuckDB-SQL builders must emit
    byte-identical pages for every doc (soup rows included)."""
    pdf = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "source")
        .limit(60)
        .toPandas()
    )
    via_spark = {
        r["doc_id"]: r["page"]
        for r in spark.createDataFrame(pdf)
        .select(
            "doc_id",
            H.synth_html_col(F.col("doc_id"), F.col("text"), F.col("source")).alias(
                "page"
            ),
        )
        .collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    via_sql = dict(
        con.execute(
            f"SELECT doc_id, {H.synth_html_sql()} FROM documents"
        ).fetchall()
    )
    assert len(via_spark) == 60
    for _, row in pdf.iterrows():
        d = int(row["doc_id"])
        py = H.synth_html(d, row["text"], row["source"])
        assert via_spark[d] == py, f"spark!=py for doc {d}"
        assert via_sql[d] == py, f"sql!=py for doc {d}"


class _StdlibExtractor:
    """Independent replay: stdlib html.parser walk, skipping script and
    style content — what a 'real' extractor computes on these pages."""

    def extract(self, page: str) -> str:
        from html.parser import HTMLParser

        chunks = []

        class P(HTMLParser):
            skip = 0

            def handle_starttag(self, tag, attrs):
                if tag in ("script", "style"):
                    self.skip += 1
                chunks.append(" ")  # every tag is a word separator

            def handle_endtag(self, tag):
                if tag in ("script", "style") and self.skip:
                    self.skip -= 1
                chunks.append(" ")

            def handle_comment(self, data):
                chunks.append(" ")

            def handle_decl(self, decl):
                chunks.append(" ")

            def handle_data(self, data):
                if not self.skip:
                    chunks.append(data)

        p = P(convert_charrefs=True)
        p.feed(page)
        return re.sub(r"[ \t\r\n\xa0]+", " ", "".join(chunks)).strip()


def test_extract_matches_stdlib_parser_on_wellformed_pages(spark):
    """On well-formed pages (no soup: doc_id % 3 != 1) the regex
    pipeline must agree with the stdlib HTML parser."""
    rows = [(d, f"some body text {d} with words", f"src{d % 3}") for d in (0, 2, 3, 5, 6, 9)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        r["doc_id"]: r["txt"]
        for r in df.select(
            "doc_id",
            H.extract_text_col(
                H.synth_html_col(F.col("doc_id"), F.col("text"), F.col("source"))
            ).alias("txt"),
        ).collect()
    }
    ex = _StdlibExtractor()
    for d, t, s in rows:
        want = ex.extract(H.synth_html(d, t, s))
        assert got[d] == want, f"doc {d}: {got[d]!r} != {want!r}"


def test_soup_rows_extract_deterministically(spark):
    """Malformed tag soup must not crash and must keep the page's real
    text; the soup fragment degrades to its non-tag words."""
    df = spark.createDataFrame([(1, "payload words", "srcx")], ["doc_id", "text", "source"])
    txt = df.select(
        H.extract_text_col(
            H.synth_html_col(F.col("doc_id"), F.col("text"), F.col("source"))
        ).alias("t")
    ).collect()[0]["t"]
    assert "payload words" in txt
    assert "unclosed" in txt and "soup" in txt and "stray" in txt
    assert "<b>" not in txt and "not text" not in txt  # tags + script gone
    assert '<tag> & "q"' in txt  # entities decoded AFTER tag strip


def test_warc_lane_fail_soft_marker_row(spark, sf_dir):
    for q in (q_warc_ingest, q_warcgz_ingest):
        rows = q(spark, sf_dir).filter(F.col("shard_id") == _BAD_SHARD).collect()
        assert len(rows) == 1
        assert rows[0]["record_idx"] is None and rows[0]["html_md5"] is None


def test_warc_shards_are_real_archives(spark, sf_dir):
    """Pull one shard's payload pre-walk, built by the lane's own pack
    through _shard_stage, and re-parse it here: warcinfo head record,
    response records in doc_id order, HTTP envelopes."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators.multimodal import (
        _shard_stage,
    )
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext48 import (
        _URI_PREFIX,
        _warc_pack,
    )

    _N_SHARDS = 4  # the test forms its OWN shard; any modulus works

    shard = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select((F.col("doc_id") % _N_SHARDS).alias("shard_id"), "doc_id", "text", "source")
        .filter(F.col("shard_id") == 0)
    )
    docs = shard.toPandas().sort_values("doc_id")
    payload = bytes(_shard_stage(shard, _warc_pack(gz=False)).collect()[0]["payload"])
    parsed = warc.parse_warc(payload)
    assert parsed[0][0]["warc-type"] == "warcinfo"
    uris = [h["warc-target-uri"] for h, _ in parsed[1:]]
    assert uris == [f"{_URI_PREFIX}{d}" for d in docs["doc_id"]]
    _, _, body = warc.split_http_response(parsed[1][1])
    assert body.decode() == H.synth_html(
        int(docs.iloc[0]["doc_id"]), docs.iloc[0]["text"], docs.iloc[0]["source"]
    )


def test_warc_lane_plan_payload_never_crosses_exchange(spark, sf_dir):
    from test_plans import _plan

    for name in ("q_warc_ingest", "q_warcgz_ingest"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        for m in re.finditer(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", plan
        ):
            assert "payload" not in m.group(1), (name, m.group(1))


def test_html_extract_plan_is_pure_codegen(spark, sf_dir):
    """The extraction lane must stay JVM-side: no Python evaluation
    node anywhere in the physical plan."""
    from test_plans import _plan

    plan = _plan(q_html_extract(spark, sf_dir))
    assert "Python" not in plan  # no BatchEvalPython / MapInPandas node
    # one projection over the scan: no join, no aggregate, no extra
    # shuffle beyond the input-spread repartition
    for node in ("Join", "Aggregate", "Sort ", "Window"):
        assert node not in plan, node
    assert plan.count("+- Exchange") <= 1


def test_robots_longest_match_semantics(spark, sf_dir):
    """REP 9309 contracts, pinned row-level: the Allow carve-out must
    BEAT the shorter Disallow on odd mirrors (/d/1* allowed, other /d/*
    blocked); even mirrors (no-op Disallow) and unmatched paths default
    to allowed; the hub blocks exactly its /s/src1 prefix."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext48 import (
        q_robots_filter,
    )

    rows = q_robots_filter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        host, url, ok, rule = r["host"], r["url"], r["is_allowed"], r["rule"]
        if host == "hub.example.net":
            want = 0 if "/s/src1" in url else 1
            assert ok == want, (url, ok, rule)
        elif host[1] in "13":  # odd mirrors
            path_id = url.rsplit("/", 1)[-1]
            want = 1 if path_id.startswith("1") else 0
            assert ok == want, (url, ok, rule)
            # the winning rule is the most specific one
            assert rule == ("/d/1" if want else "/d/"), (url, rule)
        else:  # even mirrors: empty Disallow is a no-op -> no rule fires
            assert ok == 1 and rule is None, (url, ok, rule)


def test_robots_parser_subset_guards(spark):
    """The subset parser is LOUD at its seams (r10 advice): directive
    names match case-insensitively per RFC 9309 §2.1, while a
    non-`*` User-agent group and `*`/`$` wildcard metacharacters raise
    descriptive errors instead of producing silently-wrong verdicts."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import robots as R

    def rules_of(txt):
        df = spark.createDataFrame([("h", txt)], "host string, txt string")
        return {(r["is_allow"], r["prefix"]) for r in R.parse_robots(df).collect()}

    # lowercase / mixed-case directives parse identically to canonical
    assert rules_of("user-agent: *\ndisallow: /d/\nALLOW: /d/1") == {
        (0, "/d/"),
        (1, "/d/1"),
    }
    # leading whitespace before a directive is tolerated (trim-first)
    assert rules_of("User-agent: *\n  Disallow: /x/") == {(0, "/x/")}
    # non-`*` agent group: loud, names the offending line
    with pytest.raises(Exception, match="multi-group robots.txt"):
        rules_of("User-agent: GoogleBot\nDisallow: /private/")
    # RFC 9309 wildcards in a rule path: loud, not literal-prefix-matched
    with pytest.raises(Exception, match="wildcard metacharacters"):
        rules_of("User-agent: *\nDisallow: /*.pdf")
    with pytest.raises(Exception, match="wildcard metacharacters"):
        rules_of("User-agent: *\nDisallow: /d/$")


def test_crawl_schedule_pacing_semantics(spark, sf_dir):
    """Per-host pacing pins: odd mirrors publish Crawl-delay 2, even
    mirrors 3, the hub none (default 1 s); makespan is exactly
    (n_allowed-1)*delay; only odd mirrors block anything (/d/* minus
    the /d/1 carve-out)."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext48 import (
        q_crawl_schedule,
    )

    rows = {r["host"]: r for r in q_crawl_schedule(spark, sf_dir).collect()}
    assert rows
    for host, r in rows.items():
        if host == "hub.example.net":
            want_delay = 1
        elif host[1] in "13":
            want_delay = 2
        else:
            want_delay = 3
        assert r["crawl_delay_s"] == want_delay, (host, r)
        assert r["makespan_s"] == max(r["n_allowed"] - 1, 0) * want_delay, r
        if host.startswith("m") and host[1] in "13":
            assert r["n_blocked"] > 0, r  # /d/* minus the /d/1 carve-out
        elif host.startswith("m"):
            assert r["n_blocked"] == 0, r  # empty Disallow = allow-all


def test_parse_crawl_delay_guards(spark):
    """Crawl-delay parses case-insensitively, takes the conservative
    max across lines, and raises descriptively on the non-integer
    dialect (fractional seconds) instead of mis-pacing silently."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import robots as R

    def delays_of(txt):
        df = spark.createDataFrame([("h", txt)], "host string, txt string")
        return {r["host"]: r["crawl_delay_s"] for r in R.parse_crawl_delay(df).collect()}

    assert delays_of("User-agent: *\nCRAWL-DELAY: 5\ncrawl-delay: 2") == {"h": 5}
    assert delays_of("User-agent: *\nDisallow: /x/") == {}  # no directive
    with pytest.raises(Exception, match="non-integer Crawl-delay"):
        delays_of("User-agent: *\nCrawl-delay: 0.5")


def test_robots_sitemap_directive_semantics(spark, sf_dir):
    """Sitemap discovery pins: case-insensitive directive, multiple
    lines per host (hub lists two), cross-host URLs allowed, relative
    URLs raise."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import robots as R
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext51 import (
        q_robots_sitemaps,
    )

    rows = q_robots_sitemaps(spark, sf_dir).collect()
    per_host = {}
    for r in rows:
        per_host.setdefault(r["host"], set()).add(r["sitemap_url"])
    assert per_host["hub.example.net"] == {
        "https://cdn.example.net/maps/hub-a.xml",
        "https://cdn.example.net/maps/hub-b.xml",
    }
    # even mirrors publish the lowercase directive — still extracted
    evens = [h for h in per_host if h.startswith("m") and h[1] in "024"]
    assert evens and all(
        per_host[h] == {"https://cdn.example.net/maps/even.xml"} for h in evens
    )

    bad = spark.createDataFrame(
        [("h", "User-agent: *\nSitemap: /relative.xml")], "host string, txt string"
    )
    with pytest.raises(Exception, match="absolute URL"):
        R.parse_sitemap_urls(bad).collect()


def test_warc_revisit_resolution_and_hostile_paths(spark, sf_dir):
    """Revisit pins: every doc_id%3==1 doc yields a second, revisit
    row whose RESOLVED digest equals its original's; a corrupted
    digest or dangling reference fails the shard into the marker path,
    never a wrong row."""
    import hashlib

    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import warc
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext51 import (
        q_warc_revisit,
    )

    rows = q_warc_revisit(spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(r["doc_id"] is not None for r in rows)  # no marker rows
    n_rev = 0
    for d, rs in by_doc.items():
        responses = [r for r in rs if r["is_revisit"] == 0]
        revisits = [r for r in rs if r["is_revisit"] == 1]
        assert len(responses) == 1
        if d % 3 == 1:
            assert len(revisits) == 1
            assert revisits[0]["payload_md5"] == responses[0]["payload_md5"]
            assert revisits[0]["n_bytes"] == 0
            n_rev += 1
        else:
            assert not revisits
    assert n_rev > 0

    # hostile: digest disagreement → fail-soft marker, loud never wrong
    page = b"<html><body>x</body></html>"
    good = warc.response_record("https://a/1", warc.http_response(page))
    bad_rev = warc.revisit_record("https://b/1", "https://a/1", "0" * 32)
    shard = warc.warc_container(
        [warc.warcinfo_record("s\r\n"), good, bad_rev]
    )
    records = warc.parse_warc(shard)
    claimed = records[2][0]["warc-payload-digest"].removeprefix("md5:")
    assert claimed != hashlib.md5(page).hexdigest()  # the corruption is real
    # dangling reference is structurally detectable too
    dangling = warc.revisit_record("https://b/2", "https://never-seen/9", "0" * 32)
    refs = {r[0]["warc-record-id"] for r in records if r[0]["warc-type"] == "response"}
    assert warc.parse_warc(warc.warc_container([dangling]))[0][0][
        "warc-refers-to"
    ] not in refs


def test_robots_frontier_host_materialization_identity(spark, sf_dir):
    """materialize_hosts=True (the r12 two-consumer REP optimization)
    must change only the physical plan: the robots table (host, txt)
    and the downstream gated verdicts are row-identical to the lazy
    form, and the materialized hosts table is |hosts|-bounded (the
    checkpoint never captures corpus-sized state)."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import robots as R
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext48 import (
        _robots_frontier,
    )

    f_lazy, r_lazy = _robots_frontier(spark, sf_dir)
    f_mat, r_mat = _robots_frontier(spark, sf_dir, materialize_hosts=True)

    rows_lazy = sorted(map(tuple, r_lazy.collect()))
    rows_mat = sorted(map(tuple, r_mat.collect()))
    assert rows_lazy == rows_mat and rows_mat  # same hosts, same bodies
    # bounded state: one row per distinct host, nothing corpus-sized
    n_hosts = f_lazy.select("host").distinct().count()
    assert len(rows_mat) == n_hosts

    # the verdict path (rules broadcast built from the materialized
    # table) is value-identical too
    v_lazy = R.gate_frontier(f_lazy, R.parse_robots(r_lazy), ["doc_id", "url"])
    v_mat = R.gate_frontier(f_mat, R.parse_robots(r_mat), ["doc_id", "url"])
    assert sorted(map(tuple, v_lazy.collect())) == sorted(
        map(tuple, v_mat.collect())
    )
