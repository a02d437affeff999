"""Extended inventory L — round-10 second wave: the remaining ingest
surfaces a crawl/corpus pipeline meets before content processing.

- ``q_zip_shard_roundtrip`` — ZIP is the other shard container (Kaggle
  corpora, office-document bundles).  ``operators/pkzip.py`` builds and
  walks real central-directory archives (APPNOTE.TXT layout, CRC-32
  verified, stored + deflate, stdlib-zipfile cross-agreement both
  directions); this lane round-trips the documents table through 8 ZIP
  shards — per-shard compression alternates stored/deflate (shard_id
  parity), and the decoded rows — and the oracle — are the tar lane's
  verbatim: the archive FORMAT must be invisible to the content.
- ``q_sitemap_parse`` — the crawl's third discovery input (after WARC
  captures and page links): per-host sitemap.xml built from the corpus
  (urlset/url/loc/lastmod, the sitemaps.org shape), then parsed back
  with positional loc↔lastmod pairing; oracle replays the logical rows
  straight from the documents table, so a mis-paired zip or a dropped
  entry fails the value hash.
- ``q_unicode_normalize`` — NFC normalization, the first text-cleaning
  step of every multilingual corpus pipeline: synthesize decomposed
  text (combining acute on every 'e'), normalize via Arrow-batched
  unicodedata (the documented escape hatch — Spark has no NFC
  built-in), account changed rows and codepoint deltas; DuckDB's
  native ``nfc_normalize`` replays the whole lane, so the UDF is
  pinned by an independent NFC implementation (ICU-backed).
- ``q_pdf_extract`` — the document-layer codec (operators/pdf.py, PDF
  1.4 subset): every doc round-trips through a real multi-page PDF
  (xref bookkeeping, FlateDecode on odd ids) and back out through the
  catalog → page tree → content-stream → Tj-literal extraction path;
  page count and recovered-text md5 replayed by the oracle.
- ``q_docx_extract`` — office documents by CODEC COMPOSITION
  (operators/docx.py = pkzip + WordprocessingML): package walk,
  content-type gate, ``<w:t>`` run extraction, entity decode.
- ``q_tarxz_shard_roundtrip`` / ``q_tarbz2_shard_roundtrip`` — the
  remaining stdlib compression frames over the ustar walk; with
  gzip/xz/bz2/zip-stored/zip-deflate the shard matrix is closed.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import multimodal, pkzip, tar
from .queries_ext47 import SQL_TAR_SHARD_ROUNDTRIP, _member_shard_lane
from .registry import register
from .tables import _t


def q_zip_shard_roundtrip(spark, sf_dir):
    """ZIP shard round trip: docs → 8 central-directory archives
    (stored for even shards, deflate for odd — the walk must be
    method-blind; ZIP64 records FORCED on the upper shard half, the
    framing a 100 TB ingest meets on >4 GiB archives, exercised here
    via the forced switch instead of 4 GiB fixtures) → CRC-verified
    walk → per-member rows.  Shares the tar lane's oracle verbatim —
    method AND framing must both be invisible to the content.  Scale
    shape: one keyed shuffle to form shards, then linear walks;
    payloads never shuffle again."""

    def pack(sid, members):
        method = "stored" if sid % 2 == 0 else "deflate"
        # shard_id % 4 covers all four method × framing combos
        return pkzip.zip_container(members, method=method, zip64=sid % 4 >= 2)

    return _member_shard_lane(spark, sf_dir, pack, pkzip.parse_zip, ValueError)


register(q_zip_shard_roundtrip, SQL_TAR_SHARD_ROUNDTRIP)


# --------------------------------------------------------------------------
# sitemap.xml — the third crawl-discovery input
# --------------------------------------------------------------------------

_SM_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
)


def q_sitemap_parse(spark, sf_dir):
    """sitemap.xml round trip: each mirror host publishes a sitemap
    listing its documents (url/loc/lastmod entries, lastmod derived
    from doc_id), built as ONE XML string per host (host-keyed
    aggregate, entries in url order) — then parsed back by positional
    loc↔lastmod pairing (arrays_zip over regexp_extract_all).  The
    oracle replays the logical rows straight from documents: a dropped
    entry, shuffled order, or mis-paired lastmod fails the hash.

    Scale shape: one host-keyed aggregate builds, one projection
    parses; |hosts| XML strings total."""
    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("m"), (F.col("doc_id") % 5).cast("string"), F.lit(".example.org"))
    url = F.concat(F.lit("https://"), host, F.lit("/d/"), F.col("doc_id").cast("string"))
    lastmod = F.concat(
        F.lit("2021-01-"), F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0")
    )
    entry = F.concat(
        F.lit("<url><loc>"), url, F.lit("</loc><lastmod>"), lastmod,
        F.lit("</lastmod></url>"),
    )
    sitemaps = (
        docs.select(host.alias("host"), entry.alias("entry"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit(_SM_HEAD),
                F.concat_ws("", F.array_sort(F.collect_list("entry"))),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    locs = F.regexp_extract_all(F.col("xml"), F.lit("<loc>([^<]+)</loc>"), 1)
    mods = F.regexp_extract_all(
        F.col("xml"), F.lit("<lastmod>([^<]+)</lastmod>"), 1
    )
    return (
        sitemaps.select("host", F.explode(F.arrays_zip(locs, mods)).alias("z"))
        .select(
            "host",
            F.col("z.0").alias("url"),
            F.col("z.1").alias("lastmod"),
        )
    )


SQL_SITEMAP_PARSE = """
SELECT 'm' || (doc_id % 5) || '.example.org' AS host,
       'https://m' || (doc_id % 5) || '.example.org/d/' || doc_id AS url,
       '2021-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') AS lastmod
FROM documents
"""

register(q_sitemap_parse, SQL_SITEMAP_PARSE)


# --------------------------------------------------------------------------
# NFC normalization — the first multilingual text-cleaning step
# --------------------------------------------------------------------------

_COMBINING_ACUTE = "́"


def q_unicode_normalize(spark, sf_dir):
    """NFC normalization: plant decomposed sequences (every 'e' becomes
    'e' + U+0301 combining acute), normalize with unicodedata in ONE
    Arrow-batched pandas UDF (Spark ships no NFC built-in — this is the
    documented escape hatch, scalar pandas_udf so the lane stays one
    projection), and account the delta: codepoint counts before/after,
    changed flag, md5 of the normalized text.  DuckDB's native
    nfc_normalize (ICU) replays the lane — two independent NFC
    implementations must agree byte-for-byte."""
    import unicodedata

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None if v is None else unicodedata.normalize("NFC", v)
        )

    docs = _t(spark, sf_dir, "documents")
    raw = F.replace(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("e"),
        F.lit("e" + _COMBINING_ACUTE),
    )
    out = docs.select("doc_id", raw.alias("raw")).select(
        "doc_id",
        F.length("raw").cast("bigint").alias("n_cp_raw"),
        nfc(F.col("raw")).alias("norm"),
    )
    return out.select(
        "doc_id",
        "n_cp_raw",
        F.length("norm").cast("bigint").alias("n_cp_nfc"),
        (F.length("norm") < F.col("n_cp_raw")).cast("int").alias("changed"),
        F.md5("norm").alias("nfc_md5"),
    )


SQL_UNICODE_NORMALIZE = f"""
WITH r AS (
  SELECT doc_id,
         replace(COALESCE(text, ''), 'e', 'e' || chr(769)) AS raw
  FROM documents
), n AS (
  SELECT doc_id, length(raw) AS n_cp_raw, nfc_normalize(raw) AS norm FROM r
)
SELECT doc_id,
       CAST(n_cp_raw AS BIGINT) AS n_cp_raw,
       CAST(length(norm) AS BIGINT) AS n_cp_nfc,
       CASE WHEN length(norm) < n_cp_raw THEN 1 ELSE 0 END AS changed,
       md5(norm) AS nfc_md5
FROM n
"""

register(q_unicode_normalize, SQL_UNICODE_NORMALIZE)


# --------------------------------------------------------------------------
# PDF text extraction — the document-layer codec lane
# --------------------------------------------------------------------------

_PDF_WORDS_PER_PAGE = 40

_PKG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def _package_stage(docs, words_per_unit, make):
    """(doc_id, text) → (doc_id, payload): each doc's text cut into
    ``words_per_unit``-word units (at least one), packaged by
    ``make(doc_id, units)``."""
    n = words_per_unit

    def row(d, t):
        words = ("" if t is None else t).split(" ")
        units = [" ".join(words[i : i + n]) for i in range(0, len(words), n)]
        yield int(d), make(int(d), units)

    return multimodal._row_stage(docs, ("doc_id", "text"), _PKG_SCHEMA, row)


def _text_stage(pkgs, extract, unit_col):
    """(doc_id, payload) → (doc_id, <unit_col>, n_chars, text_md5):
    ``extract(payload)`` recovers a package's text units, which rejoin
    with single spaces; a ValueError yields one NULL marker row."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField(unit_col, T.IntegerType(), True),
            T.StructField("n_chars", T.LongType(), True),
            T.StructField("text_md5", T.StringType(), True),
        ]
    )

    def row(d, payload):
        try:
            units = extract(bytes(payload))
        except ValueError:
            yield d, None, None, None
            return
        text = " ".join(units)
        yield d, len(units), len(text), hashlib.md5(text.encode("utf-8")).hexdigest()

    return multimodal._row_stage(pkgs, ("doc_id", "payload"), schema, row)


def _pdf_build(docs):
    """(doc_id, text) → (doc_id, payload) real multi-page PDFs, 40 words
    per page; doc_id % 4 picks the container flavor."""
    from .operators import pdf

    build_pdf, split = pdf.pdf_container, pdf.split_lines
    append_pdf = pdf.pdf_incremental_append

    def make(d, units):
        pages = [split(u) for u in units]
        # plain 1.4 / flate 1.4 / xref-stream 1.5 / incremental
        flavor = d % 4
        if flavor == 3:
            return append_pdf(build_pdf(pages[:1], compress=True), pages[1:])
        return build_pdf(pages, compress=flavor >= 1, xref_stream=flavor == 2)

    return _package_stage(docs, _PDF_WORDS_PER_PAGE, make)


def q_pdf_extract(spark, sf_dir):
    """Document-format round trip through the subset-PDF codec
    (operators/pdf.py): each doc becomes a REAL multi-page PDF
    (40 words per page, 60-char text lines, xref/trailer bookkeeping;
    doc_id % 4 routes the CONTAINER flavor — plain 1.4, FlateDecode
    1.4, the modern PDF 1.5 layout with ObjStm-packed dicts and a
    /Predictor 12 cross-reference stream, or an INCREMENTALLY UPDATED
    file whose pages past the first arrive as an appended /Prev
    section — extraction must be blind to filter, xref flavor, and
    update history), then the parser resolves catalog → page tree →
    content streams → Tj literals and reassembles the text.  The
    oracle replays page count and the md5 of the recovered text from
    the documents table: a dropped page, mis-ordered kid, or broken
    escape fails the hash.

    Scale shape: build and parse fuse into one stateless Arrow map
    stage — no shuffle at all; payloads never leave the Python
    worker."""
    from .operators import pdf

    docs = _t(spark, sf_dir, "documents")
    return _text_stage(_pdf_build(docs), pdf.parse_pdf, "n_pages")


SQL_PDF_EXTRACT = f"""
SELECT doc_id,
       CAST(greatest(1, ceil(len(string_split(COALESCE(text, ''), ' '))
                             / {_PDF_WORDS_PER_PAGE}.0)) AS INTEGER) AS n_pages,
       CAST(length(COALESCE(text, '')) AS BIGINT) AS n_chars,
       md5(COALESCE(text, '')) AS text_md5
FROM documents
"""

register(q_pdf_extract, SQL_PDF_EXTRACT)


# --------------------------------------------------------------------------
# DOCX extraction — office documents via codec composition (zip + XML)
# --------------------------------------------------------------------------

_DOCX_WORDS_PER_PARA = 20


def q_docx_extract(spark, sf_dir):
    """Office-document round trip: each doc becomes a minimal VALID
    .docx (operators/docx.py — [Content_Types].xml + rels + a
    WordprocessingML main part, deflate ZIP members via the in-repo
    pkzip walker; 20-word paragraphs, XML-escaped runs), then text is
    re-extracted through the package walk → content-type check →
    ``<w:t>`` run extraction → entity decode.  The oracle replays
    paragraph count and recovered-text md5 from documents.  One fused
    stateless Arrow map stage, zero shuffle."""
    from .operators import docx

    pkgs = _package_stage(
        _t(spark, sf_dir, "documents"),
        _DOCX_WORDS_PER_PARA,
        lambda d, paras: docx.docx_container(paras),
    )
    return _text_stage(pkgs, docx.docx_text, "n_paragraphs")


SQL_DOCX_EXTRACT = f"""
SELECT doc_id,
       CAST(greatest(1, ceil(len(string_split(COALESCE(text, ''), ' '))
                             / {_DOCX_WORDS_PER_PARA}.0)) AS INTEGER)
           AS n_paragraphs,
       CAST(length(COALESCE(text, '')) AS BIGINT) AS n_chars,
       md5(COALESCE(text, '')) AS text_md5
FROM documents
"""

register(q_docx_extract, SQL_DOCX_EXTRACT)


# --------------------------------------------------------------------------
# xz / bz2 tar shards — the remaining stdlib compression frames
# --------------------------------------------------------------------------


def q_tarxz_shard_roundtrip(spark, sf_dir):
    """.tar.xz shards (stdlib lzma): the highest-ratio frame corpora
    actually ship in; shares the tar oracle verbatim."""
    import lzma

    return _member_shard_lane(
        spark,
        sf_dir,
        lambda sid, members: lzma.compress(tar.tar_container(members), preset=6),
        lambda payload: tar.parse_tar(lzma.decompress(payload)),
        (ValueError, lzma.LZMAError),
    )


def q_tarbz2_shard_roundtrip(spark, sf_dir):
    """.tar.bz2 shards (stdlib bz2); shares the tar oracle verbatim."""
    import bz2

    return _member_shard_lane(
        spark,
        sf_dir,
        lambda sid, members: bz2.compress(tar.tar_container(members), 6),
        lambda payload: tar.parse_tar(bz2.decompress(payload)),
        (ValueError, OSError),
    )


register(q_tarxz_shard_roundtrip, SQL_TAR_SHARD_ROUNDTRIP)
register(q_tarbz2_shard_roundtrip, SQL_TAR_SHARD_ROUNDTRIP)


# --------------------------------------------------------------------------
# Markdown→text — the README/docs-site text carrier
# --------------------------------------------------------------------------


def q_markdown_extract(spark, sf_dir):
    """Markdown→text extraction, zero Python (operators/markdown.py):
    synthesize each doc's page (header, emphasis, inline code, a fenced
    code block that must NOT leak, a kept-text link, a dropped image,
    blockquote, list), strip it with ordered regex steps, emit per-doc
    accounting.  One whole-stage-codegen projection; the oracle runs
    the same regex pipeline in DuckDB (RE2) — the one engine-specific
    piece is the backreference syntax in the link-text replacement."""
    from .operators import markdown as M

    docs = _t(spark, sf_dir, "documents")
    page = M.synth_md_col(F.col("doc_id"), F.col("text"))
    txt = M.extract_md_col(page)
    return docs.select(
        "doc_id",
        F.length(page).cast("bigint").alias("n_md_chars"),
        F.length(txt).cast("bigint").alias("n_text_chars"),
        F.size(F.split(txt, " ")).cast("bigint").alias("n_tokens"),
        F.md5(txt).alias("text_md5"),
    )


def _sql_markdown_extract() -> str:
    from .operators import markdown as M

    md = M.synth_md_sql()
    txt = M.extract_md_sql("page")
    return f"""
WITH p AS (
  SELECT doc_id, {md} AS page FROM documents
), x AS (
  SELECT doc_id, page, {txt} AS txt FROM p
)
SELECT doc_id,
       CAST(length(page) AS BIGINT) AS n_md_chars,
       CAST(length(txt) AS BIGINT) AS n_text_chars,
       CAST(len(string_split(txt, ' ')) AS BIGINT) AS n_tokens,
       md5(txt) AS text_md5
FROM x
"""


register(q_markdown_extract, _sql_markdown_extract())


# --------------------------------------------------------------------------
# SFT chat-template assembly + loss masking — the fine-tuning data prep
# --------------------------------------------------------------------------

_SFT_WORDS_PER_TURN = 15
_SFT_SYSTEM = "You are a helpful assistant."


def q_sft_chat_mask(spark, sf_dir):
    """SFT data prep, the step between a curated corpus and a
    fine-tuning run: each document becomes a multi-turn conversation
    (15-word turns, alternating user/assistant, one system turn),
    rendered through a chat template
    (``<|role|>content<|end|>`` markers) with per-turn LOSS MASKING —
    only assistant turns are trainable; user/system tokens are context.
    Emits per-doc: turn count, total/trainable token counts (word count
    + 2 marker tokens per turn), the trainable ratio in ppm (exact
    integer), and the md5 of the rendered template.

    Zero Python: turn slicing, role assignment, template render, and
    mask accounting are all array expressions inside one
    whole-stage-codegen projection — the oracle replays them with
    DuckDB list ops."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    n_turns = F.greatest(
        F.lit(1), F.ceil(F.size(words) / _SFT_WORDS_PER_TURN).cast("int")
    )
    idx = F.sequence(F.lit(0), n_turns - 1)
    turn_text = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(words, i * _SFT_WORDS_PER_TURN + 1, _SFT_WORDS_PER_TURN)
    )
    role = lambda i: F.when(i % 2 == 0, F.lit("user")).otherwise(  # noqa: E731
        F.lit("assistant")
    )
    rendered = F.concat(
        F.lit(f"<|system|>{_SFT_SYSTEM}<|end|>"),
        F.concat_ws(
            "",
            F.transform(
                idx,
                lambda i: F.concat(
                    F.lit("<|"), role(i), F.lit("|>"), turn_text(i), F.lit("<|end|>")
                ),
            ),
        ),
    )
    tok = lambda i: F.size(F.split(turn_text(i), " ")) + 2  # noqa: E731
    total = F.aggregate(
        F.transform(idx, tok), F.lit(0), lambda acc, t: acc + t
    )
    trainable = F.aggregate(
        F.transform(idx, lambda i: F.when(i % 2 == 1, tok(i)).otherwise(F.lit(0))),
        F.lit(0),
        lambda acc, t: acc + t,
    )
    # exact integer ppm: numerator <= ~1e12, exact in double, floored —
    # matches the oracle's integer // division
    ppm = F.floor(trainable.cast("bigint") * 1000000 / total.cast("bigint"))
    return docs.select(
        "doc_id",
        n_turns.alias("n_turns"),
        total.cast("bigint").alias("n_tokens"),
        trainable.cast("bigint").alias("n_trainable"),
        ppm.cast("bigint").alias("trainable_ppm"),
        F.md5(rendered).alias("template_md5"),
    )


SQL_SFT_CHAT_MASK = f"""
WITH t AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS words FROM documents
), s AS (
  SELECT doc_id, words,
         greatest(1, CAST(ceil(len(words) / {_SFT_WORDS_PER_TURN}.0) AS INTEGER))
             AS n_turns
  FROM t
), r AS (
  SELECT doc_id, n_turns,
         list_transform(range(0, n_turns), i ->
             array_to_string(list_slice(words, i * {_SFT_WORDS_PER_TURN} + 1,
                                        (i + 1) * {_SFT_WORDS_PER_TURN}), ' '))
             AS turns
  FROM s
), m AS (
  SELECT doc_id, n_turns,
         '<|system|>{_SFT_SYSTEM}<|end|>' ||
         array_to_string(list_transform(range(0, n_turns), i ->
             '<|' || CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END ||
             '|>' || turns[i + 1] || '<|end|>'), '') AS rendered,
         list_transform(range(0, n_turns), i ->
             len(string_split(turns[i + 1], ' ')) + 2) AS toks
  FROM r
)
SELECT doc_id, n_turns,
       CAST(list_sum(toks) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(range(0, n_turns), i ->
            CASE WHEN i % 2 = 1 THEN toks[i + 1] ELSE 0 END)) AS BIGINT)
           AS n_trainable,
       CAST(CAST(list_sum(list_transform(range(0, n_turns), i ->
            CASE WHEN i % 2 = 1 THEN toks[i + 1] ELSE 0 END)) AS BIGINT)
            * 1000000 // CAST(list_sum(toks) AS BIGINT) AS BIGINT)
           AS trainable_ppm,
       md5(rendered) AS template_md5
FROM m
"""

register(q_sft_chat_mask, SQL_SFT_CHAT_MASK)


# --------------------------------------------------------------------------
# Preference-pair construction — DPO/RLHF data prep
# --------------------------------------------------------------------------


def q_preference_pairs(spark, sf_dir):
    """Preference-pair construction (the DPO/reward-model data-prep
    step): rank documents per source by the quality-classifier logit
    (the ext16 integer lane), then pair rank i with rank n+1−i — best
    vs worst, second vs second-worst — keeping only strict preferences
    (margin > 0).  Emits (source, pair_idx, chosen_id, rejected_id,
    margin_centi), all exact integers.

    Scale note: pairing needs a total order per key; the per-source
    window is the honest plan at bounded source cardinality (the
    corpus' sources are a fixed small set), and the two-phase
    keyed_running_sum rewrite (q_token_budget_pack precedent) is the
    documented dial if a single key ever dominates."""
    from pyspark.sql import Window

    from .queries_ext16 import quality_scores

    scores = quality_scores(_t(spark, sf_dir, "documents")).select(
        "source", "doc_id", "logit_centi"
    )
    w = Window.partitionBy("source").orderBy(F.desc("logit_centi"), "doc_id")
    ranked = scores.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    hi = ranked.filter(F.col("rk") <= F.expr("n div 2")).select(
        "source",
        F.col("rk").alias("pair_idx"),
        F.col("doc_id").alias("chosen_id"),
        F.col("logit_centi").alias("lc"),
        "n",
    )
    lo = ranked.select(
        "source",
        (F.col("n") + 1 - F.col("rk")).alias("pair_idx"),
        F.col("doc_id").alias("rejected_id"),
        F.col("logit_centi").alias("ll"),
    )
    return (
        hi.join(lo, ["source", "pair_idx"])
        .filter(F.col("lc") > F.col("ll"))
        .select(
            "source",
            F.col("pair_idx").cast("int").alias("pair_idx"),
            "chosen_id",
            "rejected_id",
            (F.col("lc") - F.col("ll")).cast("bigint").alias("margin_centi"),
        )
    )


def _sql_preference_pairs() -> str:
    from .queries_ext16 import SQL_QUALITY_CLASSIFIER

    return f"""
WITH q AS ({SQL_QUALITY_CLASSIFIER}),
r AS (
  SELECT source, doc_id, logit_centi,
         row_number() OVER (PARTITION BY source
                            ORDER BY logit_centi DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM q
)
SELECT h.source,
       CAST(h.rk AS INTEGER) AS pair_idx,
       h.doc_id AS chosen_id,
       l.doc_id AS rejected_id,
       CAST(h.logit_centi - l.logit_centi AS BIGINT) AS margin_centi
FROM r h JOIN r l
  ON h.source = l.source AND l.rk = h.n + 1 - h.rk AND h.rk <= h.n // 2
WHERE h.logit_centi > l.logit_centi
"""


register(q_preference_pairs, _sql_preference_pairs())


# --------------------------------------------------------------------------
# EPUB extraction — e-books by triple codec composition
# --------------------------------------------------------------------------

_EPUB_WORDS_PER_CH = 30


def q_epub_extract(spark, sf_dir):
    """E-book round trip (operators/epub.py = pkzip + OPF/spine layer +
    the shared HTML extractor): each doc becomes a minimal valid EPUB
    (stored-first mimetype per OCF, container.xml → OPF → spine,
    30-word XHTML chapters), text re-extracted IN SPINE ORDER.  The
    oracle replays chapter count + recovered-text md5 from documents;
    one fused stateless Arrow map stage, zero shuffle."""
    from .operators import epub

    pkgs = _package_stage(
        _t(spark, sf_dir, "documents"),
        _EPUB_WORDS_PER_CH,
        lambda d, chapters: epub.epub_container(chapters),
    )
    return _text_stage(pkgs, epub.epub_text, "n_chapters")


SQL_EPUB_EXTRACT = f"""
SELECT doc_id,
       CAST(greatest(1, ceil(len(string_split(COALESCE(text, ''), ' '))
                             / {_EPUB_WORDS_PER_CH}.0)) AS INTEGER)
           AS n_chapters,
       CAST(length(COALESCE(text, '')) AS BIGINT) AS n_chars,
       md5(COALESCE(text, '')) AS text_md5
FROM documents
"""

register(q_epub_extract, SQL_EPUB_EXTRACT)


# --------------------------------------------------------------------------
# .jsonl.gz corpus shards — the most common LLM-corpus wire format
# --------------------------------------------------------------------------


def q_jsonlgz_source(spark, sf_dir):
    """Gzipped JSON-lines corpus round trip — the format LLM corpora
    most often ship in (one JSON object per line, whole-file gzip):
    write the documents table as .json.gz through Spark's native codec
    path, read it back with an EXPLICIT schema (inference is a full
    extra pass at scale; codec detection is by extension), and
    aggregate per source.  Oracle replays the aggregate from the
    table.  Scale shape: gzip is splittable-by-FILE, not by block —
    at 100 TB the file count is the parallelism (the same
    size-shards-by-content rule as the WARC lanes)."""
    import tempfile

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out_dir = tempfile.mkdtemp(prefix="sg_jsonlgz_") + "/data"
    docs.coalesce(4).write.mode("overwrite").option("compression", "gzip").json(
        out_dir
    )
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).json(out_dir)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
        F.countDistinct("lang").alias("n_langs"),
    )


SQL_JSONLGZ_SOURCE = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
       COUNT(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
"""

register(q_jsonlgz_source, SQL_JSONLGZ_SOURCE)
