"""Extended inventory XXX — web-curation + eval-metric lanes (round 6,
fourth batch).

Four lanes from the web-crawl end of a training-data pipeline — the
stages that run BEFORE text quality scoring in a CC-style curation
stack, plus the n-gram overlap metric used to score generated text
against references:

- ``q_url_canonicalize``: URL canonicalization + dedup — the very first
  dedup a web corpus sees (CCNet/RefinedWeb dedupe by normalized URL
  before touching content).  The synthetic corpus has no URL column, so
  the lane PLANTS a deterministic messy URL per doc (mixed-case host,
  default :443 port, trailing slash, utm_* tracking params in shuffled
  order, fragment — the q_pii_scrub plant-then-process pattern), then
  canonicalizes from the raw string alone: lowercase host, strip
  default port, strip fragment, strip trailing slash, drop utm_*
  params, sort surviving params.  Dedup groups by canonical URL.  Pure
  JVM regexp/array ops — one Project + one keyed aggregate; at 100 TB
  this is a map stage plus one shuffle on the canonical key.
- ``q_keyword_tag``: taxonomy tagging against a broadcast keyword
  dictionary (the FastText-rules stand-in every curation stack uses for
  cheap domain routing).  Topic fires when its keywords' OCCURRENCE
  count in the doc reaches a threshold (presence alone is useless here:
  a 31-word vocab puts every keyword in nearly every doc).  The
  dictionary rides as literal arrays — O(1) plan size, zero shuffles,
  whole-stage codegen end to end.
- ``q_token_budget_pack``: per-source token-budget admission — the
  curation step that turns "ranked docs" into "the dataset": order each
  source by priority (longer docs first, doc_id tiebreak), admit while
  the running token sum fits the per-source budget.  One keyed window
  (partition source) + one keyed aggregate; no global sort anywhere.
- ``q_bleu_pairs``: modified n-gram precision (BLEU-2 shape) between
  adjacent same-source docs — candidate n-gram counts clipped by the
  reference's, the eval metric run at corpus scale when scoring model
  outputs against references.  Counts are integers, precisions are
  integer-divided ppm, and the geometric mean goes through
  floor(sqrt(exact-integer product)) — sqrt is IEEE-correctly-rounded
  on both engines, so the lane stays bit-deterministic.

Scale posture: every shuffle is keyed (canonical_url / doc_id /
(ref, gram) / source); the keyword dictionary and the pair->ref mapping
broadcast; nothing enumerates cross-doc pairs beyond the LEAD-adjacent
pairing, so the BLEU lane is O(corpus) not O(corpus²).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import text
from .queries_ext29 import _BG_SQL, bigrams_of
from .registry import register
from .tables import TOKS_SQL, _t


# ---------------------------------------------------------------------------
# q_url_canonicalize — URL canonicalization + URL-level dedup
# ---------------------------------------------------------------------------

def _messy_url():
    """Deterministic messy URL per doc (plant-then-process, like
    q_pii_scrub): https://[HOST][:443]/Docs/<doc_id%40>[/]?[utm_source=
    feed&][b=2&]a=1[#sec] with host case flipped on doc_id%3."""
    host = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(
            F.col("source")
        ),
        F.lit(".Example.COM"),
    )
    port = F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit(""))
    path = F.concat(
        F.lit("/Docs/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    qs = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("utm_source=feed&")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("b=2&")).otherwise(F.lit("")),
        F.lit("a=1"),
    )
    frag = F.when(F.col("doc_id") % 7 == 0, F.lit("#sec")).otherwise(F.lit(""))
    # doc_id % 11 plants a NON-https scheme: the canonicalizer must map
    # it to NULL (scheme guard), not fold it into a constant https URL —
    # this makes the oracle's guard load-bearing, not latent (advisor r7)
    scheme = F.when(F.col("doc_id") % 11 == 0, F.lit("http://")).otherwise(
        F.lit("https://")
    )
    return F.concat(scheme, host, port, path, F.lit("?"), qs, frag)


_MESSY_URL_SQL = """
  (CASE WHEN doc_id % 11 = 0 THEN 'http://' ELSE 'https://' END)
    || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
    || '.Example.COM'
    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
    || '/Docs/' || CAST(doc_id % 40 AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
    || '?'
    || (CASE WHEN doc_id % 2 = 0 THEN 'utm_source=feed&' ELSE '' END)
    || (CASE WHEN doc_id % 3 = 0 THEN 'b=2&' ELSE '' END)
    || 'a=1'
    || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)
"""


def canonical_url(url) -> F.Column:
    """Canonical form of a raw https URL string column: lowercase host,
    strip default :443 port, strip fragment, strip one trailing slash
    (path case PRESERVED — RFC 3986 says only scheme+host are
    case-insensitive), drop utm_* params, sort survivors.  NULL in ⇒
    NULL out, and a non-https / malformed URL ALSO maps to NULL:
    regexp_extract returns '' on no match, so without the scheme guard
    every such doc would canonicalize to the constant 'https://' and
    URL-dedup would silently keep ONE survivor out of all of them —
    NULL instead passes each through dedup untouched.  Shared by
    q_url_canonicalize and jobs.web_ingest."""
    url = F.col(url) if isinstance(url, str) else url
    nofrag = F.regexp_replace(url, "#.*$", "")
    hostport = F.regexp_extract(nofrag, "^https://([^/?#]+)", 1)
    host = F.lower(F.regexp_replace(hostport, ":443$", ""))
    path = F.regexp_extract(nofrag, "^https://[^/?#]+(/[^?#]*)", 1)
    # ALL trailing slashes, not one: 'https://h//' must canonicalize in
    # a single pass (idempotence pinned by hypothesis)
    path_norm = F.regexp_replace(path, "/+$", "")
    qs = F.regexp_extract(nofrag, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(qs, "&"),
        lambda x: (F.substring(x, 1, 4) != "utm_") & (x != ""),
    )
    qs_norm = F.concat_ws("&", F.array_sort(params))
    return F.when(
        url.rlike("^https://[^/?#]"),
        F.concat(
            F.lit("https://"),
            host,
            path_norm,
            F.when(qs_norm != "", F.concat(F.lit("?"), qs_norm)).otherwise(
                F.lit("")
            ),
        ),
    )  # no otherwise(): non-matching and NULL inputs both yield NULL


def q_url_canonicalize(spark, sf_dir):
    """Canonicalize planted messy URLs from the RAW STRING alone (the
    parse must not peek at the columns that built the URL), then dedup
    by canonical form — see ``canonical_url``.  NULL source ⇒ NULL URL
    ⇒ one NULL canonical group on both engines.  Output:
    canonical_url, n_docs, n_variants (how many distinct messy
    spellings collapsed), first_doc."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _messy_url().alias("url")
    )
    return (
        d.select("doc_id", "url", canonical_url("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("url").cast("bigint").alias("n_variants"),
            F.min("doc_id").alias("first_doc"),
        )
    )


SQL_URL_CANONICALIZE = f"""
WITH raw AS (
  SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents
), parsed AS (
  SELECT doc_id, url,
         regexp_replace(url, '#.*$', '') AS nofrag
  FROM raw
), parts AS (
  SELECT doc_id, url,
         lower(regexp_replace(
             regexp_extract(nofrag, '^https://([^/?#]+)', 1),
             ':443$', '')) AS host,
         regexp_replace(
             regexp_extract(nofrag, '^https://[^/?#]+(/[^?#]*)', 1),
             '/+$', '') AS path_norm,
         COALESCE(array_to_string(
             list_sort(list_filter(
                 string_split(regexp_extract(nofrag, '\\?([^#]*)', 1), '&'),
                 x -> left(x, 4) <> 'utm_' AND x <> '')), '&'), '') AS qs_norm
  FROM parsed
), canon AS (
  SELECT doc_id, url,
         -- scheme guard mirrors the Spark rlike: DuckDB's
         -- regexp_extract returns '' (not NULL) on no match, so
         -- host IS NULL alone would let malformed non-https URLs
         -- canonicalize to a constant instead of NULL
         CASE WHEN url IS NULL
                   OR NOT regexp_matches(url, '^https://[^/?#]')
              THEN NULL
              ELSE 'https://' || host || path_norm
                   || (CASE WHEN qs_norm <> '' THEN '?' || qs_norm
                            ELSE '' END)
         END AS canonical_url
  FROM parts
)
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants,
       MIN(doc_id) AS first_doc
FROM canon GROUP BY canonical_url
"""

register(q_url_canonicalize, SQL_URL_CANONICALIZE)


# ---------------------------------------------------------------------------
# q_keyword_tag — broadcast-dictionary taxonomy tagging
# ---------------------------------------------------------------------------

# topic -> keywords, over the corpus's actual vocabulary.  Occurrence
# threshold rather than presence: docs average ~100 tokens over a
# 31-word vocabulary, so PRESENCE of any common word is ~certain and
# would tag every doc identically; requiring >= _TAG_MIN occurrences
# puts the expected per-topic count (~9.6 for a 3-keyword topic) right
# at the decision boundary, so tags genuinely vary per doc.
_TOPICS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("joins", ("join", "merge", "hash")),
    ("sorting", ("sort", "order", "key")),
    ("storage", ("table", "scan", "row")),
    ("streaming", ("stream", "window", "batch")),
    ("vectors", ("vector", "column")),
)
_TAG_MIN = 10


def keyword_tags(toks) -> F.Column:
    """Array of topic names whose keyword OCCURRENCE count in the token
    array reaches _TAG_MIN — compact (no NULL slots), possibly empty;
    NULL token array ⇒ empty.  Shared by q_keyword_tag and
    jobs.web_ingest."""
    toks = F.col(toks) if isinstance(toks, str) else toks

    def _in_kws(kws):
        # one-parameter lambda via closure — a `kws=kws` default would
        # make PySpark bind the lambda as (element, INDEX) (see the
        # verify-recipe HOF gotcha)
        return lambda x: x.isin(*kws)

    tag_cols = []
    for name, kws in _TOPICS:
        cnt = F.size(F.filter(toks, _in_kws(kws)))
        tag_cols.append(F.when(cnt >= _TAG_MIN, F.lit(name)))
    return F.array_compact(F.array(*tag_cols))


def q_keyword_tag(spark, sf_dir):
    """Tag each doc with every topic whose keyword occurrence count
    reaches _TAG_MIN — see ``keyword_tags``.  The dictionary is literal
    arrays (broadcast by construction, O(1) plan size); counting is one
    HOF filter per topic over the shared token array — zero shuffles,
    pure codegen.  NULL text ⇒ NULL token array ⇒ NULL counts ⇒ no
    tags ('' / 0) on both engines."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", text.tokens("text").alias("toks")
    )
    tags_arr = keyword_tags("toks")
    return d.select(
        "doc_id",
        F.concat_ws(",", tags_arr).alias("tags"),
        F.size(tags_arr).cast("bigint").alias("n_tags"),
    )


def _sql_keyword_tag() -> str:
    flags = []
    ones = []
    for name, kws in _TOPICS:
        lst = "[" + ", ".join(f"'{w}'" for w in kws) + "]"
        cnt = f"len(list_filter(toks, x -> list_contains({lst}, x)))"
        flags.append(f"CASE WHEN {cnt} >= {_TAG_MIN} THEN '{name}' END")
        ones.append(f"CASE WHEN {cnt} >= {_TAG_MIN} THEN 1 ELSE 0 END")
    return f"""
WITH tok AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents
)
SELECT doc_id,
       COALESCE(array_to_string(
           list_filter([{", ".join(flags)}], x -> x IS NOT NULL), ','),
           '') AS tags,
       CAST({" + ".join(ones)} AS BIGINT) AS n_tags
FROM tok
"""


register(q_keyword_tag, _sql_keyword_tag())


# ---------------------------------------------------------------------------
# q_token_budget_pack — per-source token-budget admission
# ---------------------------------------------------------------------------

_TOKEN_BUDGET = 1000  # binds at every sf: sources carry ~1500 tokens at sf0.001


def q_token_budget_pack(spark, sf_dir):
    """Admit docs per source, longest-first (n_chars DESC NULLS LAST,
    doc_id tiebreak), while the running whitespace-token sum stays
    within the per-source budget.  The running sum is the two-phase
    ``indexing.keyed_running_sum`` (round 7): a bare per-source window
    puts each source's WHOLE group in one task — fine on this corpus,
    a single-task sort of the hottest domain at 100 TB — so the sum is
    range-bucketed on the order key and offset per (source, bucket),
    byte-identical to the window form (the ascending order key
    ``coalesce(−n_chars, 2⁶²)`` encodes DESC NULLS LAST exactly: NULLs
    sort last, ties fall to the doc_id tiebreak in both forms).  NULL
    text counts 0 tokens; a source with zero total tokens reports NULL
    share (guarded division on both engines)."""
    from .operators.indexing import keyed_running_sum

    d = _t(spark, sf_dir, "documents")
    tok = F.coalesce(text.token_count("text").cast("bigint"), F.lit(0))
    scored = keyed_running_sum(
        d.select("source", "doc_id", "n_chars", tok.alias("tok")).withColumn(
            "__ord", F.coalesce(-F.col("n_chars").cast("bigint"), F.lit(2**62))
        ),
        ["source"],
        "__ord",
        "tok",
        out_col="cum",
        tiebreak_cols=["doc_id"],
    ).drop("__ord")
    admit = F.col("cum") <= _TOKEN_BUDGET
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("tok_total"),
        F.sum(admit.cast("bigint")).cast("bigint").alias("n_admitted"),
        F.sum(F.when(admit, F.col("tok")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tok_admitted"),
        F.expr(
            f"CASE WHEN sum(tok) > 0 THEN sum(CASE WHEN cum <= {_TOKEN_BUDGET}"
            " THEN tok ELSE 0 END) * 10000 div sum(tok) END"
        )
        .cast("bigint")
        .alias("share_e4"),
    )


SQL_TOKEN_BUDGET_PACK = f"""
WITH scored AS (
  SELECT source, doc_id, n_chars,
         COALESCE(len({TOKS_SQL.format(c='text')}), 0) AS tok
  FROM documents
), cum AS (
  SELECT source, tok,
         SUM(tok) OVER (PARTITION BY source
                        ORDER BY n_chars DESC NULLS LAST, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum
  FROM scored
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS tok_total,
       CAST(SUM(CASE WHEN cum <= {_TOKEN_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_admitted,
       CAST(SUM(CASE WHEN cum <= {_TOKEN_BUDGET} THEN tok ELSE 0 END)
           AS BIGINT) AS tok_admitted,
       CAST(CASE WHEN SUM(tok) > 0
                 THEN SUM(CASE WHEN cum <= {_TOKEN_BUDGET} THEN tok ELSE 0 END)
                      * 10000 // SUM(tok) END AS BIGINT) AS share_e4
FROM cum GROUP BY source
"""

register(q_token_budget_pack, SQL_TOKEN_BUDGET_PACK)


# ---------------------------------------------------------------------------
# q_bleu_pairs — clipped n-gram precision between adjacent docs
# ---------------------------------------------------------------------------

def bleu_pair_metrics(d):
    """BLEU-2-shaped modified n-gram precision over a documents FRAME
    (frame-level so jobs.eval_report can reuse the lane): candidate =
    each doc, reference = the next doc_id in the same source (LEAD
    pairing — the corpus-scale eval shape where (output, reference)
    rows are already paired).  For n in {1,2}: p_n = Σ_g min(c_cand(g),
    c_ref(g)) / Σ_g c_cand(g), integer-divided to ppm; bleu2_e6 =
    floor(sqrt(p1_e6·p2_e6)) — the product is an exact integer ≤ 1e12
    and sqrt is correctly rounded, so both engines floor the same
    value.  Docs with <2 tokens have no bigrams: p2/bleu2 are NULL,
    never 0/0.  Shuffles are keyed on doc_id / (ref, gram); the pair
    table is LEAD-adjacent, so work is O(corpus), not O(pairs²)."""
    from pyspark.sql import Window

    pairs = (
        d.select(
            "source",
            F.col("doc_id").alias("cand"),
            F.lead("doc_id")
            .over(Window.partitionBy("source").orderBy("doc_id"))
            .alias("ref_id"),
        )
        .where(F.col("ref_id").isNotNull())
        .select("cand", "ref_id")
    )
    toks = text.tokens("text")
    uni = (
        d.select("doc_id", F.explode(toks).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        bigrams_of(d)
        .select("doc_id", F.concat_ws(" ", "w1", "w2").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def clipped(grams):
        cand_side = pairs.join(
            grams.withColumnRenamed("doc_id", "cand").withColumnRenamed(
                "c", "c_cand"
            ),
            "cand",
        )
        ref_side = grams.withColumnRenamed("doc_id", "ref_id").withColumnRenamed(
            "c", "c_ref"
        )
        return (
            cand_side.join(ref_side, ["ref_id", "g"], "left")
            .groupBy("cand", "ref_id")
            .agg(
                F.sum(
                    F.least(F.col("c_cand"), F.coalesce(F.col("c_ref"), F.lit(0)))
                ).alias("num"),
                F.sum("c_cand").alias("den"),
            )
        )

    u = clipped(uni).select(
        "cand",
        "ref_id",
        F.col("den").cast("bigint").alias("n_cand_tokens"),
        F.expr("num * 1000000 div den").cast("bigint").alias("p1_e6"),
    )
    b = clipped(bi).select(
        "cand", "ref_id", F.expr("num * 1000000 div den").cast("bigint").alias("p2_e6")
    )
    return u.join(b, ["cand", "ref_id"], "left").select(
        "cand",
        "ref_id",
        "n_cand_tokens",
        "p1_e6",
        "p2_e6",
        F.floor(F.sqrt((F.col("p1_e6") * F.col("p2_e6")).cast("double")))
        .cast("bigint")
        .alias("bleu2_e6"),
    )


def q_bleu_pairs(spark, sf_dir):
    """Registry-facing wrapper: BLEU pair metrics over the sf_dir
    documents table (see ``bleu_pair_metrics``)."""
    return bleu_pair_metrics(_t(spark, sf_dir, "documents"))


SQL_BLEU_PAIRS = f"""
WITH {_BG_SQL}, pairs AS (
  SELECT doc_id AS cand,
         LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS ref_id
  FROM documents
), p AS (
  SELECT cand, ref_id FROM pairs WHERE ref_id IS NOT NULL
), uni AS (
  SELECT doc_id, g, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(toks) AS g FROM tok
  ) GROUP BY doc_id, g
), bi AS (
  SELECT doc_id, w1 || ' ' || w2 AS g, COUNT(*) AS c
  FROM bg GROUP BY doc_id, w1 || ' ' || w2
), u AS (
  SELECT cand, ref_id,
         CAST(SUM(c_cand) AS BIGINT) AS n_cand_tokens,
         CAST(SUM(least(c_cand, COALESCE(c_ref, 0))) * 1000000
              // SUM(c_cand) AS BIGINT) AS p1_e6
  FROM (
    SELECT p.cand, p.ref_id, cu.g, cu.c AS c_cand, ru.c AS c_ref
    FROM p JOIN uni cu ON cu.doc_id = p.cand
           LEFT JOIN uni ru ON ru.doc_id = p.ref_id AND ru.g = cu.g
  ) GROUP BY cand, ref_id
), b AS (
  SELECT cand, ref_id,
         CAST(SUM(least(c_cand, COALESCE(c_ref, 0))) * 1000000
              // SUM(c_cand) AS BIGINT) AS p2_e6
  FROM (
    SELECT p.cand, p.ref_id, cb.g, cb.c AS c_cand, rb.c AS c_ref
    FROM p JOIN bi cb ON cb.doc_id = p.cand
           LEFT JOIN bi rb ON rb.doc_id = p.ref_id AND rb.g = cb.g
  ) GROUP BY cand, ref_id
)
SELECT u.cand, u.ref_id, u.n_cand_tokens, u.p1_e6, b.p2_e6,
       CAST(floor(sqrt(CAST(u.p1_e6 * b.p2_e6 AS DOUBLE))) AS BIGINT)
           AS bleu2_e6
FROM u LEFT JOIN b ON b.cand = u.cand AND b.ref_id = u.ref_id
"""

register(q_bleu_pairs, SQL_BLEU_PAIRS)
