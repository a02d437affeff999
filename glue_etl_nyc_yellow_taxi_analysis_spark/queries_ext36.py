"""Extended inventory XXXVI — positional phrase search (round 7).

The retrieval stack (BM25, inverted index, hybrid RRF, MMR) ranks by
bag-of-words; the one first-class retrieval operator it lacked is EXACT
PHRASE match — the positional-posting intersection every search engine
ships.  ``q_phrase_search`` implements the k-way intersection as ONE
join + one aggregate, for any number of phrases at once:

  - phrases ride as a broadcast (phrase_id, term_idx, term) table;
  - the posting table (doc_id, pos, term) is FILTERED to the phrase
    vocabulary before anything joins (a broadcast semi-join the scan
    side absorbs — at 100 TB the postings for a handful of query terms
    are a sliver of the corpus);
  - a posting matches phrase term ``term_idx`` at candidate start
    ``pos − term_idx``; grouping by (phrase_id, doc_id, start) and
    requiring count(DISTINCT term_idx) = phrase_len IS the positional
    intersection — duplicate words inside a phrase fall out naturally
    (the same posting row can serve several term_idx offsets, but a
    true occurrence still needs every offset present at one start).

Shuffles: one tokenize+posexplode pass (linear over matching postings
only), one keyed aggregate on (phrase, doc, start), one per-doc rollup.
Never a per-phrase pass, never a join per phrase term.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import text
from .registry import register
from .tables import TOKS_SQL, _t


# fixed query phrases: high-, mid-, and low-selectivity on the synthetic
# corpus, incl. a length-3 phrase and a phrase usable at every SF
_PHRASES = ("order fast", "table scan merge", "spark window window")


def q_phrase_search(spark, sf_dir):
    """Exact phrase search over the documents corpus for the fixed
    ``_PHRASES`` set: per (phrase, matching doc), the number of
    occurrences and the first match position (0-based token offset).
    See the module docstring for the one-join k-way intersection plan."""
    d = _t(spark, sf_dir, "documents")
    phrase_rows = [
        (p, i, w)
        for p in _PHRASES
        for i, w in enumerate(p.split(" "))
    ]
    phrases = spark.createDataFrame(
        phrase_rows, "phrase string, term_idx int, term string"
    )
    plens = {p: len(p.split(" ")) for p in _PHRASES}
    plen = F.create_map(
        *[x for p, n in plens.items() for x in (F.lit(p), F.lit(n))]
    )
    postings = d.select(
        "doc_id", F.posexplode(text.tokens("text")).alias("pos", "term")
    )
    starts = (
        postings.join(F.broadcast(phrases), "term")
        .select(
            "phrase",
            "doc_id",
            (F.col("pos") - F.col("term_idx")).alias("start"),
            "term_idx",
        )
        .groupBy("phrase", "doc_id", "start")
        .agg(F.countDistinct("term_idx").alias("n_terms"))
        .filter((F.col("n_terms") == plen[F.col("phrase")]) & (F.col("start") >= 0))
    )
    return starts.groupBy("phrase", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.min("start").cast("bigint").alias("first_pos"),
    )


SQL_PHRASE_SEARCH = f"""
WITH phrases AS (
    SELECT * FROM (VALUES
        {", ".join(
            f"('{p}', {i}, '{w}')"
            for p in _PHRASES
            for i, w in enumerate(p.split(" "))
        )}) v(phrase, term_idx, term)
), plen AS (
    SELECT phrase, COUNT(*) AS n FROM phrases GROUP BY phrase
), postings AS (
    SELECT doc_id, u.term, u.pos - 1 AS pos
    FROM (SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks
          FROM documents) t,
         LATERAL (SELECT unnest(toks) AS term,
                         generate_subscripts(toks, 1) AS pos) u
), starts AS (
    SELECT ph.phrase, po.doc_id, po.pos - ph.term_idx AS start
    FROM postings po JOIN phrases ph ON po.term = ph.term
    GROUP BY ph.phrase, po.doc_id, po.pos - ph.term_idx
    HAVING COUNT(DISTINCT ph.term_idx)
           = (SELECT n FROM plen WHERE plen.phrase = ph.phrase)
       AND po.pos - ph.term_idx >= 0
)
SELECT phrase, doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(start) AS BIGINT) AS first_pos
FROM starts GROUP BY phrase, doc_id
"""

register(q_phrase_search, SQL_PHRASE_SEARCH)
