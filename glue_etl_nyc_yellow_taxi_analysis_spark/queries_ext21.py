"""Extended inventory XXI — exact-substring dedup (repeated-span removal).

Round-3 sixth pass: the ExactSubstr flavor of training-data dedup
(Lee et al., "Deduplicating Training Data Makes Language Models
Better"): any K-token span that occurs more than once ANYWHERE in the
corpus — across documents or repeated inside one — is removed from
every document, and the surviving tokens are reassembled in order.
Distinct from q_line_dedup (segment-level, newline-delimited) and
q_contamination_check (membership only, no rewrite): this one rewrites
documents at token granularity.

Engine-portable by construction: span identity is md5 of the joined
K-gram, coverage is integer position sets built with JVM higher-order
functions (array-of-scalar lambdas only — the expensive token array is
a BOUND column reference, never re-evaluated per element, the winnowing
O(n²) lesson), and the output is (counts + md5 of the kept text).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import text
from .registry import register
from .tables import TOKS_SQL, _t


_SS_K = 8  # span width in tokens; production ExactSubstr uses ~50 BPE
# tokens — the plan is width-invariant, only the shingle map changes


def q_substr_dedup(spark, sf_dir):
    """Corpus-wide exact-substring dedup: remove every K-token span whose
    K-gram occurs ≥ 2 times in the corpus, then reconstruct each doc from
    its surviving positions.  Stages (all keyed, no window, no Python):

    1. one pass emits (doc, start, md5(K-gram)) span occurrences;
    2. one hash-keyed count finds duplicated spans (map-side combined —
       the only corpus-wide shuffle, and it carries 16-byte hashes);
    3. occurrences of duplicated spans fold back per doc into a covered-
       position set (flatten of per-start integer ranges — scalar
       lambdas, JVM codegen);
    4. reconstruction filters each doc's position sequence against the
       covered set and reassembles the kept tokens in order.

    Per-doc work is O(len · covered) with both factors bounded by doc
    length — at 100 TB the corpus-size-dependent stages are only the
    keyed count and the keyed fold-back.  Output is driver-safe:
    (doc_id, n_tokens, n_removed, kept_hash)."""
    d = _t(spark, sf_dir, "documents")
    toks = text.tokens("text")
    base = d.select("doc_id", toks.alias("toks")).withColumn(
        "n", F.size("toks")
    )
    starts = F.when(
        F.col("n") >= _SS_K, F.sequence(F.lit(0), F.col("n") - _SS_K)
    ).otherwise(F.array().cast("array<int>"))
    occ = base.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda s: F.struct(
                    s.alias("start"),
                    F.md5(
                        F.concat_ws(
                            " ", F.slice(F.col("toks"), s + 1, _SS_K)
                        )
                    ).alias("h"),
                ),
            )
        ).alias("o"),
    ).select("doc_id", F.col("o.start").alias("start"), F.col("o.h").alias("h"))
    dup_h = (
        occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("h")
    )
    dup_starts = (
        occ.join(dup_h, "h")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("start")).alias("starts"))
    )
    joined = base.join(dup_starts, "doc_id", "left").withColumn(
        "starts",
        F.coalesce(F.col("starts"), F.array().cast("array<int>")),
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("starts"),
                lambda s: F.sequence(s, s + F.lit(_SS_K - 1)),
            )
        )
    )
    with_cov = joined.withColumn("covered", covered)
    kept_pos = F.filter(
        F.when(F.col("n") > 0, F.sequence(F.lit(0), F.col("n") - 1))
        .otherwise(F.array().cast("array<int>")),
        lambda p: ~F.array_contains(F.col("covered"), p),
    )
    kept_toks = F.transform(
        kept_pos, lambda p: F.element_at(F.col("toks"), p + 1)
    )
    return with_cov.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.size("covered").cast("bigint").alias("n_removed"),
        F.md5(F.concat_ws(" ", kept_toks)).alias("kept_hash"),
    )


SQL_SUBSTR_DEDUP = f"""
WITH base AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM base
), occ AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(list_slice(toks, i + 1, i + {_SS_K}), ' '))
             AS h
  FROM sized, unnest(range(0, n - {_SS_K} + 1)) AS t(i)
  WHERE n >= {_SS_K}
), dup_h AS (
  SELECT h FROM occ GROUP BY h HAVING COUNT(*) > 1
), dup_starts AS (
  SELECT doc_id,
         list_sort(list_distinct(list(start))) AS starts
  FROM occ JOIN dup_h USING (h) GROUP BY doc_id
), joined AS (
  SELECT s.doc_id, s.toks, s.n, COALESCE(d.starts, []) AS starts
  FROM sized s LEFT JOIN dup_starts d ON d.doc_id = s.doc_id
), cov AS (
  SELECT doc_id, toks, n,
         list_distinct(flatten(list_transform(
             starts, s -> range(s, s + {_SS_K})))) AS covered
  FROM joined
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(len(covered) AS BIGINT) AS n_removed,
       md5(COALESCE(array_to_string(list_transform(
           list_filter(range(0, n), p -> NOT list_contains(covered, p)),
           p -> toks[p + 1]), ' '), '')) AS kept_hash
FROM cov
"""

register(q_substr_dedup, SQL_SUBSTR_DEDUP)
