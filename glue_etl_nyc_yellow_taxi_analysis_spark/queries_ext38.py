"""Extended inventory XXXVIII — iterative BPE tokenizer training (round 8).

The tokenizer-adjacent inventory had the single scoring pass
(q_bpe_pair_counts: one adjacent-pair count) and regex token counting;
what an LLM data pipeline actually runs is the LOOP — N greedy merges,
each re-segmenting the vocabulary — and then applies the learned merges
to measure fertility.  Both are implemented Spark-first and are fully
DuckDB-replayable.

Algorithm (classic word-type BPE, Sennrich et al. 2016 — public):
  1. ONE corpus-scale pass: explode tokens → (word, freq) type table.
     This is the only data-sized shuffle; real trainers also operate on
     the type table because |types| ≪ |tokens| (here ~31 types for 500k
     tokens; at 100 TB, millions of types vs trillions of tokens).
  2. Segment each word into sentinel-wrapped symbols
     (``\\x01sym\\x02``…): no shared boundary characters between
     adjacent symbols, so a plain left-to-right non-overlapping
     ``replace()`` implements the canonical greedy merge EXACTLY the
     same way on both engines ('aaa' + merge (a,a) → ('aa','a')).
  3. N_MERGES iterations: count adjacent pairs weighted by word freq,
     pick argmax (tie-break: freq DESC, left, right — binary collation
     on both engines), merge via one ``replace`` over the type table.
     Each iteration shuffles only the |types|-row table; the argmax is
     a 1-row collect (bounded O(1) per step, documented).

Oracle: the same loop unrolled as chained MATERIALIZED CTEs (the
q_pagerank lesson — non-materialized CTEs re-evaluate upstream per
reference), with the merge pattern injected via scalar subqueries from
each step's argmax CTE.  Sentinels are chr(1)/chr(2); input words are
defensively stripped of them first (identically on both sides) so a
hostile document can't forge a symbol boundary.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import text
from .operators.materialize import materialize
from .registry import register
from .tables import TOKS_SQL, _t


N_MERGES = 12

_S1, _S2 = "\x01", "\x02"


def _word_types(d):
    """(word, freq) over all token occurrences, sentinel-stripped."""
    return (
        d.select(F.explode(text.tokens("text")).alias("word"))
        .select(
            F.replace(
                F.replace(F.col("word"), F.lit(_S1), F.lit("")),
                F.lit(_S2),
                F.lit(""),
            ).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


_SEG0 = (
    "concat_ws('', transform(sequence(1, length(word)), "
    f"i -> concat('{_S1}', substring(word, i, 1), '{_S2}')))"
)

_SYMS = f"split(substring(seg, 2, length(seg) - 2), '{_S2}{_S1}')"

_PAIRS = (
    "zip_with(slice(syms, 1, greatest(size(syms) - 1, 0)), "
    "slice(syms, 2, greatest(size(syms) - 1, 0)), "
    "(a, b) -> struct(a AS lsym, b AS rsym))"
)


def _train(spark, d, n_merges: int | None = None):
    """Run the merge loop; returns (final word-type frame with ``seg``,
    merges list of Row-like tuples).

    The type table is coalesced hard before the loop: locally it is
    tens of rows and 32-partition iteration jobs dominate wall time; at
    real scale |types| is millions of rows — size this to
    |types| / a few hundred thousand instead of 1, the loop cost stays
    bounded by the TYPE table either way (never the corpus)."""
    w = materialize(
        _word_types(d).withColumn("seg", F.expr(_SEG0)).coalesce(1),
        "BPE type table: read by every merge step",
    )
    merges = []
    for step in range(1, (n_merges or N_MERGES) + 1):
        best = (
            w.select("freq", F.expr(_SYMS).alias("syms"))
            .select("freq", F.explode(F.expr(_PAIRS)).alias("p"))
            .groupBy(F.col("p.lsym").alias("lsym"), F.col("p.rsym").alias("rsym"))
            .agg(F.sum("freq").cast("bigint").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), "lsym", "rsym")
            .limit(1)
            .collect()  # bounded: exactly one row per iteration
        )
        if not best:
            break
        l, r, f = best[0]["lsym"], best[0]["rsym"], best[0]["pair_freq"]
        merges.append((step, l, r, l + r, f))
        # lineage must stay truncated per step (a lazy replace chain
        # re-plans a growing expression tree per argmax — measured
        # SLOWER than the materialization it saved), but the
        # materialization job itself can ride the NEXT step's argmax:
        # eager=False truncates the plan now and persists the step's
        # partitions on their first use, halving the loop's job count
        w = materialize(
            w.withColumn(
                "seg",
                F.replace(
                    F.col("seg"),
                    F.lit(f"{_S1}{l}{_S2}{_S1}{r}{_S2}"),
                    F.lit(f"{_S1}{l}{r}{_S2}"),
                ),
            ),
            f"BPE merge step {step}",
            eager=False,
        )
    return w, merges


def q_bpe_train(spark, sf_dir):
    """N_MERGES greedy BPE merges over the documents corpus: per step,
    the merged pair and its weighted frequency.  See module docstring
    for the algorithm and the exact-equivalence argument."""
    _, merges = _train(spark, _t(spark, sf_dir, "documents"))
    return spark.createDataFrame(
        merges,
        "step int, lsym string, rsym string, merged string, pair_freq bigint",
    )


def fertility_of(d, w):
    """Apply learned merges (final type frame ``w``) to a documents
    FRAME: per source, total token occurrences and total post-BPE
    symbols (fertility = n_symbols / n_tokens, kept as exact integers —
    the hasher rejects float division).  One corpus-scale pass for
    (source, word) counts; the |types|-row segmentation table
    broadcasts onto it.  Frame-level so jobs.train_tokenizer shares the
    lane's exact semantics."""
    seg_syms = w.select(
        "word", F.size(F.expr(_SYMS)).cast("bigint").alias("n_syms")
    )
    occ = (
        d.select("source", F.explode(text.tokens("text")).alias("word"))
        .select(
            "source",
            F.replace(
                F.replace(F.col("word"), F.lit(_S1), F.lit("")),
                F.lit(_S2),
                F.lit(""),
            ).alias("word"),
        )
        .filter(F.length("word") > 0)
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return (
        occ.join(F.broadcast(seg_syms), "word")
        .groupBy("source")
        .agg(
            F.sum("freq").cast("bigint").alias("n_tokens"),
            F.sum(F.col("freq") * F.col("n_syms")).cast("bigint").alias("n_symbols"),
        )
    )


def q_bpe_fertility(spark, sf_dir):
    """Train, then apply — see ``fertility_of``."""
    d = _t(spark, sf_dir, "documents")
    w, _ = _train(spark, d)
    return fertility_of(d, w)


def _bpe_sql_ctes() -> str:
    """The unrolled merge loop as chained MATERIALIZED CTEs."""
    parts = [
        f"""wtoks AS (
  SELECT replace(replace(t.word, chr(1), ''), chr(2), '') AS word
  FROM (SELECT unnest({TOKS_SQL.format(c='text')}) AS word FROM documents) t
), w0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
         array_to_string(list_transform(range(1, length(word) + 1),
             i -> chr(1) || substr(word, i, 1) || chr(2)), '') AS seg
  FROM wtoks WHERE length(word) > 0 GROUP BY word
)"""
    ]
    for i in range(1, N_MERGES + 1):
        p = i - 1
        parts.append(
            f"""e{i} AS (
  SELECT freq, syms, unnest(range(1, len(syms))) AS k
  FROM (SELECT freq,
          string_split(substr(seg, 2, length(seg) - 2), chr(2) || chr(1))
            AS syms
        FROM w{p}) s
), b{i} AS MATERIALIZED (
  SELECT syms[k] AS lsym, syms[k + 1] AS rsym,
         syms[k] || syms[k + 1] AS merged,
         CAST(SUM(freq) AS BIGINT) AS pair_freq
  FROM e{i} GROUP BY 1, 2, 3
  ORDER BY pair_freq DESC, lsym, rsym LIMIT 1
), w{i} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN (SELECT COUNT(*) FROM b{i}) = 0 THEN seg
              ELSE replace(seg,
                (SELECT chr(1) || lsym || chr(2) || chr(1) || rsym || chr(2)
                 FROM b{i}),
                (SELECT chr(1) || lsym || rsym || chr(2) FROM b{i}))
         END AS seg
  FROM w{p}
)"""
        )
    return ",\n".join(parts)


SQL_BPE_TRAIN = (
    "WITH "
    + _bpe_sql_ctes()
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS step, lsym, rsym, merged, pair_freq "
        f"FROM b{i}"
        for i in range(1, N_MERGES + 1)
    )
)

SQL_BPE_FERTILITY = (
    "WITH "
    + _bpe_sql_ctes()
    + f""",
segn AS MATERIALIZED (
  SELECT word,
         CAST(len(string_split(substr(seg, 2, length(seg) - 2),
             chr(2) || chr(1))) AS BIGINT) AS n_syms
  FROM w{N_MERGES}
), occ AS (
  SELECT source,
         replace(replace(t.word, chr(1), ''), chr(2), '') AS word
  FROM (SELECT source, unnest({TOKS_SQL.format(c='text')}) AS word
        FROM documents) t
), occ_f AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM occ WHERE length(word) > 0 GROUP BY source, word
)
SELECT source,
       CAST(SUM(freq) AS BIGINT) AS n_tokens,
       CAST(SUM(freq * n_syms) AS BIGINT) AS n_symbols
FROM occ_f JOIN segn USING (word)
GROUP BY source"""
)

register(q_bpe_train, SQL_BPE_TRAIN)
register(q_bpe_fertility, SQL_BPE_FERTILITY)


_BPE_PACK_BUDGET = 256


def bpe_token_counts(d, w):
    """Per-document post-BPE token count under the trained type table
    ``w``: explode (doc_id, word) occurrences once, broadcast-join the
    |types|-row symbol counts, sum.  Documents whose text yields no
    tokens count 0 (kept via left join — every doc must pack).  This is
    the encode-side of the tokenizer: what a packing stage budgets on
    once a tokenizer exists, instead of whitespace counts."""
    seg_syms = w.select(
        "word", F.size(F.expr(_SYMS)).cast("bigint").alias("n_syms")
    )
    occ = (
        d.select("doc_id", F.explode(text.tokens("text")).alias("word"))
        .select(
            "doc_id",
            F.replace(
                F.replace(F.col("word"), F.lit(_S1), F.lit("")),
                F.lit(_S2),
                F.lit(""),
            ).alias("word"),
        )
        .filter(F.length("word") > 0)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    per_doc = (
        occ.join(F.broadcast(seg_syms), "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("freq") * F.col("n_syms")).alias("n_bpe_tokens"))
    )
    return d.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bpe_tokens", F.lit(0)).cast("bigint").alias("n_bpe_tokens"),
    )


def q_bpe_pack(spark, sf_dir):
    """Tokenizer-aware sequence packing: train the BPE merges, ENCODE
    every document (post-merge symbol counts), then pack into
    fixed-budget context windows over the two-phase global running sum
    — q_sequence_packing's plan shape, but budgeted in learned-tokenizer
    tokens instead of whitespace tokens (what a real pretraining data
    loader packs by).  The full train → encode → pack integration in
    one lane; jobs/pretrain_prep.py runs the same composition behind
    ``--bpe-merges``."""
    from .operators.indexing import global_running_sum

    d = _t(spark, sf_dir, "documents")
    w, _ = _train(spark, d)
    counts = bpe_token_counts(d, w)
    cum = global_running_sum(
        counts, "doc_id", "n_bpe_tokens", out_col="cum_tokens"
    )
    return cum.select(
        "doc_id",
        "n_bpe_tokens",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.expr(
            f"CAST((cum_tokens - n_bpe_tokens) DIV {_BPE_PACK_BUDGET} AS BIGINT)"
        ).alias("pack_id"),
    )


SQL_BPE_PACK = (
    "WITH "
    + _bpe_sql_ctes()
    + f""",
segn AS MATERIALIZED (
  SELECT word,
         CAST(len(string_split(substr(seg, 2, length(seg) - 2),
             chr(2) || chr(1))) AS BIGINT) AS n_syms
  FROM w{N_MERGES}
), occd AS (
  SELECT doc_id,
         replace(replace(t.word, chr(1), ''), chr(2), '') AS word
  FROM (SELECT doc_id, unnest({TOKS_SQL.format(c='text')}) AS word
        FROM documents) t
), occdf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM occd WHERE length(word) > 0 GROUP BY doc_id, word
), encd AS (
  SELECT doc_id, CAST(SUM(freq * n_syms) AS BIGINT) AS n
  FROM occdf JOIN segn USING (word) GROUP BY doc_id
), cnt AS (
  SELECT d.doc_id, COALESCE(e.n, 0) AS n_bpe_tokens
  FROM documents d LEFT JOIN encd e USING (doc_id)
), cum AS (
  SELECT doc_id, n_bpe_tokens,
         SUM(n_bpe_tokens) OVER (ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) AS c
  FROM cnt
)
SELECT doc_id,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       CAST(c AS BIGINT) AS cum_tokens,
       CAST((c - n_bpe_tokens) // {_BPE_PACK_BUDGET} AS BIGINT) AS pack_id
FROM cum"""
)

register(q_bpe_pack, SQL_BPE_PACK)
