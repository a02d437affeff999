"""Extended inventory XVI — round-3 curation operators.

Three LLM-data-pipeline operators the round-2 inventory did not yet cover,
each with a full DuckDB oracle:

- ``q_semdedup`` — SemDeDup-style semantic deduplication (Abbas et al.
  2023): coarse-quantize embeddings against deterministic cluster
  representatives, then prune any vector that is cosine-similar to a
  lower-id member of its cluster.  The candidate stage is cluster-bounded
  (never all-pairs), which is the property that makes SemDeDup run on
  100 TB corpora.
- ``q_line_dedup`` — C4-style repeated-segment removal WITH document
  reconstruction: segment every document, drop segments whose
  document-frequency exceeds a threshold (shared boilerplate), and
  reassemble the surviving text in order.  This is the *transform* stage
  that `q_boilerplate_ratio` (diagnostic) feeds.
- ``q_bpe_merge_train`` — the BPE tokenizer-training loop itself: three
  iterations of count-adjacent-pairs → pick argmax merge → apply the merge
  to the (vocab-bounded) word table.  `q_bpe_pair_counts` measured one
  pass; this trains actual merges, with the whole 3-iteration loop
  replayed by a chained-CTE oracle (the q_kmeans_oracle pattern).

Reference anchor: the reference's star-schema build has no text surface
(`glue_job_scripts/etl-glue-nyc-yellow-data-model.py` is pure relational);
these extend the engine along the BASELINE.json north-star exactly like
queries_ext13/14.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import similarity, text
from .operators.materialize import materialize
from .registry import register
from .tables import _COSINE_SQL, TOKS_SQL, _t


# --------------------------------------------------------------------------
# SemDeDup — cluster-bounded semantic dedup over embeddings
# --------------------------------------------------------------------------

_SD_TAU = 0.2  # corpus-calibrated: within-cluster cosine tops out ~0.47
_SD_TARGET = 200  # target members per sub-cluster: rep count per label is
                  # max(1, label_count // _SD_TARGET), so in-cluster
                  # pairwise work stays ~n·_SD_TARGET as the corpus grows
                  # (the r6 full-suite sf1 rehearsal measured 27.9x wall
                  # growth at 10x rows with label-fixed clusters — the
                  # real SemDeDup scales k with n for exactly this reason).
                  # FLOOR division: every shipped sf (labels ~50-220 rows)
                  # keeps one rep per label, so small-SF outputs are
                  # bit-identical to the pre-r6 operator.


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup: (1) deterministic cluster representatives
    — the ``max(1, label_count // _SD_TARGET)`` lowest-vec_id members per
    label (the q_ann_ivf_oracle convention, no float-mean ambiguity; rep
    count grows with corpus size so sub-clusters stay ~_SD_TARGET wide),
    (2) assign every vector to its nearest representative by rounded
    cosine (the coarse-quantization step — k ≈ n/_SD_TARGET broadcast
    rows, one narrow shuffle; ties break by label then rep id, which at
    one-rep-per-label reduces to the historical by-label order), (3)
    within each assigned SUB-cluster, prune any vector whose rounded
    cosine to a LOWER-id member is >= tau, keeping the lowest such
    partner as ``dup_of``.  The output ``cluster`` column reports the
    assigned rep's label (unchanged schema/values at shipped SFs).

    The prune rule is single-pass pairwise (a pruned vector can still
    prune its own successors) — deterministic and iteration-free, which is
    what makes the operator one cluster-keyed self-join instead of a
    fixpoint loop.  All-integer output; candidate generation is bounded by
    SUB-cluster size (~_SD_TARGET), never all-pairs and never quadratic
    in corpus size.
    """
    emb = _t(spark, sf_dir, "embeddings")
    wlab = Window.partitionBy("label")
    reps = (
        emb.withColumn("cnt", F.count(F.lit(1)).over(wlab))
        .withColumn(
            "rep_rn",
            F.row_number().over(wlab.orderBy("vec_id")),
        )
        .filter(F.col("rep_rn") <= F.greatest(F.lit(1), F.expr(f"cnt div {_SD_TARGET}")))
        .select(
            F.col("label").alias("cluster"),
            F.col("vec_id").alias("rep_id"),
            F.col("embedding").alias("centroid"),
        )
    )
    cos_rep = F.round(similarity.cosine(F.col("embedding"), F.col("centroid")), 6)
    # keyed argmax as a row_number window, RESTORED after the r11
    # min(struct) aggregate measured slower at sf0.1 AND sf1 (interleaved
    # A/B recorded in OPTIMIZATION_r12.md: window med 3.38/11.56s vs
    # minstruct 3.71/13.73s; driver r11 measured 0.65x).  The
    # aggregate's premise ("the window shuffles n·k embedding-carrying
    # rows") was wrong in Spark 3.5+/4: WindowGroupLimit prunes to top-1
    # per vec_id MAP-SIDE before the exchange, while min(struct)/
    # first(array) buffers are not hash-aggregable and fall to
    # SortAggregate (plan evidence:
    # plans/r12/q_semdedup_assign_{window,minstruct}.txt).
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_rep"), F.col("cluster"), F.col("rep_id")
    )
    assigned = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            "vec_id", "embedding", "cluster", "rep_id", cos_rep.alias("cos_rep")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        # nrm is hoisted per VECTOR so the O(pairs) stage folds one dot
        # instead of dot+2 norms — the divisor sqrt(Σa²)·sqrt(Σb²) is the
        # exact same expression tree as the inline cosine, so the doubles
        # (and the oracle hash) are bit-identical
        .select("vec_id", "embedding", "cluster", "rep_id",
                similarity.l2_norm(F.col("embedding")).alias("nrm"))
    )
    # without the cut Spark re-runs the k×N cosine cross join per
    # consumer (measured 18 exchanges / 3.9s → 6 / 1.1s)
    assigned = materialize(
        assigned, "rep assignment: both self-join sides and the verdict"
    )
    # the in-cluster pairwise prune runs as a vectorized Arrow kernel
    # (similarity.semdedup_dups): the old self-join materialized every
    # pair and folded an INTERPRETED zip_with dot per pair — the lane's
    # dominant term (r12 A/B: lane 5.3s -> 2.1s at sf0.1, 15s -> 5s at
    # sf1, rows identical; bit-exact replay argued at the operator)
    dups = similarity.semdedup_dups(assigned, _SD_TAU)
    return (
        assigned.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("dup_of").isNotNull(), 1).otherwise(0).alias("is_pruned"),
            "dup_of",
        )
    )


SQL_SEMDEDUP = f"""
WITH reps AS (
  -- max(1, label_count // {_SD_TARGET}) lowest-id reps per label: rep
  -- count scales with corpus size so sub-clusters stay ~{_SD_TARGET} wide
  SELECT label AS cluster, vec_id AS rep_id, embedding AS centroid FROM (
    SELECT label, vec_id, embedding,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn,
           COUNT(*) OVER (PARTITION BY label) AS cnt
    FROM embeddings) WHERE rn <= greatest(1, cnt // {_SD_TARGET})
), assigned AS (
  -- nrm hoisted per vector (same expression tree as the inline cosine
  -- denominator, so the pair-stage doubles are bit-identical)
  SELECT vec_id, embedding, cluster, rep_id,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM (
    SELECT e.vec_id, e.embedding, r.cluster, r.rep_id,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_COSINE_SQL.format(a='e.embedding', b='r.centroid')} DESC,
                        r.cluster, r.rep_id) AS rn
    FROM embeddings e, reps r) WHERE rn = 1
), dups AS (
  SELECT b.vec_id, MIN(a.vec_id) AS dup_of
  FROM assigned a JOIN assigned b
    ON a.rep_id = b.rep_id AND a.vec_id < b.vec_id
  -- the len() guard mirrors Spark's NULL-propagating zip_with dot on
  -- length-mismatched vectors (DuckDB's list_sum would skip the NULL
  -- pads and score a prefix dot); NULL >= tau is false on both engines
  WHERE CASE WHEN len(a.embedding) <> len(b.embedding) THEN NULL ELSE
          ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (a.nrm * b.nrm), 6) END >= {_SD_TAU}
  GROUP BY b.vec_id
)
SELECT s.vec_id, s.cluster,
       CASE WHEN d.dup_of IS NOT NULL THEN 1 ELSE 0 END AS is_pruned,
       d.dup_of
FROM assigned s LEFT JOIN dups d ON s.vec_id = d.vec_id
"""

register(q_semdedup, SQL_SEMDEDUP)


# --------------------------------------------------------------------------
# C4-style line dedup — remove high-DF segments, reconstruct documents
# --------------------------------------------------------------------------

_LD_SEG = 2  # tokens per segment ("line" stand-in: the corpus has no \n)
_LD_DF_MAX = 20  # keep segments appearing in <= 20 distinct docs


def q_line_dedup(spark, sf_dir):
    """C4-style boilerplate-segment removal with document reconstruction:
    split each doc into consecutive 2-token segments, compute each
    segment's document frequency (one seg-keyed shuffle), drop segments
    shared by more than ``_LD_DF_MAX`` distinct docs, and reassemble the
    surviving text in original order.  Emits per-doc accounting plus the
    md5 of the cleaned text (scalar output; the cleaned string itself can
    be arbitrarily large).

    Scale: segment DF is a keyed aggregate, the seg→df join is keyed (df
    table bounded by distinct segments), and reconstruction is one
    doc_id-keyed aggregate over struct(pos, seg) — order restored with
    array_sort, never a window."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens("text")
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), F.ceil(F.size(toks) / _LD_SEG).cast("int") - 1
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(toks, i * _LD_SEG + 1, _LD_SEG)
                ),
            )
        ).alias("pos", "seg"),
    )
    df = segs.groupBy("seg").agg(F.countDistinct("doc_id").alias("df"))
    flagged = segs.join(df, "seg").withColumn(
        "kept", F.col("df") <= F.lit(_LD_DF_MAX)
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("n_removed"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("pos", "seg"))
                        )
                    ),
                    lambda s: s.seg,
                ),
            )
        ).alias("clean_md5"),
    )


SQL_LINE_DEDUP = f"""
WITH t AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), seg AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         array_to_string(list_slice(toks, i * {_LD_SEG} + 1,
                                    i * {_LD_SEG} + {_LD_SEG}), ' ') AS seg
  FROM t, unnest(range(0, (len(toks) + {_LD_SEG} - 1) // {_LD_SEG})) r(i)
), df AS (
  SELECT seg, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY seg
)
SELECT s.doc_id,
       COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN d.df > {_LD_DF_MAX} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed,
       md5(COALESCE(string_agg(s.seg, ' ' ORDER BY s.pos)
                        FILTER (WHERE d.df <= {_LD_DF_MAX}), '')) AS clean_md5
FROM seg s JOIN df d USING (seg)
GROUP BY s.doc_id
"""

register(q_line_dedup, SQL_LINE_DEDUP)


# --------------------------------------------------------------------------
# BPE merge training loop — 3 iterations, chained-CTE oracle
# --------------------------------------------------------------------------

_BPE_ITERS = 3

# Merge application convention (identical on both engines): surround the
# spaced form with sentinels, string-replace ' l r ' -> ' lr ' TWICE
# (plain replace is non-overlapping left-to-right, so alternating
# occurrences need a second pass), trim.  Documented deviation from
# strict greedy BPE: a same-symbol run of length >= 4 can pair as
# (1,2)(3,4) vs this convention's (1,2),(skip),(3,4) second-pass pairing —
# impossible here (no symbol repeats 4x within a word in [a-z] word
# vocab) and deterministic everywhere.


def _spaced(col):
    return F.trim(F.regexp_replace(col, "(.)", "$1 "))


def _pair_counts(words):
    """Adjacent-symbol pair counts weighted by word frequency; one
    pair-keyed shuffle over the vocab-bounded word table."""
    syms = F.split(F.col("spaced"), " ")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(syms) - 2),
        lambda j: F.struct(
            F.element_at(syms, j + 1).alias("l"),
            F.element_at(syms, j + 2).alias("r"),
        ),
    )
    return (
        words.filter(F.size(syms) >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _bpe_train(spark, sf_dir):
    """Shared trainer: returns (words_after_all_merges, merges list).
    Each iteration's argmax is a 1-row bounded collect whose literals
    feed the next iteration's plan (the k-means trainer pattern)."""
    docs = _t(spark, sf_dir, "documents")
    # the corpus tokenize pass runs ONCE, not once per iteration
    # (measured 10.7s -> ~2s for q_bpe_apply)
    words = materialize(
        docs.select(F.explode(text.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("spaced", _spaced(F.col("word"))),
        "BPE word types: read by every merge argmax and the final plan",
    )
    merges = []
    for it in range(1, _BPE_ITERS + 1):
        best = (
            _pair_counts(words)
            .orderBy(F.desc("cnt"), F.col("l"), F.col("r"))
            .first()
        )
        if best is None:
            # no adjacent pair left anywhere (degenerate corpus: every
            # word is a single symbol) — training stops, apply uses the
            # merges learned so far (degenerate-corpus sweep finding)
            break
        merges.append((it, best["l"], best["r"], best["cnt"]))
        pat = F.lit(f" {best['l']} {best['r']} ")
        rep = F.lit(f" {best['l']}{best['r']} ")
        sent = F.concat(F.lit(" "), F.col("spaced"), F.lit(" "))
        words = words.withColumn(
            "spaced", F.trim(F.replace(F.replace(sent, pat, rep), pat, rep))
        )
    return words, merges


def q_bpe_merge_train(spark, sf_dir):
    """BPE tokenizer training, the real loop: start from the corpus word
    table (word -> frequency, vocab-bounded — the standard BPE trainer
    input), split words into spaced symbol sequences, then for each of 3
    iterations count adjacent symbol pairs (weighted by word frequency),
    pick the argmax pair (count desc, then lexicographic l, r), and apply
    the merge to every word via the double-replace convention.  Emits the
    learned merge table (iteration, left/right symbol, pair count).

    The per-iteration argmax is a 1-row driver action (bounded: 3 scalar
    rows total) whose literals feed the next iteration's plan — the same
    bounded-collect pattern as the k-means trainer.  Each iteration is
    one pair-keyed shuffle over the vocab table; at 100 TB the word table
    is still vocab-sized, so the loop cost is independent of corpus rows
    after the first tokenize pass."""
    _, merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "it int, left_sym string, right_sym string, pair_count bigint"
    )


def _sql_bpe_chain() -> str:
    """Chained-CTE replay of the whole 3-iteration trainer: w0 is the
    word table, p{{i}} the pair counts, b{{i}} the argmax merge, w{{i}} the
    merged vocabulary (1-row cross join applies the literals).  Shared by
    the trainer oracle (selects from b1..bN) and the apply oracle
    (aggregates over wN)."""
    parts = [
        f"""
WITH w0 AS (
  SELECT word, COUNT(*) AS freq,
         trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS spaced
  FROM (SELECT unnest({TOKS_SQL.format(c='text')}) AS word FROM documents)
  GROUP BY word
)"""
    ]
    for i in range(1, _BPE_ITERS + 1):
        parts.append(f"""
, p{i} AS (
  SELECT syms[j] AS l, syms[j + 1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, string_split(spaced, ' ') AS syms FROM w{i - 1}),
       unnest(range(1, len(syms))) t(j)
  GROUP BY 1, 2
), b{i} AS (
  SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1
), w{i} AS (
  -- LEFT JOIN + CASE: an empty b{i} (no pair repeats) passes words
  -- through UNCHANGED, mirroring the trainer's early break — a plain
  -- cross join would silently empty the vocabulary (sweep finding)
  SELECT word, freq,
         CASE WHEN b.l IS NULL THEN spaced
              ELSE trim(replace(replace(' ' || spaced || ' ',
                                        ' ' || b.l || ' ' || b.r || ' ',
                                        ' ' || b.l || b.r || ' '),
                                ' ' || b.l || ' ' || b.r || ' ',
                                ' ' || b.l || b.r || ' '))
         END AS spaced
  FROM w{i - 1} LEFT JOIN b{i} b ON TRUE
)""")
    return "".join(parts)


def _sql_bpe_merge_train() -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT {i} AS it, l AS left_sym, r AS right_sym, cnt AS pair_count FROM b{i}"
        for i in range(1, _BPE_ITERS + 1)
    )
    return _sql_bpe_chain() + "\n" + sel


register(q_bpe_merge_train, _sql_bpe_merge_train())


# --------------------------------------------------------------------------
# BPE apply — encode the corpus with the learned merges, per-source stats
# --------------------------------------------------------------------------

def q_bpe_apply(spark, sf_dir):
    """Tokenizer APPLY: encode every document with the merges learned by
    q_bpe_merge_train and report per-source compression accounting —
    words, characters, symbols before (chars) vs after the merge table.
    The encode itself is a broadcast join of the corpus against the
    vocab-bounded word→encoding table (the standard production shape: a
    trained tokenizer is a lookup, not a re-derivation), then one
    source-keyed aggregate.  All-integer output."""
    words, _ = _bpe_train(spark, sf_dir)
    enc = words.select(
        "word", F.size(F.split(F.col("spaced"), " ")).alias("n_sym")
    )
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(text.tokens("text")).alias("word"))
    return (
        toks.join(F.broadcast(enc), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_sym").alias("n_symbols"),
        )
    )


def _sql_bpe_apply() -> str:
    return _sql_bpe_chain() + f"""
, enc AS (
  SELECT word, len(string_split(spaced, ' ')) AS n_sym FROM w{_BPE_ITERS}
), tok AS (
  SELECT source, unnest({TOKS_SQL.format(c='text')}) AS word FROM documents
)
SELECT source,
       COUNT(*) AS n_words,
       CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       CAST(SUM(n_sym) AS BIGINT) AS n_symbols
FROM tok JOIN enc USING (word)
GROUP BY source
"""


register(q_bpe_apply, _sql_bpe_apply())


# --------------------------------------------------------------------------
# Linear quality classifier — integer-lane logit, the fasttext stand-in
# --------------------------------------------------------------------------

_QC_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def quality_scores(docs):
    """Per-doc quality-classifier scores over any documents frame
    (doc_id, text, source) — the reusable core of q_quality_classifier,
    also composed by ``jobs.curate_corpus``.  Pure map after one
    tokens() projection; centi-integer logit lane."""
    toks = text.tokens("text")
    sw = F.array(*[F.lit(s) for s in _QC_STOPWORDS])
    feats = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tok"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).alias(
            "n_stop"
        ),
        F.size(F.array_distinct(toks)).alias("n_types"),
    )
    logit = (
        F.lit(-300)
        + 2 * F.col("n_tok")
        + 25 * F.col("n_stop")
        + 8 * F.col("n_types")
    )
    return feats.select(
        "doc_id",
        "source",
        "n_tok",
        "n_stop",
        "n_types",
        logit.cast("bigint").alias("logit_centi"),
        F.when(logit > 0, 1).otherwise(0).alias("keep"),
    )


def q_quality_classifier(spark, sf_dir):
    """Model-based quality filtering, the fasttext-classifier stand-in:
    a linear model over per-doc features (token count, stopword count,
    type count) with fixed trained weights, thresholded at logit 0.
    The logit is computed in CENTI-units so the whole score path is
    integer arithmetic — bit-identical on any engine, any partitioning:
    logit_centi = -300 + 2*n_tok + 25*n_stop + 8*n_types.  One scan,
    every feature from one tokens() projection; verdicts join back to
    nothing (pure map after the per-doc feature aggregate)."""
    return quality_scores(_t(spark, sf_dir, "documents"))


_QC_SW_SQL = "[" + ", ".join(f"'{s}'" for s in _QC_STOPWORDS) + "]"

SQL_QUALITY_CLASSIFIER = f"""
WITH f AS (
  SELECT doc_id, source,
         len(toks) AS n_tok,
         len(list_filter(toks, x -> list_contains({_QC_SW_SQL}, x))) AS n_stop,
         len(list_distinct(toks)) AS n_types
  FROM (SELECT doc_id, source, {TOKS_SQL.format(c='text')} AS toks
        FROM documents)
)
SELECT doc_id, source, n_tok, n_stop, n_types,
       CAST(-300 + 2 * n_tok + 25 * n_stop + 8 * n_types AS BIGINT)
           AS logit_centi,
       CASE WHEN -300 + 2 * n_tok + 25 * n_stop + 8 * n_types > 0
            THEN 1 ELSE 0 END AS keep
FROM f
"""

register(q_quality_classifier, SQL_QUALITY_CLASSIFIER)
