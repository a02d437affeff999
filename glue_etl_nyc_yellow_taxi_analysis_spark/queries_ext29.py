"""Extended inventory XXIX — curation-quality + data-skipping lanes
(round 6, late batch).

Six lanes rounding out the quality-scoring, sampling, and layout
families:

- ``q_kn_bigram_ppl``: Kneser–Ney smoothed bigram LM document scoring —
  the smoothing family CCNet-grade quality filters actually use (KenLM
  is modified KN).  Add-1 (``q_doc_ppl_bigram``) over-penalizes unseen
  mass uniformly; KN discounts observed bigrams by a fixed D and backs
  off to the CONTINUATION unigram (how many contexts a word completes,
  not how often it occurs), which is what separates fluent text from
  frequent-token salad.  With D = 3/4 every probability is a ratio of
  two INTEGERS (multiply through by 4·N1pp), so each log term is
  log2(int) − log2(int) — the exact-integer-log trick of
  ``q_doc_ppl_bigram`` extends unchanged and the per-doc sum routes
  through DECIMAL(27,18) for order independence.
- ``q_ngram_novelty``: leave-one-out bigram novelty — the share of a
  doc's distinct bigrams whose EVERY corpus occurrence lies inside that
  doc.  Low novelty ⇒ the doc is assembled from corpus-common n-grams
  (boilerplate / near-dup tail); high novelty ⇒ unique content.  Pure
  integer lane (counts + one integer division), no floats anywhere.
- ``q_zonemap_prune``: file-granularity data skipping — write a
  range-clustered copy of ``orders``, then answer a range predicate by
  reading ONLY the files whose parquet footer min/max overlaps it
  (``operators.layout.pruned_read``).  The oracle is the plain
  full-table predicate: pruning must be semantically invisible.  The
  actually-skipped-files evidence is pinned in pytest (the oracle
  cannot see the filesystem).
- ``q_hist_equidepth``: exact equi-depth histogram of ``events.value``
  via the two-phase ``global_index`` (now with a tiebreak column) — a
  bare ``NTILE() OVER (ORDER BY …)`` is a one-task global sort at
  100 TB.  Bucket = ``((rank−1)·B) div N`` (even-spread integer
  formula, identical on both engines; deliberately NOT ntile, whose
  first-buckets-larger remainder rule differs from the even spread).
- ``q_weighted_sample``: deterministic weighted sampling with
  replacement (p ∝ n_chars — the token-budget mixture draw): the
  two-phase running sum assigns each doc a half-open interval of
  [0, W), K hash32 draws broadcast into an O(K)-probe containment
  join.  One streaming pass, no shuffle beyond the running sum's.
- ``q_lsa_topic``: dominant latent-semantic component by sparse
  matrix-free power iteration over (doc, term, tf·idf) triples — the
  sparse sibling of q_pca_power (keyed join + keyed aggregate per
  half-step, DECIMAL(38,15) accumulations, unit-normalized u so sigma
  estimates the top singular value, chained-CTE oracle).

Scale posture: the KN/novelty shuffles are keyed on bigram / doc_id
(same shapes as the proven ppl/fingerprint lanes); zone-map pruning
reads footers only (metadata-sized loop, one entry per file); the
histogram's only driver traffic is the 32-row bucket-count table the
two-phase index already pays.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import indexing, layout, sketches, text
from .operators.materialize import materialize
from .paths import scratch
from .registry import register
from .tables import DSUM_SQL, TOKS_SQL, _t, dsum


_PPL_DEC18 = "CAST(CAST({v} AS VARCHAR) AS DECIMAL(27,18))"


# ---------------------------------------------------------------------------
# q_kn_bigram_ppl — Kneser–Ney smoothed bigram LM scoring
# ---------------------------------------------------------------------------

def bigrams_of(d):
    """(doc_id, w1, w2) — one row per bigram OCCURRENCE of a documents
    FRAME (frame-level so CLI jobs can reuse the lane on arbitrary
    parquet; same tokenization contract as ``q_doc_ppl_bigram``,
    queries_ext18.py)."""
    toks = text.tokens("text")
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"), F.slice(toks, 2, n - 1).alias("w2")
    )
    return d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def _doc_bigrams(spark, sf_dir):
    """Registry-facing wrapper: bigrams of the sf_dir documents table
    (shared by the KN and novelty lanes)."""
    return bigrams_of(_t(spark, sf_dir, "documents"))


_BG_SQL = f"""
tok AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM tok, unnest(range(1, len(toks))) AS t(i)
)"""


def q_kn_bigram_ppl(spark, sf_dir):
    """Per-doc mean Kneser–Ney bigram logprob, discount D = 3/4:

        p_KN(w2|w1) = max(c2 − D, 0)/c1 + D·N1L(w1)/c1 · N1R(w2)/N1pp

    where c2 = corpus bigram count, c1 = Σ_w2 c2 (occurrences of w1 as a
    context), N1L(w1) = distinct continuations of w1, N1R(w2) = distinct
    contexts completing into w2, N1pp = distinct bigram types.  Multiply
    through by 4·c1·N1pp and every term is an INTEGER:

        lp = log2(max(4·c2 − 3, 0)·N1pp + 3·N1L·N1R) − log2(4·c1·N1pp)

    so each log is of an exact integer (the q_doc_ppl_bigram determinism
    contract) and the per-doc sum routes through DECIMAL(27,18).  The
    count tables shuffle keyed on bigram / w1 / w2; N1pp rides as a
    1-row aggregate cross-joined broadcast — NOT a separate ``count()``
    action, which would pay one extra full tokenize+shuffle pass just
    for the scalar (the q_doc_logprob third-pass defect the r6 sf1
    sweep caught).  Scored on its own training corpus, every scored
    bigram has c2 ≥ 1 — the max() guard documents the formula rather
    than firing."""
    bg = _doc_bigrams(spark, sf_dir)
    # hierarchical rollup off ONE materialized doc-bigram table: the
    # r11-shaped plan re-ran the scan+tokenize+explode subtree once per
    # count table (5 corpus scans / 18 exchanges, no runtime exchange
    # reuse — plans/r12/q_kn_bigram_ppl_before.txt); doc_bg is the
    # narrowest exact base (all counts are integer sums of it), so every
    # table derives from it: 1 scan, lane 2.5s -> ~1.3s
    doc_bg = materialize(
        bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("c")),
        "per-doc bigram counts: every count table rolls up from them",
    )
    c2 = materialize(
        doc_bg.groupBy("w1", "w2").agg(F.sum("c").cast("bigint").alias("c2")),
        "corpus bigram counts: the margins and the scores read them",
        eager=False,
    )
    c1 = c2.groupBy("w1").agg(
        F.sum("c2").cast("bigint").alias("c1"), F.count(F.lit(1)).alias("n1l")
    )
    n1r = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("n1r"))
    npp = c2.agg(F.count(F.lit(1)).alias("n1pp"))  # distinct bigram types
    num = (
        F.greatest(F.lit(4) * F.col("c2") - 3, F.lit(0)) * F.col("n1pp")
        + F.lit(3) * F.col("n1l") * F.col("n1r")
    )
    lp = F.log2(num) - F.log2(F.lit(4) * F.col("c1") * F.col("n1pp"))
    return (
        doc_bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(n1r, "w2")
        .crossJoin(F.broadcast(npp))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.floor(
                F.sum((F.col("c") * lp).cast("decimal(27,18)")).cast("double")
                / F.sum("c")
                * 1e4
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("mean_kn_lp_e4"),
        )
    )


def _sql_kn_bigram_ppl() -> str:
    dec = _PPL_DEC18.format(v="c * lp")
    return f"""
WITH {_BG_SQL}, c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1, COUNT(*) AS n1l
  FROM c2 GROUP BY w1
), n1r AS (
  SELECT w2, COUNT(*) AS n1r FROM c2 GROUP BY w2
), npp AS (
  SELECT COUNT(*) AS n1pp FROM c2
), doc_bg AS (
  SELECT doc_id, w1, w2, COUNT(*) AS c FROM bg GROUP BY doc_id, w1, w2
), terms AS (
  SELECT doc_id, c,
         log2(greatest(4 * c2 - 3, 0) * n1pp + 3 * n1l * n1r)
           - log2(4 * c1 * n1pp) AS lp
  FROM doc_bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
              JOIN n1r USING (w2), npp
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(floor(CAST(SUM({dec}) AS DOUBLE) / SUM(c) * 1e4 + 0.5) AS BIGINT)
           AS mean_kn_lp_e4
FROM terms GROUP BY doc_id
"""


register(q_kn_bigram_ppl, _sql_kn_bigram_ppl())


# ---------------------------------------------------------------------------
# q_ngram_novelty — leave-one-out bigram novelty
# ---------------------------------------------------------------------------

def q_ngram_novelty(spark, sf_dir):
    """Per-doc bigram novelty: a doc's distinct bigram is NOVEL when all
    of its corpus occurrences are inside this doc (doc count == corpus
    count — the leave-one-out test without a second corpus pass).
    novelty_e4 = novel_types·10000 div total_types, pure integer
    division, so the lane carries no floats at all.  Two keyed
    aggregates + one bigram-keyed join; documents with < 2 tokens have
    no bigrams and are absent on both engines."""
    bg = _doc_bigrams(spark, sf_dir)
    doc_bg = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c2 = doc_bg.groupBy("w1", "w2").agg(F.sum("c").cast("bigint").alias("c2"))
    return (
        doc_bg.join(c2, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum((F.col("c") == F.col("c2")).cast("bigint"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_e4", F.expr("n_novel * 10000 div n_types").cast("bigint")
        )
    )


SQL_NGRAM_NOVELTY = f"""
WITH {_BG_SQL}, doc_bg AS (
  SELECT doc_id, w1, w2, COUNT(*) AS c FROM bg GROUP BY doc_id, w1, w2
), c2 AS (
  SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS c2 FROM doc_bg GROUP BY w1, w2
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = c2 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN c = c2 THEN 1 ELSE 0 END) * 10000
              // COUNT(*) AS BIGINT) AS novelty_e4
FROM doc_bg JOIN c2 USING (w1, w2)
GROUP BY doc_id
"""

register(q_ngram_novelty, SQL_NGRAM_NOVELTY)


# ---------------------------------------------------------------------------
# q_zonemap_prune — footer-stats file skipping
# ---------------------------------------------------------------------------

_ZM_LO, _ZM_HI = 50000.0, 150000.0
_ZM_FILES = 8


def q_zonemap_prune(spark, sf_dir):
    """Data skipping at FILE granularity: ``orders`` rewritten
    range-clustered on ``o_totalprice`` (repartitionByRange → narrow
    footer min/max per file), then a price-band aggregate answered by
    ``layout.pruned_read`` — only files whose footer range overlaps the
    band are opened; the exact predicate still applies on top, so
    pruning is semantically invisible (the oracle is the plain
    full-table query).  tests/test_ext29.py pins the files-actually-
    skipped evidence, which SQL cannot see.  At 100 TB this is the
    manifest-pruning move of Iceberg/Delta: the footer walk is one
    metadata entry per file, never a data read."""
    orders = _t(spark, sf_dir, "orders")
    out = scratch("sg_zonemap_") + "/orders"
    (
        orders.repartitionByRange(_ZM_FILES, "o_totalprice")
        .write.mode("overwrite")
        .parquet(out)
    )
    pruned, _n_total, _n_read = layout.pruned_read(
        spark, out, "o_totalprice", _ZM_LO, _ZM_HI
    )
    return (
        pruned.filter(
            (F.col("o_totalprice") >= _ZM_LO) & (F.col("o_totalprice") <= _ZM_HI)
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


SQL_ZONEMAP_PRUNE = f"""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {DSUM_SQL.format(col='o_totalprice')} AS sum_price
FROM orders
WHERE o_totalprice >= {_ZM_LO} AND o_totalprice <= {_ZM_HI}
GROUP BY o_orderstatus
"""

register(q_zonemap_prune, SQL_ZONEMAP_PRUNE)


# ---------------------------------------------------------------------------
# q_hist_equidepth — exact equi-depth histogram, two-phase global rank
# ---------------------------------------------------------------------------

_HIST_B = 10


def q_hist_equidepth(spark, sf_dir):
    """Exact equi-depth (equal-height) histogram of ``events.value`` in
    B = 10 buckets: bucket = ((rank−1)·B) div N over the total order
    (value, event_id).  The rank comes from ``indexing.global_index``
    with a tiebreak column — the two-phase bucketed plan, NOT a bare
    one-task ``ROW_NUMBER()/NTILE() OVER (ORDER BY …)``.  The even-
    spread integer formula is pinned on both engines (SQL ntile's
    first-buckets-larger remainder rule differs, so ntile is
    deliberately not used).  Emits per-bucket row count, value min/max
    (raw parquet doubles, no arithmetic) and a decimal-routed sum.
    NULL values are excluded on both sides (none exist in the testdata;
    the filter pins the contract)."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "value")
    )
    n = ev.count()  # column-pruned count; drives the integer bucket formula
    ranked = indexing.global_index(
        ev, "value", index_col="rnk", buckets=32, tiebreak_cols=["event_id"]
    )
    return (
        ranked.withColumn(
            "bucket",
            F.expr(f"(rnk - 1) * {_HIST_B} div {n}").cast("bigint"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            dsum("value").alias("sum_value"),
        )
    )


SQL_HIST_EQUIDEPTH = f"""
WITH v AS (
  SELECT event_id, value FROM events WHERE value IS NOT NULL
), n AS (
  SELECT COUNT(*) AS n FROM v
), r AS (
  SELECT value,
         ROW_NUMBER() OVER (ORDER BY value, event_id) AS rnk
  FROM v
)
SELECT CAST((rnk - 1) * {_HIST_B} // n AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(value) AS vmin, MAX(value) AS vmax,
       {DSUM_SQL.format(col='value')} AS sum_value
FROM r, n
GROUP BY 1
"""

register(q_hist_equidepth, SQL_HIST_EQUIDEPTH)


# ---------------------------------------------------------------------------
# q_weighted_sample — deterministic weighted sampling with replacement
# ---------------------------------------------------------------------------

_WS_K = 100


def q_weighted_sample(spark, sf_dir):
    """Weighted sampling WITH replacement, p(doc) ∝ n_chars — the
    token-budget mixture draw (sample documents proportional to their
    size, the per-source quota move of dataset-mixture recipes), made
    DETERMINISTIC so it oracle-checks: draw k's position is
    hash32('draw:k') mod total_weight, and each doc owns the half-open
    interval [cum − w, cum) of the global running sum.  Intervals
    partition [0, W) exactly, so every draw resolves to exactly one doc.

    Scale shape: the running sum is the two-phase
    ``indexing.global_running_sum`` (never a one-task window); the draws
    table is K = 100 rows crossed with a 1-row broadcast total; the
    interval-containment join is a broadcast nested-loop of K rows
    against the fact — one streaming pass with an O(K) probe per row,
    the ``range_join_bands`` contract.  Zero-weight/NULL docs are
    excluded on both engines (they own empty intervals by definition)."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull() & (F.col("n_chars") > 0))
        .select("doc_id", "n_chars")
    )
    cum = indexing.global_running_sum(d, "doc_id", "n_chars", out_col="hi")
    tot = d.agg(F.sum("n_chars").cast("bigint").alias("w"))
    draws = (
        spark.range(_WS_K)
        .select(F.col("id").cast("bigint").alias("draw_id"))
        .crossJoin(F.broadcast(tot))
        .select(
            "draw_id",
            (
                sketches.hash32(
                    F.concat(F.lit("draw:"), F.col("draw_id").cast("string"))
                )
                % F.col("w")
            ).alias("pos"),
        )
    )
    return (
        cum.join(
            F.broadcast(draws),
            (F.col("pos") >= F.col("hi") - F.col("n_chars"))
            & (F.col("pos") < F.col("hi")),
        )
        .select("draw_id", "doc_id", "n_chars")
    )


SQL_WEIGHTED_SAMPLE = f"""
WITH d AS (
  SELECT doc_id, n_chars FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
), c AS (
  SELECT doc_id, n_chars,
         CAST(SUM(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS hi
  FROM d
), tot AS (
  SELECT CAST(SUM(n_chars) AS BIGINT) AS w FROM d
), draws AS (
  -- the outer index must NOT be named i: DUCK_HASH32's list_transform
  -- lambda binds i and would silently shadow it (caught by the first
  -- oracle run: every draw hashed the digit position, not the draw id)
  SELECT CAST(k AS BIGINT) AS draw_id,
         {sketches.DUCK_HASH32.format(s="'draw:' || CAST(k AS VARCHAR)")}
           % w AS pos
  FROM range(0, {_WS_K}) t(k), tot
)
SELECT draw_id, c.doc_id, c.n_chars
FROM draws JOIN c ON pos >= hi - c.n_chars AND pos < hi
"""

register(q_weighted_sample, SQL_WEIGHTED_SAMPLE)


# ---------------------------------------------------------------------------
# q_lsa_topic — dominant LSA component over sparse tf-idf triples
# ---------------------------------------------------------------------------

_LSA_ITERS = 2
# (38,15), not the kmeans/PCA (27,18): un-normalized tf-idf mat-vec
# products reach ~1e10 at sf0.1 (9 integer digits overflow — found by a
# real ANSI NUMERIC_VALUE_OUT_OF_RANGE at sf0.1, invisible at sf0.001);
# 23 integer digits + per-half-step unit normalization bound every
# accumulated element far below the lane's range at any corpus size.
_LSA_DEC = "CAST(CAST({v} AS VARCHAR) AS DECIMAL(38,15))"


def q_lsa_topic(spark, sf_dir):
    """Dominant latent-semantic component of the corpus: power iteration
    for the top right-singular vector of the tf-idf TERM-DOC matrix,
    kept SPARSE as (doc_id, term, w) triples — the matrix-free
    ``v' = Aᵀ(A v)`` where each half-step is one keyed join + one keyed
    aggregate (term-keyed then doc-keyed), never a dense row vector or a
    t×t Gram matrix.  This is the sparse sibling of q_pca_power: same
    exact-lane discipline (idf = log2(N) − log2(df) is a difference of
    exact-integer logs; every accumulation routes through
    DECIMAL(38,15) — see _LSA_DEC for why not (27,18); normalizations
    are IEEE-exact sqrt), replayed by a generated chained-CTE oracle.
    ``u`` is unit-normalized each half-step, so ``sigma_e6`` is the top
    SINGULAR VALUE estimate ‖Aᵀû‖ and no accumulated element can
    outgrow the decimal lane at any corpus size.  At 100 TB the triples
    table is the inverted index the retrieval stack already builds; v
    is vocabulary-sized and rides broadcast joins."""
    d = _t(spark, sf_dir, "documents")
    toks = text.tokens("text")
    tf = (
        d.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # at 100 TB this is the inverted index you'd persist anyway
    a = materialize(
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * (F.log2(F.col("n_docs")) - F.log2(F.col("df")))
            ).alias("w"),
        ),
        "tf-idf triples: ~9 consumers across the power iterations",
    )
    v = dfc.select("term", F.lit(1.0).alias("v"))
    dec = lambda c: F.sum(c.cast("decimal(38,15)")).cast("double")  # noqa: E731
    for _ in range(_LSA_ITERS):
        # lazy: the norm's job fills the half-step once instead of
        # re-running the join+agg per consumer
        u_raw = materialize(
            a.join(F.broadcast(v), "term")
            .groupBy("doc_id")
            .agg(dec(F.col("w") * F.col("v")).alias("u")),
            "LSA half-step u: read by its norm and the normalized u",
            eager=False,
        )
        un2 = u_raw.agg(dec(F.col("u") * F.col("u")).alias("un2"))
        # an all-zero tf-idf matrix (single doc / identical docs ⇒ every
        # idf 0) has no dominant component: NULL loadings, never a crash
        # (DuckDB's double x/0 is NULL; Spark ANSI raises — sweep find)
        u = u_raw.crossJoin(F.broadcast(un2)).select(
            "doc_id",
            F.when(F.col("un2") != 0, F.col("u") / F.sqrt("un2")).alias("u"),
        )
        s = materialize(
            a.join(u, "doc_id")
            .groupBy("term")
            .agg(dec(F.col("w") * F.col("u")).alias("s")),
            "LSA half-step s: read by norm2, the normalized v and sigma",
            eager=False,
        )
        norm2 = s.agg(dec(F.col("s") * F.col("s")).alias("norm2"))
        v = s.crossJoin(F.broadcast(norm2)).select(
            "term",
            F.when(F.col("norm2") != 0, F.col("s") / F.sqrt("norm2")).alias(
                "v"
            ),
        )
    return v.crossJoin(F.broadcast(norm2)).select(
        "term",
        F.floor(F.col("v") * 1e9 + F.lit(0.5)).cast("bigint").alias("loading_e9"),
        F.floor(F.sqrt("norm2") * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("sigma_e6"),
    )


def build_lsa_oracle_sql(iters: int = _LSA_ITERS) -> str:
    dec = _LSA_DEC
    step = """, r{i} AS MATERIALIZED (
  SELECT doc_id, CAST(SUM({wu}) AS DOUBLE) AS u
  FROM a JOIN v{prev} USING (term) GROUP BY doc_id
), m{i} AS MATERIALIZED (
  SELECT CAST(SUM({uu}) AS DOUBLE) AS un2 FROM r{i}
), u{i} AS MATERIALIZED (
  SELECT doc_id, u / sqrt(un2) AS u FROM r{i}, m{i}
), s{i} AS MATERIALIZED (
  SELECT term, CAST(SUM({ws}) AS DOUBLE) AS s
  FROM a JOIN u{i} USING (doc_id) GROUP BY term
), n{i} AS MATERIALIZED (
  SELECT CAST(SUM({ss}) AS DOUBLE) AS norm2 FROM s{i}
), v{i} AS MATERIALIZED (
  SELECT term, s / sqrt(norm2) AS v FROM s{i}, n{i}
)"""
    parts = [f"""
WITH tok AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), tf AS MATERIALIZED (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  GROUP BY doc_id, term
), dfc AS MATERIALIZED (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), a AS MATERIALIZED (
  SELECT doc_id, term, tf * (log2(n_docs) - log2(df)) AS w
  FROM tf JOIN dfc USING (term), nd
), v0 AS (
  SELECT term, CAST(1.0 AS DOUBLE) AS v FROM dfc
)"""]
    for i in range(1, iters + 1):
        parts.append(
            step.format(
                i=i,
                prev=i - 1,
                wu=dec.format(v="w * v"),
                uu=dec.format(v="u * u"),
                ws=dec.format(v="w * u"),
                ss=dec.format(v="s * s"),
            )
        )
    parts.append(f"""
SELECT term,
       CAST(floor(v * 1e9 + 0.5) AS BIGINT) AS loading_e9,
       CAST(floor(sqrt(norm2) * 1e6 + 0.5) AS BIGINT) AS sigma_e6
FROM v{iters}, n{iters}
""")
    return "".join(parts)


register(q_lsa_topic, build_lsa_oracle_sql())
