"""Extended inventory XXIII — objective construction + dataset card.

Round-3 eighth pass:

- ``q_span_mask_plan`` — deterministic T5-style span-corruption plan:
  md5-derived span starts (~5% of positions) widened to length-3 spans
  (~15% token mask rate), the corrupted text materialized with a
  sentinel.  The whole operator is a PURE MAP — zero shuffles, zero
  joins — so it rides the scan stage of whatever pipeline feeds the
  trainer; reproducible across runs/engines/partitionings because the
  randomness is a counter hash, never an RNG.
- ``q_dataset_card`` — the one-row release card a curated corpus ships
  with: scale (docs/tokens/chars), diversity (vocab, sources,
  languages), shape (length percentiles via exact integer sort-merge),
  and integrity (exact-dup rate in ppm).  Aggregates compose from
  single-pass keyed reductions; every number is an exact integer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import text
from .operators.materialize import materialize
from .registry import register
from .tables import TOKS_SQL, _t


# --------------------------------------------------------------------------
# Deterministic span-corruption (masking) plan
# --------------------------------------------------------------------------

_SM_MOD = 20  # ~1/20 positions start a span
_SM_LEN = 3  # span length -> ~15% mask rate


def q_span_mask_plan(spark, sf_dir):
    """T5-style span-corruption plan, fully deterministic: position p of
    doc d starts a span iff md5(d|p) mod 20 = 0; spans extend 3 tokens
    (clipped at the doc end) and merge by union.  Outputs per doc: span
    and masked-token counts, the achieved mask rate (ppm), and the md5 of
    the corrupted sequence (masked positions replaced by the <X>
    sentinel) — the trainer-input contract, value-verifiable without
    shipping the text.  A pure map over the scan: no shuffle, no join,
    no RNG state; the plan composes with any downstream pipeline at zero
    coordination cost."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", text.tokens("text").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    pos_seq = F.when(
        F.col("n") > 0, F.sequence(F.lit(0), F.col("n") - 1)
    ).otherwise(F.array().cast("array<int>"))
    starts = F.filter(
        pos_seq,
        lambda p: (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", F.col("doc_id").cast("string"), p.cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _SM_MOD
            == 0
        ),
    )
    with_starts = base.withColumn("starts", starts)
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("starts"),
                lambda s: F.sequence(
                    s, F.least(s + F.lit(_SM_LEN - 1), F.col("n") - 1)
                ),
            )
        )
    )
    with_cov = with_starts.withColumn("covered", covered)
    corrupted = F.transform(
        F.when(F.col("n") > 0, F.sequence(F.lit(0), F.col("n") - 1)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda p: F.when(
            F.array_contains(F.col("covered"), p), F.lit("<X>")
        ).otherwise(F.element_at(F.col("toks"), p + 1)),
    )
    return with_cov.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.size("starts").cast("bigint").alias("n_spans"),
        F.size("covered").cast("bigint").alias("n_masked"),
        F.when(
            F.col("n") > 0,
            F.expr("CAST(size(covered) AS BIGINT) * 1000000 div n"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("mask_ppm"),
        F.md5(F.concat_ws(" ", corrupted)).alias("corrupted_hash"),
    )


SQL_SPAN_MASK_PLAN = f"""
WITH base AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM base
), st AS (
  SELECT doc_id, toks, n,
         list_filter(range(0, n), p ->
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
                                 || CAST(p AS VARCHAR)), 1, 8))::BIGINT
             % {_SM_MOD} = 0) AS starts
  FROM sized
), cov AS (
  SELECT doc_id, toks, n, starts,
         list_distinct(flatten(list_transform(starts, s ->
             range(s, least(s + {_SM_LEN - 1}, n - 1) + 1)))) AS covered
  FROM st
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       -- NULL text masks nothing: 0 spans / 0 masked (the Spark side's
       -- empty-array lanes), while n_tokens stays NULL on both engines
       CAST(COALESCE(len(starts), 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(len(covered), 0) AS BIGINT) AS n_masked,
       CASE WHEN n > 0
            THEN CAST(len(covered) AS BIGINT) * 1000000 // n
            ELSE 0 END AS mask_ppm,
       md5(COALESCE(array_to_string(list_transform(range(0, n), p ->
           CASE WHEN list_contains(covered, p) THEN '<X>'
                ELSE toks[p + 1] END), ' '), '')) AS corrupted_hash
FROM cov
"""

register(q_span_mask_plan, SQL_SPAN_MASK_PLAN)


# --------------------------------------------------------------------------
# Dataset release card
# --------------------------------------------------------------------------

def q_dataset_card(spark, sf_dir):
    """The one-row dataset card a corpus release ships with: scale
    (docs, tokens, chars), diversity (distinct sources, languages,
    vocabulary), shape (median token length via exact percentile on
    integers), and integrity (exact-duplicate rate, ppm of docs whose
    md5(text) repeats).  Each facet is one single-pass reduction
    (token explode, text-hash groupBy, doc-level aggregate) folded
    together with broadcast one-row joins — no facet rescans another's
    shuffle.  Every reported number is an exact integer."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "lang", "n_chars"
    )
    docs = d.withColumn("n_toks", F.size(text.tokens("text")))
    card_docs = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        # floor BEFORE the int cast: Spark's int cast truncates but
        # DuckDB's rounds — floor is identical in both engines
        F.expr("CAST(floor(percentile(n_toks, 0.5)) AS BIGINT)").alias(
            "median_doc_tokens"
        ),
    )
    vocab = d.select(F.explode(text.tokens("text")).alias("t")).agg(
        F.countDistinct("t").alias("vocab")
    )
    dups = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs")
        )
    )
    return (
        card_docs.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dups))
        .select(
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_sources",
            "n_langs",
            "vocab",
            "median_doc_tokens",
            "n_dup_docs",
            F.expr("n_dup_docs * 1000000 div n_docs").alias("dup_ppm"),
        )
    )


SQL_DATASET_CARD = f"""
WITH docs AS (
  SELECT doc_id, text, source, lang, n_chars,
         len({TOKS_SQL.format(c='text')}) AS n_toks
  FROM documents
), card AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(floor(median(n_toks)) AS BIGINT) AS median_doc_tokens
  FROM docs
), v AS (
  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab FROM (
    SELECT unnest({TOKS_SQL.format(c='text')}) AS t FROM documents)
), dup AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c ELSE 0 END), 0) AS BIGINT)
             AS n_dup_docs
  FROM (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY h)
)
SELECT n_docs, n_tokens, n_chars, n_sources, n_langs, vocab,
       median_doc_tokens, n_dup_docs,
       n_dup_docs * 1000000 // n_docs AS dup_ppm
FROM card, v, dup
"""

register(q_dataset_card, SQL_DATASET_CARD)


# --------------------------------------------------------------------------
# Audio-energy windowing — the audio leg of the multimodal family
# --------------------------------------------------------------------------

_AE_WIN = 64


def q_audio_energy_windows(spark, sf_dir):
    """Windowed energy profile over audio-shaped binary payloads
    (operators/multimodal.audio_energy_windows): Arrow-batched
    mapInPandas folds each 64-byte window to its energy with numpy —
    the silence-detection primitive of an audio curation stack.  Unlike
    the codec stubs, the window arithmetic is REAL, so the whole Python
    lane (batching, numpy fold, first-max argmax) is value-hashed
    against a SQL replay over the same bytes.  Payloads are the utf-8
    document bytes (documents_as_media — ASCII, so byte i = char i,
    the equivalence the resize oracle already pins)."""
    from .operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    return multimodal.audio_energy_windows(media, window_bytes=_AE_WIN)


SQL_AUDIO_ENERGY_WINDOWS = f"""
WITH sized AS (
  SELECT doc_id AS media_id, text,
         octet_length(encode(text)) AS n_bytes
  FROM documents
), prof AS (
  SELECT media_id, n_bytes,
         list_transform(
             range(0, CAST(ceil(n_bytes / {_AE_WIN}.0) AS INTEGER)),
             w -> list_sum(list_transform(
                      range(w * {_AE_WIN} + 1,
                            least((w + 1) * {_AE_WIN}, n_bytes) + 1),
                      i -> ascii(substr(text, i, 1))))) AS energies
  FROM sized
)
SELECT media_id, CAST(n_bytes AS INTEGER) AS n_bytes,
       CAST(len(energies) AS INTEGER) AS n_windows,
       CAST(COALESCE(list_max(energies), 0) AS BIGINT) AS peak_energy,
       CAST(CASE WHEN len(energies) > 0
                 THEN list_position(energies, list_max(energies)) - 1
                 ELSE 0 END AS INTEGER) AS peak_window,
       md5(COALESCE(array_to_string(energies, ','), '')) AS energy_md5
FROM prof
"""

register(q_audio_energy_windows, SQL_AUDIO_ENERGY_WINDOWS)


# --------------------------------------------------------------------------
# Image near-dup via blockhash — multimodal × dedup bridge
# --------------------------------------------------------------------------

_BH_BLOCKS = 60  # 60-bit signature (blockhash / aHash family) — 60, not
# 64: bit 63 would wrap Spark's BIGINT negative while DuckDB's list_sum
# widens to HUGEINT (the SimHash-lane lesson)
_BH_BANDS = 4  # 15-bit bands for candidate blocking
_BH_MAX_HAMMING = 15  # tuned to the synthetic corpus (token near-dups
# give moderate byte-profile similarity: banded candidates measure
# min=12, mean=19.6 of 60 bits at sf0.001); real imagery with aHash
# conventionally uses <= 6 of 64


def q_image_blockhash_neardup(spark, sf_dir):
    """Perceptual-hash-style near-dup pairs over image-shaped payloads:
    the blockhash/aHash recipe — split the payload into 60 blocks, set
    bit b iff block b's byte-sum is above the payload mean (integer form
    ``block_sum · 60 ≥ total_sum``: division-free), band the 60-bit
    signature into 4×15 bits for candidate blocking, and verify
    candidates with ``bit_count(xor) ≤ 15`` — the image leg of the dedup
    stack, identical plan shape to SimHash banding, all JVM expressions.
    Byte arithmetic is REAL (the codec stub only stands in for decode):
    per-payload char codes are STAGED into a projected column once, then
    every block sum folds over the bound array — the winnowing O(n²)
    lesson applied to pixels.  Output pairs carry both signatures and
    the Hamming distance, all integers."""
    d = _t(spark, sf_dir, "documents")
    staged = d.select(
        F.col("doc_id").alias("media_id"),
        # O(n) staging: split('') walks the string once, where the old
        # sequence+substring form re-scanned from the start per char
        # (O(n^2) per payload — measured 1.95s -> 0.5s on the scene-cut
        # lane at sf0.1, outputs identical incl. NULL/empty edges)
        F.expr("transform(split(text, ''), c -> ascii(c))").alias("codes"),
    ).withColumn("n", F.size("codes"))
    # PROPORTIONAL block boundaries (floor(b·n/60) .. floor((b+1)·n/60)):
    # every block is populated for n ≥ 60, so the bit pattern tracks
    # CONTENT — fixed-width blocks leave trailing empties and the hash
    # degenerates to a length measure.  The above-mean test cross-
    # multiplies (block_sum·n ≥ total·width): division-free, exact.
    sums = staged.select(
        "media_id",
        "n",
        F.expr(
            f"transform(sequence(0, {_BH_BLOCKS - 1}), b -> struct("
            f"aggregate(slice(codes, (b * n) div {_BH_BLOCKS} + 1, "
            f"((b + 1) * n) div {_BH_BLOCKS} - (b * n) div {_BH_BLOCKS}), "
            "0L, (acc, x) -> acc + x) AS s, "
            f"((b + 1) * n) div {_BH_BLOCKS} - (b * n) div {_BH_BLOCKS} AS w))"
        ).alias("blocks"),
    )
    sig = sums.select(
        "media_id",
        F.expr(
            f"aggregate(sequence(0, {_BH_BLOCKS - 1}), 0L, (acc, b) -> "
            "acc + CASE WHEN blocks[b].w > 0 AND blocks[b].s * n >= "
            "aggregate(blocks, 0L, (a, x) -> a + x.s) * blocks[b].w "
            "THEN shiftleft(1L, b) ELSE 0L END)"
        ).alias("h"),
    )
    band = sig.select(
        "media_id",
        "h",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"CAST((h >> {15 * b}) & 32767 AS BIGINT)")
                    for b in range(_BH_BANDS)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    # without the cut, whole-stage codegen re-derives the full per-byte
    # fold PER JOINED ROW (measured as a hang at sf0.001)
    band = materialize(band, "band keys: read by both self-join sides")
    a, b = band.alias("a"), band.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .distinct()
    )
    return pairs.withColumn(
        "hamming", F.bit_count(F.expr("h_a").bitwiseXOR(F.expr("h_b")))
    ).filter(F.col("hamming") <= _BH_MAX_HAMMING)


def _sql_image_blockhash() -> str:
    bands = ",\n           ".join(
        f"CAST((h >> {15 * b}) & 32767 AS BIGINT) AS band{b}"
        for b in range(_BH_BANDS)
    )
    band_union = "\n        UNION ALL\n        ".join(
        f"SELECT media_id, h, {b} AS band_idx, band{b} AS band_key FROM bands"
        for b in range(_BH_BANDS)
    )
    return f"""
WITH staged AS (
  SELECT doc_id AS media_id,
         list_transform(range(1, length(text) + 1),
                        i -> ascii(substr(text, i, 1))) AS codes,
         length(text) AS n
  FROM documents
), sums AS (
  SELECT media_id, n,
         list_transform(range(0, {_BH_BLOCKS}), b ->
             CAST(COALESCE(list_sum(list_slice(codes,
                 (b * n) // {_BH_BLOCKS} + 1,
                 ((b + 1) * n) // {_BH_BLOCKS})), 0) AS BIGINT)) AS bsums,
         list_transform(range(0, {_BH_BLOCKS}), b ->
             ((b + 1) * n) // {_BH_BLOCKS} - (b * n) // {_BH_BLOCKS})
             AS widths
  FROM staged
), sig AS (
  SELECT media_id,
         CAST(COALESCE(list_sum(list_transform(range(0, {_BH_BLOCKS}), b ->
             CASE WHEN widths[b + 1] > 0 AND bsums[b + 1] * n >=
                  CAST(COALESCE(list_sum(bsums), 0) AS BIGINT)
                      * widths[b + 1]
                  THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT)
             END)), 0) AS BIGINT) AS h
  FROM sums
), bands AS (
  SELECT media_id, h,
           {bands}
  FROM sig
), banded AS (
  SELECT media_id, h, band_idx, band_key FROM (
        {band_union}
  )
), pairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         a.h AS h_a, b.h AS h_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.media_id < b.media_id
)
SELECT id_a, id_b, h_a, h_b,
       CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS hamming
FROM pairs
WHERE bit_count(xor(h_a, h_b)) <= {_BH_MAX_HAMMING}
"""


register(q_image_blockhash_neardup, _sql_image_blockhash())


# --------------------------------------------------------------------------
# Video scene-cut detection — the video leg beyond frame sampling
# --------------------------------------------------------------------------

_SC_FRAME = 128  # bytes per "frame" at test scale


def q_video_scene_cut(spark, sf_dir):
    """Scene-cut detection over video-shaped payloads: reduce each
    128-byte frame to its energy, then flag a cut wherever the
    frame-to-frame energy delta exceeds ~20% of the local level —
    integer cross-multiplied (10·|Δ| > e_i + e_{i−1}: division-free,
    engine-exact) — the shot-segmentation primitive a video curation
    stack runs before per-shot sampling (q_multimodal_framesample).
    Pure JVM map: char codes staged once per payload, frame energies and
    the cut scan are folds over the bound arrays; no shuffle, no join,
    no Python.  Output: (media_id, n_frames, n_cuts, first_cut,
    cut_hash) — scalars only."""
    d = _t(spark, sf_dir, "documents")
    staged = d.select(
        F.col("doc_id").alias("media_id"),
        # O(n) staging: split('') walks the string once, where the old
        # sequence+substring form re-scanned from the start per char
        # (O(n^2) per payload — measured 1.95s -> 0.5s on the scene-cut
        # lane at sf0.1, outputs identical incl. NULL/empty edges)
        F.expr("transform(split(text, ''), c -> ascii(c))").alias("codes"),
    ).withColumn("n", F.size("codes"))
    energies = F.expr(
        f"transform(sequence(0, CAST(ceil(n / {_SC_FRAME}.0) AS INT) - 1), "
        f"f -> aggregate(slice(codes, f * {_SC_FRAME} + 1, {_SC_FRAME}), "
        "0L, (acc, x) -> acc + x))"
    )
    sized = staged.filter(F.col("n") > 0).withColumn("e", energies)
    # guard the single-frame case: Spark's sequence(1, 0) DESCENDS
    # (yielding out-of-range indices under ANSI), it is not empty
    cuts = F.expr(
        "CASE WHEN size(e) > 1 THEN filter(sequence(1, size(e) - 1), i -> "
        "abs(e[i] - e[i - 1]) * 10 > e[i] + e[i - 1]) "
        "ELSE CAST(array() AS array<int>) END"
    )
    return sized.withColumn("cuts", cuts).select(
        "media_id",
        F.size("e").cast("bigint").alias("n_frames"),
        F.size("cuts").cast("bigint").alias("n_cuts"),
        F.coalesce(F.expr("try_element_at(cuts, 1)"), F.lit(-1))
        .cast("bigint")
        .alias("first_cut"),
        F.md5(F.concat_ws(",", F.col("cuts"))).alias("cut_hash"),
    )


SQL_VIDEO_SCENE_CUT = f"""
WITH staged AS (
  SELECT doc_id AS media_id,
         list_transform(range(1, length(text) + 1),
                        i -> ascii(substr(text, i, 1))) AS codes,
         length(text) AS n
  FROM documents
  WHERE length(text) > 0
), en AS (
  SELECT media_id,
         list_transform(range(0, CAST(ceil(n / {_SC_FRAME}.0) AS INT)),
             f -> CAST(COALESCE(list_sum(list_slice(codes,
                      f * {_SC_FRAME} + 1, (f + 1) * {_SC_FRAME})), 0)
                  AS BIGINT)) AS e
  FROM staged
), cut AS (
  SELECT media_id, e,
         list_filter(range(1, len(e)), i ->
             abs(e[i + 1] - e[i]) * 10 > e[i + 1] + e[i]) AS cuts
  FROM en
)
SELECT media_id, CAST(len(e) AS BIGINT) AS n_frames,
       CAST(len(cuts) AS BIGINT) AS n_cuts,
       CAST(COALESCE(cuts[1], -1) AS BIGINT) AS first_cut,
       md5(COALESCE(array_to_string(cuts, ','), '')) AS cut_hash
FROM cut
"""

register(q_video_scene_cut, SQL_VIDEO_SCENE_CUT)


# --------------------------------------------------------------------------
# Language-ID confusion matrix — classifier eval harness
# --------------------------------------------------------------------------

def q_langid_confusion(spark, sf_dir):
    """Confusion matrix of the stopword-voting language identifier
    against the labeled ``lang`` column — the classifier-eval harness
    (q_dedup_recall's role, applied to lang-ID): per (true, predicted)
    cell counts plus the cell's share of its true class in ppm, so
    per-class recall reads off the diagonal.  The predictor is the
    oracle-proven q_lang_id lane; eval adds one keyed aggregate and a
    broadcast margin join — measurement-priced at any corpus size."""
    from .operators import text as t

    docs = _t(spark, sf_dir, "documents")
    pred = t.lang_id(docs).select("lang", "lang_pred")
    cm = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cm.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_true"))
    return (
        cm.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "lang_pred",
            "n",
            F.expr("n * 1000000 div n_true").alias("share_of_true_ppm"),
        )
    )


def _sql_langid_confusion() -> str:
    from .tables import SQL_LANG_ID

    return f"""
WITH pred AS (
  {SQL_LANG_ID}
), cm AS (
  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY lang, lang_pred
), tot AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM cm GROUP BY lang
)
SELECT lang, lang_pred, n, n * 1000000 // n_true AS share_of_true_ppm
FROM cm JOIN tot USING (lang)
"""


register(q_langid_confusion, _sql_langid_confusion())


# --------------------------------------------------------------------------
# Embedding-norm outlier bands — vector-level health
# --------------------------------------------------------------------------

def q_embedding_outliers(spark, sf_dir):
    """Vector-level embedding health: squared norms on the exact e4
    integer lane (the q_embedding_dim_stats scaling), corpus mean/var
    computed from decimal-exact sums, and every vector binned into
    half-sigma z-bands — (band, count, range) — the profile that
    catches collapsed (z ≪ 0) or exploding vectors before they poison
    ANN.  The z denominator is IEEE sqrt of a deterministic double, so
    band edges are bit-identical in any engine; band occupancy is then
    pure integer counting.  One explode-aggregate for norms, one
    broadcast stats row, one keyed count."""
    e = _t(spark, sf_dir, "embeddings")
    n2 = e.select(
        "vec_id",
        F.expr(
            "aggregate(transform(embedding, v -> "
            "CAST(floor(CAST(v AS DOUBLE) * 1e4 + 0.5) AS BIGINT)), "
            "0L, (acc, x) -> acc + x * x)"
        ).alias("n2"),
    )
    stats = n2.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n2").cast("decimal(38,0)")).alias("s"),
        F.sum(
            (F.col("n2").cast("decimal(38,0)") * F.col("n2"))
        ).alias("ss"),
    )
    # zero norm-variance (one vector, or all norms identical) has no
    # z-score: band NULL, never an ANSI DIVIDE_BY_ZERO (DuckDB's double
    # x/0 is NULL — degenerate-corpus sweep finding)
    sd = F.sqrt(
        (
            F.col("n") * F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
        / (F.col("n") * F.col("n"))
    )
    z = F.when(
        sd != 0, (F.col("n2") - F.col("s").cast("double") / F.col("n")) / sd
    )
    return (
        n2.crossJoin(F.broadcast(stats))
        .select("vec_id", "n2", F.floor(z * 2).cast("bigint").alias("z_band"))
        .groupBy("z_band")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("n2").alias("min_n2"),
            F.max("n2").alias("max_n2"),
        )
    )


SQL_EMBEDDING_OUTLIERS = """
WITH n2 AS (
  SELECT vec_id,
         CAST(COALESCE(list_sum(list_transform(embedding, v ->
             CAST(floor(CAST(v AS DOUBLE) * 1e4 + 0.5) AS BIGINT)
             * CAST(floor(CAST(v AS DOUBLE) * 1e4 + 0.5) AS BIGINT))), 0)
          AS BIGINT) AS n2
  FROM embeddings
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(n2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(n2 AS DECIMAL(38,0)) * n2) AS DECIMAL(38,0)) AS ss
  FROM n2
), banded AS (
  SELECT vec_id, n2,
         CAST(floor(((n2 - CAST(s AS DOUBLE) / n)
              / sqrt((n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                          * CAST(s AS DOUBLE)) / (n * n))) * 2) AS BIGINT)
             AS z_band
  FROM n2, stats
)
SELECT z_band, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       MIN(n2) AS min_n2, MAX(n2) AS max_n2
FROM banded GROUP BY z_band
"""

register(q_embedding_outliers, SQL_EMBEDDING_OUTLIERS)


# --------------------------------------------------------------------------
# Higher-moment length profile — per-source skewness/kurtosis
# --------------------------------------------------------------------------

def q_length_moments(spark, sf_dir):
    """Per-source distribution shape of document lengths: mean, variance,
    SKEWNESS and EXCESS KURTOSIS — the heavy-tail/anomaly detector for a
    source's length profile (a bimodal or truncated source shows up in
    g1/g2 long before eyeballing histograms).  Spark's builtin
    skewness()/kurtosis() aggregate doubles and are partial-aggregation
    order-sensitive, so this routes through EXACT integer power sums
    (S1..S4 of n_chars — one keyed aggregate, map-side combined) and
    derives the moments in fixed-order double arithmetic: deterministic
    under any partitioning, identical in any engine.  m2^1.5 is written
    m2·sqrt(m2) (IEEE sqrt is correctly rounded; pow is not)."""
    d = _t(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("bigint")
    sums = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("bigint").alias("s1"),
        F.sum(x * x).cast("bigint").alias("s2"),
        F.sum(x * x * x).cast("bigint").alias("s3"),
        F.sum(x * x * x * x).cast("bigint").alias("s4"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n") - mu * mu
    m3 = (
        F.col("s3").cast("double") / F.col("n")
        - 3 * mu * (F.col("s2").cast("double") / F.col("n"))
        + 2 * mu * mu * mu
    )
    m4 = (
        F.col("s4").cast("double") / F.col("n")
        - 4 * mu * (F.col("s3").cast("double") / F.col("n"))
        + 6 * mu * mu * (F.col("s2").cast("double") / F.col("n"))
        - 3 * mu * mu * mu * mu
    )
    # zero-variance sources (every doc the same length) have undefined
    # shape moments: NULL, never a crash (DuckDB's double x/0 is NULL;
    # Spark ANSI raises — degenerate-corpus sweep finding)
    g1 = F.when(m2 != 0, m3 / (m2 * F.sqrt(m2)))
    g2 = F.when(m2 != 0, m4 / (m2 * m2) - 3)
    return sums.select(
        "source",
        "n",
        F.floor(mu * 1e3 + F.lit(0.5)).cast("bigint").alias("mean_milli"),
        F.floor(m2 * 1e3 + F.lit(0.5)).cast("bigint").alias("var_milli"),
        F.floor(g1 * 1e6 + F.lit(0.5)).cast("bigint").alias("skew_e6"),
        F.floor(g2 * 1e6 + F.lit(0.5)).cast("bigint").alias("kurt_e6"),
    )


SQL_LENGTH_MOMENTS = """
WITH sums AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS s1,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2,
         CAST(SUM(n_chars * n_chars * n_chars) AS BIGINT) AS s3,
         CAST(SUM(n_chars * n_chars * n_chars * n_chars) AS BIGINT) AS s4
  FROM documents GROUP BY source
), m AS (
  SELECT source, n,
         CAST(s1 AS DOUBLE) / n AS mu,
         CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3,
         CAST(s4 AS DOUBLE) / n AS r4
  FROM sums
), c AS (
  SELECT source, n, mu,
         r2 - mu * mu AS m2,
         r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
         r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu AS m4
  FROM m
)
SELECT source, n,
       CAST(floor(mu * 1e3 + 0.5) AS BIGINT) AS mean_milli,
       CAST(floor(m2 * 1e3 + 0.5) AS BIGINT) AS var_milli,
       CAST(floor((m3 / (m2 * sqrt(m2))) * 1e6 + 0.5) AS BIGINT) AS skew_e6,
       CAST(floor((m4 / (m2 * m2) - 3) * 1e6 + 0.5) AS BIGINT) AS kurt_e6
FROM c
"""

register(q_length_moments, SQL_LENGTH_MOMENTS)
