"""Extended inventory XV — round-3 evidence queries.

Two queries that convert the last high-value rows-only pipelines into
hash-checked driver evidence:

- ``q_taxi_star_deterministic`` — THE reference pipeline (Job 1,
  ``glue_job_scripts/etl-glue-nyc-yellow-data-model.py:232-356``) with the
  uuid PK projected away, so the full rename → cast → dedup → quality
  filter → surrogate-key → duration → peak-band contract is value-hashed
  against a DuckDB replay of the same fixture (q_taxi_star_build stays
  declared for the uuid lane itself, rows-only by design).
- ``q_ann_lsh_oracle`` — random-hyperplane LSH ANN on DETERMINISTIC
  md5-derived planes, making the whole multi-table pipeline (signature →
  bucket join → top-k) SQL-replicable, where the production
  q_similarity_ann_lsh keeps numpy-seeded planes (throughput lane).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators.materialize import materialize
from .plans import star
from .registry import register
from .tables import _COSINE_SQL, TOKS_SQL, _t, _taxi_fixture


# --------------------------------------------------------------------------
# Deterministic Job-1 star build — the flagship pipeline, hash-checked
# --------------------------------------------------------------------------

def q_taxi_star_deterministic(spark, sf_dir):
    """Job-1 fact pipeline (star.build_fact) on the FIXTURES.md A1 fixture,
    projecting every deterministic column — all 25 non-uuid fact columns.
    Money/float32 lanes are cast to double at the comparison boundary
    (the q_rename_cast pattern: decimal/float32 representations differ
    between engines' pandas canonicalizations, doubles do not); uuid
    uniqueness itself is asserted in tests/test_star.py."""
    fact = star.build_fact(_taxi_fixture(spark), "2021", "1")
    dbl = lambda c: F.col(c).cast("double").alias(c)  # noqa: E731
    return fact.select(
        "vendor_id",
        "passenger_count",
        "tpep_pickup_date_id",
        "tpep_pickup_time_id",
        "tpep_dropoff_date_id",
        "tpep_dropoff_time_id",
        "trip_duration_minutes",
        "trip_peak_band_id",
        dbl("trip_distance"),
        "rate_code_id",
        "store_and_fwd_flag",
        "pickup_location_id",
        "drop_off_location_id",
        "payment_type",
        dbl("fare_amount"),
        dbl("extra"),
        dbl("mta_tax"),
        dbl("tip_amount"),
        dbl("tolls_amount"),
        dbl("improvement_surcharge"),
        dbl("congestion_surcharge"),
        dbl("airport_fee"),
        dbl("total_amount"),
        "processed_year",
        "processed_month",
    )


# The oracle regenerates the fixture (the same closed-form generator as
# queries._taxi_fixture: 200 base trips + 2 exact duplicates + 6
# filter-victims + 1 Y-flag/airport-fee survivor) and replays the FULL
# contract in SQL: DISTINCT dedup, passenger/distance/fare/duration
# quality filters, float32 cast lanes, decimal(10,2) total, surrogate
# keys, and the 3-way peak band (DM:232-356).
SQL_TAXI_STAR_DETERMINISTIC = """
WITH params AS (
  -- base generator: trip(i) for i in 0..199
  SELECT i, ((360 + i * 7) % 1440) AS mod_min, (15 + i % 90) AS mins,
         1.0 AS pax, 10.0 AS dist, 20.0 AS fare, 'N' AS flag,
         NULL::DOUBLE AS af
  FROM range(0, 200) t(i)
  -- exact duplicates of trips 0 and 1 (dedup must drop them)
  UNION ALL SELECT * FROM (VALUES
    (0,   360, 15, 1.0, 10.0,  20.0, 'N', NULL::DOUBLE),
    (1,   367, 16, 1.0, 10.0,  20.0, 'N', NULL::DOUBLE),
  -- quality-filter victims (every rule fires exactly once)
    (900, 600, 30, 0.0, 10.0,  20.0, 'N', NULL::DOUBLE),
    (901, 600, 30, 7.0, 10.0,  20.0, 'N', NULL::DOUBLE),
    (902, 600, 30, 1.0, 4.99,  20.0, 'N', NULL::DOUBLE),
    (903, 600, 30, 1.0, 501.0, 20.0, 'N', NULL::DOUBLE),
    (904, 600, 30, 1.0, 10.0,  0.0,  'N', NULL::DOUBLE),
    (905, 600, 1500, 1.0, 10.0, 20.0, 'N', NULL::DOUBLE),
  -- kept: Y store-and-forward flag + non-null airport fee
    (906, 600, 30, 1.0, 10.0,  20.0, 'Y', 1.25)
  ) v(i, mod_min, mins, pax, dist, fare, flag, af)
), raw AS (
  SELECT
    CAST(1 + i % 2 AS INTEGER) AS vendor_id,
    TIMESTAMP '2021-01-01 00:00:00'
      + (i % 28) * INTERVAL 1 DAY
      + mod_min * INTERVAL 1 MINUTE AS pickup_ts,
    TIMESTAMP '2021-01-01 00:00:00'
      + (i % 28) * INTERVAL 1 DAY
      + mod_min * INTERVAL 1 MINUTE
      + mins * INTERVAL 1 MINUTE AS dropoff_ts,
    pax, dist, 1.0 AS ratecode, flag,
    CAST(100 + i % 5 AS INTEGER) AS pu_loc,
    CAST(200 + i % 7 AS INTEGER) AS do_loc,
    CAST(1 + i % 4 AS INTEGER) AS payment,
    fare, 0.5 AS extra, 0.5 AS mta, 2.0 AS tip, 0.0 AS tolls,
    0.3 AS surcharge, fare + 3.3 AS total, 2.5 AS congestion, af
  FROM params
), casted AS (
  SELECT DISTINCT  -- dropDuplicates over the full row (DM:271)
    vendor_id,
    CAST(pax AS INTEGER) AS passenger_count,
    pickup_ts, dropoff_ts,
    CAST(CAST(dist AS REAL) AS DOUBLE) AS trip_distance,
    CAST(ratecode AS INTEGER) AS rate_code_id,
    CASE WHEN flag = 'Y' THEN 1 ELSE 0 END AS store_and_fwd_flag,
    pu_loc AS pickup_location_id,
    do_loc AS drop_off_location_id,
    payment AS payment_type,
    CAST(CAST(fare AS REAL) AS DOUBLE) AS fare_amount,
    CAST(CAST(extra AS REAL) AS DOUBLE) AS extra,
    CAST(CAST(mta AS REAL) AS DOUBLE) AS mta_tax,
    CAST(CAST(tip AS REAL) AS DOUBLE) AS tip_amount,
    CAST(CAST(tolls AS REAL) AS DOUBLE) AS tolls_amount,
    CAST(CAST(surcharge AS REAL) AS DOUBLE) AS improvement_surcharge,
    CAST(CAST(congestion AS REAL) AS DOUBLE) AS congestion_surcharge,
    CAST(COALESCE(CAST(af AS REAL), CAST(0.0 AS REAL)) AS DOUBLE)
        AS airport_fee,
    CAST(CAST(total AS DECIMAL(10, 2)) AS DOUBLE) AS total_amount
  FROM raw
), filtered AS (
  SELECT *,
         date_diff('second', pickup_ts, dropoff_ts) // 60
             AS trip_duration_minutes
  FROM casted
  WHERE passenger_count BETWEEN 1 AND 6
    AND trip_distance >= 5.0 AND trip_distance <= 500.0
    AND fare_amount > 0
)
SELECT
  vendor_id, passenger_count,
  strftime(pickup_ts, '%Y%m%d') AS tpep_pickup_date_id,
  strftime(pickup_ts, '%H%M%S') AS tpep_pickup_time_id,
  strftime(dropoff_ts, '%Y%m%d') AS tpep_dropoff_date_id,
  strftime(dropoff_ts, '%H%M%S') AS tpep_dropoff_time_id,
  trip_duration_minutes,
  CASE WHEN hour(pickup_ts) BETWEEN 0 AND 5
         OR hour(pickup_ts) BETWEEN 20 AND 23 THEN '101'
       WHEN hour(pickup_ts) BETWEEN 6 AND 9
         OR hour(pickup_ts) BETWEEN 16 AND 19 THEN '102'
       ELSE '103' END AS trip_peak_band_id,
  trip_distance, rate_code_id, store_and_fwd_flag,
  pickup_location_id, drop_off_location_id, payment_type,
  fare_amount, extra, mta_tax, tip_amount, tolls_amount,
  improvement_surcharge, congestion_surcharge, airport_fee, total_amount,
  '2021' AS processed_year, '1' AS processed_month
FROM filtered
WHERE trip_duration_minutes < 1440
"""

register(q_taxi_star_deterministic, SQL_TAXI_STAR_DETERMINISTIC)


# --------------------------------------------------------------------------
# LSH ANN — md5-derived hyperplanes, fully oracle-checked
# --------------------------------------------------------------------------

_LSH_TABLES = 4
_LSH_PLANES = 8
_LSH_DIM = 64


def _md5_plane(t: int, i: int, dim: int) -> list[float]:
    """Deterministic hyperplane components from a counter hash: first 8
    md5 hex chars of 't|i|d' -> integer in [-1000, 1000] -> /1000.0.
    Uniform (not Gaussian) directions — fine for sign-LSH, and every
    component is replicable as SQL (md5 + modulus + exact int division).
    """
    import hashlib

    return [
        ((int(hashlib.md5(f"{t}|{i}|{d}".encode()).hexdigest()[:8], 16) % 2001)
         - 1000) / 1000.0
        for d in range(dim)
    ]


def lsh_ann_topk_md5(spark, sf_dir, tables: int = _LSH_TABLES,
                     planes: int = _LSH_PLANES):
    """Parameterizable md5-plane LSH ANN pipeline (see q_ann_lsh_oracle).
    The (tables, planes) pair sets the s-curve: more tables/fewer planes
    raises recall (the production 16×4 shape), fewer tables/more planes
    tightens precision (the 4×8 evidence shape).

    Planes ride as a broadcast TABLE fanned out per vector and folded
    back by one (vec_id, table) keyed aggregate (round 7 — the
    literal-expression form built a tables×planes×64-literal tree whose
    codegen dominated the lane; the ext35 banded lane measured the same
    re-plan 6.0s → 1.6s).  The dot per (vector, plane) row is the same
    zip_with/aggregate sequential fold, and sign bits pack as an exact
    sum of disjoint powers of two, so signatures — and the oracle hash —
    are bit-identical to the literal form.  The signature table is
    materialized: both consumers (the query side and the data side of
    the bucket join) read it instead of recomputing."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    plane_rows = spark.createDataFrame(
        [
            (t, i, _md5_plane(t, i, _LSH_DIM))
            for t in range(tables)
            for i in range(planes)
        ],
        "t int, i int, p array<double>",
    )
    sigs = materialize(
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(plane_rows))
        .groupBy("vec_id", "t")
        .agg(
            F.sum(
                F.when(
                    similarity.dot(F.col("embedding"), F.col("p")) >= 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), i)"),
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("__sig")
        ),
        "LSH signatures: read by the query and the data side of the join",
    )
    data = emb.select("vec_id", "embedding").join(sigs, "vec_id").select(
        "vec_id", "embedding", F.col("t").alias("__tbl"), "__sig"
    )
    q = data.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        "__tbl",
        "__sig",
    )
    candidates = (
        data.join(F.broadcast(q), ["__tbl", "__sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "embedding", "__qvec")
        .dropDuplicates(["query_id", "vec_id"])
    )
    from pyspark.sql import Window

    scored = candidates.withColumn(
        "cosine_sim",
        F.round(similarity.cosine(F.col("embedding"), F.col("__qvec")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def q_ann_lsh_oracle(spark, sf_dir):
    """Multi-table random-hyperplane LSH ANN on the md5-plane lane: the
    same signature → bucket-join → dedup → exact-cosine → top-k pipeline
    as q_similarity_ann_lsh (operators/similarity.lsh_ann_topk), with
    hyperplanes derived from a counter hash instead of numpy RNG, so every
    stage — sign bits, packed signatures, candidate set, ranking — is
    replicated by the SQL oracle.  Signatures here are literal JVM
    expressions (the sequential-fold dot), keeping the engine-side op
    order identical to the oracle's list_sum fold."""
    return lsh_ann_topk_md5(spark, sf_dir, _LSH_TABLES, _LSH_PLANES)


def sql_ann_lsh_md5(tables: int = _LSH_TABLES, planes: int = _LSH_PLANES) -> str:
    """SQL twin of lsh_ann_topk_md5 at the same (tables, planes)."""
    return f"""
WITH planes AS (
  SELECT t, i,
         list_transform(range(0, {_LSH_DIM}), d ->
             CAST((('0x' || substr(md5(CAST(t AS VARCHAR) || '|'
                                       || CAST(i AS VARCHAR) || '|'
                                       || CAST(d AS VARCHAR)), 1, 8))::BIGINT
                   % 2001) - 1000 AS DOUBLE)
             / CAST(1000 AS DOUBLE)) AS p
  FROM range(0, {tables}) tt(t), range(0, {planes}) ii(i)
), sigs AS (
  SELECT e.vec_id, pl.t,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(0, {_LSH_DIM}), d ->
                   CAST(e.embedding[d + 1] AS DOUBLE) * pl.p[d + 1])) >= 0
               THEN (CAST(1 AS BIGINT) << pl.i) ELSE 0 END) AS BIGINT) AS sig
  FROM embeddings e, planes pl
  GROUP BY e.vec_id, pl.t
), qs AS (
  SELECT vec_id AS query_id, t, sig FROM sigs WHERE vec_id IN (0, 1, 2)
), cand AS (
  SELECT DISTINCT q.query_id, s.vec_id
  FROM sigs s JOIN qs q ON s.t = q.t AND s.sig = q.sig
  WHERE s.vec_id <> q.query_id
), scored AS (
  SELECT c.query_id, c.vec_id,
         {_COSINE_SQL.format(a='e.embedding', b='qe.embedding')} AS cosine_sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings qe ON qe.vec_id = c.query_id
)
SELECT query_id, vec_id, cosine_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, vec_id) AS rank
    FROM scored)
WHERE rank <= 10
"""


SQL_ANN_LSH_ORACLE = sql_ann_lsh_md5(_LSH_TABLES, _LSH_PLANES)

register(q_ann_lsh_oracle, SQL_ANN_LSH_ORACLE)


# --------------------------------------------------------------------------
# Multimodal resize plumbing — mapInPandas, oracle-checked
# --------------------------------------------------------------------------

_RS_W, _RS_H = 64, 32  # target "thumbnail": keep = w*h//64 = 32 bytes


def q_multimodal_resize(spark, sf_dir):
    """Image-resize plumbing over binary payloads (operators/multimodal
    .resize_images): Arrow-batched mapInPandas re-emitting a
    deterministically downsized payload + updated dimension metadata —
    the PIL/libvips contract with a byte-slicer standing in for the
    codec.  Like q_multimodal_framesample, the slicer is bytes-exact, so
    the whole Python path (batching, slicing, metadata stamping) is
    value-hashed against a SQL replay; outputs are scalar (md5 + length),
    never the raw binary, for the driver's canonicalizer."""
    from .operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    resized = multimodal.resize_images(media, width=_RS_W, height=_RS_H)
    return resized.select(
        "media_id",
        "width",
        "height",
        F.length("payload").cast("int").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


SQL_MULTIMODAL_RESIZE = f"""
SELECT doc_id AS media_id,
       {_RS_W} AS width,
       {_RS_H} AS height,
       CAST(least(octet_length(encode(text)),
                  greatest(1, least(octet_length(encode(text)),
                                    {_RS_W * _RS_H // 64}))) AS INTEGER)
           AS n_bytes,
       md5(substring(text, 1,
                     greatest(1, least(octet_length(encode(text)),
                                       {_RS_W * _RS_H // 64})))) AS payload_md5
FROM documents
"""

register(q_multimodal_resize, SQL_MULTIMODAL_RESIZE)


# --------------------------------------------------------------------------
# Cross-source duplication matrix — the curation report after dedup
# --------------------------------------------------------------------------

_XS_PREFIX = 5


def q_dedup_cross_source(spark, sf_dir):
    """Cross-source duplication matrix: for every unordered source pair,
    how many template-duplicate document pairs (same md5 of the first 5
    normalized tokens — the shared-header/boilerplate key; exact-content
    fingerprints have zero collisions in this corpus) span them, and
    over how many distinct clusters — the report that tells a curation
    run WHERE its duplication comes from (mirror sites, cross-dump
    overlap) before it picks per-source dedup policy.

    The pair counts are pure ARITHMETIC over per-(fp, source) counts
    (cross-source pairs = c_a·c_b, same-source = c·(c−1)/2), so no
    row-level self-join exists anywhere: one fingerprint-keyed count
    aggregate, then a per-fp join over its ≤|sources| count rows.  The
    r6 sf1 rehearsal caught the previous row-pair self-join blowing up
    14x at 10x rows when a shared-header fingerprint (real corpora:
    boilerplate titles) owns a large group — C(m,2) ROWS materialized
    per group vs one multiplication here; outputs are identical."""
    from .operators import text

    docs = _t(spark, sf_dir, "documents")
    # ONE fp-keyed shuffle: collect each fingerprint's source list, derive
    # per-source counts and all source-pair terms in a single JVM
    # higher-order fold (cross terms c_a·c_b for src_a < src_b, same-source
    # C(c,2)) — each fp emits at most one term per source pair, so the
    # final n_clusters is a plain count, and no row-level self-join exists
    pairs = (
        docs.select(
            F.md5(
                F.concat_ws(" ", F.slice(text.tokens("text"), 1, _XS_PREFIX))
            ).alias("fp"),
            "source",
        )
        .groupBy("fp")
        .agg(
            F.expr(
                """transform(array_sort(array_distinct(collect_list(source))),
                     s -> named_struct('source', s,
                                       'c', size(filter(collect_list(source),
                                                        z -> z = s))))"""
            ).alias("sc")
        )
        .select(
            "fp",
            F.explode(
                F.expr(
                    """flatten(transform(sc, (x, i) -> concat(
                         transform(slice(sc, i + 2, size(sc)), y ->
                           named_struct('src_a', x.source, 'src_b', y.source,
                                        'n', x.c * y.c)),
                         CASE WHEN x.c >= 2
                              THEN array(named_struct('src_a', x.source,
                                                      'src_b', x.source,
                                                      'n', x.c * (x.c - 1) div 2))
                              ELSE array() END)))"""
                )
            ).alias("p"),
        )
    )
    return (
        pairs.select("fp", "p.src_a", "p.src_b", "p.n")
        .groupBy("src_a", "src_b")
        .agg(
            F.sum("n").alias("n_dup_pairs"),
            F.count("fp").alias("n_clusters"),
        )
    )


SQL_DEDUP_CROSS_SOURCE = f"""
WITH fp AS (
  SELECT md5(array_to_string(list_slice({TOKS_SQL.format(c='text')}, 1,
                                        {_XS_PREFIX}), ' ')) AS fp,
         source, doc_id
  FROM documents
)
SELECT least(a.source, b.source) AS src_a,
       greatest(a.source, b.source) AS src_b,
       COUNT(*) AS n_dup_pairs,
       COUNT(DISTINCT a.fp) AS n_clusters
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""

register(q_dedup_cross_source, SQL_DEDUP_CROSS_SOURCE)


# --------------------------------------------------------------------------
# Unigram-LM document score — perplexity-proxy quality filtering
# --------------------------------------------------------------------------

def q_doc_logprob(spark, sf_dir):
    """Unigram language-model document score: mean log2 P(token) under
    the corpus unigram distribution — the perplexity-proxy quality
    signal (very low = gibberish / OCR noise, very high = boilerplate).
    mean_lp = Σ c_doc·log2(c_corpus) / n_doc − log2(N): every log is of
    an integer count (the q_token_entropy determinism pattern), the
    corpus vocabulary is a broadcast-sized join, and both groupBys key
    on doc_id/token so the shuffles stay narrow at any corpus size."""
    from .operators import text

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    # ONE scan+tokenize pass (r12): the corpus vocabulary is the integer
    # rollup of the per-doc count table.  N = Σ cc off the (vocab-sized)
    # corpus table, broadcast back in-plan (the r6 fix: a separate
    # count() ACTION was a third full pass).  Same integers, same
    # double, same ROUND, hash-identical.
    doc_counts = materialize(
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c")),
        "per-doc token counts: the corpus vocabulary rolls up from them",
    )
    corpus = doc_counts.groupBy("tok").agg(
        F.sum("c").cast("bigint").alias("cc")
    )
    total = corpus.agg(F.sum("cc").cast("double").alias("n_total"))
    return (
        doc_counts.join(corpus, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            # each c*log2(cc) term rides the DECIMAL(27,18) lane (the
            # q_doc_ppl_bigram pattern) so the per-doc sum is independent
            # of partial-aggregate merge order — a raw double F.sum can
            # differ between engines (and between Spark runs) by ULPs
            # that flip the ROUND(...,4) boundary
            F.round(
                F.sum(
                    (F.col("c") * F.log2("cc")).cast("decimal(27,18)")
                ).cast("double")
                / F.sum("c")
                - F.log2(F.first("n_total")),
                4,
            ).alias("mean_logprob")
        )
    )


def _sql_doc_logprob() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_SQL.format(c='text')}) AS tok FROM documents
), corpus AS (
  SELECT tok, COUNT(*) AS cc FROM tok GROUP BY tok
), doc_counts AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
)
SELECT doc_id,
       ROUND(CAST(SUM(CAST(c * LOG2(cc) AS DECIMAL(27,18))) AS DOUBLE)
             / SUM(c)
             - LOG2((SELECT CAST(COUNT(*) AS DOUBLE) FROM tok)), 4)
           AS mean_logprob
FROM doc_counts JOIN corpus USING (tok)
GROUP BY doc_id
"""


register(q_doc_logprob, _sql_doc_logprob())
