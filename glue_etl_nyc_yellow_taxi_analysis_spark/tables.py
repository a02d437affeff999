"""Shared table readers and SQL fragments for the query modules.

Every query module reads the driver testdata through ``_t`` and builds its
DuckDB oracle from the fragments here, so the Spark side and the oracle
side share one definition of each convention (decimal-exact sums, text
normalization, cosine).  Nothing here imports a query module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import text

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _events(spark, sf_dir)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        # these arrive as one small file = one scan partition; the operators
        # over them (shingling, minhash, cosine) are compute-bound — widen
        from .operators.partitioning import spread

        df = spread(df)
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    rejects; read nanos as long (legacy conf) and convert with exact integer
    division (micros precision — matches DuckDB's own nanos→micros cast).

    The result is TIMESTAMP_NTZ (naive wall-clock, like the other tables'
    timestamps): date_format / window / collect are then independent of the
    session timezone, so results match the (tz-naive) oracle under ANY
    driver session configuration.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, CAST((ts div 1000) % 1000000 AS INT), "
                "timestampadd(SECOND, CAST(ts div 1000000000 AS INT), "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00'))"
            ),
        )
    return raw


def dsum(col: str | F.Column, scale_out: int = 2) -> F.Column:
    """Order-independent sum of a double column via decimal(18,4)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast("decimal(18,4)")), scale_out).cast("double")


DSUM_SQL = "CAST(ROUND(SUM(CAST({col} AS DECIMAL(18,4))), 2) AS DOUBLE)"

# DuckDB-side canonical text normalization / tokenization (mirrors
# operators.text.normalized / tokens).
NORM_SQL = "trim(regexp_replace(lower({c}), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
TOKS_SQL = f"string_split({NORM_SQL.format(c='{c}')}, ' ')"


def _sw_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in text.STOPWORDS[lang]) + "]"


def _hits_sql(lang: str) -> str:
    return (
        "COALESCE(list_sum(list_transform(toks, t -> CASE WHEN "
        f"list_contains({_sw_list(lang)}, t) THEN 1 ELSE 0 END)), 0)"
    )


# NULL on length mismatch: Spark's zip_with pads the shorter array with
# NULL elements, which NULL the aggregate dot product; DuckDB's list_sum
# SKIPS the NULL pads and would silently return a prefix dot — the CASE
# makes both engines agree that mismatched dims have no cosine (caught by
# the hostile-corpus agreement gate, round 5).
_COSINE_SQL = """
CASE WHEN len({a}) <> len({b}) THEN NULL ELSE
ROUND(list_sum(list_transform(list_zip({a}, {b}),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
END
"""


# Oracles of q_lang_id and q_similarity_topk, which other lanes' oracles
# embed as CTEs (q_langid_confusion, q_ann_recall_oracle).
SQL_LANG_ID = f"""
WITH t AS (
    SELECT doc_id, lang, {TOKS_SQL.format(c='text')} AS toks FROM documents
), s AS (
    SELECT doc_id, lang,
           {_hits_sql('en')} AS hits_en,
           {_hits_sql('es')} AS hits_es,
           {_hits_sql('fr')} AS hits_fr,
           {_hits_sql('de')} AS hits_de
    FROM t
)
SELECT doc_id, lang,
       CASE WHEN best = 0 THEN 'und'
            WHEN hits_en = best THEN 'en'
            WHEN hits_es = best THEN 'es'
            WHEN hits_fr = best THEN 'fr'
            WHEN hits_de = best THEN 'de'
            ELSE 'und' END AS lang_pred
FROM (SELECT *, greatest(hits_en, hits_es, hits_fr, hits_de) AS best FROM s)
"""

SQL_SIMILARITY_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
           WHERE vec_id IN (0, 1, 2)),
scored AS (
    SELECT q.query_id, e.vec_id,
           {_COSINE_SQL.format(a='e.embedding', b='q.qvec')} AS cosine_sim
    FROM embeddings e, q WHERE e.vec_id <> q.query_id)
SELECT query_id, vec_id, cosine_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, vec_id) AS rank
    FROM scored)
WHERE rank <= 10
"""


def _taxi_fixture(spark) -> DataFrame:
    """Deterministic raw yellow-trip rows in the FIXTURES.md A1 shape."""
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("VendorID", T.LongType()),
            T.StructField("tpep_pickup_datetime", T.TimestampType()),
            T.StructField("tpep_dropoff_datetime", T.TimestampType()),
            T.StructField("passenger_count", T.DoubleType()),
            T.StructField("trip_distance", T.DoubleType()),
            T.StructField("RatecodeID", T.DoubleType()),
            T.StructField("store_and_fwd_flag", T.StringType()),
            T.StructField("PULocationID", T.LongType()),
            T.StructField("DOLocationID", T.LongType()),
            T.StructField("payment_type", T.LongType()),
            T.StructField("fare_amount", T.DoubleType()),
            T.StructField("extra", T.DoubleType()),
            T.StructField("mta_tax", T.DoubleType()),
            T.StructField("tip_amount", T.DoubleType()),
            T.StructField("tolls_amount", T.DoubleType()),
            T.StructField("improvement_surcharge", T.DoubleType()),
            T.StructField("total_amount", T.DoubleType()),
            T.StructField("congestion_surcharge", T.DoubleType()),
            T.StructField("airport_fee", T.DoubleType()),
        ]
    )

    def trip(i, minute_of_day, minutes, pax=1.0, dist=10.0, fare=20.0, flag="N", af=None):
        p = dt.datetime(2021, 1, 1 + (i % 28), minute_of_day // 60, minute_of_day % 60)
        d = p + dt.timedelta(minutes=minutes)
        return (
            1 + i % 2, p, d, pax, dist, 1.0, flag, 100 + i % 5, 200 + i % 7,
            1 + i % 4, fare, 0.5, 0.5, 2.0, 0.0, 0.3, fare + 3.3, 2.5, af,
        )

    rows = [trip(i, minute_of_day=(360 + i * 7) % 1440, minutes=15 + i % 90) for i in range(200)]
    rows += [rows[0], rows[1]]  # exact duplicates → dedup
    rows += [
        trip(900, 600, 30, pax=0.0),       # dropped: passenger_count < 1
        trip(901, 600, 30, pax=7.0),       # dropped: passenger_count > 6
        trip(902, 600, 30, dist=4.99),     # dropped: distance < 5
        trip(903, 600, 30, dist=501.0),    # dropped: distance > 500
        trip(904, 600, 30, fare=0.0),      # dropped: fare not > 0
        trip(905, 600, 1500),              # dropped: duration ≥ 1440 min
        trip(906, 600, 30, flag="Y", af=1.25),  # kept: Y-flag + airport fee
    ]
    return spark.createDataFrame(rows, schema)
