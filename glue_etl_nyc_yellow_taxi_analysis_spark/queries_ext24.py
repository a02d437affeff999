"""Extended inventory XXIV — streaming incremental dedup.

Round-3 capstone composition: the rolling-ingestion admission pipeline
END-TO-END in Structured Streaming — arriving documents (a file-source
stream) compute md5-lane MinHash signatures PER MICRO-BATCH, probe the
STATIC base band index through a stream-static join (stateless: the
static side broadcasts into every micro-batch, no watermark, no state
store), verify candidates with division-free integer Jaccard in-stream,
and drain verdict pairs through an append sink.  The post-drain summary
reproduces q_dedup_incremental's batch output EXACTLY, so the whole
streaming path shares that query's DuckDB oracle verbatim.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import dedup
from .queries_ext13 import _MH_BANDS, _MH_K, _MH_N
from .queries_ext20 import _sql_dedup_incremental
from .registry import register
from .tables import _t


def q_stream_dedup_incremental(spark, sf_dir):
    """Streaming admission control: the day's arrivals (doc_id ≡ 0
    mod 7) flow through a file-source stream, signature + banding run
    per micro-batch (stateless maps — ``spread_input=False``: batches
    are already parallel), and the STATIC base band index joins in
    (stream-static inner join: no watermark, no state).  Candidate
    verification happens in-stream on the carried shingle sets (the
    ``carry`` seam — joining back to the stream would be a
    stream-stream join); cross-band duplicate pairs dedupe POST-drain
    (an in-stream distinct would need state for exactly-once no
    benefit).  The drained summary is byte-identical to
    q_dedup_incremental, hence shares its oracle verbatim."""
    from .streaming.ingest import drain, stream_table

    docs = _t(spark, sf_dir, "documents")
    base_sigs = dedup.minhash_signatures(
        docs.filter("doc_id % 7 != 0"),
        num_hashes=_MH_K,
        shingle_n=_MH_N,
        lane="md5",
    )
    base_bands = dedup.banded_keys(
        base_sigs, _MH_K, _MH_BANDS, "md5", carry=("shingles",)
    ).withColumnsRenamed(
        {"id": "base_id", "shingles": "sh_b"}
    )

    s_docs = stream_table(spark, sf_dir, "documents").filter("doc_id % 7 = 0")
    s_sigs = dedup.minhash_signatures(
        s_docs, num_hashes=_MH_K, shingle_n=_MH_N, lane="md5",
        spread_input=False,
    )
    s_bands = dedup.banded_keys(
        s_sigs, _MH_K, _MH_BANDS, "md5", carry=("shingles",)
    ).withColumnsRenamed({"id": "new_id", "shingles": "sh_n"})

    joined = s_bands.join(base_bands, ["band_idx", "band_hash"])
    inter = F.size(F.array_intersect(F.col("sh_n"), F.col("sh_b"))).cast(
        "bigint"
    )
    ver = (
        joined.withColumn("inter", inter)
        .withColumn(
            "uni",
            (F.size("sh_n") + F.size("sh_b")).cast("bigint") - F.col("inter"),
        )
        .filter((F.col("uni") > 0) & (2 * F.col("inter") >= F.col("uni")))
        .select(
            "new_id",
            "base_id",
            F.expr("inter * 1000000 div uni").alias("jacc_ppm"),
        )
    )
    drained = drain(ver, "sg_stream_dedup_incremental").dropDuplicates(
        ["new_id", "base_id"]
    )
    summary = drained.groupBy("new_id").agg(
        F.min("base_id").alias("match_id"),
        F.max("jacc_ppm").alias("best_jacc_ppm"),
    )
    new_ids = docs.filter("doc_id % 7 = 0").select(
        F.col("doc_id").alias("new_id")
    )
    return (
        new_ids.join(summary, "new_id", "left")
        .select(
            F.col("new_id").alias("doc_id"),
            F.when(F.col("match_id").isNotNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_dup"),
            F.coalesce(F.col("match_id"), F.lit(-1)).alias("match_id"),
            F.coalesce(F.col("best_jacc_ppm"), F.lit(0)).alias(
                "best_jacc_ppm"
            ),
        )
    )


# the streaming path reproduces the batch operator exactly — same oracle
register(q_stream_dedup_incremental, _sql_dedup_incremental())


def q_dedup_index_persist(spark, sf_dir):
    """The persisted admission index: the base corpus's LSH band index
    written as a BUCKETED catalog table (bucketBy(band_hash) — at 100 TB
    the index is standing infrastructure, not a per-run recomputation),
    then the day's batch probes it with a join on the bucket key: the
    INDEX side reads shuffle-free (its layout already satisfies the
    join's distribution), only the small probe side exchanges — the
    deployment shape of q_dedup_incremental, and the concrete proof of
    SCALE.md's "the probe join is shuffle-free on the base side" claim
    (plan-contract-pinned).  Joining on band_hash alone (not band_idx)
    is what makes the bucket layout sufficient; a cross-band md5
    equality is an md5 collision — and any candidate it admitted would
    still face exact-Jaccard verification.  Output and oracle are
    q_dedup_incremental's, byte for byte.  Re-runnable: overwrite mode,
    metastore + physical dir cleared first."""
    import shutil
    from urllib.parse import urlparse

    from . import catalog

    db = "sg_dedup_index"
    catalog.ensure_database(spark, db)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql(f"DROP TABLE IF EXISTS {db}.band_index")
    shutil.rmtree(f"{wh}/{db}.db/band_index", ignore_errors=True)

    docs = _t(spark, sf_dir, "documents")
    base_sigs = dedup.minhash_signatures(
        docs.filter("doc_id % 7 != 0"),
        num_hashes=_MH_K,
        shingle_n=_MH_N,
        lane="md5",
    )
    base_bands = dedup.banded_keys(
        base_sigs, _MH_K, _MH_BANDS, "md5", carry=("shingles",)
    ).withColumnsRenamed({"id": "base_id", "shingles": "sh_b"})
    catalog.save_bucketed_table(
        base_bands.select("base_id", "band_hash", "sh_b"),
        db,
        "band_index",
        ["band_hash"],
        8,
        ["band_hash"],
    )
    index = catalog.read_table(spark, db, "band_index")

    new_sigs = dedup.minhash_signatures(
        docs.filter("doc_id % 7 = 0"),
        num_hashes=_MH_K,
        shingle_n=_MH_N,
        lane="md5",
    )
    probe = dedup.banded_keys(
        new_sigs, _MH_K, _MH_BANDS, "md5", carry=("shingles",)
    ).withColumnsRenamed({"id": "new_id", "shingles": "sh_n"}).select(
        "new_id", "band_hash", "sh_n"
    )
    joined = probe.join(index, "band_hash")
    inter = F.size(F.array_intersect(F.col("sh_n"), F.col("sh_b"))).cast(
        "bigint"
    )
    ver = (
        joined.withColumn("inter", inter)
        .withColumn(
            "uni",
            (F.size("sh_n") + F.size("sh_b")).cast("bigint") - F.col("inter"),
        )
        .filter((F.col("uni") > 0) & (2 * F.col("inter") >= F.col("uni")))
        .select(
            "new_id",
            "base_id",
            F.expr("inter * 1000000 div uni").alias("jacc_ppm"),
        )
        .dropDuplicates(["new_id", "base_id"])
    )
    summary = ver.groupBy("new_id").agg(
        F.min("base_id").alias("match_id"),
        F.max("jacc_ppm").alias("best_jacc_ppm"),
    )
    new_ids = docs.filter("doc_id % 7 = 0").select(
        F.col("doc_id").alias("new_id")
    )
    return (
        new_ids.join(summary, "new_id", "left")
        .select(
            F.col("new_id").alias("doc_id"),
            F.when(F.col("match_id").isNotNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_dup"),
            F.coalesce(F.col("match_id"), F.lit(-1)).alias("match_id"),
            F.coalesce(F.col("best_jacc_ppm"), F.lit(0)).alias(
                "best_jacc_ppm"
            ),
        )
    )


# the persisted-index probe reproduces the batch operator — same oracle
register(q_dedup_index_persist, _sql_dedup_incremental(), bench=False)


def q_dedup_savings(spark, sf_dir):
    """The dedup savings report — the deliverable a curation run ships:
    per cluster-size band (1, 2, 3, 4, 5+), how many clusters exist, how
    many documents a keep-lowest-id policy removes, and how many chars
    that saves.  Composes the connected-components cluster table
    (q_dedup_clusters — cluster_id IS the component's min doc id, so
    "removed" is exactly doc_id ≠ cluster_id) with one broadcast-scale
    keyed aggregate; every number is an exact integer."""
    from .queries_ext import q_dedup_clusters

    clusters = q_dedup_clusters(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = clusters.join(docs, "doc_id").select(
        "cluster_id",
        "n_chars",
        F.least(F.col("cluster_size"), F.lit(5)).cast("bigint").alias("band"),
        (F.col("doc_id") != F.col("cluster_id")).cast("int").alias("removed"),
    )
    return j.groupBy("band").agg(
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("removed").cast("bigint").alias("docs_removed"),
        F.sum(F.col("removed") * F.col("n_chars"))
        .cast("bigint")
        .alias("chars_removed"),
    )


def _sql_dedup_savings() -> str:
    from .queries_ext import SQL_DEDUP_CLUSTERS

    return f"""
WITH clusters AS (
  {SQL_DEDUP_CLUSTERS}
), j AS (
  SELECT c.cluster_id, d.n_chars,
         CAST(least(c.cluster_size, 5) AS BIGINT) AS band,
         CASE WHEN c.doc_id <> c.cluster_id THEN 1 ELSE 0 END AS removed
  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT band, CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(removed) AS BIGINT) AS docs_removed,
       CAST(SUM(removed * n_chars) AS BIGINT) AS chars_removed
FROM j GROUP BY band
"""


register(q_dedup_savings, _sql_dedup_savings())
