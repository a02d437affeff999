"""glue_etl_nyc_yellow_taxi_analysis_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the capabilities of the reference
repo ``SatoruGojo16/glue-etl-nyc-yellow-taxi-analysis`` (an AWS Glue ETL
pipeline: monthly NYC yellow-taxi parquet → Kimball star schema → catalog →
JDBC warehouse load, event-orchestrated).  Everything Glue-proprietary
(GlueContext, DynamicFrame, Glue Catalog via boto3, Lambda/EventBridge) is
replaced with idiomatic open-source Spark:

- ``session``     — SparkSession builder with scale-ready defaults (AQE on,
                    tuned shuffle partitions, Arrow enabled).
- ``catalog``     — session-catalog database/table management + partitioned
                    snappy-parquet ``saveAsTable`` sink (replaces
                    GlueContext.getSink/setCatalogInfo).
- ``paths``       — filename → (year, month) param derivation (replaces the
                    S3-trigger Lambda regex).
- ``sources``     — readers (parquet/csv/rows/generator/jdbc/catalog) and
                    writers (partitioned parquet, jdbc/warehouse).
- ``operators``   — the relational operator library: transforms (rename /
                    cast / recode / surrogate keys / quality filters), joins,
                    dedup (exact + MinHash-LSH + SimHash + n-gram Jaccard +
                    embedding cosine), similarity search, text analysis,
                    sessionization, multimodal column plumbing.
- ``plans``       — composed pipelines: dimension builders, the star-schema
                    fact build (Job-1 semantics), warehouse load (Job-2
                    semantics).
- ``streaming``   — Structured Streaming file-source ingest replacing the
                    Lambda/EventBridge arrive-and-process loop.
- ``registry``    — ``QUERIES`` / ``ORACLE`` / ``HEADLINE`` and ``register``:
                    every query module declares its queries here.
- ``tables``      — the shared testdata readers (``_t``) and SQL fragments
                    the query modules and their DuckDB oracles build on.
- ``queries``     — the declared query inventory (SURVEY.md §2.9) consumed by
                    ``__spark_entry__.py`` for the driver correctness gate;
                    importing it registers the core and ``queries_ext*``
                    modules in inventory order.

Design rules (100 TB posture): DataFrame/SQL only — no RDDs; no ``collect()``
in any operator hot path; broadcast hints on small dimensions; partition
columns on every large sink; built-in ``pyspark.sql.functions`` everywhere
JVM-expressible, Arrow-batched Pandas UDFs only where not.
"""

__version__ = "0.1.0"
