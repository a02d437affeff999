"""SparkSession construction with scale-ready defaults.

Replaces the reference's Glue bootstrap (SparkContext → GlueContext →
spark_session → Job.init, ``glue_job_scripts/etl-glue-nyc-yellow-data-model.py:22-26``)
with a plain SparkSession builder.  The defaults here encode the 100 TB
posture: AQE (runtime partition coalescing + skew-join splitting), shuffle
partitions sized to the machine instead of the 200 default, Arrow for any
Python exchange, UTC session time so results are environment-independent.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_shipped_to = None  # the SparkContext the package zip was added to


def _ship_package(sc) -> None:
    """Add a zip of this package to ``sc``'s Python path, once per
    context.  Python workers unpickle kernels that reference package
    functions by module name; they inherit the driver's environment but
    not its ``sys.path``, so without the zip they find the package only
    when the JVM's working directory holds it."""
    global _shipped_to
    if _shipped_to is sc:
        return
    tmp = tempfile.mkdtemp(prefix="sg_pyfiles_")
    atexit.register(shutil.rmtree, tmp, True)
    path = os.path.join(tmp, f"{os.path.basename(_PACKAGE_DIR)}.zip")
    parent = os.path.dirname(_PACKAGE_DIR)
    with zipfile.ZipFile(path, "w") as zf:
        for root, _, files in os.walk(_PACKAGE_DIR):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, parent))
    sc.addPyFile(path)
    _shipped_to = sc


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "glue_etl_nyc_yellow_taxi_analysis_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict | None = None,
    hive: bool = False,
) -> SparkSession:
    """Build (or fetch) the session.

    In local mode one JVM hosts all executor threads, so
    ``spark.driver.memory`` must be set before JVM start — callers that need
    it set it via ``extra_conf`` on first creation.  On a real cluster the
    same builder works unchanged with ``--master`` supplied externally.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    if hive:
        # persistent metastore (Derby under ./metastore_db): tables created
        # by one job process are visible to the next — the Glue-Catalog-like
        # durability the CLI jobs need.  On a cluster, point
        # hive.metastore.uris at the real metastore instead.
        builder = builder.config("spark.sql.catalogImplementation", "hive")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark.sparkContext)
    return spark
