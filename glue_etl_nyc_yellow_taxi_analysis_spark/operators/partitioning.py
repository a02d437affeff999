"""Partition-layout operators — the knobs that matter at 100 TB.

``spread``  — widen a narrow input before a compute-bound stage.
``salt``    — explode a skewed join/group key into ``n`` subkeys (classic
              skew mitigation when AQE's runtime splitting isn't enough).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Ensure a compute-heavy stage has at least cluster-parallelism
    partitions.

    Small single-file inputs arrive as 1-2 scan partitions; running a
    CPU-bound expression pipeline (shingling, k-minhash, simhash, embedding
    math) over them single-threaded wastes the cluster.  One cheap
    round-robin shuffle of the raw rows buys full-width execution.  No-op
    when the input is already wide (the 100 TB case — large inputs arrive
    with thousands of splits).

    The width probe estimates scan splits from the relation's file list
    (Spark's own packing math: files charged ``openCostInBytes``, packed
    into ``maxPartitionBytes`` splits) — `df.rdd.getNumPartitions()` would
    be exact but converts the plan to an RDD, ~80 ms of pure planning per
    call that the r11 bench measured as tens of seconds across the suite.
    Non-file relations and non-local schemes fall back to the exact probe.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * min_factor
    parts = _estimated_scan_partitions(df)
    if parts is None:
        parts = df.rdd.getNumPartitions()
    if parts < target:
        return df.repartition(target)
    return df


def _parse_bytes(v: str | None, default: int) -> int:
    """Spark size-conf string → bytes ("134217728", "128m", "1g", "4mb")."""
    if not v:
        return default
    s = v.strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        return int(s) * mult
    except ValueError:
        return default


# Analyzed-plan nodes that preserve the scan's partitioning.  Anything
# else (Repartition, Join, Aggregate, Union, LogicalRDD from a
# checkpoint, ...) means the DataFrame's current partitioning is NOT the
# file-split count — inputFiles() always reflects the leaf scan, so the
# estimate would silently re-add a repartition the exact probe skips.
_SCAN_CHAIN_NODES = frozenset(
    {"Project", "Filter", "Relation", "SubqueryAlias", "View"}
)


def _is_plain_scan_chain(df: DataFrame) -> bool:
    import re

    try:
        txt = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    for line in txt.splitlines():
        node = re.sub(r"^[\s+:\-]*", "", line)
        node = re.split(r"[\s\[(]", node, maxsplit=1)[0]
        if node and node not in _SCAN_CHAIN_NODES:
            return False
    return True


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimated file-scan split count, or None when the relation is not
    a plain local file scan (caller falls back to the exact RDD probe).

    Replicates Spark's ``FilePartition`` packing exactly:
    ``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    totalBytes / minPartitionNum))`` (the bytesPerCore clamp — without it
    a 200 MB table estimates 2 splits where Spark actually plans ~32 and
    spread() fires a spurious shuffle), then each file is cut into
    maxSplitBytes chunks, chunks are packed largest-first, and each chunk
    is charged openCostInBytes toward the bin.
    """
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    if not _is_plain_scan_chain(df):
        return None
    conf = df.sparkSession.conf
    max_pb = _parse_bytes(
        conf.get("spark.sql.files.maxPartitionBytes", None), 128 << 20
    )
    open_cost = _parse_bytes(
        conf.get("spark.sql.files.openCostInBytes", None), 4 << 20
    )
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        try:
            sizes.append(os.path.getsize(u.path))
        except OSError:
            return None
    try:
        mpn = conf.get("spark.sql.files.minPartitionNum", None)
    except Exception:
        mpn = None
    if not mpn:
        try:
            mpn = conf.get("spark.sql.leafNodeDefaultParallelism", None)
        except Exception:
            mpn = None
    try:
        min_part_num = int(mpn) if mpn else 0
    except ValueError:
        min_part_num = 0
    if min_part_num <= 0:
        min_part_num = df.sparkSession.sparkContext.defaultParallelism
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_pb, max(open_cost, total // min_part_num))
    if max_split <= 0:
        return 1
    chunks: list[int] = []
    for s in sizes:
        n_full, rem = divmod(s, max_split)
        chunks.extend([max_split] * n_full)
        if rem:
            chunks.append(rem)
    chunks.sort(reverse=True)
    parts, cur, open_bin = 0, 0, False
    for c in chunks:
        if open_bin and cur + c > max_split:
            parts += 1
            cur = 0
        cur += c + open_cost
        open_bin = True
    if open_bin:
        parts += 1
    return max(1, parts)


def salt(df: DataFrame, key: str, buckets: int, salt_col: str = "__salt") -> DataFrame:
    """Add a uniform salt column for skewed-key joins/aggregations.

    Pattern: salt the big side, explode the small side over all bucket
    values, join on (key, salt), then drop the salt.  Deterministic salt
    (hash of the full row via monotonically increasing id is NOT — use
    xxhash64 of stable columns when replayability matters).
    """
    return df.withColumn(salt_col, F.pmod(F.xxhash64(*df.columns), F.lit(buckets)))


def explode_salt(dim: DataFrame, buckets: int, salt_col: str = "__salt") -> DataFrame:
    """Small-side twin of ``salt``: replicate each dim row once per bucket."""
    return dim.withColumn(
        salt_col, F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )


def range_partition_sorted(df: DataFrame, cols: list[str], num_partitions: int) -> DataFrame:
    """Range-partition + sort within partitions on the same keys — the
    write-side layout for parquet data skipping: row-group min/max stats
    become disjoint, so later range predicates prune at the footer level.
    One sampling pass (range boundaries) + one shuffle; the sort folds into
    the shuffle's sort-based writer, no extra exchange (asserted in
    test_plans.py)."""
    return df.repartitionByRange(num_partitions, *cols).sortWithinPartitions(*cols)
