"""Round-12 batch-2 A/B probe: tf-reuse in q_rag_context_pack, the
materialized distinct-hosts table in the 2-consumer REP lanes, and the
checkpointed edge tables in the graph lanes.

Old arms are reconstructed in-session (guide §1: one session, round-robin
interleave, so ambient load hits both arms equally):

* rag      — old: fused ranking + a SECOND tokenize pass for n_tokens;
             new: n_tokens = Σ tf rollup of the BM25 channel's
             checkpointed tf base (queries_ext25).
* schedule/slots/pacing — old: _robots_frontier with materialize_hosts
             forced False (3 HTML-synth+link-extract corpus passes);
             new: the committed materialize_hosts=True (2 passes).
* triangle/bfs — old: edge table rebuilt per consumer (no checkpoint);
             new: the committed localCheckpoint'd edge/half table.

Each lane's outputs are asserted IDENTICAL (sorted collect) before any
timing.  Usage:
    python tools/r12_ab2.py [--sf-dir DIR] [--repeat N] [--plans]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES, _t
from glue_etl_nyc_yellow_taxi_analysis_spark import queries_ext48
from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext25 import (
    _CTX_BUDGET,
    _hybrid_fused,
)
from glue_etl_nyc_yellow_taxi_analysis_spark.session import get_spark

_REAL_FRONTIER = queries_ext48._robots_frontier


def _frontier_no_mat(spark, sf_dir, materialize_hosts=False):
    return _REAL_FRONTIER(spark, sf_dir, materialize_hosts=False)


def _patched(fn):
    """Run a registered lane with the hosts materialization disabled."""

    def run(spark, sf_dir):
        queries_ext48._robots_frontier = _frontier_no_mat
        try:
            return fn(spark, sf_dir)
        finally:
            queries_ext48._robots_frontier = _REAL_FRONTIER

    return run


def rag_old(spark, sf_dir):
    fused, _ = _hybrid_fused(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    dl = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token"),
        )
        .filter("token != ''")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    w_order = Window.orderBy(F.desc("rrf_e8"), "doc_id")
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, 0)
    return (
        fused.join(dl, "doc_id", "left")
        .select(
            "doc_id",
            "rrf_e8",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        )
        .select(
            "doc_id",
            F.row_number().over(w_order).cast("long").alias("ctx_rank"),
            "n_tokens",
            F.sum("n_tokens").over(w_cum).alias("cum_tokens"),
        )
        .withColumn("packed", F.col("cum_tokens") <= _CTX_BUDGET)
    )


def tri_old(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter("l_orderkey % 20 = 0")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    nodes = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .distinct()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
    )
    return (
        nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


def bfs_old(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter("l_orderkey % 20 = 0")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    half = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    edges = half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes = edges.select("u").distinct()
    seeds = nodes.filter("u % 500 = 0").select(F.col("u").alias("node"))
    dist = seeds.withColumn("hop", F.lit(0)).localCheckpoint()
    frontier = dist.select("node")
    for h in (1, 2, 3):
        nxt = (
            frontier.join(edges, frontier.node == edges.u)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .localCheckpoint()
        )
        if not nxt.take(1):
            break
        dist = dist.unionByName(nxt)
        frontier = nxt.select("node")
    return dist.groupBy("hop").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").alias("node_checksum"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=4)
    ap.add_argument("--plans", action="store_true")
    ap.add_argument("--lanes", nargs="*", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="r12_ab2")
    spark.sparkContext.setLogLevel("ERROR")
    sf = args.sf_dir
    spark.read.parquet(f"{sf}/lineitem.parquet").limit(10).write.format(
        "noop"
    ).mode("overwrite").save()

    lanes = {
        "q_rag_context_pack": (rag_old, QUERIES["q_rag_context_pack"]),
        "q_crawl_schedule": (
            _patched(QUERIES["q_crawl_schedule"]),
            QUERIES["q_crawl_schedule"],
        ),
        "q_crawl_slots": (
            _patched(QUERIES["q_crawl_slots"]),
            QUERIES["q_crawl_slots"],
        ),
        "q_stream_crawl_pacing": (
            _patched(QUERIES["q_stream_crawl_pacing"]),
            QUERIES["q_stream_crawl_pacing"],
        ),
        "q_triangle_count": (tri_old, QUERIES["q_triangle_count"]),
        "q_graph_bfs": (bfs_old, QUERIES["q_graph_bfs"]),
    }
    if args.lanes:
        lanes = {k: lanes[k] for k in args.lanes}

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r12",
    )
    os.makedirs(plans_dir, exist_ok=True)

    # 1. identity gate first — no timing without proof of equivalence
    for name, (old, new) in lanes.items():
        a = sorted(map(str, old(spark, sf).collect()))
        b = sorted(map(str, new(spark, sf).collect()))
        assert a == b, f"{name}: outputs differ (old {len(a)} vs new {len(b)} rows)"
        print(f"{name}: outputs identical ({len(a)} rows)", flush=True)

    if args.plans:
        for name, (old, new) in lanes.items():
            if name == "q_stream_crawl_pacing":
                continue  # the returned drain DF's plan hides the batch build
            for tag, fn in (("before", old), ("after", new)):
                df = fn(spark, sf)
                txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
                    f.write(txt)
            print(f"{name}: plans dumped", flush=True)

    # 2. interleaved timing
    times = {name: {"old": [], "new": []} for name in lanes}
    for r in range(args.repeat):
        for name, (old, new) in lanes.items():
            for tag, fn in (("old", old), ("new", new)):
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"ab2 {name} {tag} r{r}")
                t0 = time.time()
                fn(spark, sf).write.format("noop").mode("overwrite").save()
                times[name][tag].append(round(time.time() - t0, 3))
    for name, d in times.items():
        mo = sorted(d["old"])[len(d["old"]) // 2]
        mn = sorted(d["new"])[len(d["new"]) // 2]
        print(
            f"{name}: old={d['old']} med={mo} | new={d['new']} med={mn} "
            f"| speedup={round(mo / mn, 3) if mn else '-'}",
            flush=True,
        )


if __name__ == "__main__":
    main()
