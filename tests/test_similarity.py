"""Similarity-search operator tests: exact math vs numpy, IVF recall."""

import numpy as np
from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.operators import similarity


def test_cosine_matches_numpy(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = emb.filter(F.col("vec_id") == rows[0].vec_id).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.cosine_topk(emb, q, k=5).collect()
    qv = vecs[rows[0].vec_id]
    expected = {}
    for vid, v in vecs.items():
        if vid == rows[0].vec_id:
            continue
        expected[vid] = float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
    top = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [g.vec_id for g in sorted(got, key=lambda g: g.rank)] == [t[0] for t in top]
    for g in got:
        assert abs(g.cosine_sim - expected[g.vec_id]) < 1e-5


def test_self_cosine_is_one(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>")
    out = df.select(
        F.round(similarity.cosine(F.col("embedding"), F.col("embedding")), 6).alias("c")
    ).collect()
    assert out[0].c == 1.0


def test_ivf_subset_of_brute_force_universe(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {r.vec_id for r in similarity.cosine_topk(emb, q, k=10).collect()}
    approx_rows = similarity.ivf_topk(emb, q, k=10, nprobe=10).collect()
    approx = {r.vec_id for r in approx_rows}
    # probing ALL 10 clusters == exhaustive → must equal brute force
    assert approx == exact
    # fewer probes → a valid (possibly partial-recall) subset, still k results
    some = similarity.ivf_topk(emb, q, k=10, nprobe=2).collect()
    assert len(some) == 10


def test_ann_production_wrappers(spark, sf_dir):
    """The undeclared production parameterizations (q_similarity_ann_ivf
    nprobe=3, q_similarity_ann_lsh 16×4) — hash-family-dependent, so no
    SQL oracle; their hash-exact twins q_ann_ivf_oracle/q_ann_lsh_oracle
    own driver coverage.  Here: sane shape + deterministic across runs."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries import (
        q_similarity_ann_ivf,
        q_similarity_ann_lsh,
    )

    for fn in (q_similarity_ann_ivf, q_similarity_ann_lsh):
        a = sorted(map(tuple, fn(spark, sf_dir).collect()))
        b = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert a and a == b
        assert len({r[0] for r in a}) == 3  # the 3 planted queries rank


def test_lsh_ann_candidates_share_bucket(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.lsh_ann_topk(emb, q, k=10, num_planes=4, num_tables=4).collect()
    assert 0 < len(got) <= 10
    # every result must share the query's bucket in AT LEAST ONE table
    # (multi-table OR semantics; per-table seeds are 0..L-1)
    per_table_sigs = []
    for t in range(4):
        planes = similarity.make_planes(64, 4, seed=t)
        per_table_sigs.append(
            {
                r.vec_id: r.s
                for r in emb.select(
                    "vec_id",
                    similarity.hyperplane_signature(F.col("embedding"), planes).alias("s"),
                ).collect()
            }
        )
    for r in got:
        assert any(sigs[r.vec_id] == sigs[0] for sigs in per_table_sigs), r.vec_id
    # determinism: same seeds → same result set
    again = similarity.lsh_ann_topk(emb, q, k=10, num_planes=4, num_tables=4).collect()
    assert {(r.vec_id, r.rank) for r in got} == {(r.vec_id, r.rank) for r in again}


def test_centroids_shape(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.centroids_by(emb).collect()
    assert len(cents) == 10
    assert all(len(c.centroid) == 64 for c in cents)


def test_lsh_ann_recall_floor(spark, sf_dir):
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES

    rows = QUERIES["q_ann_recall"](spark, sf_dir).collect()
    assert len(rows) == 3  # zero-recall queries must still report
    # (4 planes, 16 tables) on the near-uniform synthetic embeddings:
    # theory ≈ 1-(1-p^4)^16 with per-bit p ≈ 0.6 → ~0.9; the query's own
    # verdict floors each query at 0.6 to absorb per-query variance
    assert all(r.n_exact == 10 for r in rows)
    assert all(r.recall_ok for r in rows), [(r.query_id, r.recall_ok) for r in rows]


def test_kmeans_exact_lane_properties(spark, sf_dir):
    """The exact-lane trainer must partition the corpus (sizes sum to N),
    keep all k clusters on the near-uniform fixture, and be bit-stable
    under re-partitioning (the decimal-sum update is order-free)."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators.similarity import (
        kmeans_train_exact,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = kmeans_train_exact(emb, k=4, iters=2).collect()
    assert len(out) == 4
    assert sum(r.n_points for r in out) == emb.count()
    again = kmeans_train_exact(emb.repartition(7), k=4, iters=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_lsh_signatures_fail_soft_on_mismatched_dims(spark, tmp_path):
    """A vector whose length differs from the plane matrix (ragged or
    empty embedding) must drop from every LSH bucket — NULL signature,
    never a numpy shape error through the Arrow batch (round-6 probe)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES

    d = str(tmp_path)
    emb = pa.table(
        {
            "vec_id": pa.array(range(5), pa.int64()),
            "embedding": pa.array(
                [[0.1] * 64, [], [0.2] * 64, [0.1, 0.2], [0.3] * 64],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([3] * 5, pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(d, "embeddings.parquet"))
    # undeclared production lane (seeded hyperplanes — no SQL oracle);
    # its hash-exact twin q_ann_lsh_oracle owns driver coverage
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries import (
        q_similarity_ann_lsh,
    )

    rows = q_similarity_ann_lsh(spark, d).collect()
    ids = {r["vec_id"] for r in rows}
    assert rows  # the well-formed vectors still rank
    assert 1 not in ids and 3 not in ids  # unhashable vectors dropped
