"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Distances via ``zip_with``/``aggregate`` in double precision (JVM
  higher-order fns, deterministic summation order → oracle-comparable).
- ``ivf_topk``: the scale path — an IVF-style two-stage search: assign every
  vector to its nearest coarse centroid (here: per-label mean, a stand-in
  for k-means on unlabeled data), probe only the closest ``nprobe``
  clusters.  Search cost drops from O(N) to O(N · nprobe / nlist) per query.
- ``embedding_neardup_pairs``: cosine ≥ τ near-duplicate pairs within a
  blocking key (dedup by embedding).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; ``try_divide`` so a degenerate zero-norm vector
    yields NULL instead of failing the whole job under ANSI mode (Spark 4
    default) — at 100 TB one bad row must never kill the stage."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize a vector (the standard embedding preprocessing step:
    after this, cosine == dot, halving per-pair similarity cost).
    Zero-norm vectors map to NULL components, not a job failure."""
    n = l2_norm(a)
    return F.transform(a, lambda x: F.try_divide(x.cast("double"), n))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries`` is a small DataFrame (query_id, embedding) — broadcast, so
    the big side streams once with no shuffle until the final per-query
    top-k (a tiny aggregate).  Ties broken by id for determinism.
    Returns (query_id, vec_id, cosine_sim, rank).

    ``exclude_self`` assumes query ids SHARE the corpus id namespace
    (queries drawn from the corpus — the repo's standard shape) and drops
    each query's own row.  Pass ``exclude_self=False`` when query ids are
    an independent namespace: with the default, a corpus vector whose id
    happens to equal a query id would be silently dropped, and an
    id-type mismatch would NULL the comparison and drop every row.
    """
    q = F.broadcast(queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec")))
    scored = embeddings.select(id_col, vec_col).crossJoin(q)
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    scored = scored.withColumn(
        "cosine_sim", F.round(cosine(F.col(vec_col), F.col("__qvec")), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def centroids_by(
    embeddings: DataFrame, cluster_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Coarse centroids: element-wise mean per cluster.

    posexplode → groupBy(cluster, dim) partial-aggregates map-side, then
    re-assembles arrays — one shuffle of (cluster × dim) cells, independent
    of row count in the combine phase.
    """
    exploded = embeddings.select(
        F.col(cluster_col).alias("cluster"), F.posexplode(vec_col).alias("dim", "val")
    )
    per_dim = exploded.groupBy("cluster", "dim").agg(F.avg("val").alias("mean_val"))
    return (
        per_dim.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_val"))).alias("cells"))
        .select(
            "cluster",
            F.transform(F.col("cells"), lambda c: c.getField("mean_val")).alias("centroid"),
        )
    )


def rep_centroids(
    embeddings: DataFrame,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse 'centroids': the member vector with the lowest
    id per cluster (a medoid stand-in).  Unlike the element-wise mean
    (``centroids_by``), this involves NO float summation — the result is
    bit-identical regardless of partitioning/merge order, so an IVF search
    built on it is replicable by an external SQL oracle."""
    w = Window.partitionBy(cluster_col).orderBy(id_col)
    return (
        embeddings.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(cluster_col).alias("cluster"), F.col(vec_col).alias("centroid"))
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    query_id_col: str = "query_id",
    centroid_mode: str = "mean",
) -> DataFrame:
    """IVF-style ANN: probe only the ``nprobe`` nearest clusters per query.

    Clusters here come from the ``label`` column (stand-in for k-means
    assignment).  Both centroid table and query set are broadcast; the data
    side is filtered to probed clusters BEFORE any scoring, which is where
    the scale win lives.  Returns (query_id, vec_id, cosine_sim, rank) —
    approximate: recall < 1 when a true neighbor lives outside the probed
    clusters.

    ``centroid_mode="rep"`` probes against deterministic lowest-id
    representatives (``rep_centroids``) with the probe similarity rounded —
    every stage then matches an external SQL oracle exactly; ``"mean"`` is
    the quality default (float mean centroids, rows-only checkable).
    """
    if centroid_mode == "rep":
        cents = rep_centroids(embeddings, cluster_col, id_col, vec_col)
    else:
        cents = centroids_by(embeddings, cluster_col, vec_col)
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.desc("centroid_sim"), F.col("cluster")
    )
    centroid_sim = cosine(F.col("__qvec"), F.col("centroid"))
    if centroid_mode == "rep":
        # rounded probe score: float cosine at full precision could order
        # two near-tied clusters differently across engines
        centroid_sim = F.round(centroid_sim, 6)
    probed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("centroid_sim", centroid_sim)
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select(query_id_col, "__qvec", "cluster")
    )
    scored = (
        embeddings.select(id_col, vec_col, F.col(cluster_col).alias("cluster"))
        .join(F.broadcast(probed), "cluster")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine_sim", F.round(cosine(F.col(vec_col), F.col("__qvec")), 6))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH signature: one sign bit per plane, packed into
    a long.  sign(v·p) survives rotation — vectors with high cosine agree
    on most bits.  Planes are fixed literals (seeded numpy), so signatures
    are deterministic and reusable across runs.
    """
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def make_planes(dim: int, num_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (fixed seed → reproducible LSH)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim)).tolist()


def lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    num_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Multi-table LSH ANN: ``num_tables`` independent hyperplane hash
    tables (different seeds); a vector is a candidate if it shares the
    query's bucket in ANY table; candidates are deduped and re-ranked by
    exact cosine.

    Single-table LSH collapses at high signature widths (every vector
    alone in its bucket → recall ≈ 0); multiple OR-ed tables is the
    standard fix — recall ≈ 1-(1-p^b)^L grows with L at constant
    per-table selectivity.  Cost: L signature computations per row (all
    JVM expressions, one pass via posexplode) and L× candidate-join
    fan-out, still ≈ L·n/2^b candidates per query versus n for brute
    force.  The scale path alternative to ``ivf_topk`` when no cluster
    structure exists (no training pass).
    Returns (query_id, vec_id, cosine_sim, rank).
    """
    # all L signatures in ONE Arrow-batched numpy matmul: (batch, dim) @
    # (dim, L*b) then sign-pack per table.  The literal-expression twin
    # (hyperplane_signature) is right for a single table; L tables of it
    # bloat Catalyst codegen (measured ~10s planning overhead per run at
    # L=16) while the matmul is one vectorized kernel at any L.
    import numpy as np

    all_planes = np.concatenate(
        [np.asarray(make_planes(dim, num_planes, seed=t)).T for t in range(num_tables)],
        axis=1,
    )  # (dim, L*b)
    weights = (1 << np.arange(num_planes)).astype("int64")

    @F.pandas_udf("array<long>")
    def sigs(v):
        import pandas as pd

        # per-row fail-soft: a vector whose length does not match the
        # plane matrix (ragged/empty embedding) cannot be hashed — NULL
        # signatures (the row drops from every bucket) instead of a
        # numpy shape error that kills the whole job (same-label/ragged
        # probe finding)
        arrs = [np.asarray(x, dtype="float64") for x in v.to_numpy()]
        good = [i for i, a in enumerate(arrs) if a.shape == (all_planes.shape[0],)]
        out = [None] * len(arrs)
        if good:
            mat = np.stack([arrs[i] for i in good])  # (n_good, dim)
            bits = (mat @ all_planes >= 0).reshape(
                len(good), num_tables, num_planes
            )
            packed = (bits * weights).sum(axis=2)  # (n_good, L)
            for j, i in enumerate(good):
                out[i] = packed[j]
        return pd.Series(out)

    data = embeddings.select(
        id_col, vec_col, F.posexplode(sigs(F.col(vec_col))).alias("__tbl", "__sig")
    )
    q = queries.select(
        query_id_col,
        F.col(vec_col).alias("__qvec"),
        F.posexplode(sigs(F.col(vec_col))).alias("__tbl", "__sig"),
    )
    candidates = (
        data.join(F.broadcast(q), ["__tbl", "__sig"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, vec_col, "__qvec")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = candidates.withColumn(
        "cosine_sim", F.round(cosine(F.col(vec_col), F.col("__qvec")), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Near-duplicate vectors: cosine ≥ τ within a blocking key.

    Blocking (label / LSH bucket / IVF cell) keeps the pair space linear-ish;
    the unblocked exact variant is a cross join — never run that at scale.
    Returns (id_a, id_b, cosine_sim).

    Per-row L2 norms are hoisted into a column BEFORE the pair join: the
    naive ``cosine(a.v, b.v)`` runs three O(d) folds per PAIR, two of
    which (the norms) are per-row quantities — on an m-wide block that is
    2·C(m,2) redundant folds (the r6 registry-wide sf1 sweep measured the
    fold cost dominating this lane).  ``try_divide(dot, na·nb)`` is the
    exact expression ``cosine()`` evaluates, same operand order, so the
    output is bit-identical.  The pair ENUMERATION itself stays Θ(pairs):
    a threshold pair-join over continuous embeddings has a
    quadratic-density answer by nature — this lane is the exact
    correctness baseline; the banded ANN lanes are the 100 TB path.
    """
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("n"),
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                F.try_divide(
                    dot(F.col("a.v"), F.col("b.v")), F.col("a.n") * F.col("b.n")
                ),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_neardup_topk(
    embeddings: DataFrame,
    threshold: float = 0.95,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Capped near-dup view: for each vector, its ≤k most-similar
    in-block neighbors with cosine ≥ τ — (vec_id, neighbor_id,
    cosine_sim, rank).

    ``embedding_neardup_pairs`` enumerates EVERY threshold pair, which
    has a quadratic-density ANSWER on clustered corpora (the r6 sf1
    sweep measured 18× output growth at 10× rows — result-set growth,
    not plan growth).  At 100 TB a user wants this capped per-item form
    as the default lane: output is ≤ k rows per vector (linear in the
    corpus), and downstream keep/drop decisions only ever look at a
    doc's best few matches anyway.  The full enumeration stays
    available as the dial.

    Same hoisted-norm pair kernel as the enumeration lane (norms are
    per-row columns, one O(d) fold per pair); the cap is a per-vec_id
    row_number over (cosine DESC, neighbor ASC) — one extra shuffle on
    vec_id over the ALREADY-thresholded sparse candidate table, not
    over the raw pair space."""
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("n"),
    )
    a, b = base.alias("a"), base.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("vec_id"),
            F.col("b.id").alias("neighbor_id"),
            F.round(
                F.try_divide(
                    dot(F.col("a.v"), F.col("b.v")), F.col("a.n") * F.col("b.n")
                ),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine_sim", "rank")
    )


def assign_clusters(
    embeddings: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the centroid table, score every
    row against all k centroids in one JVM pass, arg-min by (distance,
    cluster) struct — deterministic under ties.  Adds ``cluster``."""
    cand = embeddings.crossJoin(
        F.broadcast(cents.select(F.col("cluster").alias("__c"), "centroid"))
    ).withColumn(
        "__dist",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.col("centroid"),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
    )
    best = F.min(F.struct(F.col("__dist").alias("d"), F.col("__c").alias("c")))
    assigned = (
        cand.groupBy(id_col)
        .agg(best.getField("c").alias("cluster"))
    )
    return embeddings.join(assigned, id_col)


def kmeans_train(
    embeddings: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-6,
) -> DataFrame:
    """Lloyd's k-means on a DataFrame — the IVF coarse-quantizer trainer.

    Deterministic init (k rows with the smallest ids — reproducible across
    runs and partitionings, unlike sampling).  Each iteration: broadcast
    k×dim centroids, one assignment pass, one (cluster × dim)-cell shuffle
    to re-average (``centroids_by``).  Converges when no assignment moves
    more than ``tol`` in centroid space; lineage is truncated per round.
    Returns (cluster, centroid, n_points).
    """
    # explicit schema: toDF's type inference CANNOT_DETERMINE_TYPE on an
    # empty corpus (degenerate-corpus sweep finding) — an empty input
    # trains an empty centroid table instead of crashing
    init = embeddings.sparkSession.createDataFrame(
        embeddings.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).alias("centroid"))
        .rdd.zipWithIndex()
        .map(lambda t: (t[1], [float(x) for x in t[0].centroid])),
        "cluster bigint, centroid array<double>",
    )
    cents = materialize(init, "k-means initial centroids")
    for _ in range(max_iter):
        assigned = assign_clusters(
            embeddings.drop("cluster"), cents, id_col, vec_col
        )
        new_cents = materialize(
            centroids_by(assigned, "cluster", vec_col),
            "k-means centroids: read by the shift check and the next round",
        )
        moved = (
            new_cents.join(cents.withColumnRenamed("centroid", "old"), "cluster")
            .withColumn(
                "shift",
                F.aggregate(
                    F.zip_with(
                        "centroid", "old", lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )
            .agg(F.max("shift"))
            .collect()[0][0]
        )
        cents = new_cents
        if moved is not None and moved < tol * tol:
            break
    sizes = (
        # same drop('cluster') guard as the loop: an input that already
        # carries a 'cluster' column must not collide with the assignment
        assign_clusters(embeddings.drop("cluster"), cents, id_col, vec_col)
        .groupBy("cluster")
        .agg(F.count("*").alias("n_points"))
    )
    return cents.join(sizes, "cluster", "left").fillna(0, subset=["n_points"])


def kmeans_train_exact(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means on the EXACT lane: bit-deterministic under any
    partitioning and fully SQL-replayable (q_kmeans_oracle).

    The one source of nondeterminism in distributed k-means is the
    centroid update — a float mean accumulates in partition order.  Here
    per-(cluster, dim) sums go through DECIMAL(27,18) (exact, order-free)
    and the mean is ONE double division of the exact sum; everything else
    (distances, argmin) is per-row double math with a fixed fold order,
    identical in any engine.  Init = the k lowest-id vectors; ties on
    distance break toward the lower cluster id; empty clusters drop out
    (both rules replicated by the oracle).

    Returns (cluster, n_points, centroid_norm, inertia): sizes, the L2
    norm of each final centroid, and the decimal-summed within-cluster
    squared-distance total — the convergence scorecard of the trainer.
    """
    emb = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda v: v.cast("double")).alias("x"),
    )
    w = Window.orderBy("id")
    cents = materialize(
        emb.orderBy("id")
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).cast("long").alias("cluster"),
            F.col("x").alias("centroid"),
        ),
        "exact k-means initial centroids",
    )
    dist = F.aggregate(
        F.zip_with("x", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    assigned = None
    for _ in range(iters):
        scored = emb.crossJoin(F.broadcast(cents)).withColumn("d", dist)
        assigned = (
            scored.groupBy("id")
            .agg(
                F.min(
                    F.struct(F.col("d").alias("d"), F.col("cluster").alias("c"))
                ).alias("best"),
                F.first("x").alias("x"),
            )
            .select("id", F.col("best.c").alias("cluster"), F.col("best.d").alias("d"), "x")
        )
        cells = assigned.select("cluster", F.posexplode("x").alias("dim", "v"))
        cents = materialize(
            cells.groupBy("cluster", "dim")
            .agg(
                F.sum(F.col("v").cast("decimal(27,18)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .withColumn("m", F.col("s").cast("double") / F.col("n"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("cells"))
            .select(
                "cluster",
                F.transform(F.col("cells"), lambda c: c.getField("m")).alias("centroid"),
            ),
            "exact k-means centroids: read by the next round's assignment",
        )
    # final pass: re-assign against the last centroids so sizes/inertia
    # describe the returned model, then summarize
    scored = emb.crossJoin(F.broadcast(cents)).withColumn("d", dist)
    assigned = (
        scored.groupBy("id")
        .agg(
            F.min(F.struct(F.col("d").alias("d"), F.col("cluster").alias("c"))).alias("best")
        )
        .select("id", F.col("best.c").alias("cluster"), F.col("best.d").alias("d"))
    )
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform("centroid", lambda v: v * v), F.lit(0.0), lambda a, v: a + v
            )
        ),
        6,
    )
    stats = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum(F.col("d").cast("decimal(27,12)")), 4).cast("double").alias("inertia"),
    )
    return (
        cents.join(stats, "cluster")
        .select("cluster", "n_points", norm.alias("centroid_norm"), "inertia")
    )


def pca_power_exact(
    embeddings: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal direction of the (uncentered) embedding matrix by
    power iteration — the dimensionality-reduction / whitening front door
    of an embedding pipeline — on the exact lane, fully SQL-replayable.

    Each iteration is the two-pass matrix-free product v' = Xᵀ(Xv):
    pass 1 computes t_i = ⟨x_i, v⟩ per row (fixed-order fold, per-row
    double math — IEEE-identical in any engine), pass 2 aggregates
    s_d = Σ t_i·x_i[d] per dimension.  That SUM is the one order-dependent
    float accumulation in distributed PCA, so — exactly like
    ``kmeans_train_exact`` — each term routes through DECIMAL(27,18)
    (exact, order-free) and returns to double once per (iteration, dim).
    The d-vector then collapses to a single sorted array row and is
    normalized with per-row double ops.  Nothing ever materializes the
    d×d covariance: cost per iteration is two narrow shuffles keyed on
    dim (d cells per row), identical at 500 rows or 100 TB.

    Init is the all-ones vector (deterministic; not orthogonal to the top
    eigenvector of a nonnegative-diagonal Gram matrix in practice), sign
    is therefore deterministic too.  Each iteration's vector is
    materialized, which flattens lineage.  Returns one row per dimension:
    (dim, loading_e9 BIGINT, eigval_e6 BIGINT) — loadings of the unit
    top direction and the Rayleigh-quotient eigenvalue estimate
    ‖X v_{last}‖² (both scaled-integer outputs, floor(x·10^k + 0.5)).
    """
    emb = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda v: v.cast("double")).alias("x"),
    )
    first = emb.select("x").first()
    if first is None or first[0] is None:
        # empty table (or NULL leading vector): no matrix, no principal
        # direction — empty result, not a driver TypeError (empty-tables
        # sweep finding)
        return emb.sparkSession.createDataFrame(
            [], "dim int, loading_e9 bigint, eigval_e6 bigint"
        )
    dims = len(first[0])
    vdf = emb.sparkSession.range(1).select(
        F.array(*[F.lit(1.0) for _ in range(dims)]).alias("v")
    )
    dot = F.aggregate(
        F.zip_with("x", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, t: acc + t
    )
    norm2 = None
    for _ in range(iters):
        scored = emb.crossJoin(F.broadcast(vdf)).withColumn("t", dot)
        cells = scored.select("t", F.posexplode("x").alias("dim", "xi"))
        s = cells.groupBy("dim").agg(
            F.sum((F.col("t") * F.col("xi")).cast("decimal(27,18)"))
            .cast("double")
            .alias("s")
        )
        arr = (
            s.groupBy()
            .agg(F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("cells"))
            .select(F.transform("cells", lambda c: c.getField("s")).alias("sv"))
        )
        norm2 = F.aggregate(
            F.transform("sv", lambda e: e * e), F.lit(0.0), lambda acc, t: acc + t
        )
        # an all-zero matrix (e.g. every vector zero) has no principal
        # direction: NULL loadings, never an ANSI DIVIDE_BY_ZERO (the
        # q_lsa_topic guard; degenerate-corpus sweep finding)
        vdf = materialize(
            arr.select(
                F.transform(
                    "sv", lambda e: F.try_divide(e, F.sqrt(norm2))
                ).alias("v"),
                norm2.alias("norm2"),
            ),
            "power-iteration vector: read by the next iteration",
        )
    # ‖X v_{k-1}‖ = the power-iteration eigenvalue estimate for the
    # uncentered Gram matrix (v_{k-1} is unit by construction)
    out = vdf.select(
        F.posexplode("v").alias("dim", "loading"),
        F.sqrt("norm2").alias("eigval"),
    )
    return out.select(
        "dim",
        F.floor(F.col("loading") * 1e9 + F.lit(0.5)).cast("bigint").alias("loading_e9"),
        F.floor(F.col("eigval") * 1e6 + F.lit(0.5)).cast("bigint").alias("eigval_e6"),
    )


def semdedup_dups(assigned: DataFrame, tau: float) -> DataFrame:
    """The SemDeDup prune pair-stage as a vectorized Arrow kernel:
    for each vector, the LOWEST-id same-rep partner whose rounded
    cosine is >= ``tau`` — ``(vec_id, dup_of)`` rows for pruned vectors
    only, exactly the old self-join + groupBy(min) output.

    ``assigned`` must carry (vec_id, rep_id, embedding, nrm) with
    ``nrm`` the hoisted ``l2_norm(embedding)`` column.  The old JVM form
    materialized every in-cluster pair and folded a zip_with/aggregate
    dot per pair — higher-order functions evaluate INTERPRETED per
    element, ~200 ns/element, which made this O(pairs·dim) stage the
    single most expensive term of every SemDeDup lane (guide §4.2:
    hand whole batches to vectorized native code instead).  The numpy
    kernel replays the JVM semantics bit-for-bit:

    * products a_i·b_i in float64 then a SEQUENTIAL cumulative sum —
      the exact IEEE op order of the zip_with/aggregate left fold
      (verified 0/4000 mismatches on random float32 vectors);
    * pairs are formed only within equal embedding lengths (zip_with
      pads the shorter side with NULLs -> NULL dot -> filtered), and
      NULL/NaN elements or a zero/NULL norm product exclude the pair
      exactly like try_divide's NULL;
    * the rounded-cosine threshold replays Spark's round(x, 6) =
      HALF_UP on the shortest decimal repr: pairs farther than 2e-6
      from tau are decided by the double compare, the boundary band
      goes through Decimal(repr(x)).quantize (the oracle-proven
      replica), so the decision is identical even ON the boundary.

    Scale: one shuffle of n narrow+embedding rows keyed by rep_id
    (the old join shuffled the same rows AND materialized the pair
    blow-up); per-group work is O(n_r^2·d) BLAS-speed with n_r bounded
    ~target by rep-count scaling, blocked to cap memory.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    tau_dec = Decimal(repr(float(tau)))
    q6 = Decimal("0.000001")

    def _exact_ge(cos: float) -> bool:
        return Decimal(repr(cos)).quantize(q6, ROUND_HALF_UP) >= tau_dec

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids_all = pdf["vec_id"].to_numpy()
        nrms_all = pdf["nrm"].to_numpy(dtype=np.float64, na_value=np.nan)
        embs = list(pdf["embedding"])
        lens = np.array(
            [-1 if e is None else len(e) for e in embs], dtype=np.int64
        )
        out_ids: list[int] = []
        out_dup: list[int] = []
        for ln in np.unique(lens):
            if ln < 0:
                continue  # NULL embedding: NULL cosine, never a pair
            sel = np.nonzero(lens == ln)[0]
            if sel.size < 2:
                continue
            ids = ids_all[sel]
            nrms = nrms_all[sel]
            if ln == 0:
                continue  # empty vectors: zero norm, try_divide -> NULL
            mat = np.empty((sel.size, ln), dtype=np.float64)
            for k, idx in enumerate(sel):
                mat[k] = np.asarray(embs[idx], dtype=np.float64)
            m = sel.size
            # blocked pairwise sequential-fold dots (cap the i x m x d
            # products tensor at ~32 MB per block)
            block = max(1, (1 << 22) // (m * ln + 1))
            dots = np.empty((m, m), dtype=np.float64)
            for i0 in range(0, m, block):
                i1 = min(m, i0 + block)
                prods = mat[i0:i1, None, :] * mat[None, :, :]
                dots[i0:i1] = np.cumsum(prods, axis=2)[:, :, -1]
            div = nrms[:, None] * nrms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / div
            # try_divide: zero or NULL/NaN divisor -> NULL -> excluded
            cos[~(div > 0) & ~(div < 0)] = np.nan
            ge = cos >= (tau + 2e-6)
            band = np.abs(cos - tau) <= 2e-6
            for j in range(1, m):
                cond = ge[:j, j].copy()
                bj = np.nonzero(band[:j, j])[0]
                for i in bj:
                    c = cos[i, j]
                    if c == c and _exact_ge(float(c)):
                        cond[i] = True
                hit = np.nonzero(cond)[0]
                if hit.size:
                    out_ids.append(int(ids[j]))
                    out_dup.append(int(ids[hit[0]]))
        return pd.DataFrame({"vec_id": out_ids, "dup_of": out_dup})

    return (
        assigned.select("rep_id", "vec_id", "embedding", "nrm")
        .groupBy("rep_id")
        .applyInPandas(prune, "vec_id long, dup_of long")
    )
