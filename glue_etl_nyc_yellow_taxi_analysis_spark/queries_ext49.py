"""Extended inventory XLIX — the SemDeDup scale path (round 10).

``q_semdedup`` (queries_ext16) assigns every vector to its nearest
representative by scoring ALL k ≈ n/target reps — O(n·k) = O(n²/target)
dot products, the one admitted super-linear term in the registry
(SCALE_SF10.json measured 61.7× wall at 100× rows; sub-linear, but the
asymptote is wrong).  This module lands the documented fix: route rep
assignment through the IVF coarse probe (the ``similarity.ivf_topk``
shape), exactly how production SemDeDup assigns against a FAISS IVF
index:

  1. routers — ONE deterministic router per cell (the cell's lowest-id
     rep; cells = labels, the repo's coarse-quantizer convention).
     O(|cells|) rows, broadcast.
  2. probe — each vector scores only the |cells| routers and keeps its
     ``_NPROBE`` best cells.  O(n·|cells|) work, no shuffle of the
     corpus (routers broadcast; top-nprobe via a vec_id-keyed window).
  3. assign — score only the reps INSIDE the probed cells:
     O(n·nprobe·k/|cells|) instead of O(n·k) — the per-vector work
     drops by |cells|/nprobe, and with a trained coarse quantizer
     (``similarity.kmeans_train``) whose |cells| grows ~√k the
     assignment is O(n·√k): the standard two-level production shape.
     The swap is mechanical (routers := trained centroids); labels keep
     this lane fully SQL-replayable.
  4. prune — unchanged from q_semdedup: within each assigned
     sub-cluster, drop any vector rounded-cosine ≥ τ to a lower-id
     member.

Approximation surface (honest): a vector whose true nearest rep lives
in a cell whose ROUTER ranks below nprobe is assigned to its best
probed cell instead — the recall dial every IVF index trades on.  At
shipped SFs (one rep per label) probe order equals rep order, so the
output matches q_semdedup bit-for-bit; the chained-CTE oracle replays
the probe itself, so the gate holds at ANY scale, not just where the
two lanes coincide.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import similarity
from .operators.materialize import materialize
from .queries_ext16 import _SD_TARGET, _SD_TAU
from .registry import register
from .tables import _COSINE_SQL, _t


_NPROBE = 3


def _assign_ivf(emb, target=_SD_TARGET):
    """The probe+assign stages (pre-materialization) — separated so the
    plan-contract test can pin THIS plan broadcast-only; the lane's
    ``materialize`` would otherwise swallow it from explain().
    ``target`` dials rep density: reps per cell = max(1, cnt//target),
    so a SMALL target forces the multi-rep regime at shipped SFs (the
    q_semdedup_multirep lane) while the production default keeps
    ~n/_SD_TARGET reps."""
    wlab = Window.partitionBy("label")
    reps = materialize(
        emb.withColumn("cnt", F.count(F.lit(1)).over(wlab))
        .withColumn("rep_rn", F.row_number().over(wlab.orderBy("vec_id")))
        .filter(
            F.col("rep_rn") <= F.greatest(F.lit(1), F.expr(f"cnt div {target}"))
        )
        .select(
            F.col("label").alias("cluster"),
            F.col("vec_id").alias("rep_id"),
            F.col("embedding").alias("centroid"),
            F.col("rep_rn"),
        ),
        "IVF reps: read by the routers and the probed-cell join",
    )
    routers = reps.filter(F.col("rep_rn") == 1).select("cluster", "centroid")

    # stages 2+3 as ONE pure projection over single-row broadcasts (the
    # guide-§8 proxy rule taken to its limit): the old shape cross-joined
    # the corpus against the router table and ran TWO row_number windows
    # keyed by vec_id — every window an Exchange carrying n·|cells| rows
    # WITH the embedding payload.  Routers fold into one array row and
    # the reps into one cluster→reps map row; both broadcast (they are
    # the same bytes the old plan already broadcast), and the probe +
    # assign become per-row array expressions: zero exchanges, zero
    # windows, whole-stage codegen end to end, and the embedding never
    # leaves its scan partition.  Ordering is bit-compatible: ascending
    # (-cos, cluster[, rep_id]) structs == the windows' (cos DESC,
    # cluster[, rep_id]); NULL cosine (zero-norm / ragged vectors) maps
    # to +inf = the windows' NULLS LAST; negation preserves the engine's
    # double total order (incl. ±0.0), and the rounded cosine itself is
    # the exact same expression tree with the vector norm precomputed.
    routers_arr = routers.agg(
        F.collect_list(F.struct("cluster", "centroid")).alias("__rs")
    )
    reps_map = (
        reps.groupBy("cluster")
        .agg(F.collect_list(F.struct("rep_id", "centroid")).alias("cell"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("cluster", "cell"))
            ).alias("__rm")
        )
    )

    def neg_cos(vec, nrm, cent):
        c = F.round(
            F.try_divide(
                similarity.dot(vec, cent), nrm * similarity.l2_norm(cent)
            ),
            6,
        )
        return F.when(c.isNull(), F.lit(float("inf"))).otherwise(-c)

    top = F.slice(
        F.array_sort(
            F.transform(
                F.col("__rs"),
                lambda r: F.struct(
                    neg_cos(
                        F.col("embedding"), F.col("nrm"), r["centroid"]
                    ).alias("nc"),
                    r["cluster"].alias("cluster"),
                ),
            )
        ),
        1,
        _NPROBE,
    )
    cands = F.flatten(
        F.transform(
            F.col("__top"),
            lambda t: F.transform(
                F.element_at(F.col("__rm"), t["cluster"]),
                lambda rep: F.struct(
                    neg_cos(
                        F.col("embedding"), F.col("nrm"), rep["centroid"]
                    ).alias("nc"),
                    t["cluster"].alias("cluster"),
                    rep["rep_id"].alias("rep_id"),
                ),
            ),
        )
    )
    best = F.array_min(F.col("__cands"))
    return (
        emb.crossJoin(F.broadcast(routers_arr))
        .crossJoin(F.broadcast(reps_map))
        # nrm hoisted per vector — same expression tree as the inline
        # cosine denominator, so downstream pair doubles stay
        # bit-identical (and the probe folds one dot per router instead
        # of dot+2 norms); each HOF stage lands in its own projected
        # column so lambdas fold over BOUND references (the winnowing
        # CSE lesson), never re-deriving an upstream array per element
        .withColumn("nrm", similarity.l2_norm(F.col("embedding")))
        .withColumn("__top", top)
        .withColumn("__cands", cands)
        .withColumn("__best", best)
        .select(
            "vec_id",
            "embedding",
            F.col("__best.cluster").alias("cluster"),
            F.col("__best.rep_id").alias("rep_id"),
            "nrm",
        )
    )


def _semdedup_ivf_lane(spark, sf_dir, target):
    emb = _t(spark, sf_dir, "embeddings")
    assigned = materialize(
        _assign_ivf(emb, target),
        "IVF assignment: both self-join sides and the verdict",
    )

    # stage 4: prune within the assigned sub-cluster (q_semdedup rule),
    # as the vectorized Arrow pair kernel — see similarity.semdedup_dups
    # (r12: the JVM pair join's interpreted per-element dot folds were
    # the lane's dominant term; rows identical, 2.5-3x on the lane)
    dups = similarity.semdedup_dups(assigned, _SD_TAU)
    return assigned.join(dups, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.when(F.col("dup_of").isNotNull(), 1).otherwise(0).alias("is_pruned"),
        "dup_of",
    )


def _sql_semdedup_ivf(target):
    return f"""
WITH reps AS (
  SELECT label AS cluster, vec_id AS rep_id, embedding AS centroid, rn AS rep_rn
  FROM (
    SELECT label, vec_id, embedding,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn,
           COUNT(*) OVER (PARTITION BY label) AS cnt
    FROM embeddings) WHERE rn <= greatest(1, cnt // {target})
), routers AS (
  SELECT cluster, centroid FROM reps WHERE rep_rn = 1
), probed AS (
  -- each vector keeps its {_NPROBE} best cells by rounded router cosine
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, r.cluster,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_COSINE_SQL.format(a='e.embedding', b='r.centroid')} DESC,
                        r.cluster) AS pn
    FROM embeddings e, routers r) WHERE pn <= {_NPROBE}
), assigned AS (
  -- best rep INSIDE the probed cells; nrm hoisted per vector
  SELECT vec_id, embedding, cluster, rep_id,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM (
    SELECT p.vec_id, p.embedding, s.cluster, s.rep_id,
           row_number() OVER (
               PARTITION BY p.vec_id
               ORDER BY {_COSINE_SQL.format(a='p.embedding', b='s.centroid')} DESC,
                        s.cluster, s.rep_id) AS rn
    FROM probed p JOIN reps s ON p.cluster = s.cluster) WHERE rn = 1
), dups AS (
  SELECT b.vec_id, MIN(a.vec_id) AS dup_of
  FROM assigned a JOIN assigned b
    ON a.rep_id = b.rep_id AND a.vec_id < b.vec_id
  -- len() guard mirrors Spark's NULL-propagating zip_with dot on
  -- ragged vectors; NULL >= tau is false on both engines
  WHERE CASE WHEN len(a.embedding) <> len(b.embedding) THEN NULL ELSE
          ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (a.nrm * b.nrm), 6) END >= {_SD_TAU}
  GROUP BY b.vec_id
)
SELECT s.vec_id, s.cluster,
       CASE WHEN d.dup_of IS NOT NULL THEN 1 ELSE 0 END AS is_pruned,
       d.dup_of
FROM assigned s LEFT JOIN dups d ON s.vec_id = d.vec_id
"""


def q_semdedup_ivf(spark, sf_dir):
    """SemDeDup with IVF-probed rep assignment — the 100 TB shape.
    See module docstring; output schema identical to ``q_semdedup``."""
    return _semdedup_ivf_lane(spark, sf_dir, _SD_TARGET)


# multi-rep regime at shipped SFs (r10 verdict item 4): with the
# production target the driver corpus gives every cell ONE rep, so
# probe order equals rep order and the lane coincides with q_semdedup
# bit-for-bit — the multi-rep gate lived only in pytest + the CTE
# replay.  A target of 16 forces cnt//target in [2, 13] reps per cell
# at EVERY shipped SF (labels carry 42-218 members), so the probed
# multi-rep assignment path earns its own driver CORRECTNESS row.
# target = max(16, n//80): the 16 floor forces 2+ reps per cell at
# every shipped SF (labels carry 42-218 members), while the n//80 term
# keeps reps-per-cell BOUNDED (~8) as the corpus grows — with a FIXED
# target, rep count per cell is cnt//target ∝ n and the assign join is
# O(n²/target) (the r11 sf1 probe measured 10.4× wall at 10× rows).
# Honest residual: with |cells| fixed (labels are the coarse cells
# here), multi-rep SemDeDup carries an O(n²/cells) term in EITHER the
# assign join (fixed target) or the prune self-join (scaled target —
# group size ∝ target); this rule picks the smaller constant (probe:
# 5.8× vs 10.4× at 10× rows).  At real scale the term disappears by
# growing |cells| with a trained coarse quantizer (~√k cells, the
# q_semdedup_ivf docstring's documented swap) — this lane exists as
# the multi-rep CORRECTNESS gate, not the scale path.  One bounded
# COUNT action derives the target.
_SD_MULTI_MIN_TARGET = 16
_SD_MULTI_DIVISOR = 80


def q_semdedup_multirep(spark, sf_dir):
    """q_semdedup_ivf's multi-rep regime forced at shipped SFs: same
    pipeline, rep density dialed to cnt//max(16, n/80) per cell, so
    assignment picks among MULTIPLE in-cell reps (and across probed
    cells) — the regime a 100 TB corpus puts the probe in — while the
    corpus-derived target keeps reps-per-cell bounded (the fixed-cell
    quadratic trap, see the target comment).  Oracle: the same
    chained-CTE replay with the dialed target as a scalar subquery."""
    emb = _t(spark, sf_dir, "embeddings")
    target = max(_SD_MULTI_MIN_TARGET, emb.count() // _SD_MULTI_DIVISOR)
    return _semdedup_ivf_lane(spark, sf_dir, target)


SQL_SEMDEDUP_IVF = _sql_semdedup_ivf(_SD_TARGET)

register(q_semdedup_ivf, SQL_SEMDEDUP_IVF)
register(
    q_semdedup_multirep,
    _sql_semdedup_ivf(
        f"(greatest({_SD_MULTI_MIN_TARGET}, "
        f"(SELECT COUNT(*) FROM embeddings) // {_SD_MULTI_DIVISOR}))"
    ),
)
