"""Deduplication operators — exact and near-duplicate, all shuffle-aware.

Five strategies, each a real large-scale design (not a pairwise O(n²) scan):

- exact:       md5 content fingerprint → hash groupBy (one shuffle on a
               16-byte key, not on full rows).
- MinHash+LSH: shingle → k minhashes → b bands → bucket-join candidates →
               exact-Jaccard verify.  Candidate generation touches only
               bucket collisions, so cost ~ O(n · b) + O(collisions).
- SimHash:     64-bit signature, banded into 16-bit keys for candidate
               generation, Hamming-distance verify via bit_count(xor).
- n-gram Jaccard: exact pairwise within a blocking key (for modest blocks).
- embedding cosine: near-dup via cosine ≥ τ within a blocking key.

Everything is built-in JVM expressions (xxhash64, higher-order array fns,
bit ops) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize
from .partitioning import spread
from .text import content_fingerprint, shingles, tokens


# ---------------------------------------------------------------- exact ----
def dedup_exact_docs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content fingerprint; keeps the lowest id per group.

    groupBy on the md5 key shuffles 16 bytes + id per row — at 100 TB this
    is the canonical first pass before any fuzzy method.
    """
    fp = df.select(F.col(id_col), content_fingerprint(text_col).alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))


# --------------------------------------------------------------- minhash ----
def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    lane: str = "xxhash64",
    spread_input: bool = True,
) -> DataFrame:
    """id → shingle set + minhash signature array (length ``num_hashes``).

    ``spread_input=False`` skips the repartition — required for STREAMING
    inputs (micro-batches are already parallel) and for callers that
    manage partitioning themselves.

    Hash family (``lane="xxhash64"``, the throughput default):
    xxhash64(shingle, seed_i) — seeding via an extra hashed literal gives k
    independent-enough functions with zero Python cost.  Each of the k
    minhashes is a separate ``array_min(transform(...))`` expression over
    the bound ``shingles`` column: a nested transform-over-seed-indices
    formulation is prettier but its inner lambda leaves whole-stage codegen
    (measured 15x slower) — keep the literal seeds.  Input is spread across
    the cluster first (``spread``): a small upstream file must not
    serialize this compute-bound stage onto one core.

    ``lane="md5"``: minhash_i = lexicographic min of md5('<i>|' + shingle)
    hex strings.  Slower than xxhash64 but bit-identical in every engine
    (md5 + ASCII ordering), so the FULL pipeline — signatures, banding,
    candidate pairs, verified output — is replicable by an external SQL
    oracle.  Same minima-of-uniform-hashes statistics.
    """
    sh = shingles(text_col, shingle_n).alias("shingles")

    # Seeds MUST be closed over via a helper returning a ONE-parameter
    # lambda.  The tempting `lambda s, i=i: ...` form has arity 2, and
    # PySpark binds a two-parameter HOF lambda as (element, INDEX): the
    # "seed" silently becomes the auto-named index Column — str(i) then
    # hashes the column's repr (run-varying generated name: signatures
    # were nondeterministic across runs and never matched the documented
    # '<i>|shingle' family), and F.lit(i) degrades every seed to the
    # element index (all k functions identical).  Verified-pair OUTPUTS
    # still matched the oracle because exact-Jaccard verification is
    # banding-insensitive at full recall — the bug surfaced only when
    # two separately-built plans (stream probe vs static index) had to
    # agree on band keys.
    def _md5_fn(i: int):
        seed = F.lit(f"{i}|")
        return lambda s: F.md5(F.concat(seed, s))

    def _xx_fn(i: int):
        seed = F.lit(i)
        return lambda s: F.xxhash64(s, seed)

    if lane == "md5":
        mh = [
            F.array_min(F.transform(F.col("shingles"), _md5_fn(i)))
            for i in range(num_hashes)
        ]
    else:
        mh = [
            F.array_min(F.transform(F.col("shingles"), _xx_fn(i)))
            for i in range(num_hashes)
        ]
    sig = F.array(*mh).alias("minhash_sig")
    base = spread(df) if spread_input else df
    return base.select(F.col(id_col).alias("id"), sh).select("id", "shingles", sig)


def banded_keys(
    sigs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    lane: str = "xxhash64",
    carry: tuple = (),
) -> DataFrame:
    """Explode signatures to LSH band keys: (id, band_idx, band_hash).

    The shared banding stage of the self-join (minhash_lsh_candidates) and
    the asymmetric probe (incremental new-batch-vs-base dedup).  ``carry``
    lists extra columns to keep alongside the keys (e.g. the shingle set
    for in-stream verification, where a second join back to the source
    would be a stream-stream join).

    ``bands`` must divide ``num_hashes`` exactly: leftover hashes would
    silently never influence any band (undocumented recall change), and
    ``bands > num_hashes`` would make every band key a constant —
    collapsing the LSH self-join into an O(n²) cross join (review r4)."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes}) "
            f"— leftover hashes silently change recall, and bands > "
            f"num_hashes degenerates every band key to a constant"
        )
    rows_per_band = num_hashes // bands

    def band_key(b):
        els = [F.col("minhash_sig")[b * rows_per_band + r] for r in range(rows_per_band)]
        if lane == "md5":
            return F.md5(F.concat_ws("|", *els))
        return F.xxhash64(*els)

    return sigs.select(
        "id",
        *carry,
        F.posexplode(F.array(*[band_key(b) for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )


def minhash_lsh_candidates(
    sigs: DataFrame, num_hashes: int = 32, bands: int = 8, lane: str = "xxhash64"
) -> DataFrame:
    """LSH banding: equal band-signature → candidate pair (id_a < id_b).

    Explode to (band_idx, band_hash) keys, self-join within buckets.  The
    shuffle key is the band hash — collision lists are short by design, so
    the join never degenerates to a cross join.  Pairs deduped across bands.
    """
    banded = banded_keys(sigs, num_hashes, bands, lane)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return pairs


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array-sets (JVM array ops)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.6,
    lane: str = "xxhash64",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → verified pairs with jaccard ≥ τ.

    candidates (banding) → join back shingle sets → exact-Jaccard verify.
    Returns (id_a, id_b, jaccard_sim).

    The signature table is ``.cache()``d (it feeds the candidate join and
    both verification join-backs); the blocks are released when the plan's
    RDD is garbage-collected (Spark's ContextCleaner).  A long-lived
    session looping this operator over many shards should
    ``spark.catalog.clearCache()`` between shards — the bench harness
    does exactly that per query.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, lane).cache()
    cands = minhash_lsh_candidates(sigs, num_hashes, bands, lane)
    sh = sigs.select("id", "shingles")
    verified = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "shingles": "sh_b"}), "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim"))
    )
    return verified


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    tau_ppm: int = 300_000,
    lane: str = "md5",
) -> DataFrame:
    """Directed shingle-containment pairs: |A∩B| / |A| ≥ τ.

    Jaccard under-scores asymmetric duplication — a short document quoted
    whole inside a long one has low Jaccard but containment ≈ 1.  This is
    the signal quote/excerpt dedup uses (and the reason dedup toolkits
    carry containment next to resemblance; Broder's resemblance/containment
    pair).  Candidates come from the SAME MinHash-LSH banding as
    ``minhash_dedup_pairs`` (minima of uniform hashes estimate containment
    well when sizes are comparable; banding recall is shared), then each
    undirected candidate emits BOTH directions and is verified exactly:
    containment_ppm = inter · 1e6 div |src| — integer lane, bit-identical
    in any engine.

    Scale: identical posture to minhash_dedup_pairs — banded candidate
    generation (never all-pairs), shuffle keyed on band hashes, exact
    verification bounded to bucket collisions; the direction explode only
    doubles the (small) verified candidate set.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, lane).cache()
    cands = minhash_lsh_candidates(sigs, num_hashes, bands, lane)
    sh = sigs.select("id", "shingles")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    both = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "shingles": "sh_b"}), "id_b")
        .withColumn("inter", inter)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src_id"),
                        F.col("id_b").alias("dst_id"),
                        F.size("sh_a").alias("n_src"),
                        F.col("inter").alias("inter"),
                    ),
                    F.struct(
                        F.col("id_b").alias("src_id"),
                        F.col("id_a").alias("dst_id"),
                        F.size("sh_b").alias("n_src"),
                        F.col("inter").alias("inter"),
                    ),
                )
            ).alias("p")
        )
        .select("p.*")
    )
    # inter/n_src are 32-bit (F.size); widen BEFORE the ppm multiply or
    # any pair sharing >= 2148 shingles overflows int under ANSI.  The
    # oracle's len() is already BIGINT, so this keeps the lanes aligned.
    cont = F.expr("CAST(inter AS BIGINT) * 1000000 div n_src")
    return (
        both.filter(F.col("n_src") > 0)
        .withColumn("containment_ppm", cont.cast("bigint"))
        .filter(F.col("containment_ppm") >= tau_ppm)
        .select("src_id", "dst_id", "n_src", "inter", "containment_ppm")
    )


# --------------------------------------------------------------- simhash ----
_SIMHASH_EXPR = """
aggregate(
  zip_with(
    transform(sequence(0, 63),
              b -> aggregate({toks}, 0L,
                             (acc, t) -> acc + CASE WHEN (shiftright(xxhash64(t), b) & 1L) = 1L
                                                    THEN 1L ELSE -1L END)),
    sequence(0, 63),
    (v, b) -> IF(v > 0, shiftleft(1L, b), 0L)),
  0L, (acc, x) -> acc | x)
"""


def simhash64(toks_col_name: str) -> Column:
    """64-bit SimHash of a token-array column, fully JVM-side.

    For each bit position: sum (+1/-1) of that bit across token hashes;
    positive → bit set.  Written as a SQL expression because the Python
    ``shiftright``/``shiftleft`` wrappers only accept literal shift amounts,
    while here the shift is the lambda variable.  At true 100 TB scale you
    would fuse this into one mapInPandas pass; the declarative form keeps
    whole-stage codegen and needs no Python.
    """
    return F.expr(_SIMHASH_EXPR.format(toks=toks_col_name))


# md5 lane: 60-bit simhash over per-token hashes taken from the first 15
# hex chars of md5 (fits signed 64-bit in every engine; Spark computes the
# int via conv(hex,16,10), an oracle via ('0x'||hex)::BIGINT).  Token
# hashes are materialized ONCE ({hs} is a precomputed array<long> column),
# then the 60-bit loop folds over ints only — md5 is not recomputed per bit.
_SIMHASH_MD5_EXPR = """
aggregate(
  zip_with(
    transform(sequence(0, 59),
              b -> aggregate({hs}, 0L,
                             (acc, h) -> acc + CASE WHEN (shiftright(h, b) & 1L) = 1L
                                                    THEN 1L ELSE -1L END)),
    sequence(0, 59),
    (v, b) -> IF(v > 0, shiftleft(1L, b), 0L)),
  0L, (acc, x) -> acc | x)
"""

TOKEN_HASH_MD5_EXPR = (
    "transform({toks}, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
)


def simhash60_md5(toks_col_name: str) -> Column:
    """Engine-portable 60-bit SimHash (md5-derived token hashes): same
    majority-vote construction as ``simhash64``, but every intermediate is
    replicable in an external SQL oracle.

    Inline form — the token-hash array is re-evaluated per bit position
    (no CSE inside higher-order lambdas → 60× redundant md5).  Hot paths
    stage: project ``token_hashes_md5`` into a column, then apply
    ``simhash60_from_hashes`` to the bound column."""
    return F.expr(
        _SIMHASH_MD5_EXPR.format(hs=TOKEN_HASH_MD5_EXPR.format(toks=toks_col_name))
    )


def token_hashes_md5(toks_col_name: str) -> Column:
    """Stage 1: md5-derived 60-bit token hashes (array<long>)."""
    return F.expr(TOKEN_HASH_MD5_EXPR.format(toks=toks_col_name))


def simhash60_from_hashes(hashes_col_name: str) -> Column:
    """Stage 2: 60-bit majority-vote signature from a BOUND hash column."""
    return F.expr(_SIMHASH_MD5_EXPR.format(hs=hashes_col_name))


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    lane: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup: 16-bit band blocking + Hamming verify.

    Two docs within Hamming distance ≤ 16·3/64 of each other share at least
    one of the four 16-bit bands (pigeonhole), so banding finds all pairs
    with distance ≤ 3 exactly, and pairs up to ``max_hamming`` best-effort —
    the classic scalable SimHash trade-off.
    Returns (id_a, id_b, hamming).

    ``lane="md5"`` swaps in the 60-bit engine-portable signature
    (``simhash60_md5``, 15-bit bands) so the whole pipeline is
    oracle-replicable; banding guarantees are the same pigeonhole argument.
    """
    nbits, nbands = (60, 4) if lane == "md5" else (64, 4)
    band_bits = nbits // nbands
    mask = (1 << band_bits) - 1
    base = spread(df).select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
    if lane == "md5":
        # staged: materialize the md5 token hashes before the 60-bit fold,
        # else the hash array re-evaluates once per bit (no CSE in lambdas)
        sigs = (
            base.select("id", token_hashes_md5("__toks").alias("__hs"))
            .select("id", simhash60_from_hashes("__hs").alias("simhash"))
            .cache()
        )
    else:
        sigs = base.select("id", simhash64("__toks").alias("simhash")).cache()
    banded = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), band_bits * b).bitwiseAND(F.lit(mask))
                    for b in range(nbands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


# -------------------------------------------------------- n-gram jaccard ----
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "source",
    n: int = 3,
    threshold: float = 0.5,
    method: str = "prefix",
) -> DataFrame:
    """EXACT n-gram Jaccard pairs (no recall loss) within a blocking key.
    Returns (id_a, id_b, jaccard_sim).

    ``method="prefix"`` (default) is an AllPairs/PPJoin-style prefix-
    filtered similarity join (Bayardo et al. 2007, "Scaling Up All Pairs
    Similarity Search"): J(A,B) >= τ forces |A∩B| >= ceil(τ·|A|), so two
    qualifying sets MUST share an element inside their first
    |S| − ceil(τ·|S|) + 1 shingles under any consistent global order.
    Ordering each document's shingles by ascending corpus document
    frequency (rarest first) makes the prefix elements rare, so the
    candidate join touches ~near-duplicate pairs instead of every
    same-block pair.  The candidate stages (df counts, prefix window,
    candidate join) all key on xxhash64(shingle) — 8-byte longs, never
    shingle strings (single-JVM footprint fix, r9 verdict item 5; see
    the inline no-recall-loss argument).  Candidates are then verified
    with the same exact STRING-space jaccard fold — output is
    bit-identical to the naive join.  The
    r6 sf1 rehearsal measured the naive blocked join at 14-16x wall
    growth for 10x rows (fixed block count → per-block m² enumeration);
    the prefix join's candidate count scales with the planted-duplicate
    volume instead.

    ``method="allpairs"`` keeps the naive per-block O(m²) join — the
    oracle-shaped reference path the equivalence tests compare against.
    """
    base = spread(df).select(
        F.col(id_col).alias("id"),
        *([F.col(block_col).alias("block")] if block_col else [F.lit(1).alias("block")]),
        shingles(text_col, n).alias("sh"),
    ).withColumn("sz", F.size("sh"))

    # the raw-jaccard-then-round contract shared by both methods (and by
    # minhash_dedup_pairs and the recursive-CTE oracle): a pair with raw
    # jaccard in [τ−5e-7, τ) must fail BOTH engines
    def _verify(pairs_with_sh):
        return (
            pairs_with_sh.select(
                "id_a",
                "id_b",
                jaccard(F.col("sh_a"), F.col("sh_b")).alias("__raw_j"),
            )
            .filter(F.col("__raw_j") >= threshold)
            .select("id_a", "id_b", F.round("__raw_j", 6).alias("jaccard_sim"))
        )

    if method == "allpairs":
        a, b = base.alias("a"), base.alias("b")
        return _verify(
            a.join(
                b,
                (F.col("a.block") == F.col("b.block"))
                & (F.col("a.id") < F.col("b.id")),
            ).select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.sh").alias("sh_a"),
                F.col("b.sh").alias("sh_b"),
            )
        )
    if method != "prefix":
        raise ValueError(f"unknown method {method!r}")

    base = materialize(
        base, "shingle sets: read by the explode and both verify join-backs"
    )
    # the candidate stages run in HASH space: every df-count, window and
    # candidate join below keys on xxhash64(shingle) — 8-byte longs —
    # so shingle STRINGS never cross an Exchange (the sf10 probe OOMed
    # the default single-JVM heap on the string-keyed shuffle; r9
    # verdict item 5).  No recall loss: a qualifying pair shares a real
    # prefix shingle, hence its hash; prefix lengths stay sized by the
    # STRING-set cardinality `sz`, and |S_hash| <= |S_str| with
    # s − floor(τ·s) + 1 non-decreasing in s, so an (astronomically
    # rare) in-doc hash collision only LENGTHENS the effective prefix —
    # collisions can add candidates, never drop one.  Verification below
    # stays in exact string space, so output is bit-identical
    # unconditionally.
    ex = base.select(
        "id", "block", "sz",
        F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("h"),
    )
    dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # prefix length |S| − floor(τ·|S|) + 1 >= the exact requirement
    # |S| − ceil(τ·|S|) + 1: floor-for-ceil only LENGTHENS the prefix,
    # which adds candidates but can never drop a qualifying pair
    pref = (
        ex.join(dfreq, "h")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy("df", "h")
            ),
        )
        .filter(
            F.col("rn")
            <= F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + 1
        )
        .select("id", "block", "h")
    )
    pa, pb = pref.alias("a"), pref.alias("b")
    cand = (
        pa.join(
            pb,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sh_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return _verify(cand.join(sh_a, "id_a").join(sh_b, "id_b"))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    rounds_out: list | None = None,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") → (u, label) with label = smallest node id in the component.

    Each round is two keyed shuffles (one per star op) and converges in
    O(log² n) rounds on ANY topology — a path graph collapses in ~log n
    rounds where min-label propagation needs diameter rounds (the r3
    verdict's unbounded-ish driver loop).  Convergence is detected by an
    order-free edge-set signature (count + endpoint sums + xxhash64 XOR)
    — ONE scalar-row aggregate over the just-materialized edge set, far
    cheaper than the extra two-shuffle round a sparser probe schedule
    would spend; each round's edge set is materialized, which truncates
    lineage (reliable storage when a checkpoint dir is set).

    * large-star: every node links its LARGER neighbors to the minimum
      of its closed neighborhood — long chains fold onto local minima
      without ever growing the edge set asymptotically.
    * small-star: every node and its smaller neighbors link to that
      minimum — the star flattens toward the component root.

    At the fixpoint the edge set IS the answer: one (node, component-min)
    edge per non-root node.  ``rounds_out``, if given, receives the round
    count (appended) so tests can pin the convergence bound.

    Node ids must be integral (the min-label ordering, the decimal
    signature sums, and the star comparisons all assume it) — a
    non-integral id column raises instead of silently casting to NULL
    and returning an empty labeling.  Raises RuntimeError if the
    fixpoint is not reached within ``max_iter`` rounds: a partially
    contracted edge set yields silently wrong labels, which a dedup
    caller would turn into silently kept duplicates.
    """
    integral = {"tinyint", "smallint", "int", "bigint", "long"}
    dtypes = dict(edges.dtypes)
    for c in (src, dst):
        dt = dtypes.get(c)
        if dt is None:
            raise TypeError(
                f"connected_components: column {c!r} not found in edges "
                f"(columns: {edges.columns})"
            )
        if dt not in integral:
            raise TypeError(
                f"connected_components needs integral node ids; column "
                f"{c!r} is {dt} — map ids to longs first "
                f"(e.g. zipWithUniqueId / a dense-rank dimension)"
            )
    # the raw cast edge list FIRST, so the (possibly expensive)
    # upstream edge computation runs exactly once; the node universe
    # must include self-loop-only nodes
    e0 = materialize(
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        ),
        "CC input edges: the node universe and the working set derive from them",
    )
    nodes = materialize(
        e0.select("u").unionByName(e0.select(F.col("v").alias("u"))).distinct(),
        "CC node universe",
    )
    # canonical orientation u > v (small-star form), self-loops dropped
    e = materialize(
        e0.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct(),
        "CC working edge set",
    )
    # order-free, overflow-free under ANSI: decimal endpoint sums, XOR
    # hash fold (edges are distinct, so XOR-of-hashes identifies the set)
    sig_expr = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        F.bit_xor(F.xxhash64("u", "v")).alias("sh"),
    ]

    def _fit_partitions(df: DataFrame, n_edges: int) -> DataFrame:
        # the probe hands us the edge count for free — right-size the
        # materialized set so a near-dup graph (thousands of edges) is
        # not scattered across 32 near-empty map tasks per shuffle, while
        # a web-scale graph keeps its parallelism (~500k edges/partition)
        want = max(1, min(df.rdd.getNumPartitions(), n_edges // 500_000 + 1))
        return df.coalesce(want) if want < df.rdd.getNumPartitions() else df

    # seeding the signature from the input costs one scalar job and buys
    # single-round convergence when the input is already a star
    prev_sig = tuple(e.agg(*sig_expr).first())
    e = _fit_partitions(e, prev_sig[0] or 0)
    rounds = 0
    converged = prev_sig[0] == 0  # empty edge set: nothing to contract
    for it in range(max_iter):
        if converged:
            break
        rounds = it + 1
        # large-star: m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # no distinct here: small-star's min-agg is duplicate-insensitive
        # and the final distinct dedups the emitted edges — saves one
        # full shuffle per round
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star on (u > v) edges: m = min(N(u) ∪ {u}) = min(N(u));
        # emit (u, m) and (v, m) for v ∈ N(u), v ≠ m
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss_nbr = (
            ls.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        e = materialize(
            mins2.select("u", F.col("m").alias("v")).unionByName(ss_nbr).distinct(),
            f"CC edge set, round {rounds}",
        )
        # fixpoint probe: one scalar-row aggregate over the materialized
        # edge set (the stars are monotone, so an unchanged signature is
        # an unchanged edge set modulo a 64-bit hash collision)
        sig = tuple(e.agg(*sig_expr).first())
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
        e = _fit_partitions(e, sig[0] or 0)
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach its fixpoint within "
            f"{max_iter} rounds ({prev_sig[0]} edges remain) — a partial "
            f"contraction labels wrongly; raise max_iter (O(log² n) "
            f"rounds suffice on any topology)"
        )
    if rounds_out is not None:
        rounds_out.append(rounds)
    # at the fixpoint each non-root u has exactly one (u, root) edge;
    # groupBy-min is a cheap invariant guard, roots/isolates label selves
    labels = e.groupBy("u").agg(F.min("v").alias("label"))
    roots = (
        nodes.join(labels.select("u"), "u", "left_anti")
        .withColumn("label", F.col("u"))
    )
    return labels.unionByName(roots)
