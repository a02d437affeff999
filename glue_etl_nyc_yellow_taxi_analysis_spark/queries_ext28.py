"""Extended inventory XXVIII — sketch-backed scale operators (round 6).

Five lanes a 100 TB curation pipeline leans on, each built from the
same deterministic cross-engine hash so the FULL pipeline value-hashes
against the DuckDB oracle (the md5-lane convention from
``operators/dedup.py``; primitives in ``operators/sketches.py``):

- ``q_bloom_semijoin``: Bloom-filter semi-join reduction — the runtime
  filter Spark's own ``spark.sql.optimizer.runtime.bloomFilter.enabled``
  injects, re-expressed as an auditable plan: build a 64 Kbit / k=3
  filter over the dim keys as a ≤2048-row (word, bits) table, broadcast
  it, and pre-filter the fact side with three O(1) bit probes before the
  exact join.  Output counts candidates / true matches / false positives
  AND pins the no-false-negative invariant the technique rests on.
- ``q_cms_heavy_hitters``: Count-Min-Sketch heavy hitters — frequency
  estimation in D×W = 4×1024 counters of FIXED size regardless of corpus
  size.  The sketch is built from pre-combined token counts (CMS is
  linear, so map-side partial counts then sketch-add is identical to
  streaming per-token increments — the shuffle carries one row per
  DISTINCT token, not per token occurrence).  Estimates are min-over-rows
  and the lane emits estimate vs exact so the one-sided error
  (est ≥ exact, always) is value-checked, not assumed.
- ``q_dp_noisy_counts``: differentially-private count release — a
  truncated two-sided-geometric (discrete Laplace) mechanism whose noise
  is drawn via the SEEDED hash-uniform inverse-CDF.  The CDF thresholds
  are computed ONCE in Python as integer literals shared by both the
  Spark plan and the SQL oracle, so no libm call happens at query time on
  either engine (the q_benford lesson: Java and C libm differ by ulps).
  true_n is emitted alongside for audit only — a production release would
  project it away.
- ``q_bloom_pruned_join``: the runtime filter as a COMPOSABLE JOIN
  (joins.bloom_pruned_join) — Bloom-pruned fact → exact join →
  aggregate, hashed against the PLAIN join as its oracle, proving the
  pruning semantically transparent.
- ``q_sketch_merge``: mergeability — per-batch CMS (cell-sum) and Bloom
  (bit-OR) merges must equal the one-pass whole-corpus sketch in every
  cell, the absorb-a-shard-without-rescan property.

Cross-engine hash: ``hash32(s)`` = first 8 hex chars of md5(s) as an
integer.  Spark evaluates it with ``conv(substring(md5(s),1,8),16,10)``;
DuckDB folds the hex digits with strpos — both sides are pinned equal by
tests/test_ext28.py before any lane builds on it.

Hot paths here replace per-occurrence work with per-distinct-key work +
a broadcast of a FIXED-size summary (2048-row bloom words, 4096-row CMS
counters, 65-entry CDF) — the shapes that survive a 1000-executor scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import joins, sketches, text
from .operators.materialize import materialize
from .registry import register
from .tables import DSUM_SQL, TOKS_SQL, _t, dsum


# Primitives live in operators/sketches.py (the reusable library
# surface); re-exported here because every ext28 oracle interpolates
# them and tests pin their cross-engine equality.
hash32 = sketches.hash32
DUCK_HASH32 = sketches.DUCK_HASH32


# ---------------------------------------------------------------------------
# q_bloom_semijoin
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 16  # filter bits
_BLOOM_K = 3        # hash functions
_BLOOM_WORD = sketches.BLOOM_WORD
_SEGMENT = "BUILDING"


def q_bloom_semijoin(spark, sf_dir):
    """Bloom-filter semi-join reduction: orders × building-segment
    customers.  The filter is a (word, bits) table — ≤ M/32 = 2048 rows
    whatever the dim cardinality — built with one keyed aggregate
    (sketches.bloom_build) and broadcast to the fact scan, where
    membership is k=3 O(1) bit probes (sketches.bloom_probe).  At 100 TB
    this is the shape that prunes a shuffle join's fact side before the
    exchange (Spark's runtime bloomFilter rewrite does exactly this;
    here the filter is explicit and auditable).  Output is one row:
    fact/candidate/true-match/false-positive counts, plus the
    false-NEGATIVE count the oracle pins at zero — a Bloom filter that
    drops a true match is broken, not merely imprecise."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _SEGMENT)
        .select(F.col("c_custkey").cast("string").alias("k"))
    )
    bloom = sketches.bloom_build(cust, "k", _BLOOM_M, _BLOOM_K)
    fact = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_custkey").cast("string").alias("k")
    )
    probed_fact = sketches.bloom_probe(
        fact, bloom, "k", _BLOOM_M, _BLOOM_K, out_col="cand"
    )
    truth = cust.select(F.col("k").alias("tk")).distinct()
    probed = probed_fact.join(
        F.broadcast(truth), F.col("k") == F.col("tk"), "left"
    ).select(
        F.col("cand"), F.col("tk").isNotNull().alias("is_match")
    )
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return probed.agg(
        F.count("*").alias("n_fact"),
        F.sum(F.when(F.col("cand"), one).otherwise(zero)).alias("n_candidates"),
        F.sum(F.when(F.col("is_match"), one).otherwise(zero)).alias("n_true"),
        F.sum(
            F.when(F.col("cand") & ~F.col("is_match"), one).otherwise(zero)
        ).alias("n_false_pos"),
        F.sum(
            F.when(F.col("is_match") & ~F.col("cand"), one).otherwise(zero)
        ).alias("n_false_neg"),
    )


# DuckDB replay of the identical pipeline.  `//` is DuckDB's integer
# division (Spark spells it DIV); both sides shift within 32-bit words.
def _duck_probe(j: int, key: str) -> str:
    seeded = f"'bloom{j}|' || {key}"
    return f"({DUCK_HASH32.format(s=seeded)} % {_BLOOM_M})"


SQL_BLOOM_SEMIJOIN = f"""
WITH dim AS (
  SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer
  WHERE c_mktsegment = '{_SEGMENT}'
), pos AS (
  SELECT unnest([{', '.join(_duck_probe(j, 'k') for j in range(_BLOOM_K))}]) AS pos
  FROM dim
), bloom AS (
  SELECT pos // {_BLOOM_WORD} AS w,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INTEGER)) AS bits
  FROM pos GROUP BY 1
), fact AS (
  SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS k,
         {', '.join(f"{_duck_probe(j, 'k')} AS p{j}" for j in range(_BLOOM_K))}
  FROM orders
), probed AS (
  SELECT f.k,
         {' AND '.join(
             f"((COALESCE(b{j}.bits, 0) >> CAST(f.p{j} % {_BLOOM_WORD} AS INTEGER)) & 1) = 1"
             for j in range(_BLOOM_K))} AS cand,
         EXISTS (SELECT 1 FROM dim d WHERE d.k = f.k) AS is_match
  FROM fact f
  {' '.join(
      f"LEFT JOIN bloom b{j} ON f.p{j} // {_BLOOM_WORD} = b{j}.w"
      for j in range(_BLOOM_K))}
)
SELECT COUNT(*) AS n_fact,
       CAST(COALESCE(SUM(CASE WHEN cand THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_candidates,
       CAST(COALESCE(SUM(CASE WHEN is_match THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_true,
       CAST(COALESCE(SUM(CASE WHEN cand AND NOT is_match THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_false_pos,
       CAST(COALESCE(SUM(CASE WHEN is_match AND NOT cand THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_false_neg
FROM probed
"""

register(q_bloom_semijoin, SQL_BLOOM_SEMIJOIN)


def q_bloom_pruned_join(spark, sf_dir):
    """The runtime filter as a composable operator
    (joins.bloom_pruned_join): orders pre-pruned by a Bloom filter over
    the building-segment customer keys, then exactly joined and
    aggregated.  The ORACLE IS THE PLAIN JOIN — no bloom anywhere in the
    SQL — so the value hash proves the pruning is semantically
    transparent (no false negatives, false positives removed by the
    exact join), which is the entire contract a runtime filter rests
    on."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _SEGMENT)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    joined = joins.bloom_pruned_join(orders, cust, on="o_custkey")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


SQL_BLOOM_PRUNED_JOIN = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {DSUM_SQL.format(col='o_totalprice')} AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{_SEGMENT}'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

register(q_bloom_pruned_join, SQL_BLOOM_PRUNED_JOIN)


# ---------------------------------------------------------------------------
# q_cms_heavy_hitters
# ---------------------------------------------------------------------------

_CMS_D = 4     # hash rows
_CMS_W = 1024  # counters per row
_CMS_TOPK = 20


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-Min-Sketch heavy hitters over document tokens.  The sketch
    is D×W = 4096 counters of FIXED size: the corpus-wide shuffle carries
    one row per DISTINCT token (CMS is linear, so adding pre-combined
    partial counts equals streaming increments), and the counter table
    broadcasts back to score candidates with min-over-rows.  The lane
    emits estimate AND exact count per token so the sketch's one-sided
    guarantee (est ≥ exact) is value-hashed; at 100 TB only the sketch
    and a bounded candidate heap survive, and `exact_n` is exactly the
    column you drop."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("exact_n"))
    )
    placed = sketches.cms_place(counts, "token", "exact_n", _CMS_D, _CMS_W)
    cms = sketches.cms_build(placed, "exact_n")
    est = (
        placed.join(F.broadcast(cms), ["r", "pos"])
        .groupBy("token")
        .agg(F.min("counter").alias("est_n"), F.min("exact_n").alias("exact_n"))
    )
    return (
        est.orderBy(F.desc("est_n"), "token")
        .limit(_CMS_TOPK)
        .select(
            "token",
            F.col("est_n").cast("long").alias("est_n"),
            F.col("exact_n").cast("long").alias("exact_n"),
            (F.col("est_n") - F.col("exact_n")).cast("long").alias("overcount"),
        )
    )


SQL_CMS_HEAVY_HITTERS = f"""
WITH counts AS (
  SELECT token, COUNT(*) AS exact_n
  FROM (SELECT unnest({TOKS_SQL.format(c='text')}) AS token FROM documents)
  GROUP BY token
), placed AS (
  SELECT token, exact_n, r,
         {DUCK_HASH32.format(s="'cms' || r || '|' || token")} % {_CMS_W} AS pos
  FROM counts, range(0, {_CMS_D}) t(r)
), cms AS (
  SELECT r, pos, SUM(exact_n) AS counter FROM placed GROUP BY r, pos
), est AS (
  SELECT p.token, MIN(c.counter) AS est_n, MIN(p.exact_n) AS exact_n
  FROM placed p JOIN cms c ON p.r = c.r AND p.pos = c.pos
  GROUP BY p.token
)
SELECT token, CAST(est_n AS BIGINT) AS est_n,
       CAST(exact_n AS BIGINT) AS exact_n,
       CAST(est_n - exact_n AS BIGINT) AS overcount
FROM est ORDER BY est_n DESC, token LIMIT {_CMS_TOPK}
"""

register(q_cms_heavy_hitters, SQL_CMS_HEAVY_HITTERS)


def q_sketch_merge(spark, sf_dir):
    """Sketch MERGEABILITY — the property that makes sketches the
    incremental/distributed statistics path: a CMS built per batch
    merges by cell-wise SUM, a Bloom filter by word-wise bit OR, and the
    merge must equal the sketch built over the union in one pass.  The
    lane splits documents by doc_id parity (stand-in for "yesterday's
    batch + today's"), builds per-half sketches, merges, and emits
    cell/word-level equality counts alongside totals — a merge that
    drops a cell, double-counts, or mixes hash rows fails the value
    hash.  At 100 TB this is how a standing corpus sketch absorbs a new
    shard without rescanning history."""
    docs = _t(spark, sf_dir, "documents")
    # ONE scan+tokenize pass: the three CMS builds (even half, odd half,
    # whole) each re-ran scan+tokenize+explode (and the three Bloom
    # builds re-scanned for ids) — 6 corpus scans per run.  The shared
    # exact base is the per-(half, token) count table; the whole-corpus
    # counts are its integer rollup, so every sketch derives from it
    # bit-identically.
    tc = materialize(
        docs.select(
            (F.col("doc_id") % 2 == 0).alias("even"),
            F.explode(text.tokens("text")).alias("token"),
        )
        .groupBy("even", "token")
        .agg(F.count("*").alias("n")),
        "per-(half, token) counts: every sketch derives from them",
    )

    def cms_of(counts):
        placed = sketches.cms_place(counts, "token", "n", _CMS_D, _CMS_W)
        return sketches.cms_build(placed, "n")

    merged_cms = (
        cms_of(tc.filter("even").select("token", "n"))
        .unionByName(cms_of(tc.filter("NOT even").select("token", "n")))
        .groupBy("r", "pos")
        .agg(F.sum("counter").alias("counter"))
    )
    whole_cms = cms_of(
        tc.groupBy("token").agg(F.sum("n").cast("bigint").alias("n"))
    )
    cms_cmp = merged_cms.alias("m").join(
        whole_cms.alias("w"), ["r", "pos"], "full"
    ).select(
        F.coalesce(F.col("m.counter"), F.lit(0)).alias("mc"),
        F.coalesce(F.col("w.counter"), F.lit(0)).alias("wc"),
    )

    ids = materialize(
        docs.select(
            (F.col("doc_id") % 2 == 0).alias("even"),
            F.col("doc_id").cast("string").alias("k"),
        ),
        "doc ids: read by the three Bloom builds",
    )
    keys = ids.select("k")
    even_k = ids.filter("even").select("k")
    odd_k = ids.filter("NOT even").select("k")
    merged_bloom = (
        sketches.bloom_build(even_k, "k")
        .unionByName(sketches.bloom_build(odd_k, "k"))
        .groupBy("w")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    whole_bloom = sketches.bloom_build(keys, "k")
    bloom_cmp = merged_bloom.alias("m").join(
        whole_bloom.alias("w"), ["w"], "full"
    ).select(
        F.coalesce(F.col("m.bits"), F.lit(0)).alias("mb"),
        F.coalesce(F.col("w.bits"), F.lit(0)).alias("wb"),
    )

    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    # COALESCE: an empty corpus has 0-cell sketches and the sums over
    # zero rows must report 0, not NULL (degenerate-corpus sweep find)
    cms_row = cms_cmp.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.coalesce(
            F.sum(F.when(F.col("mc") == F.col("wc"), one).otherwise(zero)),
            zero,
        ).alias("n_equal"),
        F.coalesce(F.sum("wc"), zero).cast("long").alias("total_mass"),
    ).select(F.lit("cms").alias("sketch"), "n_cells", "n_equal", "total_mass")
    bloom_row = bloom_cmp.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.coalesce(
            F.sum(F.when(F.col("mb") == F.col("wb"), one).otherwise(zero)),
            zero,
        ).alias("n_equal"),
        F.coalesce(F.sum(F.expr("bit_count(wb)")), zero)
        .cast("long")
        .alias("total_mass"),
    ).select(F.lit("bloom").alias("sketch"), "n_cells", "n_equal", "total_mass")
    return cms_row.unionByName(bloom_row)


def _duck_cms_of(src: str) -> str:
    """DuckDB CMS builder over a (token, n) relation expression."""
    return f"""
  SELECT r, {DUCK_HASH32.format(s="'cms' || r || '|' || token")} % {_CMS_W} AS pos,
         SUM(n) AS counter
  FROM ({src}) , range(0, {_CMS_D}) t(r)
  GROUP BY 1, 2
"""


def _duck_bloom_of(src: str) -> str:
    """DuckDB Bloom builder over a single-column (k) relation expression."""
    probes = ", ".join(
        f"({DUCK_HASH32.format(s=chr(39) + f'bloom{j}|' + chr(39) + ' || k')}"
        f" % {_BLOOM_M})"
        for j in range(_BLOOM_K)
    )
    return f"""
  SELECT pos // {_BLOOM_WORD} AS w,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INTEGER)) AS bits
  FROM (SELECT unnest([{probes}]) AS pos FROM ({src}))
  GROUP BY 1
"""


SQL_SKETCH_MERGE = f"""
WITH toks AS (
  SELECT doc_id % 2 = 0 AS even, unnest({TOKS_SQL.format(c='text')}) AS token
  FROM documents
),
counts_even AS (SELECT token, COUNT(*) AS n FROM toks WHERE even GROUP BY token),
counts_odd  AS (SELECT token, COUNT(*) AS n FROM toks WHERE NOT even GROUP BY token),
counts_all  AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
cms_even AS ({_duck_cms_of('SELECT * FROM counts_even')}),
cms_odd  AS ({_duck_cms_of('SELECT * FROM counts_odd')}),
cms_all  AS ({_duck_cms_of('SELECT * FROM counts_all')}),
cms_merged AS (
  SELECT r, pos, SUM(counter) AS counter
  FROM (SELECT * FROM cms_even UNION ALL SELECT * FROM cms_odd)
  GROUP BY r, pos
),
cms_cmp AS (
  SELECT COALESCE(m.counter, 0) AS mc, COALESCE(w.counter, 0) AS wc
  FROM cms_merged m FULL JOIN cms_all w ON m.r = w.r AND m.pos = w.pos
),
keys_even AS (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents WHERE doc_id % 2 = 0),
keys_odd  AS (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents WHERE doc_id % 2 <> 0),
keys_all  AS (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents),
bloom_even AS ({_duck_bloom_of('SELECT * FROM keys_even')}),
bloom_odd  AS ({_duck_bloom_of('SELECT * FROM keys_odd')}),
bloom_all  AS ({_duck_bloom_of('SELECT * FROM keys_all')}),
bloom_merged AS (
  SELECT w, bit_or(bits) AS bits
  FROM (SELECT * FROM bloom_even UNION ALL SELECT * FROM bloom_odd)
  GROUP BY w
),
bloom_cmp AS (
  SELECT COALESCE(m.bits, 0) AS mb, COALESCE(a.bits, 0) AS wb
  FROM bloom_merged m FULL JOIN bloom_all a ON m.w = a.w
)
SELECT 'cms' AS sketch,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(COALESCE(SUM(CASE WHEN mc = wc THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_equal,
       CAST(COALESCE(SUM(wc), 0) AS BIGINT) AS total_mass
FROM cms_cmp
UNION ALL
SELECT 'bloom' AS sketch,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(COALESCE(SUM(CASE WHEN mb = wb THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_equal,
       CAST(COALESCE(SUM(bit_count(wb)), 0) AS BIGINT) AS total_mass
FROM bloom_cmp
"""

register(q_sketch_merge, SQL_SKETCH_MERGE)


def q_stream_bloom_admission(spark, sf_dir):
    """Streaming admission against the STANDING Bloom index: the day's
    arrivals (doc_id ≡ 0 mod 3) flow through a file-source stream and
    probe the base corpus's content-fingerprint Bloom filter via
    stream-static broadcast joins (stateless — the ≤2048-row filter
    broadcasts into every micro-batch; no watermark, no state store).
    ``bloom_hit = 0`` admits the document WITHOUT touching history —
    sound because a Bloom filter has no false negatives, which the
    output proves per-row by carrying ``truly_seen`` (the exact answer)
    alongside: a row with hit=0 and seen=1 is impossible, and the oracle
    hash pins that.  The corpus has no cross-document exact duplicates,
    so the base ALSO indexes the doc_id ≡ 0 mod 9 slice of the arrivals
    (re-delivery: the same document arriving again — the exact event
    admission control exists to catch), guaranteeing both verdict paths
    are exercised.  This is jobs/corpus_stats.py's persisted index in
    its operational role."""
    from .streaming.ingest import drain, stream_table

    docs = _t(spark, sf_dir, "documents")
    base = (
        docs.filter("doc_id % 3 != 0 OR doc_id % 9 = 0")
        .select(F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp"))
        .distinct()
    )
    bloom = sketches.bloom_build(base, "fp", _BLOOM_M, _BLOOM_K)

    s_fp = (
        stream_table(spark, sf_dir, "documents")
        .filter("doc_id % 3 = 0")
        .select(
            "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp")
        )
    )
    probed = sketches.bloom_probe(s_fp, bloom, "fp", _BLOOM_M, _BLOOM_K, out_col="hit")
    truth = base.select(F.col("fp").alias("tfp"))
    ver = probed.join(
        F.broadcast(truth), probed.fp == truth.tfp, "left"
    ).select(
        "doc_id",
        F.when(F.col("hit"), 1).otherwise(0).cast("long").alias("bloom_hit"),
        F.when(F.col("tfp").isNotNull(), 1).otherwise(0).cast("long").alias(
            "truly_seen"
        ),
    )
    return drain(ver, "sg_stream_bloom_admission")


_FP_EXPR = "md5(COALESCE(text, ''))"

SQL_STREAM_BLOOM_ADMISSION = f"""
WITH base AS (
  SELECT DISTINCT md5(COALESCE(text, '')) AS fp FROM documents
  WHERE doc_id % 3 <> 0 OR doc_id % 9 = 0
), pos AS (
  SELECT unnest([{', '.join(_duck_probe(j, 'fp') for j in range(_BLOOM_K))}]) AS pos
  FROM base
), bloom AS (
  SELECT pos // {_BLOOM_WORD} AS w,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INTEGER)) AS bits
  FROM pos GROUP BY 1
), arr AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS fp,
         {', '.join(f"{_duck_probe(j, _FP_EXPR)} AS p{j}" for j in range(_BLOOM_K))}
  FROM documents WHERE doc_id % 3 = 0
), probed AS (
  SELECT a.doc_id, a.fp,
         {' AND '.join(
             f"((COALESCE(b{j}.bits, 0) >> CAST(a.p{j} % {_BLOOM_WORD} AS INTEGER)) & 1) = 1"
             for j in range(_BLOOM_K))} AS hit
  FROM arr a
  {' '.join(
      f"LEFT JOIN bloom b{j} ON a.p{j} // {_BLOOM_WORD} = b{j}.w"
      for j in range(_BLOOM_K))}
)
SELECT doc_id,
       CAST(CASE WHEN hit THEN 1 ELSE 0 END AS BIGINT) AS bloom_hit,
       CAST(CASE WHEN EXISTS (SELECT 1 FROM base b WHERE b.fp = probed.fp)
                 THEN 1 ELSE 0 END AS BIGINT) AS truly_seen
FROM probed
"""

register(q_stream_bloom_admission, SQL_STREAM_BLOOM_ADMISSION)


# ---------------------------------------------------------------------------
# q_dp_noisy_counts
# ---------------------------------------------------------------------------

_DP_EPS = 1.0
_DP_Z = 32  # noise truncation: |z| ≤ Z


def _dp_thresholds() -> list[tuple[int, int]]:
    """Ext28's instantiation of the shared inverse-CDF (see
    sketches.dp_discrete_laplace_thresholds for the mechanism notes)."""
    return sketches.dp_discrete_laplace_thresholds(_DP_EPS, _DP_Z)


def q_dp_noisy_counts(spark, sf_dir):
    """Differentially-private per-type event counts (eps=1, sensitivity 1,
    truncated discrete Laplace).  The noise draw is the seeded
    hash-uniform of the group key pushed through a 65-entry integer
    inverse-CDF (sketches.dp_noise) — deterministic, shuffle-free past
    the count itself, and identical on both engines because the CDF is
    shared literals, not libm calls.  true_n stays in the output for the
    oracle audit; the production release projects it away."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("true_n"))
    noise = sketches.dp_noise("event_type", _DP_EPS, _DP_Z, seed="dp5")
    return counts.select(
        "event_type",
        F.col("true_n").cast("long").alias("true_n"),
        noise.alias("noise_z"),
        (F.col("true_n") + noise).cast("long").alias("noisy_n"),
    )


def _dp_case_sql(u_expr: str) -> str:
    arms = " ".join(
        f"WHEN {u_expr} < {t} THEN {z}" for z, t in _dp_thresholds()
    )
    return f"CASE {arms} ELSE {_DP_Z} END"


SQL_DP_NOISY_COUNTS = f"""
WITH counts AS (
  SELECT event_type, COUNT(*) AS true_n FROM events GROUP BY event_type
), drawn AS (
  SELECT event_type, true_n,
         {_dp_case_sql(DUCK_HASH32.format(s="'dp5|' || event_type"))} AS z
  FROM counts
)
SELECT event_type, CAST(true_n AS BIGINT) AS true_n,
       CAST(z AS BIGINT) AS noise_z,
       CAST(true_n + z AS BIGINT) AS noisy_n
FROM drawn
"""

register(q_dp_noisy_counts, SQL_DP_NOISY_COUNTS)
