"""Extended inventory XIII — oracle-checked twins of the hash-family
LLM-pipeline operators.

The production MinHash / SimHash / IVF queries use xxhash64 and float-mean
centroids (the throughput lane) and are therefore rows-only at the driver
gate.  These queries run the SAME pipelines through engine-portable lanes
(md5-derived hashes, lowest-id representative centroids) so every stage —
signature, banding, candidate join, verification — is replicated by a
DuckDB oracle and value-hash checked end-to-end.  They are evidence
queries, not replacements: dedup.py / similarity.py docstrings record the
lane trade-off.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import dedup, similarity
from .registry import register
from .tables import _COSINE_SQL, TOKS_SQL, _t


# --------------------------------------------------------------------------
# MinHash-LSH near-dup — md5 lane, fully oracle-checked
# --------------------------------------------------------------------------

_MH_K = 12          # hash functions
_MH_BANDS = 4       # → 3 rows per band
_MH_N = 3           # shingle width
_MH_TAU = 0.5


def q_minhash_dedup_oracle(spark, sf_dir):
    """MinHash-LSH near-dup pairs on the md5 lane: signatures are
    lexicographic minima of md5('<seed>|'+shingle), band keys are md5 of
    the band slice, candidates come from the band-bucket self-join, and
    survivors are exact-Jaccard verified — identical plan shape to
    q_dedup_fuzzy_minhash (operators/dedup.py), every value replicable by
    the SQL oracle."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(
        docs,
        num_hashes=_MH_K,
        bands=_MH_BANDS,
        shingle_n=_MH_N,
        threshold=_MH_TAU,
        lane="md5",
    )


_SHINGLES_SQL = (
    "list_distinct(list_transform("
    "range(0, greatest(len(toks) - {n}, 0) + 1), "
    "i -> array_to_string(list_slice(toks, i + 1, i + {n}), ' ')))"
).format(n=_MH_N)

_MINHASH_COLS_SQL = ",\n           ".join(
    f"list_min(list_transform(sh, s -> md5('{i}|' || s))) AS h{i}"
    for i in range(_MH_K)
)

_BAND_ROWS = _MH_K // _MH_BANDS
_BAND_COLS_SQL = ",\n           ".join(
    "md5(" + " || '|' || ".join(f"h{b * _BAND_ROWS + r}" for r in range(_BAND_ROWS)) + f") AS band{b}"
    for b in range(_MH_BANDS)
)
_BAND_UNION_SQL = "\n        UNION ALL\n        ".join(
    f"SELECT id, sh, {b} AS band_idx, band{b} AS band_hash FROM bands"
    for b in range(_MH_BANDS)
)

def sql_minhash_pairs(tau: float) -> str:
    """md5-lane MinHash-LSH verified-pairs SQL, parameterized on the
    verification threshold (shared by the τ=0.5 dedup oracle and the
    threshold-sweep dial in queries_ext25)."""
    return f"""
WITH base AS (
    SELECT doc_id AS id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), shs AS (
    SELECT id, {_SHINGLES_SQL} AS sh FROM base
), sigs AS (
    SELECT id, sh,
           {_MINHASH_COLS_SQL}
    FROM shs
), bands AS (
    SELECT id, sh,
           {_BAND_COLS_SQL}
    FROM sigs
), banded AS (
    SELECT id, sh, band_idx, band_hash FROM (
        {_BAND_UNION_SQL}
    )
), cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
)
SELECT id_a, id_b, ROUND(jaccard_raw, 6) AS jaccard_sim FROM (
    SELECT id_a, id_b,
           CASE WHEN len(list_distinct(list_concat(sh_a, sh_b))) > 0
                THEN CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                     / len(list_distinct(list_concat(sh_a, sh_b)))
                ELSE 0.0 END AS jaccard_raw
    FROM cand)
-- filter on the RAW jaccard, round only for output — matching
-- dedup.minhash_dedup_pairs' order of operations (a pair with raw
-- jaccard in [τ-5e-7, τ) must fail BOTH engines)
WHERE jaccard_raw >= {tau}
"""


SQL_MINHASH_DEDUP_ORACLE = sql_minhash_pairs(_MH_TAU)

register(q_minhash_dedup_oracle, SQL_MINHASH_DEDUP_ORACLE)


# --------------------------------------------------------------------------
# SimHash near-dup — 60-bit md5 lane, fully oracle-checked
# --------------------------------------------------------------------------

def q_simhash_oracle(spark, sf_dir):
    """SimHash banded near-dup on the md5 lane: 60-bit majority-vote
    signature over md5-derived token hashes, 15-bit band blocking,
    bit_count(xor) Hamming verify ≤ 8 — q_dedup_simhash's plan with every
    intermediate engine-portable."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_dedup_pairs(docs, max_hamming=8, lane="md5")


_TOKHASH_SQL = "list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)"

_SIMHASH60_SQL = """
list_sum(list_transform(range(0, 60), b ->
    CASE WHEN COALESCE(list_sum(list_transform(hs, h ->
               CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
         THEN (1::BIGINT << b) ELSE 0 END))
"""

_SIM_BAND_UNION_SQL = "\n        UNION ALL\n        ".join(
    f"SELECT id, simhash, {b} AS band_idx, (simhash >> {15 * b}) & 32767 AS band_val FROM sigs"
    for b in range(4)
)

SQL_SIMHASH_ORACLE = f"""
WITH base AS (
    SELECT doc_id AS id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), hashed AS (
    SELECT id, {_TOKHASH_SQL} AS hs FROM base
), sigs AS (
    SELECT id, CAST({_SIMHASH60_SQL} AS BIGINT) AS simhash FROM hashed
), banded AS (
    SELECT id, simhash, band_idx, band_val FROM (
        {_SIM_BAND_UNION_SQL}
    )
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
"""

register(q_simhash_oracle, SQL_SIMHASH_ORACLE)


# --------------------------------------------------------------------------
# IVF ANN — deterministic representative centroids, fully oracle-checked
# --------------------------------------------------------------------------

def q_ann_ivf_oracle(spark, sf_dir):
    """IVF ANN with deterministic coarse quantization: per-label
    representative = lowest-vec_id member (no float-mean summation), probe
    the 3 nearest representatives per query on ROUNDED cosine, exact top-10
    within probed clusters — q_similarity_ann_ivf's two-stage plan made
    bit-replicable (the same recall<1 approximation, now provable)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(emb, queries, k=10, nprobe=3, centroid_mode="rep")


SQL_ANN_IVF_ORACLE = f"""
WITH reps AS (
    SELECT label AS cluster, embedding AS centroid FROM (
        SELECT label, embedding,
               row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
        FROM embeddings) WHERE rn = 1
), q AS (
    SELECT vec_id AS query_id, embedding AS qvec
    FROM embeddings WHERE vec_id IN (0, 1, 2)
), probed AS (
    SELECT query_id, qvec, cluster FROM (
        SELECT q.query_id, q.qvec, r.cluster,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_COSINE_SQL.format(a='q.qvec', b='r.centroid')} DESC,
                            r.cluster) AS probe_rank
        FROM q, reps r) WHERE probe_rank <= 3
), scored AS (
    SELECT p.query_id, e.vec_id,
           {_COSINE_SQL.format(a='e.embedding', b='p.qvec')} AS cosine_sim
    FROM embeddings e JOIN probed p ON e.label = p.cluster
    WHERE e.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, vec_id) AS rank
    FROM scored)
WHERE rank <= 10
"""

register(q_ann_ivf_oracle, SQL_ANN_IVF_ORACLE)
