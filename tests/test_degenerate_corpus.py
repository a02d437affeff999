"""Degenerate-corpus agreement gate over the ENTIRE documents-only
registry.

One sweep of this gate (round 6) found nine real defects across seven
lanes in one afternoon: ANSI div-by-zero crashes in the zipf/heaps
regressions, length moments and LSA power iteration; a BPE trainer
crash on a pair-less vocabulary; and NULL-vs-zero / phantom-''-row
contract gaps in doc_chunk, the quality funnel, sketch merges and the
span-mask plan.  The lane list is DERIVED from the registry (any
oracle that reads only `documents`), so new lanes are covered on
arrival without editing this file.

Corpora: the all-NULL doc (every optional field absent) and a mixed
corpus where the ONLY source of ''-tokens/shingles is a NULL-text doc
— the two shapes that exposed every defect above.
"""

import os
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from glue_etl_nyc_yellow_taxi_analysis_spark.queries import ORACLE, QUERIES

# byte-positional codec oracles (ASCII replay) and streaming lanes
# (startup cost, covered by their own drain tests) are out of scope
_SKIP = {
    "q_wav_decode", "q_bmp_decode", "q_y4m_decode", "q_audio_energy_windows",
    "q_image_blockhash_neardup", "q_video_scene_cut", "q_multimodal_features",
    "q_multimodal_framesample", "q_multimodal_resize", "q_binaryfile_source",
    "q_binary_funcs", "q_stream_bloom_admission", "q_stream_dedup_incremental",
    "q_stream_quality_filter", "q_csv_roundtrip",
}

_TABLES = r"\b(region|nation|customer|supplier|part|orders|lineitem|events|embeddings)\b"


def _docs_only_lanes():
    out = []
    for name, sql in ORACLE.items():
        if sql is None or name in _SKIP:
            continue
        if not re.search(_TABLES, sql) and "documents" in sql:
            out.append(name)
    return sorted(out)


_CORPORA = {
    "allnull": [(None, None, None, None)],
    "mix": [
        (None, None, None, None),
        ("", "en", "s1", 0),
        ("a", None, "s1", 1),
        ("dup dup dup", "en", None, 11),
        ("spark join fast", "de", "s2", 15),
        ("spark join fast", "de", "s2", None),
    ],
}


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v) if v == v else "nan"
    return str(v)


@pytest.fixture(scope="module", params=sorted(_CORPORA))
def corpus_dir(request, tmp_path_factory):
    rows = _CORPORA[request.param]
    d = str(tmp_path_factory.mktemp(f"degen_{request.param}"))
    docs = pa.table(
        {
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": pa.array([r[0] for r in rows], pa.string()),
            "lang": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array([r[3] for r in rows], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(d, "documents.parquet"))
    emb = pa.table(
        {
            "vec_id": pa.array(range(4), pa.int64()),
            "embedding": pa.array(
                [[0.1] * 8, [0.2] * 8, [-0.1] * 8, [0.3] * 8],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0, 0, 1, 1], pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(d, "embeddings.parquet"))
    return d


def _agree(spark, d, name, views):
    df = QUERIES[name](spark, d)
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    s_lines = sorted(
        "|".join(_norm(r[i]) for i in order) for r in df.collect()
    )
    con = duckdb.connect()
    for t in views:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    res = con.execute(ORACLE[name])
    o_cols = [c[0] for c in res.description]
    oo = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    d_lines = sorted(
        "|".join(_norm(r[i]) for i in oo) for r in res.fetchall()
    )
    assert sorted(cols) == sorted(o_cols)
    assert s_lines == d_lines


@pytest.mark.parametrize("name", _docs_only_lanes())
def test_degenerate_corpus_agreement(spark, corpus_dir, name):
    _agree(spark, corpus_dir, name, ("documents", "embeddings"))


# ---------------------------------------------------------------------------
# events half — the second sweep (round 6) found five more: a pagerank
# ZeroDivisionError on an edgeless graph, a KLL quantile crash on an
# all-NULL value group, NULL-vs-zero bounds verdicts, an observe-metrics
# float(None) crash, and a NULL-group join drop in the sketch rollup.
# ---------------------------------------------------------------------------

import datetime as _dt

_T = _dt.datetime(2024, 1, 1, 10, 0, 0)
_EV_SKIP = {
    # streaming lanes: startup cost, covered by their own drain tests
    "q_stream_ingest", "q_stream_dedup", "q_stream_sessions",
    "q_stream_stateful", "q_stream_join", "q_stream_static_join",
    "q_stream_upsert_apply", "q_session_window_native",
    # write-path lanes need a warehouse/catalog, not just a parquet dir
    "q_partitioned_write_prune", "q_warehouse_roundtrip",
    "q_warehouse_load_plan",
    # dynamic pivot: schema follows the DATA by declared contract — its
    # fixed oracle only matches the gate fixture's event-type set
    "q_pivot_dynamic",
}

_EVENT_CORPORA = {
    "ev_allnull": [(None, None, None, None, None)],
    "ev_ties": [
        (_T, 1, "view", 1.0, "{}"),
        (_T, 1, "view", 1.0, "{}"),
        (_T, 1, "click", None, None),
        (None, 1, "view", 2.5, "{}"),
        (None, None, None, None, None),
        (_T + _dt.timedelta(seconds=1801), 2, "purchase", 0.0, "{}"),
    ],
}


def _events_only_lanes():
    tables = r"\b(region|nation|customer|supplier|part|orders|lineitem|documents|embeddings)\b"
    out = []
    for name, sql in ORACLE.items():
        if sql is None or name in _EV_SKIP:
            continue
        if not re.search(tables, sql) and "events" in sql:
            out.append(name)
    return sorted(out)


@pytest.fixture(scope="module", params=sorted(_EVENT_CORPORA))
def events_dir(request, tmp_path_factory):
    rows = _EVENT_CORPORA[request.param]
    d = str(tmp_path_factory.mktemp(f"degen_{request.param}"))
    ev = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array([r[4] for r in rows], pa.string()),
        }
    )
    pq.write_table(ev, os.path.join(d, "events.parquet"))
    return d


@pytest.mark.parametrize("name", _events_only_lanes())
def test_degenerate_events_agreement(spark, events_dir, name):
    _agree(spark, events_dir, name, ("events",))


# ---------------------------------------------------------------------------
# embeddings half — the third sweep (round 6) found five crash classes:
# ANSI div-by-zero in the outlier z-score (zero norm-variance) and the
# PCA normalize (all-zero matrix), element_at probing an EMPTY vector
# (quantize/normalize — sequence(0, -1) DESCENDS in Spark), and toDF
# type inference failing on an empty centroid list.
# ---------------------------------------------------------------------------

# documented corpus-contract lanes (the q_pivot_dynamic class):
# q_kmeans_train's bounds oracle pins the gate fixture's k=8/nonzero
# norms; q_mmr_rerank's fail-soft drops unrankable candidates its CTE
# oracle would rank with NULL scores.  The ragged 'em_mixed' corpus
# additionally excludes the fixed-dim stack (ANN / PCA / the kmeans
# decimal twin) — ragged vectors are out of the embedding-table schema
# contract (q_embedding_dim_stats is the ragged-safe profiler).
_EMB_SKIP = {"q_kmeans_train", "q_mmr_rerank"}
_EMB_RAGGED_SKIP = _EMB_SKIP | {
    "q_ann_lsh_oracle", "q_ann_ivf_oracle", "q_ann_recall_oracle",
    "q_kmeans_oracle", "q_pca_power",
}

_EMB_CORPORA = {
    "em_one": ([([0.1] * 8, 0)], _EMB_SKIP),
    "em_zeros": ([([0.0] * 8, 0), ([0.0] * 8, 1)], _EMB_SKIP),
    "em_empty": ([([], 0)], _EMB_SKIP),
    "em_mixed": (
        [
            ([], 0),
            ([0.0] * 8, 1),
            ([0.1] * 8, 0),
            ([0.1] * 8, 0),
            ([-0.2] * 8, 1),
            ([0.1, 0.2], 2),
        ],
        _EMB_RAGGED_SKIP,
    ),
}


def _emb_only_lanes():
    tables = r"\b(region|nation|customer|supplier|part|orders|lineitem|documents|events)\b"
    out = []
    for name, sql in ORACLE.items():
        if sql is None:
            continue
        if not re.search(tables, sql) and "embeddings" in sql:
            out.append(name)
    return sorted(out)


@pytest.fixture(scope="module", params=sorted(_EMB_CORPORA))
def emb_dir(request, tmp_path_factory):
    rows, _ = _EMB_CORPORA[request.param]
    d = str(tmp_path_factory.mktemp(f"degen_{request.param}"))
    emb = pa.table(
        {
            "vec_id": pa.array(range(len(rows)), pa.int64()),
            "embedding": pa.array(
                [r[0] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[1] for r in rows], pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(d, "embeddings.parquet"))
    return d, _EMB_CORPORA[request.param][1]


@pytest.mark.parametrize("name", _emb_only_lanes())
def test_degenerate_embeddings_agreement(spark, emb_dir, name):
    d, skip = emb_dir
    if name in skip:
        pytest.skip("documented corpus-contract lane for this corpus")
    _agree(spark, d, name, ("embeddings",))
