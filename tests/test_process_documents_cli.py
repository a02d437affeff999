"""End-to-end document-bucket CLI (jobs/process_documents): mixed
PDF/DOCX/HTML/Markdown payloads sniffed by magic, extracted by the
matching codec, unified + accounted.  Pins format-invariance (the same
text through PDF and DOCX extracts identically) and the CPython
HTML/Markdown extractors against their Spark-expression twins."""

import pytest

pytestmark = pytest.mark.slow  # multi-session e2e; excluded from the driver-window run

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.operators import docx, html as H, markdown as M, pdf
from glue_etl_nyc_yellow_taxi_analysis_spark.jobs.process_documents import (
    extract_documents,
    synth_mixed_documents,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_process_documents_cli(spark, sf_dir, tmp_path):
    work = str(tmp_path)
    out = f"{work}/out"
    notify = f"{work}/state.jsonl"
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.process_documents",
            "--synth-from-docs", f"{sf_dir}/documents.parquet",
            "--output", out,
            "--notify-jsonl", notify,
        ],
        cwd=work,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    card = json.loads(
        [l for l in r.stdout.splitlines() if l.startswith("documents card: ")][0]
        .removeprefix("documents card: ")
    )
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert card["n_payloads"] == n
    assert set(card["kinds"]) == {"pdf", "docx", "html", "markdown"}
    assert card["extracted"] == n
    table = spark.read.parquet(f"{out}/documents.parquet")
    assert table.count() == n
    assert table.filter(F.col("text_md5").isNull()).count() == 0
    states = [json.loads(l) for l in open(notify)]
    assert states[-1]["state"] == "SUCCEEDED"
    assert states[-1]["job"] == "process-documents"


def test_format_invariance_pdf_vs_docx(spark, sf_dir):
    """The SAME source text through the PDF codec and the DOCX codec
    must extract to the SAME string."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    rows = []
    for d, t in texts.items():
        words = (t or "").split(" ")
        units = [" ".join(words[i : i + 40]) for i in range(0, len(words), 40)] or [""]
        rows.append((d * 10, bytearray(pdf.pdf_container([pdf.split_lines(u) for u in units]))))
        rows.append((d * 10 + 1, bytearray(docx.docx_container(units))))
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in extract_documents(media).collect()}
    for d, t in texts.items():
        p, x = got[d * 10], got[d * 10 + 1]
        assert (p["kind"], x["kind"]) == ("pdf", "docx")
        assert p["text"] == x["text"] == (t or "")
        assert p["text_md5"] == x["text_md5"]


def test_python_extractors_match_spark_twins(spark, sf_dir):
    """The CPython HTML/Markdown extract paths (stdlib re) must agree
    byte-for-byte with the Spark-expression twins (Java regex) on the
    synth corpus — soup rows included."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    via_spark = {
        r["doc_id"]: (r["h"], r["m"])
        for r in docs.select(
            "doc_id",
            H.extract_text_col(
                H.synth_html_col(F.col("doc_id"), F.col("text"), F.col("source"))
            ).alias("h"),
            M.extract_md_col(
                M.synth_md_col(F.col("doc_id"), F.col("text"))
            ).alias("m"),
        ).collect()
    }
    for r in docs.collect():
        d, t, s = r["doc_id"], r["text"], r["source"]
        assert H.extract_text_py(H.synth_html(d, t, s)) == via_spark[d][0], d
        assert M.extract_md_py(M.synth_md(d, t)) == via_spark[d][1], d


def test_foreign_zip_and_junk_accounted(spark):
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import pkzip

    fake_xlsx = pkzip.zip_container(
        [("[Content_Types].xml", b"<Types>spreadsheetml</Types>")]
    )
    media = spark.createDataFrame(
        [
            (1, bytearray(fake_xlsx)),
            (2, bytearray(b"GIF89a not a doc")),
            (3, bytearray(b"%PDF-1.4 truncated")),
        ],
        "doc_id long, payload binary",
    )
    kinds = {r["doc_id"]: r["kind"] for r in extract_documents(media).collect()}
    assert kinds == {1: "zip", 2: "unknown", 3: "corrupt"}


def test_html_sniff_case_and_whitespace_tolerant(spark):
    """Real-world `<!doctype html>` (lowercase) and leading-whitespace
    pages must classify as html, not drop into 'unknown' (r10 advice);
    Markdown keeps the documented synth-only `# ` convention."""
    media = spark.createDataFrame(
        [
            (1, bytearray(b"<!doctype html><html><body>lower ok</body></html>")),
            (2, bytearray(b"\n  <HTML><body>indented upper</body></HTML>")),
            (3, bytearray(b"plain text, no magic")),
        ],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: (r["kind"], r["text"]) for r in extract_documents(media).collect()}
    assert out[1][0] == "html" and "lower ok" in out[1][1]
    assert out[2][0] == "html" and "indented upper" in out[2][1]
    assert out[3][0] == "unknown"
