"""Document-curation CLI — the document bucket as one runnable job
(the ``process_media`` twin for the text-carrying formats).

A crawl's document bucket holds mixed payloads; the job routes each by
MAGIC, extracts text with the matching in-repo codec, and ships one
unified text table plus exact accounting:

  1. sniff + extract — one Arrow pass: ``%PDF-`` → operators/pdf,
     ``PK\\x03\\x04`` → operators/docx (content-type-gated: a ZIP that
     is not WordprocessingML counts as ``zip``, never extracts
     garbage), ``<!DOCTYPE html``/``<html`` → operators/html's CPython
     extractor, anything decodable that looks like Markdown (leading
     ``#`` header) → operators/markdown; corrupt/unknown payloads are
     COUNTED and dropped, never fatal.
  2. unified table — (doc_id, kind, n_units, n_chars, text, text_md5)
     written as ``documents.parquet``: downstream quality/dedup lanes
     start here, format-blind.
  3. card + notify — counts by kind, corrupt/unknown accounting,
     char totals, printed as one JSON line; terminal-state seam.

Format-invariance is the job's correctness property: the same source
text arriving as PDF or as DOCX must extract to the SAME string — the
CLI test synthesizes both from one corpus and asserts it, and pins the
CPython HTML/Markdown extractors against their Spark-expression twins.

    python -m glue_etl_nyc_yellow_taxi_analysis_spark.jobs.process_documents \\
        --documents payloads.parquet --output ./out [--notify-jsonl s.jsonl]

(`--synth-from-docs docs.parquet` builds the mixed-format corpus —
doc_id % 4 picks PDF / DOCX / HTML / Markdown — for tests and
rehearsals without real files on disk.)
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.materialize import materialize
from ..operators.multimodal import _row_stage
from ..session import get_spark
from .notify import JobNotifier, jsonl_sink, run_with_notification, stderr_sink

_WORDS_PER_UNIT = 40

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("n_units", T.IntegerType(), True),
        T.StructField("n_chars", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("text_md5", T.StringType(), True),
    ]
)


def synth_mixed_documents(docs):
    """Mixed-format corpus from a documents table: doc_id % 4 → PDF /
    DOCX / HTML page / Markdown page, all carrying the SAME doc text.
    A doc its format cannot carry (a ValueError, e.g. non-Latin-1 text
    in a PDF) gets a NULL payload."""
    from ..operators import docx as docx_mod
    from ..operators import html as html_mod
    from ..operators import markdown as md_mod
    from ..operators import pdf as pdf_mod

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )
    build_pdf, split = pdf_mod.pdf_container, pdf_mod.split_lines
    build_docx = docx_mod.docx_container
    synth_html, synth_md = html_mod.synth_html, md_mod.synth_md
    wpu = _WORDS_PER_UNIT

    def row(d, t, s):
        d = int(d)
        words = ("" if t is None else t).split(" ")
        units = [" ".join(words[i : i + wpu]) for i in range(0, len(words), wpu)]
        if d % 4 == 0:
            # (d//4) % 3 routes the container flavor: plain
            # 1.4 / FlateDecode 1.4 / xref-stream 1.5 (d % 2
            # was a dead dial here — d % 4 == 0 is always even)
            flavor = (d // 4) % 3
            payload = build_pdf(
                [split(u) for u in units],
                compress=flavor >= 1,
                xref_stream=flavor == 2,
            )
        elif d % 4 == 1:
            payload = build_docx(units)
        elif d % 4 == 2:
            payload = synth_html(d, t, s).encode("utf-8")
        else:
            payload = synth_md(d, t).encode("utf-8")
        yield d, payload

    return _row_stage(docs, ("doc_id", "text", "source"), schema, row, (ValueError,))


def extract_documents(media):
    """Sniff → route → extract, one Arrow pass (see module docstring)."""
    import hashlib

    from ..operators import docx as docx_mod
    from ..operators import html as html_mod
    from ..operators import markdown as md_mod
    from ..operators import pdf as pdf_mod

    parse_pdf, docx_text = pdf_mod.parse_pdf, docx_mod.docx_text
    html_py, md_py = html_mod.extract_text_py, md_mod.extract_md_py

    def extract(raw):
        """(kind, n_units, text) of one payload, or (kind, None, None)
        for a payload that is counted but not extracted."""
        if raw.startswith(b"%PDF-"):
            pages = parse_pdf(raw)
            return "pdf", len(pages), " ".join(pages)
        if raw.startswith(b"PK\x03\x04"):
            try:
                paras = docx_text(raw)
            except ValueError as e:
                if "WordprocessingML" in str(e) or "Content_Types" in str(e):
                    # a real ZIP, wrong package type: count, never
                    # extract garbage
                    return "zip", None, None
                raise
            return "docx", len(paras), " ".join(paras)
        # case-insensitive, whitespace-tolerant HTML sniff (r10 advice:
        # real-world `<!doctype html>` and BOM/indented pages must not
        # land in 'unknown')
        low = raw[:64].lstrip().lower()
        if low.startswith(b"<!doctype html") or low.startswith(b"<html"):
            return "html", 1, html_py(raw.decode("utf-8"))
        if raw.startswith(b"# "):
            # synth-only convention: corpus Markdown always opens with
            # an H1 (`# `); foreign Markdown with no magic number is
            # indistinguishable from plain text and lands in 'unknown'
            # by design
            return "markdown", 1, md_py(raw.decode("utf-8"))
        return "unknown", None, None

    def row(mid, payload):
        try:
            kind, n_units, text = extract(
                bytes(payload) if payload is not None else b""
            )
        except (ValueError, UnicodeDecodeError):
            kind, n_units, text = "corrupt", None, None
        if text is None:
            yield mid, kind, None, None, None, None
        else:
            md5 = hashlib.md5(text.encode("utf-8")).hexdigest()
            yield mid, kind, n_units, len(text), text, md5

    return _row_stage(media, ("doc_id", "payload"), _OUT_SCHEMA, row)


def process_documents(spark, media, output: str) -> dict:
    """Run the pipeline; returns the accounting card."""
    n_in = media.count()
    extracted = materialize(
        extract_documents(media),
        "extracted documents: the kind counts and the output read them",
    )
    kind_counts = {
        r["kind"]: r["n"]
        for r in extracted.groupBy("kind").agg(F.count("*").alias("n")).collect()
    }  # bounded: 6 kinds
    good = extracted.filter(F.col("text").isNotNull())
    good.write.mode("overwrite").parquet(f"{output}/documents.parquet")
    totals = good.agg(
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("chars"),
        F.coalesce(F.sum("n_units"), F.lit(0)).alias("units"),
    ).collect()[0]
    card = {
        "n_payloads": n_in,
        "kinds": kind_counts,
        "extracted": int(sum(v for k, v in kind_counts.items()
                             if k in ("pdf", "docx", "html", "markdown"))),
        "n_chars": int(totals["chars"]),
        "n_units": int(totals["units"]),
    }
    print("documents card: " + json.dumps(card, sort_keys=True))
    return card


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="document-bucket curation pass")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--documents", help="parquet with (doc_id, payload)")
    src.add_argument(
        "--synth-from-docs",
        help="documents parquet: synthesize a mixed PDF/DOCX/HTML/MD corpus",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--notify-jsonl", default=None)
    args = p.parse_args(argv)

    notifier = JobNotifier([stderr_sink])
    if args.notify_jsonl:
        notifier.add(jsonl_sink(args.notify_jsonl))

    def _run() -> dict:
        spark = get_spark(app_name="process-documents")
        if args.documents:
            media = spark.read.parquet(args.documents)
        else:
            media = synth_mixed_documents(spark.read.parquet(args.synth_from_docs))
        return process_documents(spark, media, args.output)

    run_with_notification("process_documents", _run, notifier)


if __name__ == "__main__":
    main()
