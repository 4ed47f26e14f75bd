"""Extraction operators: route detection + Arrow-batched extraction UDF.

The hot stage of the whole engine. One ``mapInPandas`` pass over the pages
table runs the per-route kernels (html / pubmed-xml / pdf) batch-wise —
no per-row Python at the Spark API level, CPython kernels inside Arrow
batches (BASELINE.json contract). Route detection is cheap magic-byte
logic inside the same batch loop, so a page is read exactly once.

Spark-first notes:
- selecting only (url, html) before this operator lets Parquet prune the
  other columns (ReadSchema check in tests);
- the output schema is fixed (EXTRACTED_SCHEMA) → stable downstream plans;
- errors become an ``error`` column, never a task failure (the reference's
  240 s watchdog analog, ``retrieve/OAI/parse_pdfs.py:94-112``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                               IntegerType, StringType, StructField,
                               StructType)

from ..kernels import html_extract, pdfmini, textclean, xml_harvest
from ..kernels.hashing import sha256_hex

SPAN_TYPE = StructType([
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
    StructField("kind", StringType()),
    StructField("text", StringType()),
])

EXTRACTED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("route", StringType()),
    StructField("extracted_text", StringType()),
    StructField("title", StringType()),
    StructField("abstract", StringType()),
    StructField("authors", ArrayType(StringType())),
    StructField("language", StringType()),
    StructField("mesh_terms", ArrayType(StringType())),
    StructField("headings", ArrayType(StringType())),
    StructField("spans", ArrayType(SPAN_TYPE)),
    StructField("pages", ArrayType(StringType())),
    StructField("scanned", BooleanType()),
    StructField("producer", StringType()),
    StructField("summary_en", StringType()),
    StructField("summary_nl", StringType()),
    StructField("links", ArrayType(StringType())),
    StructField("error", StringType()),
    StructField("sha256", StringType()),
    StructField("dedup_key", StringType()),
    StructField("n_words", IntegerType()),
    StructField("n_chars", IntegerType()),
    # amortized per-row kernel compute time (batch wall / batch rows);
    # summed per bucket it becomes the lineage wall_time_s
    StructField("cpu_seconds", DoubleType()),
])


def detect_route(raw: bytes) -> str:
    head = raw[:512].lstrip()
    if raw[:5] == b"%PDF-":
        return "pdf"
    if raw[:5] == b"{\\rtf":
        return "rtf"
    if head[:5] == b"<?xml" or b"<PubmedArticle" in head:
        return "xml"
    if not head:
        return "empty"
    return "html"


def _decode(raw: bytes) -> str:
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


_EMPTY = {
    "route": "empty", "extracted_text": "", "title": None, "abstract": None,
    "authors": [], "language": None, "mesh_terms": [], "headings": [],
    "spans": [], "pages": [], "scanned": False, "producer": None,
    "summary_en": None, "summary_nl": None, "links": [], "error": None,
}


def extract_one(raw: bytes) -> dict:
    """Single-page extraction — the sequential reference implementation used
    for golden fixtures and inside the Arrow batch loop."""
    out = dict(_EMPTY)
    route = detect_route(raw)
    out["route"] = route
    try:
        if route == "pdf":
            r = pdfmini.extract_pdf(raw)
            out.update(
                extracted_text=r["extracted_text"], pages=r["pages"],
                scanned=r["scanned"], producer=r["producer"],
                summary_en=r["summary_en"] or None,
                summary_nl=r["summary_nl"] or None, error=r["error"],
                links=r["links"])  # P8 /URI harvest, same parse as text
        elif route == "rtf":
            from ..kernels import rtf as _rtf
            cleaned = textclean.clean_line(_rtf.extract_rtf_bytes(raw))
            out.update(extracted_text=cleaned)
        elif route == "xml":
            r = xml_harvest.extract_fulltext(_decode(raw))
            out.update(
                extracted_text=r["extracted_text"], title=r["title"],
                abstract=r["abstract"], authors=r["authors"],
                mesh_terms=r["mesh_terms"], language=r["language"])
        elif route == "html":
            r = html_extract.extract_html_bytes(raw)
            cleaned = textclean.clean_markdown(r["extracted_text"])
            out.update(
                extracted_text=cleaned, title=r["title"],
                abstract=r["abstract"], authors=r["authors"],
                headings=r["headings"],
                spans=[{"start": s, "end": e, "kind": k, "text": t}
                       for s, e, k, t in r["spans"]])
    except Exception as exc:  # never kill the task: error column instead
        out["error"] = f"{type(exc).__name__}: {exc}"[:500]
    text = out["extracted_text"] or ""
    out["sha256"] = sha256_hex(text)
    out["dedup_key"] = textclean.prefix_dedup_key(text)
    out["n_words"] = len(text.split())
    out["n_chars"] = len(text)
    return out


def _extract_batches(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
    import time
    cols = [f.name for f in EXTRACTED_SCHEMA.fields]
    for pdf_batch in batches:
        t0 = time.perf_counter()
        records = []
        for url, raw in zip(pdf_batch["url"], pdf_batch["html"]):
            rec = extract_one(bytes(raw) if raw is not None else b"")
            rec["url"] = url
            records.append(rec)
        elapsed = time.perf_counter() - t0
        per_row = elapsed / max(len(records), 1)
        for rec in records:
            rec["cpu_seconds"] = per_row
        yield pd.DataFrame(records, columns=cols)


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, …, html, …) → EXTRACTED_SCHEMA rows, Arrow-batched."""
    return (pages.select("url", "html")
            .mapInPandas(_extract_batches, schema=EXTRACTED_SCHEMA))
