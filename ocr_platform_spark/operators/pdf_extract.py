"""PDF layout extraction as a Spark operator (north rule: "PDF/layout
parse … reading-order reconstruction").

``extract_pdf_pages`` renders each ``documents`` row into a deterministic
layout-bearing PDF (functions/pdftext.build_pdf — scrambled draw order,
1–2 columns, header/footnote/page-number bands) and parses it back with
the pure-stdlib layout analyzer (parse_pdf), exploding to one row per
physical page. Both halves run inside ONE Arrow-batched ``map_rows``
kernel, so no PDF bytes ever cross a shuffle — at 100 TB the stage is
embarrassingly parallel over the scan, and the output rows (text only)
are a fraction of the rendered payload size.

Correctness: the driver's DuckDB oracle reads a fixture parquet staged by
``tools/make_driver_fixtures.py`` running the same pure-Python codec
outside Spark (an independent recomputation of the full pipeline, same
pattern as extract_pages); pytest additionally pins a word-perfect
round-trip (body+footnotes == original text) and adversarial layouts.

Reference parity: PDF page fan-out and per-page text recovery
(apps/queue/src/lib/ocr.ts:35-54 page splitting; pipeline/segment.ts
region typing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from ocr_platform_spark.functions.spark_udfs import map_rows
from ocr_platform_spark.operators.registry import fixture_sql as _fixture_sql
from ocr_platform_spark.operators.tables import load

PDF_PAGES_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("page_no", IntegerType(), False),
    StructField("n_pages", IntegerType(), False),
    StructField("n_columns", IntegerType(), False),
    StructField("n_lines", IntegerType(), False),
    StructField("page_number", IntegerType(), True),
    StructField("header", StringType(), True),
    StructField("body", StringType(), False),
    StructField("footnotes", StringType(), True),
    StructField("parse_error", StringType(), True),
])


def staged_pdf(doc_id: int, text: str) -> bytes:
    """The synthetic corpus PDF for one document. A deterministic slice
    arrives ENCRYPTED (the reference opens such PDFs with
    ignoreEncryption, apps/queue/src/lib/ocr.ts:21-24): doc_id % 31 == 9
    carries a real user password — consumers must land those as stable
    ``parse_error="encrypted PDF (password required)"`` rows — while
    doc_id % 7 == 3 is encrypted but openable (empty user password, the
    common real-world form) and must decrypt to the identical pages."""
    from ocr_platform_spark.functions.pdftext import build_pdf, encrypt_pdf

    data = build_pdf(doc_id, text or "")
    if doc_id % 31 == 9:
        return encrypt_pdf(data, user_pw=b"pw-%d" % doc_id)
    if doc_id % 7 == 3:
        return encrypt_pdf(data)
    return data


def pdf_pages_rows(doc_id: int, text: str) -> list[dict]:
    """Pure-Python kernel: render → parse → per-page rows. Never raises;
    malformed input routes into ``parse_error`` (never-drop contract)."""
    from ocr_platform_spark.functions.pdftext import PdfError, parse_pdf

    try:
        pages = parse_pdf(staged_pdf(doc_id, text))
    except PdfError as e:
        return [{"doc_id": doc_id, "page_no": 0, "n_pages": 0,
                 "n_columns": 0, "n_lines": 0, "page_number": None,
                 "header": None, "body": "", "footnotes": None,
                 "parse_error": str(e)}]
    return [{"doc_id": doc_id, "page_no": p.page_no, "n_pages": len(pages),
             "n_columns": p.n_columns, "n_lines": p.n_lines,
             "page_number": p.page_number, "header": p.header,
             "body": p.body, "footnotes": p.footnotes, "parse_error": None}
            for p in pages]


def extract_pdf_pages(spark: SparkSession, sf_dir: str,
                      enforce_fixture_pin: bool = True) -> DataFrame:
    # The Spark plan is scale-free; the pin only protects the driver gate,
    # whose oracle fixture is staged from sf0.01 documents (same contract
    # as ann_ivf_topk).
    if enforce_fixture_pin:
        from ocr_platform_spark.operators.registry import assert_fixture_scale

        assert_fixture_scale(sf_dir, "extract_pdf_pages")
    return map_rows(load(spark, sf_dir, "documents"), ["doc_id", "text"],
                    lambda d, t: pdf_pages_rows(int(d), t), PDF_PAGES_SCHEMA)


# --------------------------------------------------------- rasterization

PDF_RENDER_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("page_no", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("n_runs", IntegerType(), False),
    StructField("ink_ppm", LongType(), False),
    StructField("mean_x1e6", LongType(), False),
    StructField("pixels_sha256", StringType(), True),
    StructField("render_error", StringType(), True),
])

# Rendering is ~2 MPx of pure-Python raster per page — the query renders a
# deterministic 1/16 doc slice (the fixture oracle pins the same slice),
# exactly like mm_* bound their synthetic payload counts.
RENDER_DOC_MOD = 16


def pdf_render_rows(doc_id: int, text: str) -> list[dict]:
    """Pure-Python kernel: staged PDF → per-page scale-2 rasterization →
    exact-integer ink stats (functions/pdfrender.py). Reference parity for
    pdfToImg(..., {scale: 2}) (apps/queue/src/lib/ocr.ts:56-71); encrypted
    docs route exactly as in pdf_pages_rows (never-drop)."""
    from ocr_platform_spark.functions.pdfrender import page_render_stats
    from ocr_platform_spark.functions.pdftext import PdfError, parse_pdf_runs

    try:
        per_page = parse_pdf_runs(staged_pdf(doc_id, text))
    except PdfError as e:
        return [{"doc_id": doc_id, "page_no": 0, "width": 0, "height": 0,
                 "n_runs": 0, "ink_ppm": 0, "mean_x1e6": 0,
                 "pixels_sha256": None, "render_error": str(e)}]
    out = []
    for pno, runs in enumerate(per_page):
        s = page_render_stats(runs)
        out.append({"doc_id": doc_id, "page_no": pno,
                    "width": s["width"], "height": s["height"],
                    "n_runs": s["n_runs"], "ink_ppm": s["ink_ppm"],
                    "mean_x1e6": s["mean_x1e6"],
                    "pixels_sha256": s["pixels_sha256"],
                    "render_error": None})
    return out


def extract_pdf_render(spark: SparkSession, sf_dir: str,
                       enforce_fixture_pin: bool = True) -> DataFrame:
    if enforce_fixture_pin:
        from ocr_platform_spark.operators.registry import assert_fixture_scale

        assert_fixture_scale(sf_dir, "extract_pdf_render")
    docs = (load(spark, sf_dir, "documents")
            .filter(f"doc_id % {RENDER_DOC_MOD} = 1"))
    return map_rows(docs, ["doc_id", "text"],
                    lambda d, t: pdf_render_rows(int(d), t),
                    PDF_RENDER_SCHEMA)


QUERIES: dict = {
    "extract_pdf_pages": (
        extract_pdf_pages,
        _fixture_sql("extract_pdf_pages.sf0.01.parquet")),
    "extract_pdf_render": (
        extract_pdf_render,
        _fixture_sql("extract_pdf_render.sf0.01.parquet")),
}
