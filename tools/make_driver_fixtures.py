"""Regenerate the driver-oracle fixture parquets.

Run: python tools/make_driver_fixtures.py

These parquets let the driver's DuckDB gate verify queries whose semantics
are NOT SQL-expressible but ARE deterministically recomputable in pure
Python (the same modules pytest verifies): the flagship extraction output,
language ID, multimodal features, and the command-score top-k. Each fixture
is produced by the pure-Python oracle path — never by running the Spark
query — so the comparison stays an independent check:

- flagship_pages.parquet   gen_document(i, 42) → extract_document, i<500
- langid_pages.parquet     extraction + detect_language, i<300
- corpus_pages.parquet     crawl_pages replay (base + mirrors) →
                           extract_document + detect_language, i<600
- mm_features.parquet      sha256/magic-sniff/fake_features, i<200
- command_score_topk.parquet pure-Python command_score over sf0.01 part

MUST be regenerated (and the diff reviewed) whenever ocr_platform_spark/
extract/, datagen.py, text_analysis.detect_language, multimodal, or
command_score change — same rule as tests/fixtures/extraction_goldens.json.
"""

from __future__ import annotations

import hashlib
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_platform_spark.datagen import gen_document
from ocr_platform_spark.extract import extract_document
from ocr_platform_spark.functions.md5int import md5_int_py

OUT_DIR = (pathlib.Path(__file__).resolve().parent.parent
           / "tests" / "fixtures" / "oracle")
SEED = 42
FLAGSHIP_DOCS = 500   # == __spark_entry__.FLAGSHIP_DOCS
LANGID_DOCS = 300     # == text_analysis.ta_langid_pages
MM_DOCS = 200         # == registry._mm_features
SF001 = "/root/testdata/sf0.01"


def _write(name: str, table: pa.Table) -> None:
    OUT_DIR.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, OUT_DIR / name)
    print(f"wrote {table.num_rows:4d} rows → {OUT_DIR / name}")


def flagship_pages() -> None:
    rows = []
    for i in range(FLAGSHIP_DOCS):
        d = gen_document(i, seed=SEED)
        r = extract_document(d["url"], d["html"])
        rows.append((r.url, d["lang"], r.page_number, r.total_words,
                     r.failed_stage, r.blocks_kept, r.blocks_dropped))
    cols = list(zip(*rows))
    _write("flagship_pages.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "lang": pa.array(cols[1], pa.string()),
        "page_number": pa.array(cols[2], pa.int32()),
        "total_words": pa.array(cols[3], pa.int32()),
        "failed_stage": pa.array(cols[4], pa.string()),
        "blocks_kept": pa.array(cols[5], pa.int32()),
        "blocks_dropped": pa.array(cols[6], pa.int32()),
    }))


def langid_pages() -> None:
    from ocr_platform_spark.operators.text_analysis import detect_language

    rows = []
    for i in range(LANGID_DOCS):
        d = gen_document(i, seed=SEED)
        r = extract_document(d["url"], d["html"])
        if r.failed_stage is None:
            rows.append((r.url, d["lang"],
                         detect_language(r.extracted_text)))
    cols = list(zip(*rows))
    _write("langid_pages.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "lang": pa.array(cols[1], pa.string()),
        "lang_detected": pa.array(cols[2], pa.string()),
    }))


def corpus_pages() -> None:
    """Pure-Python replay of plans/corpus_job.crawl_pages + extraction +
    langid: every crawl row (base pages AND both mirror kinds) with its
    extracted text. The oracle SQL recomputes the whole curation chain
    (URL gate, Gopher, exact + MinHash dedup, packing) from this table, so
    the fixture only pins what SQL cannot express: the kernel and langid."""
    import re

    from ocr_platform_spark.operators.text_analysis import detect_language
    from ocr_platform_spark.plans.corpus_job import (
        CORPUS_DOCS, EXACT_HOST, EXACT_SEL, MIRROR_MOD, MIRROR_SUFFIX,
        NEAR_HOST, NEAR_SEL)

    crawl: list[tuple[str, str, bytes]] = []
    for i in range(CORPUS_DOCS):
        d = gen_document(i, seed=SEED)
        crawl.append((d["url"], d["lang"], d["html"]))
        sel = md5_int_py(d["url"], 15) % MIRROR_MOD
        if sel == NEAR_SEL:
            crawl.append((re.sub("^https://[^/]+",
                                 "https://" + NEAR_HOST, d["url"]),
                          d["lang"], d["html"] + MIRROR_SUFFIX))
        elif sel == EXACT_SEL:
            crawl.append((re.sub("^https://[^/]+",
                                 "https://" + EXACT_HOST, d["url"]),
                          d["lang"], d["html"]))
    rows = []
    for url, lang, html in crawl:
        r = extract_document(url, html)
        lang_det = (detect_language(r.extracted_text)
                    if r.failed_stage is None else None)
        rows.append((url, lang, r.extracted_text, r.failed_stage, lang_det))
    cols = list(zip(*rows))
    _write("corpus_pages.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "lang": pa.array(cols[1], pa.string()),
        "text": pa.array(cols[2], pa.string()),
        "failed_stage": pa.array(cols[3], pa.string()),
        "lang_det": pa.array(cols[4], pa.string()),
    }))


def mm_features() -> None:
    from ocr_platform_spark.operators.multimodal import sniff_format

    rows = []
    for i in range(MM_DOCS):
        d = gen_document(i, seed=SEED)
        payload = d["html"]
        if payload is None or len(payload) == 0:
            rows.append((d["url"], 0, None,
                         hashlib.sha256(b"").hexdigest(), None))
            continue
        b = bytes(payload)
        h = hashlib.sha256(b).digest()
        # fake_features[0] = u32/2**32 → exact u32 back out (see multimodal)
        rows.append((d["url"], len(b), sniff_format(b),
                     hashlib.sha256(b).hexdigest(),
                     int.from_bytes(h[0:4], "big")))
    cols = list(zip(*rows))
    _write("mm_features.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "n_bytes": pa.array(cols[1], pa.int64()),
        "format": pa.array(cols[2], pa.string()),
        "sha256": pa.array(cols[3], pa.string()),
        "f0_u32": pa.array(cols[4], pa.int64()),
    }))


def command_score_topk() -> None:
    import duckdb

    from ocr_platform_spark.functions.command_score import command_score

    con = duckdb.connect()
    parts = con.sql(
        f"SELECT p_partkey, p_name FROM "
        f"read_parquet('{SF001}/part.parquet')").fetchall()
    scored = sorted(
        ((command_score(name, "red gear"), key, name)
         for key, name in parts),
        key=lambda t: (-t[0], t[1]))[:20]
    # .sf0.01. in the name: staged from sf0.01 tables, valid only there
    # (the query fn asserts the gate's sf_dir matches)
    _write("command_score_topk.sf0.01.parquet", pa.table({
        "p_partkey": pa.array([k for _, k, _ in scored], pa.int64()),
        "p_name": pa.array([n for _, _, n in scored], pa.string()),
    }))


def mm_decode() -> None:
    from ocr_platform_spark.datagen import gen_media
    from ocr_platform_spark.operators.multimodal import image_stats

    rows = []
    for i in range(MM_DOCS):
        d = gen_media(i, seed=SEED)
        try:
            w, h, ch, means, thumb = image_stats(d["media"])
            means = means + [None] * (4 - len(means))
            rows.append((d["url"], w, h, ch, *means, thumb, None))
        except Exception as e:
            rows.append((d["url"], None, None, None,
                         None, None, None, None, None,
                         f"{type(e).__name__}: {e}"))
    cols = list(zip(*rows))
    _write("mm_decode.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "width": pa.array(cols[1], pa.int32()),
        "height": pa.array(cols[2], pa.int32()),
        "channels": pa.array(cols[3], pa.int32()),
        "mean0_x1e6": pa.array(cols[4], pa.int64()),
        "mean1_x1e6": pa.array(cols[5], pa.int64()),
        "mean2_x1e6": pa.array(cols[6], pa.int64()),
        "mean3_x1e6": pa.array(cols[7], pa.int64()),
        "thumb4x4": pa.array(cols[8], pa.string()),
        "decode_error": pa.array(cols[9], pa.string()),
    }))


def ta_bpe_tokens() -> None:
    import math
    import re

    import duckdb

    from ocr_platform_spark.functions.bpe import default_tokenizer

    tok = default_tokenizer()
    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{SF001}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    rows = []
    for doc_id, text in docs:
        n_bpe = tok.count_tokens(text) if text is not None else 0
        # mirrors Spark's size(split(trim(text), '\s+')): '' -> [''] -> 1
        n_ws = len(re.split(r"\s+", (text or "").strip()))
        rows.append((doc_id, n_bpe,
                     int(math.floor(10000.0 * n_bpe / n_ws))))
    _write("ta_bpe_tokens.sf0.01.parquet", pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "n_bpe_tokens": pa.array([r[1] for r in rows], pa.int64()),
        "bpe_per_word_x10k": pa.array([r[2] for r in rows], pa.int64()),
    }))


def ann_ivf_topk() -> None:
    import duckdb

    from ocr_platform_spark.operators.similarity import ivf_topk_python

    con = duckdb.connect()
    vecs = [(int(vid), [float(x) for x in v]) for vid, v in con.sql(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{SF001}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()]
    rows = ivf_topk_python(vecs)
    _write("ann_ivf_topk.sf0.01.parquet", pa.table({
        "query_id": pa.array([q for q, _, _ in rows], pa.int64()),
        "neighbor_id": pa.array([n for _, n, _ in rows], pa.int64()),
        "rank": pa.array([r for _, _, r in rows], pa.int32()),
    }))


def mm_audio() -> None:
    from ocr_platform_spark.datagen import gen_media
    from ocr_platform_spark.operators.multimodal import audio_stats

    rows = []
    for i in range(MM_DOCS):
        d = gen_media(i, seed=SEED)
        try:
            rate, ch, nf, ms, mean, peak = audio_stats(bytes(d["media"]))
            rows.append((d["url"], rate, ch, nf, ms, mean, peak, None))
        except Exception as e:
            rows.append((d["url"], None, None, None, None, None, None,
                         f"{type(e).__name__}: {e}"))
    cols = list(zip(*rows))
    _write("mm_audio.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "sample_rate": pa.array(cols[1], pa.int32()),
        "channels": pa.array(cols[2], pa.int32()),
        "n_frames": pa.array(cols[3], pa.int32()),
        "duration_ms": pa.array(cols[4], pa.int64()),
        "mean_abs_x1e6": pa.array(cols[5], pa.int64()),
        "peak_abs": pa.array(cols[6], pa.int32()),
        "decode_error": pa.array(cols[7], pa.string()),
    }))


def mm_video() -> None:
    from ocr_platform_spark.datagen import gen_media
    from ocr_platform_spark.operators.multimodal import video_stats

    rows = []
    for i in range(MM_DOCS):
        d = gen_media(i, seed=SEED)
        try:
            nf, w, h, ch, mean = video_stats(bytes(d["media"]))
            rows.append((d["url"], nf, w, h, ch, mean, None))
        except Exception as e:
            rows.append((d["url"], None, None, None, None, None,
                         f"{type(e).__name__}: {e}"))
    cols = list(zip(*rows))
    _write("mm_video.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "n_frames": pa.array(cols[1], pa.int32()),
        "width": pa.array(cols[2], pa.int32()),
        "height": pa.array(cols[3], pa.int32()),
        "channels": pa.array(cols[4], pa.int32()),
        "mid_mean_x1e6": pa.array(cols[5], pa.int64()),
        "decode_error": pa.array(cols[6], pa.string()),
    }))


def extract_pdf_pages() -> None:
    """Pure-Python recomputation of the PDF render→layout-parse pipeline
    over sf0.01 documents (operators/pdf_extract.py runs the identical
    kernel inside mapInPandas). .sf0.01. in the name: scale-pinned."""
    import duckdb

    from ocr_platform_spark.operators.pdf_extract import pdf_pages_rows

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF001}/documents.parquet')"
        " ORDER BY doc_id").fetchall()
    rows = [r for doc_id, text in docs for r in pdf_pages_rows(doc_id, text)]
    _write("extract_pdf_pages.sf0.01.parquet", pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
        "page_no": pa.array([r["page_no"] for r in rows], pa.int32()),
        "n_pages": pa.array([r["n_pages"] for r in rows], pa.int32()),
        "n_columns": pa.array([r["n_columns"] for r in rows], pa.int32()),
        "n_lines": pa.array([r["n_lines"] for r in rows], pa.int32()),
        "page_number": pa.array([r["page_number"] for r in rows],
                                pa.int32()),
        "header": pa.array([r["header"] for r in rows], pa.string()),
        "body": pa.array([r["body"] for r in rows], pa.string()),
        "footnotes": pa.array([r["footnotes"] for r in rows], pa.string()),
        "parse_error": pa.array([r["parse_error"] for r in rows],
                                pa.string()),
    }))


def extract_pdf_render() -> None:
    """Pure-Python recomputation of the PDF rasterization stats (scale-2
    glyph-box raster + PNG round-trip + exact-integer ink stats) over the
    same deterministic 1/16 doc slice the Spark query scans."""
    import duckdb

    from ocr_platform_spark.operators.pdf_extract import (
        RENDER_DOC_MOD, pdf_render_rows)

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF001}/documents.parquet')"
        f" WHERE doc_id % {RENDER_DOC_MOD} = 1 ORDER BY doc_id").fetchall()
    rows = [r for doc_id, text in docs
            for r in pdf_render_rows(doc_id, text)]
    _write("extract_pdf_render.sf0.01.parquet", pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
        "page_no": pa.array([r["page_no"] for r in rows], pa.int32()),
        "width": pa.array([r["width"] for r in rows], pa.int32()),
        "height": pa.array([r["height"] for r in rows], pa.int32()),
        "n_runs": pa.array([r["n_runs"] for r in rows], pa.int32()),
        "ink_ppm": pa.array([r["ink_ppm"] for r in rows], pa.int64()),
        "mean_x1e6": pa.array([r["mean_x1e6"] for r in rows], pa.int64()),
        "pixels_sha256": pa.array([r["pixels_sha256"] for r in rows],
                                  pa.string()),
        "render_error": pa.array([r["render_error"] for r in rows],
                                 pa.string()),
    }))


def warc_ingest() -> None:
    """Regenerate the committed WARC fixture crawl (tests/fixtures/warc/)
    AND its expected-output parquet in one step so they can never drift.
    The expectation comes from the pure-Python kernel parsing the same
    bytes the Spark query reads — independent of the Spark plumbing."""
    from ocr_platform_spark.sources.warc import (
        make_warc_fixture_files, parse_warc)

    rows = []
    for f in sorted(make_warc_fixture_files()):
        for r in parse_warc(f.read_bytes(), source=str(f)):
            html = r["html"]
            rows.append((
                f.name, r["record_index"], r["url"],
                r["warc_date"],   # already the Spark-side ISO rendering
                hashlib.sha256(html).hexdigest() if html is not None else None,
                len(html) if html is not None else None,
                r["http_status"], r["content_type"], r["parse_error"]))
    cols = list(zip(*rows))
    _write("warc_ingest.parquet", pa.table({
        "warc_file": pa.array(cols[0], pa.string()),
        "record_index": pa.array(cols[1], pa.int64()),
        "url": pa.array(cols[2], pa.string()),
        "ts_iso": pa.array(cols[3], pa.string()),
        "html_sha256": pa.array(cols[4], pa.string()),
        "n_bytes": pa.array(cols[5], pa.int32()),
        "http_status": pa.array(cols[6], pa.int32()),
        "content_type": pa.array(cols[7], pa.string()),
        "parse_error": pa.array(cols[8], pa.string()),
    }))


def ml_linear_fit() -> None:
    """Sequential ground truth for the distributed moment aggregation:
    pure-Python tokenization + integer sums over the sf0.01 documents
    parquet, then the shared exact rational solver."""
    import duckdb

    from ocr_platform_spark.operators.linfit import (
        python_moments, solve_rows)

    rows = duckdb.connect().execute(
        f"SELECT text, n_chars FROM read_parquet"
        f"('{SF001}/documents.parquet')").fetchall()
    out = solve_rows(python_moments(rows))
    cols = list(zip(*out))
    _write("ml_linear_fit.sf0.01.parquet", pa.table({
        "term": pa.array(cols[0], pa.string()),
        "num": pa.array(cols[1], pa.string()),
        "den": pa.array(cols[2], pa.string()),
    }))


def ml_fit_apply() -> None:
    """Sequential ground truth for the train→apply scorer: independent
    pure-Python moments + the shared solver + the shared quantization,
    then per-doc scores with Python floor division (the Spark side
    floors via pmod to match exactly)."""
    import re

    import duckdb

    from ocr_platform_spark.operators.linfit import (
        PRED_DIV, python_moments, quantize_weights, solve_weights)

    rows = duckdb.connect().execute(
        f"SELECT doc_id, text, n_chars FROM read_parquet"
        f"('{SF001}/documents.parquet')").fetchall()
    q0, q1, q2 = quantize_weights(solve_weights(
        python_moments([(t, c) for _, t, c in rows])))
    out = []
    for doc_id, text, n_chars in rows:
        toks = re.split(r"\s+", text.strip(" "), flags=re.ASCII)
        x1, x2, y = len(toks), len(set(toks)), int(n_chars)
        pred = (q0 + q1 * x1 + q2 * x2) // PRED_DIV
        out.append((int(doc_id), x1, x2, y, pred, 100 * y - pred))
    cols = list(zip(*out))
    _write("ml_fit_apply.sf0.01.parquet", pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "x1": pa.array(cols[1], pa.int64()),
        "x2": pa.array(cols[2], pa.int64()),
        "y": pa.array(cols[3], pa.int64()),
        "pred_x100": pa.array(cols[4], pa.int64()),
        "resid_x100": pa.array(cols[5], pa.int64()),
    }))


def ml_kmeans() -> None:
    """Sequential ground truth for the exact-integer k-means: pure-Python
    Lloyd's over the sf0.01 embeddings parquet — same quantization, same
    floor-div centroid updates, same first-minimum tie-break as the Spark
    plan (operators/kmeans.py)."""
    import duckdb

    from ocr_platform_spark.operators.kmeans import python_kmeans

    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet"
        f"('{SF001}/embeddings.parquet')").fetchall()
    assign, _cents = python_kmeans([(int(v), list(e)) for v, e in rows])
    cols = list(zip(*assign))
    _write("ml_kmeans.sf0.01.parquet", pa.table({
        "vec_id": pa.array(cols[0], pa.int64()),
        "cluster": pa.array(cols[1], pa.int64()),
        "dist": pa.array(cols[2], pa.int64()),
    }))


def extract_links_fixture() -> None:
    """Sequential run of the anchor-extraction kernel over the same 300
    synthetic pages the extract_links query maps."""
    from ocr_platform_spark.extract.links import extract_links

    rows = []
    for i in range(300):   # == operators/weblinks.py:LINKS_DOCS
        d = gen_document(i, seed=SEED)
        for lk in extract_links(d["url"], d["html"]):
            rows.append((d["url"], lk.link_no, lk.href_raw, lk.resolved,
                         lk.anchor_text, lk.kind, lk.boilerplate))
    cols = list(zip(*rows))
    _write("extract_links.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "link_no": pa.array(cols[1], pa.int32()),
        "href_raw": pa.array(cols[2], pa.string()),
        "resolved": pa.array(cols[3], pa.string()),
        "anchor_text": pa.array(cols[4], pa.string()),
        "kind": pa.array(cols[5], pa.string()),
        "boilerplate": pa.array(cols[6], pa.bool_()),
    }))


def extract_metadata_fixture() -> None:
    """Independent replica of operators/pagemeta.py: the same augmented
    pages re-parsed with stdlib html.parser (a different tokenizer) and
    independently written first-wins collection, so fixture agreement
    checks the production scanner's tag/attr/CDATA semantics."""
    from ocr_platform_spark.datagen import augment_html, gen_augmented
    from ocr_platform_spark.operators.pagemeta import _JSONLD_TYPE, META_DOCS

    Collector = MetaRefCollector

    rows = []
    for i in range(META_DOCS):
        d = gen_augmented(i, augment_html)
        html = d["html"]
        c = Collector()
        if html is not None:
            c.feed(bytes(html).decode("utf-8", "replace"))
            c.close()
        rows.append((
            d["url"],
            next((t.strip() for t in c.titles if t.strip()), None),
            next((m.get("content") for m in c.metas
                  if m.get("property") == "og:title"), None),
            next((m.get("content") for m in c.metas
                  if m.get("property") == "og:type"), None),
            next((lk.get("href") for lk in c.links
                  if lk.get("rel") == "canonical"), None),
            next((m.group(1) for m in map(_JSONLD_TYPE.search, c.lds)
                  if m), None),
            len(c.metas)))
    cols = list(zip(*rows))
    _write("extract_metadata.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "title": pa.array(cols[1], pa.string()),
        "og_title": pa.array(cols[2], pa.string()),
        "og_type": pa.array(cols[3], pa.string()),
        "canonical_url": pa.array(cols[4], pa.string()),
        "jsonld_type": pa.array(cols[5], pa.string()),
        "n_meta": pa.array(cols[6], pa.int64()),
    }))


def extract_tables_fixture() -> None:
    """Independent replica of operators/tablex.py: the same augmented
    pages re-parsed with stdlib html.parser (a different tokenizer)
    driving an independently written collection state machine, so
    fixture agreement checks the implied-close/nesting/CDATA spec."""
    from ocr_platform_spark.datagen import augment_html_tables, gen_augmented
    from ocr_platform_spark.operators.tablex import TABLE_DOCS

    Collector = TableRefCollector

    rows = []
    for i in range(TABLE_DOCS):
        d = gen_augmented(i, augment_html_tables)
        html = d["html"]
        if html is None:
            continue
        c = Collector()
        c.feed(bytes(html).decode("utf-8", "replace"))
        c.close()                     # EOF: open cell never flushed
        for (ti, ri, ci, hd, tx) in c.out:
            rows.append((d["url"], ti, ri, ci, hd, tx))
    cols = list(zip(*rows))
    _write("extract_tables.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "table_idx": pa.array(cols[1], pa.int64()),
        "row_idx": pa.array(cols[2], pa.int64()),
        "col_idx": pa.array(cols[3], pa.int64()),
        "is_header": pa.array(cols[4], pa.bool_()),
        "cell_text": pa.array(cols[5], pa.string()),
    }))


def ta_compress_ratio() -> None:
    """Independent pure-Python recompute of the DEFLATE quality signal
    over the sf0.01 documents table (same zlib build as the UDF — the
    library IS the spec; DuckDB has no DEFLATE)."""
    import zlib

    import duckdb

    from ocr_platform_spark.operators.text_analysis import (
        COMPRESS_HIGH_X1E4, COMPRESS_LOW_X1E4)

    rows = duckdb.connect().execute(
        f"""SELECT doc_id, text
            FROM read_parquet('{SF001}/documents.parquet')
            ORDER BY doc_id""").fetchall()
    out = []
    for doc_id, text in rows:
        b = text.encode("utf-8") if text else b""
        nz = len(zlib.compress(b, 6)) if b else 0
        ratio = (nz * 10000) // max(len(b), 1)
        out.append((int(doc_id), len(b), nz, ratio,
                    ratio < COMPRESS_LOW_X1E4,
                    ratio > COMPRESS_HIGH_X1E4))
    cols = list(zip(*out))
    _write("ta_compress_ratio.sf0.01.parquet", pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "n_bytes": pa.array(cols[1], pa.int64()),
        "n_zlib": pa.array(cols[2], pa.int64()),
        "ratio_x1e4": pa.array(cols[3], pa.int64()),
        "flag_repetitive": pa.array(cols[4], pa.bool_()),
        "flag_incompressible": pa.array(cols[5], pa.bool_()),
    }))


def extract_headings_fixture() -> None:
    """Independent replica of operators/outline.py: the same pages
    re-parsed with stdlib html.parser driving an independently written
    heading collector (implied closes, cross-level close commits,
    EOF-drops)."""
    from ocr_platform_spark.operators.outline import OUTLINE_DOCS

    Collector = HeadingRefCollector

    rows = []
    for i in range(OUTLINE_DOCS):
        d = gen_document(i, seed=SEED)
        if d["html"] is None:
            continue
        c = Collector()
        c.feed(bytes(d["html"]).decode("utf-8", "replace"))
        c.close()                     # EOF: open heading never commits
        for (hi, lv, tx) in c.out:
            rows.append((d["url"], hi, lv, tx))
    cols = list(zip(*rows))
    _write("extract_headings.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "heading_idx": pa.array(cols[1], pa.int64()),
        "level": pa.array(cols[2], pa.int64()),
        "text": pa.array(cols[3], pa.string()),
    }))


def jsonl_fixture() -> None:
    """Write the committed JSONL shard files (deterministic: clean CC-
    style records + a hostile shard covering every parse_error branch)
    and the oracle parquet via an INDEPENDENT json.loads pass
    implementing the sources/jsonl.py line spec."""
    import json

    from ocr_platform_spark.sources.jsonl import FIXTURE_DIR

    FIXTURE_DIR.mkdir(parents=True, exist_ok=True)
    langs = ("en", "ar", "fa", "tr")
    for shard in range(3):
        lines = []
        for i in range(shard * 40, shard * 40 + 40):
            lines.append(json.dumps({
                "url": f"https://j{i % 7}.example/doc/{i}",
                "ts": f"2024-01-{(i % 28) + 1:02d}T00:00:00Z",
                "lang": langs[i % 4],
                "n_tokens": 10 + (i * 7) % 90,
                "text": f"doc {i} body " + " ".join(
                    f"w{(i * 13 + k) % 50}" for k in range(12)),
            }, ensure_ascii=False))
        (FIXTURE_DIR / f"docs-{shard:02d}.jsonl").write_text(
            "\n".join(lines) + "\n", encoding="utf-8")
    hostile = [
        '{"url": "https://h.example/ok", "text": "fine", "lang": "en"}',
        '{"url": "https://h.example/trunc", "te',          # malformed
        "not json at all",                                 # malformed
        "",                                                # empty
        "[1, 2, 3]",                                       # not_object
        '{"lang": "en", "text": "no url"}',                # bad_url
        '{"url": 123, "text": "numeric url"}',             # bad_url
        '{"url": "", "text": "empty url"}',                # bad_url
        '{"url": "https://h.example/notext"}',             # bad_text
        '{"url": "https://h.example/badtext", "text": 5}', # bad_text
        '{"url": "https://h.example/extra", "text": "t",'
        ' "ts": 7, "lang": ["x"], "n_tokens": "9"}',       # lenient nulls
        '{"url": "https://h.example/booltok", "text": "t",'
        ' "n_tokens": true}',                              # bool is not int
    ]
    (FIXTURE_DIR / "hostile.jsonl").write_text(
        "\n".join(hostile) + "\n", encoding="utf-8")
    (FIXTURE_DIR / "emptyfile.jsonl").write_bytes(b"")

    # independent oracle pass (jsonl_oracle_rows below — json.loads +
    # the documented line spec, written separately from the kernel)
    rows = []
    for f in sorted(FIXTURE_DIR.glob("*.jsonl")):
        rows.extend(jsonl_oracle_rows(f.name, f.read_bytes()))
    cols = list(zip(*rows))
    _write("jsonl_ingest.parquet", pa.table({
        "jsonl_file": pa.array(cols[0], pa.string()),
        "line_no": pa.array(cols[1], pa.int64()),
        "url": pa.array(cols[2], pa.string()),
        "ts": pa.array(cols[3], pa.string()),
        "lang": pa.array(cols[4], pa.string()),
        "n_tokens": pa.array(cols[5], pa.int64()),
        "text_sha256": pa.array(cols[6], pa.string()),
        "parse_error": pa.array(cols[7], pa.string()),
    }))


def jsonl_oracle_rows(name: str, data: bytes) -> list[tuple]:
    """Independent implementation of the sources/jsonl.py line spec
    (shared by jsonl_fixture and the differential fuzz in
    tests/test_fuzz_scanners.py) — written from the documented spec,
    not by calling the production kernel."""
    import hashlib as _hl
    import json as _json

    out = []
    lines = data.decode("utf-8", "replace").split("\n")
    if lines and lines[-1] == "":
        lines = lines[:-1]
    for no, ln in enumerate(lines):
        url = ts = lang = sha = err = None
        ntok = None
        if not ln.strip():
            err = "empty"
        else:
            try:
                o = _json.loads(ln)
                if not isinstance(o, dict):
                    err = "not_object"
                elif not (isinstance(o.get("url"), str) and o.get("url")):
                    err = "bad_url"
                elif not isinstance(o.get("text"), str):
                    err = "bad_text"
                else:
                    url = o["url"]
                    if isinstance(o.get("ts"), str):
                        ts = o["ts"]
                    if isinstance(o.get("lang"), str):
                        lang = o["lang"]
                    v = o.get("n_tokens")
                    if isinstance(v, int) and not isinstance(v, bool):
                        ntok = v
                    sha = _hl.sha256(
                        o["text"].encode("utf-8")).hexdigest()
            except ValueError:
                err = "malformed"
        out.append((name, no, url, ts, lang, ntok, sha, err))
    return out


def extract_microdata_fixture() -> None:
    """Independent replica of operators/microdata.py over the same
    augmented pages (MicroRefCollector below, html.parser events)."""
    from ocr_platform_spark.datagen import augment_html_micro, gen_augmented
    from ocr_platform_spark.operators.microdata import MICRO_DOCS

    rows = []
    for i in range(MICRO_DOCS):
        d = gen_augmented(i, augment_html_micro)
        html = d["html"]
        if html is None:
            continue
        c = MicroRefCollector()
        c.feed(bytes(html).decode("utf-8", "replace"))
        c.close()                     # EOF: open text prop never commits
        for (it, pi, pr, va) in c.rows:
            rows.append((d["url"], it, pi, pr, va))
    cols = list(zip(*rows))
    _write("extract_microdata.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "item_idx": pa.array(cols[1], pa.int64()),
        "prop_idx": pa.array(cols[2], pa.int64()),
        "prop": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.string()),
    }))


def cdc_fixture() -> None:
    """Independent re-chunking of the same page bytes: a separately
    written rolling-hash pass implementing the operators/cdc.py spec
    (shared GEAR constants; the LOOP is written twice)."""
    from ocr_platform_spark.operators.cdc import (CDC_DOCS, CDC_MASK,
                                                  CDC_MAX, CDC_MIN, GEAR)

    def oracle_chunks(url, data):
        rows, start, h, n = [], 0, 0, 0
        i = 0
        while i < len(data):
            h = ((h * 2) + GEAR[data[i]]) % (1 << 62)
            n += 1
            i += 1
            if n == CDC_MAX or (n >= CDC_MIN and h % (CDC_MASK + 1) == 0):
                rows.append((url, len(rows), start, i - start,
                             hashlib.md5(data[start:i]).hexdigest()))
                start, h, n = i, 0, 0
        if n:
            rows.append((url, len(rows), start, len(data) - start,
                         hashlib.md5(data[start:]).hexdigest()))
        return rows

    rows = []
    for i in range(CDC_DOCS):
        d = gen_document(i, seed=SEED)
        if d["html"] is None:
            continue
        rows.extend(oracle_chunks(d["url"], bytes(d["html"])))
    cols = list(zip(*rows))
    _write("dd_cdc_chunks.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "chunk_idx": pa.array(cols[1], pa.int64()),
        "offset": pa.array(cols[2], pa.int64()),
        "length": pa.array(cols[3], pa.int64()),
        "chunk_md5": pa.array(cols[4], pa.string()),
    }))


def feeds_fixture() -> None:
    """Independent replica of operators/feeds.py over the same synthetic
    feed corpus (FeedRefCollector below, html.parser events)."""
    from ocr_platform_spark.datagen import feed_doc
    from ocr_platform_spark.operators.feeds import FEED_DOCS

    rows = []
    for i in range(FEED_DOCS):
        url, xml = feed_doc(i)
        c = FeedRefCollector()
        c.feed(xml.decode("utf-8", "replace"))
        c.close()                     # EOF: open field never commits
        for e in sorted(c.fields):
            d = c.fields[e]
            if e == -1 and not d:
                continue
            rows.append((url, e, d.get("title"), d.get("link"),
                         d.get("updated"), len(d)))
    cols = list(zip(*rows))
    _write("extract_feed.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "entry_idx": pa.array(cols[1], pa.int64()),
        "title": pa.array(cols[2], pa.string()),
        "link": pa.array(cols[3], pa.string()),
        "updated": pa.array(cols[4], pa.string()),
        "n_fields": pa.array(cols[5], pa.int64()),
    }))


# --- html.parser reference collectors (module-level: shared by the fixture
# generators above AND the hypothesis differential fuzz in
# tests/test_fuzz_scanners.py) -----------------------------------------------
from html.parser import HTMLParser  # noqa: E402


class TableRefCollector(HTMLParser):
    """Independent html.parser-driven implementation of the tablex spec
    (operators/tablex.py module docstring)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.out: list[tuple] = []
        self.tdepth = 0
        self.ti = -1
        self.ri = self.ci = -1
        self.in_row = False
        self.cell: tuple[bool, list[str]] | None = None

    def _flush(self) -> None:
        if self.cell is not None:
            hd, parts = self.cell
            self.out.append(
                (self.ti, self.ri, self.ci, hd,
                 " ".join("".join(parts).split())))
        self.cell = None

    def handle_starttag(self, tag, attrs):
        if self.tdepth == 0:
            if tag == "table":
                self.tdepth = 1
                self.ti += 1
                self.ri = self.ci = -1
                self.in_row = False
                self.cell = None
            return
        if tag == "table":
            self.tdepth += 1
            return
        if self.tdepth != 1:
            return
        if tag == "tr":
            self._flush()
            self.in_row = True
            self.ri += 1
            self.ci = -1
        elif tag in ("td", "th"):
            self._flush()
            if not self.in_row:       # implied row
                self.in_row = True
                self.ri += 1
                self.ci = -1
            self.ci += 1
            self.cell = (tag == "th", [])

    def handle_endtag(self, tag):
        if self.tdepth == 0:
            return
        if tag == "table":
            if self.tdepth > 1:
                self.tdepth -= 1
            else:
                self._flush()
                self.in_row = False
                self.tdepth = 0
        elif self.tdepth == 1 and tag in ("td", "th", "tr"):
            self._flush()
            if tag == "tr":
                self.in_row = False

    def handle_data(self, data):
        if self.cell is not None:
            self.cell[1].append(data)


class HeadingRefCollector(HTMLParser):
    """Independent html.parser-driven implementation of the outline spec
    (operators/outline.py module docstring)."""

    H = {f"h{i}": i for i in range(1, 7)}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.out: list[tuple] = []
        self.level = 0
        self.parts: list[str] = []

    def _commit(self) -> None:
        if self.level:
            self.out.append((len(self.out), self.level,
                             " ".join("".join(self.parts).split())))
        self.level = 0
        self.parts = []

    def handle_starttag(self, tag, attrs):
        if tag in self.H:
            self._commit()
            self.level = self.H[tag]

    def handle_startendtag(self, tag, attrs):
        if tag in self.H:
            self._commit()
            self.out.append((len(self.out), self.H[tag], ""))
        else:
            self.handle_starttag(tag, attrs)
            self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if tag in self.H:
            self._commit()

    def handle_data(self, data):
        if self.level:
            self.parts.append(data)


class MetaRefCollector(HTMLParser):
    """Independent html.parser-driven implementation of the pagemeta
    first-wins spec (operators/pagemeta.py)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.metas: list[dict] = []
        self.links: list[dict] = []
        self.titles: list[str] = []
        self.lds: list[str] = []
        self._grab: tuple[str, list[str]] | None = None

    def handle_starttag(self, tag, attrs):
        amap: dict = {}
        for k, v in attrs:          # first occurrence wins
            amap.setdefault(k, v)
        if tag == "meta":
            self.metas.append(amap)
        elif tag == "link":
            self.links.append(amap)
        elif tag == "title" and self._grab is None:
            self._grab = ("title", [])
        elif (tag == "script" and self._grab is None
              and amap.get("type") == "application/ld+json"):
            self._grab = ("ld", [])

    def handle_endtag(self, tag):
        if self._grab is None:
            return
        kind, buf = self._grab
        if (tag, kind) in (("title", "title"), ("script", "ld")):
            (self.titles if kind == "title" else self.lds) \
                .append("".join(buf))
            self._grab = None

    def handle_data(self, data):
        if self._grab is not None:
            self._grab[1].append(data)


def meta_ref_scan(doc: str):
    """Reference _PageMeta-equivalent tuple from MetaRefCollector output
    (the same first-wins reduction extract_metadata_fixture applies)."""
    import re as _re

    from ocr_platform_spark.operators.pagemeta import _JSONLD_TYPE

    c = MetaRefCollector()
    c.feed(doc)
    c.close()
    return (
        next((t.strip() for t in c.titles if t.strip()), None),
        next((m.get("content") for m in c.metas
              if m.get("property") == "og:title"), None),
        next((m.get("content") for m in c.metas
              if m.get("property") == "og:type"), None),
        next((lk.get("href") for lk in c.links
              if lk.get("rel") == "canonical"), None),
        next((m.group(1) for m in map(_JSONLD_TYPE.search, c.lds)
              if m), None),
        len(c.metas))


class MicroRefCollector(HTMLParser):
    """Independent html.parser-driven implementation of the microdata
    spec (operators/microdata.py module docstring)."""

    ATTRV = {"meta": "content", "a": "href", "link": "href",
             "img": "src"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list[tuple] = []
        self.scope = -1
        self.counts: dict[int, int] = {}
        self.pending: tuple | None = None   # (item, prop, tag, parts)

    def _emit(self, item, prop, value):
        k = self.counts.get(item, 0)
        self.counts[item] = k + 1
        self.rows.append((item, k, prop, value))

    def _close_pending(self):
        if self.pending is not None:
            item, prop, _t, parts = self.pending
            self._emit(item, prop, " ".join("".join(parts).split()))
        self.pending = None

    def _start(self, tag, attrs, selfclosed):
        amap: dict = {}
        for k, v in attrs:
            amap.setdefault(k, v)
        if "itemscope" in amap or "itemprop" in amap:
            self._close_pending()
        if "itemscope" in amap:
            self.scope += 1
        if "itemprop" in amap:
            prop = amap.get("itemprop") or ""
            av = self.ATTRV.get(tag)
            if av is not None and amap.get(av) is not None:
                self._emit(self.scope, prop, amap[av])
            elif tag == "time" and amap.get("datetime") is not None:
                self._emit(self.scope, prop, amap["datetime"])
            elif not selfclosed:
                self.pending = (self.scope, prop, tag, [])
            else:
                self._emit(self.scope, prop, "")

    def handle_starttag(self, tag, attrs):
        self._start(tag, attrs, False)

    def handle_startendtag(self, tag, attrs):
        self._start(tag, attrs, True)

    def handle_endtag(self, tag):
        if self.pending is not None and tag == self.pending[2]:
            self._close_pending()

    def handle_data(self, data):
        if self.pending is not None:
            self.pending[3].append(data)


class FeedRefCollector(HTMLParser):
    """Independent html.parser-driven implementation of the feed spec
    (operators/feeds.py module docstring)."""

    ENTRY = ("item", "entry")
    FIELD = {"title": "title", "link": "link",
             "pubdate": "updated", "updated": "updated"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.fields: dict[int, dict] = {}
        self.scope = -1
        self.pending: tuple | None = None   # (entry, field, tag, parts)

    def _set(self, entry, field, value):
        self.fields.setdefault(entry, {}).setdefault(field, value)

    def _close_pending(self):
        if self.pending is not None:
            e, field, _t, parts = self.pending
            self._set(e, field, " ".join("".join(parts).split()))
        self.pending = None

    def _start(self, tag, attrs, selfclosed):
        if tag in self.ENTRY or tag in self.FIELD:
            self._close_pending()
        if tag in self.ENTRY:
            self.scope += 1
            self.fields.setdefault(self.scope, {})
            return
        if tag in self.FIELD:
            amap: dict = {}
            for k, v in attrs:
                amap.setdefault(k, v)
            field = self.FIELD[tag]
            if tag == "link" and amap.get("href") is not None:
                self._set(self.scope, field, amap["href"])
            elif not selfclosed:
                self.pending = (self.scope, field, tag, [])
            else:
                self._set(self.scope, field, "")

    def handle_starttag(self, tag, attrs):
        self._start(tag, attrs, False)

    def handle_startendtag(self, tag, attrs):
        self._start(tag, attrs, True)

    def handle_endtag(self, tag):
        if self.pending is not None and tag == self.pending[2]:
            self._close_pending()

    def handle_data(self, data):
        if self.pending is not None:
            self.pending[3].append(data)


class CodeRefCollector(HTMLParser):
    """Independent html.parser-driven implementation of the code-block
    spec (operators/codeblocks.py module docstring). html.parser's CDATA
    mode delivers script/style bodies raw and undecoded, matching the
    scanner's raw-capture rule without extra work."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.out: list[tuple] = []
        self.open = False
        self.lang = None
        self.parts: list[str] = []

    @staticmethod
    def _lang(attrs):
        amap: dict = {}
        for k, v in attrs:
            amap.setdefault(k, v)
        for tok in (amap.get("class") or "").split():
            low = tok.lower()
            for pfx in ("language-", "lang-"):
                if low.startswith(pfx):
                    if len(tok) > len(pfx):
                        return tok[len(pfx):].lower()
                    break     # bare prefix: dead token, try the next one
        return None

    def _start(self, tag, attrs, selfclosed):
        if not self.open:
            if tag == "pre" and not selfclosed:
                self.open = True
                self.lang = self._lang(attrs)
                self.parts = []
            return
        if tag == "br":
            self.parts.append("\n")
        elif tag == "code" and self.lang is None:
            self.lang = self._lang(attrs)

    def handle_starttag(self, tag, attrs):
        self._start(tag, attrs, False)

    def handle_startendtag(self, tag, attrs):
        self._start(tag, attrs, True)

    def handle_endtag(self, tag):
        if self.open and tag == "pre":
            text = "".join(self.parts)
            if text.startswith("\n"):
                text = text[1:]
            self.out.append((len(self.out), self.lang, text,
                             text.count("\n") + 1 if text else 0,
                             len(text)))
            self.open = False
            self.lang = None
            self.parts = []

    def handle_data(self, data):
        if self.open:
            self.parts.append(data)


def codeblocks_fixture() -> None:
    """Independent replica of operators/codeblocks.py over the same
    synthetic code-page corpus (CodeRefCollector above)."""
    from ocr_platform_spark.datagen import code_doc
    from ocr_platform_spark.operators.codeblocks import CODE_DOCS

    rows = []
    for i in range(CODE_DOCS):
        url, html = code_doc(i)
        c = CodeRefCollector()
        c.feed(html.decode("utf-8", "replace"))
        c.close()                     # EOF: open block never commits
        for (bi, lg, tx, nl, nc) in c.out:
            rows.append((url, bi, lg, tx, nl, nc))
    cols = list(zip(*rows))
    _write("extract_code.parquet", pa.table({
        "url": pa.array(cols[0], pa.string()),
        "block_idx": pa.array(cols[1], pa.int64()),
        "lang": pa.array(cols[2], pa.string()),
        "text": pa.array(cols[3], pa.string()),
        "n_lines": pa.array(cols[4], pa.int64()),
        "n_chars": pa.array(cols[5], pa.int64()),
    }))


def imagedup_fixture() -> None:
    """Brute-force all-pairs oracle for mm_phash_dedup: an independent
    numpy dHash (flat 64-bit int, different grid/packing code) over the
    same corpus, quadratic scan — so the gate pins BOTH the hash kernel
    and the banded join's pigeonhole completeness."""
    import numpy as np

    from ocr_platform_spark.datagen import gen_media, twin_doc
    from ocr_platform_spark.operators.imagedup import (GRID_H, GRID_W,
                                                       MAX_HAMMING,
                                                       PHASH_DOCS)
    from ocr_platform_spark.operators.multimodal import decode_image

    def ref_hash(payload: bytes) -> int:
        w, h, ch, px = decode_image(payload)
        arr = np.frombuffer(px, np.uint8).astype(np.int64).reshape(
            h, w, ch)
        ys = (np.arange(GRID_H) * h) // GRID_H
        xs = (np.arange(GRID_W) * w) // GRID_W
        g = arr[ys][:, xs].sum(axis=2) // ch       # integer channel mean
        bits = (g[:, :-1] < g[:, 1:]).astype(np.uint64).ravel()
        v = 0
        for bit in bits:
            v = (v << 1) | int(bit)
        return v

    hashes = {}
    for i in range(PHASH_DOCS):
        for row in filter(None, [gen_media(i), twin_doc(i)]):
            try:
                hashes[row["url"]] = ref_hash(row["media"])
            except Exception:
                continue                  # corrupt/audio/video: no hash
    urls = sorted(hashes)
    rows = []
    for i, a in enumerate(urls):
        for b in urls[i + 1:]:
            d = bin(hashes[a] ^ hashes[b]).count("1")
            if d <= MAX_HAMMING:
                rows.append((a, b, d))
    cols = list(zip(*rows))
    _write("mm_phash_dedup.parquet", pa.table({
        "url_a": pa.array(cols[0], pa.string()),
        "url_b": pa.array(cols[1], pa.string()),
        "hamming": pa.array(cols[2], pa.int64()),
    }))


def bpetrain_fixture() -> None:
    """Sequential-trainer oracle for ml_bpe_train: the dict+Counter
    ``train_bpe`` (functions/bpe.py — a different algorithm shape from
    the distributed regex/aggregate loop) over the same corpus."""
    from collections import Counter

    import duckdb

    from ocr_platform_spark.functions.bpe import pretokenize, train_bpe
    from ocr_platform_spark.operators.bpetrain import N_MERGES

    texts = [t for (t,) in duckdb.sql(
        f"SELECT text FROM read_parquet('{SF001}/documents.parquet')"
        " ORDER BY doc_id"
    ).fetchall() if t]
    counts: Counter = Counter()
    for t in texts:
        counts.update(pretokenize(t))
    merges = train_bpe(dict(counts), N_MERGES)
    _write("ml_bpe_train.sf0.01.parquet", pa.table({
        "rank": pa.array(range(len(merges)), pa.int64()),
        "left": pa.array([a for a, _ in merges], pa.string()),
        "right": pa.array([b for _, b in merges], pa.string()),
    }))


if __name__ == "__main__":
    flagship_pages()
    langid_pages()
    corpus_pages()
    mm_features()
    mm_decode()
    command_score_topk()
    ta_bpe_tokens()
    ann_ivf_topk()
    extract_pdf_pages()
    extract_pdf_render()
    mm_audio()
    mm_video()
    warc_ingest()
    ml_linear_fit()
    ml_fit_apply()
    ml_kmeans()
    extract_links_fixture()
    extract_metadata_fixture()
    extract_tables_fixture()
    ta_compress_ratio()
    extract_headings_fixture()
    jsonl_fixture()
    extract_microdata_fixture()
    cdc_fixture()
    feeds_fixture()
    codeblocks_fixture()
    imagedup_fixture()
    bpetrain_fixture()
