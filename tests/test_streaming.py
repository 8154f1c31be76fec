"""Streaming ingest: byte-parity with batch, exactly-once across restarts."""

from __future__ import annotations

from ocr_platform_spark.plans.extract_job import extract_pages
from ocr_platform_spark.sources.pages import read_pages
from ocr_platform_spark.streaming.ingest import run_ingest_stream


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    import pandas as pd

    from ocr_platform_spark.datagen import gen_document
    from ocr_platform_spark.sources.pages import PAGES_SCHEMA

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")

    def drop(n0, n1):
        pdf = pd.DataFrame([gen_document(i, 42) for i in range(n0, n1)])
        spark.createDataFrame(pdf, schema=PAGES_SCHEMA) \
            .write.mode("append").parquet(inp)

    # first crawl drop → drain
    drop(0, 60)
    q = run_ingest_stream(spark, inp, out, ckpt, n_buckets=8)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 60

    # second drop → only NEW files processed (exactly-once via checkpoint)
    drop(60, 100)
    q = run_ingest_stream(spark, inp, out, ckpt, n_buckets=8)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 100, "re-run must not duplicate old files"

    # byte-parity with the batch plan over the same input
    batch = {r["url"]: r for r in
             extract_pages(read_pages(spark, inp), n_buckets=8).collect()}
    for r in got.collect():
        b = batch[r["url"]]
        assert r["extracted_text"] == b["extracted_text"]
        assert r["total_words"] == b["total_words"]
        assert r["bucket"] == b["bucket"]


def test_warc_stream_matches_batch_and_resumes(spark, tmp_path):
    """Incremental crawl over WARC container files: stream == batch,
    exactly-once per file across re-runs."""
    from ocr_platform_spark.datagen import gen_document
    from ocr_platform_spark.sources.warc import (
        read_warc, response_record, warc_pages, write_warc)
    from ocr_platform_spark.streaming.ingest import run_warc_ingest_stream

    warc_dir = tmp_path / "crawl"
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, n0, n1):
        recs = []
        for i in range(n0, n1):
            d = gen_document(i, 42)
            ts = d["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
            recs.append(response_record(d["url"], ts, bytes(d["html"])))
        write_warc(warc_dir / name, recs)

    drop("crawl-a.warc.gz", 0, 40)
    q = run_warc_ingest_stream(spark, str(warc_dir), out, ckpt, n_buckets=8)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 40

    # second crawl file → only the NEW file is processed
    drop("crawl-b.warc.gz", 40, 70)
    q = run_warc_ingest_stream(spark, str(warc_dir), out, ckpt, n_buckets=8)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 70, "re-run must not duplicate old WARC files"

    # parity with the batch path over the same container files
    batch = {r["url"]: r for r in extract_pages(
        warc_pages(read_warc(spark, str(warc_dir))), n_buckets=8,
        shuffle=False).collect()}
    assert len(batch) == 70
    for r in got.collect():
        b = batch[r["url"]]
        assert r["extracted_text"] == b["extracted_text"]
        assert r["total_words"] == b["total_words"]
        assert r["bucket"] == b["bucket"]


def test_warc_stream_honors_transport_charset(spark, tmp_path):
    """The streaming ingest path has the HTTP head in hand, so a capture
    whose charset lives ONLY in the Content-Type header (no BOM, no meta)
    must decode via the transport label — not mojibake through the cp1252
    guess. Pins that warc_extract_stream actually enables
    with_transport_charset (the round-4 review found it defaulted off on
    the exact path the feature was built for)."""
    from ocr_platform_spark.sources.warc import response_record, write_warc
    from ocr_platform_spark.streaming.ingest import run_warc_ingest_stream

    warc_dir = tmp_path / "crawl"
    ru = " ".join(["привет мир"] * 8)
    body = (f"<html><body><main><p>{ru}</p></main></body></html>"
            ).encode("koi8-r")
    write_warc(warc_dir / "legacy.warc.gz", [response_record(
        "https://legacy.example/koi8-header-only",
        "2024-01-01T00:00:00Z", body,
        content_type="text/html; charset=koi8-r")])
    q = run_warc_ingest_stream(spark, str(warc_dir),
                               str(tmp_path / "out"), str(tmp_path / "ck"),
                               n_buckets=4)
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(rows) == 1
    assert "привет мир" in rows[0]["extracted_text"]


def test_metadata_stream_matches_batch_and_resumes(spark, tmp_path):
    """The head-metadata scanner over readStream: exactly-once per file,
    row-identical to the batch kernel over the same pages."""
    import pandas as pd

    from ocr_platform_spark.datagen import augment_html, gen_augmented
    from ocr_platform_spark.operators.pagemeta import page_metadata
    from ocr_platform_spark.sources.pages import PAGES_SCHEMA
    from ocr_platform_spark.streaming.ingest import run_metadata_stream

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "meta")
    ckpt = str(tmp_path / "ckpt")

    def drop(n0, n1):
        pdf = pd.DataFrame([gen_augmented(i, augment_html)
                            for i in range(n0, n1)])
        spark.createDataFrame(pdf, schema=PAGES_SCHEMA) \
            .write.mode("append").parquet(inp)

    drop(0, 40)
    run_metadata_stream(spark, inp, out, ckpt).awaitTermination(120)
    assert spark.read.parquet(out).count() == 40
    drop(40, 70)
    run_metadata_stream(spark, inp, out, ckpt).awaitTermination(120)
    got = {r["url"]: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 70, "re-run must not duplicate old files"

    batch = {r["url"]: r for r in page_metadata(
        spark.read.schema(PAGES_SCHEMA).parquet(inp)).collect()}
    assert set(got) == set(batch)
    assert any(r["og_title"] for r in got.values())
    for url, r in got.items():
        b = batch[url]
        for f in ("title", "og_title", "og_type", "canonical_url",
                  "jsonld_type", "n_meta"):
            assert r[f] == b[f], (url, f)


def test_tables_stream_matches_batch(spark, tmp_path):
    """The table scanner over readStream: cell-identical to batch."""
    import pandas as pd

    from ocr_platform_spark.datagen import augment_html_tables, gen_augmented
    from ocr_platform_spark.operators.tablex import page_tables
    from ocr_platform_spark.sources.pages import PAGES_SCHEMA
    from ocr_platform_spark.streaming.ingest import run_tables_stream

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")
    pdf = pd.DataFrame([gen_augmented(i, augment_html_tables)
                        for i in range(60)])
    spark.createDataFrame(pdf, schema=PAGES_SCHEMA) \
        .write.mode("append").parquet(inp)

    run_tables_stream(spark, inp, out, ckpt).awaitTermination(120)
    got = {(r["url"], r["table_idx"], r["row_idx"], r["col_idx"]):
           (r["is_header"], r["cell_text"])
           for r in spark.read.parquet(out).collect()}
    batch = {(r["url"], r["table_idx"], r["row_idx"], r["col_idx"]):
             (r["is_header"], r["cell_text"])
             for r in page_tables(
                 spark.read.schema(PAGES_SCHEMA).parquet(inp)).collect()}
    assert got == batch and got


def test_structured_streams_read_pages_as_they_are(spark, tmp_path):
    """A crawled page's own og:title, og:type and canonical, and its one
    table, are what the metadata and table streams report: the streams
    add nothing to the pages they read."""
    import datetime as dt

    import pandas as pd

    from ocr_platform_spark.sources.pages import PAGES_SCHEMA
    from ocr_platform_spark.streaming.ingest import (run_metadata_stream,
                                                     run_tables_stream)

    def page(i):
        html = (f"<html><head><title>Story {i}</title>"
                f'<meta property="og:title" content="Own {i}">'
                '<meta property="og:type" content="website">'
                f'<link rel="canonical" href="https://news.example/s/{i}">'
                "</head><body><p>lead</p><table>"
                "<tr><th>k</th><th>v</th></tr>"
                f"<tr><td>n</td><td>{i}</td></tr>"
                "</table></body></html>")
        return {"url": f"https://news.example/story/{i}",
                "warc_ts": dt.datetime(2024, 1, 1), "html": html.encode(),
                "text": "", "lang": "en"}

    inp = str(tmp_path / "pages")
    spark.createDataFrame(pd.DataFrame([page(i) for i in range(16)]),
                          schema=PAGES_SCHEMA).write.parquet(inp)

    run_metadata_stream(spark, inp, str(tmp_path / "meta"),
                        str(tmp_path / "ck_meta")).awaitTermination(120)
    meta = {r["url"]: (r["title"], r["og_title"], r["og_type"],
                       r["canonical_url"], r["jsonld_type"], r["n_meta"])
            for r in spark.read.parquet(str(tmp_path / "meta")).collect()}
    assert meta == {
        f"https://news.example/story/{i}":
            (f"Story {i}", f"Own {i}", "website",
             f"https://news.example/s/{i}", None, 2)
        for i in range(16)}

    run_tables_stream(spark, inp, str(tmp_path / "cells"),
                      str(tmp_path / "ck_cells")).awaitTermination(120)
    cells = sorted((r["url"], r["table_idx"], r["row_idx"], r["col_idx"],
                    r["is_header"], r["cell_text"])
                   for r in spark.read.parquet(
                       str(tmp_path / "cells")).collect())
    assert cells == sorted(
        (f"https://news.example/story/{i}", 0, r, c, r == 0, text)
        for i in range(16)
        for r, c, text in ((0, 0, "k"), (0, 1, "v"), (1, 0, "n"),
                           (1, 1, str(i))))
