"""Spark-path extraction tests: byte-identical vs the pure-Python oracle,
parallelism-invariance, error envelope, manifest + resume semantics.

Mirrors the reference's operational correctness gates (SURVEY.md §5):
golden parity, never-drop row accounting (ref apps/queue/src/queues/
page/worker.ts:61-66), and single-page redo idempotency
(ref apps/queue/src/routes/ocr.ts:90-136) re-expressed as bucket resume.
"""

from __future__ import annotations

import pytest

from ocr_platform_spark.datagen import gen_document
from ocr_platform_spark.extract import extract_document
from ocr_platform_spark.plans.extract_job import (
    extract_pages, place_wave, run_extraction_job, with_bucket)
from ocr_platform_spark.sources.pages import pages_df

N_DOCS = 200


@pytest.fixture(scope="module")
def extracted_rows(spark):
    ext = extract_pages(pages_df(spark, N_DOCS), n_buckets=16)
    return {r["url"]: r for r in ext.collect()}


def test_rows_never_dropped(extracted_rows):
    assert len(extracted_rows) == N_DOCS


def test_byte_identical_vs_oracle(extracted_rows):
    """Spark output must equal the pure-Python oracle per url, byte for byte."""
    for i in range(N_DOCS):
        doc = gen_document(i)
        want = extract_document(doc["url"], doc["html"])
        got = extracted_rows[doc["url"]]
        assert got["extracted_text"] == want.extracted_text, doc["url"]
        assert got["header"] == want.header
        assert got["body"] == want.body
        assert got["footnotes"] == want.footnotes
        assert got["page_number"] == want.page_number
        assert got["total_words"] == want.total_words
        assert got["failed_stage"] == want.failed_stage
        got_spans = [(s["block_id"], s["start"], s["end"], s["kind"])
                     for s in got["spans"]]
        assert got_spans == want.spans


def test_parallelism_invariance(spark, extracted_rows):
    """Same bytes at 1 partition and N partitions (scaling precondition)."""
    one = extract_pages(pages_df(spark, N_DOCS, partitions=1),
                        n_buckets=16, shuffle=False)
    for r in one.collect():
        assert r["extracted_text"] == extracted_rows[r["url"]]["extracted_text"]


def test_adversarial_corpus_matches_goldens_at_1_and_n_cores(spark):
    """The committed adversarial goldens (deep tables / RTL / footnote
    marker styles / multi-script / tag soup, tests/fixtures/
    adversarial_goldens.json) must come out of the Spark plan
    byte-identically at 1 partition and at N partitions."""
    import json
    import pathlib

    from ocr_platform_spark.datagen import adversarial_pages

    goldens = {g["url"]: g for g in json.loads(
        (pathlib.Path(__file__).parent / "fixtures" /
         "adversarial_goldens.json").read_text())}
    rows = [(d["url"], d["html"], d["lang"]) for d in adversarial_pages()]
    df = spark.createDataFrame(rows, "url string, html binary, lang string")
    for n_parts in (1, 8):
        got = {r["url"]: r for r in extract_pages(
            df.repartition(n_parts), n_buckets=8, shuffle=False).collect()}
        assert set(got) == set(goldens)
        for url, g in goldens.items():
            r = got[url]
            assert r["extracted_text"].encode() == \
                g["extracted_text"].encode(), (n_parts, url)
            assert r["failed_stage"] == g["failed_stage"]
            assert r["total_words"] == g["total_words"]
            assert r["page_number"] == g["page_number"]


def test_error_envelope(extracted_rows):
    """Malformed docs are flagged NEEDS_ADDITIONAL_REVIEW, never dropped."""
    failed = [r for r in extracted_rows.values() if r["failed_stage"]]
    assert failed, "datagen guarantees ~2% malformed docs"
    for r in failed:
        assert "NEEDS_ADDITIONAL_REVIEW" in r["flags"]
        assert r["reason"]


def test_resume_processes_only_missing_buckets(spark, tmp_path):
    out = str(tmp_path / "extracted")
    pages = pages_df(spark, 100)
    bucketed = with_bucket(pages, n_buckets=8)

    # simulate a run killed after half the buckets
    partial = bucketed.filter("bucket < 4")
    run_extraction_job(spark, partial, out, n_buckets=8, run_id="r1")
    m1 = spark.read.parquet(out + "_manifest")
    assert m1.filter("bucket >= 4").count() == 0

    # resume with the full input: only buckets >= 4 get processed
    final = run_extraction_job(spark, pages, out, n_buckets=8, run_id="r2")
    m2 = spark.read.parquet(out + "_manifest")
    assert final.count() == 100
    assert m2.filter("run_id = 'r2' and bucket < 4").count() == 0
    assert set(r["bucket"] for r in m2.select("bucket").collect()) == set(range(8))

    # idempotency: re-running with everything done is a no-op
    again = run_extraction_job(spark, pages, out, n_buckets=8, run_id="r3")
    assert again.count() == 100
    assert spark.read.parquet(out + "_manifest").filter("run_id='r3'").count() == 0


def test_wave_bounded_backfill_drains_pending(spark, tmp_path):
    """max_buckets: each invocation processes at most that many pending
    buckets (lowest ids first), so a giant catch-up runs as bounded waves
    until pending drains — the 10M-doc ladder protocol (D6 at scale)."""
    out = str(tmp_path / "waves")
    pages = pages_df(spark, 100)

    run_extraction_job(spark, pages, out, n_buckets=8, run_id="w1",
                       max_buckets=3)
    m1 = spark.read.parquet(out + "_manifest")
    assert sorted(r["bucket"] for r in m1.select("bucket").collect()) \
        == [0, 1, 2]

    run_extraction_job(spark, pages, out, n_buckets=8, run_id="w2",
                       max_buckets=3)
    run_extraction_job(spark, pages, out, n_buckets=8, run_id="w3",
                       max_buckets=3)
    m3 = spark.read.parquet(out + "_manifest")
    assert sorted(r["bucket"] for r in m3.select("bucket").collect()) \
        == list(range(8))
    # waves never reprocess: one manifest row per bucket in total
    assert m3.count() == 8
    assert spark.read.parquet(out).count() == 100


def test_manifest_counters_consistent(spark, tmp_path):
    out = str(tmp_path / "ext2")
    run_extraction_job(spark, pages_df(spark, 100), out, n_buckets=8)
    m = spark.read.parquet(out + "_manifest")
    agg = m.groupBy().sum("docs_in", "docs_failed").collect()[0]
    assert agg["sum(docs_in)"] == 100
    ext = spark.read.parquet(out)
    assert agg["sum(docs_failed)"] == ext.filter("failed_stage is not null").count()


def test_salt_balances_partition_cost(spark):
    """Salt sub-splits coarse resume buckets so per-partition compute cost
    (proxied by html bytes) balances: on a wave with fewer buckets than
    tasks, max/mean per-partition cost must be strictly better with salt=4
    than salt=1 at equal partition count (SURVEY §4.2.1 — AQE cannot fix
    UDF compute skew)."""
    from pyspark.sql import functions as F

    pages = with_bucket(pages_df(spark, 3000), n_buckets=8)
    wave = [0, 1, 2]

    def imbalance(salt: int) -> float:
        df = place_wave(pages.filter(F.col("bucket").isin(wave)),
                        n_buckets=8, salt=salt, n_partitions=8, buckets=wave)
        per_part = (df.groupBy(F.spark_partition_id().alias("pid"))
                    .agg(F.sum(F.length("html")).alias("cost")))
        rows = [r["cost"] for r in per_part.collect()]
        rows += [0] * (8 - len(rows))
        return max(rows) / (sum(rows) / len(rows))

    assert imbalance(4) < imbalance(1)


@pytest.mark.parametrize("waves_before, max_buckets, wave", [
    (0, None, range(8)),
    (0, 3, range(3)),
    (1, 3, range(3, 6)),
], ids=["all-8", "wave-0-2", "wave-3-5"])
def test_wave_layout_contiguous_per_task(spark, tmp_path, waves_before,
                                         max_buckets, wave):
    """Each task owns a contiguous run of the wave's (bucket rank, salt)
    keys. A bucket spans at most ceil(N / K) + 1 tasks (2 once K >= N), a
    wave of K buckets on N = min(K x salt, 2 x cores) tasks writes at most
    K + N - 1 files, and a resume wave over a subset of buckets still runs
    on all N tasks (rows are ranked within the wave, not over n_buckets)."""
    from pyspark.sql import functions as F

    out = tmp_path / "layout"
    pages = pages_df(spark, 400)
    for _ in range(waves_before + 1):
        run_extraction_job(spark, pages, str(out), n_buckets=8, salt=4,
                           max_buckets=max_buckets)
    k = len(wave)
    n = min(k * 4, 2 * spark.sparkContext.defaultParallelism)
    files = {b: len(list((out / f"bucket={b}").glob("*.parquet")))
             for b in wave}
    assert max(files.values()) <= -(-n // k) + 1, files  # 2 once k >= n
    assert sum(files.values()) <= k + n - 1, files

    todo = with_bucket(pages, 8).filter(F.col("bucket").isin(list(wave)))
    tasks = (extract_pages(todo, 8, 4, buckets=list(wave))
             .select(F.spark_partition_id().alias("pid")).distinct())
    assert tasks.count() == n


def test_manifest_cost_column(spark, tmp_path):
    """Manifest carries per-bucket extraction cost for skew monitoring."""
    out = str(tmp_path / "ext3")
    run_extraction_job(spark, pages_df(spark, 100), out, n_buckets=8)
    m = spark.read.parquet(out + "_manifest")
    assert "cost_ms" in m.columns
    assert m.filter("cost_ms > 0").count() == m.count()


def test_catalog_table_sink_call_shape(spark, monkeypatch):
    """The Iceberg seam (SURVEY §7): with ``table=`` set,
    write_with_manifest must go through DataSourceV2 ``writeTo(table)
    .overwritePartitions()`` and append the manifest to
    ``<table>_manifest`` — no parquet path involved. No Iceberg runtime
    ships in this container, so this pins the call shape."""
    # pyspark 4: methods resolve on the concrete classic DataFrame class,
    # not the pyspark.sql.DataFrame abstract base
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    from ocr_platform_spark.sources.manifest import write_with_manifest

    extracted = extract_pages(pages_df(spark, 20), n_buckets=4)
    calls: list[tuple[str, str]] = []

    class _Recorder:
        def __init__(self, table: str) -> None:
            self.table = table

        def overwritePartitions(self) -> None:
            calls.append((self.table, "overwritePartitions"))

        def append(self) -> None:
            calls.append((self.table, "append"))

    monkeypatch.setattr(
        DataFrame, "writeTo", lambda self, tbl: _Recorder(tbl))
    monkeypatch.setattr(
        DataFrameReader, "table", lambda self, tbl: extracted)

    write_with_manifest(extracted, output_path="/nonexistent/never-used",
                        run_id="r1", table="cat.db.pages_extracted")
    assert calls == [
        ("cat.db.pages_extracted", "overwritePartitions"),
        ("cat.db.pages_extracted_manifest", "append"),
    ]
