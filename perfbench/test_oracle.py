"""Tests of the benchmark's output checker.

    python3 -m pytest perfbench/test_oracle.py -q     # from the repo root

A small ``run_extraction_job`` output is copied and damaged: one byte of
one row's ``extracted_text`` flipped, or one bucket's file duplicated.
The checker must report each as failed ops.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402

N_DOCS = 150


@pytest.fixture(scope="module")
def small_run(spark, tmp_path_factory):
    """(output dir, input urls, oracle) of a 150-doc extraction run."""
    from ocr_platform_spark.plans.extract_job import run_extraction_job
    from ocr_platform_spark.sources.pages import read_pages, write_pages

    base = tmp_path_factory.mktemp("perfbench")
    pages, out = str(base / "pages"), str(base / "out")
    write_pages(spark, N_DOCS, pages, seed=5)
    run_extraction_job(spark, read_pages(spark, pages), out,
                       n_buckets=8, salt=2)
    docs = [(r["url"], r["html"])
            for r in pq.read_table(pages, columns=["url", "html"]).to_pylist()]
    expected, _ = oracle.extract_oracle(docs)
    return out, {u for u, _ in docs}, expected


def _copy(out: str, tmp_path) -> str:
    dst = str(tmp_path / "copy")
    shutil.copytree(out, dst)
    shutil.copytree(out + "_manifest", dst + "_manifest")
    return dst


def _check(out, urls, expected):
    from ocr_platform_spark.sources.manifest import manifest_path

    rows = oracle.read_rows(out)
    failed, _ = oracle.check_extracted(rows, urls, expected)
    m_failed, _ = oracle.check_manifest(manifest_path(out), len(urls))
    return failed, m_failed, oracle.extracted_digest(rows)


def test_untouched_output_passes(small_run, tmp_path):
    out, urls, expected = small_run
    failed, m_failed, _ = _check(_copy(out, tmp_path), urls, expected)
    assert (failed, m_failed) == (0, 0)


def test_flipped_byte_is_one_failed_op(small_run, tmp_path):
    out, urls, expected = small_run
    copy = _copy(out, tmp_path)
    path = sorted(glob.glob(os.path.join(copy, "bucket=*", "*.parquet")))[0]
    table = pq.read_table(path)
    rows = table.to_pylist()
    victim = next(r for r in rows if r["extracted_text"])
    raw = bytearray(victim["extracted_text"].encode("utf-8"))
    i = next(i for i, b in enumerate(raw) if b < 0x80)   # stays valid UTF-8
    raw[i] ^= 0x01
    victim["extracted_text"] = raw.decode("utf-8")
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), path)

    failed, m_failed, dig = _check(copy, urls, expected)
    assert failed == 1
    assert m_failed == 0
    assert dig != _check(out, urls, expected)[2]


def test_duplicated_bucket_fails_each_of_its_rows(small_run, tmp_path):
    out, urls, expected = small_run
    copy = _copy(out, tmp_path)
    bucket = sorted(glob.glob(os.path.join(copy, "bucket=*")))[0]
    files = glob.glob(os.path.join(bucket, "*.parquet"))
    n_rows = sum(pq.read_metadata(f).num_rows for f in files)
    for f in files:
        shutil.copy(f, f.replace(".parquet", "-dup.parquet"))

    failed, _, _ = _check(copy, urls, expected)
    assert n_rows > 0
    assert failed == n_rows


def test_duplicated_manifest_bucket_is_reported(small_run, tmp_path):
    out, urls, expected = small_run
    copy = _copy(out, tmp_path)
    for f in glob.glob(os.path.join(copy + "_manifest", "*.parquet")):
        shutil.copy(f, f.replace(".parquet", "-dup.parquet"))
    _, m_failed, _ = _check(copy, urls, expected)
    assert m_failed > 0


def test_corpus_counters_must_reconcile_and_match():
    packed = [("u1",), ("u2",)]
    want = {"url_gate": 1, "extract": 1, "langid": 1, "packed": 2}
    good = {"url_gate": 1, "extract": 1, "langid": 1, "quality": 2,
            "dedup": 1, "packed": 2, "crawl": 8}
    assert oracle.check_corpus(good, packed, 8, want, packed)[0] == 0
    lost = dict(good, dedup=0)                      # one row unaccounted
    assert oracle.check_corpus(lost, packed, 8, want, packed)[0] == 1
    wrong = dict(good, langid=2, quality=1)         # reconciles, but wrong
    assert oracle.check_corpus(wrong, packed, 8, want, packed)[0] == 1
    assert oracle.check_corpus(good, packed[:1], 8, want, packed)[0] == 1
    swapped = [("u1",), ("u3",)]                    # right count, wrong row
    assert oracle.check_corpus(good, swapped, 8, want, packed)[0] == 2
