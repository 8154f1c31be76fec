"""JSONL ingestion kernel + query pins (sources/jsonl.py)."""

from __future__ import annotations

import pytest

from ocr_platform_spark.sources.jsonl import (parse_jsonl_bytes,
                                              parse_jsonl_line)


def test_line_spec_branches():
    assert parse_jsonl_line("")[-1] == "empty"
    assert parse_jsonl_line("   ")[-1] == "empty"
    assert parse_jsonl_line('{"url": "u", "te')[-1] == "malformed"
    assert parse_jsonl_line("[1]")[-1] == "not_object"
    assert parse_jsonl_line('{"text": "t"}')[-1] == "bad_url"
    assert parse_jsonl_line('{"url": 5, "text": "t"}')[-1] == "bad_url"
    assert parse_jsonl_line('{"url": "", "text": "t"}')[-1] == "bad_url"
    assert parse_jsonl_line('{"url": "u"}')[-1] == "bad_text"
    assert parse_jsonl_line('{"url": "u", "text": 5}')[-1] == "bad_text"


def test_valid_line_lenient_metadata():
    import hashlib

    url, ts, lang, ntok, sha, err = parse_jsonl_line(
        '{"url": "u", "text": "hi", "ts": 7, "lang": ["x"],'
        ' "n_tokens": "9"}')
    assert err is None and url == "u"
    assert ts is None and lang is None and ntok is None   # wrong types
    assert sha == hashlib.sha256(b"hi").hexdigest()
    # bool is not an int for n_tokens
    assert parse_jsonl_line(
        '{"url": "u", "text": "t", "n_tokens": true}')[3] is None
    assert parse_jsonl_line(
        '{"url": "u", "text": "t", "n_tokens": 4}')[3] == 4


def test_bytes_spec_trailing_newline_and_line_numbers():
    rows = parse_jsonl_bytes(
        "f", b'{"url": "u", "text": "a"}\n\n{"url": "v", "text": "b"}\n')
    assert [(r[1], r[-1]) for r in rows] == \
        [(0, None), (1, "empty"), (2, None)]
    assert parse_jsonl_bytes("f", b"") == []
    # no trailing newline: last line still parses
    rows = parse_jsonl_bytes("f", b'{"url": "u", "text": "a"}')
    assert len(rows) == 1 and rows[0][-1] is None


def test_jsonl_ingest_query_invariants(spark):
    """Every parse_error branch must be LIVE in the committed fixture,
    clean shards must be fully clean, and counts must be exact."""
    from ocr_platform_spark.sources.jsonl import jsonl_ingest

    rows = jsonl_ingest(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 132
    errs = {r["parse_error"] for r in rows if r["parse_error"]}
    assert errs == {"empty", "malformed", "not_object",
                    "bad_url", "bad_text"}
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r["jsonl_file"], []).append(r)
    for shard in ("docs-00.jsonl", "docs-01.jsonl", "docs-02.jsonl"):
        assert len(by_file[shard]) == 40
        assert all(r["parse_error"] is None for r in by_file[shard])
        assert all(r["text_sha256"] and r["n_tokens"] is not None
                   for r in by_file[shard])
    assert "emptyfile.jsonl" not in by_file
    # line numbers contiguous per file
    for rs in by_file.values():
        assert sorted(r["line_no"] for r in rs) == list(range(len(rs)))


def test_jsonl_stream_matches_batch_and_resumes(spark, tmp_path):
    """Streaming ingest over a growing shard dir: exactly-once per file,
    row-identical to batch over the same files."""
    import shutil

    from ocr_platform_spark.sources.jsonl import (FIXTURE_DIR, read_jsonl,
                                                  read_jsonl_stream)
    from ocr_platform_spark.streaming.ingest import drain

    inp = tmp_path / "shards"
    inp.mkdir()
    out = str(tmp_path / "rows")
    ckpt = str(tmp_path / "ckpt")

    def run():
        drain(read_jsonl_stream(spark, str(inp / "*.jsonl")), out,
              ckpt).awaitTermination(120)

    shutil.copy(FIXTURE_DIR / "docs-00.jsonl", inp / "docs-00.jsonl")
    run()
    assert spark.read.parquet(out).count() == 40
    shutil.copy(FIXTURE_DIR / "docs-01.jsonl", inp / "docs-01.jsonl")
    shutil.copy(FIXTURE_DIR / "hostile.jsonl", inp / "hostile.jsonl")
    run()
    got = {(r["jsonl_file"], r["line_no"]): tuple(r)
           for r in spark.read.parquet(out).collect()}
    batch = {(r["jsonl_file"], r["line_no"]): tuple(r)
             for r in read_jsonl(spark, str(inp / "*.jsonl")).collect()}
    assert got == batch and len(got) == 92


_CRAWL = {f"crawl-0{i}.warc.gz" for i in range(3)}
_DOCS = {f"docs-0{i}.jsonl" for i in range(3)}


@pytest.mark.parametrize("leaf, warcs, docs", [
    ("0*", _CRAWL, _DOCS),
    ("0?", _CRAWL, _DOCS),
    ("0[01]", _CRAWL - {"crawl-02.warc.gz"}, _DOCS - {"docs-02.jsonl"}),
    # emptyfile.jsonl has no lines, so no rows name it
    (None, _CRAWL | {"badgzip.warc.gz", "hostile.warc.gz",
                     "legacy.warc.gz"}, _DOCS | {"hostile.jsonl"}),
], ids=["star", "qmark", "class", "dir"])
def test_leaf_glob_rule(spark, tmp_path, leaf, warcs, docs):
    """One rule for every binaryFile reader: a ``*``, ``?`` or ``[`` leaf
    filters its directory, a bare directory reads every file. The batch
    WARC and JSONL readers and the JSONL stream select the same files."""
    from ocr_platform_spark.sources import jsonl, warc
    from ocr_platform_spark.streaming.ingest import drain

    def glob(d, name):
        return str(d) if leaf is None else str(d / name.format(leaf))

    def names(df, col):
        return {r[0].rsplit("/", 1)[-1]
                for r in df.select(col).distinct().collect()}

    warc_glob = glob(warc.FIXTURE_DIR, "crawl-{}.warc.gz")
    jsonl_glob = glob(jsonl.FIXTURE_DIR, "docs-{}.jsonl")
    assert names(warc.read_warc(spark, warc_glob), "warc_file") == warcs
    assert names(jsonl.read_jsonl(spark, jsonl_glob), "jsonl_file") == docs
    out = str(tmp_path / "rows")
    drain(jsonl.read_jsonl_stream(spark, jsonl_glob), out,
          str(tmp_path / "ckpt")).awaitTermination(120)
    assert names(spark.read.parquet(out), "jsonl_file") == docs


def test_write_jsonl_roundtrip_and_deterministic_shards(spark, tmp_path):
    """Export → re-read roundtrip preserves the record set, and shard
    membership is the documented md5 rule (re-export lands identically)."""
    import glob
    import hashlib
    import json

    from ocr_platform_spark.sources.jsonl import write_jsonl

    docs = spark.createDataFrame(
        [(f"https://e.example/d/{i}", f"body {i} text", "en", 10 + i)
         for i in range(50)],
        "url string, text string, lang string, n_tokens long")
    out = str(tmp_path / "export")
    write_jsonl(docs, out, n_shards=4)

    got = {}
    for f in glob.glob(out + "/shard=*/part-*.txt"):
        shard = int(f.split("shard=")[1].split("/")[0])
        for ln in open(f, encoding="utf-8"):
            o = json.loads(ln)
            got[o["url"]] = (o["text"], o["lang"], o["n_tokens"], shard)
    assert len(got) == 50
    for i in range(50):
        url = f"https://e.example/d/{i}"
        text, lang, ntok, shard = got[url]
        assert (text, lang, ntok) == (f"body {i} text", "en", 10 + i)
        want = int(hashlib.md5(url.encode()).hexdigest()[:14], 16) % 4
        assert shard == want, url
    # re-export is shard-stable
    out2 = str(tmp_path / "export2")
    write_jsonl(docs, out2, n_shards=4)
    shards2 = {}
    for f in glob.glob(out2 + "/shard=*/part-*.txt"):
        shard = int(f.split("shard=")[1].split("/")[0])
        for ln in open(f, encoding="utf-8"):
            shards2[json.loads(ln)["url"]] = shard
    assert shards2 == {u: sh for u, (_, _, _, sh) in got.items()}
