"""Output checks for every workload.

One op is one input row (for the structured workload, one page through
one kernel). A row that is missing, duplicated or differs from the
oracle is a failed op. The oracle is the engine's pure-Python core run in
this process: ``extract_document`` for extraction, the per-page scanners
for the structured kernels, and for the corpus job the repository's
DuckDB replay of the whole curation chain over pure-Python extraction.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import zlib
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

# the columns of an extracted row that must equal extract_document's
EXTRACT_FIELDS = ("extracted_text", "header", "body", "footnotes",
                  "total_words", "spans", "failed_stage")
# every output column except the per-batch timing share
DIGEST_FIELDS = ("url", "lang", "extracted_text", "header", "body",
                 "footnotes", "page_number", "total_words", "spans",
                 "failed_stage", "reason", "flags", "bytes_parsed",
                 "blocks_kept", "blocks_dropped", "bucket")


def digest(rows) -> str:
    """Order-independent digest of an iterable of JSON-able rows; a
    duplicated row changes it."""
    hashes = sorted(
        hashlib.sha256(json.dumps(r, ensure_ascii=False, default=str)
                       .encode("utf-8")).digest() for r in rows)
    return hashlib.sha256(b"".join(hashes)).hexdigest()


def read_rows(path: str, columns=None) -> list[dict]:
    """Rows of a (hive-partitioned) parquet directory, read without Spark."""
    return pq.read_table(path, columns=columns,
                         partitioning="hive").to_pylist()


def sampled(url: str, k: int) -> bool:
    """Deterministic url-hash sample: one url in ``k``."""
    return k == 1 or zlib.crc32(url.encode("utf-8")) % k == 0


def _spans(spans) -> list[tuple]:
    if not spans:
        return []
    return [(s["block_id"], s["start"], s["end"], s["kind"])
            if isinstance(s, dict) else tuple(s) for s in spans]


# ---- extraction -------------------------------------------------------

def extract_oracle(docs, sample: int = 1):
    """``docs``: (url, html) pairs; with ``sample`` k, only the url-hash
    sample of one doc in k. Returns ({url: ExtractionResult},
    [seconds per doc]); the per-doc times are the single-core kernel
    rate the traced report uses."""
    from ocr_platform_spark.extract import extract_document

    results, times = {}, []
    for url, html in docs:
        if not sampled(url, sample):
            continue
        t = time.perf_counter()
        results[url] = extract_document(url, html)
        times.append(time.perf_counter() - t)
    return results, times


def _expected(r) -> tuple:
    return (r.extracted_text, r.header, r.body, r.footnotes,
            r.total_words, [tuple(s) for s in r.spans], r.failed_stage)


def check_extracted(rows: list[dict], urls: set[str], oracle: dict
                    ) -> tuple[int, list[str]]:
    """Failed input rows of one extraction output: missing, duplicated,
    not in the input, or differing from the oracle (which may cover a
    sample of ``urls``). Capped at the input size."""
    seen = Counter(r["url"] for r in rows)
    bad: set[str] = set()
    notes = []
    for url in urls:
        if seen[url] != 1:
            bad.add(url)
    extra = [u for u in seen if u not in urls]
    for r in rows:
        url = r["url"]
        if url in oracle and url not in bad:
            got = tuple(_spans(r[f]) if f == "spans" else r[f]
                        for f in EXTRACT_FIELDS)
            if got != _expected(oracle[url]):
                bad.add(url)
    missing = sum(1 for u in urls if seen[u] == 0)
    dups = sum(1 for u in urls if seen[u] > 1)
    if missing or dups or extra:
        notes.append(f"{missing} missing, {dups} duplicated, "
                     f"{len(extra)} unknown urls")
    differ = len(bad) - missing - dups
    if differ:
        notes.append(f"{differ} rows differ from extract_document")
    return min(len(bad) + len(extra), len(urls)), notes


def extracted_digest(rows: list[dict]) -> str:
    return digest([[_spans(r[f]) if f == "spans" else r[f]
                    for f in DIGEST_FIELDS] for r in rows])


def check_manifest(path: str, n_docs: int) -> tuple[int, list[str]]:
    """The lineage manifest must count every input row once, with no
    bucket manifested twice."""
    rows = read_rows(path, ["bucket", "docs_in"])
    n_in = sum(r["docs_in"] for r in rows)
    dup = len(rows) - len({r["bucket"] for r in rows})
    notes = []
    if n_in != n_docs or dup:
        notes.append(f"manifest counts {n_in} docs for {n_docs} input, "
                     f"{dup} buckets twice")
    return min(abs(n_in - n_docs) + dup, n_docs), notes


# ---- corpus curation --------------------------------------------------

COUNTED_STAGES = ("url_gate", "extract", "langid", "packed")


def corpus_oracle(crawl: list[tuple[str, str, bytes]], extracted: dict,
                  work_dir: str) -> tuple[dict, list[tuple]]:
    """The corpus job as the repository's DuckDB oracle computes it from
    pure-Python extraction (``extracted``: url → extract_document's
    result, see ``extract_oracle``) and langid of the staged crawl, the
    fixture recipe of tools/make_driver_fixtures.py. Returns the
    url-gate, extraction-failure, langid and packed counts, and the
    packed rows of ``CX_CRAWL_CORPUS_SQL``."""
    import duckdb

    from ocr_platform_spark.operators.registry import ORACLE_FIXTURES
    from ocr_platform_spark.operators.text_analysis import detect_language
    from ocr_platform_spark.plans import corpus_job as cj

    counts, rows = Counter(), []
    for url, lang, _ in crawl:
        r = extracted[url]
        lang_det = (detect_language(r.extracted_text)
                    if r.failed_stage is None else None)
        rows.append((url, lang, r.extracted_text, r.failed_stage, lang_det))
        if _url_blocked(url, cj):
            counts["url_gate"] += 1
        elif r.failed_stage is not None:
            counts["extract"] += 1
        elif lang_det not in cj.TARGET_LANGS:
            counts["langid"] += 1
    path = os.path.join(work_dir, "corpus_oracle.parquet")
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "url": pa.array(cols[0], pa.string()),
        "lang": pa.array(cols[1], pa.string()),
        "text": pa.array(cols[2], pa.string()),
        "failed_stage": pa.array(cols[3], pa.string()),
        "lang_det": pa.array(cols[4], pa.string()),
    }), path)
    fixture = str(ORACLE_FIXTURES / "corpus_pages.parquet")
    if fixture not in cj.CX_CRAWL_CORPUS_SQL:
        raise RuntimeError("corpus oracle SQL no longer reads its fixture")
    # DuckDB 1.0 inlines a CTE at every reference (the MinHash signatures
    # once per band); materializing each gives the same rows in a fifth
    # of the time
    sql = re.sub(r"(?m)^(WITH )?(\w+) AS \(", r"\1\2 AS MATERIALIZED (",
                 cj.CX_CRAWL_CORPUS_SQL.replace(fixture, path))
    con = duckdb.connect()
    try:
        packed = [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()
    counts["packed"] = len(packed)
    return dict(counts), packed


def _url_blocked(url: str, cj) -> bool:
    host = re.match(r"^https://([^/]+)", url)
    return bool((host and host.group(1) in cj.BLOCKED_HOSTS)
                or re.search(cj.URL_BLOCK_RE, url))


def check_corpus(counters: dict, packed: list[tuple], n_crawl: int,
                 want_counts: dict, want_packed: list[tuple]
                 ) -> tuple[int, list[str]]:
    """Counters must reconcile to the crawl and match the oracle's
    counts, and the packed rows must equal ``want_packed``."""
    notes = []
    failed = 0
    total = sum(v for k, v in counters.items() if k != "crawl")
    if total != n_crawl or counters.get("crawl") != n_crawl:
        notes.append(f"counters sum to {total}, crawl {counters.get('crawl')},"
                     f" staged {n_crawl}")
        failed += abs(total - n_crawl)
    for k in COUNTED_STAGES:
        if counters.get(k, 0) != want_counts.get(k, 0):
            notes.append(f"{k}: {counters.get(k, 0)} != {want_counts.get(k, 0)}")
            failed += abs(counters.get(k, 0) - want_counts.get(k, 0))
    got, want = Counter(packed), Counter(want_packed)
    diff = sum(((got - want) + (want - got)).values())
    if diff:
        notes.append(f"{diff} packed rows differ")
        failed += diff
    return min(failed, n_crawl), notes


# ---- structured extraction --------------------------------------------

STRUCT_SAMPLE = 4         # the scanners re-run on one page in this many


def struct_oracle(pages: list[tuple[str, bytes]]) -> dict:
    """{kernel: {url: rows}} from the kernels' per-page scanners, for
    the sampled pages."""
    from ocr_platform_spark.extract.links import extract_links
    from ocr_platform_spark.operators.codeblocks import scan_code
    from ocr_platform_spark.operators.microdata import scan_microdata
    from ocr_platform_spark.operators.outline import scan_headings
    from ocr_platform_spark.operators.pagemeta import collect_meta
    from ocr_platform_spark.operators.tablex import scan_tables

    out: dict = defaultdict(dict)
    for u, h in pages:
        if not sampled(u, STRUCT_SAMPLE):
            continue
        out["metadata"][u] = [tuple(collect_meta(u, h))]
        out["links"][u] = [
            (u, lk.link_no, lk.href_raw, lk.resolved, lk.anchor_text,
             lk.kind, lk.boilerplate) for lk in extract_links(u, h)]
        text = h.decode("utf-8", "replace")
        out["tables"][u] = [(u, *t) for t in scan_tables(text)]
        out["microdata"][u] = [(u, *t) for t in scan_microdata(text)]
        out["headings"][u] = [(u, *t) for t in scan_headings(text)]
        out["code"][u] = [(u, *t) for t in scan_code(text)]
    return dict(out)


def _key(row: tuple):
    return tuple((v is None, v) for v in row)


def check_struct(rows: list[tuple], want: dict, urls: set[str]
                 ) -> tuple[int, list[str]]:
    """Failed pages of one kernel: sampled pages whose rows differ from
    the scanner's (a page absent from the output must expect no rows),
    and rows for urls that are not in the input."""
    got: dict = defaultdict(list)
    for r in rows:
        got[r[0]].append(tuple(r))
    bad = sum(1 for u, rs in want.items()
              if sorted(got.get(u, []), key=_key) != sorted(rs, key=_key))
    bad += sum(1 for u in got if u not in urls)
    return min(bad, len(urls)), ([f"{bad} pages differ"] if bad else [])
