"""WARC ingestion source — the Common-Crawl container format.

The north rule's input is an Iceberg table of crawled pages; in the real
world that table is BUILT from WARC files (ISO 28500). This module is the
ingestion edge: a pure-stdlib WARC reader/writer kernel plus a Spark
wrapper that turns a directory of ``*.warc.gz`` into the pages-table shape
(BASELINE.json input_hint). Reference analogue: the document-fetch source
path (apps/queue/src/lib/ocr.ts:15-33) — bytes entering the system; here
the crawl container itself is the source.

Scale design (100 TB): Common Crawl stores EACH record as its own gzip
member inside ~1 GiB files, and the corpus ships as ~100k such files per
crawl — the format's own sharding IS the partitioning. ``read_warc`` reads
``binaryFile`` through sources/binfile.py (one row per file, files packed
into tasks by size), so a 100 TB crawl becomes ~100k well-sized tasks with
zero skew and no shuffle; parsing streams member-by-member, so peak memory per
task is one compressed file + ONE decompressed record, never the whole
decompressed file.

Never-drop contract (same as the extraction pipeline,
apps/queue/src/pipeline/index.ts:60-104): malformed records/members become
rows with a STABLE ``parse_error`` string (no library exception text — the
oracle fixture must hash identically across zlib versions), never silent
drops. Non-document records (warcinfo/request/metadata) are skipped but
still advance ``record_index``, so gaps in the index are auditable.
"""

from __future__ import annotations

import gzip
import hashlib
import zlib
from collections.abc import Iterator
from datetime import datetime
from pathlib import Path

from ocr_platform_spark.sources.binfile import read_binary_files

FIXTURE_DIR = (Path(__file__).resolve().parents[2]
               / "tests" / "fixtures" / "warc")

_CRLF2 = b"\r\n\r\n"
_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"

# Poison-pill guard: a hostile Content-Length can't allocate (it only
# slices), but a hostile record body could still dominate a task; cap it
# far above any real page (CC truncates captures at 1 MiB).
MAX_RECORD_BYTES = 32 << 20


# --------------------------------------------------------------------------
# pure kernel — writer
# --------------------------------------------------------------------------

def http_response_bytes(body: bytes, status: int = 200,
                        content_type: str = "text/html; charset=utf-8",
                        reason: str = "OK") -> bytes:
    head = (f"HTTP/1.1 {status} {reason}\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode("ascii")
    return head + body


def warc_record_bytes(warc_type: str, headers: dict[str, str],
                      payload: bytes) -> bytes:
    """One uncompressed WARC/1.0 record (header block + payload + trailer)."""
    lines = [f"WARC/1.0", f"WARC-Type: {warc_type}"]
    lines += [f"{k}: {v}" for k, v in headers.items()]
    lines.append(f"Content-Length: {len(payload)}")
    head = ("\r\n".join(lines)).encode("utf-8") + _CRLF2
    return head + payload + _CRLF2


def response_record(url: str, ts_iso: str, html: bytes, status: int = 200,
                    content_type: str = "text/html; charset=utf-8") -> bytes:
    """A response record as Common Crawl writes them (HTTP-framed payload).

    Record id is a pure function of (url, ts) so fixture bytes are
    deterministic."""
    rid = hashlib.md5(f"{url}|{ts_iso}".encode()).hexdigest()
    return warc_record_bytes("response", {
        "WARC-Target-URI": url,
        "WARC-Date": ts_iso,
        "WARC-Record-ID": f"<urn:md5:{rid}>",
        "Content-Type": "application/http; msgtype=response",
    }, http_response_bytes(html, status=status, content_type=content_type))


def conversion_record(url: str, ts_iso: str, text: str) -> bytes:
    """A WET-style conversion record (Common Crawl's extracted-text
    format): bare text/plain payload, WARC-Refers-To pointing at the
    response record the text was extracted from — same (url, ts) id
    formula as response_record, so the link holds across a round trip."""
    rid = hashlib.md5(f"{url}|{ts_iso}".encode()).hexdigest()
    cid = hashlib.md5(f"conv|{url}|{ts_iso}".encode()).hexdigest()
    return warc_record_bytes("conversion", {
        "WARC-Target-URI": url,
        "WARC-Date": ts_iso,
        "WARC-Record-ID": f"<urn:md5:{cid}>",
        "WARC-Refers-To": f"<urn:md5:{rid}>",
        "Content-Type": "text/plain",
    }, text.encode("utf-8"))


def warcinfo_record(filename: str) -> bytes:
    body = f"software: ocr-platform-spark\r\nfilename: {filename}\r\n".encode()
    return warc_record_bytes("warcinfo", {
        "WARC-Date": "2026-01-01T00:00:00Z",
        "WARC-Record-ID": f"<urn:md5:{hashlib.md5(filename.encode()).hexdigest()}>",
        "Content-Type": "application/warc-fields",
    }, body)


def write_warc(path: str | Path, records: list[bytes],
               member_per_record: bool = True) -> None:
    """Serialize records to a ``.warc.gz`` (CC-style: one gzip member per
    record, mtime=0 so the bytes are a pure function of the content)."""
    p = Path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    if member_per_record:
        data = b"".join(gzip.compress(r, mtime=0) for r in records)
    else:
        data = gzip.compress(b"".join(records), mtime=0)
    p.write_bytes(data)


# --------------------------------------------------------------------------
# pure kernel — reader
# --------------------------------------------------------------------------

def _gzip_members(data: bytes) -> Iterator[bytes]:
    """Yield decompressed gzip members one at a time (CC: member==record),
    so peak memory is one member, not the whole file. Raises ``ValueError``
    with a STABLE message on a corrupt member."""
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(data[pos:], MAX_RECORD_BYTES + (1 << 16))
            if not d.eof:
                if d.unconsumed_tail:
                    raise ValueError("record exceeds MAX_RECORD_BYTES")
                raise ValueError("truncated gzip member")
        except zlib.error:
            raise ValueError("bad gzip member") from None
        yield chunk
        pos = len(data) - len(d.unused_data)


def _parse_http(payload: bytes) -> tuple[int | None, str | None, bytes, str | None]:
    """→ (status, content_type, body, error). Tolerant: a payload without a
    valid status line is kept as the body with ``error`` set (never-drop)."""
    sep = payload.find(_CRLF2)
    if sep < 0:
        return None, None, payload, "bad http framing"
    head = payload[:sep].decode("latin-1", "replace").split("\r\n")
    parts = head[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/") \
            or not parts[1].isdigit():
        return None, None, payload, "bad http status line"
    status = int(parts[1])
    ctype = None
    for line in head[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
    return status, ctype, payload[sep + 4:], None


def _err_row(source: str, idx: int, msg: str) -> dict:
    return {"warc_file": source, "record_index": idx, "url": None,
            "warc_date": None, "html": None, "http_status": None,
            "content_type": None, "parse_error": msg}


def parse_warc(data: bytes, source: str = "",
               include_conversion: bool = False) -> list[dict]:
    """Parse one WARC file's bytes (gzipped or bare) into row dicts.

    Row: warc_file, record_index, url, warc_date (validated ISO string or
    None), html (bytes|None), http_status, content_type, parse_error.
    Response records yield one row each; other WARC-Types are skipped but
    advance record_index. All failure modes yield an error row and stop the
    file (framing is unrecoverable once lost) — nothing raises.

    ``include_conversion=True`` additionally yields WET-style conversion
    records (extracted text; the bare payload lands in the html column
    with http_status=None) — the read side of write_wet_files."""
    rows: list[dict] = []
    idx = 0
    buf = b""
    if data[:2] == b"\x1f\x8b":
        members = _gzip_members(data)
    elif data[:5] == b"WARC/":
        members = iter((data,))
    else:
        return [_err_row(source, 0, "not a warc file")]

    while True:
        # top up the carry buffer until a whole record (or a structural
        # error) is in it — a bad header must break out immediately, else
        # the loop would buffer the whole rest of the file looking for a
        # payload end that never comes
        try:
            while True:
                start = 0
                while buf[start:start + 2] == b"\r\n":
                    start += 2
                buf = buf[start:]
                hdr_end = buf.find(_CRLF2)
                if hdr_end >= 0:
                    head = buf[:hdr_end].decode("latin-1", "replace")
                    clen = _content_length(head)
                    if (not head.startswith("WARC/") or clen is None
                            or clen > MAX_RECORD_BYTES
                            or len(buf) >= hdr_end + 4 + clen):
                        break  # full record buffered, or unrecoverable
                nxt = next(members, None)
                if nxt is None:
                    if buf:
                        rows.append(_err_row(source, idx, "truncated record"))
                    return rows
                buf += nxt
        except ValueError as e:          # corrupt gzip member
            rows.append(_err_row(source, idx, str(e)))
            return rows

        if not head.startswith("WARC/"):
            rows.append(_err_row(source, idx, "bad record framing"))
            return rows
        if clen is None:
            rows.append(_err_row(source, idx, "bad content-length"))
            return rows
        if clen > MAX_RECORD_BYTES:
            rows.append(_err_row(source, idx, "record exceeds MAX_RECORD_BYTES"))
            return rows

        hdrs: dict[str, str] = {}
        for line in head.split("\r\n")[1:]:
            k, _, v = line.partition(":")
            hdrs[k.strip().lower()] = v.strip()
        payload = buf[hdr_end + 4: hdr_end + 4 + clen]
        buf = buf[hdr_end + 4 + clen:]

        if hdrs.get("warc-type") == "response":
            url = hdrs.get("warc-target-uri")
            date, date_err = _valid_date(hdrs.get("warc-date"))
            if url is None:
                rows.append(_err_row(source, idx, "response missing target-uri"))
            else:
                status, ctype, body, http_err = _parse_http(payload)
                rows.append({
                    "warc_file": source, "record_index": idx, "url": url,
                    "warc_date": date, "html": body, "http_status": status,
                    "content_type": ctype,
                    "parse_error": http_err or date_err,
                })
        elif include_conversion and hdrs.get("warc-type") == "conversion":
            # WET-style extracted-text record: the payload is the bare
            # text bytes (no HTTP framing), carried in the html column
            url = hdrs.get("warc-target-uri")
            date, date_err = _valid_date(hdrs.get("warc-date"))
            if url is None:
                rows.append(_err_row(source, idx,
                                     "conversion missing target-uri"))
            else:
                rows.append({
                    "warc_file": source, "record_index": idx, "url": url,
                    "warc_date": date, "html": payload, "http_status": None,
                    "content_type": hdrs.get("content-type"),
                    "parse_error": date_err,
                })
        idx += 1


def _content_length(head: str) -> int | None:
    for line in head.split("\r\n")[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-length":
            v = v.strip()
            return int(v) if v.isdigit() else None
    return None


def _valid_date(raw: str | None) -> tuple[str | None, str | None]:
    if raw is None:
        return None, "missing warc-date"
    try:
        datetime.strptime(raw, _DATE_FMT)
        return raw, None
    except ValueError:
        return None, "bad warc-date"


# --------------------------------------------------------------------------
# Spark wrapper
# --------------------------------------------------------------------------

def _warc_records(raw, include_conversion: bool = False):
    """(path, content) DataFrame → parsed-record DataFrame. One shared
    transform for the batch and streaming readers: the parse kernel is
    pure Python but runs once per FILE (amortized over thousands of
    records), not per row — Arrow-batched via mapInPandas like every other
    hot path here (no per-row Python contract, tests/test_no_per_row_python.py)."""
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType, IntegerType, LongType, StringType, StructField,
        StructType, TimestampType,
    )

    schema = StructType([
        StructField("warc_file", StringType(), False),
        StructField("record_index", LongType(), False),
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("http_status", IntegerType(), True),
        StructField("content_type", StringType(), True),
        StructField("parse_error", StringType(), True),
    ])

    def part(batches):
        cols = ["warc_file", "record_index", "url", "warc_date", "html",
                "http_status", "content_type", "parse_error"]
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_warc(
                    bytes(content), source=path.rsplit("/", 1)[-1],
                    include_conversion=include_conversion))
            out = pd.DataFrame(rows, columns=cols)
            # kernel already validated the format; NaT only for None
            out["warc_ts"] = pd.to_datetime(
                out.pop("warc_date"), format=_DATE_FMT, utc=True,
                errors="coerce").dt.tz_localize(None)
            out["http_status"] = out["http_status"].astype("Int32")
            yield out[[f.name for f in schema.fields]]

    return raw.mapInPandas(part, schema=schema)


def read_warc(spark, path_glob: str):
    """Directory/glob of WARC files → DataFrame of parsed records.

    ``binaryFile`` (sources/binfile.py) yields one row per file and packs
    files into tasks by size (``spark.sql.files.maxPartitionBytes``) — at
    CC scale each ~1 GiB file is its own task, so parallelism comes free
    from the format's sharding and there is NO shuffle anywhere in
    ingest."""
    return _warc_records(read_binary_files(spark, path_glob))


def read_wet(spark, path_glob: str):
    """Directory/glob of WET files → DataFrame of conversion records
    (url, warc_ts, html=text bytes, content_type='text/plain'). Same
    binaryFile sharding/no-shuffle contract as read_warc."""
    return _warc_records(read_binary_files(spark, path_glob),
                         include_conversion=True)


def read_warc_stream(spark, path_glob: str):
    """Streaming variant: a binaryFile file-source stream over a growing
    crawl directory — new WARC files are discovered per micro-batch and
    parsed by the SAME kernel, so streamed rows are byte-identical to a
    batch ``read_warc`` over the same files. No ``maxFilesPerTrigger`` is
    set, so one drain takes every new file in one micro-batch; the
    checkpoint's file-source log gives exactly-once file processing
    across restarts, same contract as streaming/ingest.py."""
    return _warc_records(read_binary_files(spark, path_glob, stream=True))


def warc_pages(df, with_transport_charset: bool = False):
    """Project parsed records into the pages-table shape (input_hint):
    clean 200/text-html captures only; ``text``/``lang`` are downstream
    products (the pipeline recomputes text; langid fills lang).

    ``with_transport_charset=True`` appends a ``transport_charset`` column
    — the charset parameter of the HTTP Content-Type header, parsed
    JVM-side — which the extraction kernel ranks between BOM and meta per
    WHATWG (extract/charset.py). Header-only-labeled legacy pages then
    decode correctly; the default keeps the exact 5-column input_hint
    contract."""
    from pyspark.sql import functions as F

    base = df.filter(F.col("parse_error").isNull()
                     & (F.col("http_status") == 200)
                     & F.col("content_type").startswith("text/html"))
    cols = ["url", "warc_ts", "html",
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang")]
    if with_transport_charset:
        cols.append(F.nullif(F.regexp_extract(
            "content_type",
            r"(?i)charset\s*=\s*[\"']?\s*([a-zA-Z0-9][a-zA-Z0-9._:-]{0,39})",
            1), F.lit("")).alias("transport_charset"))
    return base.select(*cols)


# The date written for a row whose warc_ts is NULL (parse_warc emits such
# rows for bad/missing dates under the never-drop contract): exporting must
# keep the row, so it gets the epoch sentinel instead of crashing the task.
_NULL_TS_ISO = "1970-01-01T00:00:00Z"


def _records_sink(df, out_dir: str, payload_col: str, make_record,
                  ext: str, manifest_col: str):
    """Shared distributed record sink: one gzipped container file per
    partition, written BY THE EXECUTORS (no driver funnel), named by
    partition id; returns the lineage manifest (file, n_records, n_bytes)
    — the per-partition counter contract of sources/manifest.py. Empty
    partitions write nothing and manifest a NULL file name (a name for a
    file that does not exist would break any consumer that opens each
    manifest entry). NULL warc_ts rows are kept with the epoch sentinel.

    Local-filesystem paths here (the sandbox); on a real cluster point
    out_dir at a fuse/NFS mount or swap the ``open`` for an
    fsspec/Hadoop-FS writer — the plan shape (one task, one file, one
    manifest row) is the scalable part."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    manifest_schema = StructType([
        StructField(manifest_col, StringType(), True),
        StructField("n_records", IntegerType(), False),
        StructField("n_bytes", LongType(), False),
    ])
    out = str(out_dir)

    def write_partition(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        recs: list[bytes] = []
        for pdf in batches:
            for url, ts, payload in zip(pdf["url"], pdf["warc_ts"],
                                        pdf[payload_col]):
                ts_iso = (pd.Timestamp(ts).strftime(_DATE_FMT)
                          if pd.notna(ts) else _NULL_TS_ISO)
                recs.append(make_record(str(url), ts_iso, payload))
        name = f"part-{pid:05d}{ext}"
        path = Path(out) / name
        if recs:  # empty partitions write nothing (no zero-record files)
            write_warc(path, [warcinfo_record(name)] + recs)
        yield pd.DataFrame(
            {manifest_col: [name if recs else None],
             "n_records": [len(recs)],
             "n_bytes": [path.stat().st_size if recs else 0]})

    return (df.select("url", "warc_ts", payload_col)
            .mapInPandas(write_partition, schema=manifest_schema))


def write_warc_files(df, out_dir: str):
    """Distributed WARC sink: pages-shaped rows → one ``.warc.gz`` of
    response records per partition (+ manifest) — _records_sink with the
    HTTP-framed response constructor. Use for re-sharding a crawl or
    exporting curated subsets in the format every crawl tool reads;
    CC-style member-per-record output means the files are themselves
    splittable by the reader."""
    return _records_sink(
        df, out_dir, "html",
        lambda url, ts_iso, html: response_record(
            url, ts_iso, bytes(html) if html is not None else b""),
        ".warc.gz", "warc_file")


def write_wet_files(df, out_dir: str):
    """Distributed WET sink — the extraction engine's NATIVE output
    format: (url, warc_ts, text) rows → one ``.warc.wet.gz`` of
    conversion records per partition, written by the executors, named by
    partition id, manifest row per task (wet_file, n_records, n_bytes) —
    write_warc_files' contract applied to Common Crawl's extracted-text
    format. Together with read_wet this closes the engine's round trip:
    read_warc → extract → write_wet_files → read_wet re-ingests the text
    byte-identically (pinned in tests/test_warc.py)."""
    return _records_sink(
        df, out_dir, "text",
        lambda url, ts_iso, text: conversion_record(
            url, ts_iso, str(text) if text is not None else ""),
        ".warc.wet.gz", "wet_file")


# --------------------------------------------------------------------------
# deterministic fixture corpus (committed under tests/fixtures/warc/)
# --------------------------------------------------------------------------

def make_warc_fixture_files(out_dir: str | Path = FIXTURE_DIR,
                            n_pages: int = 60, seed: int = 42) -> list[Path]:
    """Stage the fixture crawl: 3 clean CC-style files from gen_document
    plus one hostile file (every parse_error branch) and one corrupt-gzip
    file. Pure function of (n_pages, seed) — bytes are committable."""
    from ocr_platform_spark.datagen import gen_document

    out = Path(out_dir)
    written: list[Path] = []
    per_file = n_pages // 3
    for f in range(3):
        name = f"crawl-{f:02d}.warc.gz"
        recs = [warcinfo_record(name)]
        for i in range(f * per_file, (f + 1) * per_file):
            d = gen_document(i, seed)
            ts = d["warc_ts"].strftime(_DATE_FMT)
            recs.append(response_record(d["url"], ts, bytes(d["html"])))
        write_warc(out / name, recs)
        written.append(out / name)

    ts = "2026-02-03T04:05:06Z"
    hostile = [
        warcinfo_record("hostile.warc.gz"),
        warc_record_bytes("request", {
            "WARC-Target-URI": "https://skip.example/req",
            "WARC-Date": ts}, b"GET / HTTP/1.1\r\n\r\n"),
        response_record("https://h.example/404", ts,
                        b"<html>gone</html>", status=404),
        response_record("https://h.example/doc.pdf", ts, b"%PDF-1.4 x",
                        content_type="application/pdf"),
        # bad http status line inside the payload
        warc_record_bytes("response", {
            "WARC-Target-URI": "https://h.example/badhttp",
            "WARC-Date": ts,
            "Content-Type": "application/http; msgtype=response",
        }, b"NOT-HTTP nonsense\r\nX: y\r\n\r\n<html>kept anyway</html>"),
        # bad WARC-Date
        warc_record_bytes("response", {
            "WARC-Target-URI": "https://h.example/baddate",
            "WARC-Date": "yesterday-ish",
            "Content-Type": "application/http; msgtype=response",
        }, http_response_bytes(b"<html>dated</html>")),
        # response with a bare (non-HTTP) payload
        warc_record_bytes("response", {
            "WARC-Target-URI": "https://h.example/rawbody",
            "WARC-Date": ts,
            "Content-Type": "text/html",
        }, b"<html>no http framing</html>"),
    ]
    # final member: a record cut mid-payload (valid gzip, truncated WARC)
    full = response_record("https://h.example/truncated", ts,
                           b"<html>" + b"x" * 400 + b"</html>")
    hostile_path = Path(out) / "hostile.warc.gz"
    data = b"".join(gzip.compress(r, mtime=0) for r in hostile)
    data += gzip.compress(full[: len(full) // 2], mtime=0)
    hostile_path.parent.mkdir(parents=True, exist_ok=True)
    hostile_path.write_bytes(data)
    written.append(hostile_path)

    # one good member then garbage bytes: good row + "bad gzip member" row
    bad_path = Path(out) / "badgzip.warc.gz"
    good = gzip.compress(
        response_record("https://h.example/before-corruption", ts,
                        b"<html>ok</html>"), mtime=0)
    bad_path.write_bytes(good + b"\x1f\x8b\x08NOT-REALLY-GZIP" + b"\x00" * 32)
    written.append(bad_path)

    # legacy encodings: the charset-sniffer's integration surface
    # (extract/charset.py) — real crawls carry windows-125x / UTF-16
    # pages; the html BYTES round-trip untouched through ingest and the
    # decoding happens in the extraction kernel
    ar = ("مرحبا "
          "بالعالم")   # Arabic hello
    ar_para = " ".join([ar] * 6)
    fr_para = b"it\x92s a caf\xe9 \x97 d\xe9j\xe0 vu " * 4   # cp1252 bytes
    u16_body = ("<html><body><main><p>utf sixteen page body with enough "
                "words to segment</p></main></body></html>")
    # legacy captures ship a bare text/html header (no charset param), as
    # real servers serving meta-labeled/BOM'd/undeclared legacy pages do —
    # a charset param would (correctly, per WHATWG) outrank the meta label
    # on the transport-aware ingest path
    legacy = [
        warcinfo_record("legacy.warc.gz"),
        response_record(
            "https://legacy.example/cp1256", ts,
            ('<html><head><meta charset="windows-1256"></head><body>'
             f'<main><p>{ar_para}</p></main></body></html>'
             ).encode("cp1256"), content_type="text/html"),
        response_record(
            "https://legacy.example/utf16", ts,
            b"\xff\xfe" + u16_body.encode("utf-16-le"),
            content_type="text/html"),
        response_record(
            "https://legacy.example/cp1252-undeclared", ts,
            b"<html><body><main><p>" + fr_para + b"</p></main></body></html>",
            content_type="text/html"),
        # header-ONLY label: no BOM, no meta — only the HTTP Content-Type
        # carries the charset; decodes correctly solely via the transport
        # label (warc_pages(with_transport_charset=True)); the kernel's
        # payload-only call falls back to the cp1252 guess and mojibakes
        response_record(
            "https://legacy.example/koi8-header-only", ts,
            ("<html><body><main><p>" + " ".join(["привет мир"] * 8)
             + "</p></main></body></html>").encode("koi8-r"),
            content_type="text/html; charset=koi8-r"),
    ]
    legacy_path = Path(out) / "legacy.warc.gz"
    write_warc(legacy_path, legacy)
    written.append(legacy_path)
    return written
