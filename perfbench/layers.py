"""The traced run: spans, Spark event-log metrics and per-layer probes.

Spans are recorded around the benchmark's own calls into the engine's
public functions and kept in memory until the report is written. Spark's
event log is switched on from outside the package (a JVM system property
read when the traced session starts) and every job is tagged with the
name of the span that launched it, so task metrics can be summed per
layer. Probes are A/B plans run once each on the workload's own staged input:
noop-forced scans, ``shuffle=True`` against ``shuffle=False``, an identity
Arrow round trip, a partitioned write against a noop sink, and the
kernel's stages timed one by one in this process.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

# every per-layer metric the traced run reports; a layer the workload
# does not run reports 0
PER_LAYER = {
    "pages.scan_s": "s", "pages.scan_bytes": "bytes",
    "exchange.s": "s", "exchange.tasks": "count",
    "exchange.shuffle_write_bytes": "bytes", "exchange.task_skew": "ratio",
    "arrow_in.s": "s", "arrow_out.s": "s",
    "kernel.docs_per_s_1core": "docs/s", "kernel.decode_us": "us",
    "kernel.correct_us": "us", "kernel.parse_us": "us",
    "kernel.classify_us": "us", "kernel.segment_us": "us",
    "kernel.words_us": "us", "kernel.doc_p99_ms": "ms",
    "kernel.ideal_docs_per_s": "docs/s", "kernel.job_vs_ideal": "ratio",
    "write.s": "s", "write.files": "count", "write.bytes": "bytes",
    "manifest.build_s": "s", "manifest.pending_s": "s",
    "corpus.derive_s": "s", "corpus.gates_s": "s", "corpus.exact_s": "s",
    "corpus.near_s": "s", "corpus.pack_s": "s",
    "corpus.minhash_pairs": "count",
    "struct.metadata_s": "s", "struct.tables_s": "s",
    "struct.microdata_s": "s", "struct.headings_s": "s",
    "struct.code_s": "s", "struct.links_s": "s",
    "engine.tasks": "count", "engine.executor_run_s": "s",
    "engine.gc_s": "s", "engine.spill_bytes": "bytes",
    "engine.shuffle_read_bytes": "bytes",
    "engine.shuffle_write_bytes": "bytes",
    "engine.scheduler_delay_s": "s",
    "proc.jvm_peak_rss_mb": "MiB", "proc.pyworker_peak_rss_mb": "MiB",
    "proc.pyworkers": "count",
    "trace.overhead": "ratio",
}

KERNEL_SAMPLE = 600       # docs timed stage by stage in this process


class Tracer:
    """In-memory spans: name, start, end, parent and run id. When a
    SparkContext is attached, each span also names the Spark jobs it
    launches, which ties event-log stages back to spans."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(
                    self.spans[self._stack[-1]]["name"] if self._stack
                    else None)

    def names_under(self, name: str) -> set[str]:
        """Names of the spans called ``name`` and of all their
        descendants."""
        inside: set[int] = set()
        for s in self.spans:                 # parents precede children
            if s["name"] == name or s["parent"] in inside:
                inside.add(s["id"])
        return {self.spans[i]["name"] for i in inside}

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children
        cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)


def timed(tracer: Tracer, name: str, fn) -> float:
    with tracer.span(name) as s:
        fn()
    return s["end"] - s["start"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# the layers a traced call's wall is split into, per workload shape
WALL_PARTS = (
    {"scan": ("pages.scan_s",), "exchange": ("exchange.s",),
     "arrow_in": ("arrow_in.s",), "kernel": ("kernel.ideal_s",),
     "arrow_out": ("arrow_out.s",), "write": ("write.s",),
     "manifest": ("manifest.build_s", "manifest.pending_s")},
    {k: (f"corpus.{k}_s",) for k in ("derive", "gates", "exact", "near",
                                     "pack")},
)


def wall_shares(m: dict, ops: int, calls: list[dict]) -> dict[str, float]:
    """Share of the median traced call's wall each layer accounts for,
    plus the unaccounted remainder. The kernel's share is its ideal
    time, ops ÷ (cores × single-core rate)."""
    m = dict(m)
    if m.get("kernel.ideal_docs_per_s"):
        m["kernel.ideal_s"] = ops / m["kernel.ideal_docs_per_s"]
    wall = statistics.median(c["wall_s"] for c in calls)
    for parts in WALL_PARTS:
        if all(k in m for ks in parts.values() for k in ks):
            shares = {name: sum(m[k] for k in ks) / wall
                      for name, ks in parts.items()}
            shares["unaccounted"] = 1 - sum(shares.values())
            return shares
    return {}


# ---- Spark event log ---------------------------------------------------

def read_event_log(event_dir: str) -> dict[str, list[dict]]:
    """Task metrics from the event log, grouped by job description (the
    span name). Each task: stage, run/gc/deserialize/serialize ms,
    duration, spilled and shuffled bytes."""
    stage_desc: dict[int, str] = {}
    tasks: list[dict] = []
    files = [f for f in glob.glob(os.path.join(event_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(f) and "appstatus" not in f
             and not f.endswith(".crc")]
    for path in sorted(files):
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    for sid in e["Stage IDs"]:
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    m, info = e["Task Metrics"], e["Task Info"]
                    sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                    tasks.append({
                        "stage": e["Stage ID"],
                        "run_ms": m["Executor Run Time"],
                        "gc_ms": m["JVM GC Time"],
                        "deser_ms": m["Executor Deserialize Time"],
                        "ser_ms": m["Result Serialization Time"],
                        "get_ms": info.get("Getting Result Time", 0),
                        "dur_ms": info["Finish Time"] - info["Launch Time"],
                        "spill": m["Memory Bytes Spilled"]
                        + m["Disk Bytes Spilled"],
                        "shuffle_read": sr["Remote Bytes Read"]
                        + sr["Local Bytes Read"],
                        "shuffle_write": sw["Shuffle Bytes Written"],
                    })
    by_desc: dict[str, list[dict]] = defaultdict(list)
    for t in tasks:
        by_desc[stage_desc.get(t["stage"], "")].append(t)
    return dict(by_desc)


def engine_metrics(tasks: list[dict], calls: int) -> dict[str, float]:
    """Stage metrics per timed call, summed over its tasks."""
    n = max(calls, 1)

    def total(key):
        return sum(t[key] for t in tasks) / n

    delay = sum(max(0, t["dur_ms"] - t["run_ms"] - t["deser_ms"]
                    - t["ser_ms"] - t["get_ms"]) for t in tasks) / n
    return {
        "engine.tasks": len(tasks) / n,
        "engine.executor_run_s": total("run_ms") / 1000,
        "engine.gc_s": total("gc_ms") / 1000,
        "engine.spill_bytes": total("spill"),
        "engine.shuffle_read_bytes": total("shuffle_read"),
        "engine.shuffle_write_bytes": total("shuffle_write"),
        "engine.scheduler_delay_s": delay / 1000,
    }


def exchange_metrics(tasks: list[dict]) -> dict[str, float]:
    """The salted exchange as the ``shuffle=True`` probe ran it: tasks of
    the stage that reads the shuffle, the bytes written into it, and that
    stage's slowest task over its median one."""
    stages = defaultdict(list)
    for t in tasks:
        stages[t["stage"]].append(t)
    readers = [ts for ts in stages.values()
               if any(t["shuffle_read"] for t in ts)]
    if not readers:
        return {}
    extract = max(readers, key=len)
    runs = [t["run_ms"] for t in extract]
    med = statistics.median(runs)
    return {
        "exchange.tasks": len(extract),
        "exchange.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "exchange.task_skew": max(runs) / med if med else 0.0,
    }


# ---- in-process kernel probes -------------------------------------------

def kernel_stages(docs, limit: int = KERNEL_SAMPLE) -> dict[str, float]:
    """Mean microseconds per doc of each extract_document stage, timed
    one by one over every k-th doc (deterministic sample)."""
    from ocr_platform_spark.extract import (
        classify_blocks, parse_blocks, segment_blocks)
    from ocr_platform_spark.extract.charset import decode_html
    from ocr_platform_spark.extract.pipeline import correct_text
    from ocr_platform_spark.functions.words import count_page_words

    step = max(1, len(docs) // limit)
    ns = defaultdict(list)
    clock = time.perf_counter_ns
    for _, html in docs[::step]:
        if not html or html[:5] == b"%PDF-":
            continue
        t0 = clock()
        raw, _ = decode_html(html, None)
        t1 = clock()
        corrected = correct_text(raw)
        t2 = clock()
        ns["decode"].append(t1 - t0)
        ns["correct"].append(t2 - t1)
        if not corrected.strip():
            continue
        blocks = parse_blocks(corrected)
        t3 = clock()
        ns["parse"].append(t3 - t2)
        if not blocks:
            continue
        labelled = classify_blocks(blocks)
        t4 = clock()
        seg = segment_blocks(labelled)
        t5 = clock()
        ns["classify"].append(t4 - t3)
        ns["segment"].append(t5 - t4)
        count_page_words(seg.body, seg.footnotes)
        ns["words"].append(clock() - t5)
    return {f"kernel.{k}_us": statistics.fmean(v) / 1000
            for k, v in ns.items() if v}


def kernel_rate(times: list[float], cores: int, job_docs_per_s: float
                ) -> dict[str, float]:
    """Single-core extract_document rate from the oracle pass, and how
    far the job is from cores × that rate."""
    rate = len(times) / sum(times)
    ideal = rate * cores
    return {
        "kernel.docs_per_s_1core": rate,
        "kernel.doc_p99_ms": statistics.quantiles(times, n=100)[98] * 1000,
        "kernel.ideal_docs_per_s": ideal,
        "kernel.job_vs_ideal": ideal / job_docs_per_s,
    }


def arrow_out_seconds(results, langs: dict, cores: int, n_docs: int) -> float:
    """pandas → Arrow conversion of real kernel-output batches into
    EXTRACTED_SCHEMA, as the job's share of wall: single-core seconds
    per doc × docs ÷ cores."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from ocr_platform_spark.plans.extract_job import EXTRACTED_SCHEMA
    from ocr_platform_spark.session import ARROW_MAX_RECORDS

    schema = to_arrow_schema(EXTRACTED_SCHEMA)
    cols = [f.name for f in EXTRACTED_SCHEMA.fields]
    rows = [(r.url, langs.get(r.url), r.extracted_text, r.header, r.body,
             r.footnotes, r.page_number, r.total_words,
             [{"block_id": b, "start": s, "end": e, "kind": k}
              for b, s, e, k in r.spans],
             r.failed_stage, r.reason, r.flags, r.bytes_parsed,
             r.blocks_kept, r.blocks_dropped, 0, 0.0) for r in results]
    spent = 0.0
    for i in range(0, len(rows), ARROW_MAX_RECORDS):
        pdf = pd.DataFrame(rows[i:i + ARROW_MAX_RECORDS], columns=cols)
        t = time.perf_counter()
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
        spent += time.perf_counter() - t
    return spent / max(len(rows), 1) * n_docs / cores


# ---- Spark probes ----------------------------------------------------------

def exchange_probes(tracer: Tracer, pages, n_buckets: int | None = None,
                    salt: int | None = None) -> dict[str, float]:
    """Scan, salted exchange and Arrow-in A/B plans over ``pages`` as
    ``extract_pages`` reads them (the job's default buckets and salt
    unless given)."""
    from pyspark.sql import functions as F

    from ocr_platform_spark.plans import extract_job as ej

    n_buckets = n_buckets or ej.DEFAULT_BUCKETS
    salt = salt or ej.DEFAULT_SALT
    m = {}
    # hashing makes the noop sink decode every byte of the three columns
    scan = timed(tracer, "probe.scan", lambda: noop(
        pages.select(F.xxhash64("url", "html", "lang"))))
    m["pages.scan_s"] = scan
    # on disk, not the event log's input bytes: parquet's vectored reads
    # run outside the task thread and go uncounted there
    m["pages.scan_bytes"] = sum(
        os.path.getsize(unquote(urlparse(f).path)) for f in pages.inputFiles())
    shuffled = timed(tracer, "probe.shuffle", lambda: noop(
        ej.extract_pages(pages, n_buckets, salt, shuffle=True)))
    local = timed(tracer, "probe.no_shuffle", lambda: noop(
        ej.extract_pages(pages, n_buckets, salt, shuffle=False)))
    m["exchange.s"] = shuffled - local

    def identity(batches):           # nested: workers get it by value
        yield from batches

    cols = ej.with_bucket(pages, n_buckets).select("url", "html", "lang",
                                                    "bucket")
    arrow = timed(tracer, "probe.arrow_in",
                  lambda: noop(cols.mapInPandas(identity, cols.schema)))
    m["arrow_in.s"] = arrow - scan
    return m


def write_probes(spark, tracer: Tracer, pages, out_path: str,
                 scratch: str) -> dict[str, float]:
    """Write and manifest A/B plans; ``out_path`` is a finished
    extraction output of ``pages`` with its manifest."""
    from ocr_platform_spark.plans.extract_job import with_bucket
    from ocr_platform_spark.sources.manifest import (
        build_manifest, pending_buckets)

    m = {}
    done = spark.read.parquet(out_path)
    sink = timed(tracer, "probe.write_noop", lambda: noop(done))
    target = os.path.join(scratch, "write_probe")
    write = timed(tracer, "probe.write", lambda: done.write.mode("overwrite")
                  .partitionBy("bucket").parquet(target))
    parts = [os.path.join(d, f) for d, _, fs in os.walk(target)
             for f in fs if f.endswith(".parquet")]
    m["write.s"] = write - sink
    m["write.files"] = len(parts)
    m["write.bytes"] = sum(os.path.getsize(p) for p in parts)
    m["manifest.build_s"] = timed(
        tracer, "probe.manifest_build",
        lambda: build_manifest(done, "probe").write.mode("overwrite")
        .parquet(os.path.join(scratch, "manifest_probe")))
    m["manifest.pending_s"] = timed(
        tracer, "probe.manifest_pending",
        lambda: pending_buckets(spark, with_bucket(pages), out_path)
        .select("bucket").distinct().collect())
    shutil.rmtree(target, ignore_errors=True)
    return m


def corpus_probes(spark, tracer: Tracer, crawl) -> dict[str, float]:
    """Each curation stage materialized in turn, so each span holds only
    its own stage's work."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from ocr_platform_spark.operators.dedup import minhash_pairs
    from ocr_platform_spark.plans import corpus_job as cj
    from ocr_platform_spark.plans.extract_job import extract_pages

    # the timed call's persisted relations would serve these plans
    spark.catalog.clearCache()
    held = []

    def stage(name, make):
        with tracer.span(name) as s:
            df = make().persist(StorageLevel.MEMORY_AND_DISK)
            held.append(df)
            df.count()
        return df, s["end"] - s["start"]

    m = {}
    try:
        derived, m["corpus.derive_s"] = stage(
            "probe.corpus_derive", lambda: cj.derive_curation_cols(
                extract_pages(cj.url_gate(crawl), n_buckets=16, salt=2)
                .select("url", "lang", F.col("extracted_text").alias("text"),
                        "failed_stage")))
        gated, m["corpus.gates_s"] = stage(
            "probe.corpus_gates", lambda: cj.quality_gates(derived))
        exact, m["corpus.exact_s"] = stage(
            "probe.corpus_exact", lambda: cj.exact_keep_first(gated))
        kept, m["corpus.near_s"] = stage(
            "probe.corpus_near", lambda: cj.drop_near_dups(exact))
        m["corpus.pack_s"] = timed(tracer, "probe.corpus_pack",
                                   lambda: noop(cj.pack_corpus(kept)))
        m["corpus.minhash_pairs"] = minhash_pairs(
            exact.select(F.col("url").alias("doc_id"), "text")).count()
    finally:
        for df in held:
            df.unpersist()
        spark.catalog.clearCache()
    return m


STRUCT_PAGES = 3000       # pages of the structured-extraction probe
STRUCT_FILES = 8          # parquet files they are split into
KERNELS = ("metadata", "tables", "microdata", "headings", "code", "links")


def struct_probes(spark, tracer: Tracer, work: str, seed: int) -> dict:
    """The six structured-extraction kernels, each forced alone into a
    noop sink over the benchmark's structured pages (htmlgen), then
    collected once and checked against their per-page scanners; one op
    is one page through one kernel (``struct.ops``, ``struct.failed``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import oracle
    from htmlgen import gen_page
    from ocr_platform_spark.operators.codeblocks import page_code_blocks
    from ocr_platform_spark.operators.microdata import page_microdata
    from ocr_platform_spark.operators.outline import page_headings
    from ocr_platform_spark.operators.pagemeta import page_metadata
    from ocr_platform_spark.operators.tablex import page_tables
    from ocr_platform_spark.operators.weblinks import links_df

    fns = dict(zip(KERNELS, (page_metadata, page_tables, page_microdata,
                             page_headings, page_code_blocks, links_df)))
    path = os.path.join(work, "struct_pages")
    os.makedirs(path, exist_ok=True)
    docs = [gen_page(i, seed) for i in range(STRUCT_PAGES)]
    step = -(-len(docs) // STRUCT_FILES)
    for k in range(STRUCT_FILES):
        part = docs[k * step:(k + 1) * step]
        pq.write_table(pa.table({
            "url": pa.array([u for u, _ in part], pa.string()),
            "html": pa.array([h for _, h in part], pa.binary()),
        }), os.path.join(path, f"part-{k:03d}.parquet"))
    pages = spark.read.parquet(path)
    m = {}
    for k, fn in fns.items():
        m[f"struct.{k}_s"] = timed(tracer, f"probe.struct_{k}",
                                   lambda: noop(fn(pages)))
    want = oracle.struct_oracle(docs)
    urls = {u for u, _ in docs}
    m["struct.ops"] = len(docs) * len(fns)
    m["struct.failed"] = sum(
        oracle.check_struct([tuple(r) for r in fn(pages).collect()],
                            want[k], urls)[0] for k, fn in fns.items())
    return m
