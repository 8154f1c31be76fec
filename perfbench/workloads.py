"""The benchmark's workloads: how each stages its input from a seed, the
one product call it times, and how it checks that call's output.

All run closed-loop: one caller, the next call after the previous one
returns. Input sizes are fixed so that one run, JVM start included, fits
the benchmark's time budget on a 4-core host.
"""

from __future__ import annotations

import os
import shutil
import statistics

import pyarrow.parquet as pq

import layers
import oracle

EXTRACT_DOCS = 6000       # extract-full pages
EXTRACT_SAMPLE = 4        # extract_document re-runs on one doc in this many
CORPUS_DOCS = 400         # corpus-curate base pages (mirrors added on top)


def _html_props(htmls: list[bytes]) -> dict:
    sizes = sorted(len(h) for h in htmls)
    return {
        "docs": len(sizes),
        "html_bytes_mean": statistics.fmean(sizes),
        "html_bytes_p99": statistics.quantiles(sizes, n=100)[98],
        "malformed_share": sum(1 for h in htmls if b"</html>" not in h)
        / len(htmls),
    }


class ExtractFull:
    """``run_extraction_job`` into an empty output over a staged pages
    table of ``datagen.gen_document`` docs."""

    name = "extract-full"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.calls = 0

    def stage(self, path: str) -> None:
        from ocr_platform_spark.sources.pages import write_pages

        write_pages(self.spark, EXTRACT_DOCS, path, seed=self.seed)

    def load(self, path: str) -> None:
        from ocr_platform_spark.datagen import DOMAINS
        from ocr_platform_spark.sources.pages import read_pages

        self.pages = read_pages(self.spark, path)
        rows = pq.read_table(path, columns=["url", "html", "lang"]).to_pylist()
        self.docs = [(r["url"], r["html"]) for r in rows]
        self.urls = {u for u, _ in self.docs}
        self.langs = {r["url"]: r["lang"] for r in rows}
        self.ops = len(self.docs)
        self.props = _html_props([h for _, h in self.docs])
        hot = f"https://{DOMAINS[0]}/"
        self.props["hot_domain_share"] = sum(
            1 for u, _ in self.docs if u.startswith(hot)) / self.ops
        self.props["pending_bucket_share"] = 1.0

    def build_oracle(self) -> None:
        self.expected, self.kernel_times = oracle.extract_oracle(
            self.docs, EXTRACT_SAMPLE)

    def call(self):
        from ocr_platform_spark.plans.extract_job import run_extraction_job

        self.calls += 1
        out = os.path.join(self.work, "out", f"call-{self.calls}")
        run_extraction_job(self.spark, self.pages, out)
        return out

    def check(self, out: str) -> tuple[int, list[str], str | None]:
        from ocr_platform_spark.sources.manifest import manifest_path

        rows = oracle.read_rows(out)
        failed, notes = oracle.check_extracted(rows, self.urls, self.expected)
        m_failed, m_notes = oracle.check_manifest(manifest_path(out),
                                                  self.ops)
        return (min(failed + m_failed, self.ops), notes + m_notes,
                oracle.extracted_digest(rows) if self.digests else None)

    def discard(self, out: str) -> None:
        from ocr_platform_spark.sources.manifest import manifest_path

        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(manifest_path(out), ignore_errors=True)

    def probes(self, tracer, last_out: str, cores: int,
               docs_per_s: float) -> dict:
        m = layers.exchange_probes(tracer, self.pages)
        m.update(layers.write_probes(self.spark, tracer, self.pages, last_out,
                                     self.work))
        m.update(layers.struct_probes(self.spark, tracer, self.work,
                                      self.seed))
        m.update(layers.kernel_rate(self.kernel_times, cores, docs_per_s))
        m.update(layers.kernel_stages(self.docs))
        m["arrow_out.s"] = layers.arrow_out_seconds(
            list(self.expected.values()), self.langs, cores, self.ops)
        return m


class CorpusCurate:
    """``run_corpus_job(crawl=...)`` over a staged crawl (base pages plus
    the product's deterministic re-crawl mirrors). The counters and the
    packed rows are checked against the DuckDB replay of the whole
    curation chain over pure-Python extraction and langid of the crawl,
    made once per run before the first call."""

    name = "corpus-curate"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def stage(self, path: str) -> None:
        from ocr_platform_spark.plans.corpus_job import crawl_pages

        (crawl_pages(self.spark, CORPUS_DOCS, seed=self.seed)
         .write.mode("overwrite").parquet(path))

    def load(self, path: str) -> None:
        from ocr_platform_spark.datagen import DOMAINS
        from ocr_platform_spark.plans.corpus_job import url_gate

        self.crawl = self.spark.read.parquet(path)
        self.pages = url_gate(self.crawl)       # what the kernel reads
        rows = pq.read_table(path, columns=["url", "lang", "html"]).to_pylist()
        self.rows = [(r["url"], r["lang"], r["html"]) for r in rows]
        self.ops = len(self.rows)
        self.props = _html_props([h for _, _, h in self.rows])
        self.props["base_docs"] = CORPUS_DOCS
        hot = f"https://{DOMAINS[0]}/"
        self.props["hot_domain_share"] = sum(
            1 for u, _, _ in self.rows if u.startswith(hot)) / self.ops
        self.props["mirror_share"] = sum(
            1 for u, _, _ in self.rows
            if "//mirror.example.net/" in u or "//cache.example.org/" in u
        ) / self.ops

    def build_oracle(self) -> None:
        self.extracted, self.kernel_times = oracle.extract_oracle(
            [(u, h) for u, _, h in self.rows])
        self.want_counts, self.want_packed = oracle.corpus_oracle(
            self.rows, self.extracted, self.work)

    def call(self):
        from ocr_platform_spark.plans.corpus_job import run_corpus_job

        packed, _, counters = run_corpus_job(self.spark, crawl=self.crawl)
        return packed, counters

    def check(self, result) -> tuple[int, list[str], str | None]:
        packed, counters = result
        rows = [tuple(r) for r in packed.collect()]
        failed, notes = oracle.check_corpus(
            counters, rows, self.ops, self.want_counts, self.want_packed)
        return failed, notes, (oracle.digest(
            [sorted(counters.items()), *rows]) if self.digests else None)

    def discard(self, result) -> None:
        self.spark.catalog.clearCache()

    def probes(self, tracer, last, cores: int, docs_per_s: float) -> dict:
        m = layers.corpus_probes(self.spark, tracer, self.crawl)
        m.update(layers.exchange_probes(tracer, self.pages, n_buckets=16,
                                        salt=2))
        m.update(layers.kernel_rate(self.kernel_times, cores, docs_per_s))
        m.update(layers.kernel_stages([(u, h) for u, _, h in self.rows]))
        m["arrow_out.s"] = layers.arrow_out_seconds(
            list(self.extracted.values()), {u: lg for u, lg, _ in self.rows},
            cores, self.ops - self.want_counts.get("url_gate", 0))
        return m


WORKLOADS = {w.name: w for w in (ExtractFull, CorpusCurate)}
