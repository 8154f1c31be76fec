"""Crawl → training corpus in ONE composed plan (`cx_crawl_corpus`).

The other end-to-end composition in this repo, ``cx_curation_pipeline``,
starts from already-extracted text (the ``documents`` table). This plan is
the full product path a pretraining-data team runs over a raw crawl —
every stage is this engine's own operator, chained over the pages table
the north rule fixes (url, warc_ts, html, text, lang):

    crawl (pages ∪ re-crawl mirrors)
      → URL gate          (blocklist host + path-keyword regex,
                           BEFORE the kernel: rows are dropped while they
                           are still one url string, never after paying
                           Python extraction for them)
      → extraction kernel (extract_pages: (bucket, salt) placement →
                           mapInPandas, the flagship job's exact shape)
      → failure routing   (failed_stage rows split off, never dropped)
      → language gate     (detect_language over EXTRACTED text;
                           corpus targets ar/en/fa)
      → Gopher quality    (the published rule set, shared expressions
                           with ta_gopher_quality)
      → exact dedup       (canonical-fingerprint keep-first, preferring
                           non-mirror hosts)
      → near-dup removal  (one Arrow pass of MinHash signatures and
                           shingle sets, LSH banding, exact-Jaccard
                           verification: operators.dedup.minhash_pairs,
                           url as doc_id)
      → sequence packing  (shard by url-hash, running token offsets into
                           fixed 256-token training sequences)

Scale shape: the extracted+derived relation is persisted once (the
local-mode analogue of the materialized `extracted` table the 100 TB run
writes between the kernel and curation — run_extraction_job) and every
later stage is either map-side column math on it or a join against a
derived keep/drop set that is orders of magnitude smaller than the
corpus. Near-dup removal reads the text once more, in the one Arrow
MinHash pass whose signatures and shingle sets feed banding and
verification (see minhash_pairs). Nothing rescans html after extraction.

Dedup policy: near-mirrors lose to their originals (host rank), exact
dups keep the first (host-rank, url) — both pure functions of url so no
timestamp ever has to travel with the text.

Mirrors: a deterministic md5-selector re-crawls ~2/7 of pages under
mirror hosts — `cache.example.org` byte-identical (exact-dup food) and
`mirror.example.net` with an appended attribution paragraph (near-dup
food, Jaccard ≈ 0.95). This models the real crawl's mirror/CDN
duplication; the selector is md5-based so the DuckDB oracle replays it
exactly.

Oracle: tests/fixtures/oracle/corpus_pages.parquet carries the pure-
Python extraction (same kernel as the goldens) + langid of every crawl
row; the oracle SQL then recomputes the ENTIRE curation chain — gate,
Gopher, exact, MinHash banding/verification, packing — in DuckDB on that
fixture. A single changed byte of extracted text anywhere in the
distributed run shifts a fingerprint or shingle set and fails the hash.

Reference parity: this is the Spark shape of the reference's whole
pipeline chain (apps/queue/src/pipeline/index.ts:8-130) continued past
extraction into the corpus-curation stages the reference leaves to
downstream consumers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_platform_spark.functions import whitespace as ws
from ocr_platform_spark.functions.md5int import md5_int, md5_int_sql
from ocr_platform_spark.operators.dedup import minhash_pairs
from ocr_platform_spark.operators.text_analysis import (
    GOPHER_SQL_PASS, gopher_checks, gopher_pass, gopher_sql_ctes)
from ocr_platform_spark.plans.extract_job import extract_pages
from ocr_platform_spark.session import scoped_persist
from ocr_platform_spark.sources.pages import pages_df

# --- crawl composition (deterministic, engine-replayable) -----------------
CORPUS_DOCS = 600
MIRROR_MOD = 7           # md5(url) % 7 picks mirror fate
NEAR_SEL = 3             # → mirror.example.net, text slightly changed
EXACT_SEL = 5            # → cache.example.org, byte-identical html
NEAR_HOST = "mirror.example.net"
EXACT_HOST = "cache.example.org"
MIRROR_SUFFIX = b"<p>Mirrored from the original archive for offline reading.</p>"

# --- curation policy ------------------------------------------------------
BLOCKED_HOSTS = ("qadim.example.com",)
URL_BLOCK_RE = "/book/7/"
TARGET_LANGS = ("ar", "en", "fa")
SEQ_LEN = 256
PACK_SHARDS = 8


def _md5_mod(col: F.Column, m: int) -> F.Column:
    """Bucket in [0, m) from the 15-digit ``md5int`` hash, which the DuckDB
    oracle replays (xxhash64 is Spark-only)."""
    return F.pmod(md5_int(F.encode(col, "UTF-8"), 15), F.lit(m))


def _rehost(url: F.Column, host: str) -> F.Column:
    return F.regexp_replace(url, "^https://[^/]+", "https://" + host)


def crawl_pages(spark: SparkSession, n_docs: int = CORPUS_DOCS,
                seed: int = 42) -> DataFrame:
    """The input crawl: synthetic pages plus deterministic re-crawl
    mirrors. Mirrors are built with column math only — no extra Python —
    so the crawl is one narrow union over the generated table."""
    base = pages_df(spark, n_docs, seed)
    sel = _md5_mod(F.col("url"), MIRROR_MOD)
    near = (base.filter(sel == NEAR_SEL)
            .withColumn("url", _rehost(F.col("url"), NEAR_HOST))
            .withColumn("html", F.concat(F.col("html"),
                                         F.lit(MIRROR_SUFFIX))))
    exact = (base.filter(sel == EXACT_SEL)
             .withColumn("url", _rehost(F.col("url"), EXACT_HOST)))
    return base.unionByName(near).unionByName(exact)


def url_host(url: F.Column) -> F.Column:
    """The url's host ('' when the url is not https)."""
    return F.regexp_extract(url, "^https://([^/]+)", 1)


def url_blocked(url: F.Column) -> F.Column:
    """The url-gate block rule: a blocked host or a keyword match."""
    return url_host(url).isin(*BLOCKED_HOSTS) | url.rlike(URL_BLOCK_RE)


def url_gate(df: DataFrame) -> DataFrame:
    """Blocklist/keyword pruning on the bare url — applied BEFORE the
    kernel so blocked rows never pay Python extraction."""
    return df.filter(~url_blocked(F.col("url")))


def canonical_fp(text: F.Column) -> F.Column:
    """The exact-dedup fingerprint — ONE definition shared by the batch
    plan and the streaming top-up; the DuckDB oracle hashes its twin,
    ``whitespace.norm_sql``."""
    return F.md5(F.encode(ws.norm(text), "UTF-8"))


def derive_curation_cols(ext: DataFrame) -> DataFrame:
    """Per-row curation columns over an extracted relation
    (url, lang, text, failed_stage): all map-side JVM column math except
    langid (one Arrow-batched pandas UDF). Shared by the batch plan and
    the streaming top-up so batch/stream can never drift on gates or
    fingerprints."""
    from ocr_platform_spark.operators.text_analysis import (
        detect_language_udf)

    checks, n_tok, _ = gopher_checks(F.col("text"))
    return (ext
            .withColumn("host", url_host(F.col("url")))
            .withColumn("lang_det", detect_language_udf(F.col("text")))
            .withColumn("quality_pass", gopher_pass(checks))
            .withColumn("n_tok", n_tok.cast("long"))
            .withColumn("fp", canonical_fp(F.col("text")))
            .withColumn("host_rank",
                        F.when(F.col("host") == EXACT_HOST, F.lit(1))
                        .when(F.col("host") == NEAR_HOST, F.lit(1))
                        .otherwise(F.lit(0))))


def quality_gates(derived: DataFrame) -> DataFrame:
    """failure → language → quality filters (shared batch/stream)."""
    return (derived
            .filter(F.col("failed_stage").isNull())
            .filter(F.col("lang_det").isin(*TARGET_LANGS))
            .filter(F.col("quality_pass")))


def exact_keep_first(df: DataFrame) -> DataFrame:
    """Exact dedup: keep-first per fingerprint, originals before mirrors
    (bounded per-fp window, shared batch/stream)."""
    w = Window.partitionBy("fp").orderBy("host_rank", "url")
    return (df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))


def drop_near_dups(exact: DataFrame) -> DataFrame:
    """Near-dup removal via verified MinHash pairs; the loser of each
    pair is the mirror-ranked (then lexicographically) greater doc
    (shared batch/stream)."""
    pairs = minhash_pairs(
        exact.select(F.col("url").alias("doc_id"), "text"))
    ranks = exact.select(F.col("url").alias("doc_id"), "host_rank")
    losers = (pairs
              .join(ranks.withColumnRenamed("doc_id", "a_id")
                    .withColumnRenamed("host_rank", "ra"), "a_id")
              .join(ranks.withColumnRenamed("doc_id", "b_id")
                    .withColumnRenamed("host_rank", "rb"), "b_id")
              .select(F.when(F.col("ra") > F.col("rb"),
                             F.col("a_id")).otherwise(F.col("b_id"))
                      .alias("url"))
              .distinct())
    return exact.join(losers, "url", "left_anti")


def curation_input(extracted: DataFrame) -> DataFrame:
    """The kernel output columns curation reads (shared batch/stream)."""
    return extracted.select("url", "lang",
                            F.col("extracted_text").alias("text"),
                            "failed_stage")


def _derived(spark: SparkSession, crawl: DataFrame) -> DataFrame:
    """URL gate → kernel → per-row derivations, persisted once.

    The persist stands in for the materialized `extracted` table a
    100 TB run writes (run_extraction_job) before curation reads it
    back."""
    ext = curation_input(extract_pages(url_gate(crawl), n_buckets=16,
                                       salt=2))
    return scoped_persist("corpus_job.derived", derive_curation_cols(ext))


def corpus_survivors(derived: DataFrame) -> DataFrame:
    """failure → language → quality → exact → near-dup gates over the
    persisted derived relation; returns the kept rows with their
    curation columns."""
    return drop_near_dups(exact_keep_first(quality_gates(derived)))


def pack_corpus(kept: DataFrame) -> DataFrame:
    """Pack survivors into fixed SEQ_LEN training sequences: shard by
    url-hash (independent bounded streams — shard count scales with the
    cluster, never a global ordering), concatenate in url order within a
    shard, cut every SEQ_LEN tokens."""
    per = kept.withColumn("shard", _md5_mod(F.col("url"), PACK_SHARDS))
    w = (Window.partitionBy("shard").orderBy("url")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long")
    return (per.withColumn("start_offset", start)
            .select("url", "host", "lang", "lang_det", "n_tok", "fp",
                    "shard", "start_offset",
                    # int64 `div`, not float /: start_offset is a running
                    # token sum that can pass 2^53 per shard at corpus scale
                    F.call_function("div", F.col("start_offset"),
                                    F.lit(SEQ_LEN).cast("long"))
                    .alias("seq_id"),
                    F.pmod(F.col("start_offset"), F.lit(SEQ_LEN))
                    .cast("long").alias("offset_in_seq")))


def survivors_narrow(derived: DataFrame) -> DataFrame:
    """Curation survivors WITHOUT the text column, persisted: text is
    dead weight past the dedup stages (packing needs only the curation
    columns), and every later consumer — packing, rejects accounting —
    re-executes the whole near-dup subtree unless it is materialized
    once. At 100k-doc local runs the unpersisted form OOMs the broadcast
    build (measured); persisting the narrow relation fixes both."""
    return scoped_persist("corpus_job.survivors_narrow",
                          corpus_survivors(derived).drop("text"))


def cx_crawl_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered end-to-end query: crawl → packed training corpus."""
    derived = _derived(spark, crawl_pages(spark))
    return pack_corpus(survivors_narrow(derived))


def run_corpus_job(spark: SparkSession,
                   n_docs: int = CORPUS_DOCS,
                   crawl: DataFrame | None = None) -> tuple[DataFrame,
                                                            DataFrame, dict]:
    """Materializer variant with the never-drop discipline: returns
    (packed, rejects, counters) where rejects tags every dropped row
    with the stage that dropped it and counters reconciles exactly to
    the crawl row count (pinned by tests).

    Pass a materialized ``crawl`` (the real input contract — the 100 TB
    run reads an Iceberg table) for honest timing: the default generator
    form re-runs Python datagen on every pass over the union."""
    if crawl is None:
        crawl = crawl_pages(spark, n_docs)
    blocked = (crawl.filter(url_blocked(F.col("url")))
               .select("url", F.lit("url_gate").alias("stage")))
    derived = _derived(spark, crawl)
    failed = (derived.filter(F.col("failed_stage").isNotNull())
              .select("url", F.lit("extract").alias("stage")))
    ok = derived.filter(F.col("failed_stage").isNull())
    lang_drop = (ok.filter(~F.col("lang_det").isin(*TARGET_LANGS))
                 .select("url", F.lit("langid").alias("stage")))
    langed = ok.filter(F.col("lang_det").isin(*TARGET_LANGS))
    qual_drop = (langed.filter(~F.col("quality_pass"))
                 .select("url", F.lit("quality").alias("stage")))
    kept = survivors_narrow(derived)
    packed = pack_corpus(kept)
    # dedup drops = everything that passed quality but is not in kept
    dedup_drop = (langed.filter(F.col("quality_pass")).select("url")
                  .join(kept.select("url"), "url", "left_anti")
                  .select("url", F.lit("dedup").alias("stage")))
    rejects = (blocked.unionByName(failed).unionByName(lang_drop)
               .unionByName(qual_drop).unionByName(dedup_drop))
    counters = {r["stage"]: r["n"] for r in
                rejects.groupBy("stage").agg(F.count("*").alias("n"))
                .collect()}
    counters["packed"] = packed.count()
    counters["crawl"] = crawl.count()
    return packed, rejects, counters


# --- DuckDB oracle --------------------------------------------------------

def _corpus_sql() -> str:
    from ocr_platform_spark.operators.dedup import _minhash_pair_ctes
    from ocr_platform_spark.operators.registry import ORACLE_FIXTURES

    fixture = ORACLE_FIXTURES / "corpus_pages.parquet"
    blocked = ", ".join(f"'{h}'" for h in BLOCKED_HOSTS)
    targets = ", ".join(f"'{x}'" for x in TARGET_LANGS)
    return rf"""
WITH crawl AS (
  SELECT url, lang, text, failed_stage, lang_det,
         regexp_extract(url, '^https://([^/]+)', 1) AS host
  FROM read_parquet('{fixture}')),
gated AS (
  SELECT * FROM crawl
  WHERE host NOT IN ({blocked})
    AND NOT regexp_matches(url, '{URL_BLOCK_RE}')
    AND failed_stage IS NULL
    AND lang_det IN ({targets})),
{gopher_sql_ctes('gated', 'url')},
quality AS (
  SELECT g.url, g.lang, g.text, g.lang_det, g.host, m.n_tok,
         md5({ws.norm_sql("g.text")}) AS fp,
         CASE WHEN g.host IN ('{EXACT_HOST}', '{NEAR_HOST}')
              THEN 1 ELSE 0 END AS host_rank
  FROM gated g JOIN g_m m ON m.url = g.url
  WHERE {GOPHER_SQL_PASS}),
exact AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp
                                 ORDER BY host_rank, url) AS rn
    FROM quality) WHERE rn = 1),
documents AS (SELECT url AS doc_id, text FROM exact),
{_minhash_pair_ctes()},
losers AS (
  SELECT DISTINCT CASE WHEN ra.host_rank > rb.host_rank
                       THEN v.a_id ELSE v.b_id END AS url
  FROM verified v
  JOIN exact ra ON ra.url = v.a_id
  JOIN exact rb ON rb.url = v.b_id),
kept AS (
  SELECT e.url, e.host, e.lang, e.lang_det, e.n_tok, e.fp,
         {md5_int_sql("e.url", 15)} % {PACK_SHARDS} AS shard
  FROM exact e WHERE e.url NOT IN (SELECT url FROM losers))
SELECT url, host, lang, lang_det, n_tok, fp, shard,
       CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY url
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS start_offset,
       CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY url
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // {SEQ_LEN} AS BIGINT) AS seq_id,
       CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY url
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            % {SEQ_LEN} AS BIGINT) AS offset_in_seq
FROM kept
"""


CX_CRAWL_CORPUS_SQL = _corpus_sql()

QUERIES: dict = {
    "cx_crawl_corpus": (cx_crawl_corpus, CX_CRAWL_CORPUS_SQL),
}
