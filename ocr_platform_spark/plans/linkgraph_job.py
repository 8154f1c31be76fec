"""The composed crawl-analytics job: WARC crawl in, ranked hosts out.

    .warc.gz crawl files
      → parse (sources/warc.py, zero-shuffle container kernel)
      → clean captures (parse_error IS NULL, html present)
      → anchor extraction (operators/weblinks.py, zero-shuffle kernel)
      → host edge list (absolute cross-host links, distinct)
      → PageRank (operators/webgraph.py, exact-integer recurrence)

Everything upstream of the edge-list distinct is shuffle-free: WARC bytes
and page html stay on the executor that scanned them, and the first
exchange in the whole job operates on bare (src_host, dst_host) pairs —
the smallest possible representation of the crawl. This is the plan a
100 TB crawl wants: the 10^10-edge graph, not the 100 TB of html, is
what shuffles.

Reference parity: composes the reference's ingest → process → aggregate
flow (apps/queue/src/index.ts pipeline stages) into one declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark.operators.weblinks import links_df
from ocr_platform_spark.operators.webgraph import PR_ITERS, pagerank_ranks


def _host(col):
    # scheme match is case-insensitive (RFC 3986); host lowercased so the
    # graph keys are canonical regardless of how the crawl spelled them
    return F.lower(F.regexp_extract(col, r"^(?i)[a-z]+://([^/]+)", 1))


def host_edges(links: DataFrame) -> DataFrame:
    """Anchor rows → distinct cross-host edge list (the host web graph)."""
    return (links.filter(F.col("kind") == "absolute")
            .select(_host(F.col("url")).alias("src"),
                    _host(F.col("resolved")).alias("dst"))
            .filter((F.col("src") != F.col("dst"))
                    & (F.col("src") != "") & (F.col("dst") != ""))
            .distinct())


def run_linkgraph_job(spark: SparkSession, warc_glob: str,
                      iters: int = PR_ITERS) -> DataFrame:
    """crawl glob → (host, rank_x1e6), descending by rank."""
    from ocr_platform_spark.sources.warc import read_warc

    pages = read_warc(spark, warc_glob)
    clean = pages.filter(F.col("parse_error").isNull()
                         & F.col("html").isNotNull())
    edges = host_edges(links_df(clean.select("url", "html")))
    rank = pagerank_ranks(edges, iters)
    return (rank.select(F.col("h").alias("host"),
                        F.col("rank").alias("rank_x1e6"))
            .orderBy(F.desc("rank_x1e6"), "host"))


def run_links_stream(spark: SparkSession, warc_dir: str, output_dir: str,
                     checkpoint_dir: str):
    """Incremental variant of the anchor pass: new crawl files → the SAME
    parse + link kernels → checkpointed parquet append of anchor rows.
    Exactly-once per file via the file-source log (the contract of
    streaming/ingest.py); re-run after each crawl drop, then recompute
    ranks batch-side over the accumulated links table — PageRank is a
    whole-graph fixpoint, so the iterate stays batch (the standard
    lambda-architecture split for graph metrics over a growing crawl)."""
    from ocr_platform_spark.sources.warc import read_warc_stream
    from ocr_platform_spark.streaming.ingest import drain

    pages = read_warc_stream(spark, warc_dir + "/*.warc.gz")
    clean = pages.filter(F.col("parse_error").isNull()
                         & F.col("html").isNotNull())
    return drain(links_df(clean.select("url", "html")), output_dir,
                 checkpoint_dir)
