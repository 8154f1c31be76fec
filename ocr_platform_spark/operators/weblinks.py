"""Outlink/anchor extraction as a Spark operator: the crawl→link-graph
step. One Arrow-batched ``map_rows`` kernel over the pages table emits
one row per anchor — href (raw + resolved), anchor text, link kind,
boilerplate flag — so the host graph (operators/webgraph.py) and the
anchor-text corpus are both one projection away.

Shape at scale: zero shuffles — page bytes never leave the executor that
scanned them; output rows are tiny next to the html payload. Building
the host edge list from here is `select(host(url), host(resolved))
.distinct()` — the groupBy lands on the already-small link table.

Oracle: fixture parquet staged by tools/make_driver_fixtures.py running
the same pure-Python kernel sequentially outside Spark (the mm_*/warc
pattern; scale-free synthetic input, no sf pin needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType, IntegerType, StringType, StructField, StructType,
)

from ocr_platform_spark.functions.spark_udfs import map_rows
from ocr_platform_spark.operators.registry import fixture_sql as _fixture_sql
from ocr_platform_spark.session import scoped_persist

LINKS_DOCS = 300   # == tools/make_driver_fixtures.py:extract_links_fixture

LINKS_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("link_no", IntegerType(), False),
    StructField("href_raw", StringType(), False),
    StructField("resolved", StringType(), True),
    StructField("anchor_text", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("boilerplate", BooleanType(), False),
])


def links_df(pages: DataFrame) -> DataFrame:
    """pages(url, html) → one row per anchor (never-drop, typed kinds)."""
    from ocr_platform_spark.extract.links import extract_links

    def rows(url, html):
        return [(url, lk.link_no, lk.href_raw, lk.resolved, lk.anchor_text,
                 lk.kind, lk.boilerplate) for lk in extract_links(url, html)]

    return map_rows(pages, ["url", "html"], rows, LINKS_SCHEMA)


def extract_links_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.sources.pages import pages_df

    return links_df(pages_df(spark, LINKS_DOCS))


# scheme://authority — identical semantics in Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround, char classes only.
HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def anchor_corpus(links: DataFrame) -> DataFrame:
    """links(url, resolved, anchor_text, boilerplate) → one row per link
    TARGET with the inbound anchor-text profile: how many links point at
    it, from how many distinct source hosts, how much anchor text, and the
    most frequent anchor string (ties → lexicographically smallest). This
    is the classic web-relevance signal (anchor text describes the TARGET
    better than the target's own page — the reference's curation notes the
    same signal for its catalog cross-links, texts/page.tsx's related-text
    lists); a training-data pipeline joins `top_anchor` back onto the
    corpus as a free document label.

    Shape at scale (~10^12 links): `base` is persisted because BOTH
    aggregates consume it and it sits downstream of the expensive
    mapInPandas parse; each aggregate is map-side-combined and shuffles
    on `target` (the countDistinct expands to Spark's standard two-phase
    distinct on the same key); the final join is co-partitioned on
    `target`, so AQE coalesces it onto the aggregate shuffle — no third
    exchange. The top-anchor pass is a bounded per-(target, anchor)
    count + per-target row_number, never a collect.

    Determinism: counts and char totals are exact integers; the top-anchor
    tie-break (cnt DESC, anchor_text ASC) is total because anchor_text is
    the group key — and both engines compare strings as raw UTF-8 bytes,
    so multilingual anchors order identically.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    base = scoped_persist("weblinks.anchor_corpus", (
        links
        .where(F.col("resolved").isNotNull() & (F.col("anchor_text") != ""))
        .select(F.col("resolved").alias("target"),
                F.regexp_extract("url", HOST_RE, 1).alias("src_host"),
                "anchor_text",
                (~F.col("boilerplate")).cast("long").alias("is_content"),
                F.length("anchor_text").cast("long").alias("n_chars"))))
    per_target = base.groupBy("target").agg(
        F.count("*").alias("n_links"),
        F.sum("is_content").alias("n_content"),
        F.countDistinct("src_host").alias("n_hosts"),
        F.sum("n_chars").alias("anchor_chars"))
    w = Window.partitionBy("target").orderBy(
        F.desc("cnt"), F.asc("anchor_text"))
    top = (base.groupBy("target", "anchor_text")
           .agg(F.count("*").alias("cnt"))
           .withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") == 1)
           .select("target", F.col("anchor_text").alias("top_anchor"),
                   F.col("cnt").alias("top_anchor_cnt")))
    return per_target.join(top, "target")


def wl_anchor_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.sources.pages import pages_df

    return anchor_corpus(links_df(pages_df(spark, LINKS_DOCS)))


FRONTIER_PER_HOST = 3


# The exact frontier and its bloom-gated twin promise IDENTICAL output
# (they share one oracle), so the candidate derivation and politeness
# ranking live in shared helpers — the equivalence is structural, not
# copy-maintained. The parsed (url, resolved) base is persisted because
# crawled and the candidate aggregate both read it (and the twin reads
# each twice: bitmap+verify, probe+flag) — without the persist, an AQE
# re-plan of any one subtree re-executes the mapInPandas extraction
# kernel underneath.


def _frontier_base(links: DataFrame):
    """links → (crawled, cand) from one persisted (url, resolved) base.

    crawled = the distinct source urls (pages we demonstrably parsed);
    cand = resolved targets with inbound count + distinct-source-host
    support, one shuffle keyed on target url."""
    from pyspark.sql import functions as F

    base = scoped_persist("weblinks.frontier_base",
                          links.select("url", "resolved"))
    crawled = base.select(F.col("url").alias("target")).distinct()
    cand = (base.where(F.col("resolved").isNotNull())
            .groupBy(F.col("resolved").alias("target"))
            .agg(F.count("*").alias("inbound"),
                 F.countDistinct(
                     F.regexp_extract("url", HOST_RE, 1)).alias("src_hosts")))
    return crawled, cand


def _frontier_rank(fresh: DataFrame, per_host: int) -> DataFrame:
    """Politeness cap: `per_host` fetches per target host, ranked by
    inbound DESC with target ASC tie-break (total; both engines order
    strings by raw UTF-8 bytes). The window runs over the already tiny
    frontier, never over the corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("host").orderBy(
        F.desc("inbound"), F.asc("target"))
    return (fresh.withColumn("host", F.regexp_extract("target", HOST_RE, 1))
            .withColumn("fetch_rank",
                        F.row_number().over(w).cast("long"))
            .where(F.col("fetch_rank") <= per_host)
            .select("host", "target", "inbound", "src_hosts", "fetch_rank"))


def crawl_frontier(links: DataFrame,
                   per_host: int = FRONTIER_PER_HOST) -> DataFrame:
    """links → the next polite crawl wave: resolved targets NOT already in
    the crawled set, ranked and politeness-capped (_frontier_rank).

    Shape at scale: the candidate aggregate shuffles once on target url;
    the crawled-set anti-join is the textbook bloom-filter join (Spark
    injects a runtime bloom filter; with both the corpus and the frontier
    bucket-partitioned on url-hash it becomes a storage-partitioned join,
    zero extra shuffle) — crawl_frontier_bloom below makes that gate
    explicit."""
    crawled, cand = _frontier_base(links)
    fresh = cand.join(crawled, "target", "left_anti")
    return _frontier_rank(fresh, per_host)


def cx_frontier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.sources.pages import pages_df

    return crawl_frontier(links_df(pages_df(spark, LINKS_DOCS)))


_LINKS_PQ = _fixture_sql("extract_links.parquet").split(" FROM ")[1]

# The oracle aggregates the FIXTURE link table (the pure-Python kernel's
# sequential output), while Spark aggregates its own distributed extraction
# — so the SQL independently re-derives the aggregate AND cross-checks the
# extraction underneath it.
WL_ANCHOR_SQL = f"""
WITH base AS (
  SELECT resolved AS target,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS src_host,
         anchor_text,
         CASE WHEN boilerplate THEN 0 ELSE 1 END AS is_content,
         length(anchor_text) AS n_chars
  FROM {_LINKS_PQ}
  WHERE resolved IS NOT NULL AND anchor_text <> ''
), per_target AS (
  SELECT target,
         CAST(COUNT(*) AS BIGINT) AS n_links,
         CAST(SUM(is_content) AS BIGINT) AS n_content,
         CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_hosts,
         CAST(SUM(n_chars) AS BIGINT) AS anchor_chars
  FROM base GROUP BY target
), top AS (
  SELECT target, anchor_text AS top_anchor,
         CAST(cnt AS BIGINT) AS top_anchor_cnt
  FROM (
    SELECT target, anchor_text, COUNT(*) AS cnt,
           row_number() OVER (PARTITION BY target
                              ORDER BY COUNT(*) DESC, anchor_text ASC) AS rn
    FROM base GROUP BY target, anchor_text) t
  WHERE rn = 1
)
SELECT p.target, p.n_links, p.n_content, p.n_hosts, p.anchor_chars,
       t.top_anchor, t.top_anchor_cnt
FROM per_target p JOIN top t ON p.target = t.target
"""

CX_FRONTIER_SQL = f"""
WITH cand AS (
  SELECT resolved AS target,
         CAST(COUNT(*) AS BIGINT) AS inbound,
         CAST(COUNT(DISTINCT regexp_extract(
             url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)) AS BIGINT)
           AS src_hosts
  FROM {_LINKS_PQ}
  WHERE resolved IS NOT NULL GROUP BY resolved
), fresh AS (
  SELECT * FROM cand
  WHERE target NOT IN (SELECT DISTINCT url FROM {_LINKS_PQ})
), ranked AS (
  SELECT regexp_extract(target,
             '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
         target, inbound, src_hosts,
         CAST(row_number() OVER (
             PARTITION BY regexp_extract(
                 target, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
             ORDER BY inbound DESC, target ASC) AS BIGINT) AS fetch_rank
  FROM fresh
)
SELECT host, target, inbound, src_hosts, fetch_rank
FROM ranked WHERE fetch_rank <= {FRONTIER_PER_HOST}
"""


def crawl_frontier_bloom(links: DataFrame,
                         per_host: int = FRONTIER_PER_HOST) -> DataFrame:
    """crawl_frontier's scale twin: the crawled-set anti-join gated by the
    Bloom bitmap (operators/sketches.py).

    At 10^12 crawled urls the frontier's anti-join shuffles the whole
    crawled-url universe every wave; here the crawled set collapses to a
    broadcast bitmap first, candidates whose probe answers NO are fresh by
    the no-false-negative guarantee and skip the join entirely, and only
    the maybes (true members + the ~1% false positives) reach the exact
    anti-join — so the join's probe side shrinks from every candidate to
    the maybe set. Because the verify step removes exactly the false
    positives, the output is IDENTICAL to crawl_frontier's, which is why
    the query shares CX_FRONTIER_SQL (the ev_asof_skew/ev_asof_join
    shared-oracle pattern: one oracle, two physical strategies). Both
    frontiers build from _frontier_base's persisted link base and rank
    with _frontier_rank, so the identity is structural."""
    from pyspark.sql import functions as F

    from ocr_platform_spark.operators.sketches import (
        bloom_bitmap, bloom_probe)

    crawled, cand = _frontier_base(links)
    probed = bloom_probe(
        bloom_bitmap(crawled.select(F.col("target").alias("url"))),
        cand.select(F.col("target").alias("url")))
    flagged = cand.join(
        probed.select(F.col("url").alias("target"), "bloom_maybe"),
        "target")
    definite = flagged.where(~F.col("bloom_maybe")).drop("bloom_maybe")
    verified = (flagged.where(F.col("bloom_maybe")).drop("bloom_maybe")
                .join(crawled, "target", "left_anti"))
    fresh = definite.unionByName(verified)
    return _frontier_rank(fresh, per_host)


def cx_bloom_frontier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.sources.pages import pages_df

    return crawl_frontier_bloom(links_df(pages_df(spark, LINKS_DOCS)))


# --- anchor-text retrieval --------------------------------------------------
# The query-side use of the anchor signal (the wl_anchor_corpus
# docstring's "anchor text describes the TARGET better than the
# target's own page"): rank link TARGETS for a term by their inbound
# anchor matches, counting content links separately from boilerplate
# ones — the classic query-independent relevance evidence web search
# has used since anchor-text indexing began. Shape at scale: the term
# filter hits the parsed-link stream BEFORE anything shuffles (the
# match set is orders of magnitude smaller than the link graph), then
# one map-side-combined aggregate per target. Oracle = the same
# aggregation as live SQL over the extract_links fixture (the kernel
# is fixture-pinned; the retrieval composition stays SQL).

ANCHOR_QUERY_TERM = "book"


def anchor_search(links: DataFrame,
                  term: str = ANCHOR_QUERY_TERM) -> DataFrame:
    """links → (target, n_links, n_content, n_hosts) for targets whose
    inbound anchor text contains ``term`` (case-insensitive)."""
    from pyspark.sql import functions as F

    hits = (links
            .where(F.col("resolved").isNotNull()
                   & F.lower(F.col("anchor_text")).contains(term.lower()))
            .select(F.col("resolved").alias("target"),
                    (~F.col("boilerplate")).cast("long").alias("is_content"),
                    F.regexp_extract("url", HOST_RE, 1).alias("src_host")))
    return hits.groupBy("target").agg(
        F.count("*").cast("long").alias("n_links"),
        F.sum("is_content").cast("long").alias("n_content"),
        F.countDistinct("src_host").cast("long").alias("n_hosts"))


def wl_anchor_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.sources.pages import pages_df

    return anchor_search(links_df(pages_df(spark, LINKS_DOCS)))


WL_ANCHOR_SEARCH_SQL = (
    "SELECT resolved AS target, CAST(count(*) AS BIGINT) AS n_links,\n"
    "       CAST(sum(CASE WHEN boilerplate THEN 0 ELSE 1 END) AS BIGINT)\n"
    "           AS n_content,\n"
    "       CAST(count(DISTINCT regexp_extract(url,\n"
    "                'https://([^/?#]+)', 1)) AS BIGINT) AS n_hosts\n"
    "FROM (" + _fixture_sql("extract_links.parquet") + ")\n"
    f"WHERE resolved IS NOT NULL AND lower(anchor_text) LIKE '%{ANCHOR_QUERY_TERM}%'\n"
    "GROUP BY resolved")


QUERIES: dict = {
    "extract_links": (extract_links_q, _fixture_sql("extract_links.parquet")),
    "wl_anchor_corpus": (wl_anchor_corpus_q, WL_ANCHOR_SQL),
    "cx_frontier": (cx_frontier_q, CX_FRONTIER_SQL),
    # scale twin: identical semantics, bloom-gated anti-join — shares the
    # frontier oracle (ev_asof_skew precedent). Registered beyond the
    # driver's 50-row window by design (the window is fully allocated);
    # the local gate is its record.
    "cx_bloom_frontier": (cx_bloom_frontier_q, CX_FRONTIER_SQL),
    # wave 36: anchor-text retrieval, beyond-window (local-gate record)
    "wl_anchor_search": (wl_anchor_search_q, WL_ANCHOR_SEARCH_SQL),
}
