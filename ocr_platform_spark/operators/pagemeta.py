"""Structured page-metadata extraction: OpenGraph / canonical / JSON-LD.

Real crawl pipelines extract head metadata next to main content:
``og:*`` properties as title/type signals, ``rel=canonical`` for URL
canonicalization BEFORE dedup (the canonical link is why near-dup URL
families collapse cleanly), and JSON-LD ``@type`` for document-class
routing. Reference parity: the reference's records carry per-book
source metadata its web app surfaces (apps/web/src/server/services/
usul/book-versions.ts:30-57 validates provider metadata unions); the
head-block extraction is the web-scale equivalent computed from raw
crawl HTML instead of a provider API.

The synthetic pages carry no natural head metadata (datagen.gen_document
emits a bare ``<title>``), so the query's input is generated with a
deterministic md5-menu meta block after ``<head>`` (``datagen.meta_block``
through ``augment_html``): PRESENCE, attribute ORDER, quoting style,
tag-name CASE and self-closing form all vary per url, so a parser
handling only one canonical shape fails the oracle. Pages with empty
payloads get no block and must survive as all-null rows (never-drop).

The kernel is a first-wins head-metadata collector over the
html.parser events of extract/fast_scanner.scan (its module docstring
states the contract: every attribute unescaped, invisible comments,
raw script/style bodies), driven through extract/tagscan.collect. The
committed fixture oracle
(tools/make_driver_fixtures.py:extract_metadata_fixture) re-parses the
same pages with stdlib ``html.parser`` — a genuinely different
tokenizer with independently written collection logic — so agreement
checks the scanner and the first-wins/CDATA semantics, not shared
wiring.

Scale: one mapInPandas projection, zero shuffle — metadata extraction
is embarrassingly parallel and rides the extraction stage's Arrow
batches at any corpus size.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ocr_platform_spark.extract.tagscan import collect, first_wins, map_pages

META_DOCS = 300

_JSONLD_TYPE = re.compile(r'"@type"\s*:\s*"([^"]+)"')


META_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("title", StringType(), True),
    StructField("og_title", StringType(), True),
    StructField("og_type", StringType(), True),
    StructField("canonical_url", StringType(), True),
    StructField("jsonld_type", StringType(), True),
    StructField("n_meta", LongType(), False),
])


class _PageMeta:
    """The _scan_head_meta collector: first-wins fields plus the open
    title and ld+json buffers. A self-closed tag is its start then its
    end (html.parser's default startendtag)."""

    __slots__ = ("title", "og_title", "og_type", "canonical",
                 "jsonld_type", "n_meta", "_tbuf", "_ld")

    def __init__(self) -> None:
        self.title = self.og_title = self.og_type = None
        self.canonical = self.jsonld_type = None
        self.n_meta = 0
        self._tbuf: list[str] | None = None     # open <title> data
        self._ld: list[str] | None = None       # open ld+json body

    def row(self) -> tuple:
        return (self.title, self.og_title, self.og_type, self.canonical,
                self.jsonld_type, self.n_meta)

    def handle_starttag(self, tag: str, attrs: list) -> None:
        if tag == "meta":
            self.n_meta += 1
            a = first_wins(attrs)
            prop, content = a.get("property"), a.get("content")
            if prop == "og:title" and self.og_title is None:
                self.og_title = content
            elif prop == "og:type" and self.og_type is None:
                self.og_type = content
        elif tag == "link":
            a = first_wins(attrs)
            if a.get("rel") == "canonical" and self.canonical is None:
                self.canonical = a.get("href")
        elif tag == "title":
            # ANY title element opens the buffer (html.parser's grab
            # slot): even after a title has won, an ld+json script
            # inside a later open title is title DATA, not a committed
            # ld payload
            if self._tbuf is None:
                self._tbuf = []
        elif (tag == "script" and self.jsonld_type is None
              and self._tbuf is None
              and first_wins(attrs).get("type") == "application/ld+json"):
            self._ld = []

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        self.handle_starttag(tag, attrs)
        self.handle_endtag(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag == "title" and self._tbuf is not None:
            t = "".join(self._tbuf).strip()
            if self.title is None and t:
                self.title = t          # first NON-EMPTY title wins
            self._tbuf = None
        elif tag == "script" and self._ld is not None:
            jm = _JSONLD_TYPE.search("".join(self._ld))
            if jm:
                self.jsonld_type = jm.group(1)
            self._ld = None

    def handle_data(self, text: str) -> None:
        if self._tbuf is not None:
            self._tbuf.append(text)
        if self._ld is not None:
            self._ld.append(text)


def _scan_head_meta(text: str) -> _PageMeta:
    """First-wins metadata scan (the WHATWG processing model takes the
    first og:* / canonical / title). Whole-document, single pass over
    the events of extract/fast_scanner.scan.

    Title is a NORMAL element exactly as in html.parser: tags inside an
    (ill-formed) title still tokenize, and the title text is the data
    collected until its close tag — each segment entity-unescaped on
    its own, a script/style body inside it kept raw (html.parser
    routes CDATA through handle_data without unescaping) — and an
    unterminated title at EOF is never committed. An ld+json body
    counts only outside a title."""
    return collect(text, _PageMeta())


def collect_meta(url: str, html: bytes | None) -> tuple:
    text = "" if html is None else bytes(html).decode("utf-8", "replace")
    return (url, *_scan_head_meta(text).row())


def page_metadata(pages: DataFrame) -> DataFrame:
    """(url, html, ...) → one metadata row per page, never dropping a
    row — unparseable payloads come back all-null with n_meta 0."""
    return map_pages(pages, lambda t: [_scan_head_meta(t).row()],
                     META_SCHEMA)


def extract_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-oracled (scale-free synthetic pages, so valid at any
    sf_dir): tools/make_driver_fixtures.py:extract_metadata_fixture
    re-parses the same augmented pages with stdlib html.parser."""
    from ocr_platform_spark.datagen import augment_html, gen_augmented
    from ocr_platform_spark.sources.pages import PAGES_SCHEMA, generated_df

    return page_metadata(generated_df(
        spark, META_DOCS, lambda i: [gen_augmented(i, augment_html)],
        PAGES_SCHEMA))


def cx_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition canonical extraction exists FOR: collapse URL
    families onto their declared canonical before dedup. Every page
    joins its family key (declared canonical, else its own url); one
    representative per family is kept (min url — keep-first as a MIN
    AGGREGATE joined back, the repo's no-global-window pattern, so a
    million-member family costs one combine-able aggregate row, never a
    million-row window partition). Pages without a canonical are their
    own family of one and always survive (never-drop).

    Oracle = SQL over the extract_metadata fixture (the corpus_pages
    pattern: the fixture pins only what SQL cannot express — the
    scanner; the dedup composition itself is live SQL)."""
    meta = extract_metadata(spark, sf_dir)
    keyed = meta.select(
        "url",
        F.coalesce("canonical_url", "url").alias("canonical_key"))
    keepers = keyed.groupBy("canonical_key").agg(
        F.min("url").alias("keeper"),
        F.count("*").cast("long").alias("family_size"))
    # shuffle join on the family key — the family table is corpus-sized
    # (one row per family), so broadcast would be wrong at scale; the
    # aggregate side is already hash-partitioned by canonical_key from
    # its own groupBy, so only the probe side exchanges
    return (keyed.join(keepers, "canonical_key")
            .select("url", "canonical_key", "family_size",
                    (F.col("url") == F.col("keeper")).alias("is_kept")))


from ocr_platform_spark.operators.registry import \
    fixture_sql as _fixture_sql  # noqa: E402  (registry has no back-import)

CX_CANONICAL_SQL = (
    "WITH keyed AS (SELECT url, coalesce(canonical_url, url)"
    "  AS canonical_key FROM ("
    + _fixture_sql("extract_metadata.parquet") + ") m),\n"
    "fam AS (SELECT canonical_key, min(url) AS keeper,"
    "  CAST(count(*) AS BIGINT) AS family_size"
    "  FROM keyed GROUP BY canonical_key)\n"
    "SELECT k.url, k.canonical_key, f.family_size,"
    "  k.url = f.keeper AS is_kept\n"
    "FROM keyed k JOIN fam f USING (canonical_key)")

QUERIES: dict = {
    # wave 14: head-metadata extraction, beyond-window (local-gate
    # record)
    "extract_metadata": (
        extract_metadata, _fixture_sql("extract_metadata.parquet")),
    # wave 17: canonical-URL family dedup composed on top of the
    # extracted metadata, beyond-window (local-gate record)
    "cx_canonical_dedup": (cx_canonical_dedup, CX_CANONICAL_SQL),
}
