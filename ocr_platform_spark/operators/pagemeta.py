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

The synthetic pages carry no natural head metadata (datagen.py:100
emits a bare ``<title>``), so — the ta_pii_scrub augmentation pattern
(text_analysis.py:449) — ``augment_meta`` injects a deterministic
md5-menu meta block after ``<head>``: PRESENCE, attribute ORDER,
quoting style, tag-name CASE and self-closing form all vary per url,
so a parser handling only one canonical shape fails the oracle. Pages
with empty payloads get no injection and must survive as all-null rows
(never-drop).

The kernel is a first-wins head-metadata collector over the tag events
of extract/tagscan.py (quote-aware tag grammar, invisible comments,
raw script/style CDATA) — the block tokenizer (extract/fast_scanner)
deliberately drops every attribute except ``class`` and discards
script bodies, exactly the payload metadata extraction needs. The
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

import hashlib
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ocr_platform_spark.extract.tagscan import attr_map, map_pages, scan_tags

META_DOCS = 300

_PAGE_SUFFIX = re.compile(r"/page/\d+$")
_JSONLD_TYPE = re.compile(r'"@type"\s*:\s*"([^"]+)"')


def meta_block(url: str) -> str:
    """The deterministic per-url head block. md5 hex digits drive the
    variant menu; the embedded value is hex so it never collides with
    either quote style."""
    h = hashlib.md5(url.encode("utf-8")).hexdigest()
    d = [int(c, 16) for c in h[:10]]
    val = "Book " + h[10:16]
    parts: list[str] = []
    if d[0] < 14:                               # og:title 14/16
        name = "META" if d[6] < 4 else "meta"
        q = "'" if d[2] < 8 else '"'
        attrs = (f"property={q}og:title{q} content={q}{val}{q}"
                 if d[1] < 8 else
                 f"content={q}{val}{q} property={q}og:title{q}")
        parts.append(f"<{name} {attrs}>")
    if d[3] < 15:                               # og:type 15/16
        typ = "book" if d[3] < 8 else "article"
        parts.append(f'<meta property="og:type" content="{typ}"/>')
    if d[4] < 12:                               # canonical 12/16
        canon = _PAGE_SUFFIX.sub("", url)
        attrs = (f'rel="canonical" href="{canon}"' if d[5] < 8
                 else f'href="{canon}" rel="canonical"')
        parts.append(f"<link {attrs}/>" if d[7] < 8
                     else f"<link {attrs}>")
    if d[8] < 6:                                # JSON-LD 6/16
        jt = "Book" if d[9] < 8 else "Article"
        parts.append('<script type="application/ld+json">'
                     f'{{"@type": "{jt}", "name": "{val}"}}</script>')
    return "".join(parts)


def augment_html(url: str, html: bytes | None) -> bytes | None:
    """Inject the block right after ``<head>``; payloads without a head
    (empty/garbage rows) are passed through untouched so the error
    envelope stays live downstream."""
    if html is None:
        return None
    text = bytes(html).decode("utf-8", "replace")
    if "<head>" not in text:
        return html
    return text.replace("<head>", "<head>" + meta_block(url), 1) \
        .encode("utf-8")


def augment_meta(pages: DataFrame) -> DataFrame:
    cols = pages.columns

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["html"] = [augment_html(u, h)
                           for u, h in zip(pdf["url"], pdf["html"])]
            yield pdf

    return pages.mapInPandas(gen, schema=pages.schema).select(cols)


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
    end (html.parser's startendtag)."""

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

    def start(self, tag: str, attrs: str, selfclosed: bool) -> None:
        if tag == "meta":
            self.n_meta += 1
            a = attr_map(attrs)
            prop, content = a.get("property"), a.get("content")
            if prop == "og:title" and self.og_title is None:
                self.og_title = content
            elif prop == "og:type" and self.og_type is None:
                self.og_type = content
        elif tag == "link":
            a = attr_map(attrs)
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
              and attr_map(attrs).get("type") == "application/ld+json"):
            self._ld = []
        if selfclosed:
            self.end(tag)

    def end(self, tag: str) -> None:
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

    def data(self, text: str) -> None:
        if self._tbuf is not None:
            self._tbuf.append(text)
        if self._ld is not None:
            self._ld.append(text)


def _scan_head_meta(text: str) -> _PageMeta:
    """First-wins metadata scan (the WHATWG processing model takes the
    first og:* / canonical / title). Whole-document, single pass over
    the tag events of extract/tagscan.scan_tags.

    Title is a NORMAL element exactly as in html.parser: tags inside an
    (ill-formed) title still tokenize, and the title text is the data
    collected until its close tag — each segment entity-unescaped on
    its own, a script/style body inside it kept raw (html.parser
    routes CDATA through handle_data without unescaping) — and an
    unterminated title at EOF is never committed. An ld+json body
    counts only outside a title."""
    out = _PageMeta()
    scan_tags(text, out)
    return out


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
    from ocr_platform_spark.sources.pages import pages_df

    return page_metadata(augment_meta(pages_df(spark, META_DOCS)))


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
