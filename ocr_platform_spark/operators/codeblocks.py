"""Code-block extraction: ``<pre>`` blocks with language hints.

The seventh structured-extraction kernel — the one a CODE training
corpus is built from: tutorials, docs sites and forums carry their
source snippets in ``<pre>``/``<code>`` blocks, syntax-highlighted
into hundreds of ``<span class="token">`` fragments that a text
extractor must strip while PRESERVING the whitespace every other
kernel collapses (indentation IS signal for code — reference parity:
the reference's block classifier keeps pre-blocks verbatim for the
same reason its HTML stripper exists at all, apps/queue's extraction
target; SURVEY §2.2 P2/P8).

Spec (implemented here as a collector over the events of
extract/fast_scanner.scan, whose module docstring states the contract,
AND independently over html.parser events in
tools/make_driver_fixtures.py:CodeRefCollector):

- a ``<pre>`` start while no block is open OPENS block ``block_idx``
  (document order). A nested ``<pre>`` start while open is markup —
  stripped like any other tag (browsers reject nested pre the same
  way). The FIRST ``</pre>`` commits the block; a stray ``</pre>``
  with nothing open is ignored. An open block at EOF never commits.
- inside an open block every tag is stripped; its TEXT is kept RAW —
  no whitespace collapsing, entities decoded (``&lt;`` is how valid
  HTML spells ``<`` in code). ``<br>``/``<br/>`` contributes a
  newline (pre-era forums line-break code that way). script/style
  bodies inside a block are CDATA: raw to their close tag, comments
  not special inside (the scanner's rules — a ``<script>`` inside a
  pre IS code, its source lands verbatim). Comments are invisible
  outside CDATA.
- one leading newline of the committed text is dropped — the HTML5
  parser does exactly this after ``<pre>`` (authors write the open
  tag on its own line), and only the first (12.1.2.5 in spirit).
- language hint: the first ``language-x`` / ``lang-x`` class token
  (the highlight.js / Prism convention, case-insensitive, value
  lowercased) on the OPENING pre tag, else on any ``<code>`` start
  inside the block while the hint is still unset. Highlighter token
  classes (``<span class="k">``) never match. NULL when absent.
- inline ``<code>`` OUTSIDE any pre block is prose, not a block —
  never emitted.
- output: one row per committed block — (url, block_idx, lang,
  text, n_lines, n_chars); n_lines counts lines of the committed
  text (0 for the empty block), n_chars its characters. Empty
  ``<pre></pre>`` still commits (a row with text '').

Scale: one mapInPandas fan-out projection, zero shuffle — rides the
extraction stage's Arrow batches at any corpus size. The per-language
rollup (cx_code_corpus) is a single map-side-combinable aggregate
keyed on a tiny language domain; the distinct-text count inside it
shuffles (lang, text) pairs once — at corpus scale text would ride
as its md5, a projection-level swap.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, LongType, StringType,
                               StructField, StructType)

from ocr_platform_spark.extract.tagscan import collect, first_wins, map_pages

CODE_DOCS = 200

CODE_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("block_idx", LongType(), False),
    StructField("lang", StringType(), True),
    StructField("text", StringType(), False),
    StructField("n_lines", LongType(), False),
    StructField("n_chars", LongType(), False),
])

_LANG_CLASS = re.compile(r"^(?:language|lang)-(.+)$", re.I)


def lang_from_class(class_attr: str | None) -> str | None:
    """First language-*/lang-* token of a class attribute, lowercased."""
    if not class_attr:
        return None
    for tok in class_attr.split():
        m = _LANG_CLASS.match(tok)
        if m:
            return m.group(1).lower()
    return None


# --- collection state machine ----------------------------------------------

class CodeCollector:
    def __init__(self) -> None:
        self.out: list[tuple[int, str | None, str]] = []
        self.open = False
        self.lang: str | None = None
        self.buf: list[str] = []

    def handle_starttag(self, tag: str, attrs: list) -> None:
        self._start(tag, attrs, False)

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        self._start(tag, attrs, True)

    def _start(self, tag: str, attrs: list, selfclosed: bool) -> None:
        if not self.open:
            if tag == "pre" and not selfclosed:
                self.open = True
                self.lang = lang_from_class(first_wins(attrs).get("class"))
                self.buf = []
            return
        if tag == "br":
            self.buf.append("\n")
        elif tag == "code" and self.lang is None:
            self.lang = lang_from_class(first_wins(attrs).get("class"))

    def handle_endtag(self, tag: str) -> None:
        if self.open and tag == "pre":
            text = "".join(self.buf)
            if text.startswith("\n"):
                text = text[1:]
            self.out.append((len(self.out), self.lang, text))
            self.open = False
            self.lang = None
            self.buf = []

    def handle_data(self, text: str) -> None:
        if self.open:
            self.buf.append(text)


def scan_code(text: str) -> list[tuple[int, str | None, str, int, int]]:
    """(block_idx, lang, text, n_lines, n_chars) per committed block."""
    col = collect(text, CodeCollector())
    return [(i, lg, tx, tx.count("\n") + 1 if tx else 0, len(tx))
            for (i, lg, tx) in col.out]


def page_code_blocks(pages: DataFrame) -> DataFrame:
    return map_pages(pages, scan_code, CODE_SCHEMA)


def code_pages_df(spark: SparkSession, n: int = CODE_DOCS) -> DataFrame:
    from ocr_platform_spark.datagen import code_doc
    from ocr_platform_spark.sources.pages import generated_df

    return generated_df(spark, n, lambda i: [code_doc(i)], StructType([
        StructField("url", StringType()), StructField("html", BinaryType())]))


def extract_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-oracled (scale-free synthetic code corpus):
    tools/make_driver_fixtures.py:codeblocks_fixture re-parses the
    same bytes with an independent html.parser collector."""
    return page_code_blocks(code_pages_df(spark))


def cx_code_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation step code extraction feeds: per-language census of
    the block corpus — block/page counts, line/char volume, and the
    exact-dedup distinct count (the StarCoder-style first pass: most
    scraped snippets are copies; n_distinct_texts < n_blocks prices
    that). NULL lang groups as its own bucket (unhinted blocks are a
    real corpus slice, not an error). Oracle = live SQL over the
    extraction fixture (fixture pins the scanner; the fold stays
    SQL)."""
    blocks = extract_code(spark, sf_dir)
    return (blocks.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_blocks"),
                 F.countDistinct("url").cast("long").alias("n_urls"),
                 F.countDistinct("text").cast("long")
                  .alias("n_distinct_texts"),
                 F.sum("n_lines").cast("long").alias("total_lines"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


from ocr_platform_spark.operators.registry import \
    fixture_sql as _fixture_sql  # noqa: E402

CX_CODE_CORPUS_SQL = (
    "WITH b AS (" + _fixture_sql("extract_code.parquet") + """)
SELECT lang, CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
       CAST(sum(n_lines) AS BIGINT) AS total_lines,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY lang""")

QUERIES: dict = {
    # wave 52: code-block extraction kernel, beyond-window
    "extract_code": (
        extract_code, _fixture_sql("extract_code.parquet")),
    # wave 52: per-language code census, beyond-window
    "cx_code_corpus": (cx_code_corpus, CX_CODE_CORPUS_SQL),
}
