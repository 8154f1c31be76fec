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

Spec (implemented here as a collector over the tag events of
extract/tagscan.py AND independently over html.parser events in
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
  not special inside (the tagscan rules — a ``<script>`` inside a
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

import hashlib
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ocr_platform_spark.extract.tagscan import (attr_map, map_pages,
                                                scan_tags)

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


# --- deterministic code-page corpus ----------------------------------------

# the shared snippet: identical bytes across every doc that draws it, so
# the rollup's distinct-count is LIVE (n_distinct < n_blocks somewhere)
_SHARED_SNIPPET = ("def add(a, b):\n"
                   "    return a + b")

_LANGS = ("python", "js", "rust", "sql", "c")


def _snippet(h: str, e: int) -> str:
    """Deterministic multi-line snippet for (doc-hash, block) — real
    indentation, an entity-spelled comparison, stable per (h, e)."""
    name = h[e:e + 4]
    return (f"for i in range(n_{name}):\n"
            f"    if i &lt; limit:\n"
            f"        total += w[{e}] * i\n"
            f"    else:\n"
            f"        break")


def code_doc(i: int) -> tuple[str, bytes]:
    """(url, html bytes) for synthetic code page i — md5-menu over
    language placement, highlighter spans, br line breaks, leading
    newline, traps (comment / script-in-pre / nested pre / inline
    code / unclosed tail / empty block)."""
    url = f"https://code.example/d/{i}"
    h = hashlib.md5(url.encode()).hexdigest()
    d = [int(c, 16) for c in h[:14]]
    parts = ["<html><body><h1>Snippets</h1>",
             "<p>Use <code>x + 1</code> inline.</p>"]   # trap: no pre
    n_blocks = d[0] % 4                                  # 0..3
    for e in range(n_blocks):
        lang = _LANGS[d[2 + e] % len(_LANGS)]
        place = d[5 + e] % 4
        if place == 0:
            parts.append(f'<pre class="language-{lang}">')
            open_code = False
        elif place == 1:
            # multi-class, language token NOT first; hint on inner code
            parts.append("<pre>")
            parts.append(f'<code class="highlight lang-{lang}">')
            open_code = True
        elif place == 2:
            parts.append("<pre>")                        # no hint
            open_code = False
        else:
            parts.append(f"<PRE CLASS='lang-{lang.upper()}'>")
            open_code = False
        if d[8] < 8:
            parts.append("\n")                 # dropped by the spec
        if e == 0 and d[1] < 5:
            body = _SHARED_SNIPPET
        elif e == 1 and d[9] < 6:
            body = "line one<br>line two<br/>line three"
        else:
            body = _snippet(h, e)
        if d[10] < 8 and "def " in body:
            body = body.replace("def ", '<span class="k">def</span> ', 1)
        if d[10] >= 8 and "for " in body:
            body = body.replace("for ", '<span class="k">for</span> ', 1)
        parts.append(body)
        if e == 0 and d[11] < 3:
            parts.append("<!-- highlighter credit -->")
        if e == 0 and d[12] < 3:
            parts.append("\n<script>if (a &lt; b) { go(); }</script>")
        if e == 1 and d[13] < 3:
            parts.append("<pre>nested-is-markup ")
        if open_code:
            parts.append("</code>")
        parts.append("</pre>")
    if d[3] < 2:
        parts.append("<pre></pre>")                      # empty block
    if d[4] < 3:
        parts.append('<pre class="language-go">func main() {')  # EOF trap
    parts.append("</body></html>")
    return url, "".join(parts).encode("utf-8")


# --- collection state machine ----------------------------------------------

class CodeCollector:
    def __init__(self) -> None:
        self.out: list[tuple[int, str | None, str]] = []
        self.open = False
        self.lang: str | None = None
        self.buf: list[str] = []

    def start(self, tag: str, attrs: str, selfclosed: bool) -> None:
        if not self.open:
            if tag == "pre" and not selfclosed:
                self.open = True
                self.lang = lang_from_class(attr_map(attrs).get("class"))
                self.buf = []
            return
        if tag == "br":
            self.buf.append("\n")
        elif tag == "code" and self.lang is None:
            self.lang = lang_from_class(attr_map(attrs).get("class"))

    def end(self, tag: str) -> None:
        if self.open and tag == "pre":
            text = "".join(self.buf)
            if text.startswith("\n"):
                text = text[1:]
            self.out.append((len(self.out), self.lang, text))
            self.open = False
            self.lang = None
            self.buf = []

    def data(self, text: str) -> None:
        if self.open:
            self.buf.append(text)


def scan_code(text: str) -> list[tuple[int, str | None, str, int, int]]:
    """(block_idx, lang, text, n_lines, n_chars) per committed block."""
    col = CodeCollector()
    scan_tags(text, col)
    return [(i, lg, tx, tx.count("\n") + 1 if tx else 0, len(tx))
            for (i, lg, tx) in col.out]


def page_code_blocks(pages: DataFrame) -> DataFrame:
    return map_pages(pages, scan_code, CODE_SCHEMA)


def code_pages_df(spark: SparkSession, n: int = CODE_DOCS) -> DataFrame:
    rows = [code_doc(i) for i in range(n)]
    pdf = pd.DataFrame(rows, columns=["url", "html"])
    return spark.createDataFrame(pdf, schema="url string, html binary")


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
