"""HTML table extraction: structured (table, row, cell) records.

Tables are the structured-data payload of web pages — price lists,
standings, specification sheets — and a training-data pipeline mines
them as (table_idx, row_idx, col_idx, cell_text) records next to the
main-content text. Reference parity: the reference surfaces per-book
metadata tables in its web UI (rendered client-side from API records);
this is the inverse operation at crawl scale — recovering the records
from the rendered markup.

The synthetic pages carry no tables, so — the pagemeta/ta_pii_scrub
augmentation pattern — ``augment_html_tables`` injects a deterministic
md5-menu table right after ``<body>``: row/column counts, header rows
(plain or ``<thead>``-wrapped), OMITTED ``</td>``/``</tr>`` close tags
(legal HTML the spec resolves by implied closes), tag-name case,
attribute junk, inline markup and entities inside cells, empty cells,
a second table, a NESTED table (flattens into the enclosing cell), and
a script-inside-cell whose body contains fake ``<table>`` markup that
a CDATA-blind parser would hallucinate into output. Pages with no
``<body>`` (empty/garbage payloads) get no injection and emit no rows.

Cell semantics (one spec, implemented twice — here as a collector over
the events of extract/fast_scanner.scan, whose module docstring states
the contract, and independently over stdlib html.parser events in
tools/make_driver_fixtures.py:
extract_tables_fixture — so fixture agreement checks the state
machine, not shared wiring):

- table_idx counts every top-level ``<table>`` open, document order;
  nested ``<table>`` raises a depth counter and its entire content
  flows as DATA into the enclosing open cell.
- ``<tr>`` closes any open cell and row, then opens a row; a bare
  ``<td>``/``<th>`` with no open row implies one. row_idx counts row
  opens per table, col_idx counts cell opens per row (empty rows still
  consume a row_idx — both implementations count opens, not commits).
- A new ``<td>``/``<th>`` or any closing of the row/table commits the
  open cell (implied closes). An open cell at EOF is never committed.
- Cell text = inter-tag data (inline tags stripped, their text kept),
  entity-unescaped PER SEGMENT, whitespace-normalized at commit.
  Script/style bodies inside a cell are CDATA: never tokenized, passed
  through as RAW data (html.parser's convert_charrefs exempts
  script/style content from unescaping — matched here).
- Empty cells commit as ``''`` (a record, not a drop).

Scale: one mapInPandas fan-out projection, zero shuffle — rides the
extraction stage's Arrow batches at any corpus size.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BooleanType, LongType, StringType,
                               StructField, StructType)

from ocr_platform_spark.extract.tagscan import (augment_pages, collect,
                                                inject_after, map_pages)

TABLE_DOCS = 300

TABLEX_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("table_idx", LongType(), False),
    StructField("row_idx", LongType(), False),
    StructField("col_idx", LongType(), False),
    StructField("is_header", BooleanType(), False),
    StructField("cell_text", StringType(), False),
])


# --- deterministic table menu ---------------------------------------------

def table_block(url: str) -> str:
    """The per-url injected table markup. md5 hex digits drive the
    variant menu; cell payloads embed hash hex so they never collide
    with the page's own words."""
    h = hashlib.md5(url.encode("utf-8")).hexdigest()
    d = [int(c, 16) for c in h[:14]]
    if d[0] >= 14:
        return ""                                   # 2/16: no table
    n_rows = 1 + d[1] % 3
    n_cols = 1 + d[2] % 3
    header = d[3] < 10
    thead = header and d[3] < 5
    omit = d[4] < 8                                 # omit </td> and </tr>
    upper = d[5] < 4
    junk = d[6] < 8

    def t(name: str) -> str:
        return name.upper() if upper else name

    def cell(r: int, c: int, tag: str) -> str:
        attrs = ' align="left" class=\'c\'' if junk and c == 0 else ""
        body = f"c{r}x{c} {h[c % 8:c % 8 + 4]}"
        if d[7] < 8 and r == 0 and c == 0:
            body = f'<b>{body}</b> <a href="/x">lnk</a>'
        if d[8] < 8 and c == n_cols - 1:
            body += " &amp; tail"
        if d[12] < 4 and r == n_rows - 1 and c == 0 and not header:
            body = ""                               # empty cell
        if d[10] < 3 and r == 0 and c == n_cols - 1:
            body += (f"<table><tr><td>inner {h[8:11]}</td></tr>"
                     "</table> after")
        if d[11] < 3 and r == 0 and c == 0:
            body += ('<script>var t = "<table><tr><td>fake</td></tr>'
                     '</table>";</script>')
        if d[13] < 6 and r == 0 and c == 0:
            body += "<!-- ghost <td>never</td> -->"
        close = "" if omit else f"</{t(tag)}>"
        return f"<{t(tag)}{attrs}>{body}{close}"

    def row(r: int, tag: str) -> str:
        cells = "".join(cell(r, c, tag) for c in range(n_cols))
        close = "" if omit else f"</{t('tr')}>"
        return f"<{t('tr')}>{cells}{close}"

    rows = []
    if header:
        hr = row(0, "th")
        rows.append(f"<thead>{hr}</thead><tbody>" if thead else hr)
    for r in range(1 if header else 0, n_rows):
        rows.append(row(r, "td"))
    if thead:
        rows.append("</tbody>")
    out = f"<{t('table')}>{''.join(rows)}</{t('table')}>"
    if d[9] < 4:                                    # second table
        out += (f"<table><tr><td>t2 {h[5:9]}</td>"
                f"<td>t2b {h[9:12]}</td></tr></table>")
    return out


def augment_html_tables(url: str, html: bytes | None) -> bytes | None:
    return inject_after(html, "<body>", table_block(url))


# --- the collection state machine (production side) -----------------------

class TableCollector:
    """Event-driven cell collector implementing the module-docstring
    spec, fed by extract/fast_scanner.scan; the fixture feeds an
    INDEPENDENT copy of this logic from html.parser events."""

    def __init__(self) -> None:
        self.cells: list[tuple[int, int, int, bool, str]] = []
        self.depth = 0          # table nesting depth
        self.table_idx = -1
        self.row_idx = -1       # row opens in current table
        self.col_idx = -1       # cell opens in current row
        self.row_open = False
        self.cell_open = False
        self.cell_is_header = False
        self.buf: list[str] = []

    def _commit_cell(self) -> None:
        if self.cell_open:
            text = " ".join("".join(self.buf).split())
            self.cells.append((self.table_idx, self.row_idx,
                               self.col_idx, self.cell_is_header, text))
        self.cell_open = False
        self.buf = []

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        self.handle_starttag(tag, attrs)
        self.handle_endtag(tag)

    def handle_starttag(self, tag: str, attrs: list) -> None:
        if self.depth == 0:
            if tag == "table":
                self.depth = 1
                self.table_idx += 1
                self.row_idx = self.col_idx = -1
                self.row_open = self.cell_open = False
                self.buf = []
            return
        if tag == "table":                  # nested: content is data
            self.depth += 1
            return
        if self.depth > 1:
            return
        if tag == "tr":
            self._commit_cell()
            self.row_open = True
            self.row_idx += 1
            self.col_idx = -1
        elif tag in ("td", "th"):
            self._commit_cell()
            if not self.row_open:           # implied row
                self.row_open = True
                self.row_idx += 1
                self.col_idx = -1
            self.cell_open = True
            self.cell_is_header = tag == "th"
            self.col_idx += 1

    def handle_endtag(self, tag: str) -> None:
        if self.depth == 0:
            return
        if tag == "table":
            if self.depth > 1:
                self.depth -= 1
            else:
                self._commit_cell()
                self.row_open = False
                self.depth = 0
            return
        if self.depth > 1:
            return
        if tag in ("td", "th"):
            self._commit_cell()
        elif tag == "tr":
            self._commit_cell()
            self.row_open = False

    def handle_data(self, text: str) -> None:
        if self.cell_open and self.depth >= 1:
            self.buf.append(text)


def scan_tables(text: str) -> list[tuple[int, int, int, bool, str]]:
    """(table_idx, row_idx, col_idx, is_header, cell_text) per cell."""
    return collect(text, TableCollector()).cells


def page_tables(pages: DataFrame) -> DataFrame:
    """(url, html, ...) → one row per table cell (fan-out; pages
    without tables emit nothing)."""
    return map_pages(pages, scan_tables, TABLEX_SCHEMA)


def extract_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-oracled (scale-free synthetic pages, valid at any
    sf_dir): tools/make_driver_fixtures.py:extract_tables_fixture
    re-parses the same augmented pages with stdlib html.parser driving
    an independently written collector."""
    from ocr_platform_spark.sources.pages import pages_df

    return page_tables(augment_pages(pages_df(spark, TABLE_DOCS),
                                     augment_html_tables))


from ocr_platform_spark.operators.registry import \
    fixture_sql as _fixture_sql  # noqa: E402  (registry has no back-import)

QUERIES: dict = {
    # wave 21: table extraction, beyond-window (local-gate record)
    "extract_tables": (
        extract_tables, _fixture_sql("extract_tables.parquet")),
}
