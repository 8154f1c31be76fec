"""HTML table extraction: structured (table, row, cell) records.

Tables are the structured-data payload of web pages — price lists,
standings, specification sheets — and a training-data pipeline mines
them as (table_idx, row_idx, col_idx, cell_text) records next to the
main-content text. Reference parity: the reference surfaces per-book
metadata tables in its web UI (rendered client-side from API records);
this is the inverse operation at crawl scale — recovering the records
from the rendered markup.

The synthetic pages carry no tables, so the query's input is generated
with a deterministic md5-menu table right after ``<body>``
(``datagen.table_block`` through ``augment_html_tables``): row/column
counts, header rows (plain or ``<thead>``-wrapped), OMITTED
``</td>``/``</tr>`` close tags (legal HTML the spec resolves by implied
closes), tag-name case,
attribute junk, inline markup and entities inside cells, empty cells,
a second table, a NESTED table (flattens into the enclosing cell), and
a script-inside-cell whose body contains fake ``<table>`` markup that
a CDATA-blind parser would hallucinate into output. Pages with no
``<body>`` (empty/garbage payloads) get no table and emit no rows.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BooleanType, LongType, StringType,
                               StructField, StructType)

from ocr_platform_spark.extract.tagscan import collect, map_pages

TABLE_DOCS = 300

TABLEX_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("table_idx", LongType(), False),
    StructField("row_idx", LongType(), False),
    StructField("col_idx", LongType(), False),
    StructField("is_header", BooleanType(), False),
    StructField("cell_text", StringType(), False),
])


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
    from ocr_platform_spark.datagen import augment_html_tables, gen_augmented
    from ocr_platform_spark.sources.pages import PAGES_SCHEMA, generated_df

    return page_tables(generated_df(
        spark, TABLE_DOCS,
        lambda i: [gen_augmented(i, augment_html_tables)], PAGES_SCHEMA))


from ocr_platform_spark.operators.registry import \
    fixture_sql as _fixture_sql  # noqa: E402  (registry has no back-import)

QUERIES: dict = {
    # wave 21: table extraction, beyond-window (local-gate record)
    "extract_tables": (
        extract_tables, _fixture_sql("extract_tables.parquet")),
}
