"""Table-extraction kernel + query pins (operators/tablex.py).

The driver gate compares the full query against the html.parser
fixture; these tests pin the SPEC on hand-computable adversarial
inputs and prove the md5 menu actually exercises every variant."""

from __future__ import annotations

from ocr_platform_spark.datagen import table_block
from ocr_platform_spark.operators.tablex import TABLE_DOCS, scan_tables

SF_DIR = "/root/testdata/sf0.01"


# --- kernel spec on adversarial strings -------------------------------------

def test_scan_basic_and_indices():
    cells = scan_tables(
        "<p>x</p><table><tr><th>A</th><th>B</th></tr>"
        "<tr><td>1</td><td>2</td></tr></table>")
    assert cells == [(0, 0, 0, True, "A"), (0, 0, 1, True, "B"),
                     (0, 1, 0, False, "1"), (0, 1, 1, False, "2")]


def test_scan_omitted_closes_imply_cells_and_rows():
    cells = scan_tables(
        "<table><tr><td>a<td>b<tr><td>c</table>")
    assert cells == [(0, 0, 0, False, "a"), (0, 0, 1, False, "b"),
                     (0, 1, 0, False, "c")]


def test_scan_bare_td_implies_row():
    assert scan_tables("<table><td>solo</table>") == \
        [(0, 0, 0, False, "solo")]


def test_scan_nested_table_flattens_into_cell():
    cells = scan_tables(
        "<table><tr><td>out <table><tr><td>in</td></tr></table>"
        " side</td></tr></table>")
    assert cells == [(0, 0, 0, False, "out in side")]


def test_scan_script_in_cell_is_cdata_not_markup():
    cells = scan_tables(
        '<table><tr><td>x<script>var t = "<table><tr><td>fake</td>'
        '</tr></table>";</script>y</td></tr></table>')
    assert len(cells) == 1
    ti, ri, ci, hd, tx = cells[0]
    assert (ti, ri, ci) == (0, 0, 0)
    assert "fake" in tx and "y" in tx          # body is DATA of the cell
    assert not any(c[0] == 1 for c in cells)   # no hallucinated table


def test_scan_script_body_not_unescaped_but_cell_data_is():
    cells = scan_tables(
        "<table><tr><td>&amp; <script>a &amp; b</script></td></tr>"
        "</table>")
    # cell data unescapes per segment; CDATA body stays raw
    assert cells == [(0, 0, 0, False, "& a &amp; b")]


def test_scan_open_cell_at_eof_never_commits():
    assert scan_tables("<table><tr><td>dangling") == []
    # but earlier committed cells survive
    assert scan_tables("<table><tr><td>a</td><td>dangling") == \
        [(0, 0, 0, False, "a")]


def test_scan_empty_cell_commits_empty_string():
    assert scan_tables("<table><tr><td></td></tr></table>") == \
        [(0, 0, 0, False, "")]


def test_scan_second_table_and_empty_table_consume_index():
    cells = scan_tables(
        "<table></table><table><tr><td>t2</td></tr></table>")
    assert cells == [(1, 0, 0, False, "t2")]


def test_scan_uppercase_and_attr_junk():
    cells = scan_tables(
        "<TABLE><TR><TD align=\"left\" class='c'>v</TD></TR></TABLE>")
    assert cells == [(0, 0, 0, False, "v")]


def test_scan_inline_markup_stripped_text_kept():
    cells = scan_tables(
        '<table><tr><td><b>bold</b> <a href="/x">lnk</a></td></tr>'
        "</table>")
    assert cells == [(0, 0, 0, False, "bold lnk")]


def test_scan_comment_inside_cell_is_invisible():
    assert scan_tables(
        "<table><tr><td>a<!-- <td>ghost</td> -->b</td></tr></table>") \
        == [(0, 0, 0, False, "ab")]


def test_scan_comment_inside_cdata_stays_raw():
    """html.parser's CDATA mode passes comments through as data — the
    scanner must NOT strip them there (review finding: a global
    pre-strip diverged from the fixture oracle on this input)."""
    cells = scan_tables(
        "<table><tr><td>x <script>a <!-- kept --> b</script></td></tr>"
        "</table>")
    assert cells == [(0, 0, 0, False, "x a <!-- kept --> b")]


def test_scan_unterminated_comment_swallows_rest():
    assert scan_tables(
        "<table><tr><td>a</td><td>b</td><!-- open forever "
        "<td>c</td></tr></table>") == \
        [(0, 0, 0, False, "a"), (0, 0, 1, False, "b")]


def test_scan_deterministic():
    html = "".join(table_block(f"https://h{i}.example/p/{i}")
                   for i in range(50))
    assert scan_tables(html) == scan_tables(html)


# --- menu coverage + full-query invariants ----------------------------------

def test_menu_exercises_every_variant():
    """Every branch of the md5 menu must be live across TABLE_DOCS urls
    (a dead branch silently weakens the oracle)."""
    from ocr_platform_spark.datagen import gen_document

    blocks = {}
    for i in range(TABLE_DOCS):
        d = gen_document(i, seed=42)
        blocks[d["url"]] = table_block(d["url"])
    vals = list(blocks.values())
    assert any(b == "" for b in vals)                    # no-table pages
    assert any("<thead>" in b for b in vals)
    assert any("<th" in b.lower() and "<thead>" not in b for b in vals)
    assert any("</td>" not in b and "<td" in b for b in vals)  # omitted
    assert any("<TABLE>" in b for b in vals)             # upper case
    assert any('align="left"' in b for b in vals)        # attr junk
    assert any("&amp; tail" in b for b in vals)          # entity
    assert any("inner" in b for b in vals)               # nested table
    assert any("<script>" in b for b in vals)            # CDATA trap
    assert any("<!-- ghost" in b for b in vals)          # comment trap
    assert any(b.count("<table") + b.count("<TABLE") >= 2
               for b in vals)                            # second table


def test_extract_tables_query_invariants(spark):
    """Full query at TABLE_DOCS pages: indices contiguous, headers only
    in row 0, the CDATA trap never hallucinates, nested text lands."""
    from ocr_platform_spark.operators.tablex import extract_tables

    rows = extract_tables(spark, SF_DIR).collect()
    assert rows
    by_tr: dict = {}
    for r in rows:
        by_tr.setdefault((r["url"], r["table_idx"], r["row_idx"]),
                         []).append(r["col_idx"])
        assert not (r["is_header"] and r["row_idx"] != 0)
        assert r["cell_text"] != "fake"       # CDATA trap never a cell
    for cols in by_tr.values():
        assert sorted(cols) == list(range(len(cols)))
    texts = [r["cell_text"] for r in rows]
    assert any("inner" in t and "after" in t for t in texts)
    assert any("& tail" in t for t in texts)             # unescaped
    assert any(t == "" for t in texts)                   # empty cell
    assert any(r["is_header"] for r in rows)
    assert any(r["table_idx"] == 1 for r in rows)        # second table
