"""Microdata kernel + query pins (operators/microdata.py)."""

from __future__ import annotations

from ocr_platform_spark.datagen import micro_block
from ocr_platform_spark.operators.microdata import MICRO_DOCS, scan_microdata

SF_DIR = "/root/testdata/sf0.01"


def test_scan_attr_and_text_props():
    got = scan_microdata(
        '<div itemscope><meta itemprop="name" content="X">'
        '<span itemprop="desc"><b>big</b> deal</span>'
        '<a itemprop="url" href="/y">go</a></div>')
    assert got == [(0, 0, "name", "X"), (0, 1, "desc", "big deal"),
                   (0, 2, "url", "/y")]


def test_scan_orphan_props_bind_to_minus_one():
    assert scan_microdata('<span itemprop="site">s</span>') == \
        [(-1, 0, "site", "s")]


def test_scan_props_bind_to_most_recent_scope():
    got = scan_microdata(
        '<div itemscope><span itemprop="a">1</span></div>'
        '<p itemscope><span itemprop="b">2</span></p>')
    assert got == [(0, 0, "a", "1"), (1, 0, "b", "2")]


def test_scan_implied_close_on_next_prop_or_scope():
    got = scan_microdata(
        '<div itemscope><span itemprop="p1">v1'
        '<span itemprop="p2">v2<p itemscope>')
    # p1 closes at p2's start; p2 closes at the itemscope start
    assert got == [(0, 0, "p1", "v1"), (0, 1, "p2", "v2")]


def test_scan_open_text_prop_at_eof_never_commits():
    assert scan_microdata('<div itemscope><span itemprop="p">dangling') \
        == []


def test_scan_time_datetime_vs_text():
    got = scan_microdata(
        '<div itemscope>'
        '<time itemprop="d1" datetime="2024-01-01">then</time>'
        '<time itemprop="d2">2024-02-02</time></div>')
    assert got == [(0, 0, "d1", "2024-01-01"), (0, 1, "d2", "2024-02-02")]


def test_scan_cdata_and_comment_traps():
    got = scan_microdata(
        '<div itemscope><span itemprop="desc">real'
        "<script>var x = \"<span itemprop='fake'>no</span>\";</script>"
        " tail</span></div>")
    assert len(got) == 1 and got[0][2] == "desc"
    assert "fake" not in [p for _, _, p, _ in got]
    got = scan_microdata(
        '<div itemscope><span itemprop="note">a'
        '<!-- <span itemprop="ghost">g</span> -->b</span></div>')
    assert got == [(0, 0, "note", "ab")]
    # a script start tag bearing itemprop is a text prop over its raw
    # body (html.parser reference: [(0, 0, 'a', 'x&amp;')])
    assert scan_microdata(
        '<div itemscope><script itemprop="a">x&amp;</script></div>') == \
        [(0, 0, "a", "x&amp;")]


def test_scan_selfclosed_and_empty_values():
    got = scan_microdata(
        '<div itemscope><span itemprop="e"/>'
        '<meta itemprop="m" content="">'
        '<a itemprop="u">text value</a></div>')
    # self-closed text prop commits ''; empty content commits '';
    # an <a> WITHOUT href falls through to text capture
    assert got == [(0, 0, "e", ""), (0, 1, "m", ""),
                   (0, 2, "u", "text value")]


def test_menu_exercises_every_variant():
    from ocr_platform_spark.datagen import gen_document

    blocks = [micro_block(gen_document(i, seed=42)["url"])
              for i in range(MICRO_DOCS)]
    assert any(b == "" for b in blocks)
    assert any('itemprop="site"' in b for b in blocks)       # orphan
    assert any("Product" in b for b in blocks)
    assert any("Article" in b for b in blocks)
    assert any('<meta itemprop="name"' in b for b in blocks)
    assert any('<span itemprop="name"' in b for b in blocks)
    assert any("datetime=" in b for b in blocks)
    assert any('<time itemprop="date">' in b for b in blocks)
    assert any('itemprop="price"' in b for b in blocks)      # unclosed
    assert any("<script>" in b for b in blocks)              # CDATA trap
    assert any("<!--" in b for b in blocks)                  # comment trap
    assert any("Second" in b for b in blocks)                # second item


def test_extract_microdata_query_invariants(spark):
    from ocr_platform_spark.operators.microdata import extract_microdata

    rows = extract_microdata(spark, SF_DIR).collect()
    assert rows
    by_item: dict = {}
    for r in rows:
        by_item.setdefault((r["url"], r["item_idx"]),
                           []).append(r["prop_idx"])
        assert r["prop"] != "fake" and r["prop"] != "ghost"
    for idxs in by_item.values():
        assert sorted(idxs) == list(range(len(idxs)))
    props = {r["prop"] for r in rows}
    assert {"name", "url", "image", "date", "site"} <= props
    assert any(r["item_idx"] == -1 for r in rows)            # orphans
    assert any(r["item_idx"] == 1 for r in rows)             # second item


# --- wide catalog fold -------------------------------------------------------

def test_item_catalog_first_prop_wins_not_lexicographic(spark):
    """Duplicate props inside an item: the FIRST (lowest prop_idx)
    wins, even when a later value sorts lexicographically smaller —
    the exact trap an unordered min(value) oracle would hide."""
    from ocr_platform_spark.operators.microdata import item_catalog

    triples = spark.createDataFrame(
        [("u", 0, 0, "name", "zzz first"),
         ("u", 0, 1, "name", "aaa later"),    # lexicographically smaller
         ("u", 0, 2, "url", "/b"),
         ("u", 1, 0, "image", "/i.png")],
        "url string, item_idx long, prop_idx long, prop string,"
        " value string")
    rows = {r["item_idx"]: r for r in item_catalog(triples).collect()}
    assert rows[0]["item_name"] == "zzz first"
    assert rows[0]["item_url"] == "/b" and rows[0]["n_props"] == 3
    assert rows[1]["image"] == "/i.png" and rows[1]["item_name"] is None


def test_cx_item_catalog_covers_all_items(spark):
    from ocr_platform_spark.operators.microdata import (cx_item_catalog,
                                                        extract_microdata)

    items = {(r["url"], r["item_idx"])
             for r in extract_microdata(spark, SF_DIR).collect()}
    rows = cx_item_catalog(spark, SF_DIR).collect()
    assert {(r["url"], r["item_idx"]) for r in rows} == items
    assert any(r["item_idx"] == -1 for r in rows)        # orphan rows
    assert any(r["item_name"] is None for r in rows)     # sparse items
    assert any(r["item_name"] and r["item_url"] for r in rows)
