"""Feed-extraction kernel + query pins (operators/feeds.py)."""

from __future__ import annotations

from ocr_platform_spark.datagen import feed_doc
from ocr_platform_spark.operators.feeds import FEED_DOCS, scan_feed

SF_DIR = "/root/testdata/sf0.01"


def test_scan_rss_dialect():
    got = scan_feed(
        "<rss><channel><title>Chan</title>"
        "<item><title>P1</title><link>https://x/1</link>"
        "<pubDate>2024-01-01</pubDate></item>"
        "<item><title>P2</title></item></channel></rss>")
    assert got == [(-1, "Chan", None, None, 1),
                   (0, "P1", "https://x/1", "2024-01-01", 3),
                   (1, "P2", None, None, 1)]


def test_scan_atom_dialect_link_href():
    got = scan_feed(
        "<feed><title>F</title><entry><title>A</title>"
        '<link href="https://x/a"/>'
        "<updated>2024-02-02</updated></entry></feed>")
    assert got == [(-1, "F", None, None, 1),
                   (0, "A", "https://x/a", "2024-02-02", 3)]


def test_scan_first_value_wins_and_implied_close():
    got = scan_feed(
        "<item><title>first</title><title>second</title>"
        "<link>open-link <title>t3</title></item>")
    # the open <link> text is implied-closed by the <title> start;
    # that title is the entry's THIRD, still shadowed by 'first'
    assert got == [(0, "first", "open-link", None, 2)]


def test_scan_open_field_at_eof_and_empty_item():
    assert scan_feed("<item><title>dangling") == [(0, None, None,
                                                   None, 0)]
    assert scan_feed("<item/><item><title>t</title></item>") == \
        [(0, None, None, None, 0), (1, "t", None, None, 1)]


def test_scan_comment_invisible_and_entities():
    got = scan_feed(
        "<item><title>A &amp; B<!-- <title>ghost</title> --> C"
        "</title></item>")
    assert got == [(0, "A & B C", None, None, 1)]


def test_corpus_exercises_both_dialects_and_traps():
    blobs = [feed_doc(i)[1].decode() for i in range(FEED_DOCS)]
    assert any("<rss>" in b for b in blobs)
    assert any("<feed " in b for b in blobs)
    assert any("&amp;" in b for b in blobs)
    assert any("shadowed second title" in b for b in blobs)
    assert any("unclosed-tail" in b for b in blobs)
    assert any("<!--" in b for b in blobs)


def test_extract_feed_query_invariants(spark):
    from ocr_platform_spark.operators.feeds import extract_feed

    rows = extract_feed(spark, SF_DIR).collect()
    assert rows
    by_url: dict = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r["entry_idx"])
        if r["entry_idx"] == -1:
            assert r["title"] is not None          # feed/channel header
    for idxs in by_url.values():
        s = sorted(idxs)
        assert s[0] == -1 and s[1:] == list(range(len(s) - 1))
    # first-wins shadows the planted second title everywhere
    assert not any("shadowed" in (r["title"] or "") for r in rows)
    assert any(r["link"] and r["link"].startswith("https://s.example/")
               for r in rows)


# --- feed-driven recrawl queue -----------------------------------------------

def test_feed_recrawl_keep_newest_and_fanin(spark):
    """One candidate per link carrying the newest announcement; counts
    match a pure-Python recount; headers and linkless entries excluded
    by contract."""
    from ocr_platform_spark.operators.feeds import (cx_feed_recrawl,
                                                    extract_feed)

    entries = extract_feed(spark, SF_DIR).collect()
    want: dict = {}
    for r in entries:
        if r["link"] is None or r["entry_idx"] < 0:
            continue
        n, feeds, best = want.get(r["link"], (0, set(), None))
        key = (r["updated"] or "", r["url"])
        best = key if best is None or key > best else best
        want[r["link"]] = (n + 1, feeds | {r["url"]}, best)
    got = {r["link"]: r for r in cx_feed_recrawl(spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for link, (n, feeds, (u, furl)) in want.items():
        g = got[link]
        assert (g["n_announcements"], g["n_feeds"]) == (n, len(feeds))
        assert g["newest_updated"] == (u or None)
        assert g["newest_feed"] == furl
    # some links carry no timestamp (the NULL branch is live)
    assert any(g["newest_updated"] is None for g in got.values())
