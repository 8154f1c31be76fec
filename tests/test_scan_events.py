"""Event-level parity: extract/fast_scanner.scan ≡ stdlib html.parser.

``scan`` is the one tokenizer behind every HTML reader (blocks, anchors,
the six structured collectors), and its contract is html.parser's
callback sequence. Block-level parity (tests/test_fast_scanner.py)
cannot see attributes other than ``class`` or script/style bodies, so
this records ``(kind, tag, attrs, data)`` events from both drives and
asserts they are equal — including the ``AssertionError`` html.parser
raises on an unknown marked-section keyword, after the same events.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_platform_spark.datagen import gen_document
from ocr_platform_spark.extract.fast_scanner import scan
from tests.test_fast_scanner import EDGE_CASES, _frag


class _Recorder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.ev: list[tuple] = []

    def handle_starttag(self, tag, attrs):
        self.ev.append(("start", tag, attrs, None))

    def handle_startendtag(self, tag, attrs):
        self.ev.append(("startend", tag, attrs, None))

    def handle_endtag(self, tag):
        self.ev.append(("end", tag, None, None))

    def handle_data(self, data):
        self.ev.append(("data", None, None, data))


def _events(doc: str, drive) -> list[tuple]:
    r = _Recorder()
    try:
        drive(doc, r)
    except AssertionError:
        r.ev.append(("raise", None, None, None))
    return r.ev


def _stdlib(doc: str, r: _Recorder) -> None:
    r.feed(doc)
    r.close()


def _assert_parity(doc: str) -> None:
    assert _events(doc, scan) == _events(doc, _stdlib), repr(doc)


# the inputs of the former tests/test_tagscan.py, by their old test names
TAGSCAN_INPUTS = {
    "tags_data_and_per_segment_unescape": [
        'a&amp;<B class="x > y">b&am</b>p;<br/>tail'],
    "comments_are_invisible_outside_cdata": [
        "x<!-- <p>ghost</p> -->y<p>", "<p>a<!-- <i>"],
    "cdata_body_is_one_raw_data_event": [
        "<script>a &amp; <!-- <p> --></scripty></script >z<i>",
        "<style/>&lt;<i>", "<style>p{}"],
    "attr_map_first_wins_lowercased": [
        "<x A=\"1\" a='2' b=3 c>"],
}

# inputs on which the former regex grammar disagreed with html.parser
PROBES = [
    '<meta property="og:title" content="a&amp;b">',
    "<h3>b<![CDATA[c]]>d</h3>",
    "<h1>x<?php y?>z</h1>",
    "<h1>a</ h1>b</h1>",
    "<table><td>a<!-- b</td></table>",
    '<a HREF="/x?a=1&amp;b=2" Class=c class="d" data-x>t</a>',
    "<p>ok</p><![bogus[x]]><p>never</p>",
    "<p>ok</p><![ x",
]


@pytest.mark.parametrize("case_id", range(len(EDGE_CASES)))
def test_edge_cases_match_html_parser(case_id):
    _assert_parity(EDGE_CASES[case_id])


@pytest.mark.parametrize("name", sorted(TAGSCAN_INPUTS))
def test_tagscan_inputs_match_html_parser(name):
    for doc in TAGSCAN_INPUTS[name]:
        _assert_parity(doc)


@pytest.mark.parametrize("doc", PROBES)
def test_probes_match_html_parser(doc):
    _assert_parity(doc)


def test_probe_events_are_html_parsers():
    """Spot-check what the parity means on the probes."""
    ev = _events(PROBES[0], scan)
    assert ev == [("start", "meta",
                   [("property", "og:title"), ("content", "a&b")], None)]
    assert _events("<h1>a</ h1>b</h1>", scan) == [
        ("start", "h1", [], None), ("data", None, None, "a"),
        ("end", "h1", None, None), ("data", None, None, "b"),
        ("end", "h1", None, None)]
    # a script body is raw data before its end tag; unclosed, nothing
    assert _events("<script>a&amp;</script>", scan)[1:] == [
        ("data", None, None, "a&amp;"), ("end", "script", None, None)]
    assert _events("<style>p{}", scan) == [("start", "style", [], None)]
    assert _events(PROBES[-2], scan)[-1][0] == "raise"


def test_corpus_matches_html_parser():
    for i in range(400):
        d = gen_document(i, 42)
        _assert_parity(d["html"].decode("utf-8", errors="replace"))


@settings(max_examples=300, deadline=None)
@given(st.lists(_frag, max_size=30))
def test_fuzz_tag_soup_matches_html_parser(frags):
    _assert_parity("".join(frags))


# --- the html.parser-parity raise never fails a structured kernel ----------
# (tagscan.collect turns it into end of document, keeping the rows so far)

BOGUS_PAGE = (
    "<title>T</title><h1>kept</h1><table><tr><td>c</td></tr></table>"
    '<div itemscope><meta itemprop="m" content="v"></div>'
    "<pre>code</pre><item><title>t</title></item>"
    "<![bogus[x]]><h2>lost</h2><table><td>lost</td></table>")


def _kernels() -> dict:
    from ocr_platform_spark.operators.codeblocks import scan_code
    from ocr_platform_spark.operators.feeds import scan_feed
    from ocr_platform_spark.operators.microdata import scan_microdata
    from ocr_platform_spark.operators.outline import scan_headings
    from ocr_platform_spark.operators.pagemeta import collect_meta
    from ocr_platform_spark.operators.tablex import scan_tables

    return {"scan_tables": scan_tables, "scan_headings": scan_headings,
            "scan_microdata": scan_microdata, "scan_feed": scan_feed,
            "scan_code": scan_code,
            "collect_meta": lambda t: [collect_meta("u", t.encode())]}


def test_bogus_marked_section_raises_in_html_parser():
    assert _events(BOGUS_PAGE, _stdlib)[-1][0] == "raise"


@pytest.mark.parametrize("name", sorted(_kernels()))
def test_scan_keeps_rows_before_a_bogus_marked_section(name):
    rows = _kernels()[name](BOGUS_PAGE)
    assert rows and "lost" not in repr(rows)


@pytest.mark.parametrize("mod,name", [
    ("pagemeta", "page_metadata"), ("tablex", "page_tables"),
    ("microdata", "page_microdata"), ("outline", "page_headings"),
    ("codeblocks", "page_code_blocks"), ("feeds", "page_feeds")])
def test_page_kernel_survives_a_bogus_page(spark, mod, name):
    import importlib

    fn = getattr(importlib.import_module(
        f"ocr_platform_spark.operators.{mod}"), name)
    col = "xml" if name == "page_feeds" else "html"
    pages = spark.createDataFrame(
        [("u0", b"<h1>a</h1>"), ("u1", BOGUS_PAGE.encode()), ("u2", None)],
        f"url string, {col} binary")
    urls = [r.url for r in fn(pages).collect()]     # no task failure
    assert "u1" in urls
    if name == "page_metadata":                     # one row per page
        assert sorted(urls) == ["u0", "u1", "u2"]
