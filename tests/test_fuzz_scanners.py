"""Differential fuzzing: the production collectors, driven by
extract/fast_scanner.scan, vs the html.parser reference collectors
(tools/make_driver_fixtures.py).

The fixed md5 menus exercise each variant once; hypothesis composes the
SAME building blocks into arbitrary (including wildly malformed)
structures — stray closes, unbalanced nesting, interleaved comments and
CDATA, marked sections, processing instructions, unclosed comments, EOF
truncation at any token boundary — and the two independent
implementations must agree on every one.
"""

from __future__ import annotations

import sys
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.make_driver_fixtures import (HeadingRefCollector,  # noqa: E402
                                        TableRefCollector)

_TEXT = st.text(alphabet="abc xyz", min_size=0, max_size=12)
_ENTITY = st.sampled_from(["&amp;", "&lt;", "&#65;"])
# markup every reader must skip the way html.parser does: a CDATA marked
# section and a processing instruction vanish, an unclosed comment is
# recovered as data, a doctype is a declaration
_DECL = st.sampled_from(["<![CDATA[c]]>", "<?php y?>", "<!-- x",
                         "<!DOCTYPE html>"])

_TABLE_TOKENS = st.one_of(
    _TEXT, _ENTITY, _DECL,
    st.sampled_from([
        "<table>", "</table>", "<tr>", "</tr>",
        "<td>", "</td>", "<th>", "</th>",
        "<TD>", "</TD>", "<TABLE>", "</TABLE>",
        "<td align=\"left\" class='c'>", "<td/>", "<table/>", "<tr/>",
        "<b>", "</b>", "<a href=\"/x\">", "</a>",
        "<!-- c <td>ghost</td> -->",
        "<script>var t = \"<table><tr><td>f\";</script>",
        "<script>a <!-- kept --> b</script>",
        "<script>not closed by </scripty> keeps going</script>",
        "<script>spaced close </script >",
        "<style>p{}</style>", "<script/>", "</ td>",
        "<thead>", "</thead>", "<tbody>", "</tbody>",
    ]))

_HEADING_TOKENS = st.one_of(
    _TEXT, _ENTITY, _DECL,
    st.sampled_from([
        "<h1>", "</h1>", "<h2>", "</h2>", "<h3>", "</h3>",
        "<H2>", "</H3>", "<h2/>", "<h6>", "</h6>", "</ h1>",
        "<b>", "</b>", "<p>", "</p>",
        "<!-- c <h2>ghost</h2> -->",
        "<script>var t = \"<h1>f\";</script>",
        "<script>a <!-- kept --> b</script>",
        "<script>not closed by </scripty> keeps going</script>",
        "<style>p{}</style>",
    ]))


def _ref_tables(doc: str):
    c = TableRefCollector()
    c.feed(doc)
    c.close()
    return c.out


def _ref_headings(doc: str):
    c = HeadingRefCollector()
    c.feed(doc)
    c.close()
    return c.out


@settings(max_examples=300, deadline=None)
@given(st.lists(_TABLE_TOKENS, min_size=0, max_size=40))
def test_fuzz_tables_scanner_matches_html_parser(tokens):
    from ocr_platform_spark.operators.tablex import scan_tables

    doc = "".join(tokens)
    assert scan_tables(doc) == _ref_tables(doc), doc


@settings(max_examples=300, deadline=None)
@given(st.lists(_HEADING_TOKENS, min_size=0, max_size=40))
def test_fuzz_headings_scanner_matches_html_parser(tokens):
    from ocr_platform_spark.operators.outline import scan_headings

    doc = "".join(tokens)
    assert scan_headings(doc) == _ref_headings(doc), doc


# --- head-metadata scanner ---------------------------------------------------

from tools.make_driver_fixtures import meta_ref_scan  # noqa: E402

_META_TOKENS = st.one_of(
    _TEXT, _ENTITY, _DECL,
    st.sampled_from([
        '<meta property="og:title" content="A">',
        "<META PROPERTY='og:title' CONTENT='B'>",
        '<meta content="C" property="og:title">',
        '<meta property="og:title" content="D" property="og:title"'
        ' PROPERTY="og:type">',             # dup attrs: first-wins
        '<meta property="og:type" content="book"/>',
        '<meta property="og:title" content="a&amp;b">',
        '<meta charset="utf-8">',
        '<link rel="canonical" href="https://c.example/x">',
        '<link href="https://c.example/y" rel="canonical">',
        "<title>", "</title>", "<title>T1</title>", "<title></title>",
        "<title/>", "<title><script>&amp;</script></title>",
        '<script type="application/ld+json">{"@type": "Book"}</script>',
        '<script type="application/ld+json">/* <!-- "@type": "H" --> */'
        "</script>",
        "<script>var x = '<meta property=\"og:title\" content=\"G\">';"
        "</script>",
        "<!-- <meta property=\"og:title\" content=\"ghost\"> -->",
        "<b>", "</b>", "<head>", "</head>",
        "<script>not closed by </scripty> …</script>",
    ]))


def _prod_meta(doc: str):
    from ocr_platform_spark.operators.pagemeta import _scan_head_meta

    pm = _scan_head_meta(doc)
    return (pm.title, pm.og_title, pm.og_type, pm.canonical,
            pm.jsonld_type, pm.n_meta)


@settings(max_examples=300, deadline=None)
@given(st.lists(_META_TOKENS, min_size=0, max_size=40))
def test_fuzz_meta_scanner_matches_html_parser(tokens):
    doc = "".join(tokens)
    assert _prod_meta(doc) == meta_ref_scan(doc), doc


# --- JSONL line-spec kernel (total over arbitrary bytes) ---------------------

from tools.make_driver_fixtures import jsonl_oracle_rows  # noqa: E402

_JSONL_FRAGMENTS = st.one_of(
    st.sampled_from([
        '{"url": "u", "text": "t"}', '{"url": "u"}', '{"text": "t"}',
        '{"url": "", "text": "t"}', '{"url": 5, "text": "t"}',
        '{"url": "u", "text": 5}',
        '{"url": "u", "text": "t", "n_tokens": true}',
        '{"url": "u", "text": "t", "n_tokens": 7, "ts": "x",'
        ' "lang": "en"}',
        "[1]", "null", '"str"', "42", "not json", "", "   ",
        '{"url": "u", "te', "{", "}",
    ]),
    st.text(alphabet='abc {}[]":,0-\néا', max_size=20))


@settings(max_examples=400, deadline=None)
@given(st.lists(_JSONL_FRAGMENTS, min_size=0, max_size=12),
       st.booleans())
def test_fuzz_jsonl_kernel_matches_oracle(fragments, trailing_nl):
    """parse_jsonl_bytes (production) vs jsonl_oracle_rows (independent
    spec implementation) must agree on ARBITRARY byte payloads — both
    functions are total over bytes; fragments include embedded newlines
    and non-ASCII so the utf-8/replace + line-split paths are hit."""
    from ocr_platform_spark.sources.jsonl import parse_jsonl_bytes

    body = "\n".join(fragments) + ("\n" if trailing_nl else "")
    data = body.encode("utf-8")
    assert parse_jsonl_bytes("f", data) == jsonl_oracle_rows("f", data)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=200))
def test_fuzz_jsonl_kernel_total_over_raw_bytes(data):
    """Raw (possibly invalid-utf8) bytes: both sides still agree —
    the decode('replace') path is part of the spec."""
    from ocr_platform_spark.sources.jsonl import parse_jsonl_bytes

    assert parse_jsonl_bytes("f", data) == jsonl_oracle_rows("f", data)


# --- microdata scanner -------------------------------------------------------

from tools.make_driver_fixtures import MicroRefCollector  # noqa: E402

_MICRO_TOKENS = st.one_of(
    _TEXT, _ENTITY, _DECL,
    st.sampled_from([
        "<div itemscope>", "</div>", "<p itemscope>", "</p>",
        '<div itemscope itemtype="https://schema.org/Product">',
        '<span itemprop="name">', "</span>", "<span>",
        '<span itemprop="a">', '<span itemprop="">', "<span itemprop>",
        '<meta itemprop="m" content="v">', '<meta itemprop="m">',
        '<meta itemprop="m" content="">',
        '<meta itemprop="m" content="a&amp;b">',
        '<a itemprop="u" href="/x">', '<a itemprop="u">', "</a>",
        '<img itemprop="i" src="/p.png">', '<img itemprop="i">',
        '<time itemprop="t" datetime="2024-01-01">', "<time itemprop='t'>",
        "</time>", '<span itemprop="e"/>', "<b>", "</b>",
        "<!-- c <span itemprop=\"ghost\">g</span> -->",
        "<script>var x = \"<span itemprop='f'>n</span>\";</script>",
        "<script>not closed by </scripty> keeps going</script>",
        '<SPAN ITEMPROP="up">', "</SPAN>",
        '<script itemprop="s">',            # CDATA element as a prop
    ]))


def _ref_micro(doc: str):
    c = MicroRefCollector()
    c.feed(doc)
    c.close()
    return c.rows


@settings(max_examples=300, deadline=None)
@given(st.lists(_MICRO_TOKENS, min_size=0, max_size=40))
def test_fuzz_micro_scanner_matches_html_parser(tokens):
    from ocr_platform_spark.operators.microdata import scan_microdata

    doc = "".join(tokens)
    assert scan_microdata(doc) == _ref_micro(doc), doc


# --- content-defined chunking (total over arbitrary bytes) -------------------

@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=4000))
def test_fuzz_cdc_matches_independent_rolling_pass(data):
    """Production cdc_chunks vs a test-local re-implementation of the
    spec (mask arithmetic via modulo, different loop shape) — both
    total over bytes."""
    import hashlib

    from ocr_platform_spark.operators.cdc import (CDC_MASK, CDC_MAX,
                                                  CDC_MIN, GEAR,
                                                  cdc_chunks)

    rows, start, h, n = [], 0, 0, 0
    for i, b in enumerate(data):
        h = ((h * 2) + GEAR[b]) % (1 << 62)
        n += 1
        if n == CDC_MAX or (n >= CDC_MIN and h % (CDC_MASK + 1) == 0):
            rows.append(("u", len(rows), start, i + 1 - start,
                         hashlib.md5(data[start:i + 1]).hexdigest()))
            start, h, n = i + 1, 0, 0
    if n:
        rows.append(("u", len(rows), start, len(data) - start,
                     hashlib.md5(data[start:]).hexdigest()))
    assert cdc_chunks("u", data) == rows


# --- feed scanner ------------------------------------------------------------

from tools.make_driver_fixtures import FeedRefCollector  # noqa: E402

_FEED_TOKENS = st.one_of(
    _TEXT, _ENTITY, _DECL,
    st.sampled_from([
        "<rss>", "</rss>", "<channel>", "</channel>",
        "<feed>", "</feed>", "<item>", "</item>", "<entry>", "</entry>",
        "<item/>", "<entry/>",
        "<title>", "</title>", "<title/>",
        "<link>", "</link>", '<link href="https://x/a"/>',
        '<link href="https://x/b">', "<link href>",
        '<link href="https://x/c?a=1&amp;b=2"/>',
        "<pubDate>", "</pubDate>", "<updated>", "</updated>",
        "<TITLE>", "</TITLE>", "<PubDate>",
        "<!-- <item><title>ghost</title></item> -->",
        "<description>", "</description>",
        "<script>var x = \"<item><title>f</title></item>\";</script>",
    ]))


def _ref_feed(doc: str):
    c = FeedRefCollector()
    c.feed(doc)
    c.close()
    out = []
    for e in sorted(c.fields):
        d = c.fields[e]
        if e == -1 and not d:
            continue
        out.append((e, d.get("title"), d.get("link"),
                    d.get("updated"), len(d)))
    return out


@settings(max_examples=300, deadline=None)
@given(st.lists(_FEED_TOKENS, min_size=0, max_size=40))
def test_fuzz_feed_scanner_matches_html_parser(tokens):
    from ocr_platform_spark.operators.feeds import scan_feed

    doc = "".join(tokens)
    assert scan_feed(doc) == _ref_feed(doc), doc


# --- code-block scanner ------------------------------------------------------

from tools.make_driver_fixtures import CodeRefCollector  # noqa: E402

_CODE_TOKENS = st.one_of(
    _TEXT, _ENTITY, _DECL, st.sampled_from(["\n", "    ", "\n    "]),
    st.sampled_from([
        "<pre>", "</pre>", "<pre/>", "<PRE>", "</PRE>",
        '<pre class="language-python">', "<pre class='lang-JS high'>",
        '<pre class="language-">', '<pre class="token k">',
        "<code>", "</code>", '<code class="highlight lang-rs">',
        '<code class="lang-"/>', '<code class="language-sql">',
        "<br>", "<br/>", "<BR>", "</br>",
        '<span class="k">', "</span>", '<span class="lang-ghost">',
        "<b>", "</b>", "<p>", "</p>",
        "<!-- <pre>ghost</pre> -->",
        "<script>if (a &lt; b) x;</script>",
        "<script>var t = \"</pre>\";</script>",
        "<script>not closed by </scripty> keeps going</script>",
        "<style>pre{}</style>",
    ]))


def _ref_code(doc: str):
    c = CodeRefCollector()
    c.feed(doc)
    c.close()
    return c.out


@settings(max_examples=300, deadline=None)
@given(st.lists(_CODE_TOKENS, min_size=0, max_size=40))
def test_fuzz_code_scanner_matches_html_parser(tokens):
    from ocr_platform_spark.operators.codeblocks import scan_code

    doc = "".join(tokens)
    assert scan_code(doc) == _ref_code(doc), doc
