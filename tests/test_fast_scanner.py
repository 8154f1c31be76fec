"""Differential test: fast regex scanner ≡ stdlib html.parser drive.

``parse_blocks`` and ``stdlib_blocks`` (the html.parser drive, kept here
as the test reference) feed the same _BlockParser sink; this asserts the
resulting block lists are field-for-field identical over (a) the full
synthetic corpus, (b) every golden fixture input, (c) a battery of
malformed-HTML edge cases.
"""

from __future__ import annotations

import dataclasses

import pytest

from ocr_platform_spark.datagen import gen_document
from ocr_platform_spark.extract.html_blocks import _BlockParser, parse_blocks

EDGE_CASES = [
    "",
    "plain text no tags at all",
    "<p>unclosed paragraph",
    "<p>a < b and c > d</p>",
    "<p>5 < 6</p><p>7 > 3</p>",
    "<div class='sq'>single quotes</div>",
    "<div class=unquoted>unquoted attr</div>",
    '<a href="x>y">quoted gt in attr</a> tail',
    "<p>ent &amp; ref &lt;tag&gt; &#65; &#x42; &nosuch; &amp no-semi</p>",
    "<script>var a = '<p>not a block</p>';</script><p>real</p>",
    "<style>p::before { content: '<li>'; }</style><p>styled</p>",
    "<script>unterminated cdata <p>hidden",
    "<!-- comment <p>inside</p> --><p>after comment</p>",
    "<!DOCTYPE html><p>doc</p>",
    "<?xml version='1.0'?><p>pi</p>",
    "<br/><hr /><p>voids</p><br>",
    "<p/>selfclosed block<p>next</p>",
    "<P>UPPER CASE TAGS</P><DIV CLASS='X'>Y</DIV>",
    "</p>stray end tag<p>ok</p>",
    "</>empty end</><p>z</p>",
    "<35>not a tag</35>",
    "<p>truncated at tag start<",
    "<p>truncated mid-tag<div cla",
    "<p>truncated mid-comment<!-- never closed",
    "<ul><li>one<li>two<li>three</ul>",
    "<table><tr><td>a</td><td>b</td></tr></table>",
    "<p>nested <sup>1</sup> marks <sup><a href='#f1'>2</a></sup></p>",
    "<nav><a href='/'>Home</a> | <a href='/x'>X</a></nav><p>body text</p>",
    "text before<p>first block</p>text after",
    "<div><div><div>deep</div></div></div>",
    "<p>النص العربي"
    " &amp; تشكيل</p>",
    "<noscript><p>ns content</p></noscript><p>visible</p>",
    "<p>a&nbsp;b</p>",
    "<!--<p><p>",
    "<!--a<p>b<p>c",
    "<?x <p>y",
    "</x <p>y",
    "<div cla<p>x>after",
    "<!x <p>y",
    "<![CDATA[a>b]]>c",
    "<![CDATA[never closed <p>x",
    "<![if gte mso 9]>office<![endif]>tail",
    "<![>x",
    "<a href=x/>selfclose-eaten<p>q",
    "<div class==>eq</div>",
    "<div class=x&amp;z>ent</div>",
    "<p att'r=1>quote in name</p>",
    "<script></scriptx></script><p>after</p>",
    "<script></ script ><p>ws close</p>",
    "<p class=\"x\" class='y'>dup class</p>",
    "<div\tclass\n=\r'ws'>attr ws</div>",
    # a non-strict '</script' must not skip past the real close
    "<script></script</script><p>after</p>",
    "<p>x</p><script>a</script </script><p>after</p>",
]


def stdlib_blocks(html):
    """``parse_blocks`` with stdlib html.parser driving the same sink."""
    p = _BlockParser()
    p.feed(html)
    p.close()
    for i, b in enumerate(p.blocks):
        b.block_id = i
    return p.blocks


ENGINES = {"fast": parse_blocks, "stdlib": stdlib_blocks}


def _norm_of(html, engine):
    """Blocks as dicts, or the exception type — engines must fail alike."""
    try:
        return [dataclasses.asdict(b) for b in ENGINES[engine](html)]
    except Exception as e:
        return type(e).__name__


def _norm(blocks):
    return [dataclasses.asdict(b) for b in blocks]


@pytest.mark.parametrize("case_id", range(len(EDGE_CASES)))
def test_edge_cases_identical(case_id):
    html = EDGE_CASES[case_id]
    assert _norm_of(html, "fast") == _norm_of(html, "stdlib"), html


def test_corpus_identical():
    for i in range(400):
        d = gen_document(i, 42)
        html = d["html"].decode("utf-8", errors="replace")
        fast = _norm(parse_blocks(html))
        std = _norm(stdlib_blocks(html))
        assert fast == std, f"doc {i} ({d['url']}) diverged"


def test_corpus_identical_alt_seed():
    for i in range(100):
        d = gen_document(i, 20260817)
        html = d["html"].decode("utf-8", errors="replace")
        assert _norm(parse_blocks(html)) == \
            _norm(stdlib_blocks(html)), f"doc {i}"


def test_golden_inputs_identical():
    import json
    from pathlib import Path

    fixtures = Path(__file__).parent / "fixtures"
    for fp in fixtures.glob("*.json"):
        data = json.loads(fp.read_text())
        records = data if isinstance(data, list) else data.get("records", [])
        for rec in records:
            html = rec.get("html") or rec.get("input_html")
            if not html:
                continue
            assert _norm(parse_blocks(html)) == \
                _norm(stdlib_blocks(html))


# --- hypothesis fuzz: arbitrary tag-soup must parse identically -----------
try:
    from hypothesis import given, settings, strategies as st

    _frag = st.one_of(
        st.text(max_size=12),
        st.sampled_from([
            "<p>", "</p>", "<div class='a'>", "</div>", "<a href='#'>",
            "</a>", "<sup>", "</sup>", "<br>", "<br/>", "<hr>", "<script>",
            "</script>", "<style>", "</style>", "<!--", "-->", "<!DOCTYPE x>",
            "&amp;", "&lt;", "&#65;", "&nosuch;", "<", ">", "</", "<>",
            "<P CLASS=Y>", "<li>", "</li>", "<h2>", "</h2>", "<td>", "</td>",
        ]),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(_frag, max_size=30))
    def test_fuzz_tag_soup_identical(frags):
        html = "".join(frags)
        assert _norm_of(html, "fast") == _norm_of(html, "stdlib"), repr(html)
except ImportError:  # pragma: no cover
    pass


def test_pathological_inputs_stay_linear():
    """Poison-pill documents must parse in linear time on BOTH engines —
    one adversarial page must never stall an executor task (deep nesting
    was quadratic via per-block path joins + endtag stack scans before
    MAX_PATH_DEPTH + the open-tag counter)."""
    import time

    cases = {
        "deep_nesting": "<div>" * 50000 + "x" + "</div>" * 50000,
        "long_attr_soup": "<div " + "a=b " * 50000 + ">x</div>",
        "unterminated_long_tag": "<div " + "a=b " * 50000,
        "many_tiny_tags": "<p>x</p>" * 50000,
        "unterminated_quote": '<div class="' + "c" * 500000,
        "unterminated_comment": "<!--" + "<p>y</p>" * 20000,
    }
    for name, html in cases.items():
        for eng, parse in ENGINES.items():
            t0 = time.time()
            parse(html)
            assert time.time() - t0 < 10, f"{name}/{eng} too slow"
