"""Head-metadata extraction: kernel edge semantics (CDATA, comments,
quoting, first-wins), the augmentation menu's variant coverage, the
never-drop row invariant, and the zero-shuffle plan shape. Corpus-level
agreement with the stdlib html.parser replica is pinned by the fixture
gate (tools/check_oracles.py extract_metadata)."""

from __future__ import annotations

import pytest

from ocr_platform_spark.operators.pagemeta import (
    META_DOCS, _scan_head_meta, augment_html, meta_block)


@pytest.fixture(scope="module")
def spark():
    from ocr_platform_spark.session import build_spark
    return build_spark("pagemeta-tests", cores=4)


def test_scanner_extracts_all_menu_shapes():
    # every augmentation variant in one document: single-quoted +
    # reversed attr order + uppercase tag name, self-closing og:type,
    # href-first canonical, ld+json
    html = ("<html><head>"
            "<META content='T1' property='og:title'>"
            '<meta property="og:type" content="book"/>'
            '<link href="https://h/x" rel="canonical">'
            '<script type="application/ld+json">'
            '{"name": "n", "@type": "Book"}</script>'
            "<title>A &amp; B</title></head><body></body></html>")
    pm = _scan_head_meta(html)
    assert pm.og_title == "T1"
    assert pm.og_type == "book"
    assert pm.canonical == "https://h/x"
    assert pm.jsonld_type == "Book"
    assert pm.title == "A & B"
    assert pm.n_meta == 2


def test_scanner_cdata_and_comment_immunity():
    # a meta tag inside a script body is DATA (CDATA until the matching
    # close), a meta inside a comment is stripped, and a '>' inside a
    # comment must not terminate it early
    html = ("<head>"
            "<script>var s = '<meta property=\"og:title\" "
            "content=\"fake\">';</script>"
            "<!-- x > y <meta property='og:type' content='fake'> -->"
            '<meta property="og:type" content="real">'
            "</head>")
    pm = _scan_head_meta(html)
    assert pm.og_title is None
    assert pm.og_type == "real"
    assert pm.n_meta == 1


def test_scanner_first_wins_and_unterminated_cdata():
    html = ('<meta property="og:title" content="first">'
            '<meta property="og:title" content="second">'
            '<script type="application/ld+json">{"@type": "Article"')
    pm = _scan_head_meta(html)
    assert pm.og_title == "first"
    # unterminated ld+json at EOF is never committed (stdlib parity)
    assert pm.jsonld_type is None
    assert pm.n_meta == 2


def test_scanner_quote_protected_gt():
    # '>' inside a quoted attribute value must not terminate the tag
    pm = _scan_head_meta('<meta property="og:title" content="a > b">')
    assert pm.og_title == "a > b"


def test_menu_variants_all_live():
    # the md5 menu must actually exercise the parser: across the query's
    # page set every variant family appears, including absences
    from ocr_platform_spark.datagen import gen_document

    blocks = [meta_block(gen_document(i)["url"]) for i in range(META_DOCS)]
    assert any("<META " in b for b in blocks)
    assert any("property='og:title'" in b for b in blocks)
    assert any('property="og:title"' in b for b in blocks)
    assert any("content=" in b and b.index("content=") < b.index("property=")
               for b in blocks if "og:title" in b)
    assert any("og:title" not in b for b in blocks)
    assert any("canonical" not in b for b in blocks)
    assert any('"@type": "Book"' in b for b in blocks)
    assert any('"@type": "Article"' in b for b in blocks)


def test_extract_metadata_never_drops_and_no_shuffle(spark):
    from ocr_platform_spark.operators.pagemeta import extract_metadata

    df = extract_metadata(spark, "/root/testdata/sf0.01")
    rows = df.collect()
    assert len(rows) == META_DOCS
    # empty-payload pages survive as all-null rows
    empties = [r for r in rows if r["n_meta"] == 0 and r["title"] is None]
    assert empties, "the ~2% malformed envelope should be represented"
    # metadata extraction is embarrassingly parallel: the plan must not
    # contain a single exchange
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_augment_passthrough_without_head():
    assert augment_html("u", None) is None
    assert augment_html("u", b"") == b""
    assert augment_html("u", b"no head here") == b"no head here"
    out = augment_html("https://h/book/1/page/2",
                       b"<html><head><title>t</title></head>")
    assert out is not None and b"<head>" in out
    assert meta_block("https://h/book/1/page/2").encode() in out


def test_scanner_case_duplicate_attr_first_wins():
    # PROPERTY= after property= is the SAME attribute: first wins, the
    # lowercased key must be checked, not the raw spelling
    pm = _scan_head_meta(
        '<meta property="og:title" content="real" PROPERTY="og:fake">')
    assert pm.og_title == "real"


def test_scanner_unterminated_title_keeps_tokenizing():
    # html.parser parity: title is a NORMAL element — an unterminated
    # <title> never commits, but tags after it still tokenize
    pm = _scan_head_meta(
        '<head><title>oops <meta property="og:type" content="x"></head>')
    assert pm.title is None
    assert pm.og_type == "x"
    assert pm.n_meta == 1
    # and a TERMINATED title collects only inter-tag data
    pm2 = _scan_head_meta(
        '<title>a <meta property="og:type" content="y"> b</title>')
    assert pm2.title == "a  b"
    assert pm2.og_type == "y"


def test_scanner_cdata_close_requires_name_boundary():
    # </scripty> inside a script body is data, not a close tag — the
    # body continues to the real </script> (html.parser cdata_elem
    # semantics); a meta inside stays CDATA
    pm = _scan_head_meta(
        '<script>var s="</scripty>"; var t="<meta property=\'og:type\' '
        'content=\'fake\'>";</script>'
        '<meta property="og:type" content="real">')
    assert pm.og_type == "real"
    assert pm.n_meta == 1
    # whitespace inside the close tag is still a close: </script >
    pm2 = _scan_head_meta(
        '<script type="application/ld+json">{"@type": "Book"}</script >')
    assert pm2.jsonld_type == "Book"


def test_canonical_dedup_families(spark):
    # replica over the fixture-equivalent metadata: families collapse on
    # the declared canonical, exactly one keeper per family (min url),
    # canonical-less pages are singleton families, and no row is dropped
    from ocr_platform_spark.operators.pagemeta import cx_canonical_dedup

    rows = cx_canonical_dedup(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == META_DOCS                      # never-drop
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["canonical_key"], []).append(r)
    multi = 0
    for key, members in by_key.items():
        assert all(r["family_size"] == len(members) for r in members)
        keepers = [r["url"] for r in members if r["is_kept"]]
        assert keepers == [min(r["url"] for r in members)]
        if len(members) > 1:
            multi += 1
    # the menu's /page/N-stripping canonical must actually create
    # multi-member families (pages of one book share a canonical)
    assert multi > 5
    kept = sum(r["is_kept"] for r in rows)
    assert kept == len(by_key)


def test_commented_out_meta_is_invisible():
    """A <meta> inside an HTML comment must not count or win first-wins
    (html.parser emits no event for comments)."""
    from ocr_platform_spark.operators.pagemeta import _scan_head_meta

    pm = _scan_head_meta(
        '<head><!-- <meta property="og:title" content="GHOST"> -->'
        '<meta property="og:title" content="Real"></head>')
    assert pm.og_title == "Real"
    assert pm.n_meta == 1


def test_comment_inside_ld_script_stays_raw():
    """html.parser's CDATA mode passes comments through as data, so a
    commented '@type' inside an ld+json body IS searched — the former
    global comment pre-strip diverged from the fixture exactly here."""
    from ocr_platform_spark.operators.pagemeta import _scan_head_meta

    pm = _scan_head_meta(
        '<script type="application/ld+json">'
        '/* <!-- "@type": "Hidden" --> */</script>')
    assert pm.jsonld_type == "Hidden"


def test_comment_inside_title_is_skipped_not_text():
    from ocr_platform_spark.operators.pagemeta import _scan_head_meta

    pm = _scan_head_meta("<title>Be<!-- not -->fore</title>")
    assert pm.title == "Before"


def test_title_segments_unescape_on_their_own():
    """html.parser parity: each title data segment is unescaped on its
    own and a script body inside the title stays raw — unescaping the
    joined buffer turned both of these into '&'."""
    assert _scan_head_meta(
        "<title><script>&amp;</script></title>").title == "&amp;"
    assert _scan_head_meta("<title>a&am<b>p;</title>").title == "a&amp;"


def test_self_closed_title_is_start_then_end():
    # <title/> commits nothing of its own, and inside an open title it
    # closes that title (html.parser's startendtag = start + end)
    assert _scan_head_meta("<title/>x<title>T</title>").title == "T"
    assert _scan_head_meta("<title>a<title/>b</title>").title == "a"
