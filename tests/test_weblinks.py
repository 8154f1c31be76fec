"""Anchor extraction: kernel vectors, hostile payloads, plan shape, and
the links → host-graph chain."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ocr_platform_spark.extract.links import extract_links
from ocr_platform_spark.operators.weblinks import links_df

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from ocr_platform_spark.session import build_spark
    return build_spark("weblinks-tests", cores=4)


def test_kernel_kinds_and_resolution():
    html = (b'<nav><a href="/m">Menu</a></nav>'
            b'<p><a href="c/d">rel</a> <a href="https://x.y/z">abs</a> '
            b'<a href="#f">frag</a> <a href="mailto:a@b">m</a> '
            b'<a>none</a></p>')
    out = extract_links("https://h.t/a/b", html)
    by = {lk.anchor_text: lk for lk in out}
    assert by["Menu"].kind == "relative" and by["Menu"].boilerplate
    assert by["Menu"].resolved == "https://h.t/m"
    assert by["rel"].resolved == "https://h.t/a/c/d"
    assert not by["rel"].boilerplate
    assert by["abs"].kind == "absolute" and by["abs"].resolved == "https://x.y/z"
    assert by["frag"].kind == "fragment" and by["frag"].resolved is None
    assert by["m"].kind == "other" and by["none"].kind == "other"


def test_kernel_chrome_classes_mark_boilerplate():
    html = b'<div class="sidebar"><a href="/s">S</a></div><p><a href="/c">C</a></p>'
    out = {lk.anchor_text: lk for lk in extract_links("https://h.t/", html)}
    assert out["S"].boilerplate and not out["C"].boilerplate


def test_kernel_never_raises_and_flushes_unclosed():
    assert extract_links("u", None) == []
    assert extract_links("u", b"") == []
    # truncated page: unclosed anchor still emitted
    # \xff\xff: invalid utf-8 but NOT a BOM (\xff\xfe would be a real
    # UTF-16-LE mark, which the charset sniffer now rightly honors)
    out = extract_links("https://h.t/", b"\xff\xff<p><a href='/x'>tail")
    assert len(out) == 1 and out[0].kind == "relative"
    # stray end tags must not underflow chrome depth
    out = extract_links("https://h.t/", b"</nav></nav><p><a href='/y'>y</a></p>")
    assert len(out) == 1 and not out[0].boilerplate


def test_kernel_fuzz_never_raises_and_is_deterministic():
    import random

    from ocr_platform_spark.datagen import gen_document

    rng = random.Random(11)
    base = gen_document(3, 42)["html"]
    for _ in range(200):
        # random byte mutations + truncations of a real page, plus noise
        blob = bytearray(base[:rng.randrange(len(base))])
        for _ in range(rng.randrange(8)):
            if blob:
                blob[rng.randrange(len(blob))] = rng.randrange(256)
        out1 = extract_links("https://h.t/p", bytes(blob))
        out2 = extract_links("https://h.t/p", bytes(blob))
        assert out1 == out2
        for lk in out1:
            assert lk.kind in ("absolute", "relative", "fragment", "other")
        assert [lk.link_no for lk in out1] == list(range(len(out1)))
        noise = bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
        assert isinstance(extract_links("u", noise), list)


# --- anchor parity: fast_scanner drive ≡ stdlib feed/close drive -----------
# (the extract_links fixture is generated by extract_links itself, so only
# a second drive of the same _LinkParser can catch tokenizer drift)

def _anchors(text: str, drive) -> tuple:
    """(closed anchors, anchors still open at EOF), or 'raise'."""
    from ocr_platform_spark.extract.links import _LinkParser

    p = _LinkParser()
    try:
        drive(text, p)
    except AssertionError:
        return "raise"
    return p.anchors, p._open


def _feed_close(text: str, p) -> None:
    p.feed(text)
    p.close()


def _assert_anchor_parity(text: str) -> None:
    from ocr_platform_spark.extract.fast_scanner import scan

    assert _anchors(text, scan) == _anchors(text, _feed_close), repr(text)


def test_anchor_parity_corpus_and_adversarial_pages():
    from ocr_platform_spark.datagen import adversarial_pages, gen_document
    from ocr_platform_spark.extract.charset import decode_html

    docs = [gen_document(i, 42)["html"] for i in range(400)]
    docs += [p["html"] for p in adversarial_pages()]
    for html in docs:
        _assert_anchor_parity(decode_html(html)[0])


def test_anchor_parity_edge_cases():
    from tests.test_fast_scanner import EDGE_CASES

    for text in EDGE_CASES + ["<p><a href='/x'>open at <a href=y>EOF"]:
        _assert_anchor_parity(text)


_ANCHOR_TOKENS = st.one_of(
    st.text(alphabet="abc xyz", max_size=12),
    st.sampled_from([
        '<a href="/x">', "<a href='#f'>", "<a href=y>", "<a>", "</a>",
        '<A HREF="HTTP://X.Y/Z">', '<a href="/q?a=1&amp;b=2">',
        '<a class="menu" href="//h.t/p">', "<a href>", "</ a>",
        "<nav>", "</nav>", '<div class="sidebar">', "</div>",
        "<p>", "</p>", "<br>", "<img src=x>", "&amp;", "&lt;",
        "<script>var a = '<a href=\"/s\">s</a>';</script>",
        "<!-- <a href='/c'>c</a> -->", "<![CDATA[x]]>", "<!-- open",
    ]))


@settings(max_examples=300, deadline=None)
@given(st.lists(_ANCHOR_TOKENS, max_size=30))
def test_fuzz_anchor_parity(tokens):
    _assert_anchor_parity("".join(tokens))


def test_links_plan_has_no_exchange(spark):
    from ocr_platform_spark.sources.pages import pages_df

    df = links_df(pages_df(spark, 50))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p


def test_links_feed_the_host_graph(spark):
    """crawl → anchors → host edge list: the input wg_pagerank expects."""
    from ocr_platform_spark.sources.pages import pages_df

    links = links_df(pages_df(spark, 100))
    host = lambda c: F.regexp_extract(c, r"^[a-z]+://([^/]+)", 1)
    edges = (links.filter(F.col("kind") == "absolute")
             .select(host(F.col("url")).alias("src"),
                     host(F.col("resolved")).alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .distinct())
    assert edges.columns == ["src", "dst"]
    assert edges.count() >= 0  # structure over content: synthetic pages
    # relative links resolve onto the page's own host
    rel = (links.filter(F.col("kind") == "relative")
           .select(host(F.col("url")).alias("a"),
                   host(F.col("resolved")).alias("b")))
    assert rel.filter(F.col("a") != F.col("b")).count() == 0


def _mk_links(spark, rows):
    """rows: (url, resolved, anchor_text, boilerplate) → links-shaped DF."""
    from ocr_platform_spark.operators.weblinks import LINKS_SCHEMA

    full = [(u, i, r or "#", r, a, "relative" if r else "fragment", b)
            for i, (u, r, a, b) in enumerate(rows)]
    return spark.createDataFrame(full, LINKS_SCHEMA)


def test_anchor_corpus_semantics(spark):
    from ocr_platform_spark.operators.weblinks import anchor_corpus

    t = "https://t.example/page"
    links = _mk_links(spark, [
        # two hosts point at t; anchors: "beta" x2, "alpha" x1 → top=beta
        ("https://a.example/1", t, "beta", True),
        ("https://a.example/2", t, "beta", False),
        ("https://b.example/1", t, "alpha", False),
        # excluded rows: empty anchor, unresolved (fragment)
        ("https://a.example/1", t, "", False),
        ("https://a.example/1", None, "frag", False),
        # an unrelated target with a count tie → lexicographic tie-break
        ("https://a.example/1", "https://t.example/o", "zz", False),
        ("https://a.example/2", "https://t.example/o", "aa", False),
    ])
    out = {r["target"]: r for r in anchor_corpus(links).collect()}
    assert set(out) == {t, "https://t.example/o"}
    r = out[t]
    assert r["n_links"] == 3 and r["n_content"] == 2 and r["n_hosts"] == 2
    assert r["anchor_chars"] == len("beta") * 2 + len("alpha")
    assert r["top_anchor"] == "beta" and r["top_anchor_cnt"] == 2
    tie = out["https://t.example/o"]
    assert tie["top_anchor"] == "aa" and tie["top_anchor_cnt"] == 1


def test_frontier_politeness_cap_and_discovery(spark):
    from ocr_platform_spark.operators.weblinks import crawl_frontier

    h = "https://hot.example/"
    links = _mk_links(spark, [
        # 5 fresh targets on one host, inbound counts 1..3 with ties
        *[("https://src.example/%d" % i, h + "a", "x", False)
          for i in range(3)],
        *[("https://src.example/%d" % i, h + "b", "x", False)
          for i in range(2)],
        ("https://src.example/0", h + "c", "x", False),
        ("https://src.example/0", h + "d", "x", False),
        ("https://src.example/0", h + "e", "x", False),
        # a target that is ALREADY crawled (it appears as a source url)
        ("https://src.example/1", "https://src.example/0", "x", False),
        # another host: never capped away
        ("https://src.example/0", "https://cold.example/z", "x", False),
    ])
    out = crawl_frontier(links, per_host=3).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r)
    # politeness cap: hot.example has 5 candidates, only 3 survive
    hot = sorted(by_host["hot.example"], key=lambda r: r["fetch_rank"])
    assert [r["target"][-1] for r in hot] == ["a", "b", "c"]
    assert [r["inbound"] for r in hot] == [3, 2, 1]
    assert [r["fetch_rank"] for r in hot] == [1, 2, 3]
    # crawled urls never re-enter the frontier
    assert all(r["target"] != "https://src.example/0" for r in out)
    assert [r["target"] for r in by_host["cold.example"]] \
        == ["https://cold.example/z"]


def test_anchor_corpus_and_frontier_match_oracle(spark):
    """The gate's exact comparison, inline at suite speed: Spark pipeline
    (parse → aggregate) vs DuckDB aggregating the pure-Python fixture."""
    import duckdb

    from ocr_platform_spark.operators.weblinks import (
        CX_FRONTIER_SQL, WL_ANCHOR_SQL, cx_frontier_q, wl_anchor_corpus_q)

    con = duckdb.connect()
    for fn, sql in ((wl_anchor_corpus_q, WL_ANCHOR_SQL),
                    (cx_frontier_q, CX_FRONTIER_SQL)):
        got = sorted(map(tuple, fn(spark, SF_DIR).collect()))
        want = sorted(map(tuple, con.sql(sql).fetchall()))
        assert got == want


def test_anchor_and_frontier_plan_shape(spark):
    """Pin the scale claims: every exchange keys on the aggregate key
    (target / host / resolved) — never a URL-side recompute — and the
    frontier's politeness window is partitioned, not global."""
    import re

    from ocr_platform_spark.operators.weblinks import (
        anchor_corpus, crawl_frontier)
    from ocr_platform_spark.sources.pages import pages_df

    links = links_df(pages_df(spark, 50))
    for fn in (anchor_corpus, crawl_frontier):
        p = fn(links)._jdf.queryExecution().executedPlan().toString()
        assert "Cartesian" not in p
        assert "No Partition Defined" not in p
        keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", p))
        assert keys <= {"target", "host", "resolved"}, keys


def test_bloom_frontier_identical_to_exact(spark):
    """The bloom-gated twin must emit exactly crawl_frontier's rows (the
    verify step removes precisely the false positives; no-false-negative
    means no fresh candidate is lost), while genuinely pruning: some
    candidates must skip the exact anti-join via a definite-fresh NO."""
    from pyspark.sql import functions as F

    from ocr_platform_spark.operators.sketches import (
        bloom_bitmap, bloom_probe)
    from ocr_platform_spark.operators.weblinks import (
        LINKS_DOCS, crawl_frontier, crawl_frontier_bloom, links_df)
    from ocr_platform_spark.sources.pages import pages_df

    links = links_df(pages_df(spark, LINKS_DOCS))
    exact = {tuple(r) for r in crawl_frontier(links).collect()}
    twin = {tuple(r) for r in crawl_frontier_bloom(links).collect()}
    assert twin == exact and twin

    # prune effectiveness: this link corpus has ZERO candidate/crawled
    # overlap (resolved targets are nav/chrome urls, crawled are page
    # urls), so plant overlap — 50 crawled urls recrawled as candidates.
    # Every planted member must answer maybe (no false negatives) and the
    # disjoint rest must overwhelmingly answer NO (the pruned majority).
    crawled = links.select(F.col("url").alias("url")).distinct()
    cand = (links.where(F.col("resolved").isNotNull())
            .select(F.col("resolved").alias("url")).distinct()
            .unionByName(crawled.orderBy("url").limit(50)))
    probed = bloom_probe(bloom_bitmap(crawled), cand)
    n_cand = probed.count()
    n_maybe = probed.where("bloom_maybe").count()
    assert 50 <= n_maybe < n_cand // 2


# --- anchor-text retrieval ---------------------------------------------------

def test_anchor_search_matches_python(spark):
    """Counts must equal a pure-Python recount over the parsed links,
    and boilerplate links must count in n_links but not n_content."""
    import re

    from ocr_platform_spark.operators.weblinks import (ANCHOR_QUERY_TERM,
                                                       extract_links_q,
                                                       wl_anchor_search_q)

    links = extract_links_q(spark, SF_DIR).collect()
    want: dict = {}
    for r in links:
        if r["resolved"] is None or \
                ANCHOR_QUERY_TERM not in r["anchor_text"].lower():
            continue
        host = re.match(r"https://([^/?#]+)", r["url"]).group(1)
        n, c, hosts = want.get(r["resolved"], (0, 0, set()))
        want[r["resolved"]] = (n + 1, c + (0 if r["boilerplate"] else 1),
                               hosts | {host})
    got = {r["target"]: (r["n_links"], r["n_content"], r["n_hosts"])
           for r in wl_anchor_search_q(spark, SF_DIR).collect()}
    assert got == {t: (n, c, len(h)) for t, (n, c, h) in want.items()}
    assert any(n > c for n, c, _ in got.values()), \
        "fixture must exercise the boilerplate distinction"
