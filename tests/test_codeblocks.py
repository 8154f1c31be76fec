"""Code-block extraction kernel + query pins (operators/codeblocks.py)."""

from __future__ import annotations

from ocr_platform_spark.datagen import code_doc
from ocr_platform_spark.operators.codeblocks import (CODE_DOCS,
                                                     lang_from_class,
                                                     scan_code)

SF_DIR = "/root/testdata/sf0.01"


def test_scan_basic_block_preserves_whitespace():
    got = scan_code('<pre class="language-python">def f():\n'
                    "    return 1</pre>")
    assert got == [(0, "python", "def f():\n    return 1", 2, 21)]


def test_scan_strips_highlighter_spans_and_decodes_entities():
    got = scan_code('<pre><code class="lang-js">'
                    '<span class="k">if</span> (a &lt; b) { go(); }'
                    "</code></pre>")
    assert got == [(0, "js", "if (a < b) { go(); }", 1, 20)]


def test_scan_leading_newline_dropped_once():
    assert scan_code("<pre>\n\nx</pre>")[0][2] == "\nx"
    assert scan_code("<pre>x\n</pre>")[0][2] == "x\n"


def test_scan_br_becomes_newline():
    got = scan_code("<pre>a<br>b<br/>c<BR>d</pre>")
    assert got == [(0, None, "a\nb\nc\nd", 4, 7)]


def test_scan_nested_pre_is_markup_first_close_commits():
    got = scan_code("<pre>outer <pre>inner</pre> tail</pre>")
    assert got == [(0, None, "outer inner", 1, 11)]


def test_scan_script_inside_block_is_raw_code():
    got = scan_code("<pre><script>if (a &lt; b) x;</script></pre>")
    # raw CDATA: the entity stays UNdecoded, the tags strip
    assert got == [(0, None, "if (a &lt; b) x;", 1, 16)]


def test_scan_comment_invisible_empty_commits_eof_drops():
    assert scan_code("<pre>a<!-- <pre>ghost</pre> -->b</pre>") == \
        [(0, None, "ab", 1, 2)]
    assert scan_code("<pre></pre>") == [(0, None, "", 0, 0)]
    assert scan_code("<pre>dangling") == []
    assert scan_code("</pre>no-op") == []


def test_scan_inline_code_outside_pre_never_emits():
    assert scan_code("<p>Use <code>x + 1</code> inline.</p>") == []


def test_lang_hint_first_wins_and_prefix_rules():
    assert lang_from_class("highlight lang-RS numberLines") == "rs"
    assert lang_from_class("language-c++") == "c++"
    assert lang_from_class("k token") is None
    assert lang_from_class("language-") is None     # bare prefix is dead
    assert lang_from_class(None) is None
    # pre hint shadows the inner code hint
    got = scan_code('<pre class="language-sql"><code class="lang-js">x'
                    "</code></pre>")
    assert got[0][1] == "sql"
    # first code hint wins over a later one
    got = scan_code('<pre><code class="lang-a">x</code>'
                    '<code class="lang-b">y</code></pre>')
    assert got[0][1] == "a"


def test_corpus_exercises_the_menu():
    blobs = [code_doc(i)[1].decode() for i in range(CODE_DOCS)]
    assert any('class="language-' in b for b in blobs)
    assert any("lang-" in b and "highlight" in b for b in blobs)
    assert any("<PRE CLASS='lang-" in b for b in blobs)
    assert any("<br>" in b for b in blobs)
    assert any("&lt;" in b for b in blobs)
    assert any("<!-- highlighter credit -->" in b for b in blobs)
    assert any("<script>" in b for b in blobs)
    assert any("nested-is-markup" in b for b in blobs)
    assert any("<pre></pre>" in b for b in blobs)
    assert any("func main() {" in b for b in blobs)


def test_extract_code_query_invariants(spark):
    from ocr_platform_spark.operators.codeblocks import extract_code

    rows = extract_code(spark, SF_DIR).collect()
    assert rows
    by_url: dict = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r["block_idx"])
        assert r["n_chars"] == len(r["text"])
        assert r["n_lines"] == (r["text"].count("\n") + 1
                                if r["text"] else 0)
    for idxs in by_url.values():
        assert sorted(idxs) == list(range(len(idxs)))
    # the EOF-truncated go block never commits anywhere
    assert not any(r["lang"] == "go" for r in rows)
    # whitespace survived: some block carries real indentation
    assert any("\n    " in r["text"] for r in rows)


def test_cx_code_corpus_dedup_is_live(spark):
    from ocr_platform_spark.operators.codeblocks import cx_code_corpus

    rows = {r["lang"]: r for r in cx_code_corpus(spark, SF_DIR).collect()}
    assert None in rows                       # unhinted bucket is real
    assert any(r["n_distinct_texts"] < r["n_blocks"]
               for r in rows.values())        # shared snippet collapses
    for r in rows.values():
        assert 0 < r["n_distinct_texts"] <= r["n_blocks"]
        assert r["n_urls"] <= r["n_blocks"]
