"""Golden-file + property tests for the pure-Python extraction core.

Mirrors the reference's operational correctness model (SURVEY.md §5):
golden records shaped like apps/web/output.json, never-drop row policy,
word-count recomputation invariant.
"""

from __future__ import annotations

import dataclasses
import json
import pathlib

import pytest
from hypothesis import given, settings, strategies as st

from ocr_platform_spark.datagen import gen_document
from ocr_platform_spark.extract import extract_document
from ocr_platform_spark.extract.pipeline import FLAG_NEEDS_REVIEW
from ocr_platform_spark.functions.words import count_page_words, count_words

FIXTURES = pathlib.Path(__file__).parent / "fixtures"
GOLDENS = json.loads((FIXTURES / "extraction_goldens.json").read_text())


def _as_record(r) -> dict:
    rec = dataclasses.asdict(r)
    rec["spans"] = [list(s) for s in rec["spans"]]
    return rec


class TestGoldens:
    def test_goldens_byte_identical(self):
        """Re-extract every golden doc; every field must match exactly
        (extracted_text compared at the byte level)."""
        for i, gold in enumerate(GOLDENS):
            d = gen_document(i, seed=42)
            got = _as_record(extract_document(d["url"], d["html"]))
            assert got["extracted_text"].encode("utf-8") == gold[
                "extracted_text"
            ].encode("utf-8"), f"doc {i} text drift"
            assert got == gold, f"doc {i} record drift"

    def test_golden_shape(self):
        """Golden records carry the reference's segmented-page contract
        (header/body/footnotes/pageNumber per segment.ts:4-24)."""
        assert len(GOLDENS) == 64
        for g in GOLDENS:
            assert set(g) >= {
                "url", "extracted_text", "header", "body", "footnotes",
                "page_number", "total_words", "spans", "failed_stage",
            }
        # the grammar guarantees presence of each regime somewhere
        assert any(g["header"] is not None for g in GOLDENS)
        assert any(g["footnotes"] is not None for g in GOLDENS)
        assert any(g["page_number"] is not None for g in GOLDENS)
        assert any(g["failed_stage"] is not None for g in GOLDENS)


ADV_GOLDENS = json.loads((FIXTURES / "adversarial_goldens.json").read_text())


class TestAdversarialGoldens:
    """Hand-crafted real-world-shaped pages (datagen.adversarial_pages):
    deep table nests, RTL-heavy text, the reference's three footnote
    marker styles (ref convert-to-html.ts:3-18), multi-script pages, tag
    soup, entity stress, script/style leakage traps, chrome decoys."""

    def _by_url(self):
        from ocr_platform_spark.datagen import adversarial_pages
        return {d["url"]: d for d in adversarial_pages()}

    def test_byte_identical(self):
        docs = self._by_url()
        assert len(ADV_GOLDENS) == len(docs) == 10
        for gold in ADV_GOLDENS:
            d = docs[gold["url"]]
            got = _as_record(extract_document(d["url"], d["html"]))
            assert got == gold, f"{gold['url']} drifted"

    def _golden(self, leaf: str) -> dict:
        return next(g for g in ADV_GOLDENS if g["url"].endswith(leaf))

    def test_deep_tables_surface_content(self):
        g = self._golden("deep-tables")
        assert g["failed_stage"] is None
        assert "innermost cell carries the real paragraph" in g["body"]

    def test_all_three_footnote_marker_styles(self):
        g = self._golden("footnote-styles")
        assert g["footnotes"] is not None
        for mark in ("(1) Parenthesized", "2. Dotted", "3) Half-paren"):
            assert mark in g["footnotes"], mark
        assert g["page_number"] == 12

    def test_rtl_pages_keep_arabic_and_eastern_digits(self):
        g = self._golden("rtl-heavy")
        assert "النص العربي الطويل" in g["body"]
        assert "١٢٣" in g["body"]          # Eastern-Arabic digits intact
        assert g["footnotes"] and "(١)" in g["footnotes"]
        assert g["page_number"] == 742      # parsed from ٧٤٢
        g2 = self._golden("rtl-table-footnotes")
        assert g2["footnotes"] and "١." in g2["footnotes"]
        assert g2["page_number"] == 83

    def test_multi_script_page_keeps_every_script(self):
        body = self._golden("multi-script")["body"]
        for probe in ("Latin prose", "العربي", "Русский", "Ελληνικό",
                      "中文段落", "עברי"):
            assert probe in body, probe

    def test_script_style_comment_never_leak(self):
        g = self._golden("script-style-leak")
        text = g["extracted_text"]
        assert "visible prose" in text
        for leak in ("script paragraph", "leaked style text",
                     "commented paragraph", "json-ld body",
                     "textarea payload"):
            assert leak not in text, leak

    def test_entities_decode(self):
        body = self._golden("entity-stress")["body"]
        assert "Ampersands & angle brackets <tag>" in body
        assert "Mim" in body and "محمد" in body
        assert "©" in body

    def test_chrome_decoys_dropped_content_kept(self):
        g = self._golden("chrome-decoys")
        assert "Buried among eleven chrome decoy" in g["body"]
        assert "cookie link" not in g["extracted_text"]
        assert "advert link" not in g["extracted_text"]

    def test_tag_soup_never_fails(self):
        g = self._golden("tag-soup")
        assert g["failed_stage"] is None
        assert "browsers repair silently" in g["extracted_text"]
        assert "Tail paragraph" in g["extracted_text"]

    def test_whitespace_collapses_and_spans_join(self):
        body = self._golden("whitespace-runs")["body"]
        assert ("Words separated by enormous white space runs collapse "
                "to single spaces") in body
        assert "Inline spans split words but the text reads through" in body


class TestPipelineInvariants:
    def test_never_drop(self):
        """Failed docs still produce a row, flagged NEEDS_ADDITIONAL_REVIEW
        (ref page/worker.ts:41-46)."""
        r = extract_document("u", b"")
        assert r.failed_stage == "CORRECT"
        assert FLAG_NEEDS_REVIEW in r.flags
        r2 = extract_document("u", "\x00\x01".encode())
        assert r2 is not None

    def test_word_count_recomputation(self):
        """total_words == countPageWords(body, footnotes) always
        (ref page.ts (router):196-202 recompute-on-edit invariant)."""
        for i in range(100):
            d = gen_document(i)
            r = extract_document(d["url"], d["html"])
            assert r.total_words == count_page_words(r.body, r.footnotes)

    def test_spans_cover_text(self):
        """Char spans tile extracted_text with single-\\n gaps."""
        for i in range(100):
            d = gen_document(i)
            r = extract_document(d["url"], d["html"])
            prev_end = None
            for (_bid, start, end, _kind) in r.spans:
                assert 0 <= start <= end <= len(r.extracted_text)
                if prev_end is not None:
                    assert start == prev_end + 1  # the \n separator
                    assert r.extracted_text[prev_end] == "\n"
                assert r.extracted_text[start:end] != "" or start == end
                prev_end = end

    def test_boilerplate_stripped(self):
        """Nav/footer/script chrome never reaches extracted text."""
        for i in range(100):
            d = gen_document(i)
            r = extract_document(d["url"], d["html"])
            assert "var x=1" not in r.extracted_text
            assert "Example Library" not in r.extracted_text
            assert "Site Title" not in r.extracted_text

    @given(st.binary(max_size=2048))
    @settings(max_examples=200, deadline=None)
    def test_never_raises(self, payload: bytes):
        r = extract_document("u", payload)
        assert r.url == "u"
        assert r.total_words >= 0

    @given(st.text(max_size=500))
    @settings(max_examples=200, deadline=None)
    def test_word_count_nonneg_and_html_strip_idempotent(self, s: str):
        assert count_words(s) >= 0
        from ocr_platform_spark.functions.words import strip_html
        once = strip_html(s)
        assert strip_html(once) == strip_html(once)


class TestWidgetChrome:
    """select/option are widget chrome with OMISSIBLE end tags: real pages
    write <option>A<option>B, so depth-counting them would raise the
    ignore depth permanently and silently drop the entire rest of the
    document (the round-4 review's top finding)."""

    CASES = [
        # (html, must_contain, must_not_contain)
        ('<select><option>OptA<option>OptB</select>'
         '<main><p>Real paragraph with several words here</p></main>',
         "Real paragraph", ("OptA", "OptB")),
        # unclosed select recovered by block content
        ('<div><select><option>OptX'
         '<p>After the widget text continues normally</p></div>',
         "After the widget", ("OptX",)),
        # well-formed widget: options stay chrome, flow resumes
        ('<p>before words here</p>'
         '<select><option>OptA</option><option>OptB</option></select>'
         '<p>after words here</p>', "after words here", ("OptA", "OptB")),
        # optgroup end tags omitted
        ('<select><optgroup label=g><option>OptA'
         '<optgroup label=h><option>OptB</select>'
         '<p>tail content words here</p>',
         "tail content", ("OptA", "OptB")),
        # stray text directly inside select is chrome
        ('<select>naked widget text<option>OptA</select>'
         '<p>real tail content here</p>',
         "real tail", ("naked widget", "OptA")),
    ]

    def test_widget_text_is_chrome_and_never_swallows(self):
        from ocr_platform_spark.extract.html_blocks import parse_blocks
        from tests.test_fast_scanner import stdlib_blocks

        for html, keep, drop in self.CASES:
            fast = [b.text for b in parse_blocks(html)]
            std = [b.text for b in stdlib_blocks(html)]
            assert fast == std, html
            joined = " ".join(fast)
            assert keep in joined, html
            for d in drop:
                assert d not in joined, (html, d)

    def test_extraction_end_to_end(self):
        html = ('<html><body><select><option>First<option>Second</select>'
                '<main><p>The document body keeps flowing after an '
                'unclosed dropdown widget element</p></main>'
                '</body></html>').encode()
        r = extract_document("u", html)
        assert "keeps flowing" in r.extracted_text
        assert "First" not in r.extracted_text


class TestDatagen:
    def test_deterministic(self):
        a = [gen_document(i) for i in range(50)]
        b = [gen_document(i) for i in range(50)]
        assert a == b

    def test_schema(self):
        d = gen_document(7)
        assert isinstance(d["html"], bytes)
        assert set(d) == {"url", "warc_ts", "html", "text", "lang"}
        assert d["lang"] in {"ar", "en", "fa", "tr"}

    def test_skew_exists(self):
        """Hot domains must dominate (exercises the salted-skew path)."""
        from collections import Counter
        doms = Counter(gen_document(i)["url"].split("/")[2] for i in range(500))
        top = doms.most_common(1)[0][1]
        assert top > 500 / len(doms) * 2
