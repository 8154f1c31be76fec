"""Anchor/outlink extraction — the web-pipeline pass that feeds the link
graph (see operators/webgraph.py's PageRank) and the anchor-text corpus
(anchors are the classic relevance/quality signal for a crawled page).

Reference parity: the reference's DOM walk captures per-block anchors for
link-density (apps/web/src/lib/extraction, mirrored in
extract/html_blocks.py:109); here the anchors themselves are the payload.

Design mirrors the extraction kernel: pure-Python, driven by the
package's one tokenizer (extract/fast_scanner.scan, html.parser's event
contract — see its module docstring), tolerant of malformed HTML
(unclosed tags fine, stray end-tags ignored), NEVER raises — a page
that cannot be decoded yields zero links, the page row itself stays
accounted for upstream. Every anchor is emitted (never-drop), typed by
``kind`` so downstream decides what to keep:

    absolute   http(s)://... href
    relative   path href, resolved against the page url
    fragment   #... same-page href (resolved = None)
    other      mailto:, javascript:, data:, empty href

``boilerplate`` marks anchors inside nav/aside/form/footer subtrees or
chrome-classed containers — the same chrome heuristics the block
classifier uses (extract/classify.py) — so the anchor corpus can keep
content links (high-signal) and drop menus.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html.parser import HTMLParser
from urllib.parse import urljoin

from ocr_platform_spark.extract.charset import decode_html
from ocr_platform_spark.extract.classify import CHROME_CLASS_RE
from ocr_platform_spark.extract.fast_scanner import scan
from ocr_platform_spark.extract.html_blocks import _collapse_ws

_CHROME_TAGS = ("nav", "aside", "form", "footer")
_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")


@dataclass(slots=True)
class Link:
    link_no: int
    href_raw: str
    resolved: str | None
    anchor_text: str
    kind: str
    boilerplate: bool


_VOID_TAGS = frozenset((
    "br", "img", "hr", "meta", "link", "input", "area", "base",
    "col", "embed", "source", "track", "wbr"))


class _LinkParser(HTMLParser):
    # production drives it with fast_scanner.scan; the HTMLParser base
    # keeps the stdlib feed/close drive as the parity reference
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.anchors: list[tuple[str, list[str], int]] = []  # href, parts, chrome
        self._chrome_depth = 0
        self._open: list[tuple[str, list[str], int]] = []  # nested <a> tolerated
        self._stack: list[tuple[str, bool]] = []           # (tag, is_chrome)

    def handle_starttag(self, tag, attrs):
        ad = dict(attrs)
        cls = ad.get("class") or ""
        is_chrome = bool(tag in _CHROME_TAGS or CHROME_CLASS_RE.search(cls))
        if tag not in _VOID_TAGS:
            self._stack.append((tag, is_chrome))
            if is_chrome:
                self._chrome_depth += 1
        if tag == "a":
            self._open.append((ad.get("href") or "", [], self._chrome_depth))

    def handle_endtag(self, tag):
        if tag == "a" and self._open:
            self.anchors.append(self._open.pop())
        # close up to the nearest matching open tag, implicitly closing
        # anything unclosed above it; a stray end tag matches nothing and
        # is ignored (so it cannot underflow the chrome depth)
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i][0] == tag:
                for _, ch in self._stack[i:]:
                    if ch:
                        self._chrome_depth -= 1
                del self._stack[i:]
                break

    def handle_data(self, data):
        for _, parts, _ in self._open:
            parts.append(data)


def extract_links(url: str, html: bytes | None) -> list[Link]:
    """Never raises; undecodable/None payloads yield []."""
    if not html:
        return []
    try:
        text, _enc = decode_html(html)   # WHATWG sniff, same as pipeline
        p = _LinkParser()
        scan(text, p)
        # truncated pages leave anchors unclosed — flush them in document
        # order (never-drop)
        while p._open:
            p.anchors.append(p._open.pop(0))
    except Exception:
        return []
    out: list[Link] = []
    for i, (href, parts, chrome) in enumerate(p.anchors):
        anchor = _collapse_ws("".join(parts))
        # schemes are case-insensitive (RFC 3986 §3.1) and protocol-relative
        # //host/path hrefs are genuine cross-host links — both classify as
        # absolute (resolved lowercases the scheme so host parsing downstream
        # sees the canonical form)
        lower = href.lower()
        if not href:
            kind, resolved = "other", None
        elif href.startswith("#"):
            kind, resolved = "fragment", None
        elif lower.startswith(("http://", "https://")):
            kind = "absolute"
            resolved = href[:href.index(":")].lower() + href[href.index(":"):]
        elif href.startswith("//"):
            kind, resolved = "absolute", urljoin(url, href)
        elif _SCHEME_RE.match(href):
            kind, resolved = "other", None
        else:
            kind, resolved = "relative", urljoin(url, href)
        out.append(Link(i, href, resolved, anchor, kind, chrome > 0))
    return out
