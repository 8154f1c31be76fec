"""One tag-event driver for the structured-extraction kernels.

The head-metadata, table, microdata, feed, code-block and heading
kernels (operators/pagemeta, tablex, microdata, feeds, codeblocks,
outline) all read page markup the same way; this module owns that
reading once. ``scan_tags`` walks a document with a quote-aware regex
tag grammar and feeds a collector three events:

- ``start(tag, attrstr, selfclosed)`` — tag name lowercased, the raw
  attribute region (parse it with ``attr_map`` when needed), and
  whether the tag ends in ``/``;
- ``end(tag)``;
- ``data(text)`` — the non-empty text between two tags.

The rules are fixed and match stdlib ``html.parser`` (the independent
fixture collectors in tools/make_driver_fixtures.py and the
differential fuzzers in tests/test_fuzz_scanners.py check them):

- comments are invisible outside CDATA: no event, and their bodies are
  never tokenized;
- a script/style body is CDATA: its start event is always emitted,
  then the body as ONE raw data event (no unescaping, comments and
  tags inside it are data), then the end event of its close tag;
- every other data segment is entity-unescaped on its own;
- an unterminated comment or CDATA section ends the scan, and data
  after the last tag is not emitted (no collector commits open state
  at EOF).

Spark-free: ``map_pages`` only calls ``mapInPandas`` on the DataFrame it
is given, so the kernels' collectors stay unit-testable without a JVM.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from html import unescape

# Tag grammar: quotes only protect '>' INSIDE a quoted attribute value,
# so the attr region consumes quoted runs atomically and everything
# else stops at '>'.
_META_TAG = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:_-]*)"
    r"((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>")
_META_ATTR = re.compile(
    r"([a-zA-Z][a-zA-Z0-9:_-]*)"
    r"(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'>/]*)))?")

# CDATA ends only at a WELL-FORMED close tag of the same element —
# </scripted> or </scriptx> inside a script body is data and the body
# continues (html.parser's cdata_elem check does exactly this)
_CDATA_CLOSE = {t: re.compile(rf"</\s*{t}\s*>", re.I)
                for t in ("script", "style")}


def attr_map(attrstr: str) -> dict:
    """Attribute names (lowercased) → values (None when valueless)."""
    out: dict = {}
    for m in _META_ATTR.finditer(attrstr):
        name = m.group(1).lower()
        if name not in out:             # first occurrence wins, and the
            val = m.group(2)            # membership check must use the
            if val is None:             # SAME lowercased key it stores
                val = m.group(3)        # (PROPERTY= after property= is
            if val is None:             # a duplicate, not a new attr)
                val = m.group(4)
            out[name] = val
    return out


def scan_tags(text: str, sink) -> None:
    """Feed ``sink.start``/``sink.end``/``sink.data`` the tag events of
    ``text`` under the module-docstring rules."""
    start, end, data = sink.start, sink.end, sink.data
    search, find = _META_TAG.search, text.find
    pos = 0
    c = find("<!--")                # next comment open at or after pos
    while True:
        m = search(text, pos)
        if 0 <= c < pos:
            c = find("<!--", pos)
        if c != -1 and (m is None or c < m.start()):
            if c > pos:
                data(unescape(text[pos:c]))
            e = find("-->", c + 4)
            if e == -1:
                return          # unterminated comment swallows the rest
            pos = e + 3
            continue
        if m is None:
            return
        if m.start() > pos:
            data(unescape(text[pos:m.start()]))
        pos = m.end()
        tag = m.group(2).lower()
        if m.group(1):
            end(tag)
            continue
        attrs = m.group(3)
        selfclosed = attrs.rstrip().endswith("/")
        start(tag, attrs, selfclosed)
        if tag in _CDATA_CLOSE and not selfclosed:
            cm = _CDATA_CLOSE[tag].search(text, pos)
            if cm is None:
                return          # unterminated CDATA at EOF
            if cm.start() > pos:
                data(text[pos:cm.start()])      # raw: no unescape
            end(tag)
            pos = cm.end()


def map_pages(pages, scan: Callable[[str], list], schema,
              col: str = "html"):
    """One mapInPandas pass over ``(url, col)``: a row ``(url, *t)`` for
    every tuple ``t`` that ``scan`` returns for the decoded payload. A
    null payload scans as ''."""
    names = [f.name for f in schema]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [(u, *t) for u, h in zip(pdf["url"], pdf[col])
                    for t in scan("" if h is None else
                                  bytes(h).decode("utf-8", "replace"))]
            yield pd.DataFrame(rows, columns=names)

    return pages.mapInPandas(gen, schema=schema)
