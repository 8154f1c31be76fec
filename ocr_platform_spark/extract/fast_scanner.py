"""The one HTML tokenizer: html.parser's events, from compiled regexes.

Every HTML reader in the package is driven by ``scan(text, sink)``: the
block parser (extract/html_blocks.py), the anchor parser
(extract/links.py) and the six structured-extraction collectors
(operators/pagemeta, tablex, microdata, feeds, codeblocks, outline, via
extract/tagscan.py). ``html.parser`` pays heavy pure-Python dispatch per
tag; this scanner walks the text with compiled regexes and calls the
sink exactly as ``HTMLParser(convert_charrefs=True)`` fed the whole
text and then closed (CPython 3.11 Lib/html/parser.py) calls its
subclass. The event contract:

- ``handle_starttag(tag, attrs)`` / ``handle_startendtag(tag, attrs)``
  (a tag ending in ``/>``): the tag name lowercased; ``attrs`` is every
  attribute in document order as ``(name, value)``, the name
  lowercased, the value unquoted and entity-unescaped, ``None`` when
  valueless; duplicates are all passed (readers pick first or last);
- ``handle_endtag(tag)``: the tag name lowercased, also for a tolerant
  close such as ``</ h1>`` or ``</p junk>``;
- ``handle_data(text)``: the entity-unescaped text between two
  constructs; a literal ``<`` that opens nothing is its own ``"<"``
  event;
- a ``<script>``/``<style>`` body is raw text up to the first strict
  close of its own element (``</script>``, any case, whitespace allowed
  around the name): one raw ``handle_data`` (no unescaping; tags and
  comments inside are text), then ``handle_endtag``;
- comments, ``<!DOCTYPE>``/bogus declarations, processing instructions
  and marked sections (``<![CDATA[..]]>``, ``<![if ..]>``) emit nothing;
- a junk start tag (``<div class==>``-style) is emitted raw as data;
  ``</>`` and bogus ``</...>`` emit nothing.

EOF rules (html.parser's ``close()``):

- a construct still open at EOF (a tag, comment or declaration with no
  closing ``>``) is emitted as data up to and including the next
  ``>``, else to the next ``<``, else one character, and the scan
  resumes after it;
- inside an unclosed ``<script>``/``<style>`` nothing is emitted after
  its start event.

Parity includes failure: an unknown marked-section keyword
(``<![bogus[``) or ``<![`` followed by no name raises ``AssertionError``
just as html.parser does, after the events before it. Callers decide
what that means (pipeline.py: the CONVERT_TO_HTML error envelope;
links.py: no links; tagscan.collect: end of document).

Parity is enforced by tests/test_scan_events.py (event for event
against a recording ``HTMLParser``), tests/test_fast_scanner.py (block
lists) and tests/test_weblinks.py (anchors).
"""

from __future__ import annotations

import re
from html import unescape

_TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND = re.compile(
    r"((?<=['\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"('[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?(?:\s|/(?!>))*")
_LOCATE_START = re.compile(
    r"<[a-zA-Z][^\t\n\r\f />\x00]*"
    r"(?:[\s/]*"
    r"(?:(?<=['\"\s/])[^\s/>][^\s/=>]*"
    r"(?:\s*=+\s*"
    r"(?:'[^']*'"
    r"|\"[^\"]*\""
    r"|(?!['\"])[^>\s]*"
    r")"
    r"\s*"
    r")?(?:\s|/(?!>))*"
    r")*"
    r")?"
    r"\s*")
_ENDTAG_STRICT = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_COMMENT_CLOSE = re.compile(r"--\s*>")
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_CLOSE = re.compile(r"]\s*]\s*>")
_MS_MARKED_CLOSE = re.compile(r"]\s*>")
# a script/style body ends at the first STRICT close of its own element
# (html.parser's set_cdata_mode): '</scriptx>' or '</script junk>' is text
_CDATA_CLOSE = {t: re.compile(r"</\s*%s\s*>" % t, re.I)
                for t in ("script", "style")}
_ASCII_ALPHA_EQ_SLASH = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/")

# One-shot fast path for the overwhelmingly common tag shape: lowercase-ish
# name, zero or more space-separated double-quoted attributes whose values
# contain no <, >, & (so no unescape needed and the full-grammar scanner
# would produce the identical result), closed by > or />. Anything else
# falls back to the grammar-mirroring _starttag.
_SIMPLE_START = re.compile(
    r"<([a-zA-Z][-a-zA-Z0-9]*)"
    # attr names lowercase-only, so they need no lowercasing either
    r"((?:\s+[a-z_:][-a-z0-9_:.]*=\"[^\"<>&]*\")*)"
    r"\s*(/?)>")
_SIMPLE_ATTR = re.compile(r"([^\s=]+)=\"([^\"]*)\"")
_SIMPLE_END = re.compile(r"</([a-zA-Z][-.a-zA-Z0-9:_]*)>")


def _starttag(html: str, i: int, n: int, sink) -> int:
    """Mirror of parse_starttag + check_for_whole_start_tag.
    Returns the new position, or -1 if the tag is incomplete at EOF."""
    j = _LOCATE_START.match(html, i).end()
    nxt = html[j:j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/":
        if html.startswith("/>", j):
            endpos = j + 2
        else:
            return -1
    elif nxt == "":
        return -1
    elif nxt in _ASCII_ALPHA_EQ_SLASH:
        return -1
    else:
        endpos = j if j > i else i + 1
    tm = _TAGFIND.match(html, i + 1)
    k = tm.end()
    tag = tm.group(1).lower()
    attrs: list[tuple[str, str | None]] = []
    while k < endpos:
        am = _ATTRFIND.match(html, k)
        if not am:
            break
        name, rest, val = am.group(1, 2, 3)
        if not rest:
            val = None
        elif val[:1] == "'" == val[-1:] or val[:1] == '"' == val[-1:]:
            val = val[1:-1]
        if val:
            val = unescape(val)
        attrs.append((name.lower(), val))
        k = am.end()
    end = html[k:endpos].strip()
    if end not in (">", "/>"):
        sink.handle_data(html[i:endpos])  # junk tag: raw, NOT unescaped
        return endpos
    if end.endswith("/>"):
        sink.handle_startendtag(tag, attrs)
    else:
        sink.handle_starttag(tag, attrs)
        if tag in _CDATA_CLOSE:
            return _cdata(html, endpos, n, sink, tag)
    return endpos


def _cdata(html: str, pos: int, n: int, sink, elem: str) -> int:
    """Raw-text mode: the body up to the strict close is one raw data
    event, then the end tag; with no close, EOF swallows the rest."""
    cm = _CDATA_CLOSE[elem].search(html, pos)
    if cm is None:
        return n
    if cm.start() > pos:
        sink.handle_data(html[pos:cm.start()])
    sink.handle_endtag(elem)
    return cm.end()


def _endtag(html: str, i: int, n: int, sink) -> int:
    """Mirror of parse_endtag (outside cdata mode).
    Returns new position, or -1 if incomplete at EOF."""
    gt = html.find(">", i + 1)
    if gt < 0:
        return -1
    gtpos = gt + 1
    em = _ENDTAG_STRICT.match(html, i)
    if em:
        sink.handle_endtag(em.group(1).lower())
        return gtpos
    nm = _TAGFIND.match(html, i + 2)
    if not nm:
        if html[i:i + 3] == "</>":
            return i + 3
        return gtpos  # bogus comment '</...>': consumed silently
    sink.handle_endtag(nm.group(1).lower())
    gt = html.find(">", nm.end())
    return (gt + 1) if gt >= 0 else n


def scan(html: str, sink) -> None:
    """Tokenize ``html`` into ``sink``'s html.parser callbacks under the
    module-docstring contract."""
    pos = 0
    n = len(html)
    find = html.find
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            sink.handle_data(unescape(html[pos:]))
            return
        if lt > pos:
            sink.handle_data(unescape(html[pos:lt]))
        c = html[lt + 1] if lt + 1 < n else ""
        k = -1
        if "a" <= c <= "z" or "A" <= c <= "Z":
            sm = _SIMPLE_START.match(html, lt)
            if sm:
                tag, attrstr, selfclose = sm.group(1, 2, 3)
                tag = tag.lower()
                attrs = _SIMPLE_ATTR.findall(attrstr) if attrstr else []
                if selfclose:
                    sink.handle_startendtag(tag, attrs)
                    k = sm.end()
                else:
                    sink.handle_starttag(tag, attrs)
                    k = (_cdata(html, sm.end(), n, sink, tag)
                         if tag in _CDATA_CLOSE else sm.end())
            else:
                k = _starttag(html, lt, n, sink)
        elif c == "/":
            em = _SIMPLE_END.match(html, lt)
            if em:
                sink.handle_endtag(em.group(1).lower())
                k = em.end()
            else:
                k = _endtag(html, lt, n, sink)
        elif html.startswith("<!--", lt):
            cm = _COMMENT_CLOSE.search(html, lt + 4)
            k = cm.end() if cm else -1       # comment consumed silently
        elif html.startswith("<![", lt):
            # marked section (<![CDATA[..]]>, MS Office <![if..]>); the
            # stdlib raises on unknown keywords — parity includes that
            nm = _DECLNAME.match(html, lt + 3)
            if lt + 3 == n or (nm and nm.end() == n):
                k = -1                       # name runs to EOF: incomplete
            elif nm is None:
                # stdlib's _scan_name raises here; failing identically IS
                # the parity contract (caller maps it to the error envelope)
                raise AssertionError(
                    "expected name token at %r" % html[lt:lt + 20])
            else:
                name = nm.group().lower().strip()
                if name in ("temp", "cdata", "ignore", "include", "rcdata"):
                    mm = _MARKED_CLOSE.search(html, lt + 3)
                elif name in ("if", "else", "endif"):
                    mm = _MS_MARKED_CLOSE.search(html, lt + 3)
                else:
                    raise AssertionError(
                        "unknown status keyword %r in marked section"
                        % html[lt + 3:nm.end()])
                k = mm.end() if mm else -1   # consumed silently
        elif c in "!?":
            gt = find(">", lt + 1)
            k = (gt + 1) if gt >= 0 else -1  # decl / PI consumed silently
        else:
            sink.handle_data("<")           # literal '<': its own event
            pos = lt + 1
            continue
        if k < 0:
            # incomplete construct at EOF: html.parser's close() recovery —
            # data up to and including the next '>', else to the next '<',
            # else one char, then resume
            gt = find(">", lt + 1)
            if gt >= 0:
                k = gt + 1
            else:
                nxt = find("<", lt + 1)
                k = nxt if nxt >= 0 else lt + 1
            sink.handle_data(unescape(html[lt:k]))
        pos = k
