"""WHATWG-style charset sniffing for crawl payloads.

Real Common-Crawl HTML is far from all-UTF-8: legacy pages declare (or
silently use) windows-125x / ISO-8859-x / UTF-16 families. The reference
pipeline never faces this (its inputs arrive transcoded through the OCR
service, apps/queue/src/lib/ocr.ts), but a from-crawl extraction engine
must sniff before decoding or non-UTF-8 pages silently mojibake through
the boilerplate classifier.

Deterministic subset of the WHATWG encoding sniffing algorithm
(https://html.spec.whatwg.org/multipage/parsing.html#determining-the-character-encoding),
stdlib-only, in priority order:

1. byte-order mark (UTF-8 / UTF-16 / UTF-32, 32 checked first — a
   UTF-32-LE BOM starts with the UTF-16-LE BOM bytes);
2. ``<meta charset=...>`` / ``<meta http-equiv=content-type ...>`` label in
   the first 1024 bytes (the spec's prescan window), with the spec's
   compatibility mappings (latin-1/ascii family -> windows-1252; a
   UTF-16/32 *label* is treated as UTF-8 — content whose prescan is
   ASCII-readable cannot actually be UTF-16);
3. strict UTF-8 (the happy path — bit-identical with the engine's
   pre-sniffing behavior for the all-UTF-8 synthetic corpus);
4. windows-1252 with replacement — the web's de-facto fallback.

Pure function of the byte payload; never raises. Used by
``extract/pipeline.py`` (stage CORRECT) and ``extract/links.py``. The
meta prescan is the one read of markup that comes BEFORE decoding, so
it keeps the spec's own byte-level prescan grammar; every read of the
decoded text goes through the package's one tokenizer,
``extract/fast_scanner.scan`` (its module docstring states the
contract).

The transport-layer charset (the HTTP ``Content-Type`` header a WARC
capture carries, ranked between BOM and meta by the spec) is an OPTIONAL
argument: the pages-table contract (BASELINE.json input_hint fixes the
schema at (url, warc_ts, html, text, lang); north-rule invariant is
byte-identical extracted text per (url, html)) means the default call is
a pure function of the payload, while the WARC ingest path — which has
the header in hand (sources/warc.py parses the HTTP head) — passes the
label through so header-only-labeled legacy pages decode correctly
instead of falling through to the cp1252 guess.
"""

from __future__ import annotations

import codecs
import re

# order matters: UTF-32 BOMs embed UTF-16 BOMs as prefixes
_BOMS: list[tuple[bytes, str]] = [
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF8, "utf-8"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
]

_PRESCAN_BYTES = 1024

_META_TAG_RE = re.compile(rb"<meta\b[^>]{0,500}>", re.IGNORECASE | re.DOTALL)
_CHARSET_RE = re.compile(
    rb"charset\s*=\s*[\"']?\s*([a-zA-Z0-9][a-zA-Z0-9._:-]{0,39})",
    re.IGNORECASE)
# simplified WHATWG "get an attribute": name, optional ="..."/'...'/bare.
# An unquoted value runs to whitespace or '>' per the prescan — '/' and ';'
# are ordinary value bytes, so content=text/html;charset=x tokenizes as ONE
# content value (a '/'-terminated class here would strand ';charset=x' as a
# fake bare charset attribute and label pages that carry no http-equiv).
_ATTR_RE = re.compile(
    rb"([a-zA-Z][a-zA-Z0-9-]*)\s*(?:=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?")


def _tag_charset_label(tag: bytes) -> bytes | None:
    """Charset label of one <meta> tag per the WHATWG prescan rules: a bare
    ``charset`` attribute, or ``charset=`` inside ``content=`` only when the
    SAME tag carries ``http-equiv=content-type``. A ``charset=`` inside any
    other attribute (e.g. a description mentioning one) must NOT label the
    page (ADVICE round 3). First occurrence of a duplicate attribute wins,
    as in the spec."""
    attrs: dict[bytes, bytes] = {}
    for m in _ATTR_RE.finditer(tag, 5):  # 5 = len(b"<meta")
        val = m.group(2) or b""
        attrs.setdefault(m.group(1).lower(), val.strip(b"\"'"))
    label = attrs.get(b"charset")
    if label:
        m = _CHARSET_RE.match(b"charset=" + label)
        return m.group(1) if m else None
    if attrs.get(b"http-equiv", b"").strip().lower() == b"content-type":
        content = attrs.get(b"content")
        if content:
            m = _CHARSET_RE.search(content)
            if m:
                return m.group(1)
    return None

# WHATWG compatibility aliases (the subset that changes stdlib behavior);
# everything else resolves through codecs.lookup's own alias table.
_LABEL_ALIASES = {
    "iso-8859-1": "windows-1252",
    "iso8859-1": "windows-1252",
    "latin1": "windows-1252",
    "latin-1": "windows-1252",
    "us-ascii": "windows-1252",
    "ascii": "windows-1252",
    "iso-8859-9": "windows-1254",
    "x-user-defined": "windows-1252",
}

_UTF8_NAMES = {"utf-8", "utf8", "utf-8-sig"}


def _resolve_label(label: bytes | str, transport: bool = False) -> str | None:
    if isinstance(label, bytes):
        label = label.decode("ascii", errors="replace")
    name = label.strip().lower()
    name = _LABEL_ALIASES.get(name, name)
    try:
        info = codecs.lookup(name)
    except LookupError:
        return None
    # codecs.lookup also resolves non-text codecs (hex, rot13, zlib, ...):
    # a hostile <meta charset="hex"> must fall through to sniffing, not
    # blow up bytes.decode with a LookupError
    if not getattr(info, "_is_text_encoding", True):
        return None
    canonical = info.name
    if canonical.startswith(("utf-16", "utf-32")):
        if transport:
            # the HTTP header is authoritative as-is (WHATWG returns the
            # transport encoding with confidence "certain"); pin the
            # endianness the encoding spec assigns to the bare labels so
            # BOM-less payloads decode deterministically
            return canonical + ("-le" if canonical in ("utf-16", "utf-32")
                                else "")
        # a meta-declared UTF-16/32 is a lie if the prescan could read it;
        # the spec maps these IN-DOCUMENT labels to UTF-8
        return "utf-8"
    return canonical


def transport_label_from_content_type(content_type: str | None) -> str | None:
    """Extract the charset parameter from an HTTP ``Content-Type`` value
    (the transport-layer label a WARC capture carries). Returns the raw
    label or None; resolution/validation happens at decode time."""
    if not content_type:
        return None
    m = _CHARSET_RE.search(content_type.encode("ascii", errors="replace"))
    return m.group(1).decode("ascii") if m else None


def sniff_charset(html: bytes,
                  transport_label: str | None = None) -> tuple[str | None, bool]:
    """Return ``(encoding, had_bom)``; encoding is None when nothing is
    declared (caller falls through to strict-UTF-8 then windows-1252).

    ``transport_label`` is the HTTP Content-Type charset parameter when the
    caller has one in hand (the WARC ingest path does); the WHATWG order is
    BOM > transport > meta prescan. Without it the function stays a pure
    function of the payload — the pages-table contract."""
    for bom, enc in _BOMS:
        if html.startswith(bom):
            return enc, True
    if transport_label:
        enc = _resolve_label(transport_label, transport=True)
        if enc is not None:
            return enc, False
    head = html[:_PRESCAN_BYTES]
    for tag in _META_TAG_RE.finditer(head):
        label = _tag_charset_label(tag.group(0))
        if label:
            enc = _resolve_label(label)
            if enc is not None:
                return enc, False
    return None, False


def decode_html(html: bytes,
                transport_label: str | None = None) -> tuple[str, str]:
    """Decode a crawl payload to text. Never raises.

    Returns ``(text, encoding_used)``; the BOM (when present) is consumed,
    not emitted into the text. ``transport_label`` (optional) is the HTTP
    header charset — see ``sniff_charset`` for the priority order.
    """
    enc, had_bom = sniff_charset(html, transport_label)
    if had_bom:
        body = html[len({
            "utf-8": codecs.BOM_UTF8,
            "utf-16-le": codecs.BOM_UTF16_LE,
            "utf-16-be": codecs.BOM_UTF16_BE,
            "utf-32-le": codecs.BOM_UTF32_LE,
            "utf-32-be": codecs.BOM_UTF32_BE,
        }[enc]):]
        return body.decode(enc, errors="replace"), enc
    if enc is not None and enc not in _UTF8_NAMES:
        try:
            # a few exotic-but-text codecs (e.g. punycode) don't honor
            # errors="replace" on all inputs — never let a declared label
            # break the never-raise contract
            return html.decode(enc, errors="replace"), enc
        except Exception:
            pass
    try:
        return html.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        pass
    if enc in _UTF8_NAMES:
        # declared utf-8 but invalid: honor the declaration leniently
        # (bit-identical with the engine's pre-sniffing fallback)
        return html.decode("utf-8", errors="replace"), "utf-8"
    return html.decode("windows-1252", errors="replace"), "cp1252"
