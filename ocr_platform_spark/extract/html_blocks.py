"""DOM → flat block model, a sink of html.parser's callbacks.

The reference recovers document structure with an LLM pass whose contract is
"add structure tags, never alter text" (ref: apps/queue/src/pipeline/
convert-to-html.ts:3-18). We recover the same structure deterministically:
parse the HTML byte stream into a flat, document-ordered list of *blocks*
(the classic boilerpipe/trafilatura unit), each carrying the features the
classifier needs — text, link-character count, tag path, class hints.

No Spark imports. Pure function of the input string.
"""

from __future__ import annotations

from dataclasses import dataclass
from html.parser import HTMLParser

from ocr_platform_spark.extract.fast_scanner import scan

# Tags that open a new text block. Everything else (span, a, b, i, sup, ...)
# is inline and accumulates into the enclosing block.
BLOCK_TAGS = frozenset(
    {
        "p", "h1", "h2", "h3", "h4", "h5", "h6",
        "li", "dt", "dd", "td", "th", "caption",
        "blockquote", "pre", "figcaption",
        "title", "header", "footer", "article", "section",
        "aside", "nav", "main", "div", "center",
        "table", "ul", "ol", "dl", "tr", "form", "body",
    }
)

# Content inside these is never text (dropped at parse time). All of them
# REQUIRE their end tag, so a depth counter is safe. textarea is RCDATA
# form STATE, not prose (real pages prefill them with arbitrary text);
# canvas fallbacks are widget chrome too.
IGNORED_CONTENT_TAGS = frozenset({
    "script", "style", "noscript", "template", "svg", "iframe",
    "textarea", "canvas"})

# Form-widget chrome whose end tags are OMISSIBLE per the spec
# (</option>/</optgroup> before a sibling or the parent's end; real pages
# overwhelmingly write <option>A<option>B). Depth-counting these like the
# set above would let ONE unclosed <option> raise the ignore depth
# permanently and silently drop the entire rest of the document. Instead:
# <select> is a counter RECOVERED by any block-level tag (block content is
# invalid inside a select, so its appearance proves the widget is over),
# and option/optgroup suppress TEXT only, until the next tag event (their
# content model is text-only).
_SELECT_TAG = "select"
_OPTION_TAGS = frozenset({"option", "optgroup"})
_WIDGET_TAGS = frozenset({"select", "option", "optgroup"})

# Self-closing / void tags that force a block break without opening one.
BREAK_TAGS = frozenset({"br", "hr"})

_HEADLINE_TAGS = frozenset(
    {"h1", "h2", "h3", "h4", "h5", "h6", "title", "header"})

# Path/classes features only look this many ancestors up. Bounds per-block
# feature construction to O(1) — unbounded, a poison-pill document of 100k
# nested divs turns the parse quadratic (measured 4s at depth 20k).
MAX_PATH_DEPTH = 32


def _collapse_ws(s: str) -> str:
    """Canonical whitespace: any run of whitespace → one space, trimmed.
    ``" ".join(s.split())`` ≡ ``re.sub(r"\\s+", " ", s).strip()`` (both use
    the Unicode whitespace set) but runs at C speed — this is the hottest
    string op in the parse sink."""
    return " ".join(s.split())


@dataclass(slots=True)
class Block:
    """One document-ordered text block with classifier features."""

    block_id: int
    tag: str                      # block-level tag that opened it
    path: str                     # '/'-joined open-tag stack at open time
    classes: str                  # space-joined class attrs on the path
    text: str = ""                # whitespace-canonical text
    total_chars: int = 0          # chars of canonical text
    link_chars: int = 0           # chars of canonical text inside <a>
    n_words: int = 0              # rough word count (split on space)
    headline: bool = False        # h1-h6 / title / header
    sup_marks: int = 0            # count of <sup> elements seen in the block

    @property
    def link_density(self) -> float:
        return self.link_chars / self.total_chars if self.total_chars else 0.0


class _BlockParser(HTMLParser):
    """Streaming HTML → Block list. Tolerates malformed/truncated HTML the
    way browsers do: unclosed tags are fine; stray end-tags are ignored."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._stack: list[str] = []
        self._class_stack: list[str] = []
        self._open_counts: dict[str, int] = {}  # O(1) membership for endtag
        self._ignore_depth = 0
        self._select_depth = 0        # open <select> widgets (recoverable)
        self._option_ignore = False   # inside an <option>'s text-only span
        self._anchor_depth = 0
        self._parts: list[str] = []       # raw text fragments of open block
        self._link_parts: list[str] = []  # the subset appended inside <a>
        self._open: Block | None = None
        # Incrementally-maintained joins of the stacks, valid only while
        # depth <= MAX_PATH_DEPTH (deeper, the strings would grow unbounded
        # and re-introduce the poison-pill quadratic the cap exists to stop).
        # None = stale; _begin recomputes and re-seeds when depth is back in
        # range. Blocks open far more often than the stacks change shape, so
        # this turns two O(depth) joins per block into O(1) amortized.
        self._path_cache: str | None = ""
        self._classes_cache: str | None = ""

    # -- block lifecycle -------------------------------------------------
    def _flush(self) -> None:
        blk = self._open
        if blk is None or not self._parts:
            # nothing accumulated: skip the join/collapse entirely (most
            # flushes — every block start/end triggers one)
            self._open = None
            if self._parts:
                self._parts.clear()
                self._link_parts.clear()
            return
        raw = "".join(self._parts)
        text = _collapse_ws(raw)
        if text:
            blk.text = text
            blk.total_chars = len(text)
            # link chars: canonicalize the linked fragments the same way,
            # then cap at total (joining can only shrink whitespace).
            if self._link_parts:
                linked = _collapse_ws("".join(self._link_parts))
                blk.link_chars = min(len(linked), blk.total_chars)
            blk.n_words = text.count(" ") + 1
            self.blocks.append(blk)
        self._open = None
        self._parts.clear()
        self._link_parts.clear()

    def _begin(self, tag: str) -> None:
        self._flush()
        stack = self._stack
        if len(stack) > MAX_PATH_DEPTH:
            path = "/".join(stack[-MAX_PATH_DEPTH:])
            classes = " ".join(
                c for c in self._class_stack[-MAX_PATH_DEPTH:] if c)
        else:
            path = self._path_cache
            if path is None:
                path = self._path_cache = "/".join(stack)
            classes = self._classes_cache
            if classes is None:
                classes = self._classes_cache = " ".join(
                    c for c in self._class_stack if c)
        self._open = Block(
            block_id=len(self.blocks),
            tag=tag,
            path=path,
            classes=classes,
            headline=tag in _HEADLINE_TAGS,
        )

    # -- parser callbacks -------------------------------------------------
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in IGNORED_CONTENT_TAGS:
            self._flush()
            self._ignore_depth += 1
            return
        if self._ignore_depth:
            return
        if tag in _WIDGET_TAGS:
            self._flush()
            if tag == _SELECT_TAG:
                self._select_depth += 1
                self._option_ignore = False
            else:
                self._option_ignore = True
            return
        # any other tag ends an option's text-only content (its end tag is
        # omissible; the next tag event is the implicit close)
        if self._option_ignore:
            self._option_ignore = False
        if self._select_depth:
            if tag in BLOCK_TAGS:
                # block content is invalid inside <select>: browser-style
                # recovery for an unclosed widget — close it, keep the tag
                self._select_depth = 0
            else:
                return  # inline junk inside the widget stays chrome
        if tag in BREAK_TAGS:
            # <br>/<hr> are whitespace inside the block, not a new block
            self._parts.append(" ")
            if self._anchor_depth:
                self._link_parts.append(" ")
            return
        cls = ""
        for k, v in attrs:
            if k == "class" and v:
                cls = _collapse_ws(v)
        if tag == "a":
            self._anchor_depth += 1
        if tag in BLOCK_TAGS:
            self._stack.append(tag)
            self._class_stack.append(cls)
            if len(self._stack) <= MAX_PATH_DEPTH:
                pc = self._path_cache
                if pc is not None:
                    self._path_cache = pc + "/" + tag if pc else tag
                if cls:
                    cc = self._classes_cache
                    if cc is not None:
                        self._classes_cache = cc + " " + cls if cc else cls
            else:
                self._path_cache = None
                self._classes_cache = None
            self._open_counts[tag] = self._open_counts.get(tag, 0) + 1
            self._begin(tag)
        # inline tags: nothing to track beyond <a>/<sup>
        elif tag == "sup" and self._open is not None:
            self._open.sup_marks += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in IGNORED_CONTENT_TAGS:
            if self._ignore_depth:
                self._ignore_depth -= 1
            return
        if self._ignore_depth:
            return
        if tag in _WIDGET_TAGS:
            if tag == _SELECT_TAG and self._select_depth:
                self._select_depth -= 1
            self._option_ignore = False
            return
        if self._option_ignore:
            self._option_ignore = False
        if self._select_depth:
            if tag in BLOCK_TAGS:
                # an enclosing block closing while the select is open
                # proves the select was unclosed: recover, process the tag
                self._select_depth = 0
            else:
                return
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
            return
        if tag in BLOCK_TAGS:
            self._flush()
            # pop to the matching open tag if present (tolerant matching);
            # the counter dict makes the membership probe O(1)
            if self._open_counts.get(tag, 0) > 0:
                while self._stack:
                    popped = self._stack.pop()
                    popped_cls = self._class_stack.pop()
                    self._open_counts[popped] -= 1
                    pc = self._path_cache
                    if pc is not None:
                        i = pc.rfind("/")
                        self._path_cache = pc[:i] if i >= 0 else ""
                    if popped_cls:
                        cc = self._classes_cache
                        if cc is not None:
                            self._classes_cache = (
                                cc[:-(len(popped_cls) + 1)]
                                if len(cc) > len(popped_cls) else "")
                    if popped == tag:
                        break

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if self._ignore_depth:
            return
        if self._option_ignore:
            self._option_ignore = False
        if self._select_depth:
            return
        if tag in BREAK_TAGS:
            self._parts.append(" ")
            if self._anchor_depth:
                self._link_parts.append(" ")

    def handle_data(self, data: str) -> None:
        if (self._ignore_depth or self._select_depth or self._option_ignore
                or not data):
            return
        if self._open is None:
            # text outside any block tag (common in fragment/malformed HTML)
            self._begin("body")
        self._parts.append(data)
        if self._anchor_depth:
            self._link_parts.append(data)

    def close(self) -> None:  # flush trailing open block
        super().close()
        self._flush()


def parse_blocks(html: str) -> list[Block]:
    """Parse an HTML string into document-ordered blocks.

    Drives the ``_BlockParser`` callbacks from the package's one tokenizer
    (extract/fast_scanner.py; its module docstring states the event
    contract) — ~2x the throughput of stdlib html.parser dispatch.
    tests/test_fast_scanner.py asserts that the html.parser drive of the
    same parser gives identical blocks over the corpus, goldens, and
    malformed edges.

    Never raises on malformed input: the scanner is recovery-oriented; any
    residual exception is treated as "no blocks" by the caller (pipeline.py
    maps that to the CONVERT_TO_HTML error envelope, mirroring the staged
    failure routing of ref apps/queue/src/pipeline/index.ts:60-104).
    """
    p = _BlockParser()
    scan(html, p)
    p._flush()
    # re-number after filtering empties (flush only appends non-empty)
    for i, b in enumerate(p.blocks):
        b.block_id = i
    return p.blocks
