"""The shared page loop and collector helpers of the structured kernels.

The head-metadata, table, microdata, feed, code-block and heading
kernels (operators/pagemeta, tablex, microdata, feeds, codeblocks,
outline) are collectors of html.parser's callbacks
(``handle_starttag``/``handle_startendtag``/``handle_endtag``/
``handle_data``), driven by the package's one tokenizer,
``extract/fast_scanner.scan`` — its module docstring states the event
contract. The independent html.parser collectors in
tools/make_driver_fixtures.py and the differential fuzzers in
tests/test_fuzz_scanners.py check each kernel against the stdlib.

Spark-free: ``map_pages`` sits on ``functions/spark_udfs.map_rows`` (the
package's one Arrow row loop) and ``augment_pages`` calls ``mapInPandas``
on the DataFrame it is given, so the collectors stay unit-testable
without a JVM.
"""

from __future__ import annotations

from collections.abc import Callable

from ocr_platform_spark.extract import fast_scanner


def collect(text: str, collector):
    """Drive ``collector`` over ``text`` and return it. The scanner's
    html.parser-parity ``AssertionError`` (an unknown marked-section
    keyword such as ``<![bogus[``) ends the document here: the rows
    collected so far stand, and no page fails its task."""
    try:
        fast_scanner.scan(text, collector)
    except AssertionError:
        pass
    return collector


def first_wins(attrs: list) -> dict:
    """An attrs list as a dict in which the first occurrence of a name
    wins (the WHATWG rule for duplicate attributes)."""
    return dict(reversed(attrs))


def map_pages(pages, scan: Callable[[str], list], schema,
              col: str = "html"):
    """A row ``(url, *t)`` for every tuple ``t`` that ``scan`` returns for
    the decoded ``col`` payload, in one ``map_rows`` pass over
    ``(url, col)``. A null payload scans as ''."""
    from ocr_platform_spark.functions.spark_udfs import map_rows

    def rows(u, h):
        text = "" if h is None else bytes(h).decode("utf-8", "replace")
        return [(u, *t) for t in scan(text)]

    return map_rows(pages, ["url", col], rows, schema)


def inject_after(html: bytes | None, tag: str,
                 block: str) -> bytes | None:
    """``html`` with ``block`` inserted right after the first ``tag``.
    Payloads without that tag (empty/garbage rows) pass through
    untouched, so the error envelope stays live downstream."""
    if html is None:
        return None
    text = bytes(html).decode("utf-8", "replace")
    if tag not in text:
        return html
    return text.replace(tag, tag + block, 1).encode("utf-8")


def augment_pages(pages, augment: Callable[[str, bytes | None],
                                           bytes | None]):
    """``pages`` with every ``html`` payload replaced by
    ``augment(url, html)``: the one pass behind the synthetic test pages
    of the metadata, table and microdata kernels (pagemeta.augment_html,
    tablex.augment_html_tables, microdata.augment_html_micro)."""
    cols = pages.columns

    def gen(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["html"] = [augment(u, h)
                           for u, h in zip(pdf["url"], pdf["html"])]
            yield pdf

    return pages.mapInPandas(gen, schema=pages.schema).select(cols)
