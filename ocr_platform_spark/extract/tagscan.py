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
package's one Arrow row loop), so the collectors stay unit-testable
without a JVM. The synthetic pages the kernels' queries read are
generated in ``datagen``.
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
