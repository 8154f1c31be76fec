"""The shared tag-event driver (extract/tagscan.py): event order and
the comment/CDATA/unescape rules every structured kernel relies on."""

from __future__ import annotations

from ocr_platform_spark.extract.tagscan import attr_map, scan_tags


class _Events:
    def __init__(self) -> None:
        self.ev: list[tuple] = []

    def start(self, tag, attrs, selfclosed):
        self.ev.append(("start", tag, attrs, selfclosed))

    def end(self, tag):
        self.ev.append(("end", tag))

    def data(self, text):
        self.ev.append(("data", text))


def _events(doc: str) -> list[tuple]:
    sink = _Events()
    scan_tags(doc, sink)
    return sink.ev


def test_tags_data_and_per_segment_unescape():
    assert _events('a&amp;<B class="x > y">b&am</b>p;<br/>tail') == [
        ("data", "a&"), ("start", "b", ' class="x > y"', False),
        ("data", "b&am"), ("end", "b"), ("data", "p;"),
        ("start", "br", "/", True)]


def test_comments_are_invisible_outside_cdata():
    assert _events("x<!-- <p>ghost</p> -->y<p>") == [
        ("data", "x"), ("data", "y"), ("start", "p", "", False)]
    # an unterminated comment ends the scan
    assert _events("<p>a<!-- <i>") == [
        ("start", "p", "", False), ("data", "a")]


def test_cdata_body_is_one_raw_data_event():
    assert _events("<script>a &amp; <!-- <p> --></scripty></script >z<i>") \
        == [("start", "script", "", False),
            ("data", "a &amp; <!-- <p> --></scripty>"),
            ("end", "script"), ("data", "z"), ("start", "i", "", False)]
    # self-closed: no CDATA body; unterminated: start, then nothing
    assert _events("<style/>&lt;<i>") == [
        ("start", "style", "/", True), ("data", "<"),
        ("start", "i", "", False)]
    assert _events("<style>p{}") == [("start", "style", "", False)]


def test_attr_map_first_wins_lowercased():
    assert attr_map(' A="1" a=\'2\' b=3 c') == {"a": "1", "b": "3",
                                               "c": None}
