"""Pages for the structured-extraction workload.

Each page carries what the six structured kernels look for: head metadata
(title, OpenGraph, canonical link, JSON-LD), a heading outline, tables,
schema.org microdata, code blocks and anchors of every kind. A page is a
pure function of (seed, index). About 1% of rows are empty and 1% are cut
short mid-tag, so the kernels' never-drop paths run too.

This generator belongs to the benchmark on purpose: the operator modules'
own fixture helpers may move or change, and the workload must not change
with them.
"""

from __future__ import annotations

import random

HOSTS = ["docs.example.org", "shop.example.com", "news.example.net",
         "wiki.example.edu", "code.example.io"]
WORDS = ("data engine spark arrow batch table column row index page "
         "parse token stream query plan stage task shuffle write read "
         "cache merge split join filter scan kernel byte text").split()
LANGS = ["python", "rust", "sql", "js", "c", None]
ITEM_TYPES = ["Product", "Article", "Book", "Person", "Event"]


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _head(rng: random.Random, url: str, title: str) -> str:
    parts = [f"<title>{title}</title>",
             '<meta charset="utf-8">',
             f'<meta name="description" content="{_words(rng, 12)}">']
    if rng.random() < 0.8:
        parts.append(f'<meta property="og:title" content="{title}">')
    if rng.random() < 0.7:
        parts.append('<meta property="og:type" content="'
                     f'{rng.choice(["article", "website", "product"])}">')
    if rng.random() < 0.6:
        parts.append(f'<link rel="canonical" href="{url}">')
    if rng.random() < 0.4:
        parts.append('<script type="application/ld+json">{"@type": "'
                     f'{rng.choice(ITEM_TYPES)}", "name": "{title}"}}'
                     "</script>")
    parts.append("<style>td{padding:2px}</style>")
    return "".join(parts)


def _table(rng: random.Random) -> str:
    n_rows, n_cols = rng.randint(2, 8), rng.randint(2, 5)
    head = "".join(f"<th>{_words(rng, 2)}</th>" for _ in range(n_cols))
    rows = "".join(
        "<tr>" + "".join(f"<td>{_words(rng, rng.randint(1, 4))}</td>"
                         for _ in range(n_cols)) + "</tr>"
        for _ in range(n_rows))
    return f"<table><thead><tr>{head}</tr></thead><tbody>{rows}</tbody></table>"


def _item(rng: random.Random, i: int) -> str:
    typ = rng.choice(ITEM_TYPES)
    props = [f'<span itemprop="name">{_words(rng, 3)}</span>',
             f'<meta itemprop="sku" content="s-{i}-{rng.randint(0, 999)}">',
             f'<a itemprop="url" href="/item/{i}">{_words(rng, 2)}</a>']
    if rng.random() < 0.5:
        props.append('<time itemprop="date" datetime="2024-0'
                     f'{rng.randint(1, 9)}-1{rng.randint(0, 9)}">then</time>')
    if rng.random() < 0.3:
        props.append('<div itemprop="offer" itemscope '
                     'itemtype="https://schema.org/Offer">'
                     f'<span itemprop="price">{rng.randint(1, 99)}.99</span>'
                     "</div>")
    return (f'<div itemscope itemtype="https://schema.org/{typ}">'
            + "".join(props) + "</div>")


def _code(rng: random.Random) -> str:
    lang = rng.choice(LANGS)
    lines = "\n".join(f"{rng.choice(WORDS)} = {rng.choice(WORDS)}"
                      f"({rng.randint(0, 99)})"
                      for _ in range(rng.randint(2, 12)))
    if lang is None:
        return f"<pre>{lines}</pre>"
    if rng.random() < 0.5:
        return f'<pre class="language-{lang}">{lines}</pre>'
    return f'<pre><code class="lang-{lang}">{lines}</code></pre>'


def gen_page(index: int, seed: int) -> tuple[str, bytes]:
    """(url, html bytes) of structured page ``index``."""
    rng = random.Random((seed << 32) ^ index ^ 0x5EED)
    host = rng.choice(HOSTS)
    url = f"https://{host}/p/{index // 40}/{index}"
    title = _words(rng, rng.randint(2, 6)).title()
    nav = "".join(f'<a href="/{w}">{w}</a>' for w in rng.sample(WORDS, 6))
    body = [f"<nav>{nav}</nav>", f"<h1>{title}</h1>"]
    for s in range(rng.randint(2, 6)):
        lvl = rng.randint(2, 4)
        body.append(f"<h{lvl}>{_words(rng, 3)}</h{lvl}>")
        for _ in range(rng.randint(1, 3)):
            link = ""
            if rng.random() < 0.6:
                tgt = (f"https://{rng.choice(HOSTS)}/p/{rng.randint(0, 99)}"
                       if rng.random() < 0.5 else f"/p/{s}/{rng.randint(0, 999)}")
                link = f' <a href="{tgt}">{_words(rng, 2)}</a>'
            body.append(f"<p>{_words(rng, rng.randint(20, 80))}{link}</p>")
        r = rng.random()
        if r < 0.35:
            body.append(_table(rng))
        elif r < 0.6:
            body.append(_item(rng, index * 8 + s))
        elif r < 0.85:
            body.append(_code(rng))
    body.append('<footer><a href="/terms">terms</a> '
                '<a href="mailto:team@example.org">mail</a> '
                '<a href="#top">top</a></footer>')
    html = ("<!DOCTYPE html><html><head>" + _head(rng, url, title)
            + "</head><body>" + "".join(body) + "</body></html>")
    r = rng.random()
    if r < 0.01:
        html = ""
    elif r < 0.02:
        html = html[: len(html) // 2]
    return url, html.encode("utf-8")
