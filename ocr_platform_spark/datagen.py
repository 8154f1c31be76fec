"""Deterministic synthetic Common-Crawl-style page generator.

Shape per BASELINE.json → input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Every document is a pure function of ``(seed, doc_index)`` — generating doc i
on the driver, in a pandas UDF on executor 7, or twice in a row yields the
same bytes. That property is what lets the golden tests and the two-
parallelism bench run over "the same input" without materializing 100 TB.

Structure grammar follows FIXTURES.md §1.1 (mirroring the reference's
segmented-page contract, apps/queue/src/pipeline/segment.ts:4-24 and golden
sample apps/web/output.json): optional header, 1-8 body paragraphs with
headings and (1)/1./1) footnote markers, optional footnote block, optional
page number in Western or Eastern-Arabic digits, plus boilerplate chrome
(nav/sidebar/footer/script) for the classifier to strip, and ~2% malformed
documents to exercise the error envelope.

This module is the one place the package's synthetic inputs are defined:
the pages and media tables, the adversarial pages, and the corpora of the
structured-extraction kernels (FIXTURES.md §5 maps each to its queries).
``sources/pages.generated_df`` turns any of them into a DataFrame.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import random
import re

# Zipf-skewed domain pool: first domains get most urls AND bigger pages —
# exercises the salted-skew repartition path (SURVEY.md §4.2.1).
DOMAINS = [
    "archive.example.org", "books.example.net", "maktaba.example.com",
    "turath.example.org", "library.example.edu", "nusus.example.net",
    "qadim.example.com", "falsafa.example.org", "hadith.example.net",
    "shamela.example.info", "adab.example.com", "tarikh.example.org",
]
# weight ~ 1/rank (Zipf s=1); hot domains also get a page-size multiplier
_DOMAIN_W = [1.0 / (i + 1) for i in range(len(DOMAINS))]
_W_SUM = sum(_DOMAIN_W)
_SIZE_BOOST = {0: 6, 1: 3, 2: 2}  # hot domains → larger html blobs (skew)

AR_WORDS = (
    "كتاب الصلاة باب وقت قال محمد بن الحسن أخبرنا مالك عن يزيد زياد مولى "
    "عبد الله رافع أم سلمة زوج النبي صلى عليه وسلم أبي هريرة أنه سأله فقال "
    "أنا أخبرك صل الظهر إذا كان ظلك مثلك والعصر مثليك والمغرب غربت الشمس "
    "تحقيقات وتعليقات على موطأ رواية ابن بكير وهو أظهر لكونها خمسة أوقات "
    "الصلوات المفروضة ونظرا لتكرارها كل يوم تصير كثيرة وكل من الجمعين يقوم "
    "مقام الآخر وفي كثير نسخ الموطأ الرمز وهي طريقة تغلب المحدثين مصنفاتهم "
    "العلم كما في تدريب الراوي النسخة بتحقيقنا مَكتَبةٌ عِلمِيَّةٌ قَديمةٌ"
).split()
EN_WORDS = (
    "the quick brown fox jumps over a lazy dog while scholars debate the "
    "provenance of early manuscripts and the transmission of knowledge "
    "across centuries of careful copying annotation and correction by "
    "generations of librarians working in candlelit rooms near the old "
    "market where paper and ink were sold at dawn every single day"
).split()
FA_WORDS = (
    "کتاب نماز باب وقت گفت محمد بن حسن خبر داد مالک از یزید بن زیاد "
    "دانش کتابخانه نسخه قدیمی تصحیح حاشیه نویسی علم منتقل شده است"
).split()
TR_WORDS = (
    "kitap namaz bab vakit dedi muhammed bin hasan haber verdi malik eski "
    "kütüphane nüsha ilim tashih hâşiye asırlar boyunca aktarılan bilgi"
).split()

LANG_BANKS = {"ar": AR_WORDS, "en": EN_WORDS, "fa": FA_WORDS, "tr": TR_WORDS}
# Arabic-heavy mix per FIXTURES.md §1 (reference corpus is Arabic books)
LANG_CHOICES = ["ar", "ar", "ar", "ar", "ar", "ar", "en", "en", "fa", "tr"]

EASTERN = "٠١٢٣٤٥٦٧٨٩"

NAV_LINKS = ["Home", "Books", "Authors", "Genres", "About", "Contact", "تسجيل", "الرئيسية"]
EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)


def _words(rng: random.Random, bank: list[str], n: int) -> str:
    return " ".join(rng.choice(bank) for _ in range(n))


def _to_eastern(n: int) -> str:
    return "".join(EASTERN[int(c)] for c in str(n))


def _pick_domain(rng: random.Random) -> tuple[str, int]:
    x = rng.random() * _W_SUM
    acc = 0.0
    for i, w in enumerate(_DOMAIN_W):
        acc += w
        if x <= acc:
            return DOMAINS[i], _SIZE_BOOST.get(i, 1)
    return DOMAINS[-1], 1


def gen_document(doc_index: int, seed: int = 42) -> dict:
    """Generate one synthetic page. Pure function of (seed, doc_index)."""
    rng = random.Random((seed << 32) ^ doc_index)
    domain, boost = _pick_domain(rng)
    lang = rng.choice(LANG_CHOICES)
    bank = LANG_BANKS[lang]
    url = f"https://{domain}/book/{doc_index // 50}/page/{doc_index % 50}"
    ts = EPOCH + _dt.timedelta(seconds=doc_index * 37)

    parts: list[str] = ["<html><head><title>Site Title</title>",
                        "<style>body{margin:0}</style>",
                        "<script>var x=1;</script></head><body>"]
    # chrome: nav bar with high link density
    nav = "".join(f'<a href="/{w.lower()}">{w}</a> ' for w in rng.sample(NAV_LINKS, 5))
    parts.append(f"<nav>{nav}</nav>")
    parts.append('<div class="sidebar"><ul>'
                 + "".join(f'<li><a href="#{i}">{rng.choice(bank)}</a></li>'
                           for i in range(4)) + "</ul></div>")

    # optional header (~30%)
    header_txt = None
    if rng.random() < 0.30:
        header_txt = _words(rng, bank, rng.randint(2, 5))
        parts.append(f"<header>{header_txt}</header>")

    # body: 1-8 paragraphs, some headings, footnote markers
    parts.append("<main>")
    n_paras = rng.randint(1, 8) * boost
    n_footrefs = 0
    for p in range(n_paras):
        if p > 0 and rng.random() < 0.2:
            lvl = rng.choice(["h2", "h3"])
            parts.append(f"<{lvl}>{_words(rng, bank, rng.randint(2, 4))}</{lvl}>")
        body_words = _words(rng, bank, rng.randint(8, 40 * boost))
        if rng.random() < 0.35:
            n_footrefs += 1
            body_words += f" <sup>{n_footrefs}</sup>"
        parts.append(f"<p>{body_words}</p>")
    parts.append("</main>")

    # optional footnotes block (~40%, or whenever markers were emitted)
    style = rng.choice(["({n})", "{n}.", "{n})"])  # ref convert-to-html.ts:15
    if n_footrefs or rng.random() < 0.40:
        notes = []
        for i in range(1, max(n_footrefs, rng.randint(1, 3)) + 1):
            num = _to_eastern(i) if lang == "ar" and rng.random() < 0.5 else str(i)
            mark = style.replace("{n}", num)
            notes.append(f'<p class="footnote">{mark} {_words(rng, bank, rng.randint(4, 15))}</p>')
        parts.append('<div class="footnotes">' + "".join(notes) + "</div>")

    # optional visible page number (~60%)
    page_no = None
    if rng.random() < 0.60:
        page_no = doc_index % 997 + 1
        shown = _to_eastern(page_no) if lang == "ar" and rng.random() < 0.5 else str(page_no)
        parts.append(f"<center>- {shown} -</center>")

    parts.append('<footer><p>© 2024 Example Library. '
                 '<a href="/tos">Terms</a> <a href="/privacy">Privacy</a></p></footer>')
    parts.append("</body></html>")
    html = "".join(parts)

    # ~2% malformed/truncated to exercise the error envelope
    r = rng.random()
    if r < 0.01:
        html = html[: max(10, len(html) // 3)]          # truncated
    elif r < 0.02:
        html = ""                                        # empty payload

    # the stale pre-extracted `text` column (pipeline recomputes from html)
    stale_text = _words(rng, bank, 10)

    return {
        "url": url,
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": stale_text,
        "lang": lang,
    }


def gen_batch(start: int, end: int, seed: int = 42) -> list[dict]:
    return [gen_document(i, seed) for i in range(start, end)]


def gen_media(doc_index: int, seed: int = 42) -> dict:
    """Deterministic media-table row: a small synthetic PNG, baseline-JPEG
    or GIF payload (pure function of (doc_index, seed), like gen_document).
    index%3==1 rows (when 1- or 3-channel) encode as JPEG — the web's
    dominant format; index%3==2 rows as GIF (palette+LZW); the rest as
    PNG. Every 13th row is truncated and every 17th carries a *foreign*
    format's magic over its body — the decode error envelope must route
    those, never drop them."""
    from ocr_platform_spark.functions.gif import encode_gif
    from ocr_platform_spark.functions.jpeg import encode_jpeg
    from ocr_platform_spark.functions.png import encode_png
    from ocr_platform_spark.functions.avi import encode_avi
    from ocr_platform_spark.functions.wav import encode_wav

    rng = random.Random((seed << 32) ^ (doc_index * 2654435761))
    if doc_index % 11 == 6 and doc_index % 7 != 4:
        # video row: 2-5 small deterministic MJPEG frames in an AVI
        w, h = 16, 12
        n_frames = 2 + rng.randrange(4)
        sub = ("444", "420")[(doc_index // 11) % 2]   # real MJPEG is 4:2:0
        frames = [encode_jpeg(w, h, 3, bytes(
            (17 * x + 13 * y + 71 * k + rng.randrange(4)) & 0xFF
            for y in range(h) for x in range(w) for _ in range(3)),
            subsampling=sub)
            for k in range(n_frames)]
        payload = encode_avi(frames, fps=10, w=w, h=h)
        url = f"https://img.example.org/m/{doc_index}.avi"
        if doc_index % 13 == 5:
            payload = payload[: len(payload) * 2 // 3]
        elif doc_index % 17 == 3:
            payload = b"\x89PNG\r\n\x1a\n" + payload[8:]
        return {"url": url, "media": payload}
    if doc_index % 7 == 4:
        # audio row: deterministic integer triangle-ish waveform
        rate = rng.choice([8000, 16000, 44100])
        ch = rng.choice([1, 2])
        n = (64 + rng.randrange(192)) * ch
        freq = 3 + rng.randrange(29)
        samples = [(((i * freq) % 256) - 128) * 137 for i in range(n)]
        payload = encode_wav(rate, ch, samples)
        url = f"https://img.example.org/m/{doc_index}.wav"
        if doc_index % 13 == 5:
            payload = payload[: len(payload) * 2 // 3]
        elif doc_index % 17 == 3:
            payload = b"\x89PNG\r\n\x1a\n" + payload[8:]
        return {"url": url, "media": payload}
    w = 16 + rng.randrange(17)          # 16..32
    h = 12 + rng.randrange(13)          # 12..24
    channels = rng.choice([1, 3, 3, 4])  # gray/RGB/RGBA mix
    base = rng.randrange(256)
    px = bytearray()
    for y in range(h):
        for x in range(w):
            for c in range(channels):
                px.append((base + 7 * x + 13 * y + 29 * c
                           + rng.randrange(8)) & 0xFF)
    # JPEG supports 1/3 channels; RGBA rows stay PNG/GIF
    as_jpeg = doc_index % 3 == 1 and channels in (1, 3)
    as_gif = doc_index % 3 == 2
    if as_jpeg:
        # real web JPEGs are overwhelmingly 4:2:0 (and often carry restart
        # markers), and a sizable share is progressive (SOF2): mix
        # 444/420/422, DRI, and progressive deterministically so the
        # mm_decode/mm_features oracles pin every decode path
        sub = ("420", "444", "422")[(doc_index // 3) % 3] \
            if channels == 3 else "444"
        ri = 2 if doc_index % 5 == 0 else 0
        prog = ri == 0 and doc_index % 7 == 1
        payload = encode_jpeg(w, h, channels, bytes(px),
                              subsampling=sub, restart_interval=ri,
                              progressive=prog)
        ext = "jpg"
    elif as_gif:
        payload = encode_gif(w, h, channels, bytes(px))
        ext = "gif"
    else:
        # a share of real web PNGs is Adam7-interlaced: mix deterministically
        payload = encode_png(w, h, channels, bytes(px),
                             interlace=doc_index % 8 == 2)
        ext = "png"
    url = f"https://img.example.org/m/{doc_index}.{ext}"
    if doc_index % 13 == 5:
        payload = payload[: len(payload) * 2 // 3]   # truncated
    elif doc_index % 17 == 3:
        # foreign magic over the wrong body: the sniffed codec must reject
        other = b"\x89PNG\r\n\x1a\n" if ext != "png" else b"\xff\xd8\xff"
        payload = other + payload[len(other):]
    return {"url": url, "media": payload}


# --------------------------------------------------------------------------
# adversarial corpus: hand-crafted real-world-shaped pages (no RNG — pure
# literals) that lock the classifier before any future tuning. Shapes per
# VERDICT r3 item 8: deeply nested tables, RTL-heavy pages, the reference's
# three footnote-marker styles (ref apps/queue/src/pipeline/
# convert-to-html.ts:3-18), multi-script pages — plus tag soup, entity
# stress, script/style leakage traps, chrome-classed decoys and
# whitespace/inline-span splits. Goldens: tests/fixtures/
# adversarial_goldens.json (tools/make_goldens.py).
# --------------------------------------------------------------------------

def adversarial_pages() -> list[dict]:
    """Deterministic adversarial page corpus: list of pages-table rows."""
    pages: list[tuple[str, str]] = []

    deep = ("The innermost cell carries the real paragraph text that the "
            "extractor must surface despite ten levels of layout tables "
            "wrapped around it by a legacy page builder.")
    inner = f"<p>{deep}</p>"
    for lvl in range(10, 0, -1):
        inner = (f'<table id="t{lvl}"><tr><td>{inner}</td>'
                 f"<td>cell {lvl}</td></tr></table>")
    pages.append((
        "https://adversarial.example/deep-tables",
        "<html><body><nav><a href='/a'>Home</a> <a href='/b'>Shop</a></nav>"
        f"<main>{inner}<p>A sibling paragraph after the table pyramid "
        "keeps enough prose to anchor the content region.</p></main>"
        "<footer>© legacy builder</footer></body></html>"))

    ar = ("النص العربي الطويل يمتد عبر الفقرة كاملة ويحتوي على كلمات كثيرة "
          "تكفي لتصنيف الكتلة كمحتوى أصلي وليس زخرفة")
    pages.append((
        "https://adversarial.example/rtl-heavy",
        '<html dir="rtl" lang="ar"><body>'
        "<nav><a href='/ar'>الرئيسية</a> <a href='/x'>اتصل</a></nav>"
        f"<header>عنوان الصفحة</header><main><p>{ar}‏ ويستمر النص "
        f"بعد علامة الاتجاه.</p><p>{ar} مع أرقام عربية ١٢٣ و٤٥٦ داخل "
        "السطر.</p><p>فقرة ثالثة فيها اقتباس «محفوظ» وتنوين فتحاً "
        "ومدّة آ وهمزات أإؤئ.</p></main>"
        '<div class="footnotes"><p class="footnote">(١) حاشية أولى '
        'بالأرقام العربية المشرقية.</p><p class="footnote">(٢) حاشية '
        "ثانية قصيرة.</p></div>"
        "<center>- ٧٤٢ -</center>"
        "<footer>حقوق النشر محفوظة</footer></body></html>"))

    pages.append((
        "https://adversarial.example/footnote-styles",
        "<html><body><main>"
        "<p>Primary prose referencing the first note <sup>1</sup> and the "
        "second <sup>2</sup> and the third <sup>3</sup> in running text "
        "long enough to be content.</p></main>"
        '<div class="footnotes">'
        "<p>(1) Parenthesized style note, the reference's first marker "
        "shape.</p>"
        "<p>2. Dotted style note, the second marker shape.</p>"
        "<p>3) Half-paren style note, the third marker shape.</p>"
        "</div><center>- 12 -</center></body></html>"))

    pages.append((
        "https://adversarial.example/multi-script",
        "<html><body><main>"
        "<p>Latin prose opens the page with enough words to count as real "
        "content for the density classifier.</p>"
        f"<p>{ar}</p>"
        "<p>Русский текст продолжает страницу и тоже достаточно длинный "
        "чтобы считаться содержанием а не навигацией.</p>"
        "<p>Ελληνικό κείμενο με αρκετές λέξεις ώστε να περάσει το κατώφλι "
        "περιεχομένου χωρίς δυσκολία εδώ.</p>"
        "<p>中文段落也足够长以通过内容分类器的词数阈值并保留在正文里。"
        "这里再加一些汉字。</p>"
        "<p>טקסט עברי ארוך דיו כדי להיחשב תוכן אמיתי ולא ניווט בעמוד "
        "הזה בכלל.</p>"
        "</main></body></html>"))

    pages.append((
        "https://adversarial.example/tag-soup",
        "<html><body><main>"
        "<p>First paragraph never closed"
        "<p>Second paragraph with <b>bold <i>mis-nested</b> italics</i> "
        "that browsers repair silently and parsers must survive."
        "</div></div></span>"   # stray closers for elements never opened
        "<ul><li>item one with enough words to be a real list entry"
        "<li>item two also unclosed and wordy enough to stay content"
        "</ul><br/><hr/>"
        "<p>Tail paragraph after a truncated table: <table><tr><td>lonely "
        "cell text that still belongs to the page body"
        "</main></body>"))      # no </table>, no </html>

    pages.append((
        "https://adversarial.example/entity-stress",
        "<html><body><main>"
        "<p>Ampersands &amp; angle brackets &lt;tag&gt; &quot;quoted&quot; "
        "plus named spaces&nbsp;&nbsp;between&nbsp;words survive "
        "decoding.</p>"
        "<p>Numeric entities: &#77;&#105;&#109; spells Mim and hex "
        "&#x645;&#x62D;&#x645;&#x62F; spells Arabic letters in a row.</p>"
        "<p>Bare & ampersand and a fake &notanentity; stay literal while "
        "&copy; decodes, all inside one long enough paragraph.</p>"
        "</main></body></html>"))

    pages.append((
        "https://adversarial.example/script-style-leak",
        "<html><head><style>p.fake::before{content:'leaked style text'}"
        "</style><script>var leak = '<p>script paragraph must not "
        "appear</p>';</script></head><body>"
        "<!-- <p>commented paragraph must not appear either</p> -->"
        "<main><p>The only real paragraph of the page carries the visible "
        "prose that the extractor should keep verbatim.</p>"
        "<script type=\"application/ld+json\">{\"@type\":\"Article\","
        "\"text\":\"json-ld body must not leak\"}</script>"
        "<textarea>textarea payload is form state, not prose</textarea>"
        "<template><p>template content is inert by spec</p></template>"
        "</main></body></html>"))

    decoys = "".join(
        f'<div class="{cls}"><a href="/{cls}">{cls} link one</a> '
        f'<a href="/{cls}2">{cls} link two</a></div>'
        for cls in ("nav", "menu", "sidebar", "breadcrumb", "banner",
                    "advert", "social", "share", "related", "widget",
                    "cookie"))
    pages.append((
        "https://adversarial.example/chrome-decoys",
        f"<html><body>{decoys}<main><p>Buried among eleven chrome decoy "
        "containers sits this single content paragraph that the "
        "link-density and class heuristics must keep.</p></main>"
        f"{decoys}</body></html>"))

    pages.append((
        "https://adversarial.example/whitespace-runs",
        "<html><body><main><p>Words\n\n\n   separated\t\t by "
        "enormous&nbsp;&nbsp;&nbsp;white space   runs \n collapse to "
        "single spaces in the extracted text.</p>"
        "<p><span>In</span><span>line</span> <span>spans</span> split "
        "<em>wo</em><em>rds</em> but the text reads through them "
        "without inserting breaks.</p></main></body></html>"))

    pages.append((
        "https://adversarial.example/rtl-table-footnotes",
        '<html dir="rtl"><body><main><table><tr>'
        f"<td><p>{ar}</p></td><td><p>{ar} عمود ثانٍ.</p></td>"
        "</tr></table></main>"
        '<div class="hamish"><p>١. تعليق بالنمط المنقوط.</p>'
        "<p>٢) تعليق بنمط نصف القوس.</p></div>"
        "<center>٨٣</center></body></html>"))

    return [{"url": url,
             "warc_ts": EPOCH + _dt.timedelta(seconds=3600 + i),
             "html": html.encode("utf-8"),
             "text": "",
             "lang": "ar" if "rtl" in url or "multi" in url else "en"}
            for i, (url, html) in enumerate(pages)]


# --------------------------------------------------------------------------
# Inputs of the structured-extraction kernels, each a pure function of the
# row index. The metadata, table and microdata kernels read the pages
# above with an md5-menu block injected (``gen_augmented``); the feed,
# code-page and image-twin corpora are their own documents.
# --------------------------------------------------------------------------

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


def gen_augmented(doc_index: int, augment) -> dict:
    """Page ``doc_index`` with its html replaced by
    ``augment(url, html)`` (``augment_html``, ``augment_html_tables`` or
    ``augment_html_micro``)."""
    d = gen_document(doc_index)
    d["html"] = augment(d["url"], d["html"])
    return d


_PAGE_SUFFIX = re.compile(r"/page/\d+$")


def meta_block(url: str) -> str:
    """The deterministic per-url head block. md5 hex digits drive the
    variant menu; the embedded value is hex so it never collides with
    either quote style."""
    h = hashlib.md5(url.encode("utf-8")).hexdigest()
    d = [int(c, 16) for c in h[:10]]
    val = "Book " + h[10:16]
    parts: list[str] = []
    if d[0] < 14:                               # og:title 14/16
        name = "META" if d[6] < 4 else "meta"
        q = "'" if d[2] < 8 else '"'
        attrs = (f"property={q}og:title{q} content={q}{val}{q}"
                 if d[1] < 8 else
                 f"content={q}{val}{q} property={q}og:title{q}")
        parts.append(f"<{name} {attrs}>")
    if d[3] < 15:                               # og:type 15/16
        typ = "book" if d[3] < 8 else "article"
        parts.append(f'<meta property="og:type" content="{typ}"/>')
    if d[4] < 12:                               # canonical 12/16
        canon = _PAGE_SUFFIX.sub("", url)
        attrs = (f'rel="canonical" href="{canon}"' if d[5] < 8
                 else f'href="{canon}" rel="canonical"')
        parts.append(f"<link {attrs}/>" if d[7] < 8
                     else f"<link {attrs}>")
    if d[8] < 6:                                # JSON-LD 6/16
        jt = "Book" if d[9] < 8 else "Article"
        parts.append('<script type="application/ld+json">'
                     f'{{"@type": "{jt}", "name": "{val}"}}</script>')
    return "".join(parts)



def augment_html(url: str, html: bytes | None) -> bytes | None:
    """The page with its metadata block right after ``<head>``."""
    return inject_after(html, "<head>", meta_block(url))


def table_block(url: str) -> str:
    """The per-url injected table markup. md5 hex digits drive the
    variant menu; cell payloads embed hash hex so they never collide
    with the page's own words."""
    h = hashlib.md5(url.encode("utf-8")).hexdigest()
    d = [int(c, 16) for c in h[:14]]
    if d[0] >= 14:
        return ""                                   # 2/16: no table
    n_rows = 1 + d[1] % 3
    n_cols = 1 + d[2] % 3
    header = d[3] < 10
    thead = header and d[3] < 5
    omit = d[4] < 8                                 # omit </td> and </tr>
    upper = d[5] < 4
    junk = d[6] < 8

    def t(name: str) -> str:
        return name.upper() if upper else name

    def cell(r: int, c: int, tag: str) -> str:
        attrs = ' align="left" class=\'c\'' if junk and c == 0 else ""
        body = f"c{r}x{c} {h[c % 8:c % 8 + 4]}"
        if d[7] < 8 and r == 0 and c == 0:
            body = f'<b>{body}</b> <a href="/x">lnk</a>'
        if d[8] < 8 and c == n_cols - 1:
            body += " &amp; tail"
        if d[12] < 4 and r == n_rows - 1 and c == 0 and not header:
            body = ""                               # empty cell
        if d[10] < 3 and r == 0 and c == n_cols - 1:
            body += (f"<table><tr><td>inner {h[8:11]}</td></tr>"
                     "</table> after")
        if d[11] < 3 and r == 0 and c == 0:
            body += ('<script>var t = "<table><tr><td>fake</td></tr>'
                     '</table>";</script>')
        if d[13] < 6 and r == 0 and c == 0:
            body += "<!-- ghost <td>never</td> -->"
        close = "" if omit else f"</{t(tag)}>"
        return f"<{t(tag)}{attrs}>{body}{close}"

    def row(r: int, tag: str) -> str:
        cells = "".join(cell(r, c, tag) for c in range(n_cols))
        close = "" if omit else f"</{t('tr')}>"
        return f"<{t('tr')}>{cells}{close}"

    rows = []
    if header:
        hr = row(0, "th")
        rows.append(f"<thead>{hr}</thead><tbody>" if thead else hr)
    for r in range(1 if header else 0, n_rows):
        rows.append(row(r, "td"))
    if thead:
        rows.append("</tbody>")
    out = f"<{t('table')}>{''.join(rows)}</{t('table')}>"
    if d[9] < 4:                                    # second table
        out += (f"<table><tr><td>t2 {h[5:9]}</td>"
                f"<td>t2b {h[9:12]}</td></tr></table>")
    return out



def augment_html_tables(url: str, html: bytes | None) -> bytes | None:
    return inject_after(html, "<body>", table_block(url))


def micro_block(url: str) -> str:
    """Per-url injected microdata markup; md5 digits drive the menu."""
    h = hashlib.md5(url.encode("utf-8")).hexdigest()
    d = [int(c, 16) for c in h[:12]]
    if d[0] >= 14:
        return ""                                   # 2/16: no microdata
    parts: list[str] = []
    if d[1] < 3:                                    # orphan prop first
        parts.append(f'<span itemprop="site">orph {h[0:3]}</span>')
    typ = "Product" if d[2] < 8 else "Article"
    parts.append(f'<div itemscope itemtype="https://schema.org/{typ}">')
    name = f"Item {h[3:8]}"
    if d[3] < 8:                                    # text prop
        inner = (f"<b>{name}</b>" if d[4] < 6 else name)
        parts.append(f'<span itemprop="name">{inner}</span>')
    else:                                           # meta content prop
        parts.append(f'<meta itemprop="name" content="{name}">')
    if d[5] < 10:
        parts.append(f'<a itemprop="url" href="/i/{h[6:10]}">go</a>')
    if d[6] < 8:
        parts.append(f'<img itemprop="image" src="/img/{h[2:6]}.png">')
    if d[7] < 6:
        parts.append(f'<time itemprop="date" datetime="2024-0{d[7] % 9 + 1}-01">then</time>')
    elif d[7] < 10:
        parts.append(f'<time itemprop="date">2024-0{d[7] % 9 + 1}-02</time>')
    if d[8] < 5:                                    # unclosed text prop:
        parts.append('<span itemprop="price">9'     # implied close by the
                     )                              # next prop/scope
    if d[9] < 4:                                    # CDATA trap in a prop
        parts.append('<span itemprop="desc">real'
                     '<script>var x = "<span itemprop=\'fake\'>no</span>";'
                     "</script> tail</span>")
    if d[10] < 4:                                   # comment trap
        parts.append('<span itemprop="note">a<!-- <span itemprop="ghost">'
                     "g</span> -->b</span>")
    parts.append("</div>")
    if d[11] < 4:                                   # second item
        parts.append('<p itemscope><meta itemprop="name" '
                     f'content="Second {h[9:12]}"></p>')
    return "".join(parts)



def augment_html_micro(url: str, html: bytes | None) -> bytes | None:
    return inject_after(html, "<body>", micro_block(url))


def feed_doc(i: int) -> tuple[str, bytes]:
    """(url, xml bytes) for synthetic feed i — md5-menu dialect mix."""
    url = f"https://feeds.example/f/{i}"
    h = hashlib.md5(url.encode()).hexdigest()
    d = [int(c, 16) for c in h[:10]]
    atom = d[0] < 8
    n_entries = 1 + d[1] % 3
    parts = ['<?xml version="1.0"?>']
    if atom:
        parts.append('<feed xmlns="http://www.w3.org/2005/Atom">')
        parts.append(f"<title>Feed {h[:4]}</title>")
    else:
        parts.append("<rss><channel>")
        parts.append(f"<title>Chan {h[:4]}</title>")
    for e in range(n_entries):
        tag = "entry" if atom else "item"
        parts.append(f"<{tag}>")
        t = f"Post {h[e:e + 4]}"
        if d[2] < 6 and e == 0:
            t = f"A &amp; B {h[4:7]}"            # entity in title
        parts.append(f"<title>{t}</title>")
        if atom:
            if d[3] < 12:
                parts.append(f'<link href="https://s.example/p/{i}-{e}"/>')
        else:
            parts.append(f"<link>https://s.example/p/{i}-{e}</link>")
        if d[4] < 10:
            dt = f"2024-0{(d[4] % 9) + 1}-1{e} 00:00"
            parts.append(f"<updated>{dt}</updated>" if atom
                         else f"<pubDate>{dt}</pubDate>")
        if d[5] < 3 and e == 0:
            parts.append("<title>shadowed second title</title>")
        if d[6] < 3 and e == n_entries - 1:
            parts.append("<link>unclosed-tail ")  # open at next/EOF
        parts.append(f"</{tag}>")
    if d[7] < 3:
        parts.append("<!-- <item><title>ghost</title></item> -->")
    parts.append("</feed>" if atom else "</channel></rss>")
    return url, "".join(parts).encode("utf-8")


# the shared snippet: identical bytes across every doc that draws it, so
# the rollup's distinct-count is LIVE (n_distinct < n_blocks somewhere)
_SHARED_SNIPPET = ("def add(a, b):\n"
                   "    return a + b")

_LANGS = ("python", "js", "rust", "sql", "c")


def _snippet(h: str, e: int) -> str:
    """Deterministic multi-line snippet for (doc-hash, block) — real
    indentation, an entity-spelled comparison, stable per (h, e)."""
    name = h[e:e + 4]
    return (f"for i in range(n_{name}):\n"
            f"    if i &lt; limit:\n"
            f"        total += w[{e}] * i\n"
            f"    else:\n"
            f"        break")



def code_doc(i: int) -> tuple[str, bytes]:
    """(url, html bytes) for synthetic code page i — md5-menu over
    language placement, highlighter spans, br line breaks, leading
    newline, traps (comment / script-in-pre / nested pre / inline
    code / unclosed tail / empty block)."""
    url = f"https://code.example/d/{i}"
    h = hashlib.md5(url.encode()).hexdigest()
    d = [int(c, 16) for c in h[:14]]
    parts = ["<html><body><h1>Snippets</h1>",
             "<p>Use <code>x + 1</code> inline.</p>"]   # trap: no pre
    n_blocks = d[0] % 4                                  # 0..3
    for e in range(n_blocks):
        lang = _LANGS[d[2 + e] % len(_LANGS)]
        place = d[5 + e] % 4
        if place == 0:
            parts.append(f'<pre class="language-{lang}">')
            open_code = False
        elif place == 1:
            # multi-class, language token NOT first; hint on inner code
            parts.append("<pre>")
            parts.append(f'<code class="highlight lang-{lang}">')
            open_code = True
        elif place == 2:
            parts.append("<pre>")                        # no hint
            open_code = False
        else:
            parts.append(f"<PRE CLASS='lang-{lang.upper()}'>")
            open_code = False
        if d[8] < 8:
            parts.append("\n")                 # dropped by the spec
        if e == 0 and d[1] < 5:
            body = _SHARED_SNIPPET
        elif e == 1 and d[9] < 6:
            body = "line one<br>line two<br/>line three"
        else:
            body = _snippet(h, e)
        if d[10] < 8 and "def " in body:
            body = body.replace("def ", '<span class="k">def</span> ', 1)
        if d[10] >= 8 and "for " in body:
            body = body.replace("for ", '<span class="k">for</span> ', 1)
        parts.append(body)
        if e == 0 and d[11] < 3:
            parts.append("<!-- highlighter credit -->")
        if e == 0 and d[12] < 3:
            parts.append("\n<script>if (a &lt; b) { go(); }</script>")
        if e == 1 and d[13] < 3:
            parts.append("<pre>nested-is-markup ")
        if open_code:
            parts.append("</code>")
        parts.append("</pre>")
    if d[3] < 2:
        parts.append("<pre></pre>")                      # empty block
    if d[4] < 3:
        parts.append('<pre class="language-go">func main() {')  # EOF trap
    parts.append("</body></html>")
    return url, "".join(parts).encode("utf-8")


def _grid_cells(h16: str, n: int, distinct_band_rows: bool,
                grid_h: int, grid_w: int) -> list[tuple]:
    """n deterministic (gy, gx) sample cells from a hex seed on a
    grid_h x grid_w grid; when distinct_band_rows, the cells land in
    rows 0/2/4 (bands 0,1,2)."""
    cells = []
    for j in range(n):
        gy = (2 * j) if distinct_band_rows else int(h16[2 * j], 16) % grid_h
        gx = int(h16[2 * j + 1], 16) % grid_w
        cells.append((gy, gx))
    return cells


def twin_doc(doc_index: int, seed: int = 42) -> dict | None:
    """The re-hosted copy of image row ``doc_index`` (or None when the
    row is audio/video/corrupt, fails to decode, or is unselected). Pure
    function of the index, computed through the real decoders."""
    from ocr_platform_spark.functions.png import encode_png
    from ocr_platform_spark.operators.imagedup import GRID_H, GRID_W
    from ocr_platform_spark.operators.multimodal import decode_image

    mode = doc_index % 5
    if mode not in (0, 2, 4):
        return None
    if doc_index % 13 == 5 or doc_index % 17 == 3:
        return None                              # corrupt originals
    if doc_index % 7 == 4 or (doc_index % 11 == 6):
        return None                              # audio/video rows
    row = gen_media(doc_index, seed)
    try:
        w, h, ch, px = decode_image(row["media"])
    except Exception:
        return None             # undecodable: skipped, like the fixture
    px = bytearray(px)
    if mode != 0:
        n_cells = 1 if mode == 2 else 3
        hseed = hashlib.md5(row["url"].encode()).hexdigest()
        for gy, gx in _grid_cells(hseed, n_cells, mode == 4,
                                  GRID_H, GRID_W):
            sy, sx = gy * h // GRID_H, gx * w // GRID_W
            base = (sy * w + sx) * ch
            for c in range(ch):
                px[base + c] = min(255, px[base + c] + 64)
    return {"url": f"https://cdn.example.net/m/{doc_index}.png",
            "media": encode_png(w, h, ch, bytes(px))}
