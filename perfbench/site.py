"""The ``http-html`` workload's web site: HTML documents spread over
loopback hosts ``127.0.0.2`` … ``127.0.0.7``, generated from a seed.

Pure standard library: the server process (``perfbench/server.py``)
imports this module to serve the pages, and the benchmark imports it to
build the seed list and the expected crawl result, so both sides see
the same site without sharing any engine code.

Each document has a landing page ``/doc/<k>/index.html`` (or
``/private/doc/<k>/index.html``, which robots disallows, so it must
never be requested). Landing pages of chaptered documents link their
chapters ``ch_<c>_p.html`` by relative ``href`` (plus a duplicate link,
a self link and a link under ``/private/``); every page references its
images through ``../../img/…``, so the crawl has to resolve relative
references to reach the absolute image URLs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

HOSTS = [f"127.0.0.{k}" for k in range(2, 8)]
#: share of documents on the first host (the dominant one)
DOMINANT_SHARE = 0.5
CHAPTER_SHARE = 0.35
PRIVATE_PREFIX = "/private"
WORDS = ["Hằng Cứu Giúp", "La Vang", "Fatima", "Lộ Đức", "Trà Kiệu", "Guadalupe"]


@dataclass
class Page:
    host: str
    path: str
    #: (caption, absolute image path, img_order) in document order
    images: list[tuple[str, str, int]] = field(default_factory=list)
    html: str = ""


@dataclass
class Doc:
    k: int
    host: str
    private: bool
    landing: Page
    chapters: list[Page] = field(default_factory=list)


def _paragraphs(k: int) -> str:
    out = []
    for i in range(2 + k % 3):
        w = WORDS[(k + i) % len(WORDS)]
        out.append(
            f"<p>Đoạn {i} của tài liệu {k}: lời kinh &amp; suy niệm về Đức Mẹ {w}. "
            f"Câu thứ hai, với dấu phẩy; và dấu chấm phẩy.</p>"
        )
    return "\n".join(out)


def _page_html(title: str, body: str) -> str:
    return (
        "<!doctype html>\n<html><head><meta charset=\"utf-8\">"
        f"<title>{title}</title>"
        "<meta name=\"robots\" content=\"index,follow\">"
        "<link rel=\"canonical\" href=\"index.html\">"
        f"</head>\n<body>\n{body}\n</body></html>\n"
    )


def _img_tags(rng: random.Random, page: Page, k: int, tag: str, n: int) -> str:
    tags = []
    for j in range(1, n + 1):
        name = f"{k}-{tag}{j}.png"
        caption = f"Hình {k}-{tag}{j} Đức Mẹ {WORDS[rng.randrange(len(WORDS))]}"
        page.images.append((caption, f"/img/{name}", j))
        tags.append(f'<p><img src="../../img/{name}" alt="{caption}"></p>')
    return "\n".join(tags)


def build_site(seed: int, n_docs: int) -> list[Doc]:
    """The site's documents, identical for identical (seed, n_docs)."""
    rng = random.Random(seed)
    # exact shares, so every seed gives a site of the same size
    ks = list(range(1, n_docs + 1))
    rng.shuffle(ks)
    n_dom = int(n_docs * DOMINANT_SHARE)
    host_of = {k: HOSTS[0] if i < n_dom else HOSTS[1 + (i - n_dom) % (len(HOSTS) - 1)]
               for i, k in enumerate(ks)}
    private = set(rng.sample(ks, n_docs // 20))
    chaptered = set(rng.sample(ks, int(n_docs * CHAPTER_SHARE)))
    docs = []
    for k in range(1, n_docs + 1):
        host = host_of[k]
        base = f"{PRIVATE_PREFIX}/doc/{k}" if k in private else f"/doc/{k}"
        landing = Page(host, f"{base}/index.html")
        n_ch = 2 + k % 2 if k in chaptered else 0
        parts = [f"<h1>Tài liệu {k}</h1>", _paragraphs(k)]
        parts.append(_img_tags(rng, landing, k, "", 1 + k % 2))
        doc = Doc(k, host, k in private, landing)
        if n_ch:
            links = ["<h2>Mục lục</h2>", "<ul>"]
            for c in range(1, n_ch + 1):
                links.append(f'<li><a href="ch_{c}_p.html">Chương {c}</a></li>')
                if c == 1:  # duplicate link: derived-key dedup keeps one
                    links.append(f'<li><a href="ch_{c}_p.html">Chương {c} (bis)</a></li>')
            links.append('<li><a href="index.html">Quay lại</a></li>')  # self link
            links.append(f'<li><a href="../..{PRIVATE_PREFIX}/{k}-x.html">Riêng</a></li>')
            links.append("</ul>")
            parts.append("\n".join(links))
            for c in range(1, n_ch + 1):
                ch = Page(host, f"{base}/ch_{c}_p.html")
                ch_body = "\n".join(
                    [
                        f"<h1>Chương {c}</h1>",
                        _paragraphs(k + c),
                        _img_tags(rng, ch, k, f"c{c}-", 1),
                        '<p><a href="index.html">Mục lục</a></p>',
                    ]
                )
                ch.html = _page_html(f"Tài liệu {k} — chương {c}", ch_body)
                doc.chapters.append(ch)
        landing.html = _page_html(f"Tài liệu {k}", "\n".join(parts))
        docs.append(doc)
    return docs


def pages_by_location(docs: list[Doc]) -> dict[tuple[str, str], str]:
    """(host, path) → HTML for every page the server holds."""
    out = {}
    for d in docs:
        for p in [d.landing, *d.chapters]:
            out[(p.host, p.path)] = p.html
    return out
