"""C16 HTML→Markdown: golden cases + Spark pandas-UDF surface parity.

r3 extends the subset with GFM tables, ordered lists, code,
strikethrough, hr, and retext-smartypants text punctuation (VERDICT r2
#4; the real unified pipeline itself is npm/network-blocked here —
goldens are hand-derived from the published plugin semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.functions.html import html_to_md, html_to_md_udf

CASES = [
    ("<h1>Tựa đề</h1><p>Đoạn một.</p>", "# Tựa đề\n\nĐoạn một."),
    ("<p>In <strong>đậm</strong> và <em>nghiêng</em>.</p>", "In **đậm** và *nghiêng*."),
    (
        '<p>Xem <a href="http://x.vn/a">liên kết</a>.</p>',
        "Xem [liên kết](http://x.vn/a).",
    ),
    (
        '<p><img src="http://x/i.png" alt="Hình Đức Mẹ"></p>',
        "![Hình Đức Mẹ](http://x/i.png)",
    ),
    (
        '<p><img alt="Alt trước" src="http://x/j.png"/></p>',
        "![Alt trước](http://x/j.png)",
    ),
    ('<p><img src="http://x/k.png"></p>', "![](http://x/k.png)"),
    ("<ul><li>một</li><li>hai</li></ul>", "- một\n- hai"),
    ("<blockquote>Trích dẫn</blockquote>", "> Trích dẫn"),
    ("<p>dòng<br>ngắt</p>", "dòng\nngắt"),
    (
        "<script>alert('x')</script><style>p{}</style><p>sạch</p><!-- ghi chú -->",
        "sạch",
    ),
    # smartypants: entity-decoded straight quotes curl (text-node scope)
    # decoded &amp;/&lt; re-escape so markdown can't re-parse them
    ("<p>&amp;amp; &lt;tag&gt; &quot;q&quot; &#7879;</p>", "\\&amp; \\<tag> “q” ệ"),
    ("<div class='x'><span>giữ chữ</span></div>", "giữ chữ"),
    ("<h3 id='a'>Mục</h3>", "### Mục"),
    # --- r3: GFM + smartypants additions -------------------------------
    ("<ol><li>đầu</li><li>giữa</li><li>cuối</li></ol>", "1. đầu\n2. giữa\n3. cuối"),
    ("<p>trước</p><hr><p>sau</p>", "trước\n\n***\n\nsau"),
    ("<p>gạch <del>bỏ</del> và <s>xoá</s></p>", "gạch ~~bỏ~~ và ~~xoá~~"),
    ("<p>mã <code>a|b -- c</code> xong</p>", "mã `a|b -- c` xong"),
    (
        "<pre><code>if (a &lt; b) {\n  x = \"y\";\n}</code></pre>",
        '```\nif (a < b) {\n  x = "y";\n}\n```',
    ),
    (
        "<table><tr><th>Tên</th><th align='right'>Số</th></tr>"
        "<tr><td>a|b</td><td>1</td></tr>"
        "<tr><td><strong>c</strong></td><td>2</td></tr></table>",
        "| Tên | Số |\n| --- | --: |\n| a\\|b | 1 |\n| **c** | 2 |",
    ),
    (
        "<table><tr><th style='text-align:center'>X</th></tr>"
        "<tr><td>v</td></tr></table>",
        "| X |\n| :-: |\n| v |",
    ),
    # smartypants: quotes, em dash, ellipsis; URLs stay untouched
    (
        "<p>\"kép\" và 'đơn' -- rồi... hết</p>",
        "“kép” và ‘đơn’ — rồi… hết",
    ),
    (
        '<p>apostrophe trong don\'t</p>',
        "apostrophe trong don’t",
    ),
    (
        '<p>Xem <a href="http://x/a--b...c">nơi \'này\'</a></p>',
        "Xem [nơi ‘này’](http://x/a--b...c)",
    ),
    ("<p>TeX ``trích'' xưa</p>", "TeX “trích” xưa"),
]


def test_html_to_md_goldens():
    for html, want in CASES:
        assert html_to_md(html) == want, html


def test_entity_encoded_markup_stays_text():
    # &lt;strong&gt; must NOT become markdown emphasis — and as of
    # late r5 the decoded < is backslash-escaped so a MARKDOWN
    # renderer can't re-parse it as raw HTML either
    assert (
        html_to_md("<p>&lt;strong&gt;x&lt;/strong&gt;</p>")
        == "\\<strong>x\\</strong>"
    )


def test_code_content_protected_from_smartypants():
    # quotes/dashes INSIDE code must stay straight (text-node scope)
    got = html_to_md("<p><code>\"x\" -- 'y'</code> ngoài \"z\"</p>")
    assert got == "`\"x\" -- 'y'` ngoài “z”"


def test_table_delimiter_survives_smartypants():
    got = html_to_md("<table><tr><th>a</th></tr><tr><td>b -- c</td></tr></table>")
    assert got == "| a |\n| --- |\n| b — c |"


def test_udf_surface(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(CASES)], "i int, html string"
    )
    rows = df.select("i", html_to_md_udf(F.col("html")).alias("md")).collect()
    for r in rows:
        assert r["md"] == CASES[r["i"]][1]
    # null passthrough
    one = spark.createDataFrame([(None,)], "html string")
    assert one.select(html_to_md_udf("html").alias("md")).first()["md"] is None


# ---------------------------------------------------------------------------
# r4: real-web image discovery — srcset / <picture> / lazy-load / figcaption
# ---------------------------------------------------------------------------


def test_srcset_picks_largest_width():
    html = (
        '<p><img src="http://x/s.jpg" alt="A" '
        'srcset="http://x/s.jpg 320w, http://x/l.jpg 1280w, http://x/m.jpg 640w"></p>'
    )
    assert html_to_md(html) == "![A](http://x/l.jpg)"


def test_srcset_density_and_bare_candidates():
    # density descriptors: largest x wins
    html = '<img srcset="http://x/1.jpg 1x , http://x/2.jpg 2x" alt="d">'
    assert html_to_md(html) == "![d](http://x/2.jpg)"
    # no descriptors: first candidate
    html = '<img srcset="http://x/a.jpg, http://x/b.jpg" alt="f">'
    assert html_to_md(html) == "![f](http://x/a.jpg)"


def test_lazy_load_fallbacks():
    # 1px data-URI placeholder src + data-src ⇒ data-src wins
    html = (
        '<img src="data:image/gif;base64,R0lGOD" '
        'data-src="http://x/real.jpg" alt="lazy">'
    )
    assert html_to_md(html) == "![lazy](http://x/real.jpg)"
    # data-srcset outranks placeholder src
    html = (
        '<img src="data:image/gif;base64,R0lGOD" '
        'data-srcset="http://x/a.jpg 480w, http://x/b.jpg 960w" alt="ls">'
    )
    assert html_to_md(html) == "![ls](http://x/b.jpg)"
    # real src is NOT overridden by data-src (srcset absent)
    html = '<img src="http://x/real.jpg" data-src="http://x/other.jpg" alt="r">'
    assert html_to_md(html) == "![r](http://x/real.jpg)"


def test_srcset_data_uri_candidate_stays_whole():
    # the lazysizes convention: a data-URI placeholder IN srcset. Its
    # base64 comma is not a candidate separator — the spec tokenizer
    # keeps it one token, _is_placeholder drops it, and the real
    # data-srcset candidates win (ADVICE r4: the naive comma split
    # let the 'R0lGODlh…' fragment shadow the real URLs)
    from crawler_spark.functions.html import parse_srcset, split_srcset

    val = "data:image/gif;base64,R0lGODlhAQABAAAAACH5BAEKAAEALAAAAAABAAEAAAICTAEAOw== 1x"
    assert split_srcset(val) == [
        ("data:image/gif;base64,R0lGODlhAQABAAAAACH5BAEKAAEALAAAAAABAAEAAAICTAEAOw==", "1x")
    ]
    assert parse_srcset(val) == []  # placeholder → dropped whole
    html = (
        f'<img srcset="{val}" '
        'data-srcset="http://x/a.jpg 480w, http://x/b.jpg 960w" alt="ls">'
    )
    assert html_to_md(html) == "![ls](http://x/b.jpg)"
    # multi-candidate: data URI placeholder + a real URL in ONE srcset
    mixed = f"{val.split(' ')[0]} 1x, http://x/real.jpg 2x"
    assert parse_srcset(mixed) == [("http://x/real.jpg", 2.0, "x")]


def test_split_srcset_spec_edges():
    from crawler_spark.functions.html import split_srcset

    # trailing-comma URL token (spec: strip, empty descriptor)
    assert split_srcset("a.jpg, b.jpg 2x") == [("a.jpg", ""), ("b.jpg", "2x")]
    # NO whitespace around the comma ⇒ per spec that is ONE url token
    # (this is exactly why data URIs survive); browsers agree
    assert split_srcset("a.jpg,b.jpg 2x") == [("a.jpg,b.jpg", "2x")]
    # leading/extra commas and whitespace forms
    assert split_srcset(" ,\ta.jpg  1w ,, b.jpg ") == [
        ("a.jpg", "1w"),
        ("b.jpg", ""),
    ]
    assert split_srcset("") == []


def test_picture_source_selection():
    html = (
        "<picture>"
        '<source srcset="http://x/p1.webp 1x, http://x/p2.webp 2x">'
        '<source srcset="http://x/q.jpg">'
        '<img src="http://x/fallback.jpg" alt="pic">'
        "</picture>"
    )
    # first usable <source> wins (browser order); alt from the <img>
    assert html_to_md(html) == "![pic](http://x/p2.webp)"
    # no sources ⇒ the img fallback
    html = '<picture><img src="http://x/f.jpg" alt="pf"></picture>'
    assert html_to_md(html) == "![pf](http://x/f.jpg)"


def test_figcaption_outranks_alt():
    html = (
        "<figure>"
        '<img src="http://x/duc-me.jpg" alt="IMG_1234.jpg">'
        "<figcaption>Đức Mẹ <em>La Vang</em></figcaption>"
        "</figure>"
    )
    assert html_to_md(html) == "![Đức Mẹ La Vang](http://x/duc-me.jpg)"


def test_figure_with_picture_and_no_caption():
    html = (
        "<figure><picture>"
        '<source srcset="http://x/w.webp 800w">'
        '<img src="http://x/w.jpg" alt="giữ alt">'
        "</picture></figure>"
    )
    assert html_to_md(html) == "![giữ alt](http://x/w.webp)"
    # figure without an image is left to the normal block passes
    assert html_to_md("<figure><p>chỉ chữ</p></figure>") == "chỉ chữ"


def test_figure_keeps_non_image_content():
    html = (
        "<figure>"
        '<img src="http://x/i.jpg" alt="">'
        "<figcaption>Chú thích</figcaption>"
        "<p>thêm chữ</p>"
        "</figure>"
    )
    out = html_to_md(html)
    assert "![Chú thích](http://x/i.jpg)" in out and "thêm chữ" in out


def test_ordered_list_start_offset():
    """<ol start=N> numbers items from N (rehype-remark carries start
    into the mdast list; remark-stringify numbers from it) — closed
    divergence, r5."""
    assert html_to_md("<ol start='5'><li>a</li><li>b</li></ol>") == "5. a\n6. b"
    assert html_to_md("<ol><li>a</li><li>b</li></ol>") == "1. a\n2. b"
    # malformed start falls back to 1
    assert html_to_md("<ol start='x'><li>a</li></ol>") == "1. a"


# ---------------------------------------------------------------------------
# r5: property-based divergence hunting against the documented subset
# rules (npm byte-pinning still env-blocked — 5 rounds of retries; see
# COVERAGE.md — so the published plugin semantics are pinned by
# invariants the real pipeline also guarantees)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_TEXT = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Zs"), max_codepoint=0x24F
    ),
    min_size=1,
    max_size=24,
).map(lambda s: " ".join(s.split()) or "x")


@settings(max_examples=120, suppress_health_check=[HealthCheck.too_slow], deadline=None)
@given(_TEXT, st.integers(1, 99), st.lists(_TEXT, min_size=1, max_size=4))
def test_html_to_md_structural_invariants(txt, start, items):
    """Invariants the real unified pipeline also guarantees: no tag
    leaks through, code spans keep their content verbatim, ordered
    lists number from start=, table cell text survives, and
    entity-encoded markup stays literal text."""
    lis = "".join(f"<li>{i}</li>" for i in items)
    html = (
        f"<h2>{txt}</h2><p>{txt}</p>"
        f"<ol start='{start}'>{lis}</ol>"
        f"<pre><code>{txt} *raw*</code></pre>"
        f"<table><tr><td>{txt}</td><td>b</td></tr></table>"
        f"<p>&lt;b&gt;{txt}&lt;/b&gt;</p>"
    )
    md = html_to_md(html)
    # no REAL markup leaks (the entity-encoded <b> below is literal
    # text by design, so the check names the actual tags)
    for leak in ("<h2", "</h2", "<p>", "<ol", "<li", "<pre", "<table", "<td"):
        assert leak not in md
    assert f"## {txt}" in md
    for k, i in enumerate(items):
        assert f"{start + k}. {i}" in md  # start-offset numbering
    assert f"{txt} *raw*" in md  # code content verbatim (no smartypants)
    assert f"| {txt} | b |" in md
    # entity-encoded markup is literal text (tag-shaped < escaped)
    assert f"\\<b>{txt}\\</b>" in md


@settings(max_examples=80, suppress_health_check=[HealthCheck.too_slow], deadline=None)
@given(_TEXT)
def test_html_to_md_smartypants_scope(txt):
    """smartypants touches prose only: quotes in text curl, quotes in
    code spans / fenced blocks never do (the text-node scope of the
    real retext pipeline)."""
    md = html_to_md(f"<p>\"{txt}\"</p><code>\"{txt}\"</code>")
    assert f"“{txt}”" in md
    assert f'`"{txt}"`' in md


def test_unresolvable_placeholder_img_drops_to_alt():
    # loader noise: data-URI src with no real alternative — keep the
    # alt text, never emit a data: URL into the image stream
    html = '<p>trước <img src="data:image/gif;base64,R0lGOD" alt="chú thích"> sau</p>'
    assert html_to_md(html) == "trước chú thích sau"
    # the <noscript> twin pattern: placeholder img + real img both
    # present ⇒ exactly one markdown image, the real one
    html = (
        '<img src="data:image/gif;base64,R0lGOD" alt="x">'
        '<noscript><img src="http://x/real.jpg" alt="x"></noscript>'
    )
    out = html_to_md(html)
    assert out.count("![") == 1 and "http://x/real.jpg" in out
    # empty src keeps the legacy empty-URL construct
    assert html_to_md('<img alt="a">') == "![a]()"


# ---------------------------------------------------------------------------
# r5: markdown-special escaping in text nodes (the former top
# enumerated divergence, now implemented — remark-stringify semantics)
# ---------------------------------------------------------------------------

import re as _re  # noqa: E402

from crawler_spark.functions.text import MD_IMG_RE, extract_md_images  # noqa: E402
from crawler_spark.streaming.rounds import MD_LINK_PAT  # noqa: E402


def test_text_cannot_inject_links_or_images():
    """Page TEXT shaped like markdown must not become followable
    markup: the downstream discovery regex (MD_LINK_PAT) and image
    extractor must see ONLY the constructs generated from real tags."""
    html = (
        "<p>see [not a link](http://evil.test/x) here</p>"
        "<p>and ![not an image](http://evil.test/y.png)</p>"
        '<p>real: <a href="http://ok.test/a">anchor</a> and '
        '<img src="http://ok.test/i.png" alt="pic"></p>'
    )
    md = html_to_md(html)
    links = [u for _t, u in _re.findall(MD_LINK_PAT, md)]
    assert links == ["http://ok.test/a"], md
    imgs = extract_md_images(md)
    assert [u for _a, u in imgs] == ["http://ok.test/i.png"], md
    # the text is still readable once unescaped
    assert "\\[not a link\\]" in md and "\\[not an image\\]" in md


def test_text_cannot_forge_blocks():
    """Line-leading text that would parse as ATX headings, quotes,
    bullets or enumerators is escaped; REAL constructs are not."""
    md = html_to_md(
        "<p># not a heading</p><p>> not a quote</p>"
        "<p>- not a bullet</p><p>12. not an item</p>"
        "<h1>real</h1><ol><li>item</li></ol><ul><li>bullet</li></ul>"
    )
    assert "\\# not a heading" in md
    assert "\\> not a quote" in md
    assert "\\- not a bullet" in md
    assert "12\\. not an item" in md
    assert "# real" in md and "1. item" in md and "- bullet" in md


def test_inline_specials_escape_in_text_not_in_syntax():
    md = html_to_md("<p>a*b _c_ `d` e\\f</p><p><em>em</em> <strong>st</strong></p>")
    assert "a\\*b \\_c\\_ \\`d\\` e\\\\f" in md
    assert "*em*" in md and "**st**" in md
    # link destinations keep their bytes (underscores are common)
    md = html_to_md('<a href="http://h.test/a_b_c">t</a>')
    assert "(http://h.test/a_b_c)" in md
    # code spans/blocks never escape
    md = html_to_md("<pre>a * b [x](y)</pre><code>_i_</code>")
    assert "a * b [x](y)" in md and "`_i_`" in md


def test_table_cells_escape_and_pipes_stay_escaped_once():
    md = html_to_md("<table><tr><td>a|b</td><td>c*d</td></tr></table>")
    assert "| a\\|b | c\\*d |" in md


def test_control_bytes_cannot_forge_placeholders():
    # \x00/\x01/\x03 in input must not alias the stash/mark machinery
    md = html_to_md("<p>a\x00" + "0\x00b \x011\x01 c\x03*d</p>")
    assert md == "a0b 1 c\\*d"


@settings(max_examples=120, suppress_health_check=[HealthCheck.too_slow], deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from(list("ab *_`[]()#>-+.1\\|~!&;x")),
        min_size=1,
        max_size=30,
    )
)
def test_escape_roundtrip_property(raw):
    """For ANY special-laden TEXT: (1) the converted markdown yields
    zero phantom links/images under the repo's own downstream parsers,
    and (2) stripping the escape backslashes recovers the
    entity-decoded original text (escaping is lossless) — both
    properties the real remark-stringify output also satisfies."""
    from crawler_spark.functions.html import _unescape

    txt = " ".join(raw.split())
    if not txt:
        txt = "x"
    md = html_to_md(f"<p>{txt}</p>")
    assert not _re.findall(MD_LINK_PAT, md), (txt, md)
    assert not MD_IMG_RE.findall(md), (txt, md)
    # lossless vs the converter's own text model: entity refs decode
    # first (the alphabet can spell &#98; etc.), then smartypants's
    # rewrites (TeX quotes, ellipsis, dashes — same order)
    unescaped = _re.sub(r"\\(.)", r"\1", md)
    expect = _unescape(txt)
    expect = expect.replace("``", "“").replace("...", "…")
    expect = _re.sub(r"(?<![-|])-{2,3}(?![-|])", "—", expect)
    expect = " ".join(expect.split()) or "x"
    assert unescaped == expect, (txt, md)


def test_after_context_escapes():
    """r5: the four remark after-context escapes — ! before [, & when
    entity-shaped, < when tag-shaped, ~~ runs — applied in text, never
    in destinations or code."""
    # entity-decoded text must not re-enter the HTML/markdown grammar
    assert html_to_md("<p>&amp;amp; x</p>") == "\\&amp; x"
    assert html_to_md("<p>&lt;div&gt; tag</p>") == "\\<div> tag"
    # non-entity & and comparison < stay untouched
    assert html_to_md("<p>a & b, 5 < 6</p>") == "a & b, 5 < 6"
    # ~~ runs escape per tilde; single ~ stays; <del> stays syntax
    assert html_to_md("<p>~~nope~~</p>") == "\\~\\~nope\\~\\~"
    assert html_to_md("<p>a ~ b</p>") == "a ~ b"
    assert html_to_md("<p><del>yes</del></p>") == "~~yes~~"
    # ! escapes only when abutting a bracket
    assert html_to_md("<p>a![b] c!</p>") == "a\\!\\[b\\] c!"
    assert html_to_md("<p>wow! [x]</p>") == "wow! \\[x\\]"
    # a text ! abutting a REAL link would render as an image
    assert (
        html_to_md('<p>go!<a href="http://h.test/">now</a></p>')
        == "go\\![now](http://h.test/)"
    )
    # destinations keep & and ~ byte-exact
    md = html_to_md('<a href="http://h.test/~u?a=1&amp;b=2">t</a>')
    assert "(http://h.test/~u?a=1&b=2)" in md


def test_double_encoded_entities_stay_literal():
    """&amp;#98; is the literal text '&#98;' (the & was spent by
    &amp;) — the old sequential replace decoded it twice into 'b'."""
    md = html_to_md("<p>&amp;#98;</p>")
    assert _re.sub(r"\\(.)", r"\1", md) == "&#98;"
    md = html_to_md("<p>&amp;amp;</p>")
    assert _re.sub(r"\\(.)", r"\1", md) == "&amp;"
    # hex numeric refs decode (single pass)
    assert html_to_md("<p>&#x41;</p>") == "A"


def test_surrogate_refs_decode_to_replacement_char():
    """&#xD800;-&#xDFFF; (hex or decimal) name lone surrogates, which
    no UTF-8 encoder accepts; WHATWG decodes them to U+FFFD, so one
    such page cannot fail the whole Arrow batch of the UDF."""
    import pyarrow as pa

    md = html_to_md("<p>a &#xD800; b &#57343; c &#xdbff;</p>")
    assert md == "a \ufffd b \ufffd c \ufffd"
    assert pa.array([md]).to_pylist() == [md]
    # the neighbours of the range still decode as themselves
    assert html_to_md("<p>&#xD7FF;&#xE000;</p>") == "\ud7ff\ue000"


def test_bang_escape_stays_out_of_destinations():
    """A ! before [ is escaped in text (image syntax), never inside a
    link destination, which must round-trip byte-exact."""
    md = html_to_md('<a href="http://h.test/a![b">t</a>')
    assert md == "[t](http://h.test/a![b)"
    assert _re.search(MD_LINK_PAT, md).group(2) == "http://h.test/a![b"
    assert html_to_md("<p>x ![y] z</p>") == "x \\!\\[y\\] z"


# ---------------------------------------------------------------------------
# r5: nested lists (single-level-only nesting was an enumerated
# divergence; now innermost-first with CommonMark column indentation)
# ---------------------------------------------------------------------------


def test_nested_lists_indent_to_marker_column():
    md = html_to_md(
        "<ul><li>top<ul><li>childA</li><li>childB</li></ul></li>"
        "<li>next</li></ul>"
    )
    assert md == "- top\n  - childA\n  - childB\n- next"
    # ol parent: 3-column continuation ("1. " is three chars wide)
    md = html_to_md(
        "<ol><li>one<ul><li>childA<ul><li>grand</li></ul></li></ul></li>"
        "<li>two</li></ol>"
    )
    assert md == "1. one\n   - childA\n     - grand\n2. two"
    # mixed: ol nested under ul, start= honored at depth
    md = html_to_md(
        "<ul><li>a<ol start='7'><li>x</li><li>y</li></ol></li></ul>"
    )
    assert md == "- a\n  7. x\n  8. y"


def test_nested_list_items_still_escape_text():
    md = html_to_md("<ul><li>a*b<ul><li>[x](y)</li></ul></li></ul>")
    assert md == "- a\\*b\n  - \\[x\\](y)"


def test_flat_lists_keep_pre_r5_bytes():
    # regression guard: single-level output is byte-identical to the
    # old per-tag passes (goldens elsewhere depend on these shapes)
    assert html_to_md("<ol start='3'><li>a</li><li>b</li></ol>") == "3. a\n4. b"
    assert html_to_md("<ul><li>a</li><li>b</li></ul>") == "- a\n- b"
    assert html_to_md("<li>orphan</li>") == "- orphan"


def test_loose_lists_from_block_items():
    # items with <p> children spread (rehype-remark looseness signal):
    # blank lines between items AND between an item's paragraphs
    md = html_to_md(
        "<ul><li><p>para one</p><p>para two</p></li>"
        "<li><p>second item</p></li></ul>"
    )
    assert md == "- para one\n\n  para two\n\n- second item"
    md = html_to_md("<ol><li><p>a</p><p>b</p></li><li>plain</li></ol>")
    assert md == "1. a\n\n   b\n\n2. plain"
    # a tight child nested in a loose parent keeps its own tightness
    md = html_to_md(
        "<ul><li><p>top</p><ul><li>c1</li><li>c2</li></ul></li>"
        "<li><p>x</p></li></ul>"
    )
    assert md == "- top\n\n  - c1\n  - c2\n\n- x"


def test_link_destinations_with_parens_and_spaces_stay_parseable():
    # wiki-style hrefs would otherwise truncate at the first ')' in
    # every ](...) consumer — percent-encode (RFC 3986-preserving)
    md = html_to_md('<a href="http://x/wiki/A_(band) v2">t</a>')
    assert md == "[t](http://x/wiki/A_%28band%29%20v2)"
    links = _re.findall(MD_LINK_PAT, md)
    assert links == [("t", "http://x/wiki/A_%28band%29%20v2")]
    md = html_to_md('<img src="http://x/i (1).png" alt="a">')
    assert md == "![a](http://x/i%20%281%29.png)"


# ---------------------------------------------------------------------------
# r5 review fixes: entity-forged sentinels, unclosed <li>, script-safe
# head scan, lookbehind conservatism
# ---------------------------------------------------------------------------


def test_numeric_entities_cannot_forge_sentinels():
    # '&#3;' would decode to the \x03 syntax mark AFTER the control
    # sweep, un-escaping hostile brackets; '&#0;7&#0;' would alias a
    # stash placeholder and crash the restore
    md = html_to_md("<p>&#3;[x&#3;](http://evil.test/)</p>")
    assert _re.findall(MD_LINK_PAT, md) == [], md
    assert html_to_md("<p>a&#0;7&#0;b</p>") == "a7b"
    # legit numeric refs still decode
    assert html_to_md("<p>&#7879;</p>") == "ệ"


def test_unclosed_li_keeps_content():
    # </li> is optional HTML5; items must not vanish
    assert html_to_md("<ul><li>alpha<li>beta</ul>") == "- alpha\n- beta"
    assert (
        html_to_md("<ol><li>a<li>b</ol>") == "1. a\n2. b"
    )
    # mixed closed/unclosed
    assert html_to_md("<ul><li>a</li><li>b<li>c</ul>") == "- a\n- b\n- c"


def test_head_scan_ignores_body_inside_scripts():
    from crawler_spark.functions.html import page_directives

    html = (
        '<head><script>var t = "<body>template";</script>'
        '<meta name="robots" content="noindex"></head><body>x'
    )
    assert page_directives(html) == (True, False, None)
    # commented-out </head> is not the boundary either
    html = (
        "<head><!-- </head> --><meta name='robots' content='nofollow'>"
        "</head><body>"
    )
    assert page_directives(html) == (False, True, None)


def test_escaped_backslash_before_link_is_conservative():
    # documented one-char-lookbehind limit: the link after a literal
    # backslash is NOT discovered (never the unsafe direction)
    md = html_to_md('<p>path C:\\<a href="http://x.test/">link</a></p>')
    assert _re.findall(MD_LINK_PAT, md) == []
    assert "http://x.test/" in md  # the text itself survives
