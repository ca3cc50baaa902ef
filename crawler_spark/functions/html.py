"""C16 HTML→Markdown (`src/lib/md/remark.ts:9-26`).

The reference converts fetched HTML to markdown through a unified
pipeline (rehype-parse → remove comments → rehype-remark → gfm →
smartypants → stringify). Executing that pipeline for byte goldens is
environment-blocked (npm cannot reach the registry from this sandbox),
so this module defines a *deterministic* subset converter covering the
constructs the crawled sites emit, extended in r3 (VERDICT r2 #4) with
the GFM + smartypants semantics of the published plugins:

  * blocks: headings, paragraphs, blockquotes, unordered + ordered
    lists, ``<hr>`` → ``***`` (remark-stringify default), ``<pre>`` →
    fenced code blocks;
  * GFM: ``<table>`` → pipe tables with ``align`` / ``text-align``
    column alignment and ``\\|`` cell escaping; ``<del>/<s>`` → ``~~``
    strikethrough; ``<code>`` → inline code;
  * smartypants (retext-smartypants defaults): straight quotes → curly
    (opener/closer by left context), ``--``/``---`` → em dash, ``...``
    → ellipsis, TeX ``\\`\\``/''`` quotes → curly. Applied to TEXT only:
    code spans/blocks and generated table/hr/URL constructs are
    protected via placeholders, mirroring the pipeline's text-node
    scope;
  * script/style/comment removal; entity unescape.

Markdown-special ESCAPING in text nodes (r5, closing the top
enumerated divergence): remark-stringify escapes characters in plain
text that would otherwise parse as markdown, so HTML text like
``[not a link](x)`` must come out as ``\\[not a link](x)`` — without
this, hostile or merely unlucky page TEXT injects phantom
links/images that the discovery and extraction stages would then
follow. Implemented with a sentinel scheme: every piece of GENERATED
markdown syntax is emitted with a ``\\x03`` mark before each special
character; after smartypants, one escape pass backslash-escapes every
UNMARKED special (``\\ ` * _ [ ]`` anywhere; ``# >`` and ``- +``
bullets and ``1.``/``1)`` enumerators at line start), then marks are
stripped. Code spans/blocks and hr are stash-protected and never
escaped (text-node scope, same as the real pipeline). Control chars
``\\x00-\\x08/\\x0b/\\x0c/\\x0e-\\x1f`` are dropped from the input
first so hostile bytes can't forge placeholders.

Documented subset divergences from the real unified pipeline, shrunk
again in late r5 (the ``!``/``&``/``<``/``~`` after-context escapes
are now implemented — ``!`` before ``[``, ``&`` opening a character
reference, ``<`` when tag/autolink-shaped, and ``~~`` strikethrough
runs, all scoped to text segments so link destinations with ``&``/
``~`` stay byte-exact): remaining are ``(``/``)`` (never escaped —
destinations percent-encode instead, see :func:`_dest`) and setext
``===`` underlines (smartypants already rewrites ``---`` runs to em
dashes; a paragraph-internal line of pure ``=`` stays literal). (The other three
enumerated structural divergences all closed in r5: ``start=``
offsets on ordered lists; nested ``<ul>/<ol>``, now converted
innermost-first with CommonMark continuation-column indentation; and
loose/tight list spacing — items carrying block ``<p>`` children
spread with blank lines, rehype-remark's looseness signal.)

Two surfaces, one spec:

  * :func:`html_to_md` — pure Python (oracle mirror, also usable
    inside any pandas UDF);
  * :func:`html_to_md_udf` — an Arrow-batched ``pandas_udf`` (the
    no-per-row-Python boundary rule: one Python call per batch).

Order of operations matters and is part of the spec: strip
script/style/comments first (their content must never leak), stash
code verbatim, convert tables, then block constructs, then inline
ones, drop remaining tags, unescape entities (so entity-encoded markup
stays literal text), smartypants the text, and finally restore the
protected constructs.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_SCRIPT_RE = re.compile(r"(?is)<(script|style)\b[^>]*>.*?</\1>")
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_PRE_RE = re.compile(r"(?is)<pre\b[^>]*>(?:\s*<code\b[^>]*>)?(.*?)(?:</code>\s*)?</pre>")
_CODE_RE = re.compile(r"(?is)<code\b[^>]*>(.*?)</code>")
_TABLE_RE = re.compile(r"(?is)<table\b[^>]*>(.*?)</table>")
_TR_RE = re.compile(r"(?is)<tr\b[^>]*>(.*?)</tr>")
_CELL_RE = re.compile(r"(?is)<(t[hd])\b([^>]*)>(.*?)</\1>")
_ALIGN_RE = re.compile(r"(?i)(?:align\s*=\s*[\"']?|text-align\s*:\s*)(left|center|right)")
_HEAD_RE = re.compile(r"(?is)<h([1-6])\b[^>]*>(.*?)</h\1>")
_P_RE = re.compile(r"(?is)<p\b[^>]*>(.*?)</p>")
_BR_RE = re.compile(r"(?i)<br\s*/?>")
_HR_RE = re.compile(r"(?i)<hr\b[^>]*/?>")
_STRONG_RE = re.compile(r"(?is)<(?:strong|b)\b[^>]*>(.*?)</(?:strong|b)>")
_EM_RE = re.compile(r"(?is)<(?:em|i)\b[^>]*>(.*?)</(?:em|i)>")
_DEL_RE = re.compile(r"(?is)<(?:del|s|strike)\b[^>]*>(.*?)</(?:del|s|strike)>")
_A_RE = re.compile(r"(?is)<a\b[^>]*?href=[\"']([^\"']*)[\"'][^>]*>(.*?)</a>")
_IMG_TAG_RE = re.compile(r"(?is)<img\b[^>]*/?>")
_PICTURE_RE = re.compile(r"(?is)<picture\b[^>]*>(.*?)</picture>")
_SOURCE_RE = re.compile(r"(?is)<source\b[^>]*/?>")
_FIGURE_RE = re.compile(r"(?is)<figure\b[^>]*>(.*?)</figure>")
_FIGCAP_RE = re.compile(r"(?is)<figcaption\b[^>]*>(.*?)</figcaption>")
_ATTR_RE = re.compile(r"(?s)([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*=\s*(\"[^\"]*\"|'[^']*')")
_LI_RE = re.compile(r"(?is)<li\b[^>]*>(.*?)</li>")
_BQ_RE = re.compile(r"(?is)<blockquote\b[^>]*>(.*?)</blockquote>")
_TAG_RE = re.compile(r"(?s)<[^>]+>")

_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": " ",
    "hellip": "…",
    "ndash": "–",
    "mdash": "—",
}
# ONE pass over named + numeric refs: sequential replace()-then-numeric
# double-decoded "&amp;#98;" into "b" (the HTML answer is the literal
# text "&#98;" — the & was spent by &amp;). A single alternation spends
# each & exactly once.
_ENTITY_RE = re.compile(
    r"&(?:(" + "|".join(_ENTITIES) + r")|#(\d{1,7})|#[xX]([0-9a-fA-F]{1,6}));"
)


def _unescape(t: str) -> str:
    def _sub(m: re.Match) -> str:
        if m.group(1):
            return _ENTITIES[m.group(1)]
        # numeric refs must not re-introduce the control bytes the
        # input sweep removed — '&#3;' would forge a syntax sentinel
        # and '&#0;' a stash placeholder (escape-pass bypass)
        n = int(m.group(2)) if m.group(2) else int(m.group(3), 16)
        if n > 0x10FFFF:
            return ""
        if 0xD800 <= n <= 0xDFFF:
            # a lone surrogate cannot be UTF-8 encoded (the Arrow batch
            # would fail); WHATWG maps surrogate refs to U+FFFD
            return "\ufffd"
        c = chr(n)
        return "" if _CTRL_RE.match(c) else c

    return _ENTITY_RE.sub(_sub, t)


# protected spans during smartypants: placeholders, markdown URLs, and
# table delimiter rows (their --- runs are syntax, not text)
_PROTECT_RE = re.compile(r"(\x00\d+\x00|\]\([^)\s]*\)|^\|[ :\-|]+\|$)", re.M)

# ---- text-node escaping (remark-stringify semantics, r5) -----------------
#: generated-syntax sentinel: \x03 before a special char means "this is
#: markdown the converter emitted, not page text — do not escape it"
_MARKABLE = set("\\`*_[]#>.+-")


def _mark(s: str) -> str:
    """Sentinel-mark every markable char of a GENERATED syntax run (or
    a link destination, whose bytes are literal there)."""
    return "".join(("\x03" + c) if c in _MARKABLE else c for c in s)


def _dest(url: str) -> str:
    """A link DESTINATION: parens and spaces would terminate/break the
    ``](...)`` syntax for every downstream consumer, so percent-encode
    them (semantics-preserving per RFC 3986 — remark-stringify instead
    backslash-escapes parens, which the escape-unaware reference
    cleanup regexes could not read back); then sentinel-mark the
    remaining specials (underscores are common in URLs)."""
    return _mark(
        url.replace("(", "%28").replace(")", "%29").replace(" ", "%20")
    )


def _img_syntax(alt: str, url: str) -> str:
    return "\x03!\x03[" + alt + "\x03](" + _dest(url) + ")"


# specials escaped ANYWHERE in text (remark's always-unsafe set, minus
# the documented subset exclusions); marked occurrences are skipped
_ESC_ANY_RE = re.compile(r"(?<!\x03)([\\`*_\[\]])")
# line-start constructs: ATX #, blockquote >, - / + bullets (before
# space), ordered-list enumerators 1. / 1) (before space)
_ESC_ATX_RE = re.compile(r"(?m)^([ \t]*)([#>])")
_ESC_BULLET_RE = re.compile(r"(?m)^([ \t]*)([-+])(?=[ \t])")
_ESC_ENUM_RE = re.compile(r"(?m)^([ \t]*)(\d{1,9})([.)])(?=[ \t])")
# conditional escapes (r5, closing four more enumerated divergences —
# remark-stringify's after-context patterns):
#   ! only before a bracket (image syntax) — runs AFTER the any-pass,
#     when a text bracket reads \[ and a generated link/image bracket
#     reads \x03[ (a text ! abutting a REAL link would render as an
#     image, so both need the escape); generated image bangs are
#     \x03-marked and skipped; text segments only, since a destination
#     ("/a![b", bracket marked \x03[) must stay byte-exact
_ESC_BANG_RE = re.compile(r"(?<!\x03)!(?=\\\[|\x03\[)")
#   & only when it begins a character reference — the text-node round
#     trip hazard: _unescape turned page text "&amp;amp;" into literal
#     "&amp;", which an unescaped markdown rendering would collapse
#     back to "&"
_ESC_AMP_RE = re.compile(
    r"&(?=[A-Za-z][A-Za-z0-9]{0,31};|#\d{1,7};|#[xX][0-9a-fA-F]{1,6};)"
)
#   < only when tag/autolink-shaped (same round trip: "&lt;div&gt;"
#     became literal "<div>", which markdown would re-parse as raw
#     HTML); "a < b" stays untouched
_ESC_LT_RE = re.compile(r"<(?=[!/?A-Za-z])")
#   ~ runs of >=2 (GFM strikethrough openers): every tilde of the run
#     is escaped; generated ~~ is emitted as \x03~\x03~ (never two
#     adjacent tilde bytes), so it can't match
_ESC_TILDE_RE = re.compile(r"(?<!\x03)~{2,}")


def _escape_md(t: str) -> str:
    t = _ESC_ANY_RE.sub(r"\\\1", t)
    t = _ESC_ATX_RE.sub(r"\1\\\2", t)
    t = _ESC_BULLET_RE.sub(r"\1\\\2", t)
    t = _ESC_ENUM_RE.sub(r"\1\2\\\3", t)
    # the after-context escapes run on TEXT segments only (same
    # _PROTECT_RE scope as smartypants): link DESTINATIONS legitimately
    # contain !, & and ~ ("?a=1&b=2", "/~user/") and must stay byte-exact
    parts = _PROTECT_RE.split(t)
    for i in range(0, len(parts), 2):
        s = parts[i]
        s = _ESC_BANG_RE.sub(r"\\!", s)
        s = _ESC_AMP_RE.sub(r"\\&", s)
        s = _ESC_LT_RE.sub(r"\\<", s)
        s = _ESC_TILDE_RE.sub(lambda m: r"\~" * len(m.group(0)), s)
        parts[i] = s
    return "".join(parts)


def _smartypants(t: str) -> str:
    """retext-smartypants defaults on text segments: TeX backtick
    quotes, ellipses, em dashes, curly quotes (opener when preceded by
    start/whitespace/open-bracket/dash, else closer)."""
    parts = _PROTECT_RE.split(t)
    for i in range(0, len(parts), 2):
        s = parts[i]
        s = s.replace("``", "\u201c").replace("''", "\u201d")
        s = s.replace("...", "…")
        s = re.sub(r"(?<![-|])-{2,3}(?![-|])", "—", s)
        s = re.sub(r'(?m)(^|[\s(\[{\u2014\u2013])"', "\\1\u201c", s)
        s = s.replace('"', "\u201d")
        s = re.sub(r"(?m)(^|[\s(\[{\u2014\u2013])'", "\\1\u2018", s)
        s = s.replace("'", "\u2019")
        parts[i] = s
    return "".join(parts)


# --------------------------------------------------------------------------
# Real-web image discovery: srcset / <picture> / lazy-load / <figcaption>
# --------------------------------------------------------------------------

#: lazy-loading attribute fallbacks, checked in this order (the common
#: loader conventions: lazysizes, jquery.lazyload, WP themes)
LAZY_SRC_ATTRS = ("data-src", "data-lazy-src", "data-original")


def _tag_attrs(tag_text: str) -> dict[str, str]:
    """Quoted attributes of one tag → {name.lower(): value}."""
    return {
        m.group(1).lower(): m.group(2)[1:-1]
        for m in _ATTR_RE.finditer(tag_text)
    }


def _is_placeholder(url: str | None) -> bool:
    """Lazy-loader stand-ins that must never reach the frontier:
    empty, inline data URIs (1px gifs), about:blank."""
    if not url:
        return True
    u = url.strip().lower()
    return u == "" or u.startswith("data:") or u.startswith("about:")


# --------------------------------------------------------------------------
# On-page crawl directives: <meta name=robots>, X-Robots-Tag, rel=canonical
# (public conventions: HTML spec + the REP meta/header extensions all
# major engines document). Subset notes: agent-scoped X-Robots-Tag rows
# ("googlebot: noindex") apply to ALL agents here; the scan is bounded
# at the end of <head> (see _head_scan) per spec head-only semantics.
# --------------------------------------------------------------------------

_META_TAG_RE = re.compile(r"(?is)<meta\b[^>]*>")
_LINK_TAG_RE = re.compile(r"(?is)<link\b[^>]*>")
_HEAD_END_RE = re.compile(r"(?is)</head\s*>|<body\b")


def _head_scan(html: str) -> str:
    """The slice of ``html`` where head metadata lives: up to the end
    of ``<head>`` (or the first ``<body``) wherever that is — inlined
    CSS/JSON-LD can push it megabytes in — falling back to the first
    64 KiB only when the document never closes its head. A fixed
    64 KiB bound alone silently drops a late <meta name=robots> and
    admits an opted-out page.

    Scripts and comments are stripped from the scanned window FIRST
    (bounded at 1 MiB): a '<body' or '</head>' inside a JS template
    string or commented-out markup is content, not the head boundary —
    stopping there hid later robots metas (r5 review), and the strip
    also keeps the downstream meta/link/base finders from reading
    tags inside script text."""
    window = _COMMENT_RE.sub("", _SCRIPT_RE.sub("", html[: 1 << 20]))
    m = _HEAD_END_RE.search(window)
    if m is not None:
        return window[: m.start()]
    return window[:65536]
# quoted OR unquoted values — unquoted attributes are valid HTML5 and
# common in the wild; a directive parser that misses <meta name=robots
# content=noindex> silently indexes pages that opted out
_ATTR_ANY_RE = re.compile(
    r"""([a-zA-Z-]+)\s*=\s*("[^"]*"|'[^']*'|[^\s"'=<>`]+)"""
)

#: directive tokens that matter to a crawler; everything else
#: (nosnippet, noarchive, max-image-preview:…) is indexing-UI noise
_NOINDEX_TOKENS = {"noindex", "none"}
_NOFOLLOW_TOKENS = {"nofollow", "none"}


def _tag_attrs_any(tag_text: str) -> dict[str, str]:
    return {
        m.group(1).lower(): (
            m.group(2)[1:-1] if m.group(2)[:1] in "\"'" else m.group(2)
        )
        for m in _ATTR_ANY_RE.finditer(tag_text)
    }


def _robots_tokens(value: str) -> set[str]:
    """Comma-separated directive list → lowercase token set. An
    optional leading agent scope ("googlebot: noindex") is stripped;
    parameterized tokens ("unavailable_after: <date>") are ignored."""
    toks: set[str] = set()
    for i, part in enumerate(value.split(",")):
        p = part.strip().lower()
        if i == 0 and ":" in p:
            head, _, tail = p.partition(":")
            if head.strip() not in _NOINDEX_TOKENS | _NOFOLLOW_TOKENS | {
                "all", "index", "follow", "unavailable_after",
            }:
                p = tail.strip()  # agent scope, not a directive
        if ":" in p:  # parameterized (unavailable_after etc.)
            continue
        if p:
            toks.add(p)
    return toks


def page_directives(
    html: str | None, x_robots: str | None = None
) -> tuple[bool, bool, str | None]:
    """(noindex, nofollow, canonical_href) for one fetched page.

    Union of every <meta name=robots> tag and the X-Robots-Tag header
    — most-restrictive wins across sources (the documented conflict
    rule). canonical is the FIRST <link rel=canonical href=…>;
    relative hrefs are returned as-is (the caller resolves against
    the page URL)."""
    noindex = nofollow = False
    canonical: str | None = None
    if x_robots:
        toks = _robots_tokens(x_robots)
        noindex |= bool(toks & _NOINDEX_TOKENS)
        nofollow |= bool(toks & _NOFOLLOW_TOKENS)
    if html:
        head = _head_scan(html)  # directives live in <head>
        for m in _META_TAG_RE.finditer(head):
            a = _tag_attrs_any(m.group(0))
            if a.get("name", "").strip().lower() != "robots":
                continue
            toks = _robots_tokens(a.get("content", ""))
            noindex |= bool(toks & _NOINDEX_TOKENS)
            nofollow |= bool(toks & _NOFOLLOW_TOKENS)
        for m in _LINK_TAG_RE.finditer(head):
            a = _tag_attrs_any(m.group(0))
            rels = set(a.get("rel", "").lower().split())
            if "canonical" in rels and a.get("href"):
                canonical = a["href"].strip()
                break
    return noindex, nofollow, canonical


#: link-level rel values that take a link out of discovery
NOFOLLOW_RELS = {"nofollow", "ugc", "sponsored"}


_BASE_TAG_RE = re.compile(r"(?is)<base\b[^>]*>")


def base_href(html: str | None) -> str | None:
    """The first ``<base href>`` (HTML spec: only the first counts).
    May itself be relative — callers resolve it against the document
    URI before using it as the resolution base."""
    if not html:
        return None
    m = _BASE_TAG_RE.search(_head_scan(html))
    if m is None:
        return None
    href = _tag_attrs_any(m.group(0)).get("href", "").strip()
    return href or None


def social_image(html: str | None) -> tuple[str, str] | None:
    """The page-declared representative image: (url, caption) from
    Open Graph / Twitter Card meta tags, or None.

    Resolution (documented, deterministic): first ``og:image`` (or
    ``og:image:url``/``og:image:secure_url``), falling back to
    ``twitter:image``; caption is ``og:image:alt`` else
    ``twitter:image:alt`` else ``og:title`` else "". Both
    ``property=`` (OG spec) and ``name=`` (common in the wild) are
    accepted. This is head metadata html_to_md never sees — most
    modern pages declare their canonical image+caption pair HERE, not
    in an <img> tag."""
    if not html:
        return None
    og = tw = alt_img = alt_tw = title = None
    for m in _META_TAG_RE.finditer(_head_scan(html)):
        a = _tag_attrs_any(m.group(0))
        key = (a.get("property") or a.get("name") or "").strip().lower()
        content = a.get("content", "").strip()
        if not content:
            continue
        if key in ("og:image", "og:image:url", "og:image:secure_url"):
            og = og or content
        elif key == "twitter:image":
            tw = tw or content
        elif key == "og:image:alt":
            alt_img = alt_img or content
        elif key == "twitter:image:alt":
            alt_tw = alt_tw or content
        elif key == "og:title":
            title = title or content
    url = og or tw  # og wins regardless of document order
    if url is None:
        return None
    return url, (alt_img or alt_tw or title or "")


_DATA_URI_RE = re.compile(r"^data:([^,]*),(.*)$", re.S)


def parse_data_uri(url: str) -> tuple[str, bytes] | None:
    """RFC 2397 data URI → (mediatype, payload bytes), or None when it
    doesn't parse. Handles the ``;base64`` encoding (whitespace
    tolerant, as browsers are) and the percent-encoded text form."""
    m = _DATA_URI_RE.match(url.strip())
    if m is None:
        return None
    meta, raw = m.group(1), m.group(2)
    parts = [p.strip() for p in meta.split(";") if p.strip()]
    is_b64 = bool(parts) and parts[-1].lower() == "base64"
    mediatype = (parts[0] if parts and "/" in parts[0] else "text/plain").lower()
    try:
        if is_b64:
            import base64

            s = re.sub(r"\s+", "", raw)
            s += "=" * (-len(s) % 4)  # browsers tolerate missing padding
            payload = base64.b64decode(s, validate=True)
        else:
            from urllib.parse import unquote_to_bytes

            payload = unquote_to_bytes(raw)
    except (ValueError, TypeError):
        return None
    return mediatype, payload


def substantive_data_uri(url: str) -> bool:
    """True when an inline data URI carries a REAL image: the payload
    header-probes as a registry format (magic bytes, never the
    mediatype label — the real web lies there too) with claimed
    dimensions above the tracker/placeholder floor: BOTH dimensions
    must exceed 2 px (1×1/2×2 beacons AND 1×N spacer/divider strips
    are loader/layout noise; anything genuinely 2-D is content a
    crawler would have fetched from a URL)."""
    parsed = parse_data_uri(url)
    if parsed is None:
        return False
    from crawler_spark.functions.images import probe_image

    probe = probe_image(parsed[1])
    return probe is not None and min(probe[1], probe[2]) > 2


_SRCSET_WS = " \t\n\r\f"


def split_srcset(value: str) -> list[tuple[str, str]]:
    """HTML-spec srcset tokenizer ("parse a srcset attribute",
    HTML §4.8.4.3.10) → ``[(url, descriptor)]``.

    A candidate URL is a run of NON-WHITESPACE characters — never a
    naive comma split — so a ``data:`` URI with its mandatory embedded
    comma (the lazysizes placeholder convention) survives as one
    token. A comma only separates candidates when it trails the URL
    token or sits in descriptor position at paren depth 0."""
    out: list[tuple[str, str]] = []
    i, n = 0, len(value)
    while i < n:
        while i < n and (value[i] in _SRCSET_WS or value[i] == ","):
            i += 1
        if i >= n:
            break
        start = i
        while i < n and value[i] not in _SRCSET_WS:
            i += 1
        url = value[start:i]
        desc = ""
        if url.endswith(","):
            url = url.rstrip(",")
        else:
            dstart, depth = i, 0
            while i < n:
                c = value[i]
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth = max(0, depth - 1)
                elif c == "," and depth == 0:
                    i += 1
                    break
                i += 1
            desc = value[dstart:i].strip().rstrip(",").strip()
        if url:
            out.append((url, desc))
    return out


def parse_srcset(value: str) -> list[tuple[str, float, str]]:
    """HTML-spec srcset grammar (comma-separated image candidate
    strings, each ``URL [Nw | Nx]``) → [(url, weight, kind)] where
    kind is ``"w"``/``"x"``/``""``. Whitespace-tolerant; candidates
    whose URL is a placeholder are dropped. Tokenized by
    :func:`split_srcset` so data-URI candidates (placeholders or
    real payloads) stay whole instead of fragmenting at their base64
    comma."""
    out: list[tuple[str, float, str]] = []
    for url, desc in split_srcset(value):
        if _is_placeholder(url):
            continue
        weight, kind = 1.0, ""
        dtoks = desc.split()
        if dtoks:
            m = re.fullmatch(r"([0-9]+(?:\.[0-9]+)?)([wx])", dtoks[0].lower())
            if m:
                weight, kind = float(m.group(1)), m.group(2)
        out.append((url, weight, kind))
    return out


def _best_srcset(value: str) -> str | None:
    """Pick the highest-resolution candidate: width descriptors first
    (largest ``w``), then density (largest ``x``), else first listed."""
    cands = parse_srcset(value)
    if not cands:
        return None
    ws = [c for c in cands if c[2] == "w"]
    if ws:
        return max(ws, key=lambda c: c[1])[0]
    xs = [c for c in cands if c[2] == "x"]
    if xs:
        return max(xs, key=lambda c: c[1])[0]
    return cands[0][0]


def resolve_img(tag_text: str) -> tuple[str, str]:
    """One ``<img …>`` tag → (best_url, alt).

    Resolution order (deterministic, documented): largest srcset /
    data-srcset candidate; else ``src`` when it isn't a lazy-loader
    placeholder; else the data-src fallbacks; else the raw ``src``
    (legacy passthrough so pre-existing goldens keep their bytes)."""
    a = _tag_attrs(tag_text)
    alt = a.get("alt", "")
    for attr in ("srcset", "data-srcset"):
        if attr in a:
            best = _best_srcset(a[attr])
            if best is not None:
                return best, alt
    src = a.get("src", "")
    if not _is_placeholder(src):
        return src, alt
    for attr in LAZY_SRC_ATTRS:
        if not _is_placeholder(a.get(attr)):
            return a[attr], alt
    return src, alt


def _picture_md(inner: str) -> str:
    """<picture>: first <source> with a usable srcset wins (browser
    source-selection order), falling back to the inner <img>; alt
    always comes from the <img>."""
    img = _IMG_TAG_RE.search(inner)
    url, alt = resolve_img(img.group(0)) if img else ("", "")
    for sm in _SOURCE_RE.finditer(inner):
        sa = _tag_attrs(sm.group(0))
        best = _best_srcset(sa.get("srcset", ""))
        if best is not None:
            url = best
            break
    return _img_syntax(alt, url)


def _figure_md(m: re.Match) -> str:
    """<figure>: the figcaption text becomes the image caption (alt
    slot) — it outranks alt, which real pages leave empty or stuff
    with filenames. Non-image figure content survives for the later
    passes."""
    inner = m.group(1)
    capm = _FIGCAP_RE.search(inner)
    rest = _FIGCAP_RE.sub("", inner)
    pm = _PICTURE_RE.search(rest)
    if pm:
        md = _picture_md(pm.group(1))
        rest = _PICTURE_RE.sub("", rest, count=1)
    else:
        im = _IMG_TAG_RE.search(rest)
        if im is None:
            return m.group(0)  # no image: leave for the block passes
        url, alt = resolve_img(im.group(0))
        md = _img_syntax(alt, url)
        rest = _IMG_TAG_RE.sub("", rest, count=1)
    if capm:
        caption = re.sub(r"\s+", " ", _TAG_RE.sub("", capm.group(1))).strip()
        if caption:
            # syntax is \x03-marked: ![ is "\x03!\x03[", ] is "\x03]"
            md = re.sub(
                r"^\x03!\x03\[(?:[^\x03]|\x03(?!\]))*\x03\]",
                lambda _m: "\x03!\x03[" + caption + "\x03]",
                md,
            )
    rest = rest.strip()
    return f"\n\n{md}\n\n{rest}\n\n" if rest else f"\n\n{md}\n\n"


def _cell_text(raw: str) -> str:
    """One-line cell content: inner tags stay for the later inline
    passes; whitespace collapses; pipes escape (GFM) — with the
    escaping backslash marked so the text-escape pass won't double it."""
    return re.sub(r"\s+", " ", raw).strip().replace("|", "\x03\\|")


def _table_md(m: re.Match) -> str:
    rows: list[list[str]] = []
    aligns: list[str] = []
    for rm in _TR_RE.finditer(m.group(1)):
        cells = []
        for cm in _CELL_RE.finditer(rm.group(1)):
            if not rows:
                am = _ALIGN_RE.search(cm.group(2))
                aligns.append(am.group(1).lower() if am else "")
            cells.append(_cell_text(cm.group(3)))
        if cells:
            rows.append(cells)
    if not rows:
        return ""
    ncol = max(len(r) for r in rows)
    delim = {"": "---", "left": ":--", "center": ":-:", "right": "--:"}
    aligns += [""] * (ncol - len(aligns))
    lines = []
    for ri, r in enumerate(rows):
        r = r + [""] * (ncol - len(r))
        lines.append("| " + " | ".join(r) + " |")
        if ri == 0:
            lines.append("| " + " | ".join(delim[a] for a in aligns) + " |")
    return "\n".join(lines)


def _list_item(marker: str, content: str, spread: bool) -> str:
    """One list item: the marker, then the item's lines with
    continuation lines indented to the marker's visible width — this
    is what nests an already-converted CHILD list under its parent
    item (CommonMark column alignment, remark's output shape). A
    SPREAD item (it contained block ``<p>`` children — rehype-remark's
    looseness signal) keeps the blank lines between its paragraphs;
    a tight one drops them."""
    raw = [ln.rstrip() for ln in content.strip().split("\n")]
    lines: list[str] = []
    for ln in raw:
        if ln.strip():
            lines.append(ln)
        elif spread and lines and lines[-1]:
            lines.append("")  # paragraph break inside a loose item
    while lines and not lines[-1]:
        lines.pop()
    if not lines:
        lines = [""]
    pad = " " * len(marker.replace("\x03", ""))
    return marker + lines[0] + "".join(
        "\n" + (pad + ln if ln else "") for ln in lines[1:]
    )


_LIST_TAG_RE = re.compile(r"(?is)<(/?)(ul|ol)\b([^>]*)>")


def _convert_lists(t: str) -> str:
    """Innermost-first <ul>/<ol> conversion (nested lists were an
    enumerated subset divergence until r5). The first close tag after
    a run of opens delimits an innermost list — convert it in place,
    repeat; an outer list's items then carry their converted children
    as markdown lines, which :func:`_list_item` indents. Single-level
    output bytes are identical to the pre-r5 passes (ol gets the
    block \\n\\n wrapper, ul items each start on their own line)."""
    while True:
        stack: list[re.Match] = []
        pair = None
        for m in _LIST_TAG_RE.finditer(t):
            if not m.group(1):
                stack.append(m)
            elif stack:
                pair = (stack.pop(), m)
                break
        if pair is None:
            return t
        o, c = pair
        inner = t[o.end() : c.start()]
        # loose vs tight (remark-stringify): a list whose items carry
        # block <p> children is SPREAD — items separate with blank
        # lines and keep their internal paragraph breaks. Convert the
        # items' <p> blocks here (they are list CONTENT, and the
        # global paragraph pass would otherwise break the indentation
        # it runs after).
        loose = bool(_P_RE.search(inner))
        if loose:
            inner = _P_RE.sub(
                lambda m: "\n\n" + m.group(1).strip() + "\n\n", inner
            )
        sep = "\n\n" if loose else "\n"
        # </li> is optional per HTML5 and commonly omitted: split on
        # the OPEN tags, then cut each chunk at its close tag when one
        # exists — identical items to the strict findall for
        # well-formed lists, no content loss for unclosed ones
        items = [
            re.split(r"(?is)</li\s*>", chunk)[0]
            for chunk in re.split(r"(?is)<li\b[^>]*>", inner)[1:]
        ]
        if o.group(2).lower() == "ol":
            # honor start= (rehype-remark carries it into the mdast
            # list node and remark-stringify numbers items from it) —
            # was itself an enumerated divergence until r5
            try:
                start = int(
                    _tag_attrs_any("<ol" + o.group(3) + ">").get("start", "1")
                )
            except ValueError:
                start = 1
            md = (
                "\n\n"
                + sep.join(
                    _list_item(f"{start + i}\x03. ", it, loose)
                    for i, it in enumerate(items)
                )
                + "\n\n"
            )
        else:
            md = "".join(
                ("\n\n" if loose else "\n") + _list_item("\x03- ", it, loose)
                for it in items
            )
        t = t[: o.start()] + md + t[c.end() :]


_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")


def html_to_md(html: str) -> str:
    # hostile bytes must not forge stash placeholders / syntax marks
    t = _CTRL_RE.sub("", html)
    t = _SCRIPT_RE.sub("", t)
    t = _COMMENT_RE.sub("", t)

    stash: list[str] = []

    def _keep(md: str) -> str:
        stash.append(md)
        return f"\x00{len(stash) - 1}\x00"

    # code is stashed VERBATIM (entities unescaped, no inline/quote
    # processing may touch it — text-node scope of the real pipeline)
    t = _PRE_RE.sub(
        lambda m: "\n\n"
        + _keep("```\n" + _unescape(_TAG_RE.sub("", m.group(1))).strip("\n") + "\n```")
        + "\n\n",
        t,
    )
    t = _CODE_RE.sub(lambda m: _keep("`" + _unescape(m.group(1)) + "`"), t)
    # tables: generated pipe/dash syntax must survive smartypants —
    # stash after the inline passes run on the assembled block
    tables: list[str] = []

    def _table_stash(m: re.Match) -> str:
        tables.append(_table_md(m))
        return f"\n\n\x01{len(tables) - 1}\x01\n\n"

    t = _TABLE_RE.sub(_table_stash, t)
    # figures/pictures before the generic block+inline passes: they
    # own their inner <img>/<figcaption> (caption pairing + srcset)
    t = _FIGURE_RE.sub(_figure_md, t)
    t = _PICTURE_RE.sub(lambda m: _picture_md(m.group(1)), t)
    # block constructs
    t = _HEAD_RE.sub(lambda m: "\n\n" + _mark("#" * int(m.group(1))) + " " + m.group(2).strip() + "\n\n", t)
    t = _BQ_RE.sub(lambda m: "\n\n\x03> " + m.group(1).strip() + "\n\n", t)
    t = _convert_lists(t)
    # orphan <li> outside any list container (wild-web HTML)
    t = _LI_RE.sub(lambda m: "\n\x03- " + m.group(1).strip(), t)
    t = _P_RE.sub(lambda m: "\n\n" + m.group(1).strip() + "\n\n", t)
    t = _BR_RE.sub("\n", t)
    t = _HR_RE.sub(lambda _m: "\n\n" + _keep("***") + "\n\n", t)

    # re-inject assembled tables so their CELLS get the inline passes
    def _table_restore(m: re.Match) -> str:
        return tables[int(m.group(1))]

    t = re.sub(r"\x01(\d+)\x01", _table_restore, t)
    # inline constructs (image before link: <img> has no closing </a>
    # clash). resolve_img handles srcset + lazy-load fallbacks; an img
    # that resolves to nothing but a data-URI placeholder is loader
    # noise (the real URL lives in a sibling the loader fills in) —
    # keep its alt text, never the placeholder URL. EXCEPTION: a data
    # URI whose payload header-probes as a real image above the 1-2px
    # tracker floor is inline CONTENT (small logos/icons ship this
    # way) — it keeps its markdown row and is ingested downstream
    # without a fetch (operators/images_pipeline.ingest_data_uris).
    def _img_md(m: re.Match) -> str:
        url, alt = resolve_img(m.group(0))
        if _is_placeholder(url) and url != "":
            if url.strip().lower().startswith("data:") and substantive_data_uri(url):
                return _img_syntax(alt, url.strip())
            return alt
        return _img_syntax(alt, url)

    t = _IMG_TAG_RE.sub(_img_md, t)

    # rel=nofollow/ugc/sponsored: the author disavows the link — keep
    # the anchor TEXT (it is content) but never the URL, so discovery
    # (which reads markdown links) structurally cannot follow it
    def _a_md(m: re.Match) -> str:
        open_tag = m.group(0)[: m.group(0).find(">") + 1]
        rel = _tag_attrs_any(open_tag).get("rel")
        if rel and set(re.split(r"[\s,]+", rel.lower())) & NOFOLLOW_RELS:
            return m.group(2).strip()
        return "\x03[" + m.group(2).strip() + "\x03](" + _dest(m.group(1)) + ")"

    t = _A_RE.sub(_a_md, t)
    t = _STRONG_RE.sub(lambda m: "\x03*\x03*" + m.group(1).strip() + "\x03*\x03*", t)
    t = _EM_RE.sub(lambda m: "\x03*" + m.group(1).strip() + "\x03*", t)
    t = _DEL_RE.sub(
        lambda m: "\x03~\x03~" + m.group(1).strip() + "\x03~\x03~", t
    )
    # drop everything else, then entities
    t = _TAG_RE.sub("", t)
    t = _unescape(t)
    t = re.sub(r"[ \t]+\n", "\n", t)
    t = re.sub(r"\n{3,}", "\n\n", t)
    t = _smartypants(t)
    # escape markdown specials in what remains as TEXT (generated
    # syntax is \x03-marked and skipped), then drop the marks
    t = _escape_md(t).replace("\x03", "")
    t = re.sub(r"\x00(\d+)\x00", lambda m: stash[int(m.group(1))], t)
    return t.strip()


@pandas_udf(StringType())  # DataType object: no active-session DDL parse at import
def html_to_md_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched conversion — one Python invocation per batch."""
    return s.map(lambda x: html_to_md(x) if x is not None else None)
