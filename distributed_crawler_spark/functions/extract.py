"""HTML parsing / text extraction — the engine's only heavy Python path,
run as vectorized Arrow pandas UDFs (BASELINE.json:input_hint: no per-row
Python UDFs).

Reproduces the reference's two extraction paths:
  * regex path   — /root/reference/src/common/utils.py:44-51
    (strip tags → collapse whitespace → strip)
  * soup path    — /root/reference/src/indexer/indexer_node.py:133-158
    (drop <script>/<style>, get_text, split lines, split double-space
    chunks, join non-blank chunks with '\\n') — this is the
    byte-identical-extracted-text target.
  * page parse   — /root/reference/src/crawler/crawler_node.py:86-129
    (title / meta description / meta keywords / html@lang / a@href links,
    urljoin-resolved, http(s)-only, normalized; list fields joined with
    ' ' after strip).

The container has no lxml/selectolax/bs4, so parsing uses the stdlib
``html.parser`` state machine — still batch-amortized via Arrow: one
Python invocation per ~10k-row Arrow batch, not per row. On a real
cluster, swapping ``_PageParser`` for selectolax is a one-function change.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from .urls import normalize_url_py

class _PageParser(HTMLParser):
    """One-pass collector: text nodes (minus script/style), <title> text,
    meta description/keywords, html@lang, a@href in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.text_parts: list[str] = []
        self.title_parts: list[str] = []
        self.descriptions: list[str] = []
        self.keywords: list[str] = []
        self.hrefs: list[str] = []
        self.lang: str | None = None
        self._skip_depth = 0          # inside <script>/<style>
        self._title_depth = 0

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in ("script", "style"):
            self._skip_depth += 1
            return
        if tag == "title":
            self._title_depth += 1
        elif tag == "a":
            for k, v in attrs:
                if k == "href" and v is not None:
                    self.hrefs.append(v)
        elif tag == "meta":
            d = dict(attrs)
            name = (d.get("name") or "").lower()
            content = d.get("content")
            if content is not None:
                if name == "description":
                    self.descriptions.append(content)
                elif name == "keywords":
                    self.keywords.append(content)
        elif tag == "html" and self.lang is None:
            for k, v in attrs:
                if k == "lang" and v:
                    self.lang = v

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        self.handle_starttag(tag, attrs)
        if tag in ("script", "style"):
            self._skip_depth -= 1

    def handle_endtag(self, tag: str) -> None:
        if tag in ("script", "style"):
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "title":
            self._title_depth = max(0, self._title_depth - 1)

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        self.text_parts.append(data)
        if self._title_depth:
            self.title_parts.append(data)


# ---------------------------------------------------------------------------
# Python reference implementations (used by the UDFs, the corpus generator,
# and the pytest golden fixtures).
# ---------------------------------------------------------------------------

def extract_text_regex_py(html: str | None) -> str | None:
    """Regex path parity with utils.py:44-51: tags → space, collapse
    whitespace, strip. Script/style contents LEAK into the text here,
    exactly as in the reference."""
    if html is None:
        return None
    text = re.sub(r"<[^>]+>", " ", html)
    return re.sub(r"\s+", " ", text).strip()


def extract_text_soup_py(html: str | None) -> str | None:
    """Soup path parity with indexer_node.py:133-158: decompose
    script/style, get_text, line-split, double-space chunk-split, join
    non-blank chunks with newlines. (Comments are excluded; fixture HTML
    avoids the bs4 comment ambiguity.)"""
    if html is None:
        return None
    if not html:
        return ""
    try:
        p = _parse_collected(html)
    except Exception:
        return html
    text = "".join(p.text_parts)
    lines = (line.strip() for line in text.splitlines())
    chunks = (phrase.strip() for line in lines for phrase in line.split("  "))
    return "\n".join(chunk for chunk in chunks if chunk)


class _FallbackToFull(Exception):
    """Raised by the fast scanner on constructs it doesn't handle
    byte-identically (quotes spanning '>', truncated tags) — the slow
    HTMLParser path takes over for that document."""


_ATTR_RE = re.compile(
    r"""([a-zA-Z-]+)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]*))"""
)
_TAGNAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9-]*")


def _fast_scan(html: str) -> _PageParser:
    """C-speed (str.find-driven) scan producing the same collected state
    as feeding ``_PageParser``; raises _FallbackToFull on anything the
    naive tokenizer could get wrong. ~4x faster than html.parser on
    typical pages — this is the engine's hottest loop at 10^10 pages."""
    out = _PageParser.__new__(_PageParser)
    text_parts: list[str] = []
    title_parts: list[str] = []
    out.text_parts = text_parts
    out.title_parts = title_parts
    out.descriptions = []
    out.keywords = []
    out.hrefs = []
    out.lang = None

    find = html.find
    n = len(html)
    i = 0
    while i < n:
        lt = find("<", i)
        if lt < 0:
            chunk = html[i:]
            if chunk:
                text_parts.append(unescape(chunk) if "&" in chunk else chunk)
            break
        if lt > i:
            chunk = html[i:lt]
            text_parts.append(unescape(chunk) if "&" in chunk else chunk)
        nxt = html[lt + 1 : lt + 2]
        if nxt == "!":
            if html.startswith("<!--", lt):
                end = find("-->", lt + 4)
                if end < 0:
                    raise _FallbackToFull
                i = end + 3
            else:  # doctype / CDATA-ish
                gt = find(">", lt)
                if gt < 0:
                    raise _FallbackToFull
                i = gt + 1
            continue
        if nxt == "?":
            gt = find(">", lt)
            if gt < 0:
                raise _FallbackToFull
            i = gt + 1
            continue
        gt = find(">", lt)
        if gt < 0:
            raise _FallbackToFull
        body = html[lt + 1 : gt]
        # a quoted attribute containing '>' would make this split wrong
        if body.count('"') % 2 or body.count("'") % 2:
            raise _FallbackToFull
        i = gt + 1
        if body.startswith("/"):
            continue
        m = _TAGNAME_RE.match(body)
        if not m:
            # HTMLParser treats '<' not followed by a name as text — rare
            raise _FallbackToFull
        name = m.group(0).lower()
        if name in ("script", "style"):
            if body.endswith("/"):
                continue
            close = html.lower().find("</" + name, i)
            if close < 0:
                raise _FallbackToFull
            cgt = find(">", close)
            if cgt < 0:
                raise _FallbackToFull
            i = cgt + 1
        elif name == "title":
            close = html.lower().find("</title", i)
            if close < 0:
                raise _FallbackToFull
            content = html[i:close]
            if "<" in content:
                raise _FallbackToFull
            if content:
                decoded = unescape(content) if "&" in content else content
                title_parts.append(decoded)
                text_parts.append(decoded)
            cgt = find(">", close)
            if cgt < 0:
                raise _FallbackToFull
            i = cgt + 1
        elif name == "a":
            for am in _ATTR_RE.finditer(body, m.end()):
                if am.group(1).lower() == "href":
                    v = am.group(2) or am.group(3) or am.group(4) or ""
                    out.hrefs.append(unescape(v) if "&" in v else v)
                    break
        elif name == "meta":
            attrs = {
                am.group(1).lower(): (am.group(2) or am.group(3) or am.group(4) or "")
                for am in _ATTR_RE.finditer(body, m.end())
            }
            content = attrs.get("content")
            if content is not None:
                if "&" in content:
                    content = unescape(content)
                mname = (attrs.get("name") or "").lower()
                if mname == "description":
                    out.descriptions.append(content)
                elif mname == "keywords":
                    out.keywords.append(content)
        elif name == "html" and out.lang is None:
            for am in _ATTR_RE.finditer(body, m.end()):
                if am.group(1).lower() == "lang":
                    v = am.group(2) or am.group(3) or am.group(4) or ""
                    if v:
                        out.lang = unescape(v) if "&" in v else v
                    break
    return out


def _parse_collected(html: str) -> _PageParser:
    """Fast scan with byte-parity fallback to the html.parser state
    machine (tests/test_extract.py asserts fast ≡ slow on the corpus and
    adversarial fixtures)."""
    try:
        return _fast_scan(html)
    except _FallbackToFull:
        p = _PageParser()
        p.feed(html)
        p.close()
        return p


def parse_page_py(html: str | None, base_url: str | None) -> dict:
    """Full page parse parity with crawler_node.py:86-129.

    Returns title/description/keywords joined like the reference's
    ItemLoader cleanup (strip each part, join with ' '), the soup-path
    text, http(s)-only urljoin-resolved normalized links, and html@lang.
    """
    empty = {
        "title": "", "description": "", "keywords": "",
        "text": None, "links": [], "language": None,
    }
    if html is None:
        return empty
    try:
        p = _parse_collected(html)
    except Exception:
        return empty

    title = " ".join(t.strip() for t in p.title_parts if t)
    description = " ".join(d.strip() for d in p.descriptions if d)
    keywords = " ".join(p.keywords)

    links: list[str] = []
    for href in p.hrefs:
        # hot path: an already-absolute http(s) href without dot segments
        # is returned unchanged by urljoin — skip the double URL parse
        if href.startswith(("http://", "https://")) and (
            "/./" not in href
            and "/../" not in href
            and not href.endswith(("/.", "/.."))
        ):
            absolute = href
        else:
            try:
                absolute = urljoin(base_url or "", href)
            except ValueError:
                continue
        # crawler_node.py:128: keep only http(s), then normalize
        if absolute.startswith("http://") or absolute.startswith("https://"):
            links.append(normalize_url_py(absolute))

    text = "".join(p.text_parts)
    lines = (line.strip() for line in text.splitlines())
    chunks = (phrase.strip() for line in lines for phrase in line.split("  "))
    soup_text = "\n".join(chunk for chunk in chunks if chunk)

    return {
        "title": title,
        "description": description,
        "keywords": keywords,
        "text": soup_text,
        "links": links,
        "language": p.lang,
    }


# ---------------------------------------------------------------------------
# Arrow pandas UDFs.
# ---------------------------------------------------------------------------

PARSED_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("keywords", StringType()),
        StructField("text", StringType()),
        StructField("links", ArrayType(StringType())),
        StructField("language", StringType()),
    ]
)


def _decode(b) -> str | None:
    if b is None:
        return None
    if isinstance(b, (bytes, bytearray)):
        return bytes(b).decode("utf-8", errors="ignore")
    return str(b)


@pandas_udf(PARSED_SCHEMA)
def parse_page_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """Vectorized page parse: html binary + base url → struct per
    PARSED_SCHEMA. One Python call per Arrow batch; output assembled
    column-wise (a dict of lists is ~2x cheaper than a list of dicts for
    pandas to ingest at these batch sizes)."""
    cols: dict[str, list] = {k: [] for k in
                             ("title", "description", "keywords", "text", "links", "language")}
    for h, u in zip(html, url):
        d = parse_page_py(_decode(h), u)
        for k, v in d.items():
            cols[k].append(v)
    return pd.DataFrame(cols, copy=False)


# The parse is pure, but we declare it nondeterministic so Catalyst's
# projection collapsing never DUPLICATES the (expensive) evaluation —
# without this, `select(other_col, explode(udf(...).links))` plans TWO
# stacked ArrowEvalPython nodes and every page parses twice
# (regression-guarded in tests/test_plans.py).
parse_page_udf = parse_page_udf.asNondeterministic()


@pandas_udf(StringType())
def extract_text_soup_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda h: extract_text_soup_py(_decode(h)))


def native_text_regex(html_col):
    """JVM-native equivalent of the regex extraction path for the scale
    hot path (whole-stage codegen; no Python at all). Matches
    extract_text_regex_py output."""
    s = F.col(html_col).cast(StringType()) if isinstance(html_col, str) else html_col.cast(StringType())
    return F.trim(F.regexp_replace(F.regexp_replace(s, "<[^>]+>", " "), r"\s+", " "))


# ---------------------------------------------------------------------------
# Anchor-text extraction (web-graph feature the reference's link extractor
# drops: crawler_node.py:86-129 keeps a@href but discards the anchor text).
# ---------------------------------------------------------------------------

class _AnchorParser(HTMLParser):
    """Collects (href, anchor_text) pairs: the text nodes between an
    ``<a href=...>`` and its ``</a>`` (script/style content excluded;
    a new ``<a>`` implicitly closes an open one, as browsers do; an
    anchor left open at EOF is still emitted). Whitespace inside the
    anchor collapses to single spaces."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.anchors: list[tuple[str, str]] = []
        self._href: str | None = None
        self._parts: list[str] = []
        self._skip_depth = 0

    def _flush(self) -> None:
        if self._href is not None:
            self.anchors.append(
                (self._href, " ".join("".join(self._parts).split()))
            )
        self._href = None
        self._parts = []

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in ("script", "style"):
            self._skip_depth += 1
            return
        if tag == "a":
            self._flush()
            for k, v in attrs:
                if k == "href" and v is not None:
                    self._href = v
                    break

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag == "a":
            # <a href=x/> carries no text; emit the empty anchor
            self.handle_starttag(tag, attrs)
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in ("script", "style"):
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "a":
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._href is not None and not self._skip_depth:
            self._parts.append(data)

    def close(self) -> None:  # emit an anchor left open at EOF
        super().close()
        self._flush()


def extract_anchors_py(html: str | None, base_url: str | None) -> list[dict]:
    """(url, anchor) pairs for every http(s) link on the page, hrefs
    resolved against ``base_url`` and normalized exactly like
    ``parse_page_py``'s link loop (so anchor targets join against
    frontier/page urls). Anchor text may be '' (image links etc.)."""
    if html is None:
        return []
    p = _AnchorParser()
    try:
        p.feed(html)
        p.close()
    except Exception:
        return []
    out: list[dict] = []
    for href, anchor in p.anchors:
        if href.startswith(("http://", "https://")) and (
            "/./" not in href
            and "/../" not in href
            and not href.endswith(("/.", "/.."))
        ):
            absolute = href
        else:
            try:
                absolute = urljoin(base_url or "", href)
            except ValueError:
                continue
        if absolute.startswith("http://") or absolute.startswith("https://"):
            out.append({"url": normalize_url_py(absolute), "anchor": anchor})
    return out


ANCHOR_SCHEMA = ArrayType(
    StructType(
        [StructField("url", StringType()), StructField("anchor", StringType())]
    )
)


@pandas_udf(ANCHOR_SCHEMA)
def extract_anchors_udf(html: pd.Series, url: pd.Series) -> pd.Series:
    """Vectorized anchor extraction: html binary + base url →
    array<struct<url, anchor>> per page. One Python call per Arrow
    batch, same shape as parse_page_udf."""
    return pd.Series(
        [extract_anchors_py(_decode(h), u) for h, u in zip(html, url)]
    )


# same rationale as parse_page_udf: never let projection collapsing
# duplicate the parse under an explode
extract_anchors_udf = extract_anchors_udf.asNondeterministic()


def canonical_url_expr(html_col):
    """Native <link rel="canonical" href="..."> extraction — '' when the
    page declares none. Stays in whole-stage codegen (one JVM regex over
    the head; no Python), the hot-path rule for per-page scalar pulls.
    Canonical-cluster dedup is the standard crawl-side duplicate channel
    (print/mobile/tracking-param variants declare a shared canonical)
    that content hashing only catches when the bytes happen to match."""
    s = F.col(html_col).cast("string") if isinstance(html_col, str) else html_col.cast("string")
    return F.regexp_extract(s, '<link rel="canonical" href="([^"]*)"', 1)
