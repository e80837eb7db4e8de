"""Page head metadata extraction: title / meta / OpenGraph / canonical /
feed discovery / JSON-LD, distributed over an Arrow-batched kernel.

A crawl pipeline needs more than main text per page: the <head> section
carries the document's declared title, description, canonical URL,
OpenGraph card, language, feed autodiscovery links, and schema.org JSON-LD
typing — all load-bearing for dedup (canonical clustering), quality
scoring, and corpus metadata. The reference's analog is the per-frame
property probe (/root/reference/processing/video_processing/
video_analysis.py — resolution/fps metadata read before OCR); here the
"properties" are the page's own declared metadata.

Semantics (documented, pinned by tests):
- First occurrence wins for title, description, canonical, lang, and each
  og:* property — matching how SEO crawlers and browsers resolve
  duplicates. `<meta property>` and `<meta name>` are both honored for
  og:* (real pages use either); matching is case-insensitive on the
  name/property side, content is entity-unescaped and stripped, title
  text is additionally whitespace-collapsed (it is rendered HTML text).
- Feed autodiscovery collects EVERY `<link rel="alternate">` whose type
  is an RSS/Atom MIME type, in document order; alternates carrying an
  `hreflang` instead are collected as (lang, href) pairs — the
  multilingual-cluster signal (pages linking the same hreflang set are
  one logical document for dedup purposes).
- JSON-LD: every `<script type="application/ld+json">` block is parsed
  with the stdlib json parser; malformed blocks are skipped (counted in
  `n_jsonld_bad`), `@graph` arrays and top-level lists are flattened, and
  each node's `@type` (string or list) is collected in document order.
- The whole document is scanned, not just <head> — real pages scatter
  og:* and JSON-LD into <body>, and crawlers accept them there.
- Lexing reuses the extraction kernel's single-pass _TAG_RE.split
  (operators/extract.py) — no per-match C-call overhead, no external
  parser dependency, and identical malformed-markup tolerance.

Scale shape: one mapInArrow pass, no shuffle, column-pruned input; the
kernel never raises (row-level `error` channel like extract_pages).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract import _TAG_RE, _WS_RE
from .rows import html_text, map_rows
import html as _html

# attribute lexer: name [= "v" | 'v' | bare]  (HTML5 unquoted values stop
# at whitespace; '>' can't appear — _TAG_RE already consumed the tag body)
_ATTR_RE = re.compile(
    r"""([a-zA-Z_][\w:.-]*)\s*(?:=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'=<>`]+)))?"""
)

_FEED_TYPES = frozenset((
    "application/rss+xml", "application/atom+xml", "application/feed+json",
))

_OG_KEYS = ("og:title", "og:description", "og:image", "og:type", "og:url")


def _attrs(body: str) -> dict:
    """Tag attribute body -> {lowercased name: unescaped value}. First
    occurrence of a duplicated attribute wins (HTML5 tree-construction
    rule: later duplicates are ignored)."""
    out: dict = {}
    for m in _ATTR_RE.finditer(body):
        name = m.group(1).lower()
        if name in out:
            continue
        val = m.group(2)
        if val is None:
            val = m.group(3)
        if val is None:
            val = m.group(4)
        out[name] = _html.unescape(val) if val else (val or "")
    return out


def _jsonld_types(blob: str, types: list) -> bool:
    """Collect @type values from one JSON-LD block into `types`.
    Returns False when the block is not valid JSON (caller counts it)."""
    try:
        node = json.loads(blob)
    except (ValueError, RecursionError):  # bad JSON / nesting past the limit
        return False
    stack = [node]
    while stack:
        cur = stack.pop(0)
        if isinstance(cur, list):
            stack[:0] = cur
            continue
        if not isinstance(cur, dict):
            continue
        t = cur.get("@type")
        if isinstance(t, str):
            types.append(t)
        elif isinstance(t, list):
            types.extend(x for x in t if isinstance(x, str))
        g = cur.get("@graph")
        if isinstance(g, list):
            stack[:0] = g
    return True


def parse_page_metadata(html_text: str) -> dict:
    """One page -> the metadata dict (see module docstring for rules).

    Walks the same flat `_TAG_RE.split` layout as parse_blocks
    (operators/extract.py): [text, g_comment, g_closing, g_name, g_attrs,
    text, ...] — g_comment is None for real tags, in which case the next
    three slots are the closing marker, tag name, and attribute body,
    followed by the trailing text chunk."""
    title = description = canonical = lang = None
    og: dict = {}
    feeds: list = []
    hreflangs: list = []  # (lang, href) pairs, document order
    types: list = []
    n_meta = n_jsonld_bad = 0
    # capture state: 'title' / 'ld' while inside the respective element
    capture, cap_buf = None, []

    parts = _TAG_RE.split(html_text)
    n = len(parts)
    i = 1
    while i < n:
        if parts[i] is None:  # a real tag (comment/doctype group empty)
            closing, name, attrs_body = parts[i + 1], parts[i + 2], parts[i + 3]
            tag = name.lower()
            self_closing = bool(attrs_body) and attrs_body[-1] == "/"
            if self_closing:
                attrs_body = attrs_body[:-1]
            if capture == "title":
                if closing and tag == "title":
                    if title is None:
                        title = _WS_RE.sub(
                            " ", _html.unescape("".join(cap_buf))).strip()
                    capture = None
            elif capture == "ld":
                if closing and tag == "script":
                    if not _jsonld_types("".join(cap_buf), types):
                        n_jsonld_bad += 1
                    capture = None
            elif not closing:
                if tag == "meta":
                    a = _attrs(attrs_body)
                    key = (a.get("property") or a.get("name") or "").lower()
                    content = a.get("content")
                    if key and content is not None:
                        n_meta += 1
                        if key == "description" and description is None:
                            description = content.strip()
                        elif key in _OG_KEYS and key not in og:
                            og[key] = content.strip()
                elif tag == "link":
                    a = _attrs(attrs_body)
                    rel = (a.get("rel") or "").lower().split()
                    # strip BEFORE the truthiness gate: a whitespace-only
                    # href must be treated as absent, or canonical=""
                    # collapses unrelated sites into one dedup cluster
                    href = (a.get("href") or "").strip()
                    if href:
                        if "canonical" in rel and canonical is None:
                            canonical = href
                        elif "alternate" in rel:
                            mime = ((a.get("type") or "").lower()
                                    .split(";")[0].strip())
                            hl = (a.get("hreflang") or "").strip()
                            if mime in _FEED_TYPES:
                                feeds.append(href)
                            elif hl:
                                hreflangs.append((hl, href))
                elif tag == "title" and not self_closing:
                    capture, cap_buf = "title", []
                elif tag == "script":
                    a = _attrs(attrs_body)
                    mime = (a.get("type") or "").lower().split(";")[0].strip()
                    if mime == "application/ld+json" and not self_closing:
                        capture, cap_buf = "ld", []
                elif tag == "html" and lang is None:
                    a = _attrs(attrs_body)
                    v = a.get("lang")
                    if v:
                        lang = v.strip()
        txt = parts[i + 4]
        if txt and capture is not None:
            cap_buf.append(txt)
        i += 5
    # EOF flush: a truncated payload that ends inside <title> or a JSON-LD
    # block still yields the buffered title, and an unterminated JSON-LD
    # block counts as malformed (the documented n_jsonld_bad contract)
    if capture == "title" and title is None:
        title = _WS_RE.sub(" ", _html.unescape("".join(cap_buf))).strip()
    elif capture == "ld":
        if not _jsonld_types("".join(cap_buf), types):
            n_jsonld_bad += 1
    return {
        "title": title,
        "description": description,
        "canonical": canonical,
        "lang": lang,
        "og_title": og.get("og:title"),
        "og_description": og.get("og:description"),
        "og_image": og.get("og:image"),
        "og_type": og.get("og:type"),
        "og_url": og.get("og:url"),
        "feeds": feeds,
        "hreflangs": hreflangs,
        "jsonld_types": types,
        "n_meta": n_meta,
        "n_jsonld_bad": n_jsonld_bad,
    }


METADATA_OUTPUT_DDL = (
    "url string, title string, description string, canonical string, "
    "lang string, og_title string, og_description string, og_image string, "
    "og_type string, og_url string, feeds array<string>, "
    "hreflangs array<struct<lang:string,href:string>>, "
    "jsonld_types array<string>, n_meta int, n_jsonld_bad int, error string"
)


def page_metadata(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """pages(url, html) -> one metadata row per page.

    Plan shape: column-pruned scan -> ONE mapInArrow -> results; no
    shuffle, raw html never leaves the scan stage's partitioning.
    Malformed markup degrades to partial fields. A null page is a row
    with the empty-list/zero defaults and error "ValueError: null html".
    parse_page_metadata is not known to raise; if it did, map_rows'
    error row (NULL in every field) would carry it.
    """
    narrow = pages.select(F.col("url"), F.col(html_col).alias("html"))
    return map_rows(narrow, _metadata_row, METADATA_OUTPUT_DDL)


def _metadata_row(h) -> list:
    if h is None:
        return [{"feeds": [], "hreflangs": [], "jsonld_types": [],
                 "n_meta": 0, "n_jsonld_bad": 0,
                 "error": "ValueError: null html"}]
    return [parse_page_metadata(html_text(h))]


def parse_anchors(html_text: str) -> list:
    """(href, anchor_text, nofollow) triples in document order.

    The full-fidelity twin of text_analysis.extract_links (the scan-speed
    JVM regexp): this one walks the lexer, so it sees single-quoted and
    unquoted hrefs, attribute order, rel=nofollow (token match within the
    rel list), and carries the anchor TEXT — the ranking signal the link
    graph alone loses. HTML5 semantics: an <a> start tag implicitly
    closes any open <a> (they cannot nest); anchors without an href
    (named anchors) emit nothing; text inside script/style never counts.
    Anchor text is entity-unescaped and whitespace-collapsed."""
    out: list = []
    cur = None  # (href, nofollow, buf)
    skip_tag = None
    parts = _TAG_RE.split(html_text)
    n = len(parts)
    i = 1

    def flush():
        nonlocal cur
        if cur is not None:
            href, nofollow, buf = cur
            out.append((href, _WS_RE.sub(" ", "".join(buf)).strip(),
                        nofollow))
            cur = None

    while i < n:
        if parts[i] is None:
            closing, name, attrs_body = parts[i + 1], parts[i + 2], parts[i + 3]
            tag = name.lower()
            if skip_tag is not None:
                if closing and tag == skip_tag:
                    skip_tag = None
            elif tag == "a":
                flush()
                if not closing:
                    a = _attrs(attrs_body)
                    href = (a.get("href") or "").strip()  # strip BEFORE gate
                    if href:
                        rel = (a.get("rel") or "").lower().split()
                        cur = (href, "nofollow" in rel, [])
            elif tag in ("script", "style"):
                if not closing and (not attrs_body or attrs_body[-1] != "/"):
                    skip_tag = tag
        txt = parts[i + 4]
        if txt and cur is not None and skip_tag is None:
            cur[2].append(_html.unescape(txt))
        i += 5
    flush()
    return out


ANCHORS_OUTPUT_DDL = (
    "url string, ordinal int, href string, anchor_text string, "
    "nofollow boolean, error string"
)


def anchor_texts(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """pages(url, html) -> one row per anchor, exploded kernel-side.
    Same plan shape as page_metadata: pruned scan -> ONE mapInArrow, no
    shuffle; null/undecodable rows survive as a single error row."""
    narrow = pages.select(F.col("url"), F.col(html_col).alias("html"))
    return map_rows(narrow, _anchor_rows, ANCHORS_OUTPUT_DDL)


def _anchor_rows(h) -> list:
    if h is None:
        raise ValueError("null html")
    return [{"ordinal": j, "href": href, "anchor_text": text, "nofollow": nf}
            for j, (href, text, nf) in enumerate(parse_anchors(html_text(h)))]


def canonical_clusters(meta: DataFrame) -> DataFrame:
    """Group pages by their declared canonical target — the cheap dedup
    signal that runs BEFORE content hashing at crawl scale. Pages with no
    canonical (or a self-canonical) form singleton clusters keyed by their
    own url. One groupBy shuffle on the canonical key."""
    keyed = meta.select(
        "url",
        F.coalesce(F.col("canonical"), F.col("url")).alias("cluster_key"),
    )
    return keyed.groupBy("cluster_key").agg(
        F.count("*").alias("n_pages"),
        F.min("url").alias("representative_url"),
    )


def hreflang_clusters(meta: DataFrame, max_iter: int = 16,
                      driver_cutoff: int = 100_000) -> DataFrame:
    """Multilingual cluster detection over declared hreflang alternates —
    the language-variant analog of canonical_clusters. Every (page url ->
    alternate href) pair is an undirected edge; mutually-referencing
    language variants collapse into one cluster via the scalable
    connected-components operator (pointer jumping, O(log d) rounds), so
    chains and partially-declared groups cluster correctly, not just
    identical alternate sets. Alternate hrefs that were never crawled
    still participate as graph nodes (they glue the cluster together) but
    only crawled pages count in n_pages. Pages declaring no alternates
    form singleton clusters keyed by their own url.

    Returns (cluster_key, n_pages, representative_url, n_alternates,
    n_langs): cluster_key is the lexicographically-smallest graph node,
    representative_url the smallest CRAWLED member, n_alternates/n_langs
    the distinct hrefs/langs declared by member pages.

    Scale shape: one explode of hreflang structs (tiny rows), the CC
    loop's per-round shuffle on node id, and two aggregations keyed by
    cluster — no all-pairs anywhere; hreflang groups are small (a few
    dozen languages), so no skew handling is needed."""
    from .dedup import connected_components

    e = meta.select(
        F.col("url"), F.explode("hreflangs").alias("alt")
    ).select(
        "url", F.col("alt.lang").alias("lang"), F.col("alt.href").alias("href")
    ).where(F.col("href").isNotNull() & (F.col("href") != ""))

    comp = connected_components(
        e.select(F.col("url").alias("id_a"), F.col("href").alias("id_b")),
        max_iter=max_iter, driver_cutoff=driver_cutoff,
    )
    pages = meta.select("url").join(
        comp.withColumnRenamed("id", "url"), "url", "left"
    ).select("url", F.coalesce("component", "url").alias("cluster_key"))

    base = pages.groupBy("cluster_key").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.min("url").alias("representative_url"),
    )
    decl = pages.join(e, "url").groupBy("cluster_key").agg(
        F.countDistinct("href").alias("n_alternates"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return base.join(decl, "cluster_key", "left").select(
        "cluster_key", "n_pages", "representative_url",
        F.coalesce("n_alternates", F.lit(0)).cast("int").alias("n_alternates"),
        F.coalesce("n_langs", F.lit(0)).cast("int").alias("n_langs"),
    )
