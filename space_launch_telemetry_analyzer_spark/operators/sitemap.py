"""Sitemap (sitemaps.org XML) and RSS/Atom feed parsing — the crawl-frontier
sources a web-scale extraction pipeline discovers URLs from.

Complements operators/robots.py (RFC 9309) on the crawl-politeness side:
robots.txt says what MAY be fetched, sitemaps/feeds say what EXISTS. The
reference's analog is its playlist/listing ingestion (the yt-dlp URL-list
front door the engine-side ingest replaces, SURVEY.md S6).

Parsing is a deterministic regex lexer over the XML token stream — the
same no-external-parser, malformed-input-tolerant strategy as the HTML
kernel. Deliberately NOT xml.etree: stdlib ElementTree's DTD handling is
exponential-entity-expansion prone on adversarial input (billion-laughs),
while this lexer never expands entity DEFINITIONS at all (only the five
predefined XML character entities plus numeric refs, via html.unescape,
which is expansion-free). A 100 TB crawl WILL contain hostile XML.

Coverage (pinned by tests):
- sitemaps.org <urlset>: per-<url> loc / lastmod / changefreq / priority;
  <sitemapindex>: per-<sitemap> loc / lastmod (kind column distinguishes).
- RSS 2.0 (<rss><channel><item>), RSS 1.0/RDF (<rdf:RDF><item>), and
  Atom (<feed><entry>). Entry fields: title, link (Atom: href attribute,
  rel="alternate" preferred, first link otherwise; RSS: element text),
  published (pubDate | published | updated | dc:date, first present),
  entry id (guid | id). Feed-level title is the first <title> outside
  any entry.
- CDATA sections (ubiquitous in RSS titles), namespace prefixes
  (stripped to local names), XML comments, processing instructions.
- gzip payloads (sitemap.xml.gz is the convention at scale): transparent
  gunzip behind a decompression-bomb cap.

Scale shape: one mapInArrow pass per operator, no shuffle; entries
explode kernel-side into the output batch (no Spark-side explode of a
giant array column). Row-level `error` channel, never a task failure.
"""

from __future__ import annotations

import html as _html
import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# XML token lexer: CDATA | comment | other <!..> (DOCTYPE — captured, never
# expanded) | processing instruction | tag. Attr body may contain quoted
# '>' — the unrolled-loop attrs form from the HTML lexer handles it.
_XML_RE = re.compile(
    r"<(?:(!\[CDATA\[.*?\]\])|(!--.*?--)|(![^>]*)|(\?[^>]*)"
    r"|(/?)([A-Za-z_][\w.:-]*)([^>\"']*(?:(?:\"[^\"]*\"|'[^']*')[^>\"']*)*))>",
    re.DOTALL,
)
# the ONE attribute-lexer definition lives in operators/metadata.py
from .metadata import _ATTR_RE  # noqa: E402
from .rows import map_rows  # noqa: E402

_MAX_XML_BYTES = 64 << 20  # 64 MiB post-inflate cap (sitemaps.org caps at 50)


def _gunzip_capped(data: bytes) -> bytes:
    """Transparent gunzip with a decompression-bomb cap. Uses a streaming
    decompressobj so a 10 GB bomb costs 64 MiB, not 10 GB."""
    if data[:2] != b"\x1f\x8b":
        return data
    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    try:
        out = d.decompress(data, _MAX_XML_BYTES + 1)
    except zlib.error as e:
        raise ValueError(f"bad gzip payload: {e}") from None
    if len(out) > _MAX_XML_BYTES:
        raise ValueError("gzip payload exceeds the 64 MiB inflate cap")
    return out


def _decode_xml(payload: bytes) -> str:
    """bytes -> str honoring BOM, then the XML declaration's encoding=,
    then UTF-8 with replacement (the crawl-tolerant default)."""
    if payload[:3] == b"\xef\xbb\xbf":
        return payload[3:].decode("utf-8", errors="replace")
    if payload[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return payload.decode("utf-16", errors="replace")
    m = re.match(rb'\s*<\?xml[^>]*encoding\s*=\s*["\']([A-Za-z0-9._-]+)["\']',
                 payload[:256])
    if m:
        try:
            return payload.decode(m.group(1).decode("ascii"),
                                  errors="replace")
        except LookupError:
            pass
    return payload.decode("utf-8", errors="replace")


def _local(name: str) -> str:
    """Strip a namespace prefix: 'sm:loc' -> 'loc' (lowercased)."""
    return name.rpartition(":")[2].lower()


def _walk(text: str):
    """Yield ('open'|'close'|'selfclose', local_name, attrs_body) and
    ('text', chunk, None) events over the flat _XML_RE.split layout
    [text, g1..g7, text, ...]."""
    parts = _XML_RE.split(text)
    if parts[0]:
        yield ("text", parts[0], None)
    n = len(parts)
    i = 1
    while i < n:
        cdata = parts[i]
        if cdata is not None:  # <![CDATA[...]]> -> literal text
            yield ("text", cdata[8:-2], "cdata")
        elif parts[i + 5] is not None:  # a real tag
            closing, name, attrs = parts[i + 4], parts[i + 5], parts[i + 6]
            if closing:
                yield ("close", _local(name), attrs)
            elif attrs and attrs[-1] == "/":
                yield ("selfclose", _local(name), attrs[:-1])
            else:
                yield ("open", _local(name), attrs)
        # comments / <!...> / <?...> produce no event
        txt = parts[i + 7]
        if txt:
            yield ("text", txt, None)
        i += 8


def parse_sitemap(payload: bytes) -> dict:
    """One sitemap document -> {kind, entries}.

    kind: 'urlset' | 'sitemapindex'. entries: list of dicts with loc /
    lastmod / changefreq / priority (index entries carry loc/lastmod
    only), first occurrence wins. Only DIRECT children of the entry
    element count: extension blocks like Google image sitemaps nest an
    `<image:image><image:loc>` whose namespace-stripped local name would
    otherwise overwrite the page's real <loc> with a CDN url. Text
    outside the known children is ignored; unknown elements are skipped;
    a document with neither root raises ValueError (into the operator's
    row-level error channel)."""
    text = _decode_xml(_gunzip_capped(payload))
    kind = None
    entries: list = []
    cur: dict | None = None
    field: str | None = None
    buf: list = []
    depth = 0  # open-element depth INSIDE the current entry
    entry_tag = None  # 'url' (urlset) or 'sitemap' (index)
    for ev, a, b in _walk(text):
        if ev == "text":
            if field is not None and cur is not None:
                buf.append(a if b == "cdata" else _html.unescape(a))
        elif ev == "open" or ev == "selfclose":
            if kind is None:
                if a in ("urlset", "sitemapindex"):
                    kind = a
                    entry_tag = "url" if a == "urlset" else "sitemap"
            elif cur is None:
                if a == entry_tag:
                    cur = {}
                    depth = 0
            elif depth == 0 and field is None and a in (
                    "loc", "lastmod", "changefreq", "priority"):
                if ev == "selfclose":
                    cur.setdefault(a, "")
                else:
                    field, buf = a, []
            elif ev == "open":
                depth += 1  # unknown/extension subtree: scope it out
        elif ev == "close":
            if field is not None and a == field and cur is not None:
                cur.setdefault(field, "".join(buf).strip())
                field = None
            elif cur is not None:
                if a == entry_tag and depth == 0:
                    if cur.get("loc"):
                        entries.append(cur)
                    cur = None
                elif depth > 0:
                    depth -= 1
    if kind is None:
        raise ValueError("not a sitemap: no urlset/sitemapindex root")
    return {"kind": kind, "entries": entries}


_DATE_TAGS = frozenset(("pubdate", "published", "updated", "date"))


def parse_feed(payload: bytes) -> dict:
    """One RSS/Atom/RDF feed -> {kind, feed_title, entries}.

    kind: 'rss' | 'atom' | 'rdf'. Entry dicts: title, link, published,
    entry_id (None where absent). First-present wins for each field
    inside an entry; the published slot takes the FIRST of
    pubDate/published/updated/dc:date in document order."""
    text = _decode_xml(_gunzip_capped(payload))
    kind = None
    feed_title = None
    entries: list = []
    cur: dict | None = None
    field: str | None = None
    buf: list = []
    depth_in_entry = 0
    for ev, a, b in _walk(text):
        if ev == "text":
            if field is not None:
                buf.append(a if b == "cdata" else _html.unescape(a))
        elif ev in ("open", "selfclose"):
            if kind is None:
                if a == "rss":
                    kind = "rss"
                elif a == "feed":
                    kind = "atom"
                elif a == "rdf":
                    kind = "rdf"
                continue
            if cur is None:
                if a in ("item", "entry"):
                    cur = {"title": None, "link": None, "published": None,
                           "entry_id": None}
                    depth_in_entry = 0
                elif a == "title" and feed_title is None and ev == "open":
                    field, buf = "feed_title", []
                continue
            # inside an entry
            if ev == "open":
                depth_in_entry += 1
            if a == "link":
                # Atom: <link rel="alternate" href=...>; RSS: text content
                attrs = {m.group(1).lower():
                         (m.group(2) or m.group(3) or m.group(4) or "")
                         for m in _ATTR_RE.finditer(b or "")}
                if "href" in attrs:
                    # strip BEFORE the gate: an empty href must neither
                    # set the link nor claim the rel=alternate slot
                    href = _html.unescape(attrs["href"]).strip()
                    if href:
                        rel = attrs.get("rel", "alternate")
                        if cur["link"] is None or rel == "alternate":
                            if cur.get("_link_rel") != "alternate":
                                cur["link"] = href
                                cur["_link_rel"] = rel
                elif ev == "open":
                    field, buf = "link", []
            elif ev == "open":
                if a == "title" and cur["title"] is None:
                    field, buf = "title", []
                elif a in _DATE_TAGS and cur["published"] is None:
                    field, buf = "published", []
                elif a in ("guid", "id") and cur["entry_id"] is None:
                    field, buf = "entry_id", []
        elif ev == "close":
            if field == "feed_title" and a == "title":
                feed_title = "".join(buf).strip()
                field = None
            elif field is not None and cur is not None:
                val = "".join(buf).strip()
                tag_of = {"title": ("title",), "link": ("link",),
                          "published": _DATE_TAGS,
                          "entry_id": ("guid", "id")}[field]
                if a in tag_of:
                    if cur[field] is None and val:
                        cur[field] = val
                    field = None
            if cur is not None:
                if a in ("item", "entry") and depth_in_entry == 0:
                    cur.pop("_link_rel", None)
                    entries.append(cur)
                    cur = None
                elif depth_in_entry > 0:
                    depth_in_entry -= 1
    if kind is None:
        raise ValueError("not a feed: no rss/feed/rdf root")
    return {"kind": kind, "feed_title": feed_title, "entries": entries}


# ---------------------------------------------------------------------------
# Spark operators (kernel-side explode; no shuffle)
# ---------------------------------------------------------------------------

SITEMAP_OUTPUT_DDL = (
    "url string, kind string, ordinal int, loc string, lastmod string, "
    "changefreq string, priority double, error string"
)


def sitemap_entries(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """df(url, xml binary) -> one row per sitemap entry (plus exactly one
    row with null loc and a populated `error` for undecodable docs, so no
    input row ever vanishes silently — the WARC error-channel contract)."""
    narrow = df.select(F.col("url"), F.col(xml_col).alias("xml"))
    return map_rows(narrow, _sitemap_rows, SITEMAP_OUTPUT_DDL)


def _priority(p: str | None) -> float | None:
    try:
        return float(p) if p not in (None, "") else None
    except ValueError:
        return None


def _sitemap_rows(xml: bytes | None) -> list:
    if xml is None:
        raise ValueError("null xml")
    d = parse_sitemap(xml)
    return [dict(e, kind=d["kind"], ordinal=j,
                 priority=_priority(e.get("priority")))
            for j, e in enumerate(d["entries"])]


FEED_OUTPUT_DDL = (
    "url string, kind string, feed_title string, ordinal int, title string, "
    "link string, published string, entry_id string, error string"
)


def feed_entries(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """df(url, xml binary) -> one row per feed entry (error-channel row
    for undecodable docs, like sitemap_entries)."""
    narrow = df.select(F.col("url"), F.col(xml_col).alias("xml"))
    return map_rows(narrow, _feed_rows, FEED_OUTPUT_DDL)


def _feed_rows(xml: bytes | None) -> list:
    if xml is None:
        raise ValueError("null xml")
    d = parse_feed(xml)
    return [dict(e, kind=d["kind"], feed_title=d["feed_title"], ordinal=j)
            for j, e in enumerate(d["entries"])]


def fetch_waves(urls: DataFrame, url_col: str = "url",
                per_host_slots: int = 1) -> DataFrame:
    """Politeness scheduler: assign each URL a fetch WAVE such that no
    more than `per_host_slots` URLs of one host share a wave — the
    crawl-side pacing rule (one connection per host per round) expressed
    as a deterministic window, so a 1000-executor fetch fleet can consume
    wave k everywhere before wave k+1 without coordination.

    One shuffle on host. A mega-host's waves grow linearly by design —
    politeness serializes a host no matter the cluster size; hosts are
    numerous and small in crawl corpora, so the host key needs no salting
    (the skewed dimension is time, not data volume). Ordering within a
    host is by URL (deterministic, engine-independent)."""
    from pyspark.sql import Window

    # lowercase BEFORE the scheme match (HTTP:// must not miss), and fall
    # back to the whole lowered url for non-http(s) schemes — otherwise
    # every odd-scheme row would share host "" and be serialized into one
    # artificial politeness queue (a skew hotspot for the window, too)
    lowered = F.lower(F.col(url_col))
    extracted = F.regexp_extract(lowered, r"^https?://([^/:?#]*)", 1)
    host = F.when(extracted != "", extracted).otherwise(lowered)
    w = Window.partitionBy("host").orderBy(url_col)
    return (
        urls.withColumn("host", host)
        .withColumn(
            "wave",
            ((F.row_number().over(w) - 1) / per_host_slots)
            .cast("int"))
    )


# Bloom machinery moved to operators/bloom.py in r6 (shared with
# dedup.decontaminate_bloom); re-exported here for API continuity.
from .bloom import (  # noqa: F401,E402
    UrlBloom,
    bloom_might_contain,
    build_url_bloom,
)


def frontier_bloom(seen: DataFrame, url_col: str = "url",
                   m_bits: int | None = None, k: int = 5) -> UrlBloom:
    """Bloom over the SEEN side's canonical urls, for frontier_new's
    pre-filter. Build it once per crawl epoch and reuse across waves —
    the build pass over seen amortizes; the per-wave saving is the
    candidate-side shuffle."""
    from .text_analysis import canonicalize_urls

    return build_url_bloom(
        canonicalize_urls(seen.select(url_col), url_col)
        .select("canonical_url"), "canonical_url", m_bits, k)


def frontier_new(candidates: DataFrame, seen: DataFrame,
                 url_col: str = "url",
                 bloom: UrlBloom | None = None) -> DataFrame:
    """Frontier update: discovered-minus-seen on CANONICAL urls.

    Both sides run text_analysis.canonicalize_urls (lowercase scheme/host,
    default-port + fragment strip, query-param sort) so `?b=2&a=1` dedups
    against `?a=1&b=2` and `HTTPS://HOST:443/` against `https://host/`;
    survivors then dedup within the batch keeping min(url) as the
    deterministic representative. Output: (canonical_url, url).

    Scale shape: one left_anti join + one groupBy, both keyed on the full
    canonical url — high-cardinality and near-uniform, so no salting is
    needed and AQE's skew handling covers the residue. The seen side is
    the BIG side at crawl scale (everything ever fetched), so this is a
    sort-merge anti-join by design, not a broadcast.

    Optional `bloom` (a UrlBloom over seen's canonical urls, see
    frontier_bloom): candidates the bloom PROVES unseen (no false
    negatives) bypass the anti-join entirely — they never enter the
    shuffle — and only bloom hits (true seen + the sized ~1% false
    positives) shuffle into the exact anti-join, which removes the false
    positives. Output is therefore IDENTICAL with and without the bloom
    (pinned by test); the bloom only cuts the candidate-side exchange to
    the already-seen fraction. Build the bloom once per crawl epoch and
    reuse it across waves."""
    from .text_analysis import canonicalize_urls

    cand = canonicalize_urls(candidates.select(url_col), url_col)
    seen_c = canonicalize_urls(seen.select(url_col), url_col) \
        .select("canonical_url")
    if bloom is not None:
        hit = bloom_might_contain(bloom, F.col("canonical_url"))
        # the split feeds TWO consumers (bypass + anti-join); without a
        # checkpoint each would re-scan and re-probe the full candidate
        # set (the pack_sequences two-consumer lesson). localCheckpoint
        # holds (canonical_url, url, bool) — candidate-wave-sized, the
        # small side by construction.
        flagged = cand.withColumn("_maybe_seen", hit) \
            .localCheckpoint(eager=False)
        definite_new = flagged.where(~F.col("_maybe_seen")) \
            .drop("_maybe_seen")
        maybe_seen = flagged.where(F.col("_maybe_seen")) \
            .drop("_maybe_seen") \
            .join(seen_c, "canonical_url", "left_anti")
        survivors = definite_new.unionByName(maybe_seen)
    else:
        survivors = cand.join(seen_c, "canonical_url", "left_anti")
    return (
        survivors
        .groupBy("canonical_url")
        .agg(F.min(url_col).alias("url"))
    )
