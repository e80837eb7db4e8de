"""Sitemap/feed lexer: urlset + sitemapindex, CDATA, namespaces, gzip
(+ bomb cap), entity safety (no DTD expansion), RSS/Atom/RDF shapes, link
attribute-vs-text duality, date precedence, distributed explode + error
channel."""

from __future__ import annotations

import gzip

import pytest

from space_launch_telemetry_analyzer_spark.operators.sitemap import (
    feed_entries,
    parse_feed,
    parse_sitemap,
    sitemap_entries,
)


def test_urlset_fields_and_entities():
    d = parse_sitemap(
        b'<?xml version="1.0" encoding="UTF-8"?>'
        b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        b"<url><loc>https://e/a?x=1&amp;y=2</loc><lastmod>2024-01-02"
        b"</lastmod><changefreq>daily</changefreq><priority>0.8</priority>"
        b"</url><url><loc>https://e/b</loc></url>"
        b"<url><lastmod>loc-less: skipped</lastmod></url></urlset>")
    assert d["kind"] == "urlset"
    assert d["entries"] == [
        {"loc": "https://e/a?x=1&y=2", "lastmod": "2024-01-02",
         "changefreq": "daily", "priority": "0.8"},
        {"loc": "https://e/b"},
    ]


def test_sitemapindex_and_namespace_prefixes():
    d = parse_sitemap(
        b'<sm:sitemapindex xmlns:sm="x"><sm:sitemap><sm:loc>https://e/s.gz'
        b"</sm:loc><sm:lastmod>2024-05-06</sm:lastmod></sm:sitemap>"
        b"</sm:sitemapindex>")
    assert d["kind"] == "sitemapindex"
    assert d["entries"] == [{"loc": "https://e/s.gz",
                             "lastmod": "2024-05-06"}]


def test_gzip_transparent_and_bomb_capped():
    plain = (b"<urlset><url><loc>https://e/z</loc></url></urlset>")
    assert parse_sitemap(gzip.compress(plain)) == parse_sitemap(plain)
    # a >64 MiB inflate must be rejected without allocating it all
    bomb = gzip.compress(b"\x00" * (80 << 20))
    with pytest.raises(ValueError, match="inflate cap"):
        parse_sitemap(bomb)
    with pytest.raises(ValueError, match="bad gzip"):
        parse_sitemap(b"\x1f\x8bgarbage-not-a-member")


def test_entity_definitions_never_expand():
    # billion-laughs shape: the lexer must keep &x1; literal, not expand
    bomb = (b'<?xml version="1.0"?><!DOCTYPE a [<!ENTITY x0 "lol">'
            b'<!ENTITY x1 "&x0;&x0;&x0;&x0;">]>'
            b"<urlset><url><loc>https://e/&x1;</loc></url></urlset>")
    d = parse_sitemap(bomb)
    assert d["entries"][0]["loc"] == "https://e/&x1;"


def test_not_a_sitemap_raises():
    for bad in (b"", b"<html><body>hi</body></html>", b"<rss/>"):
        with pytest.raises(ValueError):
            parse_sitemap(bad)


def test_rss_cdata_guid_pubdate():
    d = parse_feed(
        b'<?xml version="1.0"?><rss version="2.0"><channel>'
        b"<title>My Feed</title><link>https://e</link>"
        b"<item><title><![CDATA[P <1> & x]]></title>"
        b"<link>https://e/p1</link>"
        b"<pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate>"
        b"<guid>p1</guid></item>"
        b"<item><title>Plain &amp; escaped</title></item>"
        b"</channel></rss>")
    assert d["kind"] == "rss" and d["feed_title"] == "My Feed"
    assert d["entries"][0] == {
        "title": "P <1> & x", "link": "https://e/p1",
        "published": "Mon, 01 Jan 2024 00:00:00 GMT", "entry_id": "p1"}
    assert d["entries"][1]["title"] == "Plain & escaped"
    assert d["entries"][1]["link"] is None


def test_atom_link_attr_precedence_and_updated():
    d = parse_feed(
        b'<feed xmlns="http://www.w3.org/2005/Atom"><title>A</title>'
        b'<entry><title>E</title>'
        b'<link rel="self" href="https://e/self"/>'
        b'<link rel="alternate" href="https://e/alt"/>'
        b'<link rel="alternate" href="https://e/alt2"/>'
        b"<updated>2024-02-03</updated><id>tag:1</id></entry></feed>")
    e = d["entries"][0]
    assert d["kind"] == "atom" and d["feed_title"] == "A"
    # rel=alternate beats the earlier self link; first alternate wins
    assert e["link"] == "https://e/alt"
    assert e["published"] == "2024-02-03" and e["entry_id"] == "tag:1"


def test_atom_link_no_rel_counts_as_alternate():
    d = parse_feed(b"<feed><entry><link href='https://e/x'/></entry></feed>")
    assert d["entries"][0]["link"] == "https://e/x"


def test_rdf_rss10_with_dc_date():
    d = parse_feed(
        b'<rdf:RDF xmlns:rdf="r" xmlns:dc="d"><channel><title>R</title>'
        b"</channel><item><title>I</title><link>https://e/i</link>"
        b"<dc:date>2000-01-01</dc:date></item></rdf:RDF>")
    assert d["kind"] == "rdf" and d["feed_title"] == "R"
    assert d["entries"][0]["published"] == "2000-01-01"


def test_date_precedence_first_in_document_order():
    d = parse_feed(
        b"<feed><entry><updated>U</updated><published>P</published>"
        b"</entry></feed>")
    assert d["entries"][0]["published"] == "U"


def test_not_a_feed_raises():
    with pytest.raises(ValueError):
        parse_feed(b"<urlset/>")


def test_feed_malformed_tolerance():
    # unclosed entry, stray tags — no crash, partial results ok
    parse_feed(b"<rss><channel><item><title>t")
    parse_feed(b"<feed><entry></wat></entry></feed>")
    parse_sitemap(b"<urlset><url><loc>x</loc>")


@pytest.mark.usefixtures("spark")
def test_sitemap_entries_explode_and_error_rows(spark):
    ok = (b"<urlset><url><loc>https://e/1</loc><priority>0.5</priority>"
          b"</url><url><loc>https://e/2</loc></url></urlset>")
    df = spark.createDataFrame(
        [("s1", ok), ("s2", b"<html>nope</html>"), ("s3", None)],
        "url string, xml binary")
    rows = sitemap_entries(df).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    assert [r["loc"] for r in sorted(by_url["s1"],
                                     key=lambda r: r["ordinal"])] == \
        ["https://e/1", "https://e/2"]
    assert by_url["s1"][0]["priority"] == 0.5
    assert len(by_url["s2"]) == 1 and by_url["s2"][0]["error"]
    assert by_url["s3"][0]["error"] == "ValueError: null xml"
    # feed_entries over the same inputs: none is a feed, so each url is
    # exactly one error row, and the null one names its cause
    feeds = {r["url"]: r for r in feed_entries(df).collect()}
    assert sorted(feeds) == ["s1", "s2", "s3"]
    assert all(r["error"] and r["ordinal"] is None for r in feeds.values())
    assert feeds["s3"]["error"] == "ValueError: null xml"


@pytest.mark.usefixtures("spark")
def test_feed_entries_explode(spark):
    rss = (b"<rss><channel><title>F</title><item><title>a</title>"
           b"<link>https://e/a</link></item></channel></rss>")
    df = spark.createDataFrame([("f1", rss)], "url string, xml binary")
    r = feed_entries(df).collect()[0]
    assert (r["kind"], r["feed_title"], r["title"], r["link"]) == \
        ("rss", "F", "a", "https://e/a")


@pytest.mark.usefixtures("spark")
def test_fetch_waves_politeness(spark):
    from space_launch_telemetry_analyzer_spark.operators.sitemap import (
        fetch_waves,
    )

    urls = [f"https://a.ex/p{i}" for i in range(5)] + ["https://b.ex/only"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = {r["url"]: (r["host"], r["wave"])
            for r in fetch_waves(df, per_host_slots=2).collect()}
    # a.ex: 5 urls, 2 slots/wave -> waves 0,0,1,1,2 in url order
    assert [rows[f"https://a.ex/p{i}"][1] for i in range(5)] == [0, 0, 1, 1, 2]
    assert rows["https://b.ex/only"] == ("b.ex", 0)


@pytest.mark.usefixtures("spark")
def test_frontier_new_canonical_anti_join(spark):
    from space_launch_telemetry_analyzer_spark.operators.sitemap import (
        frontier_new,
    )

    cand = spark.createDataFrame(
        [("https://e.x/a?b=2&a=1",),       # seen under a different surface
         ("https://e.x/b",),               # genuinely new
         ("https://e.x:443/b",),           # within-batch dup of /b
         ("https://e.x/c#frag",)],         # new; fragment strips
        "url string")
    seen = spark.createDataFrame(
        [("HTTPS://E.X/a?a=1&b=2",)], "url string")
    rows = {r["canonical_url"]: r["url"]
            for r in frontier_new(cand, seen).collect()}
    # /a is seen (param sort + case fold); /b collapses to the min rep
    assert rows == {"https://e.x/b": "https://e.x/b",
                    "https://e.x/c": "https://e.x/c#frag"}


def test_frontier_bloom_prefilter_identical_output(spark):
    """The bloom pre-filter must be output-invisible: candidates it proves
    unseen skip the anti-join, false positives get removed by the exact
    anti-join behind it — same rows either way (VERDICT r5 Next #5)."""
    from space_launch_telemetry_analyzer_spark.operators.sitemap import (
        frontier_bloom,
        frontier_new,
    )

    cand = spark.createDataFrame(
        [(f"https://h{i % 37}.example/p/{i}",) for i in range(500)]
        + [("https://e.x/a?b=2&a=1",), ("HTTP://E.X/a?a=1&b=2#f",)],
        "url string")
    seen = spark.createDataFrame(
        [(f"https://h{i % 37}.example/p/{i}",) for i in range(0, 500, 3)]
        + [("https://e.x/a?a=1&b=2",)],
        "url string")
    bloom = frontier_bloom(seen)
    plain = sorted(map(tuple, frontier_new(cand, seen).collect()))
    pre = sorted(map(tuple, frontier_new(cand, seen, bloom=bloom).collect()))
    assert plain == pre
    # 500 - ceil(500/3) unseen h-range urls, plus the HTTP:// candidate
    # (scheme lowercases to http, which differs from the seen https url);
    # the https /a candidate dedups against seen via param sort
    assert len(plain) == 334


def test_bloom_no_false_negatives_and_sized_fpp(spark):
    from pyspark.sql import functions as F

    from space_launch_telemetry_analyzer_spark.operators.sitemap import (
        bloom_might_contain,
        build_url_bloom,
    )

    members = spark.createDataFrame(
        [(f"https://m.example/{i}",) for i in range(2000)], "u string")
    bloom = build_url_bloom(members, "u")
    # every member must probe True — bloom false negatives are impossible
    assert members.where(
        ~bloom_might_contain(bloom, F.col("u"))).count() == 0
    # non-members probe True only at the sized rate (~0.9% at 10 bits/key,
    # k=5; assert a loose 5% ceiling so the test never flakes)
    others = spark.createDataFrame(
        [(f"https://other.example/{i}",) for i in range(2000)], "u string")
    fp = others.where(bloom_might_contain(bloom, F.col("u"))).count()
    assert fp <= 100
    assert bloom.fpp(2000) < 0.02


def test_bloom_broadcast_regime_cap(spark):
    import pytest as _pytest

    from space_launch_telemetry_analyzer_spark.operators.sitemap import (
        build_url_bloom,
    )
    one = spark.createDataFrame([("https://x/",)], "u string")
    with _pytest.raises(AssertionError, match="shard the"):
        build_url_bloom(one, "u", m_bits=1 << 32)


def test_frontier_bloom_plan_shape(spark):
    """Plan facts the pre-filter exists for: the definite-new branch has
    no join at all, the probe is Arrow-batched (no per-row Python), and
    exactly one anti-join remains for the bloom-hit residue."""
    from space_launch_telemetry_analyzer_spark.operators.sitemap import (
        frontier_bloom,
        frontier_new,
    )

    cand = spark.createDataFrame(
        [(f"https://h/{i}",) for i in range(50)], "url string")
    seen = spark.createDataFrame(
        [(f"https://h/{i}",) for i in range(0, 50, 2)], "url string")
    bloom = frontier_bloom(seen)
    plan = frontier_new(cand, seen, bloom=bloom) \
        ._jdf.queryExecution().executedPlan().toString()
    # exactly one anti-join remains (the bloom-hit residue); the
    # definite-new branch reaches the union join-free
    assert plan.count("LeftAnti") == 1
    # the probe itself is Arrow-batched, not per-row Python — visible in
    # the pre-checkpoint plan (localCheckpoint truncates lineage, so the
    # downstream plan starts at Scan ExistingRDD)
    from space_launch_telemetry_analyzer_spark.operators.sitemap import (
        bloom_might_contain,
    )
    from pyspark.sql import functions as F
    probe_plan = cand.withColumn(
        "hit", bloom_might_contain(bloom, F.col("url"))) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in probe_plan
    assert "BatchEvalPython" not in probe_plan


def test_image_sitemap_extension_does_not_overwrite_loc():
    # Google image-sitemap extension: nested image:loc must not clobber
    # the page's real loc (only DIRECT children of <url> count)
    d = parse_sitemap(
        b"<urlset><url><loc>https://page/1</loc>"
        b"<image:image><image:loc>https://cdn/img.jpg</image:loc>"
        b"<image:caption>c</image:caption></image:image>"
        b"<lastmod>2024-01-01</lastmod></url></urlset>")
    assert d["entries"] == [{"loc": "https://page/1",
                             "lastmod": "2024-01-01"}]
    # first-wins on duplicated direct children
    d2 = parse_sitemap(
        b"<urlset><url><loc>https://a</loc><loc>https://b</loc>"
        b"</url></urlset>")
    assert d2["entries"] == [{"loc": "https://a"}]


def test_feed_empty_href_does_not_block_real_alternate():
    d = parse_feed(
        b'<feed><entry><link rel="alternate" href=""/>'
        b'<link rel="alternate" href="https://real"/></entry></feed>')
    assert d["entries"][0]["link"] == "https://real"


@pytest.mark.usefixtures("spark")
def test_fetch_waves_uppercase_and_odd_schemes(spark):
    from space_launch_telemetry_analyzer_spark.operators.sitemap import (
        fetch_waves,
    )

    df = spark.createDataFrame(
        [("HTTPS://A.EX/1",), ("https://a.ex/2",), ("ftp://odd/1",),
         ("ftp://odd2/1",)], "url string")
    rows = {r["url"]: (r["host"], r["wave"])
            for r in fetch_waves(df, per_host_slots=1).collect()}
    # case-folded host match: both a.ex urls share one queue
    assert rows["HTTPS://A.EX/1"][0] == "a.ex"
    assert sorted([rows["HTTPS://A.EX/1"][1], rows["https://a.ex/2"][1]]) == \
        [0, 1]
    # odd schemes each form their own singleton queue, never a shared ""
    assert rows["ftp://odd/1"] == ("ftp://odd/1", 0)
    assert rows["ftp://odd2/1"] == ("ftp://odd2/1", 0)
