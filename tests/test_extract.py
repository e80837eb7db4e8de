"""Golden extraction fixtures: byte-identical extracted text per url.

The analog of the reference's golden OCR fixtures
(tests/test_ocr/test_ocr_integration.py:39-112 over
tests/test_data/ocr_samples/*.png): deterministic synthetic pages with
closed-form expected values (FIXTURES.md F3), byte-compared.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from space_launch_telemetry_analyzer_spark.operators.extract import (
    apply_data_allowlist,
    extract_page,
    extract_pages,
    parse_blocks,
    extracted_text_of,
)
from space_launch_telemetry_analyzer_spark.rules import RuleConfig, default_config
from space_launch_telemetry_analyzer_spark.sources.pages import (
    expected_text,
    field_values,
    paragraphs_of,
    render_page,
    synth_pages_df,
)

CFG = default_config()


# --- FROZEN on-disk golden fixtures -----------------------------------------
# Generated once and committed (tests/golden/*): guards against generator +
# extractor co-drift — a round-trip test alone would still pass if both sides
# changed together, but the byte contract is against THESE files.

import json
import os

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


@pytest.mark.parametrize("i", [7, 42, 500])
def test_frozen_golden_files(i):
    with open(f"{GOLDEN_DIR}/page_{i}.html", "rb") as f:
        html = f.read()
    with open(f"{GOLDEN_DIR}/expected_{i}.txt", encoding="utf-8") as f:
        expected = f.read()
    r = extract_page(html, CFG, i)
    assert r["extracted_text"] == expected  # byte-identical vs the FROZEN file
    with open(f"{GOLDEN_DIR}/expected_fields.json", encoding="utf-8") as f:
        fv = json.load(f)[str(i)]
    assert r["speed"] == fv["speed_kmh"] and r["altitude"] == fv["alt_km"]
    assert r["fuel_lox"] == fv["lox"] and r["fuel_ch4"] == fv["ch4"]
    assert r["time"]["sign"] == fv["time_sign"] and r["time"]["seconds"] == fv["time_s"]


def test_generator_still_matches_frozen():
    """The deterministic generator itself must not drift from the frozen files."""
    for i in (7, 42, 500):
        with open(f"{GOLDEN_DIR}/page_{i}.html", encoding="utf-8") as f:
            assert render_page(i, paragraphs_of(i)) == f.read()


# --- golden fixtures (FIXTURES.md F3) --------------------------------------

def _page(i: int) -> bytes:
    return render_page(i, paragraphs_of(i)).encode("utf-8")


@pytest.mark.parametrize("i", [0, 1, 7, 42, 99, 100, 899, 900, 1199, 54321])
def test_byte_identical_text(i):
    r = extract_page(_page(i), CFG, i)
    assert r["error"] is None
    assert r["extracted_text"] == expected_text(i)  # byte-identical contract


@pytest.mark.parametrize("i", [0, 7, 42, 100, 899, 900, 54321])
def test_field_values(i):
    r = extract_page(_page(i), CFG, i)
    fv = field_values(i)
    assert r["speed"] == fv["speed_kmh"]
    assert r["altitude"] == fv["alt_km"]
    assert r["time"] == {
        "sign": fv["time_sign"], "hours": fv["time_h"],
        "minutes": fv["time_m"], "seconds": fv["time_s"],
    }
    assert r["fuel_lox"] == fv["lox"]
    assert r["fuel_ch4"] == fv["ch4"]
    flat = r["engines"]["central_stack"] + r["engines"]["inner_ring"] + r["engines"]["outer_ring"]
    assert flat == fv["engine_bools"]


def test_activation_window():
    """speed2 rule active only for idx in [100, 900) — the ROI.is_active
    analog (roi_manager.py:45-53)."""
    spans_in = {s["rule_id"]: s for s in extract_page(_page(500), CFG, 500)["spans"]
                if s["series"] == "secondary"}
    assert spans_in["speed"]["value"] == pytest.approx(field_values(500)["speed2_kmh"])
    for idx in (99, 900, None):
        spans_out = [s for s in extract_page(_page(idx or 0), CFG, idx)["spans"]
                     if s["series"] == "secondary"]
        # idx=None means "no activation info" -> all rules active
        assert bool(spans_out) == (idx is None)


def test_degenerate_pages():
    """Failure is data, not control flow (frame_processing.py:41-50)."""
    r = extract_page(None, CFG, None)
    assert r["error"] == "null html" and r["extracted_text"] is None
    r = extract_page(b"", CFG, None)
    assert r["error"] is None and r["extracted_text"] == ""
    r = extract_page(b"<html><body></body></html>", CFG, None)
    assert r["extracted_text"] == ""
    # short block below the density threshold -> boilerplate
    r = extract_page(b"<p>short</p>", CFG, None)
    assert r["extracted_text"] == ""


def test_no_fields_page():
    html = b"<html><body><p>plain page with enough words to count as content</p></body></html>"
    r = extract_page(html, CFG, None)
    assert r["extracted_text"] == "plain page with enough words to count as content"
    assert r["speed"] is None and r["time"] is None and r["engines"] is None


def test_zero_time_shortcircuit_python():
    """P12 (extract_data.py:112-115): once zero_time_met, the time field is
    +00:00:00 without parsing — even when the span says otherwise."""
    r = extract_page(_page(500), CFG, 500, zero_time_met=True)
    assert r["time"] == {"sign": "+", "hours": 0, "minutes": 0, "seconds": 0}
    # other fields still extracted
    assert r["speed"] == field_values(500)["speed_kmh"]


def test_zero_time_shortcircuit_batch(spark):
    """ST2 per-batch scope: within one Arrow batch, rows after the first T-0
    row short-circuit; rows before it parse normally."""
    import pandas as pd

    # idx 60 has t = 60 % 1200 - 60 = 0 -> T+00:00:00 (the anchor row)
    ids = [58, 59, 60, 61, 62]
    rows = [(str(i), render_page(i, paragraphs_of(i)).encode(), i) for i in ids]
    df = spark.createDataFrame(rows, "url string, html binary, row_idx long").coalesce(1)
    out = {int(r["url"]): r["time"].asDict() for r in
           extract_pages(df, CFG, zero_time_shortcircuit=True).collect()}
    assert out[58]["sign"] == "-" and out[58]["seconds"] == 2  # parsed normally
    assert out[60] == {"sign": "+", "hours": 0, "minutes": 0, "seconds": 0}
    # rows after the anchor: emitted as +00:00:00 regardless of their spans
    assert out[61] == {"sign": "+", "hours": 0, "minutes": 0, "seconds": 0}
    assert out[62] == {"sign": "+", "hours": 0, "minutes": 0, "seconds": 0}


def test_engines_fewer_points_than_config():
    """OOB analog (engine_detection.py OOB -> False; here: missing li simply
    yield shorter section arrays, never an exception)."""
    html = (
        '<html><body><ul class="status"><li class="on"></li><li class="off"></li>'
        "</ul></body></html>"
    ).encode()
    r = extract_page(html, CFG, None)
    assert r["error"] is None
    assert r["engines"]["central_stack"] == [True, False]
    assert r["engines"]["inner_ring"] == [] and r["engines"]["outer_ring"] == []


def test_allowlist():
    # the OCR data allowlist (ocr/ocr.py:115): letters/symbols stripped
    assert apply_data_allowlist("CH4 60.0%") == "460.0"
    assert apply_data_allowlist("1,234 km/h") == "1,234"


def test_block_classification():
    html = (
        '<html><body><nav class="top"><a href="/">some very long navigation text here</a></nav>'
        "<p>this paragraph has plenty of words and no links at all</p>"
        '<ul class="farm"><li><a href="/x">a long link farm entry with many words</a></li></ul>'
        "</body></html>"
    )
    blocks = parse_blocks(html.decode() if isinstance(html, bytes) else html)
    by_tag = {}
    for b in blocks:
        by_tag.setdefault(b.tag, b)
    assert not by_tag["nav"].is_content  # NON_CONTENT tag
    assert by_tag["p"].is_content
    assert not by_tag["li"].is_content  # link density 1.0
    assert extracted_text_of(blocks) == "this paragraph has plenty of words and no links at all"


def test_realistic_article_page():
    """A Wikipedia-shaped page: infobox table, TOC link farm, references —
    the density classifier must keep the prose and drop the chrome."""
    html = b"""<html><head><title>Raptor (rocket engine)</title></head><body>
<nav class="top"><a href="/">Main</a> <a href="/rand">Random</a> <a href="/about">About</a></nav>
<div class="toc"><ul>
<li><a href="#h">1 History</a></li><li><a href="#d">2 Design</a></li>
<li><a href="#v">3 Versions</a></li><li><a href="#r">4 References</a></li>
</ul></div>
<table class="infobox"><tr><td>Origin</td><td>US</td></tr>
<tr><td>Propellant</td><td>LOX / CH4</td></tr></table>
<main><article>
<p>The engine is a family of full-flow staged-combustion rocket engines
developed for use on a fully reusable launch vehicle of unusual scale.</p>
<h2>Design</h2>
<p>Unlike most engines of its generation it burns methane with liquid oxygen
in a full-flow staged combustion cycle, raising chamber pressure records.</p>
</article></main>
<div class="references"><ul>
<li><a href="/c1">citation one with a rather long title here</a></li>
<li><a href="/c2">citation two with another long title string</a></li>
</ul></div>
<footer><a href="/t">Terms</a> <a href="/p">Privacy</a></footer>
</body></html>"""
    r = extract_page(html, CFG, None)
    assert r["error"] is None
    text = r["extracted_text"]
    assert text.startswith("The engine is a family")
    assert "full-flow staged combustion cycle" in text
    assert "Random" not in text and "citation one" not in text  # chrome dropped
    assert "Origin" not in text  # short infobox cells below density threshold
    # neighbor smoothing keeps the sandwiched section heading
    assert "\nDesign\n" in text


def test_neighbor_smoothing_rules():
    """Promotion requires BOTH neighbors content: an isolated short block
    stays boilerplate; a sandwiched one is kept."""
    sandwiched = (
        b"<p>first paragraph with plenty of words to classify as content</p>"
        b"<h2>Heading</h2>"
        b"<p>second paragraph also with plenty of words to classify fine</p>"
    )
    r = extract_page(sandwiched, CFG, None)
    assert r["extracted_text"].splitlines()[1] == "Heading"

    isolated = (
        b"<h2>Heading</h2>"
        b"<p>only paragraph with plenty of words to classify as content</p>"
    )
    r2 = extract_page(isolated, CFG, None)
    assert r2["extracted_text"] == "only paragraph with plenty of words to classify as content"
    html = b"<p>fish &amp; chips cost &lt;5 euros in the old town</p>"
    r = extract_page(html, CFG, None)
    assert r["extracted_text"] == "fish & chips cost <5 euros in the old town"


def test_misnested_and_comments():
    html = (
        b"<p>first paragraph with quite enough words here <!-- hidden comment -->"
        b"<script>var x = 'ignore all of this text';</script>"
        b"continued after the script tag just fine</p>"
    )
    r = extract_page(html, CFG, None)
    assert "ignore" not in r["extracted_text"]
    assert r["extracted_text"].startswith("first paragraph")


# --- Spark-side: the vectorized kernel over the distributed generator -------

def test_extract_pages_spark(spark):
    pages = synth_pages_df(spark, 300, partitions=4)
    res = extract_pages(pages)
    joined = res.join(pages.select("url", "text"), "url")
    assert joined.where(F.col("extracted_text") != F.col("text")).count() == 0
    assert res.where(F.col("error").isNotNull()).count() == 0
    assert res.count() == 300
    # buckets well-formed
    row = res.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi")).first()
    assert row["lo"] >= 0 and row["hi"] < 256


def test_extract_pages_null_html(spark):
    df = spark.createDataFrame(
        [("u1", None), ("u2", b"<p>good page with sufficiently many words</p>")],
        "url string, html binary",
    )
    res = extract_pages(df, row_idx_col=None).orderBy("url").collect()
    assert res[0]["error"] == "null html"
    assert res[1]["extracted_text"] == "good page with sufficiently many words"


def test_class_only_selector_matches():
    """A '.speed' (class-only) selector is valid per ExtractionRule.matches —
    the O(1) selector index must serve it too (ADVICE r01: it used to
    silently never match)."""
    from space_launch_telemetry_analyzer_spark.rules import RuleConfig

    cfg = RuleConfig.from_dict(
        {
            "version": 1,
            "series": ["primary"],
            "rules": [
                {"id": "speed", "series": "primary", "selector": ".speed",
                 "measurement_unit": "km/h"},
                {"id": "altitude", "series": "primary", "selector": "",
                 "measurement_unit": "km"},  # empty selector = first block
            ],
        }
    )
    html = b'<html><body><div class="x speed">123 km/h</div><p>more</p></body></html>'
    out = extract_page(html, cfg, None)
    assert out["error"] is None
    assert out["speed"] == 123.0
    # empty selector matched the first block ('123 km/h' -> 123 as altitude)
    assert out["altitude"] == 123.0


def test_pathological_pages_stay_linear():
    """Crawler-reality inputs must neither hang nor crash: the lexer is a
    single forward regex scan, so multi-MB adversarial pages (deep nesting,
    giant attributes, unterminated tags, binary noise) must complete in
    time roughly linear in input size and still return a row."""
    import time

    cases = {
        "deep_nesting": b"<div>" * 20_000 + b"hello world deep" + b"</div>" * 20_000,
        "giant_attr": b'<p class="' + b"x" * 2_000_000 + b'">big attr page</p>',
        "many_small_tags": b"<p>word</p>" * 100_000,
        "unterminated": b"<div><p>never closed " + b"text " * 100_000,
        "binary_noise": bytes(range(256)) * 4_000,
        "comment_bomb": b"<!--" + b"-" * 1_000_000 + b"--><p>text after the comment bomb survives intact</p>",
    }
    for name, html in cases.items():
        t0 = time.perf_counter()
        r = extract_page(html, CFG, None)
        dt = time.perf_counter() - t0
        assert r["error"] is None or isinstance(r["error"], str), name
        # multi-MB worst cases: a quadratic lexer would take minutes here
        assert dt < 10.0, f"{name} took {dt:.1f}s on {len(html)/1e6:.1f} MB"
    # spot-check content still extracted around the bombs
    assert "text after the comment bomb survives intact" in (
        extract_page(cases["comment_bomb"], CFG, None)["extracted_text"] or ""
    )


def test_kernel_matches_local_function_on_random_soup(spark):
    """The distributed mapInArrow kernel must equal the plain-Python
    extract_page field for field on arbitrary byte soup, the golden pages
    (with their row_idx, so activation windows apply) and a null page —
    any drift in the Arrow serialization of nested results (time, spans,
    engines, fuel) shows up here."""
    import random

    from space_launch_telemetry_analyzer_spark.operators.extract import url_bucket

    rng = random.Random(20260816)
    alphabet = '<>/ab c="\'p1!-&;\n\t\x00é€'
    rows = []
    for i in range(300):
        soup = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 400)))
        rows.append((f"u{i}", soup.encode("utf-8", "surrogatepass"), None))
    for i in (7, 42, 500):
        with open(f"{GOLDEN_DIR}/page_{i}.html", "rb") as f:
            rows.append((f"golden{i}", f.read(), i))
    rows.append(("null", None, None))
    df = spark.createDataFrame(rows, "url string, html binary, row_idx long")
    got = {r.url: r.asDict(recursive=True) for r in extract_pages(df).collect()}
    buckets = dict(df.select("url", url_bucket(F.col("url"), 256)).collect())
    assert len(got) == len(rows)
    for url, html, idx in rows:
        want = extract_page(html, CFG, idx)
        g = got[url]
        for k, v in want.items():
            assert g[k] == v, (url, k)
        assert g["input_bytes"] == (len(html) if html is not None else 0), url
        assert g["bucket"] == buckets[url], url
    assert got["null"]["error"] == "null html"
    assert got["golden42"]["engines"] and got["golden42"]["time"]


def test_extract_pages_schema_is_the_one_declaration(spark):
    """extract_pages' output schema is schema.EXTRACTION_SCHEMA exactly,
    names, order, types and nullability included."""
    from space_launch_telemetry_analyzer_spark.schema import EXTRACTION_SCHEMA

    df = spark.createDataFrame([("u", b"<p>x</p>")], "url string, html binary")
    assert extract_pages(df).schema.json() == EXTRACTION_SCHEMA.json()


def test_unclosed_anchor_does_not_poison_rest_of_page(spark):
    """One missing </a> in the nav (ubiquitous malformed HTML) must not mark
    the whole remaining page as link text: HTML5 closes an open <a> at
    block boundaries, so the article still extracts."""
    from space_launch_telemetry_analyzer_spark.operators.extract import extract_page
    from space_launch_telemetry_analyzer_spark.rules import default_config

    article = ("this is a long and genuinely contentful paragraph with many "
               "plain words that should classify as article content " * 3).strip()
    html = (
        "<html><body>"
        '<nav><a href="/home">Home'  # <- never closed
        f"</nav><main><article><p>{article}</p>"
        f"<p>{article}</p></article></main>"
        "</body></html>"
    ).encode()
    res = extract_page(html, default_config(), None)
    assert res["error"] is None
    assert article in (res["extracted_text"] or "")
