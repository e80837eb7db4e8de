"""HTML table extraction (operators/tables.py): structure walking,
header detection, cell text policy, nested tables, tolerant DOM, and the
Spark operator's error channel."""

from __future__ import annotations

from pyspark.sql import functions as F

from space_launch_telemetry_analyzer_spark.operators.tables import (
    extract_html_tables,
    html_tables,
)


def test_basic_table_with_header():
    h = ("<table><thead><tr><th>a</th><th>b</th></tr></thead>"
         "<tbody><tr><td>1</td><td>2</td></tr></tbody></table>")
    assert html_tables(h) == [
        (0, 0, True, ["a", "b"]),
        (0, 1, False, ["1", "2"]),
    ]


def test_cell_text_policy():
    """Markup reduces to text: b/a transparent, img -> alt, br -> space,
    entities unescaped once, whitespace collapsed."""
    h = ('<table><tr><td>1 &amp; x</td>'
         '<td><b>2</b>  <a href="/z">link</a></td>'
         '<td><img src="i.png" alt="pic"> after<br>break</td></tr></table>')
    assert html_tables(h) == [
        (0, 0, False, ["1 & x", "2 link", "pic after break"])]


def test_mixed_th_td_row_is_not_header():
    assert html_tables("<table><tr><th>h</th><td>d</td></tr></table>") == [
        (0, 0, False, ["h", "d"])]


def test_nested_table_is_its_own_index_and_does_not_leak():
    h = ("<table><tr><td>outer"
         "<table><tr><td>inner</td></tr></table>"
         "</td></tr></table>"
         "<table><tr><td>second</td></tr></table>")
    assert html_tables(h) == [
        (0, 0, False, ["outer"]),     # inner text excluded from the cell
        (1, 0, False, ["inner"]),     # DFS preorder: nested before sibling
        (2, 0, False, ["second"]),
    ]


def test_empty_rows_dropped_and_no_tables():
    assert html_tables("<table><tr></tr><tr><td>x</td></tr></table>") == [
        (0, 0, False, ["x"])]
    assert html_tables("<p>no tables here</p>") == []
    assert html_tables("") == []


def test_malformed_unclosed_table():
    # EOF closes everything; the half-open table still yields its rows
    assert html_tables("<table><tr><td>a</td><tr><td>b") == [
        (0, 0, False, ["a"]),
        (0, 1, False, ["b"]),
    ]


def test_spark_operator_rows_and_error_channel(spark):
    pages = spark.createDataFrame(
        [("u1", b"<table><tr><th>h</th></tr><tr><td>v</td></tr></table>"),
         ("u2", b"<p>tableless</p>"),
         ("u3", None)],
        "url string, html binary")
    rows = extract_html_tables(pages).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    assert [(r["table_idx"], r["row_idx"], r["is_header"], r["cells"])
            for r in sorted(by_url["u1"], key=lambda r: r["row_idx"])] == [
        (0, 0, True, ["h"]), (0, 1, False, ["v"])]
    assert "u2" not in by_url            # zero rows for tableless pages
    assert by_url["u3"][0]["error"] == "null html"
    assert by_url["u3"][0]["cells"] is None


def test_spark_operator_plan_is_single_python_pass(spark):
    pages = spark.createDataFrame([("u", b"<p></p>")], "url string, html binary")
    plan = (extract_html_tables(pages)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "Exchange" not in plan
