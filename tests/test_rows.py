"""The row-level error channel (operators/rows.py map_rows): fan-out,
NULL-filled columns, the exception row and the driver-side DDL check."""

from __future__ import annotations

import pytest

from space_launch_telemetry_analyzer_spark.operators.rows import html_text, map_rows

DDL = "id long, n int, s string, error string"


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _fan_out():
    """The row function under test, built inside a function so Spark
    pickles it by value (this test module is not importable on workers)."""
    def fan_out(v):
        if v == "boom":
            raise ValueError("bad value")
        if v == "gen":
            # a generator that fails part-way: no partial rows may leak
            def partial():
                yield {"n": 1}
                raise RuntimeError("mid-stream")
            return partial()
        return [{"n": i, "s": v} for i in range(len(v or ""))]
    return fan_out


def test_empty_input_yields_no_rows(spark):
    out = map_rows(_pairs(spark, []), _fan_out(), DDL)
    assert out.collect() == []
    assert out.columns == ["id", "n", "s", "error"]


def test_fn_returning_empty_list_drops_the_row(spark):
    out = map_rows(_pairs(spark, [(1, ""), (2, None), (3, "ab")]), _fan_out(), DDL)
    assert sorted(tuple(r) for r in out.collect()) == [
        (3, 0, "ab", None), (3, 1, "ab", None)]


def test_omitted_columns_are_null(spark):
    out = map_rows(_pairs(spark, [(7, "x")]),
                   lambda v: [{"s": v}, {"n": 5}, {"error": "own"}], DDL)
    assert [tuple(r) for r in out.collect()] == [
        (7, None, "x", None), (7, 5, None, None), (7, None, None, "own")]


def test_exception_is_exactly_one_error_row(spark):
    df = _pairs(spark, [(1, "boom"), (2, "gen"), (3, "a")])
    rows = sorted(tuple(r) for r in map_rows(df, _fan_out(), DDL).collect())
    assert rows == [
        (1, None, None, "ValueError: bad value"),
        (2, None, None, "RuntimeError: mid-stream"),
        (3, 0, "a", None),
    ]


def test_key_is_cast_to_the_ddl_type(spark):
    df = spark.createDataFrame([(4, "ab")], "id int, v string")
    out = map_rows(df, _fan_out(), DDL)
    assert dict(out.dtypes)["id"] == "bigint"
    assert sorted(r["id"] for r in out.collect()) == [4, 4]


@pytest.mark.parametrize("ddl", [
    "id long, n int",
    "id long, error string, n int",
    "id long, n int, error int",
])
def test_ddl_without_trailing_error_string_is_rejected(spark, ddl):
    with pytest.raises(ValueError, match="error string"):
        map_rows(_pairs(spark, [(1, "a")]), _fan_out(), ddl)


def test_non_pair_frame_is_rejected(spark):
    df = spark.createDataFrame([(1, "a", "b")], "id long, v string, w string")
    with pytest.raises(ValueError, match="key, value"):
        map_rows(df, _fan_out(), DDL)


def test_html_text_decodes_binary_and_passes_strings():
    assert html_text(b"caf\xc3\xa9 \xff") == "café �"
    assert html_text("<p>x</p>") == "<p>x</p>"
