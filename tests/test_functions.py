"""Unit tests for the expression-macro library (SURVEY.md §5 item 3),
including the edge cases the reference mishandles."""

from __future__ import annotations

import pyspark.sql.functions as F

from ug_dwh_etl_spark.functions.dates import days_between
from ug_dwh_etl_spark.functions.numeric import fill_cast, lenient_int, locale_decimal
from ug_dwh_etl_spark.functions.text import concat_ws_skipnull, regex_case, rlike_any
from ug_dwh_etl_spark.functions.urls import url_levels


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_url_levels_full_and_short(spark):
    df = spark.createDataFrame(
        [("https://www.ex.com/de/hotels/p1/p2/p3/p4/extra",),
         ("https://www.ex.com/de",),
         ("nopath",)],
        "url string",
    )
    out = df.select(*url_levels("url").values())
    got = rows(out)
    # reference: split('/')[2..7] guarded by length (sf_html_data.py:109-115)
    assert got[0] == ("www.ex.com", "de", "hotels", "p1", "p2", "p3")
    assert got[1] == ("www.ex.com", "de", None, None, None, None)
    assert got[2] == (None, None, None, None, None, None)


def test_rlike_any_case_insensitive(spark):
    df = spark.createDataFrame([("x.JPG",), ("y.html",)], "s string")
    out = df.select(rlike_any("s", [r"\.jpg$", r"\.png$"]).alias("m"))
    assert rows(out) == [(True,), (False,)]


def test_regex_case_order(spark):
    df = spark.createDataFrame([("src1",), ("src12",), ("other",)], "s string")
    out = df.select(
        regex_case("s", [("^src[0-9]$", "Internal"), ("^src1[0-9]$", "White")], "Ext").alias("c")
    )
    assert rows(out) == [("Internal",), ("White",), ("Ext",)]


def test_concat_ws_skipnull(spark):
    # concatenate_agents shape (sf_html_data.py:120-124): skip missing
    df = spark.createDataFrame([("a", None, "c")], "x string, y string, z string")
    out = df.select(concat_ws_skipnull(", ", ["x", "y", "z"]).alias("c"))
    assert rows(out) == [("a, c",)]


def test_locale_decimal_german_money(spark):
    # Midoco preis strings (product_data.py:63-64)
    df = spark.createDataFrame([("1.234,56",), ("99,90",), ("garbage",)], "p string")
    out = df.select(locale_decimal("p").cast("double").alias("v"))
    assert rows(out) == [(1234.56,), (99.9,), (None,)]


def test_lenient_int_coerce_default(spark):
    df = spark.createDataFrame([("42",), ("x42",), (None,)], "s string")
    out = df.select(lenient_int("s").alias("v"))
    assert rows(out) == [(42,), (0,), (0,)]


def test_fill_cast_intended_semantics(spark):
    # the reference's fillna-inplace bug (sf_html_data.py:153-160) nulls
    # the column; we implement the INTENDED fill-then-cast.
    df = spark.createDataFrame([("1.5",), (None,), ("bad",)], "s string")
    out = df.select(fill_cast("s").alias("v"))
    assert rows(out) == [(1.5,), (0.0,), (0.0,)]


def test_days_between(spark):
    df = spark.createDataFrame(
        [("2024-01-10 08:00:00", "2024-01-01 23:00:00")], "a string, b string"
    )
    out = df.select(days_between(F.col("a").cast("timestamp"), F.col("b").cast("timestamp")).alias("d"))
    assert rows(out) == [(9,)]
