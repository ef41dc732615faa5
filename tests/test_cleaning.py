"""Cleaning function parity tests.

The parametrized corpora mirror the reference's own test cases
(/root/reference/tests/test_transform.py:174-271) — semantics, not code,
carried over. Each case is asserted for all three layers: pure Python
(the spec / oracle), Column expression (JVM hot path), pandas UDF
(Arrow path) — so the layers can never drift apart.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_pipeline_spark.functions import cleaning

PRICE_CASES = [
    ("$1,200.99", 1200.99),
    ("$100", 100.0),
    ("Price Unavailable", None),
    ("price UNAVAILABLE now", None),
    ("1,234.5", 1234.5),
    ("abc", None),
    ("", None),
    (None, None),
]

RATING_CASES = [
    ("⭐ 4.5 / 5", 4.5),
    ("5/5", 5.0),
    ("4/ stars", 4.0),
    ("Rating: 3.9 / 5", 3.9),
    ("Invalid Rating", None),
    ("Not Rated", None),
    ("4.2", 4.2),
    ("  4.8  ", 4.8),
    ("junk", None),
    (None, None),
]

COLOR_CASES = [
    ("Available in 5 Colors", 5),
    ("3 Colors", 3),
    ("12", 12),
    ("no digits", None),
    ("", None),
    (None, None),
]

TEXT_CASES = [
    ("  hello world  ", "hello world"),
    ("hello", "hello"),
    ("[unavailable]", None),
    ("  NOT RATED ", None),
    ("n/a", None),
    ("", None),
    ("   ", None),
    (None, None),
    # whitespace beyond the space character: every layer strips what
    # str.strip() strips (Spark's bare trim() strips spaces only)
    ("\thello\n", "hello"),
    ("hello\r\n", "hello"),
    ("\xa0n/a\xa0", None),
]


@pytest.mark.parametrize("raw,expected", PRICE_CASES)
def test_clean_price_py(raw, expected):
    assert cleaning.clean_price_py(raw) == expected


@pytest.mark.parametrize("raw,expected", RATING_CASES)
def test_clean_rating_py(raw, expected):
    assert cleaning.clean_rating_py(raw) == expected


@pytest.mark.parametrize("raw,expected", COLOR_CASES)
def test_clean_colors_py(raw, expected):
    assert cleaning.clean_colors_py(raw) == expected


@pytest.mark.parametrize("raw,expected", TEXT_CASES)
def test_clean_text_py(raw, expected):
    assert cleaning.clean_text_py(raw) == expected


def _run_both(spark, cases, col_fn, pudf):
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], "id int, raw string"
    )
    out = (
        df.select(
            "id", col_fn(F.col("raw")).alias("expr"), pudf(F.col("raw")).alias("udf")
        )
        .orderBy("id")
        .collect()
    )
    return out


def test_clean_price_spark_layers(spark):
    rows = _run_both(
        spark, PRICE_CASES, cleaning.clean_price_col, cleaning.clean_price_pudf
    )
    for row, (raw, expected) in zip(rows, PRICE_CASES):
        assert row["expr"] == expected, f"expr mismatch on {raw!r}"
        assert row["udf"] == expected, f"udf mismatch on {raw!r}"


def test_clean_rating_spark_layers(spark):
    rows = _run_both(
        spark, RATING_CASES, cleaning.clean_rating_col, cleaning.clean_rating_pudf
    )
    for row, (raw, expected) in zip(rows, RATING_CASES):
        assert row["expr"] == expected, f"expr mismatch on {raw!r}"
        assert row["udf"] == expected, f"udf mismatch on {raw!r}"


def test_clean_colors_spark_layers(spark):
    rows = _run_both(
        spark, COLOR_CASES, cleaning.clean_colors_col, cleaning.clean_colors_pudf
    )
    for row, (raw, expected) in zip(rows, COLOR_CASES):
        assert row["expr"] == expected, f"expr mismatch on {raw!r}"
        assert row["udf"] == expected, f"udf mismatch on {raw!r}"


def test_clean_text_spark_layers(spark):
    rows = _run_both(
        spark, TEXT_CASES, cleaning.clean_text_col, cleaning.clean_text_pudf
    )
    for row, (raw, expected) in zip(rows, TEXT_CASES):
        assert row["expr"] == expected, f"expr mismatch on {raw!r}"
        assert row["udf"] == expected, f"udf mismatch on {raw!r}"


def test_strip_chars_are_python_whitespace():
    assert cleaning.STRIP_CHARS == "".join(
        ch for ch in map(chr, range(0x110000)) if ch.isspace()
    )


def test_clean_texts_pandas_matches_py():
    s = pd.Series([c[0] for c in TEXT_CASES], dtype=object)
    out = cleaning.clean_texts_pandas(s)
    for got, (raw, expected) in zip(out, TEXT_CASES):
        assert (None if pd.isna(got) else got) == expected, raw
