"""Value-kernel parity tests against reference grammar examples
(kgtk/value/kgtkvalue.py, docs/specification.md)."""

from __future__ import annotations

import pytest

from kgtk_spark.values import (
    classify,
    destringify,
    is_valid,
    parse_fields,
    stringify,
)


@pytest.mark.parametrize(
    "value,expected",
    [
        ("", "empty"),
        ("a|b", "list"),
        ("a\\|b", "symbol"),  # escaped pipe is not a separator
        ("42", "number"),
        ("-3.25", "number"),
        ("1e10", "number"),
        ("0x1F", "number"),
        ("0b101", "number"),
        ("10[9,11]m", "quantity"),
        ("5Q11573", "quantity"),
        ("12.3kg", "quantity"),
        ('"hello"', "string"),
        ("'Germany'@en", "language_qualified_string"),
        ("@043.26193/010.92708", "location_coordinates"),
        ("^2019-07-19T00:00:00Z/11", "date_and_times"),
        ("^1980", "date_and_times"),
        ("!ext", "extension"),
        ("True", "boolean"),
        ("False", "boolean"),
        ("Q42", "symbol"),
        ("P31", "symbol"),
    ],
)
def test_classify(value, expected):
    assert classify(value) == expected


def test_number_fields():
    f = parse_fields("42")
    assert f["valid"] and f["number"] == 42.0
    f = parse_fields("0x1F")
    assert f["number"] == 31.0


def test_quantity_fields():
    f = parse_fields("10[9,11]m")
    assert f["valid"]
    assert f["number"] == 10.0
    assert f["low_tolerance"] == 9.0
    assert f["high_tolerance"] == 11.0
    assert f["si_units"] == "m"
    f = parse_fields("5Q11573")
    assert f["units_node"] == "Q11573"


def test_string_fields():
    f = parse_fields('"hello world"')
    assert f["valid"] and f["text"] == "hello world"
    f = parse_fields("'Germany'@en")
    assert f["valid"] and f["text"] == "Germany" and f["language"] == "en"
    f = parse_fields("'x'@en-GB")
    assert f["language"] == "en" and f["language_suffix"] == "-GB"


def test_coordinates():
    f = parse_fields("@043.26193/010.92708")
    assert f["valid"]
    assert abs(f["latitude"] - 43.26193) < 1e-9
    assert abs(f["longitude"] - 10.92708) < 1e-9
    assert parse_fields("@100.0/10.0")["valid"] is False  # lat out of range


def test_dates():
    f = parse_fields("^2019-07-19T00:00:00Z/11")
    assert f["valid"]
    assert (f["year"], f["month"], f["day"]) == (2019, 7, 19)
    assert f["zonestr"] == "Z"
    assert f["precision"] == "11"
    assert f["iso8601extended"] is True
    f = parse_fields("^1980")
    assert f["valid"] and f["year"] == 1980 and f["month"] is None
    # lax month/day zero allowed (kgtk lax grammar)
    assert parse_fields("^1980-00-00")["valid"]
    assert parse_fields("^2019-13-01")["valid"] is False


def test_list_fields():
    f = parse_fields("a|b|c")
    assert f["data_type"] == "list" and f["list_len"] == 3 and f["valid"]


def test_stringify_roundtrip():
    for s in ["plain", 'with "quotes"', "pipe|pipe", "tab\there", "back\\slash"]:
        v = stringify(s)
        assert classify(v) == "string"
        text, lang, suffix = destringify(v)
        assert text == s
    v = stringify("hallo", language="de")
    assert v == "'hallo'@de"
    assert destringify(v) == ("hallo", "de", "")


def test_is_valid():
    assert is_valid("Q42")
    assert is_valid('"ok"')
    assert not is_valid("!reserved")
    assert not is_valid("@999.0/0.0")


def test_udfs(spark):
    from pyspark.sql import functions as F

    from kgtk_spark.values import is_valid_udf, parse_fields_udf

    df = spark.createDataFrame(
        [("Q42",), ('"s"',), ("10[9,11]m",), ("^1980",), ("",)], ["v"]
    )
    rows = df.select(
        is_valid_udf("v").alias("ok"),
        parse_fields_udf("v").alias("f"),
    ).collect()
    assert [r["f"]["data_type"] for r in rows] == [
        "symbol",
        "string",
        "quantity",
        "date_and_times",
        "empty",
    ]
    assert all(r["ok"] for r in rows)
    assert rows[2]["f"]["number"] == 10.0


def test_lq_string_language_list_validation(spark):
    from kgtk_spark.values import parse_fields

    assert parse_fields("'hello'@en")["valid"]
    assert parse_fields("'hallo'@de-AT")["valid"]
    assert parse_fields("'x'@qx")["valid"] is False  # shape ok, not ISO-639
