"""Property-based tests (hypothesis) for the value kernel — the byte-parity
layer gets randomized coverage beyond the reference's example-based tests."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from kgtk_spark.values import (
    classify,
    destringify,
    is_valid,
    parse_fields,
    stringify,
)

# The data types classify() may return (kgtk/value/kgtkvalue.py).
DATA_TYPES = [
    "empty", "list", "number", "quantity", "string",
    "language_qualified_string", "location_coordinates", "date_and_times",
    "extension", "boolean", "symbol",
]

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=50
)


@given(text_strategy)
@settings(max_examples=300, deadline=None)
def test_stringify_roundtrip_any_text(s):
    v = stringify(s)
    assert classify(v) == "string"
    assert is_valid(v)
    text, lang, suffix = destringify(v)
    assert text == s and lang == "" and suffix == ""


@given(text_strategy, st.sampled_from(["en", "de", "uk", "zxx"]))
@settings(max_examples=150, deadline=None)
def test_lq_stringify_roundtrip(s, lang):
    v = stringify(s, language=lang)
    assert classify(v) == "language_qualified_string"
    text, got_lang, _ = destringify(v)
    assert text == s and got_lang == lang


@given(st.text(max_size=30))
@settings(max_examples=300, deadline=None)
def test_classify_total_and_stable(v):
    # classify never raises and always returns a known type
    dt = classify(v)
    assert dt in DATA_TYPES
    assert classify(v) == dt
    # parse_fields never raises and reports the same type
    f = parse_fields(v)
    assert f["data_type"] == dt
    assert isinstance(f["valid"], bool)


@given(st.floats(allow_nan=False, allow_infinity=False, width=32))
@settings(max_examples=200, deadline=None)
def test_float_literals_are_numbers(x):
    v = repr(float(x))
    f = parse_fields(v)
    assert f["data_type"] == "number" and f["valid"]
    assert abs(f["number"] - float(x)) <= abs(float(x)) * 1e-12


@given(st.integers(min_value=-(10**15), max_value=10**15))
@settings(max_examples=200, deadline=None)
def test_int_literals_are_numbers(x):
    f = parse_fields(str(x))
    assert f["data_type"] == "number" and f["number"] == float(x)


@given(
    st.floats(min_value=-90, max_value=90, allow_nan=False),
    st.floats(min_value=-180, max_value=180, allow_nan=False),
)
@settings(max_examples=100, deadline=None)
def test_coordinates_in_range_valid(lat, lon):
    v = f"@{lat:011.6f}/{lon:011.6f}"
    f = parse_fields(v)
    assert f["data_type"] == "location_coordinates" and f["valid"]
    assert abs(f["latitude"] - round(lat, 6)) < 1e-9
    assert abs(f["longitude"] - round(lon, 6)) < 1e-9


@given(st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=5), min_size=2, max_size=5))
@settings(max_examples=150, deadline=None)
def test_pipe_join_classifies_as_list(items):
    v = "|".join(items)
    f = parse_fields(v)
    assert f["data_type"] == "list"
    assert f["list_len"] == len(items)
