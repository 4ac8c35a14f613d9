"""The KGTK value type system as vectorized (Arrow-batched) pandas UDFs.

Semantics re-implemented from scratch to match the reference grammar
(kgtk/value/kgtkvalue.py — numbers/quantities :592-800, strings :981-1084,
coordinates :1145-1300, dates :1333-1693; sigil dispatch :1718-1754;
string escapes kgtk/kgtkformat.py:65-131). Cells are classified by their
first character, then validated by a full-match regex per type.

The 11 data types: EMPTY, LIST, NUMBER, QUANTITY, STRING,
LANGUAGE_QUALIFIED_STRING, LOCATION_COORDINATES, DATE_AND_TIMES,
EXTENSION (reserved, never valid), BOOLEAN, SYMBOL.

This is the byte-parity layer: every KGTK literal that must round-trip
exactly goes through these functions, never through Spark casts.
All UDFs are pandas UDFs (Arrow transfer); the per-batch loop uses a
memo dict because real KG data repeats values heavily.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Grammar (own formulation of the reference rules)
# ---------------------------------------------------------------------------

_DIGITS = r"[0-9](?:_?[0-9])*"
_INT = rf"(?:{_DIGITS}[lL]?|0[bB][01]+[lL]?|0[oO][0-7]+[lL]?|0[xX][0-9a-fA-F]+[lL]?)"
_POINTFLOAT = rf"(?:(?:{_DIGITS})?\.{_DIGITS}|{_DIGITS}\.)"
_EXPFLOAT = rf"(?:{_DIGITS}|{_POINTFLOAT})[eE][-+]?{_DIGITS}"
_FLOAT = rf"(?:{_POINTFLOAT}|{_EXPFLOAT})"
_IMAG = rf"(?:{_FLOAT}|{_DIGITS})[jJ]"
_NUMERIC = rf"(?:[-+]?(?:{_INT}|{_FLOAT}|{_IMAG}))"

NUMBER_RE = re.compile(rf"^(?P<number>{_NUMERIC})$")

_SI_UNIT = r"(?:m|kg|s|C|K|mol|cd|F|M|A|N|ohms|V|J|Hz|lx|H|Wb|W|Pa)"
_SI = rf"(?P<si_units>{_SI_UNIT}(?:-1|2|3)?(?:[./]{_SI_UNIT}(?:-1|2|3)?)*)"
_UNITS_NODE = r"(?P<units_node>Q[1-9][0-9]*)"
NUMBER_OR_QUANTITY_RE = re.compile(
    rf"^(?P<number>{_NUMERIC})"
    rf"(?:\[(?P<low_tolerance>{_NUMERIC}),(?P<high_tolerance>{_NUMERIC})\])?"
    rf"(?:{_SI}|{_UNITS_NODE})?$"
)

STRICT_STRING_RE = re.compile(r'^"(?P<text>(?:[^"\\]|\\.)*)"$')
LAX_STRING_RE = re.compile(r'^"(?P<text>.*)"$', re.S)

STRICT_LQ_STRING_RE = re.compile(
    r"^'(?P<text>(?:[^'\\]|\\.)*)'"
    r"@(?P<lang_suffix_full>(?P<lang>[a-zA-Z]{2,3})(?P<suffix>-[a-zA-Z0-9]+)?)$"
)
LAX_LQ_STRING_RE = re.compile(
    r"^'(?P<text>.*)'"
    r"@(?P<lang_suffix_full>(?P<lang>[a-zA-Z]{2,3})(?P<suffix>-[a-zA-Z0-9]+)?)$",
    re.S,
)

_DEGREES = r"(?:[-+]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+))"
LOCATION_RE = re.compile(rf"^@(?P<lat>{_DEGREES})/(?P<lon>{_DEGREES})$")

# Lax ISO-8601 (year may exceed 4 digits when hyphenated; month/day 00 allowed).
DATE_AND_TIMES_RE = re.compile(
    r"^\^(?P<date_and_time>"
    r"(?P<year>[-+]?[0-9]{4}(?:[0-9]+(?=-))?)"
    r"(?:(?P<hyphen>-)?(?P<month>1[0-2]|0[0-9])"
    r"(?:(?(hyphen)-)(?P<day>3[01]|0[0-9]|[12][0-9]))?)?"
    r"(?:T(?P<hour>2[0-4]|[01][0-9])"
    r"(?:(?(hyphen):)(?P<minutes>[0-5][0-9])"
    r"(?:(?(hyphen):)(?P<seconds>[0-5][0-9]))?)?"
    r"(?P<zone>Z|[-+][01][0-9](?::?[0-5][0-9])?)?)?"
    r")(?:/(?P<precision>[0-1]?[0-9]))?$"
)

TRUE_SYMBOL = "True"
FALSE_SYMBOL = "False"
LIST_SEP_RE = re.compile(r"(?<!\\)\|")

# Field catalog (kgtk/value/kgtkvalue.py:127-187) — the struct returned by
# parse_fields and consumed by explode/implode.
FIELD_NAMES = [
    "data_type", "valid", "list_len", "number", "low_tolerance", "high_tolerance",
    "si_units", "units_node", "text", "decoded_text", "language", "language_suffix",
    "latitude", "longitude", "date_and_times", "year", "month", "day",
    "hour", "minutes", "seconds", "zonestr", "precision", "iso8601extended",
    "truth", "symbol",
]

VALUE_FIELDS_SCHEMA = T.StructType(
    [
        T.StructField("data_type", T.StringType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("list_len", T.IntegerType()),
        T.StructField("number", T.DoubleType()),
        T.StructField("low_tolerance", T.DoubleType()),
        T.StructField("high_tolerance", T.DoubleType()),
        T.StructField("si_units", T.StringType()),
        T.StructField("units_node", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("decoded_text", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("language_suffix", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("date_and_times", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("month", T.IntegerType()),
        T.StructField("day", T.IntegerType()),
        T.StructField("hour", T.IntegerType()),
        T.StructField("minutes", T.IntegerType()),
        T.StructField("seconds", T.IntegerType()),
        T.StructField("zonestr", T.StringType()),
        T.StructField("precision", T.StringType()),
        T.StructField("iso8601extended", T.BooleanType()),
        T.StructField("truth", T.BooleanType()),
        T.StructField("symbol", T.StringType()),
    ]
)

_ESCAPES = {
    "a": "\a", "b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t",
    "v": "\v", "\\": "\\", "'": "'", '"': '"', "|": "|",
}
_STRINGIFY = str.maketrans(
    {
        "\a": "\\a", "\b": "\\b", "\f": "\\f", "\n": "\\n", "\r": "\\r",
        "\t": "\\t", "\v": "\\v", "\\": "\\\\", "'": "\\'", '"': '\\"',
        "|": "\\|",
    }
)


def stringify(s: str, language: str = "", language_suffix: str = "") -> str:
    """Internal text → KGTK string / lang-qualified string (kgtk/kgtkformat.py:79-101)."""
    body = s.translate(_STRINGIFY)
    if language:
        return f"'{body}'@{language}{language_suffix}"
    return f'"{body}"'


def unescape(s: str) -> str:
    """Decode backslash escapes in a KGTK string body."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "\\" and i + 1 < n:
            out.append(_ESCAPES.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def destringify(v: str) -> tuple[str, str, str]:
    """KGTK string → (text, language, language_suffix) (kgtk/kgtkformat.py:115-131)."""
    language = ""
    language_suffix = ""
    if v.startswith("'"):
        body, language = v.rsplit("@", 1)
        if "-" in language:
            language, language_suffix = language.split("-", 1)
            language_suffix = "-" + language_suffix
        v = body
    if len(v) >= 2 and v[0] in "\"'" and v[-1] == v[0]:
        v = v[1:-1]
    return unescape(v), language, language_suffix


def _to_number(s: str) -> float | None:
    s = s.replace("_", "").rstrip("lL")
    try:
        low = s.lower()
        if low.startswith(("0x", "-0x", "+0x")):
            return float(int(s, 16))
        if low.startswith(("0o", "-0o", "+0o")):
            return float(int(s, 8))
        if low.startswith(("0b", "-0b", "+0b")):
            return float(int(s, 2))
        if low.endswith("j"):
            return None  # imaginary: validity only, no numeric field
        return float(s)
    except ValueError:
        return None


def classify(value: str) -> str:
    """First-character sigil dispatch (kgtk/value/kgtkvalue.py:1718-1754)."""
    if value is None or value == "":
        return "empty"
    if LIST_SEP_RE.search(value):
        return "list"
    c = value[0]
    if c == '"':
        return "string"
    if c == "'":
        return "language_qualified_string"
    if c == "^":
        return "date_and_times"
    if c == "@":
        return "location_coordinates"
    if c == "!":
        return "extension"
    if c.isdigit() or c in "+-.":
        if NUMBER_RE.match(value):
            return "number"
        if NUMBER_OR_QUANTITY_RE.match(value):
            return "quantity"
        return "symbol"
    if value in (TRUE_SYMBOL, FALSE_SYMBOL):
        return "boolean"
    return "symbol"


_EMPTY_FIELDS: dict = {f: None for f in FIELD_NAMES}


def parse_fields(value: str, lax_strings: bool = True) -> dict:
    """Full classify + validate + field extraction for one cell.

    Returns the field dict of VALUE_FIELDS_SCHEMA; field set per type
    mirrors kgtk/value/kgtkvalue.py:240-298.
    """
    out = dict(_EMPTY_FIELDS)
    dt = classify(value)
    out["data_type"] = dt
    if dt == "empty":
        out["valid"] = True
        return out
    if dt == "list":
        items = LIST_SEP_RE.split(value)
        out["list_len"] = len(items)
        out["valid"] = all(parse_fields(i)["valid"] for i in items if i != "")
        return out
    if dt == "number":
        out["valid"] = True
        out["number"] = _to_number(value)
        return out
    if dt == "quantity":
        m = NUMBER_OR_QUANTITY_RE.match(value)
        out["valid"] = m is not None
        if m:
            out["number"] = _to_number(m.group("number"))
            if m.group("low_tolerance"):
                out["low_tolerance"] = _to_number(m.group("low_tolerance"))
            if m.group("high_tolerance"):
                out["high_tolerance"] = _to_number(m.group("high_tolerance"))
            out["si_units"] = m.group("si_units")
            out["units_node"] = m.group("units_node")
        return out
    if dt == "string":
        m = (LAX_STRING_RE if lax_strings else STRICT_STRING_RE).match(value)
        out["valid"] = m is not None
        if m:
            out["text"] = m.group("text")
            out["decoded_text"] = unescape(m.group("text"))
        return out
    if dt == "language_qualified_string":
        m = (LAX_LQ_STRING_RE if lax_strings else STRICT_LQ_STRING_RE).match(value)
        out["valid"] = m is not None
        if m:
            out["text"] = m.group("text")
            out["decoded_text"] = unescape(m.group("text"))
            out["language"] = m.group("lang").lower()
            out["language_suffix"] = m.group("suffix")
            # Real ISO-639 membership, not just the 2-3 letter shape
            # (kgtk/value/languagevalidator.py via kgtkvalue.py:344).
            from kgtk_spark.languages import validate_lang

            out["valid"] = validate_lang(out["language"])
        return out
    if dt == "location_coordinates":
        m = LOCATION_RE.match(value)
        if m:
            lat = float(m.group("lat"))
            lon = float(m.group("lon"))
            out["valid"] = -90.0 <= lat <= 90.0 and -180.0 <= lon <= 180.0
            out["latitude"] = lat
            out["longitude"] = lon
        else:
            out["valid"] = False
        return out
    if dt == "date_and_times":
        m = DATE_AND_TIMES_RE.match(value)
        out["valid"] = m is not None
        if m:
            out["date_and_times"] = m.group("date_and_time")
            out["year"] = int(m.group("year"))
            out["month"] = int(m.group("month")) if m.group("month") else None
            out["day"] = int(m.group("day")) if m.group("day") else None
            out["hour"] = int(m.group("hour")) if m.group("hour") else None
            out["minutes"] = int(m.group("minutes")) if m.group("minutes") else None
            out["seconds"] = int(m.group("seconds")) if m.group("seconds") else None
            out["zonestr"] = m.group("zone")
            out["precision"] = m.group("precision")
            out["iso8601extended"] = m.group("hyphen") is not None
        return out
    if dt == "boolean":
        out["valid"] = True
        out["truth"] = value == TRUE_SYMBOL
        return out
    if dt == "extension":
        out["valid"] = False
        return out
    # symbol
    out["valid"] = True
    out["symbol"] = value
    return out


def is_valid(value: str) -> bool:
    return bool(parse_fields(value)["valid"])


# ---------------------------------------------------------------------------
# pandas UDFs (Arrow-batched; memoized per batch — KG values repeat heavily)
# ---------------------------------------------------------------------------

@F.pandas_udf(T.BooleanType())
def is_valid_udf(s: pd.Series) -> pd.Series:
    memo: dict[str, bool] = {}

    def one(v):
        if v is None:
            return True
        r = memo.get(v)
        if r is None:
            r = is_valid(v)
            memo[v] = r
        return r

    return s.map(one)


@F.pandas_udf(VALUE_FIELDS_SCHEMA)
def parse_fields_udf(s: pd.Series) -> pd.DataFrame:
    memo: dict[str, dict] = {}

    def one(v):
        if v is None:
            v = ""
        r = memo.get(v)
        if r is None:
            r = parse_fields(v)
            memo[v] = r
        return r

    return pd.DataFrame([one(v) for v in s], columns=FIELD_NAMES)


@F.pandas_udf(T.StringType())
def unstringify_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: destringify(v)[0] if v is not None else None)
