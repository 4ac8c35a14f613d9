"""KgtkWriter JSON output formats: json / json-map / json-map-compact /
jsonl / jsonl-map / jsonl-map-compact.

Reference: kgtk/io/kgtkwriter.py:484-559,620-650. Value reformatting
per reformat_value_for_json: KGTK strings unstringify to raw text
(language codes dropped, including the reference's '"|"'→'|' list
hack), True/False become JSON booleans, [+-]?digit runs become JSON
integers, everything else stays a string.

The jsonl* formats are line-oriented, so they distribute: each row
renders to one JSON line via pure Catalyst string expressions and
lands with ``df.write.text``. The json* formats are one bracketed
document (header row, trailing commas) and stream through the driver
like the reference's single file handle.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_INT_RE = r"^[+-]?[0-9]+$"

# KGTK unescape, most-specific first; the trailing lone-backslash rule
# is approximate for pathological adjacent-escape inputs (documented).
_UNESCAPES = [
    ("\\\\", "\x00"),
    ('\\"', '"'),
    ("\\'", "'"),
    ("\\|", "|"),
    ("\\n", "\n"),
    ("\\t", "\t"),
    ("\\r", "\r"),
    ("\x00", "\\"),
]

_JSON_ESCAPES = [
    ("\\", "\\\\"),
    ('"', '\\"'),
    ("\n", "\\n"),
    ("\t", "\\t"),
    ("\r", "\\r"),
]


def _chain(c: Column, pairs) -> Column:
    for raw, rep in pairs:
        c = F.replace(c, F.lit(raw), F.lit(rep))
    return c


def _json_token(c: Column) -> Column:
    """One cell → its JSON token (reformat_value_for_json semantics)."""
    dq = c.rlike('^".*"$')
    lq = c.rlike("^'.*'@[^@]*$")
    body = F.when(
        dq,
        F.regexp_extract(F.replace(c, F.lit('"|"'), F.lit("|")), '^"(.*)"$', 1),
    ).when(lq, F.regexp_extract(c, "^'(.*)'@[^@]*$", 1))
    raw = _chain(body, _UNESCAPES)
    quoted = F.concat(F.lit('"'), _chain(raw, _JSON_ESCAPES), F.lit('"'))
    plain = F.concat(F.lit('"'), _chain(c, _JSON_ESCAPES), F.lit('"'))
    return (
        F.when(dq | lq, quoted)
        .when(c == "True", F.lit("true"))
        .when(c == "False", F.lit("false"))
        .otherwise(plain)
    )


def kgtk_json_lines(df: DataFrame, fmt: str = "jsonl-map") -> DataFrame:
    """Render each row as one JSON text line (column ``line``)."""
    compact = fmt.endswith("-compact")
    as_map = "-map" in fmt
    # Plain jsonl dumps the raw cell strings verbatim (kgtkwriter.py:645
    # json.dumps(values)); only json and the *-map formats reformat via
    # reformat_values_for_json / json_map.
    raw_cells = fmt == "jsonl"

    tokens = []
    for col in df.columns:
        c = F.coalesce(F.col(col).cast("string"), F.lit(""))
        if raw_cells:
            token = F.concat(F.lit('"'), _chain(c, _JSON_ESCAPES), F.lit('"'))
            tokens.append(token)
            continue
        # integers normalize through try_cast (strip '+', leading zeros)
        int_norm = F.when(
            c.rlike(_INT_RE),
            F.coalesce(
                F.expr(f"try_cast(`{col}` as bigint)").cast("string"),
                F.concat(F.lit('"'), c, F.lit('"')),
            ),
        )
        token = F.coalesce(int_norm, _json_token(c))
        if as_map:
            frag = F.concat(F.lit(json.dumps(col) + ":"), token)
            if compact:
                frag = F.when(c != "", frag)
            tokens.append(frag)
        else:
            tokens.append(token)

    if as_map:
        line = F.concat(F.lit("{"), F.concat_ws(",", *tokens), F.lit("}"))
    else:
        line = F.concat(F.lit("["), F.concat_ws(",", *tokens), F.lit("]"))
    return df.select(line.alias("line"))


def write_kgtk_json(
    df: DataFrame, path: str, fmt: str = "jsonl-map", single_file: bool = False
) -> None:
    """Write the KgtkWriter JSON formats.

    jsonl* formats write distributed text (one JSON doc per line; the
    plain ``jsonl`` format gets the column-name header line the
    reference emits). json* formats are one bracketed array document —
    driver-streamed to a single file.
    """
    lines = kgtk_json_lines(df, fmt)
    if fmt.startswith("jsonl"):
        out = lines
        if fmt == "jsonl":
            header = df.sparkSession.createDataFrame(pa.table({
                "line": pa.array([json.dumps(df.columns, separators=(",", ":"))], pa.string())
            }))
            out = header.unionByName(lines)
        if single_file:
            out = out.coalesce(1)
        out.write.mode("overwrite").text(path)
        return
    # json / json-map / json-map-compact: single bracketed document
    with open(path, "w", encoding="utf-8") as fp:
        fp.write("[\n")
        if fmt == "json":
            fp.write(json.dumps(df.columns, separators=(",", ":")) + ",\n")
        for row in lines.toLocalIterator():
            fp.write(row["line"] + ",\n")
        fp.write("]\n")
