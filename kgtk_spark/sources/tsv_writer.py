"""KgtkWriter TSV/CSV cell-reformatting variants.

Reference: kgtk/io/kgtkwriter.py:393-483 (reformat_datetime, join_csv,
join_tsv). The ``kgtk`` format writes cells verbatim; the tsv/csv
variants reformat per cell:

- datetimes lose the ``^`` sigil;
- KGTK strings/LQ-strings: ``tsv`` keeps quotes but unescapes ``\\|``;
  ``tsv-unquoted`` unstringifies to raw text (language dropped, with
  the reference's ``"|"`` → ``|`` list hack); ``tsv-unquoted-ep``
  additionally preserves ``\\|`` escapes; ``tsv-csvlike`` unstringifies
  then re-quotes CSV-style (``"`` doubled); ``csv`` is csvlike plus
  quoting of bare symbols containing ``"`` or ``,``;
- all other values unescape ``\\|``.

Everything is a Catalyst expression per column; the line assembly is a
``concat_ws``, so the writer distributes like any text sink.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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

def _unstringify(c: Column, unescape_pipe: bool = True) -> Column:
    body = F.when(
        c.startswith('"'),
        F.regexp_extract(F.replace(c, F.lit('"|"'), F.lit("|")), '^"(.*)"$', 1),
    ).otherwise(F.regexp_extract(c, "^'(.*)'@[^@]*$", 1))
    pairs = _UNESCAPES if unescape_pipe else [p for p in _UNESCAPES if p[0] != "\\|"]
    for raw, rep in pairs:
        body = F.replace(body, F.lit(raw), F.lit(rep))
    return body


def _csv_quote(c: Column) -> Column:
    return F.concat(F.lit('"'), F.replace(c, F.lit('"'), F.lit('""')), F.lit('"'))


def reformat_cell(c: Column, fmt: str) -> Column:
    """One cell in the given output format (join_tsv/join_csv)."""
    if fmt == "kgtk":
        return c
    is_date = c.startswith("^")
    is_str = c.startswith('"') | c.rlike("^'.*'@[^@]*$")
    plain = F.replace(c, F.lit("\\|"), F.lit("|"))
    if fmt == "tsv":
        s = plain  # quotes kept, pipes unescaped
    elif fmt == "tsv-unquoted":
        s = _unstringify(c)
    elif fmt == "tsv-unquoted-ep":
        s = _unstringify(c, unescape_pipe=False)
    elif fmt == "tsv-csvlike":
        s = _csv_quote(_unstringify(c, unescape_pipe=False))
    elif fmt == "csv":
        s = _csv_quote(_unstringify(c))
    else:
        raise ValueError(f"unknown format {fmt!r}")
    out = F.when(is_date, F.substring(c, 2, 2_000_000)).when(is_str, s).otherwise(plain)
    if fmt == "csv":
        # bare symbols with '"' or ',' get CSV-quoted (kgtkwriter.py:469-471)
        out = F.when(
            ~is_date & ~is_str & (plain.contains('"') | plain.contains(",")),
            _csv_quote(plain),
        ).otherwise(out)
    return out


def format_lines(df: DataFrame, fmt: str = "tsv") -> DataFrame:
    """Render each row to one output line (column ``line``)."""
    sep = "," if fmt == "csv" else "\t"
    cells = [
        reformat_cell(F.coalesce(F.col(c).cast("string"), F.lit("")), fmt)
        for c in df.columns
    ]
    return df.select(F.concat_ws(sep, *cells).alias("line"))


def write_kgtk_formatted(
    df: DataFrame, path: str, fmt: str = "tsv", single_file: bool = False
) -> None:
    """Write with a header line in the requested tsv/csv variant."""
    sep = "," if fmt == "csv" else "\t"
    header = df.sparkSession.createDataFrame(
        pa.table({"line": pa.array([sep.join(df.columns)], pa.string())})
    )
    out = header.unionByName(format_lines(df, fmt))
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)
