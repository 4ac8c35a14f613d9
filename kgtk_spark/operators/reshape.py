"""Reshape operators: expand, explode, implode, normalize-nodes.

- expand (kgtk/reshape/kgtkexpand.py:95-139): explode ``|`` lists into
  rows with ZIP semantics — non-key list columns are consumed
  positionally in parallel, padded with "" (not a cross product).
- explode (kgtk/reshape/kgtkexplode.py:55-218): parse one column into
  per-field typed columns ``prefix+field`` per the value-field catalog.
- implode (kgtk/reshape/kgtkimplode.py:485-536): rebuild a KGTK value
  from data_type + field columns.
- normalize-nodes (kgtk/cli/normalize_nodes.py:128-158): node file →
  edge file, one (id, column, value) per non-empty cell, lists split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgtk_spark.lists import split_list, split_list_nonempty
from kgtk_spark.schema import resolve_column
from kgtk_spark.values import FIELD_NAMES, parse_fields_udf


def kgtk_expand(df: DataFrame, key_columns: list[str] | None = None) -> DataFrame:
    """Explode list cells into rows, zipping non-key lists positionally."""
    if key_columns is None:
        key_columns = [
            c
            for c in (
                resolve_column(df.columns, "node1"),
                resolve_column(df.columns, "id"),
            )
            if c is not None
        ]
    value_columns = [c for c in df.columns if c not in key_columns]
    if not value_columns:
        return df

    arrays = [split_list(F.coalesce(F.col(c), F.lit(""))).alias(f"__arr_{c}") for c in value_columns]
    zipped = df.select(*df.columns, F.arrays_zip(*arrays).alias("__zipped__"))
    exploded = zipped.select(*key_columns, F.explode("__zipped__").alias("__z__"))
    # arrays_zip pads shorter arrays with null → KGTK pads with "".
    out = exploded.select(
        *key_columns,
        *[
            F.coalesce(F.col(f"__z__.__arr_{c}"), F.lit("")).alias(c)
            for c in value_columns
        ],
    )
    return out.select(*df.columns)


def kgtk_explode(
    df: DataFrame,
    column: str = "node2",
    prefix: str = "node2;kgtk:",
    fields: list[str] | None = None,
    expand_list: bool = False,
) -> DataFrame:
    """Parse ``column`` into typed per-field columns via the value kernel."""
    fields = fields or [f for f in FIELD_NAMES if f not in ("decoded_text",)]
    src = df
    target = F.col(column)
    if expand_list:
        src = src.withColumn(column, F.explode(split_list_nonempty(F.coalesce(target, F.lit("")))))
        target = F.col(column)
    parsed = src.withColumn("__fields__", parse_fields_udf(target))
    out = parsed.select(
        *src.columns,
        *[
            F.col(f"__fields__.{f}").cast("string").alias(prefix + f)
            for f in fields
        ],
    )
    return out


def kgtk_implode(
    df: DataFrame,
    column: str = "node2",
    prefix: str = "node2;kgtk:",
    drop_field_columns: bool = True,
    escape_text: bool = False,
    with_reject: bool = False,
):
    """Rebuild a KGTK value from data_type + field columns.

    Per-type imploder dispatch (kgtk/reshape/kgtkimplode.py:485-536) as a
    single ``when`` chain — all JVM-side.

    ``escape_text=True`` treats the text/language-text fields as RAW
    (unescaped) and applies the KGTK stringify escapes before quoting
    (the reference imploder's convention); the default keeps the
    explode→implode round-trip convention where text is already
    escaped. ``with_reject=True`` returns (good, reject): rows with an
    unknown data_type or a missing required field for their type go to
    the reject side, mirroring the reference's reject file.
    """
    def fld(name):
        # absent field columns read as null (partial explodes are fine)
        col = prefix + name
        return F.col(col) if col in df.columns else F.lit(None).cast("string")

    def esc(c):
        if not escape_text:
            return F.coalesce(c, F.lit(""))
        from kgtk_spark.sources.cskg import _STRINGIFY_ESCAPES

        out = F.coalesce(c, F.lit(""))
        for raw, escd in _STRINGIFY_ESCAPES:
            out = F.replace(out, F.lit(raw), F.lit(escd))
        return out

    dt = fld("data_type")
    # number formatting: keep integral values integral for round-trip.
    numd = fld("number").cast("double")
    num = F.when(
        numd == F.floor(numd), F.floor(numd).cast("long").cast("string")
    ).otherwise(numd.cast("string"))

    quantity = F.concat(
        num,
        F.when(
            fld("low_tolerance").isNotNull() & (fld("low_tolerance") != ""),
            F.concat(F.lit("["), fld("low_tolerance"), F.lit(","), fld("high_tolerance"), F.lit("]")),
        ).otherwise(F.lit("")),
        F.coalesce(fld("si_units"), F.lit("")),
        F.coalesce(fld("units_node"), F.lit("")),
    )

    string_v = F.concat(F.lit('"'), esc(fld("text")), F.lit('"'))
    lq_v = F.concat(
        F.lit("'"),
        esc(fld("text")),
        F.lit("'@"),
        F.coalesce(fld("language"), F.lit("")),
        F.coalesce(fld("language_suffix"), F.lit("")),
    )
    # Canonical degree format per the reference's format_degrees
    # (kgtk/value/kgtkvalue.py:1157): zero-padded %011.6f.
    coords = F.concat(
        F.lit("@"),
        F.format_string("%011.6f", fld("latitude").cast("double")),
        F.lit("/"),
        F.format_string("%011.6f", fld("longitude").cast("double")),
    )
    dates = F.concat(
        F.lit("^"),
        F.coalesce(fld("date_and_times"), F.lit("")),
        F.when(
            fld("precision").isNotNull() & (fld("precision") != ""),
            F.concat(F.lit("/"), fld("precision")),
        ).otherwise(F.lit("")),
    )

    value = (
        F.when(dt == "number", num)
        .when(dt == "quantity", quantity)
        .when(dt == "string", string_v)
        .when(dt == "language_qualified_string", lq_v)
        .when(dt == "location_coordinates", coords)
        .when(dt == "date_and_times", dates)
        .when(dt == "boolean", F.when(fld("truth").cast("boolean"), "True").otherwise("False"))
        .when(dt == "symbol", F.coalesce(fld("symbol"), F.lit("")))
        .otherwise(F.lit(""))
    )

    known = [
        "number",
        "quantity",
        "string",
        "language_qualified_string",
        "location_coordinates",
        "date_and_times",
        "boolean",
        "symbol",
    ]
    missing_required = (
        ((dt == "number") & fld("number").isNull())
        | ((dt == "quantity") & fld("number").isNull())
        | ((dt == "string") & fld("text").isNull())
        | (
            (dt == "language_qualified_string")
            & (fld("text").isNull() | fld("language").isNull() | (fld("language") == ""))
        )
        | (
            (dt == "location_coordinates")
            & (fld("latitude").isNull() | fld("longitude").isNull())
        )
        | ((dt == "date_and_times") & fld("date_and_times").isNull())
        | ((dt == "symbol") & fld("symbol").isNull())
    )
    bad = dt.isNull() | ~dt.isin(known) | missing_required

    out = df.withColumn(column, value)
    field_cols = [c for c in df.columns if c.startswith(prefix)]
    if not with_reject:
        return out.drop(*field_cols) if drop_field_columns else out
    good = out.filter(~bad)
    reject = df.filter(bad)
    if drop_field_columns:
        good = good.drop(*field_cols)
    return good, reject


def normalize_nodes(
    df: DataFrame,
    id_column: str | None = None,
    columns: list[str] | None = None,
    labels: dict[str, str] | None = None,
) -> DataFrame:
    """Node file → edge file: (id, column-name-or-custom-label, value)."""
    id_column = id_column or resolve_column(df.columns, "id") or "id"
    columns = columns or [c for c in df.columns if c != id_column]
    labels = labels or {}

    parts = [
        df.select(
            F.col(id_column).alias("node1"),
            F.lit(labels.get(c, c)).alias("label"),
            F.explode(split_list_nonempty(F.coalesce(F.col(c), F.lit("")))).alias("node2"),
        )
        for c in columns
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


__all__ = ["kgtk_expand", "kgtk_explode", "kgtk_implode", "normalize_nodes"]
