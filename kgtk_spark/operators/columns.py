"""Column ops + sort/head/sample.

- remove-columns (kgtk/cli/remove_columns.py), rename-columns
  (kgtk/cli/rename_columns.py), reorder-columns
  (kgtk/cli/reorder_columns.py: ``...`` = all remaining, ``--trim``),
- calc (kgtk/cli/calc.py:244-249 — `percentage` with printf format),
- sort/sort2 (kgtk/cli/sort.py, sort2.py — POSIX sort replaced by
  Spark's distributed external sort),
- head/sample (reader options kgtk/io/kgtkreader.py:77-86,832-877).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def remove_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"columns not found: {missing}")
    return df.drop(*columns)


def rename_columns(
    df: DataFrame,
    output_columns: list[str] | None = None,
    old_columns: list[str] | None = None,
    new_columns: list[str] | None = None,
) -> DataFrame:
    """Rename all (``output_columns``) or selected (old→new) columns."""
    if output_columns is not None:
        if len(output_columns) != len(df.columns):
            raise ValueError("output_columns must name every column")
        return df.toDF(*output_columns)
    if not old_columns or not new_columns or len(old_columns) != len(new_columns):
        raise ValueError("old_columns and new_columns must pair up")
    out = df
    for o, n in zip(old_columns, new_columns):
        out = out.withColumnRenamed(o, n)
    return out


def reorder_columns(
    df: DataFrame,
    order: list[str],
    trim: bool = False,
    fixed_descending_ranges: bool = False,
) -> DataFrame:
    """Reorder with ``...`` ("all remaining, original order") and the
    ``..`` range operator ("all columns between the two neighbors",
    kgtk/cli/reorder_columns.py:131-190).

    ``["id", "node1", "..", "node2"]`` expands the range to every
    column between node1 and node2 in the input header. A DESCENDING
    range expands to nothing by default — the reference's descending
    loop is inert (``range(lo+1, hi)`` with hi < lo), so the skipped
    columns fall through to the remaining/``...`` set; pass
    ``fixed_descending_ranges=True`` to expand in reverse header order
    instead (the documented intent).
    """
    colmap = {c: i for i, c in enumerate(df.columns)}
    final: list[str] = []
    saw_ranger = False
    ellipsis_at: int | None = None
    for name in order:
        if name == "...":
            if ellipsis_at is not None:
                raise ValueError("'...' may appear only once")
            if saw_ranger:
                raise ValueError("'...' may not follow '..'")
            ellipsis_at = len(final)
            continue
        if name == "..":
            if not final:
                raise ValueError("'..' needs a preceding column name")
            saw_ranger = True
            continue
        if name not in colmap:
            raise ValueError(f"columns not found: ['{name}']")
        if name in final:
            raise ValueError(f"column '{name}' duplicated in the list")
        if saw_ranger:
            saw_ranger = False
            lo, hi = colmap[final[-1]], colmap[name]
            if hi > lo or fixed_descending_ranges:
                step = 1 if hi > lo else -1
                for idx in range(lo + step, hi, step):
                    mid = df.columns[idx]
                    if mid in final:
                        raise ValueError(f"column '{mid}' duplicated in the range")
                    final.append(mid)
        final.append(name)
    if saw_ranger:
        raise ValueError("'..' may not end the list")
    rest = [c for c in df.columns if c not in final]
    if ellipsis_at is not None:
        final = final[:ellipsis_at] + rest + final[ellipsis_at:]
    elif rest and not trim:
        raise ValueError("reorder omits columns; pass trim=True to drop them")
    return df.select(*final)


def kgtk_calc(
    df: DataFrame,
    operation: str,
    columns: list[str],
    into: str,
    fmt: str = "%5.2f",
) -> DataFrame:
    """Row-wise computed column. Reference implements `percentage`
    (kgtk/cli/calc.py:244-249); we add the obvious arithmetic siblings."""
    if operation == "percentage":
        expr = F.format_string(
            fmt, F.col(columns[0]).cast("double") * 100.0 / F.col(columns[1]).cast("double")
        )
    elif operation == "sum":
        expr = sum((F.col(c).cast("double") for c in columns[1:]),
                   F.col(columns[0]).cast("double")).cast("string")
    elif operation == "copy":
        expr = F.col(columns[0])
    else:
        raise ValueError(f"unknown calc operation {operation!r}")
    return df.withColumn(into, expr)


def kgtk_sort(
    df: DataFrame, columns: list[str], reverse: bool = False
) -> DataFrame:
    cols = [F.col(c).desc() if reverse else F.col(c).asc() for c in columns]
    return df.orderBy(*cols)


def kgtk_head(df: DataFrame, n: int) -> DataFrame:
    return df.limit(n)


def kgtk_every_nth(
    df: DataFrame, n: int, order_by: list[str] | None = None
) -> DataFrame:
    """Reader option ``every_nth_record`` (kgtk/io/kgtkreader.py:832-877):
    keep every n-th row in a deterministic total order.

    The global sort range-partitions; numbering then uses the
    two-phase zip_with_index (per-partition offsets + local
    row_number), so no single task ever materializes the whole table —
    unlike a bare ``Window.orderBy`` row_number.
    """
    from kgtk_spark.indexing import zip_with_index

    order = order_by or df.columns
    d = df.orderBy(*[F.col(c) for c in order])
    d = zip_with_index(d, "__rn__")
    return d.filter(((F.col("__rn__") + 1) % n) == 0).drop("__rn__")
