"""KGTK ``|``-list cell helpers as JVM-side column expressions.

Reference semantics: kgtk/value/kgtkvalue.py:442-504 — a cell may hold
multiple values separated by *unescaped* ``|``; merge keeps the sorted
set of distinct values. All helpers below are pure Column expressions
(whole-stage-codegen friendly); no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Split on | not preceded by a backslash (kgtk/value/kgtkvalue.py:442).
_UNESCAPED_PIPE = r"(?<!\\)\|"


def split_list(col: Column | str) -> Column:
    """KGTK list cell → array<string> (empty cell → [''])."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, _UNESCAPED_PIPE)


def split_list_nonempty(col: Column | str) -> Column:
    """Split and drop empty items (for explode-style consumers)."""
    return F.filter(split_list(col), lambda x: x != "")


def merge_list_cells(collected: Column) -> Column:
    """collect_list of list-cells → one sorted-unique KGTK list cell.

    ``collected`` is array<string> of raw cells; each may itself be a
    ``|``-list; result is the flattened sorted set. Cells without any
    ``|`` (the overwhelmingly common case) skip the lookbehind-regex
    split via a cheap substring test — same result, no regex engine on
    the hot path.
    """
    exploded = F.flatten(
        F.transform(
            collected,
            lambda cell: F.when(
                cell.contains("|"), F.split(cell, _UNESCAPED_PIPE)
            ).otherwise(F.array(cell)),
        )
    )
    return F.array_join(
        F.array_sort(F.array_distinct(F.filter(exploded, lambda x: x != ""))), "|"
    )
