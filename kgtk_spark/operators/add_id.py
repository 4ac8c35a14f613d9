"""`kgtk add-id` — ID generation styles.

Reference: kgtk/reshape/kgtkidbuilder.py — styles :20-34
(node1-label-node2, node1-label-num, node1-label-node2-num,
node1-label-node2-id, empty, prefix###), per-key running counters
:382-400, global counter :408-411, existing-id preservation :312-377.

Spark mapping:
- content-derived styles (node1-label-node2[, -id]) are pure concat —
  embarrassingly parallel, the preferred style at scale;
- per-group counters (…-num) = ``row_number() over partitionBy(key) - 1``,
  zero-padded — a shuffle on the key only;
- prefix### = ``row_number()`` over an explicit total order — the one
  unavoidable global sort; documented and kept deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgtk_spark.schema import resolve_column

STYLES = [
    "node1-label-node2",
    "node1-label-num",
    "node1-label-node2-num",
    "node1-label-node2-id",
    "empty",
    "prefix###",
]


def add_id(
    df: DataFrame,
    style: str = "prefix###",
    id_column: str = "id",
    prefix: str = "E",
    initial_id: int = 1,
    num_width: int = 4,
    prefix_num_width: int = 1,
    overwrite: bool = False,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Add/fill the id column per the chosen style.

    ``order_by`` fixes the tiebreak order for counter styles so IDs are
    deterministic under parallelism (defaults to all columns).
    """
    if style not in STYLES:
        raise ValueError(f"Unknown ID style {style!r}")

    n1 = resolve_column(df.columns, "node1") or "node1"
    lb = resolve_column(df.columns, "label") or "label"
    n2 = resolve_column(df.columns, "node2") or "node2"
    has_old = id_column in df.columns
    order_cols = order_by or [c for c in df.columns if c != id_column]

    def pad(col, width):
        return F.lpad(col.cast("string"), width, "0")

    if style == "empty":
        new_id = F.lit("")
    elif style == "node1-label-node2":
        new_id = F.concat_ws("-", F.col(n1), F.col(lb), F.col(n2))
    elif style == "node1-label-node2-id":
        base = F.concat_ws("-", F.col(n1), F.col(lb), F.col(n2))
        if has_old:
            new_id = F.when(
                F.col(id_column) != "", F.concat(base, F.lit("-"), F.col(id_column))
            ).otherwise(base)
        else:
            new_id = base
    elif style == "node1-label-num":
        w = Window.partitionBy(n1, lb).orderBy(*[F.col(c) for c in order_cols])
        new_id = F.concat_ws(
            "-", F.col(n1), F.col(lb), pad(F.row_number().over(w) - 1, num_width)
        )
    elif style == "node1-label-node2-num":
        w = Window.partitionBy(n1, lb, n2).orderBy(*[F.col(c) for c in order_cols])
        new_id = F.concat_ws(
            "-", F.col(n1), F.col(lb), F.col(n2), pad(F.row_number().over(w) - 1, num_width)
        )
    else:  # prefix###
        # Deterministic global counter without an unpartitioned window:
        # total sort (range partitioner) + two-phase zip_with_index.
        from kgtk_spark.indexing import zip_with_index

        df = zip_with_index(
            df.orderBy(*[F.col(c) for c in order_cols]), "__gid__"
        )
        new_id = F.concat(
            F.lit(prefix), pad(F.col("__gid__") + initial_id, prefix_num_width)
        )

    if has_old and not overwrite:
        new_id = F.when(
            F.col(id_column).isNotNull() & (F.col(id_column) != ""), F.col(id_column)
        ).otherwise(new_id)

    out = df.withColumn(id_column, new_id)
    if "__gid__" in out.columns:
        out = out.drop("__gid__")
    cols = [c for c in df.columns if c != "__gid__"]
    if not has_old:
        # KGTK puts id first when adding it.
        out = out.select(id_column, *cols)
    return out
