"""Distributed contiguous row numbering (zipWithIndex for DataFrames).

A global ``Window.orderBy`` row_number pulls the whole table through a
single task; this helper instead numbers rows with the classic
two-phase scheme: per-partition offsets (one tiny driver-side action,
one row per partition) + per-partition row_number. The only shuffle is
the window's hash on spark_partition_id, which preserves parallelism;
no task ever sees more than one input partition's rows.

Row order is the DataFrame's partition-then-offset order — for a
freshly sorted frame (range partitioner) or a text scan (file splits)
that IS the logical order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def zip_with_index(df: DataFrame, name: str = "__idx__") -> DataFrame:
    """Append a contiguous 0-based row index in partition order."""
    d = (
        df.withColumn("__zwi_pid__", F.spark_partition_id())
        .withColumn("__zwi_mid__", F.monotonically_increasing_id())
    )
    d = d.localCheckpoint()  # pin the nondeterministic ids before reuse
    counts = (
        d.groupBy("__zwi_pid__").agg(F.count(F.lit(1)).alias("__zwi_cnt__")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["__zwi_pid__"]):
        offsets[row["__zwi_pid__"]] = acc
        acc += row["__zwi_cnt__"]
    if not offsets:
        return df.withColumn(name, F.lit(0).cast("long")).limit(0)
    mapping = F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    )
    w = Window.partitionBy("__zwi_pid__").orderBy("__zwi_mid__")
    return (
        d.withColumn(
            name,
            (mapping[F.col("__zwi_pid__")] + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("__zwi_pid__", "__zwi_mid__")
    )

