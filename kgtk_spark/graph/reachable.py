"""`kgtk reachable-nodes` and `kgtk paths` — BFS frontier loops.

Reference: kgtk/cli/reachable_nodes.py:32-110 (DFS per root; the result
set is order-free, so a batched BFS over ALL roots simultaneously is
equivalent and embarrassingly parallel), kgtk/cli/paths.py:31-114
(all paths ≤ max_hops between source/target pairs).

Both are semi-naive ``iterate`` loops (one checkpoint per hop): only
the rows the last hop added (``new``) join the edges, and the loop
stops at the first hop that adds none, a scan of its checkpoint.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgtk_spark.graph.connected_components import iterate, release_checkpoint
from kgtk_spark.schema import resolve_column

REACHABLE_MAX_HOPS = None  # None: until a hop adds no node


def reachable_nodes(
    edges: DataFrame,
    roots: list[str] | DataFrame,
    properties: list[str] | None = None,
    label_value: str = "reachable",
) -> DataFrame:
    """Emit (root, 'reachable', target) for every node reachable from
    each root. All roots expand in one frontier — one BFS for the whole
    root set, not a DFS per root."""
    n1 = resolve_column(edges.columns, "node1") or "node1"
    lb = resolve_column(edges.columns, "label") or "label"
    n2 = resolve_column(edges.columns, "node2") or "node2"

    src = edges
    if properties:
        src = src.filter(F.col(lb).isin(properties))
    pairs = src.select(F.col(n1).alias("from"), F.col(n2).alias("to")).distinct().localCheckpoint()

    spark = edges.sparkSession
    if isinstance(roots, DataFrame):
        root_df = roots.toDF("root")
    else:
        root_df = spark.createDataFrame(pa.table({"root": pa.array(roots, pa.string())}))

    def hop(s: DataFrame) -> DataFrame:
        # a pair is new when only this hop's expansion produced it
        fresh = s.where(F.col("new"))
        return (
            fresh.join(pairs, fresh["node"] == pairs["from"])
            .select("root", F.col("to").alias("node"), F.lit(True).alias("new"))
            .union(s.select("root", "node", F.lit(False).alias("new")))
            .groupBy("root", "node")
            .agg(F.min("new").alias("new"))
        )

    # (root, node) pairs; a root reaches itself at hop 0
    visited = iterate(
        root_df.select("root", F.col("root").alias("node"), F.lit(True).alias("new")).localCheckpoint(),
        hop, REACHABLE_MAX_HOPS, lambda s: s.where(F.col("new")).isEmpty(),
    )
    release_checkpoint(pairs)

    return (
        visited.join(root_df.select(F.col("root"), F.col("root").alias("node")),
                     ["root", "node"], "left_anti")  # exclude the root itself
        .select(
            F.col("root").alias("node1"),
            F.lit(label_value).alias("label"),
            F.col("node").alias("node2"),
        )
        .orderBy("node1", "node2")
    )


def paths(
    edges: DataFrame,
    source_nodes: list[str] | DataFrame,
    target_nodes: list[str] | DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """All paths ≤ max_hops from any source to any target.

    Returns (path_id, hop, edge_id) KGTK path edges like
    kgtk/cli/paths.py:96-114; path arrays accumulate via F.array append,
    bounded by max_hops so the join fan-out is capped.

    ``source_nodes``/``target_nodes`` accept a single-column DataFrame
    (the reference reads them from path-file columns,
    kgtk/cli/paths.py:31-60) — millions of endpoints never pass through
    the driver; Python lists remain as sugar for small sets.
    """
    n1 = resolve_column(edges.columns, "node1") or "node1"
    n2 = resolve_column(edges.columns, "node2") or "node2"
    idc = resolve_column(edges.columns, "id")

    e = edges.select(
        F.col(n1).alias("from"),
        F.col(n2).alias("to"),
        (F.col(idc) if idc else F.concat_ws("-", n1, n2)).alias("edge_id"),
    ).localCheckpoint()

    spark = edges.sparkSession
    if isinstance(source_nodes, DataFrame):
        srcs = source_nodes.toDF("node").distinct()
    else:
        srcs = spark.createDataFrame(pa.table({"node": pa.array(source_nodes, pa.string())}))
    if isinstance(target_nodes, DataFrame):
        target_df = target_nodes.toDF("node").distinct()
    else:
        target_df = spark.createDataFrame(
            pa.table({"node": pa.array(list(set(target_nodes)), pa.string())})
        )

    def hop(s: DataFrame) -> DataFrame:
        fresh = s.where(F.col("new"))
        return s.select("end", "path", "seen", F.lit(False).alias("new")).union(
            fresh.join(e, fresh["end"] == e["from"])
            .where(~F.array_contains(F.col("seen"), F.col("to")))
            .select(
                F.col("to").alias("end"),
                F.concat(F.col("path"), F.array("edge_id")).alias("path"),
                F.concat(F.col("seen"), F.array("to")).alias("seen"),
                F.lit(True).alias("new"),
            )
        )

    # every path found: (end node, path of edge ids, nodes visited for
    # the cycle cut, added by the last hop)
    found = iterate(
        srcs.select(
            F.col("node").alias("end"),
            F.array().cast("array<string>").alias("path"),
            F.array("node").alias("seen"),
            F.lit(True).alias("new"),
        ).localCheckpoint(),
        hop, max_hops, lambda s: s.where(F.col("new")).isEmpty(),
    )
    release_checkpoint(e)
    # semi-join keeps the target set distributed (no isin literal list)
    complete = found.where(F.size("path") > 0).join(
        target_df.select(F.col("node").alias("end")), "end", "semi"
    )

    # Deterministic path numbering in sorted-path order via the
    # two-phase zip_with_index (no unpartitioned window).
    from kgtk_spark.indexing import zip_with_index

    numbered = zip_with_index(
        complete.select("path").distinct().orderBy("path"), "__pn__"
    ).select(
        "path",
        F.concat(F.lit("p"), F.col("__pn__").cast("string")).alias("path_id"),
    )
    return (
        numbered.select("path_id", F.posexplode("path").alias("hop", "edge_id"))
        .select(
            F.col("path_id").alias("node1"),
            F.col("hop").cast("string").alias("label"),
            F.col("edge_id").alias("node2"),
        )
        .orderBy("node1", "label")
    )
