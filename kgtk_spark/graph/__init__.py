"""Iterative DataFrame graph algorithms (no graph-tool, no GraphFrames).

The reference loads edges into graph-tool's C++ engine
(kgtk/gt/gt_load.py:7-122); at 100 TB that in-memory graph cannot exist,
so above a driver gate every algorithm here is an iterative DataFrame
loop, ``connected_components.iterate``: one checkpoint per step.
"""

from kgtk_spark.graph.connected_components import connected_components
from kgtk_spark.graph.stats import degrees, graph_statistics, pagerank, triangle_count
from kgtk_spark.graph.reachable import reachable_nodes

__all__ = [
    "connected_components",
    "degrees",
    "pagerank",
    "graph_statistics",
    "reachable_nodes",
    "triangle_count",
]
