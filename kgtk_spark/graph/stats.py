"""Graph statistics: degrees, PageRank, HITS — DataFrame-native.

Reference: kgtk/cli/graph_statistics.py:55-181 + kgtk/gt/analysis_utils.py
(degrees :27-45, pagerank damping 0.85 :49-57, HITS :60-74, top-N :77-83).
The reference delegates to graph-tool's C++ centrality; here PageRank is
the canonical iterative join-aggregate (contribs = edges ⋈ ranks →
groupBy(dst).sum; rank = (1-d)/N + d·Σ), checkpointed per iteration —
the "PageRank-style iterative aggregation" the north_star demands.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgtk_spark.schema import resolve_column


def _edge_cols(edges: DataFrame) -> tuple[str, str, str]:
    return (
        resolve_column(edges.columns, "node1") or "node1",
        resolve_column(edges.columns, "label") or "label",
        resolve_column(edges.columns, "node2") or "node2",
    )


def vertices(edges: DataFrame) -> DataFrame:
    n1, _, n2 = _edge_cols(edges)
    return (
        edges.select(F.col(n1).alias("node"))
        .union(edges.select(F.col(n2).alias("node")))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node in/out/total degree — two groupBy counts + outer join."""
    n1, _, n2 = _edge_cols(edges)
    outd = edges.groupBy(F.col(n1).alias("node")).agg(
        F.count(F.lit(1)).alias("vertex_out_degree")
    )
    ind = edges.groupBy(F.col(n2).alias("node")).agg(
        F.count(F.lit(1)).alias("vertex_in_degree")
    )
    return (
        outd.join(ind, "node", "full_outer")
        .select(
            "node",
            F.coalesce("vertex_in_degree", F.lit(0)).alias("vertex_in_degree"),
            F.coalesce("vertex_out_degree", F.lit(0)).alias("vertex_out_degree"),
        )
        .withColumn(
            "vertex_degree", F.col("vertex_in_degree") + F.col("vertex_out_degree")
        )
    )


def _pagerank_driver(
    pairs: list,
    nodes: list,
    damping: float,
    max_iterations: int,
    tolerance: float,
    check_delta_every: int,
):
    """Same iteration semantics as the distributed loop, in numpy —
    for graphs small enough that per-iteration Spark job launches
    dominate (the values agree with the DataFrame path to float
    round-off; both are ROUND(…, 6)-stable vs the SQL oracle)."""
    import numpy as np

    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([idx[u] for u, _ in pairs], dtype=np.int64)
    dst = np.array([idx[v] for _, v in pairs], dtype=np.int64)
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for i in range(max_iterations):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, rank[src] / out_deg[src])
        dm = rank[dangling].sum()
        new_rank = base + damping * (contrib + dm / n)
        if tolerance > 0 and (
            (i + 1) % check_delta_every == 0 or i == max_iterations - 1
        ):
            if np.abs(new_rank - rank).sum() < tolerance:
                rank = new_rank
                break
        rank = new_rank
    return [(v, float(rank[idx[v]])) for v in nodes]


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iterations: int = 20,
    tolerance: float = 1e-6,
    check_delta_every: int = 5,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """PageRank over the directed edge file → (node, vertex_pagerank).

    Dangling-node mass is redistributed uniformly each round. Ranks are
    probabilities (sum to 1), matching graph-tool's convention.

    One Spark job per iteration: the dangling-mass sum rides along as a
    one-row crossJoin inside the same localCheckpoint that materializes
    the contribs aggregation (the per-iteration checkpoint keeps the
    plan shallow, so the agg subtree never compounds). The convergence
    delta — an extra one-row collect — is only checked every
    ``check_delta_every`` iterations; set ``tolerance=0`` to disable
    early stopping entirely (fixed iteration count, oracle-exact).
    """
    n1, _, n2 = _edge_cols(edges)
    pairs = edges.select(F.col(n1).alias("src"), F.col(n2).alias("dst"))

    verts = vertices(edges).localCheckpoint()
    n = verts.count()
    if n == 0:
        return verts.withColumn("vertex_pagerank", F.lit(0.0))

    # Gate on the raw edge count (cheap count-pushdown scan) — do NOT
    # checkpoint the full edge list just to size it.
    if edges.count() <= driver_threshold:
        rows = _pagerank_driver(
            [(r["src"], r["dst"]) for r in pairs.collect()],
            [r["node"] for r in verts.collect()],
            damping,
            max_iterations,
            tolerance,
            check_delta_every,
        )
        return edges.sparkSession.createDataFrame(
            rows, "node string, vertex_pagerank double"
        )

    out_deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    # Pre-join the out-degree once; this frame is reused every iteration.
    links = pairs.join(out_deg, "src").localCheckpoint()
    # Dangling nodes (no out-edges) are static — compute the set once.
    dangling_nodes = verts.join(
        out_deg, verts["node"] == out_deg["src"], "left_anti"
    ).localCheckpoint()

    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n

    for i in range(max_iterations):
        contribs = (
            links.join(ranks, links["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("out_degree")).alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inflow"))
        )
        dangling = (
            ranks.join(dangling_nodes, "node", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm__"))
        )
        new_ranks = (
            verts.join(contribs, verts["node"] == contribs["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("__dm__") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        if tolerance > 0 and (
            (i + 1) % check_delta_every == 0 or i == max_iterations - 1
        ):
            delta = (
                new_ranks.join(ranks.withColumnRenamed("rank", "old"), "node")
                .agg(F.sum(F.abs(F.col("rank") - F.col("old"))))
                .collect()[0][0]
            )
            ranks = new_ranks
            if delta is not None and delta < tolerance:
                break
        else:
            ranks = new_ranks

    return ranks.withColumnRenamed("rank", "vertex_pagerank")


def _hits_driver(pairs: list, nodes: list, max_iterations: int):
    """numpy twin of the distributed HITS loop (same semantics: auth
    from hubs, hub from RAW auth, joint L2 normalization per round)."""
    import numpy as np

    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([idx[u] for u, _ in pairs], dtype=np.int64)
    dst = np.array([idx[v] for _, v in pairs], dtype=np.int64)
    hub = np.ones(n)
    auth = np.ones(n)
    for _ in range(max_iterations):
        auth_raw = np.zeros(n)
        np.add.at(auth_raw, dst, hub[src])
        hub_raw = np.zeros(n)
        np.add.at(hub_raw, src, auth_raw[dst])
        hn = float(np.sqrt((hub_raw * hub_raw).sum())) or 1.0
        an = float(np.sqrt((auth_raw * auth_raw).sum())) or 1.0
        hub = hub_raw / hn
        auth = auth_raw / an
    return [(v, float(hub[idx[v]]), float(auth[idx[v]])) for v in nodes]


def hits(
    edges: DataFrame,
    max_iterations: int = 20,
    checkpoint_every: int = 5,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """HITS hubs/authorities with L2 normalization per round."""
    n1, _, n2 = _edge_cols(edges)
    if edges.count() <= driver_threshold:
        p = edges.select(F.col(n1).alias("src"), F.col(n2).alias("dst")).collect()
        vs = vertices(edges).collect()
        rows = _hits_driver(
            [(r["src"], r["dst"]) for r in p],
            [r["node"] for r in vs],
            max_iterations,
        )
        return edges.sparkSession.createDataFrame(
            rows, "node string, vertex_hubs double, vertex_auth double"
        )
    pairs = edges.select(F.col(n1).alias("src"), F.col(n2).alias("dst")).localCheckpoint()
    verts = vertices(edges).localCheckpoint()

    scores = verts.select("node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
    for i in range(max_iterations):
        auth = (
            pairs.join(scores.select(F.col("node").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("auth_raw"))
        )
        hub = (
            pairs.join(auth.select(F.col("node").alias("dst"), "auth_raw"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth_raw").alias("hub_raw"))
        )
        joined = (
            verts.join(auth, "node", "left")
            .join(hub, "node", "left")
            .select(
                "node",
                F.coalesce("hub_raw", F.lit(0.0)).alias("hub_raw"),
                F.coalesce("auth_raw", F.lit(0.0)).alias("auth_raw"),
            )
        )
        # x*x (not pow(x, 2)) so the oracle's SUM(x*x) is bit-identical.
        # The two norms ride along as a one-row broadcast crossJoin
        # (same fold as pagerank's dangling mass) — no per-iteration
        # driver collect, and `joined` is never evaluated twice.
        norms = joined.agg(
            F.sqrt(F.sum(F.col("hub_raw") * F.col("hub_raw"))).alias("__hn__"),
            F.sqrt(F.sum(F.col("auth_raw") * F.col("auth_raw"))).alias("__an__"),
        )
        hn = F.col("__hn__")
        an = F.col("__an__")
        scores = joined.crossJoin(F.broadcast(norms)).select(
            "node",
            (
                F.col("hub_raw")
                / F.when(hn.isNull() | (hn == 0.0), F.lit(1.0)).otherwise(hn)
            ).alias("hub"),
            (
                F.col("auth_raw")
                / F.when(an.isNull() | (an == 0.0), F.lit(1.0)).otherwise(an)
            ).alias("auth"),
        )
        if (i + 1) % checkpoint_every == 0:
            scores = scores.localCheckpoint()

    return scores.select(
        "node",
        F.col("hub").alias("vertex_hubs"),
        F.col("auth").alias("vertex_auth"),
    )


def graph_statistics(
    edges: DataFrame,
    compute_pagerank: bool = False,
    compute_hits: bool = False,
    top_n: int = 5,
) -> DataFrame:
    """Emit statistic edges in the reference layout
    (kgtk/cli/graph_statistics.py:149-178): one edge per (node, statistic)
    with ids ``node-prop-seq`` — content-derived, order-free, parallel-safe."""
    stats = degrees(edges)
    long_parts = []
    for prop in ("vertex_in_degree", "vertex_out_degree", "vertex_degree"):
        long_parts.append(
            stats.select(
                F.col("node").alias("node1"),
                F.lit(prop).alias("label"),
                F.col(prop).cast("string").alias("node2"),
            )
        )
    out = long_parts[0]
    for p in long_parts[1:]:
        out = out.unionByName(p)

    if compute_pagerank:
        pr = pagerank(edges)
        out = out.unionByName(
            pr.select(
                F.col("node").alias("node1"),
                F.lit("vertex_pagerank").alias("label"),
                F.col("vertex_pagerank").cast("string").alias("node2"),
            )
        )
    if compute_hits:
        h = hits(edges)
        for prop in ("vertex_hubs", "vertex_auth"):
            out = out.unionByName(
                h.select(
                    F.col("node").alias("node1"),
                    F.lit(prop).alias("label"),
                    F.col(prop).cast("string").alias("node2"),
                )
            )

    return out.withColumn(
        "id", F.concat_ws("-", "node1", "label", F.lit("1"))
    )


def top_relations(edges: DataFrame, n: int = 10) -> DataFrame:
    """Top-N relation frequencies (kgtk/gt/analysis_utils.py:99-104)."""
    _, lb, _ = _edge_cols(edges)
    return (
        edges.groupBy(F.col(lb).alias("relation"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "relation")
        .limit(n)
    )


def degree_summary(edges: DataFrame) -> DataFrame:
    """Mean / stddev / max of in-, out- and total degree — the summary
    block graph-statistics logs (kgtk/gt/analysis_utils.py:27-45,
    kgtk/cli/graph_statistics.py:126-147). One row per degree kind."""
    d = degrees(edges)
    parts = []
    for kind in ("vertex_in_degree", "vertex_out_degree", "vertex_degree"):
        parts.append(
            d.agg(
                F.lit(kind).alias("degree_kind"),
                F.round(F.avg(kind), 6).alias("mean"),
                F.round(F.stddev_pop(kind), 6).alias("stddev"),
                F.max(kind).cast("long").alias("max"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# Raw canonical edge rows (duplicates included) up to which
# triangle_count collects the graph and counts it on the driver.
CSR_EDGE_LIMIT = 2_000_000
_WEDGES_PER_CHUNK = 1 << 20


def _csr_triangles(u: pa.ChunkedArray, v: pa.ChunkedArray, workers: int) -> int:
    """Triangles of the undirected graph with edges (u[i], v[i]), where
    u[i] != v[i], neither is null and duplicates may repeat.

    Ids become dense (one dictionary over both endpoints, any id type),
    the distinct edges are oriented from the lower (degree, id) rank to
    the higher, and each oriented edge (x, y) with a later out-neighbour
    z of x forms the wedge (y, z); a wedge closes when (y, z) is an
    edge. Edges are packed into one int64 (src * n + dst) and sorted, so
    that array is both the CSR (out-neighbours of x are contiguous and
    ascending) and the probe structure (``searchsorted``)."""
    m = len(u)
    if m == 0:
        return 0
    codes = pa.chunked_array(u.chunks + v.chunks).dictionary_encode()
    n = len(codes.chunks[-1].dictionary)  # the chunks share one dictionary
    ids = np.concatenate([c.indices.to_numpy() for c in codes.chunks]).astype(np.int64)
    a, b = ids[:m], ids[m:]
    lo, hi = np.divmod(np.unique(np.minimum(a, b) * n + np.maximum(a, b)), n)
    del ids, a, b
    deg = np.bincount(lo, minlength=n) + np.bincount(hi, minlength=n)
    rank = np.empty(n, np.int64)
    rank[np.argsort(deg, kind="stable")] = np.arange(n)  # any total order is acyclic
    lo, hi = rank[lo], rank[hi]
    keys = np.sort(np.minimum(lo, hi) * n + np.maximum(lo, hi))
    del lo, hi, deg, rank
    src, adj = np.divmod(keys, n)
    indptr = np.concatenate(([0], np.cumsum(np.bincount(src, minlength=n))))
    # wedges of edge p: its endpoint paired with each later out-neighbour
    fan = indptr[src + 1] - np.arange(len(keys)) - 1
    del src, indptr
    ends = np.cumsum(fan)
    cuts = np.searchsorted(ends, np.arange(_WEDGES_PER_CHUNK, ends[-1], _WEDGES_PER_CHUNK))
    bounds = np.concatenate(([0], cuts, [len(keys)]))

    def closed(p0: int, p1: int) -> int:
        f = fan[p0:p1]
        total = int(f.sum())
        if total == 0:
            return 0
        first = np.arange(p0 + 1, p1 + 1) - (np.cumsum(f) - f)
        z = adj[np.repeat(first, f) + np.arange(total)]
        probe = np.repeat(adj[p0:p1], f) * n + z
        at = np.minimum(np.searchsorted(keys, probe), len(keys) - 1)
        return int(np.count_nonzero(keys[at] == probe))

    with ThreadPoolExecutor(workers) as pool:  # numpy drops the GIL
        return sum(pool.map(closed, bounds[:-1], bounds[1:]))


def triangle_count(
    edges: DataFrame,
    node1: str | None = None,
    node2: str | None = None,
    broadcast_edge_limit: int = 30_000_000,
) -> DataFrame:
    """Global triangle count of the UNDIRECTED simple graph underlying
    the edge frame — one row ``(n_triangles)``.

    Every edge is oriented from its lower ``(degree, id)`` endpoint to
    the higher (the classic degree-orientation trick), so each vertex's
    out-degree is bounded by ~sqrt(m), the wedge work is O(m^1.5)
    instead of hub-quadratic — a 10M-follower hub never pairs up its
    neighbor list — and every triangle is counted exactly once because
    the orientation is acyclic.

    Two paths, chosen by one bounded collect: the canonical edge rows
    (``least``/``greatest``, self-loops dropped, duplicates kept) are
    collected as Arrow with ``limit(CSR_EDGE_LIMIT + 1)``.

    - Up to ``CSR_EDGE_LIMIT`` rows (2M) the collect already holds the
      graph, and ``_csr_triangles`` counts it on the driver with numpy:
      no further Spark job, nothing persisted. Driver Python memory
      grows by about 200 B per collected row: measured on 4 cores, the
      2M rows at the gate peaked at 470 MB with long or string ids.
    - Above it, the distributed wedge join (``_wedge_triangles``) runs
      on the executors, as it does for graphs of any size.
    """
    n1, _, n2 = _edge_cols(edges)
    node1, node2 = node1 or n1, node2 or n2
    raw = edges.select(
        F.least(F.col(node1), F.col(node2)).alias("u"),
        F.greatest(F.col(node1), F.col(node2)).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    # limit(N + 1) answers "small enough for the driver?" and, when yes,
    # already delivers the rows (components_auto's take(threshold + 1)).
    head = raw.limit(CSR_EDGE_LIMIT + 1).toArrow()
    if head.num_rows > CSR_EDGE_LIMIT:
        del head
        return _wedge_triangles(raw, broadcast_edge_limit)
    spark = edges.sparkSession
    n = _csr_triangles(head["u"], head["v"], spark.sparkContext.defaultParallelism)
    # a literal over range(1): a JVM-only plan, where createDataFrame of
    # a Python list starts a Python worker (~0.45 s) on every action
    return spark.range(1).select(F.lit(n).cast("long").alias("n_triangles"))


def _wedge_triangles(raw: DataFrame, broadcast_edge_limit: int) -> DataFrame:
    """The triangle count as Spark joins, for graphs above the driver
    gate.

    Physical shape: the canonical edge set and the (small) degree table
    are ``localCheckpoint``-ed, so the dedup + degree subtrees are
    computed ONCE instead of once per self-join reference (without the
    checkpoints Catalyst re-expands the lineage under every alias —
    ~6 full recomputations of the input scan + distinct). The
    orientation itself stays LAZY: it is two joins of the checkpointed
    edge set against the checkpointed degree table, and re-deriving it
    per consumer measured ~25% faster end-to-end than materializing the
    m-row oriented frame (the checkpoint write/read of every edge costs
    more than the joins it saves). The oriented wedges (x→y, x→z) are
    generated by a self-join and probe the oriented edge set.

    Integral node ids in [0, 2^31) are packed into one long per edge
    ((x << 32) + y) so the hot probe runs against a single-long key
    instead of a two-column row. Only such a packed probe is broadcast,
    and only while it has at most ``broadcast_edge_limit`` rows (30M
    keys, under ~1 GB of heap): the wedges then never cross an exchange.
    String or out-of-range ids, and larger edge sets, take the
    hash-partitioned shuffle join, which needs no driver-sized build.
    """
    e = raw.distinct().localCheckpoint()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint()
    )
    ed = (
        e.join(deg.withColumnsRenamed({"node": "u", "d": "du"}), "u")
        .join(deg.withColumnsRenamed({"node": "v", "d": "dv"}), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("dy"),
    )

    # Pack endpoints into one long when provably safe: integral ids,
    # all in [0, 2^31). Bounds and the broadcast-gate edge count come
    # from ONE one-row agg on the checkpointed edge set (x/y of the
    # oriented frame are the same value set as u/v).
    pack = None
    integral = isinstance(
        e.schema["u"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    aggs = [F.count(F.lit(1))]
    if integral:
        aggs += [F.min("u"), F.min("v"), F.max("u"), F.max("v")]
    stats = e.agg(*aggs).first()
    m = stats[0]
    if integral:
        _, lo_u, lo_v, hi_u, hi_v = stats
        if (
            lo_u is not None
            and min(lo_u, lo_v) >= 0
            and max(hi_u, hi_v) < (1 << 31)
        ):
            def pack(cx, cy):
                return F.shiftleft(cx.cast("long"), 32) + cy.cast("long")

    # Shuffled-hash for the wedge self-join: the build side is one
    # hash partition of the oriented edges (m / partitions rows, AQE
    # skew-splittable) and no sort of either 826M-candidate stream is
    # paid — measurably faster than sort-merge here (guide §3.1).
    a, b = oriented.alias("a"), oriented.alias("b").hint("shuffle_hash")
    wedge_cond = (F.col("a.x") == F.col("b.x")) & (
        (F.col("a.dy") < F.col("b.dy"))
        | ((F.col("a.dy") == F.col("b.dy")) & (F.col("a.y") < F.col("b.y")))
    )
    if pack is not None:
        wedges = a.join(b, wedge_cond).select(
            pack(F.col("a.y"), F.col("b.y")).alias("wk")
        )
        probe = oriented.select(pack(F.col("x"), F.col("y")).alias("wk"))
        keys = ["wk"]
    else:
        wedges = a.join(b, wedge_cond).select(
            F.col("a.y").alias("w1"), F.col("b.y").alias("w2")
        )
        probe = oriented.select(
            F.col("x").alias("w1"), F.col("y").alias("w2")
        )
        keys = ["w1", "w2"]
    if pack is not None and m <= broadcast_edge_limit:
        probe = F.broadcast(probe)
    closed = wedges.join(probe, keys)
    return closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
