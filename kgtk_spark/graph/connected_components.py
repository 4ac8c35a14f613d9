"""Connected components as an alternating large-star / small-star fixpoint.

Reference behavior: kgtk/gt/connected_components.py — optional edge
filter by label values (:150-155), weak components by default, drop
clusters smaller than ``minimum_cluster_size`` (default 2, :181-184),
cluster naming methods (:21-31, :76-130), output edges
``(node, 'connected_component', cluster_id)`` (:187-189).

The reference calls graph-tool's in-memory ``label_components``; that
cannot exist at 100 TB. We use the large-star/small-star MapReduce
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14): O(log² n) rounds, each round two groupBy-min joins.
Node ids stay strings; the component representative is the
lexicographically smallest member ("lowest" naming), with the
reference's other naming methods applied as a final per-component
aggregate.

The loop rule of this package: up to ``DRIVER_EDGE_LIMIT`` edge rows
a graph is solved on the driver from one bounded Arrow collect; above
it every loop is ``iterate``, one checkpoint per step, whose stop test
scans only the checkpoint just written (a previous value travels in
the state as a column, so no test joins the new state to the old).
"""

from __future__ import annotations

import itertools

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgtk_spark.schema import resolve_column

# Edge rows up to which components, SCC, PageRank and HITS run on the
# driver. Read at call time, so one monkeypatch of this module's
# constant moves every graph path above its gate.
DRIVER_EDGE_LIMIT = 100_000
CC_MAX_ITERATIONS = 50  # large/small-star rounds
SCC_MAX_ROUNDS = 50  # peel rounds before a driver-sized residue is handed over


def _large_star(e: DataFrame) -> DataFrame:
    # Bidirect, find m(u) = min(N(u) ∪ {u}), connect strictly-larger
    # neighbors to m.
    bi = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = bi.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        bi.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    # Direct edges from larger to smaller endpoint, then connect all
    # smaller-or-equal neighbors (and u itself) to the minimum.
    directed = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = directed.join(mins, "u").where(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_link = mins.select(F.col("u"), F.col("m").alias("v"))
    return nbrs.union(self_link).where(F.col("u") != F.col("v")).distinct()


def _components_fixpoint(pairs: DataFrame) -> DataFrame:
    """pairs (u,v), a checkpoint without self-loops that this releases
    → assignment (node, component) via large/small-star."""
    sigs = []

    def stable(e: DataFrame) -> bool:
        # the edge multiset is unchanged (order-insensitive hash)
        sigs.append(e.agg(F.count(F.lit(1)), F.expr("bit_xor(xxhash64(u, v))")).first())
        return sigs[-2:-1] == sigs[-1:]

    e = iterate(pairs, lambda e: _small_star(_large_star(e)), CC_MAX_ITERATIONS, stable)
    # Final state is a star forest pointing at the component minimum.
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return members.union(roots).distinct()


def iterate(state: DataFrame, step, max_steps: int | None, done=None) -> DataFrame:
    """The one graph loop: ``state = step(state).localCheckpoint()`` at
    most ``max_steps`` times (None: no cap), stopping early once
    ``done(state)``, asked of each checkpoint but the last, holds.
    ``localCheckpoint`` is eager, so each replaced state is released at
    once, the initial one too: it must be a checkpoint, or a projection
    or filter of one, that nothing else reads."""
    for i in itertools.count(1) if max_steps is None else range(1, max_steps + 1):
        nxt = step(state).localCheckpoint()
        release_checkpoint(state)
        state = nxt
        if i != max_steps and done is not None and done(state):
            break
    return state


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint()`` frame, or behind
    the checkpoint that a projection or filter ``df`` reads, once
    nothing reads it any more (``DataFrame.unpersist`` only releases
    frames made by ``persist()``)."""
    plan = df._jdf.queryExecution().logical()
    while plan.children().size() == 1:
        plan = plan.children().apply(0)
    plan.rdd().unpersist(False)


def collect_bounded(df: DataFrame, n: int) -> pa.Table | None:
    """The rows of ``df`` as one Arrow table when it has at most ``n``,
    else None: the one driver gate. ``limit(n + 1)`` answers "small
    enough for the driver?" and, when yes, already holds the rows, in
    one job that brings at most ``n + 1`` rows to the driver. A caller
    whose above-gate path re-reads ``df`` checkpoints it first, so that
    its input is evaluated once."""
    head = df.limit(n + 1).toArrow()
    return head if head.num_rows <= n else None


def driver_edges(df: DataFrame) -> pa.Table | None:
    """``collect_bounded`` at the graph gate, ``DRIVER_EDGE_LIMIT``."""
    return collect_bounded(df, DRIVER_EDGE_LIMIT)


def _assignment(spark: SparkSession, comp: dict) -> DataFrame:
    """``node -> component`` computed on the driver, as a frame built
    from an Arrow table, sorted by node: a JVM-only local relation,
    where ``createDataFrame`` of a Python list starts a Python worker
    (~0.45 s) on every action on the frame."""
    nodes = sorted(comp)
    return spark.createDataFrame(pa.table({
        "node": pa.array(nodes, pa.string()),
        "component": pa.array([comp[x] for x in nodes], pa.string()),
    }))


def components_auto(pairs: DataFrame) -> DataFrame:
    """(node, component = lexicographically-min member) with an
    adaptive strategy: duplicate/sameAs pair sets are usually tiny
    relative to the corpus that produced them, and the distributed
    fixpoint costs ~log² n rounds of job overhead — so edge sets up to
    ``DRIVER_EDGE_LIMIT`` collect to a driver union-find (microseconds),
    while anything larger runs the large/small-star fixpoint. The
    input is checkpointed once, so the upstream pipeline (LSH, verify,
    extraction) never executes twice."""
    pairs = pairs.where(F.col("u") != F.col("v")).localCheckpoint()
    head = driver_edges(pairs)
    if head is None:
        return _components_fixpoint(pairs)
    release_checkpoint(pairs)  # every row is on the driver now
    comp = union_find(zip(head["u"].to_pylist(), head["v"].to_pylist()))
    return _assignment(pairs.sparkSession, comp)


def union_find(pairs) -> dict:
    """node → lexicographically-min member of its component, over the
    ``(u, v)`` pairs on the driver. A pair with a null endpoint or with
    ``u == v`` is skipped, as Spark's ``u != v`` filter drops it."""
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    nodes = set()
    for u, v in pairs:
        if u is None or v is None or u == v:
            continue
        nodes.add(u)
        nodes.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in nodes}


def connected_components(
    edges: DataFrame,
    properties: list[str] | None = None,
    minimum_cluster_size: int = 2,
    cluster_name_method: str = "hash",
    cluster_name_prefix: str = "CLUS",
    cluster_name_separator: str = "+",
    cluster_name_zfill: int = 4,
    strong: bool = False,
) -> DataFrame:
    """Connected components over a KGTK edge file — weak by default,
    strongly connected with ``strong=True`` (the reference's --strong,
    kgtk/gt/connected_components.py:43,156).

    Returns KGTK edges ``(node1, 'connected_component', node2=cluster_id)``
    sorted by node, matching kgtk/gt/connected_components.py:187-189.
    All ten reference naming methods (:21-31,:76-130) are supported;
    the default is ``hash``, matching DEFAULT_CLUSTER_NAME_METHOD.
    ``first``/``last`` use first-seen input order (node1 then node2 per
    edge row) — order-dependent, and documented "unstable" by the
    reference itself.
    """
    n1 = resolve_column(edges.columns, "node1") or "node1"
    lb = resolve_column(edges.columns, "label") or "label"
    n2 = resolve_column(edges.columns, "node2") or "node2"

    src = edges
    if properties:
        src = src.filter(F.col(lb).isin(properties))

    pairs = src.select(F.col(n1).alias("u"), F.col(n2).alias("v"))
    assign = scc_auto(pairs) if strong else components_auto(pairs)

    # Cluster-size filter (isolated nodes never appear: they have no edges).
    sizes = assign.groupBy("component").agg(F.count(F.lit(1)).alias("__size__"))
    assign = (
        assign.join(sizes, "component")
        .where(F.col("__size__") >= minimum_cluster_size)
        .drop("__size__")
    )

    # Cluster naming (kgtk/gt/connected_components.py:76-130). Each
    # method is one aggregate over the assignment + one key join — no
    # per-component driver loop.
    method = cluster_name_method
    if method == "lowest":
        # the fixpoint representative IS the lexicographic minimum
        named = assign.select(F.col("node"), F.col("component").alias("cluster"))
    elif method == "highest":
        names = assign.groupBy("component").agg(F.max("node").alias("cluster"))
        named = assign.join(names, "component").select("node", "cluster")
    elif method == "cat":
        names = assign.groupBy("component").agg(
            F.array_join(
                F.array_sort(F.collect_set("node")), cluster_name_separator
            ).alias("cluster")
        )
        named = assign.join(names, "component").select("node", "cluster")
    elif method == "hash":
        # prefix + base64(md5(separator-joined sorted member list))
        # (kgtk/gt/connected_components.py:124-126).
        names = assign.groupBy("component").agg(
            F.concat(
                F.lit(cluster_name_prefix),
                F.base64(
                    F.unhex(
                        F.md5(
                            F.array_join(
                                F.array_sort(F.collect_set("node")),
                                cluster_name_separator,
                            )
                        )
                    )
                ),
            ).alias("cluster")
        )
        named = assign.join(names, "component").select("node", "cluster")
    elif method in ("shortest", "longest"):
        # shortest: min length, ties lowest; longest: max length, ties
        # highest (:103-119) — one min_by/max_by on a (length, node)
        # struct (struct ordering is field-lexicographic).
        key = F.struct(F.length("node").alias("l"), F.col("node").alias("n"))
        agg = F.min_by("node", key) if method == "shortest" else F.max_by("node", key)
        names = assign.groupBy("component").agg(agg.alias("cluster"))
        named = assign.join(names, "component").select("node", "cluster")
    elif method in ("first", "last"):
        # first/last vertex in first-seen input order (the reference's
        # graph-tool vertex-index order: node1 then node2 per row).
        from kgtk_spark.indexing import zip_with_index

        ordered = zip_with_index(
            src.select(F.col(n1).alias("a"), F.col(n2).alias("b")), "__ord__"
        )
        seen = (
            ordered.select(F.col("a").alias("node"), (F.col("__ord__") * 2).alias("o"))
            .union(
                ordered.select(
                    F.col("b").alias("node"), (F.col("__ord__") * 2 + 1).alias("o")
                )
            )
            .groupBy("node")
            .agg(F.min("o").alias("__seen__"))
        )
        with_ord = assign.join(seen, "node")
        agg = (
            F.min_by("node", F.col("__seen__"))
            if method == "first"
            else F.max_by("node", F.col("__seen__"))
        )
        names = with_ord.groupBy("component").agg(agg.alias("cluster"))
        named = assign.join(names, "component").select("node", "cluster")
    elif method in ("numbered", "prefixed"):
        # Deterministic numbering in component order without an
        # unpartitioned window: global sort (range partitioner) + the
        # two-phase zip_with_index, so numbering millions of components
        # never funnels through one task. NUMBERED is the bare number
        # (the reference passes graph-tool's component id through,
        # :79-81); PREFIXED zfills it under the prefix (:90-91).
        from kgtk_spark.indexing import zip_with_index

        num = F.col("__cn__").cast("string")
        if method == "prefixed":
            # zfill semantics: lpad truncates when the input is longer
            # than the pad width, Python's zfill never does
            padded = F.when(
                F.length(num) >= cluster_name_zfill, num
            ).otherwise(F.lpad(num, cluster_name_zfill, "0"))
            num = F.concat(F.lit(cluster_name_prefix), padded)
        names = zip_with_index(
            assign.select("component").distinct().orderBy("component"), "__cn__"
        ).select("component", num.alias("cluster"))
        named = assign.join(names, "component").select("node", "cluster")
    else:
        raise ValueError(f"unknown cluster_name_method {cluster_name_method!r}")

    return named.select(
        F.col("node").alias("node1"),
        F.lit("connected_component").alias("label"),
        F.col("cluster").alias("node2"),
    ).orderBy("node1")


# ---------------------------------------------------------------------------
# Strongly connected components (the reference's --strong,
# kgtk/gt/connected_components.py:43,156 → label_components(directed=True))
# ---------------------------------------------------------------------------

def _tarjan(pairs) -> dict[str, str]:
    """Iterative Tarjan SCC on the driver; component id = min member."""
    adj: dict[str, list[str]] = {}
    nodes: set[str] = set()
    for u, v in pairs:
        adj.setdefault(u, []).append(v)
        nodes.add(u)
        nodes.add(v)
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    out: dict[str, str] = {}
    counter = 0
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            node, pi = work[-1]
            if pi == 0:
                index[node] = low[node] = counter
                counter += 1
                stack.append(node)
                on_stack.add(node)
            recursed = False
            succs = adj.get(node, [])
            for i in range(pi, len(succs)):
                w = succs[i]
                if w not in index:
                    work[-1] = (node, i + 1)
                    work.append((w, 0))
                    recursed = True
                    break
                if w in on_stack:
                    low[node] = min(low[node], index[w])
            if recursed:
                continue
            if low[node] == index[node]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == node:
                        break
                cid = min(comp)
                for w in comp:
                    out[w] = cid
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[node])
    return out


def scc_auto(pairs: DataFrame, round_log: list | None = None) -> DataFrame:
    """(node, component = min member of its SCC), adaptive like
    components_auto: driver Tarjan up to ``DRIVER_EDGE_LIMIT`` edge rows
    (self-loops dropped, duplicates kept), read by one bounded collect;
    else the distributed COLORING algorithm (Orzan; also Slota et al.)
    over the distinct edges:

    repeat until no edges remain:
      1. forward min-label propagation to fixpoint (color);
      2. nodes that can reach their color's root BACKWARD inside their
         color form that root's SCC — peel them off;
    O(#outer rounds × log n) joins; every round removes ≥1 SCC per
    color.

    Both loops step one row per node: its SCC (``component``, null
    while unassigned), ``color``, and ``prev``, the loop variable's
    value one step before. Coloring is stable when no row has ``color
    != prev``; the backward search is semi-naive: only the rows it
    assigned last step (``prev`` null) join the edges. A node left
    without edges is its own root in a later round, or at the end.

    Worst-case round bound: each outer round peels at least one SCC per
    color, so #rounds ≤ the longest chain of SCCs dominated by a single
    color. The adversarial shape is many small cycles chained by
    one-way edges — the global min id's color floods the whole chain
    and exactly ONE SCC peels per round. After ``SCC_MAX_ROUNDS`` the
    loop hands the residue to driver Tarjan ONLY once it fits
    ``DRIVER_EDGE_LIMIT`` edges; a residue still above the limit keeps
    peeling distributed (progress is guaranteed — every round removes
    at least one SCC per color), so no input shape can force an
    unbounded driver collect.

    ``round_log``: optional list; one entry (live-edge count) is
    appended per outer round — used by tests to assert the bound.
    """
    spark = pairs.sparkSession
    pairs = pairs.where(F.col("u") != F.col("v"))
    head = driver_edges(pairs)
    if head is not None:
        # nodes in no cycle are their own singleton SCC (covered: tarjan
        # assigns every visited node)
        return _assignment(spark, _tarjan(zip(head["u"].to_pylist(), head["v"].to_pylist())))
    live = pairs.distinct().localCheckpoint()
    none = F.lit(None).cast(live.schema["u"].dataType)
    nodes = (
        live.select(F.col("u").alias("node"))
        .union(live.select(F.col("v").alias("node")))
        .distinct()
        .select("node", none.alias("component"))
        .localCheckpoint()
    )

    def color(s: DataFrame) -> DataFrame:
        # color(v) = min node id that reaches v (including itself); an
        # assigned node has no edges left and keeps its null color
        return (
            live.join(s, live["u"] == s["node"])
            .select(F.col("v").alias("node"), "color", none.alias("prev"), none.alias("component"))
            .union(s.select("node", "color", F.col("color").alias("prev"), "component"))
            .groupBy("node")
            .agg(F.min("color").alias("color"), F.max("prev").alias("prev"),
                 F.max("component").alias("component"))
        )

    def reach(s: DataFrame) -> DataFrame:
        # a predecessor of a node assigned last step joins its SCC when
        # it has the same color
        fresh = s.where(F.col("component").isNotNull() & F.col("prev").isNull())
        back = (
            live.join(fresh, live["v"] == fresh["node"])
            .select(F.col("u").alias("__u__"), F.col("component").alias("__c__"))
            .distinct()
        )
        return s.join(
            back, (F.col("node") == F.col("__u__")) & (F.col("color") == F.col("__c__")), "left"
        ).select(
            "node", F.coalesce("component", "__c__").alias("component"), "color",
            F.col("component").alias("prev"),
        )

    def peel(e: DataFrame) -> DataFrame:
        done = nodes.where(F.col("component").isNotNull()).select("node")
        return (
            e.join(done.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(done.withColumnRenamed("node", "v"), "v", "left_anti")
        )

    rounds = 0
    while not live.isEmpty():
        if rounds >= SCC_MAX_ROUNDS:
            head = driver_edges(live)
            if head is not None:
                break  # residue is driver-sized — finish exactly below
        if round_log is not None:
            round_log.append(live.count())
        rounds += 1
        seeded = nodes.select(
            "node", "component",
            F.when(F.col("component").isNull(), F.col("node")).alias("color"), none.alias("prev"),
        )
        nodes = iterate(
            seeded, color, None, lambda s: s.where(F.col("color") != F.col("prev")).isEmpty()
        )
        # each color's root is the first node of its SCC
        roots = nodes.select(
            "node",
            F.coalesce(
                "component", F.when(F.col("node") == F.col("color"), F.col("node"))
            ).alias("component"),
            "color", F.col("component").alias("prev"),
        )
        nodes = iterate(
            roots, reach, None,
            lambda s: s.where(F.col("component").isNotNull() & F.col("prev").isNull()).isEmpty(),
        )
        live = iterate(live, peel, 1)
    release_checkpoint(live)
    component = F.coalesce("component", "node")
    if head is not None:
        # anything never peeled that still has edges → finish on the driver
        rest = _tarjan(zip(head["u"].to_pylist(), head["v"].to_pylist()))
        nodes = nodes.join(
            _assignment(spark, rest).withColumnRenamed("component", "__t__"), "node", "left"
        )
        component = F.coalesce("component", "__t__", "node")
    # a node never assigned is its own SCC
    return nodes.select("node", component.alias("component"))
