"""Connected components as an alternating large-star / small-star fixpoint.

Reference behavior: kgtk/gt/connected_components.py — optional edge
filter by label values (:150-155), weak components by default, drop
clusters smaller than ``minimum_cluster_size`` (default 2, :181-184),
cluster naming methods (:21-31, :76-130), output edges
``(node, 'connected_component', cluster_id)`` (:187-189).

The reference calls graph-tool's in-memory ``label_components``; that
cannot exist at 100 TB. We use the large-star/small-star MapReduce
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14): O(log² n) rounds, each round two groupBy-min joins,
localCheckpoint between rounds to cut lineage. Node ids stay strings;
the component representative is the lexicographically smallest member
("lowest" naming), with the reference's other naming methods applied
as a final per-component aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgtk_spark.schema import resolve_column


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


def _components_fixpoint(pairs: DataFrame, max_iterations: int = 50) -> DataFrame:
    """pairs (u,v) → assignment (node, component) via large/small-star."""
    e = pairs.where(F.col("u") != F.col("v")).distinct().localCheckpoint()
    prev_sig = None
    for _ in range(max_iterations):
        # localCheckpoint is eager: the next round is materialized, so
        # the blocks of this one can go.
        nxt = _small_star(_large_star(e)).localCheckpoint()
        release_checkpoint(e)
        e = nxt
        # Convergence: the edge multiset is stable (order-insensitive hash).
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        cur = (sig["n"], sig["h"])
        if cur == prev_sig:
            break
        prev_sig = cur
    # Final state is a star forest pointing at the component minimum.
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return members.union(roots).distinct()


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint()`` frame once nothing
    reads it any more (``DataFrame.unpersist`` only releases frames made
    by ``persist()``)."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def components_auto(
    pairs: DataFrame, driver_threshold: int = 100_000, max_iterations: int = 50
) -> DataFrame:
    """(node, component = lexicographically-min member) with an
    adaptive strategy: duplicate/sameAs pair sets are usually tiny
    relative to the corpus that produced them, and the distributed
    fixpoint costs ~log² n rounds of job overhead — so edge sets up to
    ``driver_threshold`` collect to a driver union-find (microseconds),
    while anything larger runs the large/small-star fixpoint. The
    input is checkpointed once, so the upstream pipeline (LSH, verify,
    extraction) never executes twice."""
    pairs = pairs.where(F.col("u") != F.col("v")).localCheckpoint()
    # take(threshold + 1) answers "small enough for the driver?" AND,
    # when yes, already delivers the rows — one incremental job instead
    # of a full count followed by a collect.
    head = pairs.take(driver_threshold + 1)
    if len(head) > driver_threshold:
        out = _components_fixpoint(pairs, max_iterations=max_iterations)
        release_checkpoint(pairs)  # the fixpoint checkpointed its own copy
        return out
    release_checkpoint(pairs)  # every row is on the driver now
    if not head:
        return pairs.sparkSession.createDataFrame(
            [], "node string, component string"
        )

    parent: dict = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    nodes = set()
    for row in head:
        u, v = row["u"], row["v"]
        nodes.add(u)
        nodes.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return pairs.sparkSession.createDataFrame(
        [(x, find(x)) for x in sorted(nodes)], "node string, component string"
    )


def connected_components(
    edges: DataFrame,
    properties: list[str] | None = None,
    minimum_cluster_size: int = 2,
    cluster_name_method: str = "hash",
    cluster_name_prefix: str = "CLUS",
    cluster_name_separator: str = "+",
    cluster_name_zfill: int = 4,
    max_iterations: int = 50,
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
    if strong:
        assign = scc_auto(pairs, max_rounds=max_iterations)
    else:
        assign = components_auto(pairs, max_iterations=max_iterations)

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

def _tarjan(pairs: list[tuple[str, str]]) -> dict[str, str]:
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


def scc_auto(
    pairs: DataFrame,
    driver_threshold: int = 100_000,
    max_rounds: int = 50,
    round_log: list | None = None,
) -> DataFrame:
    """(node, component = min member of its SCC), adaptive like
    components_auto: driver Tarjan under ``driver_threshold`` edges,
    else the distributed COLORING algorithm (Orzan; also Slota et al.):

    repeat until no edges remain:
      1. forward min-label propagation to fixpoint (color);
      2. nodes that can reach their color's root BACKWARD inside their
         color form that root's SCC — peel them off;
    O(#outer rounds × log n) joins; every round removes ≥1 SCC per
    color.

    Worst-case round bound: each outer round peels at least one SCC per
    color, so #rounds ≤ the longest chain of SCCs dominated by a single
    color. The adversarial shape is many small cycles chained by
    one-way edges — the global min id's color floods the whole chain
    and exactly ONE SCC peels per round. After ``max_rounds`` the loop
    hands the residue to driver Tarjan ONLY once it fits
    ``driver_threshold`` edges; a residue still above the threshold
    keeps peeling distributed (progress is guaranteed — every round
    removes at least one SCC per color), so no input shape can force
    an unbounded driver collect (r5 review, "What's wrong" #3).

    ``round_log``: optional list; one entry (live-edge count) is
    appended per outer round — used by tests to assert the bound.
    """
    spark = pairs.sparkSession
    pairs = pairs.where(F.col("u") != F.col("v")).distinct().localCheckpoint()
    n = pairs.count()
    all_nodes = (
        pairs.select(F.col("u").alias("node"))
        .union(pairs.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    if n == 0:
        return spark.createDataFrame([], "node string, component string")
    if n <= driver_threshold:
        rows = _tarjan([(r["u"], r["v"]) for r in pairs.collect()])
        # nodes in no cycle are their own singleton SCC (covered: tarjan
        # assigns every visited node)
        return spark.createDataFrame(
            sorted(rows.items()), "node string, component string"
        )

    assigned = spark.createDataFrame([], "node string, component string")
    live = pairs
    rounds = 0
    while not live.isEmpty():
        if rounds >= max_rounds and live.count() <= driver_threshold:
            break  # residue is driver-sized — finish exactly below
        if round_log is not None:
            round_log.append(live.count())
        rounds += 1
        # 1) forward min-label fixpoint (color): color(v) = min node id
        # that reaches v (including itself)
        nodes = (
            live.select(F.col("u").alias("node"))
            .union(live.select(F.col("v").alias("node")))
            .distinct()
        )
        color = nodes.select("node", F.col("node").alias("color")).localCheckpoint()
        while True:
            prop = (
                live.join(color, live["u"] == color["node"])
                .select(F.col("v").alias("node"), F.col("color"))
                .union(color.select("node", "color"))
                .groupBy("node")
                .agg(F.min("color").alias("color"))
                .localCheckpoint()
            )
            changed = (
                prop.join(color.withColumnRenamed("color", "old"), "node")
                .where(F.col("color") != F.col("old"))
                .isEmpty()
            )
            color = prop
            if changed:
                break
        # 2) backward reachability to the color root WITHIN the color:
        # the root's SCC = nodes with color c that reach c backward
        # through same-color nodes
        ec = (
            live.join(color.withColumnRenamed("node", "u").withColumnRenamed("color", "cu"), "u")
            .join(color.withColumnRenamed("node", "v").withColumnRenamed("color", "cv"), "v")
            .where(F.col("cu") == F.col("cv"))
            .select("u", "v", F.col("cu").alias("c"))
            .localCheckpoint()
        )
        frontier = color.where(F.col("node") == F.col("color")).select(
            F.col("node"), F.col("color").alias("c")
        )
        reached = frontier.localCheckpoint()
        while True:
            step = (
                ec.join(reached, (ec["v"] == reached["node"]) & (ec["c"] == reached["c"]))
                .select(ec["u"].alias("node"), ec["c"])
                .distinct()
                .join(reached, ["node", "c"], "left_anti")
                .localCheckpoint()
            )
            if step.isEmpty():
                break
            reached = reached.union(step).localCheckpoint()
        scc = reached.select("node", F.col("c").alias("component"))
        assigned = assigned.union(scc).localCheckpoint()
        live = (
            live.join(scc.select(F.col("node").alias("u")), "u", "left_anti")
            .join(scc.select(F.col("node").alias("v")), "v", "left_anti")
            .localCheckpoint()
        )
    # anything never peeled that still has edges → finish on the driver
    if not live.isEmpty():
        rest = _tarjan([(r["u"], r["v"]) for r in live.collect()])
        assigned = assigned.union(
            spark.createDataFrame(sorted(rest.items()), "node string, component string")
        )
    # isolated-by-peel nodes: every node not assigned is its own SCC
    singles = all_nodes.join(assigned, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return assigned.union(singles)
