"""Graph-operator tests: known component structures, hand-computable
PageRank, BFS reachability — mirroring the reference's graph-tool
behaviors (kgtk/gt/connected_components.py, kgtk/cli/graph_statistics.py,
kgtk/cli/reachable_nodes.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgtk_spark.graph import (
    connected_components,
    degrees,
    graph_statistics,
    pagerank,
    reachable_nodes,
)
from kgtk_spark.graph.reachable import paths
from kgtk_spark.graph.stats import hits, top_relations


def edge_df(spark, pairs):
    return spark.createDataFrame(
        [(a, "p", b) for a, b in pairs], ["node1", "label", "node2"]
    )


def test_connected_components_two_clusters(spark):
    # chain a-b-c-d plus pair x-y plus isolated self-contained cluster
    df = edge_df(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])
    out = connected_components(df, cluster_name_method="lowest").collect()
    comp = {r["node1"]: r["node2"] for r in out}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert all(r["label"] == "connected_component" for r in out)


def test_connected_components_long_chain(spark):
    # long chain stresses the log-rounds fixpoint
    pairs = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(60)]
    df = edge_df(spark, pairs)
    out = connected_components(df)
    comps = out.select("node2").distinct().collect()
    assert len(comps) == 1
    assert out.count() == 61


def test_connected_components_min_size_and_properties(spark):
    df = spark.createDataFrame(
        [("a", "same", "b"), ("c", "other", "d")],
        ["node1", "label", "node2"],
    )
    out = connected_components(df, properties=["same"], cluster_name_method="lowest").collect()
    nodes = {r["node1"] for r in out}
    assert nodes == {"a", "b"}


def test_connected_components_hash_naming(spark):
    df = edge_df(spark, [("a", "b")])
    # hash is the reference DEFAULT method and includes the prefix
    # (connected_components.py:33,124-126)
    out = connected_components(df).collect()
    import base64
    import hashlib

    expect = "CLUS" + base64.b64encode(hashlib.md5(b"a+b").digest()).decode()
    assert {r["node2"] for r in out} == {expect}


def test_connected_components_naming_methods(spark):
    # fixed two-component fixture; input order: aa, zz, b | kk, k
    df = edge_df(spark, [("aa", "zz"), ("zz", "b"), ("kk", "k")])
    def clusters(method, **kw):
        out = connected_components(df, cluster_name_method=method, **kw).collect()
        return {r["node2"] for r in out}

    assert clusters("lowest") == {"aa", "k"}
    assert clusters("highest") == {"zz", "kk"}
    assert clusters("cat") == {"aa+b+zz", "k+kk"}
    assert clusters("cat", cluster_name_separator="|") == {"aa|b|zz", "k|kk"}
    # shortest: min length then lowest; longest: max length then highest
    assert clusters("shortest") == {"b", "k"}
    assert clusters("longest") == {"zz", "kk"}
    # first/last in first-seen input order (node1 then node2 per row)
    assert clusters("first") == {"aa", "kk"}
    assert clusters("last") == {"b", "k"}
    # numbered is the bare component number; prefixed zfills it
    assert clusters("numbered") == {"0", "1"}
    assert clusters("prefixed") == {"CLUS0000", "CLUS0001"}
    assert clusters("prefixed", cluster_name_zfill=2) == {"CLUS00", "CLUS01"}


def test_degrees(spark):
    df = edge_df(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    d = {r["node"]: r for r in degrees(df).collect()}
    assert d["a"]["vertex_out_degree"] == 2 and d["a"]["vertex_in_degree"] == 0
    assert d["c"]["vertex_in_degree"] == 2 and d["c"]["vertex_degree"] == 2
    assert d["b"]["vertex_degree"] == 2


def test_pagerank_star(spark):
    # star: everyone links to 'hub' → hub has max rank; ranks sum to 1
    df = edge_df(spark, [("a", "hub"), ("b", "hub"), ("c", "hub")])
    pr = {r["node"]: r["vertex_pagerank"] for r in pagerank(df, max_iterations=30).collect()}
    assert pr["hub"] == max(pr.values())
    assert abs(sum(pr.values()) - 1.0) < 1e-3
    assert abs(pr["a"] - pr["b"]) < 1e-9


def test_pagerank_cycle_uniform(spark):
    df = edge_df(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    pr = {r["node"]: r["vertex_pagerank"] for r in pagerank(df, max_iterations=10).collect()}
    for v in pr.values():
        assert abs(v - 1 / 3) < 1e-6


def test_hits(spark):
    df = edge_df(spark, [("h1", "a1"), ("h1", "a2"), ("h2", "a1")])
    out = {r["node"]: r for r in hits(df, max_iterations=10).collect()}
    assert out["h1"]["vertex_hubs"] > out["h2"]["vertex_hubs"]
    assert out["a1"]["vertex_auth"] > out["a2"]["vertex_auth"]


def test_graph_statistics_layout(spark):
    df = edge_df(spark, [("a", "b")])
    out = graph_statistics(df).collect()
    labels = {r["label"] for r in out}
    assert labels == {"vertex_in_degree", "vertex_out_degree", "vertex_degree"}
    assert all(r["id"] == f'{r["node1"]}-{r["label"]}-1' for r in out)


def test_top_relations(spark):
    df = spark.createDataFrame(
        [("a", "P1", "b"), ("c", "P1", "d"), ("e", "P2", "f")],
        ["node1", "label", "node2"],
    )
    out = top_relations(df, 1).collect()
    assert out[0]["relation"] == "P1" and out[0]["freq"] == 2


def test_reachable_nodes(spark):
    df = edge_df(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])
    out = reachable_nodes(df, ["a", "x"]).collect()
    got = {(r["node1"], r["node2"]) for r in out}
    assert got == {("a", "b"), ("a", "c"), ("a", "d"), ("x", "y")}


def test_reachable_nodes_max_hops(spark):
    df = edge_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    out = reachable_nodes(df, ["a"], max_hops=2).collect()
    assert {r["node2"] for r in out} == {"b", "c"}


def test_reachable_cycle_terminates(spark):
    df = edge_df(spark, [("a", "b"), ("b", "a")])
    out = reachable_nodes(df, ["a"]).collect()
    assert {r["node2"] for r in out} == {"b"}


def test_paths(spark):
    df = spark.createDataFrame(
        [
            ("a", "p", "b", "e1"),
            ("b", "p", "c", "e2"),
            ("a", "p", "c", "e3"),
        ],
        ["node1", "label", "node2", "id"],
    )
    out = paths(df, ["a"], ["c"], max_hops=3).collect()
    by_path = {}
    for r in out:
        by_path.setdefault(r["node1"], []).append((int(r["label"]), r["node2"]))
    seqs = {tuple(e for _, e in sorted(v)) for v in by_path.values()}
    assert seqs == {("e3",), ("e1", "e2")}


def test_paths_and_reachable_dataframe_endpoints(spark):
    # endpoints as DataFrames (the reference's root-file columns) — and
    # a many-roots shape that must never pass through the driver
    df = edge_df(spark, [(f"r{i}", f"m{i}") for i in range(50)] + [("m0", "t")])
    roots = spark.createDataFrame([(f"r{i}",) for i in range(50)], "node string")
    out = reachable_nodes(df, roots).collect()
    assert len(out) == 51  # 50 direct + r0→t

    e = spark.createDataFrame(
        [("a", "p", "b", "e1"), ("b", "p", "c", "e2")],
        ["node1", "label", "node2", "id"],
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    tgts = spark.createDataFrame([("c",), ("zzz",)], "node string")
    out = paths(e, srcs, tgts, max_hops=3).collect()
    seq = [r["node2"] for r in sorted(out, key=lambda r: int(r["label"]))]
    assert seq == ["e1", "e2"]


def test_pagerank_driver_and_distributed_agree(spark):
    edges = spark.createDataFrame(
        [("a", "e", "b"), ("b", "e", "c"), ("c", "e", "a"), ("a", "e", "c"), ("d", "e", "a")],
        ["node1", "label", "node2"],
    )
    drv = {r["node"]: r["vertex_pagerank"] for r in pagerank(edges, max_iterations=10, tolerance=0.0).collect()}
    dist = {r["node"]: r["vertex_pagerank"]
            for r in pagerank(edges, max_iterations=10, tolerance=0.0, driver_threshold=0).collect()}
    assert set(drv) == set(dist)
    for k in drv:
        assert abs(drv[k] - dist[k]) < 1e-9


def test_hits_driver_and_distributed_agree(spark):
    edges = spark.createDataFrame(
        [("a", "e", "b"), ("a", "e", "c"), ("b", "e", "c"), ("d", "e", "c")],
        ["node1", "label", "node2"],
    )
    drv = {r["node"]: (r["vertex_hubs"], r["vertex_auth"]) for r in hits(edges, max_iterations=8).collect()}
    dist = {r["node"]: (r["vertex_hubs"], r["vertex_auth"])
            for r in hits(edges, max_iterations=8, driver_threshold=0).collect()}
    assert set(drv) == set(dist)
    for k in drv:
        assert abs(drv[k][0] - dist[k][0]) < 1e-9
        assert abs(drv[k][1] - dist[k][1]) < 1e-9


def test_components_auto_driver_and_fixpoint_agree(spark):
    from kgtk_spark.graph.connected_components import components_auto

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "p")],
        "u string, v string",
    )
    drv = {(r["node"], r["component"]) for r in components_auto(pairs).collect()}
    dist = {
        (r["node"], r["component"])
        for r in components_auto(pairs, driver_threshold=0).collect()
    }
    assert drv == dist
    assert ("c", "a") in drv and ("y", "x") in drv and ("r", "p") in drv


def test_strongly_connected_components(spark):
    from kgtk_spark.graph.connected_components import scc_auto

    # two cycles bridged by one-way edges + a tail:
    # a→b→c→a (SCC {a,b,c}), c→d, d→e→d (SCC {d,e}), e→f (singleton f)
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
             ("d", "e"), ("e", "d"), ("e", "f")]
    pairs = spark.createDataFrame(edges, "u string, v string")

    expect = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}
    drv = {r["node"]: r["component"] for r in scc_auto(pairs).collect()}
    assert drv == expect
    dist = {r["node"]: r["component"]
            for r in scc_auto(pairs, driver_threshold=0).collect()}
    assert dist == expect

    # weak components on the same graph collapse everything into one —
    # the strong/weak distinction is real
    out = connected_components(
        spark.createDataFrame([(u, "p", v) for u, v in edges],
                              ["node1", "label", "node2"]),
        cluster_name_method="lowest",
    )
    assert {r["node2"] for r in out.collect()} == {"a"}
    strong = connected_components(
        spark.createDataFrame([(u, "p", v) for u, v in edges],
                              ["node1", "label", "node2"]),
        cluster_name_method="lowest",
        strong=True,
    )
    got = {r["node1"]: r["node2"] for r in strong.collect()}
    # min_cluster_size=2 drops the singleton f, like the reference
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_scc_random_digraph_driver_vs_distributed(spark):
    import random

    from kgtk_spark.graph.connected_components import scc_auto

    rnd = random.Random(11)
    edges = list({(f"n{rnd.randrange(30)}", f"n{rnd.randrange(30)}")
                  for _ in range(80)})
    pairs = spark.createDataFrame(edges, "u string, v string")
    drv = {(r["node"], r["component"]) for r in scc_auto(pairs).collect()}
    dist = {(r["node"], r["component"])
            for r in scc_auto(pairs, driver_threshold=0, max_rounds=60).collect()}
    assert drv == dist


def test_scc_chain_of_cycles_worst_case(spark):
    """Adversarial coloring input: many 3-cycles chained by one-way
    edges. The global min id's color floods the whole chain, so the
    distributed loop peels exactly ONE SCC per round — the round cap
    must bound the work and the driver-Tarjan fallback must finish the
    residue exactly (see scc_auto docstring's round bound)."""
    from kgtk_spark.graph.connected_components import scc_auto

    n_cycles = 8
    edges = []
    for i in range(n_cycles):
        a, b, c = f"c{i:02d}a", f"c{i:02d}b", f"c{i:02d}c"
        edges += [(a, b), (b, c), (c, a)]
        if i + 1 < n_cycles:
            edges.append((c, f"c{i + 1:02d}a"))  # one-way chain link
    pairs = spark.createDataFrame(edges, "u string, v string")

    drv = {(r["node"], r["component"]) for r in scc_auto(pairs).collect()}

    # Cap far below n_cycles with a residue ABOVE the driver threshold:
    # the loop must KEEP PEELING distributed (no unbounded collect — r5
    # review item #3), only handing over once the residue fits.
    rounds: list = []
    capped = {(r["node"], r["component"])
              for r in scc_auto(pairs, driver_threshold=0, max_rounds=3,
                                round_log=rounds).collect()}
    assert capped == drv
    # threshold 0 means the driver fallback is never taken: every round
    # past the cap still ran distributed and live stayed > threshold
    assert len(rounds) == n_cycles
    assert all(c > 0 for c in rounds)

    # mid-size threshold: peel past the cap until the residue fits,
    # then finish on the driver with a BOUNDED collect
    rounds = []
    capped2 = {(r["node"], r["component"])
               for r in scc_auto(pairs, driver_threshold=10, max_rounds=3,
                                 round_log=rounds).collect()}
    assert capped2 == drv
    assert len(rounds) > 3  # kept peeling past the cap
    # every post-cap distributed round was justified: live > threshold
    assert all(c > 10 for c in rounds[3:])

    # Uncapped: one SCC peels per round → exactly n_cycles rounds.
    rounds = []
    full = {(r["node"], r["component"])
            for r in scc_auto(pairs, driver_threshold=0, max_rounds=50,
                              round_log=rounds).collect()}
    assert full == drv
    assert len(rounds) == n_cycles
    # each round strictly shrinks the live edge set
    assert rounds == sorted(rounds, reverse=True) and len(set(rounds)) == len(rounds)


def _triangles(df, monkeypatch) -> dict[str, int]:
    """triangle_count of ``df`` on each path: the driver CSR kernel and
    the Spark wedge join. A gate of -1 sends every graph, even an empty
    one, to the wedge join (the collect is limit(0), and 0 rows > -1)."""
    from kgtk_spark.graph import stats

    ran, wedge, out = [], stats._wedge_triangles, {}
    for path, limit in (("csr", stats.CSR_EDGE_LIMIT), ("wedge", -1)):
        with monkeypatch.context() as m:
            m.setattr(stats, "_wedge_triangles", lambda *a: ran.append(path) or wedge(*a))
            m.setattr(stats, "CSR_EDGE_LIMIT", limit)
            out[path] = stats.triangle_count(df).first()["n_triangles"]
        assert ran == ["wedge"] * (path == "wedge"), f"{path} took the other path"
    return out


def test_triangle_count_known_graphs(spark, monkeypatch):
    def tri(edges):
        df = spark.createDataFrame(edges, "node1 string, node2 string")
        return _triangles(df, monkeypatch)

    # K4: 4 triangles — with duplicate and reversed edges thrown in
    # (the canonicalize+distinct must absorb them) and a self-loop
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
          ("c", "d"), ("c", "b"), ("a", "b"), ("d", "d")]
    assert tri(k4) == {"csr": 4, "wedge": 4}
    # path graph: no triangles
    assert tri([("a", "b"), ("b", "c"), ("c", "d")]) == {"csr": 0, "wedge": 0}
    # two disjoint triangles + a pendant
    two = [("a", "b"), ("b", "c"), ("a", "c"),
           ("x", "y"), ("y", "z"), ("x", "z"), ("z", "w")]
    assert tri(two) == {"csr": 2, "wedge": 2}
    # no edges at all
    assert tri([]) == {"csr": 0, "wedge": 0}


def test_triangle_count_star_hub_stays_linear(spark, monkeypatch):
    """a 200-leaf star has NO triangles; the degree orientation points
    every edge leaf->hub, so the hub's out-degree is 0 and no wedge is
    formed (naive orientation would wedge 200x199 pairs)."""
    star = [("hub", f"leaf{i}") for i in range(200)]
    df = spark.createDataFrame(star, "node1 string, node2 string")
    assert _triangles(df, monkeypatch) == {"csr": 0, "wedge": 0}


@pytest.mark.parametrize("ids", ["string", "long"])
def test_triangle_count_random_graph_matches_networkx(spark, monkeypatch, ids):
    """A seeded random multigraph of 300 nodes and 3,000 rows, with
    duplicate and reversed edges, self-loops and null endpoints; both
    paths must give networkx's count on the simple graph beneath it.
    String ids take the wedge join's two-column probe, small integer
    ids its packed one; a tiny wedge chunk makes the CSR kernel split
    its work across many chunks."""
    import random

    import networkx as nx

    from kgtk_spark.graph import stats

    rng = random.Random(6)
    name = str if ids == "string" else int
    rows = []
    for _ in range(3000):
        a, b = rng.randrange(300), rng.randrange(300)
        rows.append((name(a), name(b)))
    rows += [(b, a) for a, b in rows[:500]]  # reversed duplicates
    rows += [(a, a) for a, _ in rows[:50]]  # self-loops
    rows += [(None, b) for _, b in rows[:20]] + [(a, None) for a, _ in rows[:20]] + [(None, None)]
    rng.shuffle(rows)
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b in rows if a is not None and b is not None and a != b)
    want = sum(nx.triangles(g).values()) // 3
    assert want > 0

    monkeypatch.setattr(stats, "_WEDGES_PER_CHUNK", 97)
    df = spark.createDataFrame(rows, f"node1 {ids}, node2 {ids}")
    assert _triangles(df, monkeypatch) == {"csr": want, "wedge": want}


def test_triangle_count_driver_path_starts_two_jobs(spark):
    """Under the gate, one bounded Arrow collect is the only job before
    the result's own; nothing is left persisted."""
    from kgtk_spark.graph.stats import triangle_count

    sc = spark.sparkContext
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(k4, "node1 long, node2 long")
    held = lambda: set(sc._jsc.getPersistentRDDs().keys())  # noqa: E731
    before = held()
    sc.setJobGroup("triangles_csr", "count the jobs triangle_count starts")
    try:
        n = triangle_count(df).first()["n_triangles"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 4
    assert len(sc.statusTracker().getJobIdsForGroup("triangles_csr")) <= 2
    assert held() - before == set()


def test_components_fixpoint_releases_round_checkpoints(spark):
    from kgtk_spark.graph.connected_components import _components_fixpoint

    # A path takes several large/small-star rounds to collapse to a star.
    n = 64
    pairs = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)], "u string, v string"
    )
    held = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: E731
    before = held()
    out = _components_fixpoint(pairs)
    assert len(held() - before) <= 1  # only the final round's checkpoint
    comp = {r["node"]: r["component"] for r in out.collect()}
    assert len(comp) == n and set(comp.values()) == {"n000"}
