"""Graph-operator tests: known component structures, hand-computable
PageRank, BFS reachability — mirroring the reference's graph-tool
behaviors (kgtk/gt/connected_components.py, kgtk/cli/graph_statistics.py,
kgtk/cli/reachable_nodes.py)."""

from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

from kgtk_spark.graph import (
    connected_components,
    degrees,
    graph_statistics,
    pagerank,
    reachable_nodes,
)
from kgtk_spark.graph import reachable
from kgtk_spark.graph.reachable import paths
from kgtk_spark.graph.stats import hits

# The module, not the function the package re-exports under its name:
# its DRIVER_EDGE_LIMIT gates every graph path.
CC = importlib.import_module("kgtk_spark.graph.connected_components")


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


def test_reachable_nodes(spark):
    df = edge_df(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])
    out = reachable_nodes(df, ["a", "x"]).collect()
    got = {(r["node1"], r["node2"]) for r in out}
    assert got == {("a", "b"), ("a", "c"), ("a", "d"), ("x", "y")}


def test_reachable_nodes_max_hops(spark, monkeypatch):
    df = edge_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    monkeypatch.setattr(reachable, "REACHABLE_MAX_HOPS", 2)
    out = reachable_nodes(df, ["a"]).collect()
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


def test_pagerank_driver_and_distributed_agree(spark, monkeypatch):
    edges = spark.createDataFrame(
        [("a", "e", "b"), ("b", "e", "c"), ("c", "e", "a"), ("a", "e", "c"), ("d", "e", "a")],
        ["node1", "label", "node2"],
    )
    drv = {r["node"]: r["vertex_pagerank"] for r in pagerank(edges, max_iterations=10, tolerance=0.0).collect()}
    monkeypatch.setattr(CC, "DRIVER_EDGE_LIMIT", 0)
    dist = {r["node"]: r["vertex_pagerank"]
            for r in pagerank(edges, max_iterations=10, tolerance=0.0).collect()}
    assert set(drv) == set(dist)
    for k in drv:
        assert abs(drv[k] - dist[k]) < 1e-9


@pytest.mark.parametrize("tolerance", [1e-6, 1e-3])
def test_pagerank_early_stop_driver_and_distributed_agree(spark, monkeypatch, tolerance):
    """With early stopping on, both paths test the delta after the same
    iterations and stop at the same one: on this graph, of 50, at
    iteration 30 for the default tolerance and at 15 for 1e-3. Stopping
    5 iterations earlier or later would move some rank by more than
    1e-8."""
    edges = spark.createDataFrame(
        [("a", "e", "b"), ("b", "e", "c"), ("c", "e", "a"), ("a", "e", "c"), ("d", "e", "a")],
        ["node1", "label", "node2"],
    )
    drv = {r["node"]: r["vertex_pagerank"]
           for r in pagerank(edges, max_iterations=50, tolerance=tolerance).collect()}
    full = {r["node"]: r["vertex_pagerank"]
            for r in pagerank(edges, max_iterations=50, tolerance=0.0).collect()}
    assert max(abs(drv[k] - full[k]) for k in drv) > 1e-8  # it did stop early
    monkeypatch.setattr(CC, "DRIVER_EDGE_LIMIT", 0)
    dist = {r["node"]: r["vertex_pagerank"]
            for r in pagerank(edges, max_iterations=50, tolerance=tolerance).collect()}
    assert drv.keys() == dist.keys()
    assert all(abs(drv[k] - dist[k]) < 1e-9 for k in drv)


def test_hits_driver_and_distributed_agree(spark, monkeypatch):
    edges = spark.createDataFrame(
        [("a", "e", "b"), ("a", "e", "c"), ("b", "e", "c"), ("d", "e", "c")],
        ["node1", "label", "node2"],
    )
    drv = {r["node"]: (r["vertex_hubs"], r["vertex_auth"]) for r in hits(edges, max_iterations=8).collect()}
    monkeypatch.setattr(CC, "DRIVER_EDGE_LIMIT", 0)
    dist = {r["node"]: (r["vertex_hubs"], r["vertex_auth"])
            for r in hits(edges, max_iterations=8).collect()}
    assert set(drv) == set(dist)
    for k in drv:
        assert abs(drv[k][0] - dist[k][0]) < 1e-9
        assert abs(drv[k][1] - dist[k][1]) < 1e-9


def test_pagerank_and_hits_driver_count_a_null_endpoint_as_one_vertex(spark):
    """The driver paths give a null endpoint one vertex of its own, with
    the values the per-row driver loops gave it."""
    edges = spark.createDataFrame(
        [("a", "e", "b"), ("b", "e", None), (None, "e", "a"), ("c", "e", "a"), ("a", "e", "c")],
        "node1 string, label string, node2 string",
    )
    pr = {r["node"]: r["vertex_pagerank"]
          for r in pagerank(edges, max_iterations=10, tolerance=0.0).collect()}
    want = {None: 0.20831520589931565, "a": 0.386690500005059,
            "b": 0.20249714704781263, "c": 0.20249714704781263}
    assert pr.keys() == want.keys()
    assert all(abs(pr[k] - want[k]) < 1e-12 for k in want)
    h = {r["node"]: (r["vertex_hubs"], r["vertex_auth"])
         for r in hits(edges, max_iterations=8).collect()}
    want = {None: (0.5773488009175647, 0.0031894235470431398),
            "a": (0.5773488009175647, 0.8164924280430438),
            "b": (0.002255268753584237, 0.4082462140215219),
            "c": (0.5773488009175647, 0.4082462140215219)}
    assert h.keys() == want.keys()
    assert all(abs(h[k][i] - want[k][i]) < 1e-12 for k in want for i in (0, 1))


def test_components_auto_driver_and_fixpoint_agree(spark, monkeypatch):
    from kgtk_spark.graph.connected_components import components_auto

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "p")],
        "u string, v string",
    )
    drv = {(r["node"], r["component"]) for r in components_auto(pairs).collect()}
    monkeypatch.setattr(CC, "DRIVER_EDGE_LIMIT", 0)
    dist = {(r["node"], r["component"]) for r in components_auto(pairs).collect()}
    assert drv == dist
    assert ("c", "a") in drv and ("y", "x") in drv and ("r", "p") in drv


def test_strongly_connected_components(spark, monkeypatch):
    from kgtk_spark.graph.connected_components import scc_auto

    # two cycles bridged by one-way edges + a tail:
    # a→b→c→a (SCC {a,b,c}), c→d, d→e→d (SCC {d,e}), e→f (singleton f)
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
             ("d", "e"), ("e", "d"), ("e", "f")]
    pairs = spark.createDataFrame(edges, "u string, v string")

    expect = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}
    drv = {r["node"]: r["component"] for r in scc_auto(pairs).collect()}
    assert drv == expect
    with monkeypatch.context() as m:
        m.setattr(CC, "DRIVER_EDGE_LIMIT", 0)
        dist = {r["node"]: r["component"] for r in scc_auto(pairs).collect()}
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


def test_scc_random_digraph_driver_vs_distributed(spark, monkeypatch):
    import random

    from kgtk_spark.graph.connected_components import scc_auto

    rnd = random.Random(11)
    edges = list({(f"n{rnd.randrange(30)}", f"n{rnd.randrange(30)}")
                  for _ in range(80)})
    pairs = spark.createDataFrame(edges, "u string, v string")
    drv = {(r["node"], r["component"]) for r in scc_auto(pairs).collect()}
    monkeypatch.setattr(CC, "DRIVER_EDGE_LIMIT", 0)
    monkeypatch.setattr(CC, "SCC_MAX_ROUNDS", 60)
    dist = {(r["node"], r["component"]) for r in scc_auto(pairs).collect()}
    assert drv == dist


def test_scc_chain_of_cycles_worst_case(spark, monkeypatch):
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
    monkeypatch.setattr(CC, "DRIVER_EDGE_LIMIT", 0)
    monkeypatch.setattr(CC, "SCC_MAX_ROUNDS", 3)
    capped = {(r["node"], r["component"])
              for r in scc_auto(pairs, round_log=rounds).collect()}
    assert capped == drv
    # threshold 0 means the driver fallback is never taken: every round
    # past the cap still ran distributed and live stayed > threshold
    assert len(rounds) == n_cycles
    assert all(c > 0 for c in rounds)

    # mid-size threshold: peel past the cap until the residue fits,
    # then finish on the driver with a BOUNDED collect
    rounds = []
    monkeypatch.setattr(CC, "DRIVER_EDGE_LIMIT", 10)
    capped2 = {(r["node"], r["component"])
               for r in scc_auto(pairs, round_log=rounds).collect()}
    assert capped2 == drv
    assert len(rounds) > 3  # kept peeling past the cap
    # every post-cap distributed round was justified: live > threshold
    assert all(c > 10 for c in rounds[3:])

    # Uncapped: one SCC peels per round → exactly n_cycles rounds.
    rounds = []
    monkeypatch.setattr(CC, "DRIVER_EDGE_LIMIT", 0)
    monkeypatch.setattr(CC, "SCC_MAX_ROUNDS", 50)
    full = {(r["node"], r["component"])
            for r in scc_auto(pairs, round_log=rounds).collect()}
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


@pytest.mark.parametrize(
    "path",
    ["pagerank", "hits", "scc_auto", "components_auto", "canonicalize", "triangle_count"],
)
def test_driver_paths_run_few_jobs(spark, path):
    """Under its gate, each driver path is one bounded Arrow collect
    (behind one checkpoint where the path above the gate re-reads its
    input) and one JVM-only result: at most 3 Spark jobs through a noop
    write of the result (2 for triangle_count, whose result is a literal
    over ``range(1)``), and nothing left persisted."""
    from kgtk_spark.graph.connected_components import components_auto, scc_auto
    from kgtk_spark.graph.stats import triangle_count
    from kgtk_spark.pipeline.stages import canonicalize

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [("a", "e", "b"), ("b", "e", "c"), ("c", "e", "a"), ("a", "e", "c"), ("d", "e", "a")],
        "node1 string, label string, node2 string",
    )
    pairs = edges.select(F.col("node1").alias("u"), F.col("node2").alias("v"))
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "node1 long, node2 long"
    )
    run = {
        "pagerank": lambda: pagerank(edges),
        "hits": lambda: hits(edges),
        "scc_auto": lambda: scc_auto(pairs),
        "components_auto": lambda: components_auto(pairs),
        "canonicalize": lambda: canonicalize(edges.union(
            spark.createDataFrame([("d", "sameAs", "a")], edges.schema))),
        "triangle_count": lambda: triangle_count(k4),
    }[path]
    held = lambda: set(sc._jsc.getPersistentRDDs().keys())  # noqa: E731
    before = held()
    sc.setJobGroup(path, f"count the jobs {path} starts")
    try:
        run().write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(path)) <= (2 if path == "triangle_count" else 3)
    assert held() - before == set()
    if path == "triangle_count":
        assert run().first()["n_triangles"] == 4


def test_triangle_count_wedge_path_releases_its_checkpoints(spark, monkeypatch):
    """Above the gate the wedge join counts inside ``triangle_count`` and
    releases both of its checkpoints: repeated calls leave nothing
    persisted."""
    from kgtk_spark.graph import stats

    monkeypatch.setattr(stats, "CSR_EDGE_LIMIT", -1)
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(k4, "node1 long, node2 long")
    held = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: E731
    before = held()
    for _ in range(3):
        assert stats.triangle_count(df).first()["n_triangles"] == 4
    assert held() - before == set()


def test_driver_component_results_are_jvm_only(spark):
    """Component assignments, PageRank and HITS solved on the driver come
    back as a local relation built from Arrow, so an action on them
    starts no Python worker; empty inputs too."""
    from kgtk_spark.graph.connected_components import components_auto, scc_auto

    def plan(df):
        return df._jdf.queryExecution().logical().getClass().getSimpleName()

    pairs = spark.createDataFrame([("a", "b"), ("b", "a"), ("b", "c")], "u string, v string")
    none = pairs.limit(0)
    for solve in (components_auto, scc_auto):
        for src in (pairs, none):
            out = solve(src)
            assert plan(out) == "LocalRelation", solve.__name__
            assert out.schema.simpleString() == "struct<node:string,component:string>"
    assert {tuple(r) for r in scc_auto(pairs).collect()} == {("a", "a"), ("b", "a"), ("c", "c")}
    assert components_auto(none).count() == 0 and scc_auto(none).count() == 0

    edges = pairs.select(F.col("u").alias("node1"), F.col("v").alias("node2"))
    for solve, schema in (
        (pagerank, "struct<node:string,vertex_pagerank:double>"),
        (hits, "struct<node:string,vertex_hubs:double,vertex_auth:double>"),
    ):
        for src, n in ((edges, 3), (edges.limit(0), 0)):
            out = solve(src)
            assert plan(out) == "LocalRelation", solve.__name__
            assert out.schema.simpleString() == schema
            assert out.count() == n


def _nation_region(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "n_nationkey": pa.array([0, 1], pa.int32()),
        "n_name": ["ALGERIA", "ARGENTINA"],
        "n_regionkey": pa.array([0, 1], pa.int32()),
    }), tmp_path / "nation.parquet")
    pq.write_table(pa.table({
        "r_regionkey": pa.array([0, 1], pa.int32()),
        "r_name": ["AFRICA", "AMERICA"],
    }), tmp_path / "region.parquet")
    return str(tmp_path)


def _driver_built_sites():
    from kgtk_spark import queries as Q
    from kgtk_spark.operators.validate_properties import PropertyPattern, dataset_violations
    from kgtk_spark.pipeline.runner import StageManifest
    from kgtk_spark.sources.json_writer import write_kgtk_json
    from kgtk_spark.sources.tsv_writer import write_kgtk_formatted

    return {
        "reachable_nodes": lambda edges, tmp: reachable_nodes(edges, ["a"]).collect(),
        "paths": lambda edges, tmp: paths(edges, ["a"], ["c"]).collect(),
        "tsv_header": lambda edges, tmp: write_kgtk_formatted(edges, str(tmp / "t")),
        "json_header": lambda edges, tmp: write_kgtk_json(edges, str(tmp / "j"), "jsonl"),
        "dataset_violations": lambda edges, tmp: dataset_violations(
            edges, [PropertyPattern("P9", mustoccur=True)]).collect(),
        "visualgenome_attr_synsets": lambda edges, tmp: Q.q_cskg_visualgenome(
            edges.sparkSession, _nation_region(edges.sparkSession, tmp)).collect(),
        "wikidata_rdf_props": lambda edges, tmp: Q.q_wikidata_rdf(
            edges.sparkSession, _nation_region(edges.sparkSession, tmp)).collect(),
        "stage_commit": lambda edges, tmp: StageManifest(edges.sparkSession, str(tmp)).commit(
            "text", "fp", [("part-0", 3)], 0.0),
    }


@pytest.mark.parametrize("site", sorted(_driver_built_sites()))
def test_driver_built_frames_are_jvm_only(spark, tmp_path, monkeypatch, site):
    """Every frame a library call builds from driver data is built from
    Arrow: a local relation, with no Python RDD scan in its plan, so an
    action on it starts no Python worker."""
    edges = edge_df(spark, [("a", "b"), ("b", "c")]).withColumn("id", F.lit("e"))
    built = []
    create = type(spark).createDataFrame

    def recording(self, *args, **kwargs):
        built.append(create(self, *args, **kwargs))
        return built[-1]

    monkeypatch.setattr(type(spark), "createDataFrame", recording)
    _driver_built_sites()[site](edges, tmp_path)
    monkeypatch.undo()
    assert built, site
    for df in built:
        assert df._jdf.queryExecution().logical().getClass().getSimpleName() == "LocalRelation"


def test_components_fixpoint_releases_round_checkpoints(spark):
    from kgtk_spark.graph.connected_components import _components_fixpoint

    # A path takes several large/small-star rounds to collapse to a star.
    n = 64
    pairs = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)], "u string, v string"
    )
    held = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: E731
    before = held()
    out = _components_fixpoint(pairs.localCheckpoint())
    assert len(held() - before) <= 1  # only the final round's checkpoint
    comp = {r["node"]: r["component"] for r in out.collect()}
    assert len(comp) == n and set(comp.values()) == {"n000"}


def test_graph_loops_release_superseded_checkpoints(spark, monkeypatch):
    """Above the driver gate, every graph loop releases each checkpoint
    its result no longer reads. After a noop write of the result (which
    reads it back), each holds only the last state of its loop, and
    paths also the checkpoint that zip_with_index numbers paths in."""
    from kgtk_spark.graph.connected_components import components_auto, scc_auto

    edges = spark.createDataFrame(
        [("a", "e", "b"), ("b", "e", "c"), ("c", "e", "a"), ("a", "e", "c"), ("d", "e", "a")],
        "node1 string, label string, node2 string",
    )
    pairs = edges.select(F.col("node1").alias("u"), F.col("node2").alias("v"))
    # a 20-hop path, and a 5-hop one with an id column
    hops = edge_df(spark, [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(20)])
    ids = spark.createDataFrame(
        [(f"n{i}", "p", f"n{i + 1}", f"e{i}") for i in range(5)], ["node1", "label", "node2", "id"]
    )
    monkeypatch.setattr(CC, "DRIVER_EDGE_LIMIT", 0)
    held = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: E731
    for name, run, most in (
        ("pagerank", lambda: pagerank(edges, max_iterations=3), 1),
        ("hits", lambda: hits(edges, max_iterations=3), 1),
        ("scc_auto", lambda: scc_auto(pairs), 1),
        ("components_auto", lambda: components_auto(pairs), 1),
        ("reachable_nodes", lambda: reachable_nodes(hops, ["n00"]), 1),
        ("paths", lambda: paths(ids, ["n0"], ["n2", "n5"], max_hops=5), 2),
    ):
        before = held()
        run().write.format("noop").mode("overwrite").save()
        assert len(held() - before) <= most, name


def test_connected_components_numbered(spark):
    from kgtk_spark.graph.connected_components import connected_components

    edges = spark.createDataFrame(
        [("a", "e", "b"), ("c", "e", "d"), ("x", "e", "y")],
        "node1 string, label string, node2 string",
    )
    out = connected_components(edges, cluster_name_method="numbered")
    clusters = {r["node2"] for r in out.collect()}
    # NUMBERED is the bare component number (reference :79-81 passes
    # the graph-tool id through); PREFIXED adds CLUS + zfill
    assert clusters == {"0", "1", "2"}
    out = connected_components(edges, cluster_name_method="prefixed")
    clusters = {r["node2"] for r in out.collect()}
    assert clusters == {"CLUS0000", "CLUS0001", "CLUS0002"}
