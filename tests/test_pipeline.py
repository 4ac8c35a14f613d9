"""KG-construction pipeline tests: per-stage behavior, the end-to-end
triple P/R ≥ 0.95 gate (BASELINE.md), byte-identical text extraction,
and resume-from-manifest."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from kgtk_spark.pipeline import (
    alias_dictionary_df,
    canonicalize,
    detect_mentions,
    extract_text,
    extract_triples,
    link_entities,
    materialize,
    run_pipeline,
    triple_precision_recall,
)
from kgtk_spark.pipeline.matcher import TokenDictMatcher
from kgtk_spark.pipeline.runner import run_pipeline_fused
from kgtk_spark.pipeline.stages import (
    _best_sense,
    best_alias_map,
    extract_text_bytes,
)
from kgtk_spark.pipeline.webgen import generate_pages_distributed, html_of_text


class AhoCorasick:
    """Char-level Aho-Corasick automaton (goto/fail/output construction,
    Aho & Corasick, CACM 1975): the independent oracle for the pipeline's
    word-level TokenDictMatcher."""

    def __init__(self, patterns: list[str]):
        from collections import deque

        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[str]] = [[]]
        for pat in patterns:
            s = 0
            for ch in pat:
                if ch not in self.goto[s]:
                    self.goto.append({})
                    self.out.append([])
                    self.goto[s][ch] = len(self.goto) - 1
                s = self.goto[s][ch]
            if pat:
                self.out[s].append(pat)
        self.fail = [0] * len(self.goto)
        q = deque(self.goto[0].values())
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                nxt = self.goto[f].get(ch, 0)
                self.fail[s] = nxt if nxt != s else 0
                self.out[s] = self.out[s] + self.out[self.fail[s]]

    def finditer(self, text: str):
        """Yield (start, end, pattern) for every dictionary hit."""
        s = 0
        for i, ch in enumerate(text):
            while s and ch not in self.goto[s]:
                s = self.fail[s]
            s = self.goto[s].get(ch, 0)
            for pat in self.out[s]:
                yield (i - len(pat) + 1, i + 1, pat)


def find_mentions(text: str, automaton: AhoCorasick) -> list[tuple[int, int, str]]:
    """Token-boundary-checked, longest-match-preferred, non-overlapping
    dictionary hits."""
    word = lambda c: c.isalnum() or c in "_-"  # noqa: E731
    raw = sorted(
        (m for m in automaton.finditer(text)
         if not (m[0] > 0 and word(text[m[0] - 1]))
         and not (m[1] < len(text) and word(text[m[1]]))),
        key=lambda m: (m[0], m[0] - m[1]),
    )
    kept, last_end = [], -1
    for m in raw:
        if m[0] >= last_end:
            kept.append(m)
            last_end = m[1]
    return kept


def test_aho_corasick_basic():
    a = AhoCorasick(["he", "she", "his", "hers"])
    hits = sorted(m[2] for m in a.finditer("ushers"))
    assert hits == ["he", "hers", "she"]


def test_find_mentions_boundaries():
    a = AhoCorasick(["Kalo 1", "Kalo 10", "Mira"])
    text = "Kalo 10 met Mira near Kalo 1 ."
    got = {(m[2]) for m in find_mentions(text, a)}
    # longest match wins at position 0; "Kalo 1" inside "Kalo 10" suppressed
    assert got == {"Kalo 10", "Mira", "Kalo 1"}


def test_token_matcher_equals_aho_corasick_oracle(spark):
    pages, _, world = generate_pages_distributed(spark, 200, n_entities=60, seed=19, partitions=4)
    aliases = sorted({a for forms in world.aliases.values() for a in forms})
    oracle, matcher = AhoCorasick(aliases), TokenDictMatcher(aliases)
    texts = [r["text"] if r["text"] is not None else extract_text_bytes(bytes(r["html"]))
             for r in pages.collect()]
    n_hits = 0
    for text in texts:
        got = matcher.find(text)
        assert got == find_mentions(text, oracle), text
        n_hits += len(got)
    assert n_hits > 1000


def test_extract_text_byte_identical():
    text = "Alpha one is located in Beta two .\nsources differ on minor points ."
    html = html_of_text(text, "t")
    assert extract_text_bytes(html) == text


def test_generator_deterministic(spark):
    """generate_pages_distributed's docstring promises identical output
    over any partitioning: each page comes from (world, seed, index)."""
    out = []
    for partitions in (1, 5):
        pages, expected, world = generate_pages_distributed(
            spark, 20, n_entities=30, seed=7, partitions=partitions)
        assert pages.rdd.getNumPartitions() == partitions
        out.append((sorted(map(tuple, pages.collect())),
                    sorted(map(tuple, expected.collect())), world.facts, world.same_as))
    assert out[0] == out[1]
    assert len(out[0][0]) == 20 and out[0][1]


def test_extract_text_stage(spark):
    pages, _, _ = generate_pages_distributed(spark, 40, n_entities=30, seed=3, partitions=4)
    out = extract_text(pages)
    assert out.filter(F.col("text").isNull()).count() == 0
    assert "html" not in out.columns
    # byte-identical for pages whose text came from html
    originals = {
        r["url"]: extract_text_bytes(bytes(r["html"]))
        for r in pages.collect() if r["html"] is not None
    }
    got = {r["url"]: r["text"] for r in out.collect()}
    for u, t in originals.items():
        assert got[u] == t


def test_mentions_and_linking(spark):
    pages, _, world = generate_pages_distributed(spark, 30, n_entities=25, seed=5, partitions=4)
    text_df = extract_text(pages)
    ad = alias_dictionary_df(spark, world)
    mentions = detect_mentions(text_df, ad)
    assert mentions.count() > 0
    linked = link_entities(mentions, ad)
    # every mention resolves to exactly one entity
    assert linked.count() == mentions.dropDuplicates(["url", "begin", "end"]).count()
    ents = {r["entity"] for r in linked.select("entity").distinct().collect()}
    valid = set(world.aliases.keys())
    assert ents <= valid


def _canonicalize_paths(triples, monkeypatch, **kw) -> tuple:
    """canonicalize of ``triples`` on each path, as (schema, sorted rows):
    the driver path, and the Spark joins. A gate of -1 sends every input
    to the joins (the collect is limit(0), and 0 rows > -1)."""
    from kgtk_spark.pipeline import stages as S

    ran, joins, out = [], S._canonicalize_joins, {}
    for path, limit in (("driver", S.DRIVER_TRIPLE_LIMIT), ("spark", -1)):
        with monkeypatch.context() as m:
            m.setattr(S, "_canonicalize_joins", lambda *a: ran.append(path) or joins(*a))
            m.setattr(S, "DRIVER_TRIPLE_LIMIT", limit)
            df = S.canonicalize(triples, **kw)
            out[path] = (df.schema, sorted(map(tuple, df.collect()), key=repr))
        assert ran == ["spark"] * (path == "spark"), f"{path} took the other path"
    assert out["driver"] == out["spark"]
    return out["driver"]


def test_canonicalize_rewrites_dups(spark, monkeypatch):
    t = spark.createDataFrame(
        [
            ("Q1__dup", "P31", "Q2", "u1"),
            ("Q3", "P31", "Q1__dup", "u1"),
            ("Q1__dup", "sameAs", "Q1", "u1"),
        ],
        ["node1", "label", "node2", "url"],
    ).select("url", "node1", "label", "node2")
    schema, rows = _canonicalize_paths(t, monkeypatch)
    assert schema == t.schema
    assert rows == [("u1", "Q1", "P31", "Q2"), ("u1", "Q3", "P31", "Q1")]


def test_canonicalize_nulls_self_loops_and_extra_columns(spark, monkeypatch):
    # A sameAs chain (zb~zc~za: za is the min), a sameAs self-loop and a
    # sameAs with a null endpoint (both ignored), null labels (dropped),
    # null endpoints on ordinary edges (kept as null) and a url column
    # that rides along unchanged.
    t = spark.createDataFrame(
        [
            ("z", "sameAs", "z", "u0"),
            ("zb", "sameAs", "zc", "u0"),
            ("zc", "sameAs", "za", "u1"),
            ("n", "sameAs", None, "u1"),
            (None, "sameAs", "n", "u1"),
            ("zb", "P31", "zc", "u2"),
            ("zc", None, "zb", "u3"),
            (None, None, None, "u3"),
            (None, "P47", "zb", "u4"),
            ("n", "P47", None, "u4"),
            ("z", "P26", "zc", None),
        ],
        "node1 string, label string, node2 string, url string",
    )
    schema, rows = _canonicalize_paths(t, monkeypatch)
    assert schema == t.schema
    assert rows == sorted([
        ("za", "P31", "za", "u2"),
        (None, "P47", "za", "u4"),
        ("n", "P47", None, "u4"),
        ("z", "P26", "za", None),
    ], key=repr)


def test_canonicalize_large_map_takes_shuffle_path(spark, monkeypatch):
    # REWRITE_BROADCAST_THRESHOLD=0 forces the "sameAs map too big to
    # broadcast" route: the rewrite joins must run WITHOUT a broadcast
    # exchange and produce results identical to the broadcast path and
    # the driver path.
    from kgtk_spark.pipeline import stages as S

    rows = [(f"u{i}", f"Q{i}__dup", "P31", f"Q{(i + 1) % 30}") for i in range(30)]
    rows += [(f"u{i}", f"Q{i}__dup", "sameAs", f"Q{i}") for i in range(30)]
    t = spark.createDataFrame(rows, ["url", "node1", "label", "node2"])
    key = lambda r: (r["url"], r["node1"], r["label"], r["node2"])  # noqa: E731
    on_driver = sorted(map(key, canonicalize(t).collect()))

    # Disable size-based auto-broadcast so the plan shape reflects the
    # explicit hint alone (at web scale the map's stats exceed the
    # threshold anyway; the guard controls the FORCED broadcast). A
    # driver gate of -1 keeps this small input on the Spark joins.
    monkeypatch.setattr(S, "DRIVER_TRIPLE_LIMIT", -1)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with monkeypatch.context() as m:
            m.setattr(S, "REWRITE_BROADCAST_THRESHOLD", 0)
            shuf = canonicalize(t)
        plan = shuf._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan

        bcast = canonicalize(t)  # hint overrides the -1 threshold
        assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()

        assert sorted(map(key, shuf.collect())) == sorted(map(key, bcast.collect())) == on_driver
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _exchanges(df) -> list[str]:
    """Each Exchange of the physical plan, without its plan id."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"Exchange [^\[\n]*", plan)


def test_materialize_ids_and_buckets(spark):
    t = spark.createDataFrame(
        [("u", "Q1", "P31", "Q2"), ("u", "Q1", "P31", "Q2"), ("u2", "Q3", "P50", "Q4")],
        ["url", "node1", "label", "node2"],
    )
    out = materialize(t, n_buckets=4)
    # one shuffle, on node1 alone, and the output stays bucketed on it
    # (plans read before any action: AQE's final plan repeats the initial)
    (ex,) = _exchanges(out)
    assert re.fullmatch(r"Exchange hashpartitioning\(node1#\d+, 4\), REPARTITION_BY_NUM, ", ex), ex
    assert _exchanges(out.groupBy("node1", "label").count()) == [ex]
    rows = out.collect()
    assert len(rows) == 2  # deduped
    ids = {r["id"] for r in rows}
    assert ids == {"Q1-P31-Q2-0000", "Q3-P50-Q4-0000"}


def test_end_to_end_precision_recall(spark, tmp_path):
    pages, expected, world = generate_pages_distributed(
        spark, 150, n_entities=60, seed=11, partitions=4)
    ad = alias_dictionary_df(spark, world)
    edges = run_pipeline(
        spark, pages, ad, str(tmp_path / "kg"), n_buckets=4,
        input_fingerprint="seed11",
    )
    p, r = triple_precision_recall(edges, expected)
    assert p >= 0.95, f"precision {p}"
    assert r >= 0.95, f"recall {r}"
    # KGTK schema + non-null ids
    assert edges.columns == ["node1", "label", "node2", "id"]
    assert edges.filter(F.col("id").isNull() | (F.col("id") == "")).count() == 0


def test_pipeline_resume_skips_committed(spark, tmp_path):
    from kgtk_spark.pipeline.runner import _path

    out_dir = str(tmp_path / "kg2")
    pages, _, world = generate_pages_distributed(
        spark, 40, n_entities=20, seed=13, partitions=4)
    ad = alias_dictionary_df(spark, world)

    def check_lineage(commits):
        # Each commit names the files its stage holds and their rows
        # (north_rule lineage+metrics): the per-file rows sum to the
        # stage's read-back count.
        for m in commits:
            stage = spark.read.parquet(f"{out_dir}/{m['stage']}")
            assert sum(f["rows"] for f in m["files"]) == stage.count(), m["stage"]
            assert {f["file"] for f in m["files"]} == {_path(f) for f in stage.inputFiles()}

    run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13")

    manifest1 = spark.read.parquet(f"{out_dir}/_manifest").collect()
    n1 = len(manifest1)
    assert n1 == 6  # six stages committed
    check_lineage(manifest1)

    # Rerun: everything committed → no new manifest rows.
    run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13")
    assert spark.read.parquet(f"{out_dir}/_manifest").count() == n1

    # Changing the input fingerprint invalidates the whole chain.
    run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="other")
    assert spark.read.parquet(f"{out_dir}/_manifest").count() == n1 + 6
    first = [m["fingerprint"] for m in manifest1]
    check_lineage(spark.read.parquet(f"{out_dir}/_manifest").where(
        ~F.col("fingerprint").isin(first)).collect())


def test_large_dictionary_takes_shuffle_path(spark, monkeypatch):
    # ALIAS_BROADCAST_THRESHOLD=0 forces the "dictionary too big to broadcast"
    # route: distributed candidate-join mention detection + salted
    # linking joins, regex triples + salted joins. Results must be
    # identical to the broadcast path (one fused pass for triples).
    pages, _, world = generate_pages_distributed(
        spark, 40, n_entities=25, seed=21, partitions=4)
    ad = alias_dictionary_df(spark, world)
    # one extra page of edge cases: a doubled space in the subject and
    # in the object slot, a subject that is no alias but ends in one, a
    # sameAs line, a line without the trailing "." and one whose object
    # carries the "." with no space before it
    a, b = world.aliases["Q1"][0], world.aliases["Q2"][0]
    dup, canon = world.same_as[0]
    edge_url = "https://example.org/edge-cases"
    edge_text = "\n".join([
        a.replace(" ", "  ") + f" works for {b} .",
        f"{a} works for " + b.replace(" ", "  ") + " .",
        f"Nobody {a} works for {b} .",
        f"{world.aliases[dup][0]} is also known as {world.aliases[canon][0]} .",
        f"{b} is located in {a}",
        f"{a} works for {b}.",
    ])
    edge_page = spark.createDataFrame([(edge_url, edge_text)], "url string, text string")
    text_df = extract_text(pages).select("url", "text").unionByName(edge_page).localCheckpoint()

    from kgtk_spark.pipeline import stages as S

    def distributed(stage, *args):
        """``stage(*args)`` with every dictionary over the broadcast gate."""
        with monkeypatch.context() as m:
            m.setattr(S, "ALIAS_BROADCAST_THRESHOLD", 0)
            return stage(*args)

    m_bcast = detect_mentions(text_df, ad)
    m_dist = distributed(detect_mentions, text_df, ad)
    # the shuffle path is really taken: the salted join's salt column
    # appears in the analyzed plan, and no python-side automaton scan
    plan = m_dist._jdf.queryExecution().analyzed().toString()
    assert "__salt__" in plan

    key = lambda r: (r["url"], r["begin"], r["end"], r["surface"])  # noqa: E731
    assert sorted(map(key, m_bcast.collect())) == sorted(map(key, m_dist.collect()))

    l_bcast = link_entities(m_bcast, ad)
    l_dist = distributed(link_entities, m_bcast, ad)
    assert "__salt__" in l_dist._jdf.queryExecution().analyzed().toString()
    lkey = lambda r: (r["url"], r["begin"], r["end"], r["entity"])  # noqa: E731
    assert sorted(map(lkey, l_bcast.collect())) == sorted(map(lkey, l_dist.collect()))

    t_bcast = extract_triples(text_df, ad)
    t_dist = distributed(extract_triples, text_df, ad)
    tkey = lambda r: (r["url"], r["node1"], r["label"], r["node2"])  # noqa: E731
    assert sorted(map(tkey, t_bcast.collect())) == sorted(map(tkey, t_dist.collect()))
    edge_rows = t_bcast.filter(F.col("url") == edge_url).collect()
    assert {(r["node1"], r["label"], r["node2"]) for r in edge_rows} == {
        (dup, "sameAs", canon), ("Q2", "P131", "Q1"), ("Q1", "P108", "Q2"),
    }
    # raw pages (html not yet extracted) give the same triples on both paths
    page_rows = sorted(k for k in map(tkey, t_bcast.collect()) if k[0] != edge_url)
    for raw in (extract_triples(pages, ad), distributed(extract_triples, pages, ad)):
        assert sorted(map(tkey, raw.collect())) == page_rows


def test_driver_best_sense_matches_best_alias_map(spark):
    # The broadcast path's driver-side argmax (one Arrow collect) must give
    # best_alias_map's rows, min_by(entity, struct(-prior, entity)), on the
    # cases where Spark's order is easy to get wrong.
    import pyarrow as pa

    nan = float("nan")
    rows = [
        ("tie", "Q2", 0.5), ("tie", "Q1", 0.5), ("tie", "Q3", 0.4),
        ("null prior", "Q5", 0.9), ("null prior", "Q6", None),
        ("nan prior", "Q7", nan), ("nan prior", "Q8", 0.1),
        ("all nan", "Q9", nan), ("all nan", "Q1", nan),
        ("null entity", "Q1", 0.7), ("null entity", None, 0.7),
        ("signed zero", "Q2", 0.0), ("signed zero", "Q1", -0.0),
        ("dup", "Q2", 0.3), ("dup", "Q2", 0.3), ("dup", "Q1", 0.2),
        ("Zürich", "Q11", 1.0), ("Zürich", "Q10", 1.0),
        ("東京", "Q12", 0.2), ("東京", "Q13", 0.8),
        (None, "Q14", 1.0),
    ]
    ad = spark.createDataFrame(pa.table({
        "alias": pa.array([r[0] for r in rows], pa.string()),
        "entity": pa.array([r[1] for r in rows], pa.string()),
        "prior": pa.array([r[2] for r in rows], pa.float64()),
    }))
    want = {r["surface"]: r["entity"] for r in best_alias_map(ad).collect()}
    assert None in want  # the Spark map keeps the null surface; the dict drops it
    del want[None]
    assert _best_sense(ad) == want
    # Spark's order, pinned: the min entity on a tie, a null prior (and a
    # null entity) first, NaN above every number
    assert (want["tie"], want["null prior"], want["nan prior"], want["all nan"]) == (
        "Q1", "Q6", "Q8", "Q1")
    assert want["null entity"] is None
    assert (want["dup"], want["Zürich"], want["東京"]) == ("Q2", "Q10", "Q13")


def test_pipeline_catalog_table_sink_and_resume(spark, tmp_path):
    # table mode: every stage lands as a catalog table (session catalog
    # in-container; Iceberg writeTo when a catalog is configured) with
    # resume-from-committed-snapshot semantics matching the parquet path
    out_dir = str(tmp_path / "kgt")
    pages, _, world = generate_pages_distributed(
        spark, 40, n_entities=20, seed=17, partitions=4)
    ad = alias_dictionary_df(spark, world)

    edges = run_pipeline(
        spark, pages, ad, out_dir, n_buckets=2,
        input_fingerprint="s17", table_namespace="default",
    )
    assert edges.count() > 0
    for stage in ["text", "mentions", "linked", "triples", "canonical", "edges"]:
        assert spark.catalog.tableExists(f"default.{stage}"), stage

    n1 = spark.read.parquet(f"{out_dir}/_manifest").count()
    assert n1 == 6

    # rerun resumes from the committed tables: no new manifest rows
    run_pipeline(
        spark, pages, ad, out_dir, n_buckets=2,
        input_fingerprint="s17", table_namespace="default",
    )
    assert spark.read.parquet(f"{out_dir}/_manifest").count() == n1

    # identical result to the parquet-directory sink
    edges_parquet = run_pipeline(
        spark, pages, ad, str(tmp_path / "kgp"), n_buckets=2,
        input_fingerprint="s17",
    )
    key = lambda r: (r["node1"], r["label"], r["node2"])  # noqa: E731
    assert sorted(map(key, spark.table("default.edges").collect())) == sorted(
        map(key, edges_parquet.collect())
    )

    # dropping a stage table invalidates just that resume check
    spark.sql("DROP TABLE default.edges")
    run_pipeline(
        spark, pages, ad, out_dir, n_buckets=2,
        input_fingerprint="s17", table_namespace="default",
    )
    assert spark.catalog.tableExists("default.edges")
    assert spark.read.parquet(f"{out_dir}/_manifest").count() == n1 + 1

    for stage in ["text", "mentions", "linked", "triples", "canonical", "edges"]:
        spark.sql(f"DROP TABLE IF EXISTS default.{stage}")


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _jobs_started(spark, group, action):
    """(result of ``action``, number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "count the jobs a call starts")
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fused_pipeline_matches_staged(spark, tmp_path, monkeypatch):
    from kgtk_spark.pipeline import stages as S

    pages, expected, world = generate_pages_distributed(
        spark, 150, n_entities=60, seed=11, partitions=4)
    ad = alias_dictionary_df(spark, world)
    staged = run_pipeline(
        spark, pages, ad, str(tmp_path / "kg"), n_buckets=4, input_fingerprint="seed11",
    )
    # record the memory sink's Python pass: it carries no url and emits
    # each batch's distinct triples; extract_triples called alone still
    # returns the url
    passes = []
    extract = S.extract_triples

    def recording(*args, **kwargs):
        passes.append(extract(*args, **kwargs))
        return passes[-1]

    monkeypatch.setattr(S, "extract_triples", recording)
    before = _persistent_rdd_ids(spark)
    fused = run_pipeline_fused(spark, pages, ad, n_buckets=4)
    monkeypatch.undo()
    got = sorted(map(tuple, fused.collect()))
    # canonicalize resolves on the driver and releases its checkpoint
    assert _persistent_rdd_ids(spark) - before == set()
    assert fused.columns == ["node1", "label", "node2", "id"]
    assert got == sorted(map(tuple, staged.collect()))
    assert triple_precision_recall(fused, expected) == (1.0, 1.0)
    (memory_pass,) = passes
    assert memory_pass.columns == ["node1", "label", "node2"]
    with_url = extract_triples(pages, ad)
    assert with_url.columns == ["url", "node1", "label", "node2"]
    assert memory_pass.count() < with_url.count()
    assert sorted(map(tuple, memory_pass.distinct().collect())) == sorted(
        map(tuple, with_url.select("node1", "label", "node2").distinct().collect()))

    # The memory sink with the dictionary size given runs 6 jobs on this
    # input: the best-sense map's Arrow collect, the Python pass with the
    # dedup shuffle, canonicalize's checkpoint and bounded collect, and
    # materialize. A provenance stage would add more (mention detection
    # collects the dictionary when it is called). Nothing stays persisted.
    n_aliases = ad.count()
    before = _persistent_rdd_ids(spark)
    rows, jobs = _jobs_started(spark, "memory-sink-jobs", lambda: run_pipeline_fused(
        spark, pages, ad, n_buckets=4, alias_count=n_aliases).collect())
    assert jobs <= 6, jobs
    assert _persistent_rdd_ids(spark) - before == set()
    assert sorted(map(tuple, rows)) == got


def test_pipeline_resume_covers_the_dictionary(spark, tmp_path):
    # The same input fingerprint with a smaller dictionary: the rerun on
    # the first run's out_dir must give what a fresh run gives, not resume.
    pages, _, world = generate_pages_distributed(
        spark, 150, n_entities=60, seed=11, partitions=4)
    ad = alias_dictionary_df(spark, world)
    small = ad.where(F.xxhash64("entity") % 2 == 0)  # about half the entities
    out_dir = str(tmp_path / "kg")
    edges = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    full = edges(run_pipeline(spark, pages, ad, out_dir, n_buckets=4, input_fingerprint="s11"))
    rerun = edges(run_pipeline(spark, pages, small, out_dir, n_buckets=4, input_fingerprint="s11"))
    fresh = edges(run_pipeline(
        spark, pages, small, str(tmp_path / "fresh"), n_buckets=4, input_fingerprint="s11"))
    assert 0 < len(fresh) < len(full)
    assert rerun == fresh
    # text never reads the dictionary, so it resumes; the rest recommit
    stages = [r["stage"] for r in spark.read.parquet(f"{out_dir}/_manifest").collect()]
    assert {s: stages.count(s) for s in set(stages)} == {
        "text": 1, "mentions": 2, "linked": 2, "triples": 2, "canonical": 2, "edges": 2,
    }


def test_staged_run_releases_the_dedup_checkpoint(spark, tmp_path):
    # canonicalize releases its checkpoint of the distinct triples when it
    # resolves the KG on the driver, so no stage leaves a persisted RDD.
    pages, _, world = generate_pages_distributed(
        spark, 40, n_entities=20, seed=13, partitions=4)
    ad = alias_dictionary_df(spark, world)
    before = _persistent_rdd_ids(spark)
    edges = run_pipeline(spark, pages, ad, str(tmp_path / "kg"), n_buckets=2,
                         input_fingerprint="s13")
    assert edges.count() > 0
    assert _persistent_rdd_ids(spark) - before == set()


def test_pipeline_resume_recomputes_after_crashed_write(spark, tmp_path, monkeypatch):
    from kgtk_spark.pipeline import stages as S

    out_dir = str(tmp_path / "kg")
    pages, _, world = generate_pages_distributed(
        spark, 40, n_entities=20, seed=13, partitions=4)
    ad = alias_dictionary_df(spark, world)
    edges = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    manifest = lambda: spark.read.parquet(f"{out_dir}/_manifest")  # noqa: E731
    want = edges(run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13"))

    # A run on a new input dies inside canonical's write job, after the
    # overwrite of canonical's committed output has begun.
    canonicalize = S.canonicalize

    def crash(node1):
        raise RuntimeError("injected crash")

    def crashing(triples, **kw):
        # a Python UDF: the optimizer cannot evaluate it over canonicalize's
        # local relation while planning, so it fires inside the write job
        return canonicalize(triples, **kw).where(F.udf(crash, "boolean")("node1"))

    monkeypatch.setattr(S, "canonicalize", crashing)
    with pytest.raises(Exception, match="injected crash"):
        run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s14")
    monkeypatch.undo()
    assert manifest().count() == 6 + 4  # text, mentions, linked, triples

    # canonical's latest commit is still s13's, but its output is not what
    # that commit wrote: recompute it. edges is untouched and resumes.
    assert edges(run_pipeline(
        spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13")) == want
    stages = [r["stage"] for r in manifest().collect()]
    assert len(stages) == 6 + 4 + 5
    assert stages.count("canonical") == 2 and stages.count("edges") == 1


def test_manifest_committed_takes_latest_commit(spark, tmp_path):
    import pyarrow as pa

    from kgtk_spark.pipeline.runner import COMMIT_SCHEMA, StageManifest

    # Fingerprints A,B,A,B,A committed in that order: A is the latest,
    # and the files come from that same commit.
    commits = [
        {"stage": "text", "fingerprint": fp, "committed_at": float(t), "duration_sec": 0.0,
         "files": [{"file": f"/{fp}{t}", "rows": 1}]}
        for t, fp in enumerate("ABABA")
    ]
    frame = lambda rows: spark.createDataFrame(  # noqa: E731
        pa.Table.from_pylist(rows, schema=COMMIT_SCHEMA))
    m = StageManifest(spark, str(tmp_path / "appended"))
    for row in commits:  # one append per commit, as commit() does
        frame([row]).write.mode("append").parquet(m.path)
    assert m.committed_files() == {"text": ("A", {"/A4"})}
    # The same rows compacted into one file in fingerprint order, so a
    # reader that takes the last row seen gets B.
    m = StageManifest(spark, str(tmp_path / "compacted"))
    frame(sorted(commits, key=lambda r: r["fingerprint"])).coalesce(1).write.parquet(m.path)
    assert m.committed_files() == {"text": ("A", {"/A4"})}


def test_pipeline_resume_covers_the_code_version(spark, tmp_path, monkeypatch):
    # An edit to the package source changes the digest the chain starts
    # from: every stage recommits, and the same digest resumes.
    from kgtk_spark.pipeline import runner

    out_dir = str(tmp_path / "kg")
    pages, _, world = generate_pages_distributed(
        spark, 40, n_entities=20, seed=13, partitions=4)
    ad = alias_dictionary_df(spark, world)
    manifest = lambda: spark.read.parquet(f"{out_dir}/_manifest").count()  # noqa: E731
    edges = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    want = edges(run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13"))
    assert manifest() == 6
    monkeypatch.setattr(runner, "_code_version", lambda: "edited")
    for _ in range(2):
        got = edges(run_pipeline(
            spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13"))
        assert got == want
        assert manifest() == 12


def test_pipeline_resume_reads_a_commit_table_without_files(spark, tmp_path):
    # A commit table from before the files column: its rows carry the
    # current fingerprints but name no files, so the rerun recomputes
    # every stage without error, and the run after it resumes.
    import shutil

    out_dir = str(tmp_path / "kg")
    pages, _, world = generate_pages_distributed(
        spark, 40, n_entities=20, seed=13, partitions=4)
    ad = alias_dictionary_df(spark, world)
    manifest = lambda: spark.read.parquet(f"{out_dir}/_manifest")  # noqa: E731
    edges = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    want = edges(run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13"))
    old = [
        (r["stage"], r["fingerprint"], sum(f["rows"] for f in r["files"]), len(r["files"]),
         r["duration_sec"], "committed", r["committed_at"])
        for r in manifest().collect()
    ]
    shutil.rmtree(f"{out_dir}/_manifest")
    spark.createDataFrame(old, (
        "stage string, fingerprint string, rows long, partitions int, "
        "duration_sec double, status string, committed_at double"
    )).coalesce(1).write.parquet(f"{out_dir}/_manifest")
    assert edges(run_pipeline(
        spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13")) == want
    assert manifest().count() == 12
    assert edges(run_pipeline(
        spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13")) == want
    assert manifest().count() == 12
