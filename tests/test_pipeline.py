"""KG-construction pipeline tests: per-stage behavior, the end-to-end
triple P/R ≥ 0.95 gate (BASELINE.md), byte-identical text extraction,
and resume-from-manifest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgtk_spark.pipeline import (
    alias_dictionary_df,
    canonicalize,
    detect_mentions,
    expected_edges_df,
    extract_text,
    extract_triples,
    generate_pages_df,
    link_entities,
    materialize,
    run_pipeline,
    triple_precision_recall,
)
from kgtk_spark.pipeline.matcher import TokenDictMatcher
from kgtk_spark.pipeline.runner import run_pipeline_fused
from kgtk_spark.pipeline.stages import ALIAS_BROADCAST_THRESHOLD, extract_text_bytes
from kgtk_spark.pipeline.webgen import generate_page_rows, html_of_text


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


def test_token_matcher_equals_aho_corasick_oracle():
    rows, world = generate_page_rows(n_pages=200, n_entities=60, seed=19)
    aliases = sorted({a for forms in world.aliases.values() for a in forms})
    oracle, matcher = AhoCorasick(aliases), TokenDictMatcher(aliases)
    texts = [t if t is not None else extract_text_bytes(h) for _, _, h, t, _ in rows]
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
    r1, w1 = generate_page_rows(n_pages=20, n_entities=30, seed=7)
    r2, w2 = generate_page_rows(n_pages=20, n_entities=30, seed=7)
    assert r1 == r2
    assert w1.facts == w2.facts and w1.same_as == w2.same_as


def test_extract_text_stage(spark):
    pages, _ = generate_pages_df(spark, n_pages=40, n_entities=30, seed=3)
    out = extract_text(pages)
    assert out.filter(F.col("text").isNull()).count() == 0
    assert "html" not in out.columns
    # byte-identical for pages whose text came from html
    rows, _ = generate_page_rows(n_pages=40, n_entities=30, seed=3)
    originals = {
        u: extract_text_bytes(h) for (u, _, h, t, _) in rows if h is not None
    }
    got = {r["url"]: r["text"] for r in out.collect()}
    for u, t in originals.items():
        assert got[u] == t


def test_mentions_and_linking(spark):
    pages, world = generate_pages_df(spark, n_pages=30, n_entities=25, seed=5)
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


def test_canonicalize_rewrites_dups(spark):
    t = spark.createDataFrame(
        [
            ("Q1__dup", "P31", "Q2", "u1"),
            ("Q3", "P31", "Q1__dup", "u1"),
            ("Q1__dup", "sameAs", "Q1", "u1"),
        ],
        ["node1", "label", "node2", "url"],
    ).select("url", "node1", "label", "node2")
    out = canonicalize(t).collect()
    got = {(r["node1"], r["label"], r["node2"]) for r in out}
    assert got == {("Q1", "P31", "Q2"), ("Q3", "P31", "Q1")}


def test_canonicalize_large_map_takes_shuffle_path(spark):
    # broadcast_threshold=0 forces the "sameAs map too big to broadcast"
    # route: the rewrite joins must run WITHOUT a broadcast exchange and
    # produce results identical to the broadcast path.
    rows = [(f"u{i}", f"Q{i}__dup", "P31", f"Q{(i + 1) % 30}") for i in range(30)]
    rows += [(f"u{i}", f"Q{i}__dup", "sameAs", f"Q{i}") for i in range(30)]
    t = spark.createDataFrame(rows, ["url", "node1", "label", "node2"])

    # Disable size-based auto-broadcast so the plan shape reflects the
    # explicit hint alone (at web scale the map's stats exceed the
    # threshold anyway; the guard controls the FORCED broadcast).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuf = canonicalize(t, broadcast_threshold=0)
        plan = shuf._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan

        bcast = canonicalize(t)  # hint overrides the -1 threshold
        assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()

        key = lambda r: (r["url"], r["node1"], r["label"], r["node2"])  # noqa: E731
        assert sorted(map(key, shuf.collect())) == sorted(map(key, bcast.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_materialize_ids_and_buckets(spark):
    t = spark.createDataFrame(
        [("u", "Q1", "P31", "Q2"), ("u", "Q1", "P31", "Q2"), ("u2", "Q3", "P50", "Q4")],
        ["url", "node1", "label", "node2"],
    )
    out = materialize(t, n_buckets=4)
    rows = out.collect()
    assert len(rows) == 2  # deduped
    ids = {r["id"] for r in rows}
    assert ids == {"Q1-P31-Q2-0000", "Q3-P50-Q4-0000"}


def test_end_to_end_precision_recall(spark, tmp_path):
    pages, world = generate_pages_df(spark, n_pages=150, n_entities=60, seed=11)
    ad = alias_dictionary_df(spark, world)
    edges = run_pipeline(
        spark, pages, ad, str(tmp_path / "kg"), n_buckets=4,
        input_fingerprint="seed11",
    )
    expected = expected_edges_df(spark, world)
    p, r = triple_precision_recall(edges, expected)
    assert p >= 0.95, f"precision {p}"
    assert r >= 0.95, f"recall {r}"
    # KGTK schema + non-null ids
    assert edges.columns == ["node1", "label", "node2", "id"]
    assert edges.filter(F.col("id").isNull() | (F.col("id") == "")).count() == 0


def test_pipeline_resume_skips_committed(spark, tmp_path):
    out_dir = str(tmp_path / "kg2")
    pages, world = generate_pages_df(spark, n_pages=40, n_entities=20, seed=13)
    ad = alias_dictionary_df(spark, world)
    run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13")

    manifest1 = spark.read.parquet(f"{out_dir}/_manifest")
    n1 = manifest1.count()
    assert n1 == 6  # six stages committed

    # Rerun: everything committed → no new manifest rows.
    run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13")
    assert spark.read.parquet(f"{out_dir}/_manifest").count() == n1

    # Changing the input fingerprint invalidates the whole chain.
    run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="other")
    assert spark.read.parquet(f"{out_dir}/_manifest").count() == n1 + 6

    # Per-partition lineage: one row per written parquet part, per-stage
    # sums equal the manifest row counts (north_rule lineage+metrics).
    lineage = spark.read.parquet(f"{out_dir}/_manifest_lineage")
    from pyspark.sql import functions as F

    sums = {
        (r["stage"], r["fingerprint"]): r["total"]
        for r in lineage.groupBy("stage", "fingerprint")
        .agg(F.sum("rows").alias("total"))
        .collect()
    }
    for m in spark.read.parquet(f"{out_dir}/_manifest").collect():
        assert sums[(m["stage"], m["fingerprint"])] == m["rows"]


def test_large_dictionary_takes_shuffle_path(spark):
    # broadcast_threshold=0 forces the "dictionary too big to broadcast"
    # route: distributed candidate-join mention detection + salted
    # linking joins, regex triples + salted joins. Results must be
    # identical to the broadcast path (one fused pass for triples).
    pages, world = generate_pages_df(spark, n_pages=40, n_entities=25, seed=21)
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

    m_bcast = detect_mentions(text_df, ad)
    m_dist = detect_mentions(text_df, ad, broadcast_threshold=0)
    # the shuffle path is really taken: the salted join's salt column
    # appears in the analyzed plan, and no python-side automaton scan
    plan = m_dist._jdf.queryExecution().analyzed().toString()
    assert "__salt__" in plan

    key = lambda r: (r["url"], r["begin"], r["end"], r["surface"])  # noqa: E731
    assert sorted(map(key, m_bcast.collect())) == sorted(map(key, m_dist.collect()))

    l_bcast = link_entities(m_bcast, ad)
    l_dist = link_entities(m_bcast, ad, broadcast_threshold=0)
    assert "__salt__" in l_dist._jdf.queryExecution().analyzed().toString()
    lkey = lambda r: (r["url"], r["begin"], r["end"], r["entity"])  # noqa: E731
    assert sorted(map(lkey, l_bcast.collect())) == sorted(map(lkey, l_dist.collect()))

    t_bcast = extract_triples(text_df, ad)
    t_dist = extract_triples(text_df, ad, broadcast_threshold=0)
    tkey = lambda r: (r["url"], r["node1"], r["label"], r["node2"])  # noqa: E731
    assert sorted(map(tkey, t_bcast.collect())) == sorted(map(tkey, t_dist.collect()))
    edge_rows = t_bcast.filter(F.col("url") == edge_url).collect()
    assert {(r["node1"], r["label"], r["node2"]) for r in edge_rows} == {
        (dup, "sameAs", canon), ("Q2", "P131", "Q1"), ("Q1", "P108", "Q2"),
    }
    # raw pages (html not yet extracted) give the same triples on both paths
    page_rows = sorted(k for k in map(tkey, t_bcast.collect()) if k[0] != edge_url)
    for threshold in (ALIAS_BROADCAST_THRESHOLD, 0):
        raw = extract_triples(pages, ad, broadcast_threshold=threshold)
        assert sorted(map(tkey, raw.collect())) == page_rows


def test_pipeline_catalog_table_sink_and_resume(spark, tmp_path):
    # table mode: every stage lands as a catalog table (session catalog
    # in-container; Iceberg writeTo when a catalog is configured) with
    # resume-from-committed-snapshot semantics matching the parquet path
    out_dir = str(tmp_path / "kgt")
    pages, world = generate_pages_df(spark, n_pages=40, n_entities=20, seed=17)
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


def test_fused_pipeline_matches_staged(spark, tmp_path):
    pages, world = generate_pages_df(spark, n_pages=150, n_entities=60, seed=11)
    ad = alias_dictionary_df(spark, world)
    staged = run_pipeline(
        spark, pages, ad, str(tmp_path / "kg"), n_buckets=4, input_fingerprint="seed11",
    )
    before = _persistent_rdd_ids(spark)
    fused = run_pipeline_fused(spark, pages, ad, n_buckets=4)
    got = sorted(map(tuple, fused.collect()))
    # only the dedup checkpoint and the components_auto pairs stay
    assert len(_persistent_rdd_ids(spark) - before) <= 2
    assert fused.columns == ["node1", "label", "node2", "id"]
    assert got == sorted(map(tuple, staged.collect()))
    assert triple_precision_recall(fused, expected_edges_df(spark, world)) == (1.0, 1.0)

    # The memory sink with the dictionary size given runs 11 jobs on this
    # input; a provenance stage would add more (mention detection collects
    # the dictionary when it is called). Only the dedup checkpoint stays.
    n_aliases = ad.count()
    before = _persistent_rdd_ids(spark)
    rows, jobs = _jobs_started(spark, "memory-sink-jobs", lambda: run_pipeline_fused(
        spark, pages, ad, n_buckets=4, alias_count=n_aliases).collect())
    assert jobs <= 11, jobs
    assert len(_persistent_rdd_ids(spark) - before) <= 1
    assert sorted(map(tuple, rows)) == got


def test_pipeline_resume_covers_the_dictionary(spark, tmp_path):
    # The same input fingerprint with a smaller dictionary: the rerun on
    # the first run's out_dir must give what a fresh run gives, not resume.
    pages, world = generate_pages_df(spark, n_pages=150, n_entities=60, seed=11)
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
    # The writing sinks read canonical back from the sink, so once it is
    # committed nothing reads the dedup checkpoint any more.
    pages, world = generate_pages_df(spark, n_pages=40, n_entities=20, seed=13)
    ad = alias_dictionary_df(spark, world)
    before = _persistent_rdd_ids(spark)
    edges = run_pipeline(spark, pages, ad, str(tmp_path / "kg"), n_buckets=2,
                         input_fingerprint="s13")
    assert edges.count() > 0
    assert _persistent_rdd_ids(spark) - before == set()


def test_pipeline_resume_recomputes_after_crashed_write(spark, tmp_path, monkeypatch):
    from kgtk_spark.pipeline import stages as S

    out_dir = str(tmp_path / "kg")
    pages, world = generate_pages_df(spark, n_pages=40, n_entities=20, seed=13)
    ad = alias_dictionary_df(spark, world)
    edges = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    manifest = lambda: spark.read.parquet(f"{out_dir}/_manifest")  # noqa: E731
    want = edges(run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13"))

    # A run on a new input dies inside canonical's write job, after the
    # overwrite of canonical's committed output has begun.
    canonicalize = S.canonicalize

    def crashing(triples, **kw):
        out = canonicalize(triples, **kw)
        return out.where(F.assert_true(F.col("node1").isNull(), "injected crash").isNull())

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
    from kgtk_spark.pipeline.runner import MANIFEST_SCHEMA, StageManifest

    # Fingerprints A,B,A,B,A committed in that order: A is the latest.
    commits = [("text", fp, 1, 1, 0.0, "committed", float(t))
               for t, fp in enumerate("ABABA")]
    out = str(tmp_path / "appended")
    m = StageManifest(spark, out)
    for row in commits:  # one append per commit, as record() does
        spark.createDataFrame([row], MANIFEST_SCHEMA).write.mode("append").parquet(m.path)
    assert m.committed() == {"text": "A"}
    # The same rows compacted into one file in fingerprint order, so a
    # reader that takes the last row seen gets B.
    out = str(tmp_path / "compacted")
    m = StageManifest(spark, out)
    spark.createDataFrame(sorted(commits, key=lambda r: r[1]), MANIFEST_SCHEMA).coalesce(
        1).write.parquet(m.path)
    assert m.committed() == {"text": "A"}
