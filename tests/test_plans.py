"""Physical-plan quality gates — the 100 TB checklist as assertions.

These parse .explain("formatted") output: filters must reach the parquet
scan (PushedFilters), column pruning must shrink ReadSchema, small maps
must broadcast, and operator hot paths must stay inside WholeStageCodegen
with no row-at-a-time Python.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgtk_spark.operators import kgtk_filter, kgtk_lift, if_exists
from tests.conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def parquet_edges(spark, tmp_path_factory):
    """An edge file persisted as parquet so pushdown is observable."""
    path = str(tmp_path_factory.mktemp("edges") / "edges.parquet")
    spark.createDataFrame(
        [(f"Q{i}", "P31" if i % 3 else "P279", f"Q{i*7%50}", "") for i in range(1000)],
        ["node1", "label", "node2", "id"],
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_filter_pushdown_to_scan(parquet_edges):
    plan = plan_of(kgtk_filter(parquet_edges, ";P31;"))
    assert "PushedFilters: [IsNotNull(label), EqualTo(label,P31)" in plan or \
           "PushedFilters: [IsNotNull(label), EqualTo(label, P31)" in plan, plan


def test_column_pruning(parquet_edges):
    # projecting two columns must not read all four
    plan = plan_of(kgtk_filter(parquet_edges, ";P31;").select("node1", "node2"))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "id" not in read[0], read


def test_lift_broadcasts_label_map(spark, parquet_edges):
    labels = spark.createDataFrame(
        [(f"Q{i}", "label", f'"name{i}"') for i in range(50)],
        ["node1", "label", "node2"],
    )
    plan = plan_of(kgtk_lift(parquet_edges, labels, columns_to_lift=["node1"]))
    assert "BroadcastHashJoin" in plan, plan


def test_ifexists_no_python_in_plan(spark, parquet_edges):
    keys = spark.createDataFrame([("Q1",), ("Q2",)], ["node1"])
    plan = plan_of(if_exists(parquet_edges, keys, ["node1"], ["node1"]))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "LeftSemi" in plan  # semi-join, not a row-expanding join


def test_linking_is_broadcast_and_shuffle_free(spark):
    from kgtk_spark.pipeline.stages import link_entities

    mentions = spark.createDataFrame(
        [("u", 0, 3, "foo")], ["url", "begin", "end", "surface"]
    )
    ad = spark.createDataFrame(
        [("foo", "Q1", 1.0)], ["alias", "entity", "prior"]
    )
    plan = plan_of(link_entities(mentions, ad))
    assert "BroadcastHashJoin" in plan, plan
    # the mention stream itself must not shuffle (only the tiny dict agg may)
    stream_section = plan.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning(url" not in plan, plan


def test_conceptnet_import_no_python_in_plan(spark, parquet_edges):
    from kgtk_spark.sources import import_conceptnet

    raw = spark.createDataFrame(
        [("a", "/r/IsA", "/c/en/cat", "/c/en/animal", "{}")],
        "assertion string, rel string, subj string, obj string, metadata string",
    )
    plan = plan_of(import_conceptnet(raw))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_wordnet_import_broadcasts_label_map(spark):
    from kgtk_spark.sources import import_wordnet

    syn = spark.createDataFrame(
        [("a.n.01", ["a"], ["b.n.01"], [], [], []), ("b.n.01", ["b"], [], [], [], [])],
        "name string, lemmas array<string>, hypernyms array<string>, "
        "member_holonyms array<string>, part_holonyms array<string>, "
        "substance_meronyms array<string>",
    )
    plan = plan_of(import_wordnet(syn))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_wikidata_rdf_no_python_and_broadcast_props(spark):
    from kgtk_spark.sources import generate_wikidata_triples

    edges = spark.createDataFrame(
        [("Q1", "P31", "Q2", "Q1-P31-1")],
        "node1 string, label string, node2 string, id string",
    )
    props = spark.createDataFrame([("P31", "item")], "node1 string, node2 string")
    plan = plan_of(generate_wikidata_triples(edges, props))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_repetition_signals_scan_prunes_columns(spark, tmp_path_factory):
    from kgtk_spark.textops.quality import repetition_signals

    path = str(tmp_path_factory.mktemp("docs") / "d.parquet")
    spark.createDataFrame(
        [(1, "a b a b", "en", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(path)
    plan = plan_of(repetition_signals(spark.read.parquet(path)))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    # only doc_id + text are read, not lang/source/n_chars
    assert read and "lang" not in read[0] and "n_chars" not in read[0], read


def test_range_join_is_equi_join_no_python(spark):
    from kgtk_spark.textops.olap import range_join

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00")], "user_id long, ts_s string"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-02 00:00:00")],
        "user_id long, s string, e string",
    ).select("user_id", F.to_timestamp("s").alias("st"), F.to_timestamp("e").alias("en"))
    plan = plan_of(range_join(ev, iv, "ts", "st", "en", on=["user_id"]))
    # the bucket trick must yield an equi-join, not a nested-loop range join
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_kmv_sketch_no_python_in_plan(spark):
    from kgtk_spark.textops.sketches import kmv_distinct

    df = spark.createDataFrame([("a", "u1")], "grp string, uid string")
    plan = plan_of(kmv_distinct(df, ["grp"], "uid", k=8))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "WindowGroupLimit" in plan or "Window" in plan, plan


def test_lsh_candidates_share_one_exchange(spark):
    """The banding self-join and its bucket-size window must reuse ONE
    hash exchange on (band, bucket) — a groupBy+semi-join formulation
    would shuffle three times. Pin it so edits don't regress the
    shuffle count (dedup.py _lsh_candidates)."""
    from kgtk_spark.textops.dedup import _lsh_candidates, _shingles_and_sigs

    docs = spark.createDataFrame(
        [(f"d{i}", f"common text block {i % 4} repeated tokens") for i in range(40)],
        ["doc_id", "text"],
    )
    sigs = _shingles_and_sigs(docs, "text", "doc_id", 16, 3).select("doc_id", "sig")
    pairs, _residue = _lsh_candidates(
        sigs, "doc_id", bands=4, rows_per_band=4, bucket_cap=50
    )
    # exchange reuse is an AQE runtime decision — execute, then inspect
    # the FINAL adaptive plan
    pairs.collect()
    ep = pairs._jdf.queryExecution().executedPlan().toString()
    final = ep.split("== Initial Plan ==")[0]
    banding_exchanges = [
        line
        for line in final.splitlines()
        if "Exchange hashpartitioning(band" in line and "Reused" not in line
    ]
    assert len(banding_exchanges) == 1, (
        f"banding must shuffle exactly once, saw "
        f"{len(banding_exchanges)}:\n{final}"
    )
    # the second join side consumes the SAME shuffle (ReusedExchange),
    # or AQE replaced it by a broadcast built over the reused stage
    assert "ReusedExchange" in final, final


def test_url_dedup_single_exchange_and_pruning(spark, tmp_path_factory):
    from kgtk_spark.textops.dedup import url_dedup

    path = str(tmp_path_factory.mktemp("docs") / "d.parquet")
    spark.createDataFrame(
        [(i, f"https://ex.com/p/{i % 5}?utm_source=x", "body", 4) for i in range(50)],
        ["doc_id", "url", "text", "n_chars"],
    ).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    plan = plan_of(url_dedup(docs, "url", "doc_id"))
    # one shuffle total (the canonical-url aggregation); formatted
    # explain lists each node in the tree AND a detail block, so count
    # detail headers
    import re

    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    # …with map-side partial aggregation before it
    assert "partial_min" in plan and "partial_count" in plan, plan
    # column pruning: text/n_chars never read
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "text" not in read[0] and "n_chars" not in read[0], read
    # no Python in the plan — the regex chain is pure Catalyst
    assert "Python" not in plan, plan


def test_stable_sample_no_shuffle_one_codegen(spark, tmp_path_factory):
    from kgtk_spark.textops.sketches import stable_sample

    path = str(tmp_path_factory.mktemp("docs2") / "d.parquet")
    spark.createDataFrame(
        [(i, "t") for i in range(100)], ["doc_id", "text"]
    ).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    plan = plan_of(stable_sample(docs, "doc_id", 0.2))
    assert "Exchange" not in plan, plan        # embarrassingly parallel
    assert "[codegen id : 1]" in plan, plan    # single codegen'd filter
    assert "Python" not in plan, plan


def test_decontaminate_no_gram_strings_shuffled(spark):
    from kgtk_spark.textops.dedup import decontaminate

    docs = spark.createDataFrame(
        [(i, "tok " * 20) for i in range(30)], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([("tok " * 20,)], ["text"])
    plan = plan_of(decontaminate(docs, bench, n=8))
    # the semi-join key is the 64-bit gram hash, not a string gram:
    # no concat/array_join of token slices anywhere in the plan
    assert "array_join" not in plan and "slice(" not in plan, plan
    # benchmark gram set broadcasts (small side)
    assert "BroadcastHashJoin" in plan, plan
