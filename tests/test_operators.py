"""Operator-level golden-count parity with the reference pytest suite
(kgtk/tests/test_kgtk_filter.py, test_kgtk_ifexists.py, test_add_id.py,
test_cat.py, test_normalize_nodes.py) on the reference's own fixtures.

The golden-count tests skip where the reference fixtures are absent. The
bad-pattern check does not depend on the data: it runs on a one-row
in-memory edge frame when the reference sample is absent. The RDF unreify
operator and the zip_with_index row numbering run on in-memory frames."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kgtk_spark.operators import (
    add_id,
    deduplicate,
    if_empty,
    if_exists,
    if_not_exists,
    kgtk_calc,
    kgtk_cat,
    kgtk_compact,
    kgtk_expand,
    kgtk_explode,
    kgtk_filter,
    kgtk_head,
    kgtk_implode,
    kgtk_join,
    kgtk_lift,
    kgtk_lower,
    kgtk_sort,
    kgtk_unique,
    normalize_nodes,
    remove_columns,
    rename_columns,
    reorder_columns,
)
from kgtk_spark.indexing import zip_with_index
from kgtk_spark.operators.unreify import unreify_rdf_statements
from kgtk_spark.schema import read_kgtk_tsv
from tests.conftest import REF_DATA, requires_reference


# --- filter: golden counts 10 / 27 / 1 (kgtk/tests/test_kgtk_filter.py:34,48,57)

def test_filter_p31(sample_edges):
    kept, reject = kgtk_filter(sample_edges, ";P31;", with_reject=True)
    assert kept.count() == 10
    assert reject.count() == sample_edges.count() - 10
    assert kept.filter(F.col("label") != "P31").count() == 0


def test_filter_q2447774(sample_edges):
    assert kgtk_filter(sample_edges, "Q2447774;;").count() == 27


def test_filter_one_row(sample_edges):
    assert (
        kgtk_filter(sample_edges, "Q65695069;P577;^2019-07-19T00:00:00Z/11").count()
        == 1
    )


def test_filter_invert(sample_edges):
    n = sample_edges.count()
    assert kgtk_filter(sample_edges, ";P577;", invert=True).count() == n - sample_edges.filter(
        F.col("label") == "P577"
    ).count()


def test_filter_or(sample_edges):
    got = kgtk_filter(sample_edges, "Q2447774;P31;", or_=True).count()
    expect = sample_edges.filter(
        (F.col("node1") == "Q2447774") | (F.col("label") == "P31")
    ).count()
    assert got == expect


def test_filter_bad_pattern(spark, request):
    if os.path.exists(f"{REF_DATA}/sample_kgtk_edge_file.tsv"):
        edges = request.getfixturevalue("sample_edges")
    else:
        edges = spark.createDataFrame([("Q1", "P31", "Q5")], ["node1", "label", "node2"])

    with pytest.raises(ValueError):
        kgtk_filter(edges, "only-one-section")


# --- ifexists: golden counts 118 / 169 (kgtk/tests/test_kgtk_ifexists.py:25,73)

@requires_reference("Q47158_non_edge.tsv")
def test_ifexists(spark, sample_edges):
    keys = read_kgtk_tsv(spark, f"{REF_DATA}/Q47158_non_edge.tsv")
    out = if_exists(sample_edges, keys, input_keys=["node1"], filter_keys=["heading"])
    assert out.count() == 118


@requires_reference("Q47158_non_edge.tsv")
def test_ifnotexists(spark, sample_edges):
    keys = read_kgtk_tsv(spark, f"{REF_DATA}/Q47158_non_edge.tsv")
    out = if_not_exists(sample_edges, keys, input_keys=["node1"], filter_keys=["heading"])
    assert out.count() == 169


@requires_reference("sample_kgtk_edge_Q47158.tsv")
def test_ifexists_edge_filter(spark, sample_edges):
    flt = read_kgtk_tsv(spark, f"{REF_DATA}/sample_kgtk_edge_Q47158.tsv")
    out = if_exists(sample_edges, flt, input_keys=["node1"], filter_keys=["node1"])
    assert out.count() == 118


def test_ifempty(sample_edges):
    empties = if_empty(sample_edges, ["rank"])
    nonempty = if_empty(sample_edges, ["rank"], invert=True)
    assert empties.count() + nonempty.count() == sample_edges.count()


# --- join (key-set union semantics, kgtk/join/kgtkjoiner.py:33-36)

def test_join_inner(spark):
    left = spark.createDataFrame(
        [("a", "p", "1"), ("b", "p", "2")], ["node1", "label", "node2"]
    )
    right = spark.createDataFrame(
        [("a", "q", "3"), ("c", "q", "4")], ["node1", "label", "node2"]
    )
    inner = kgtk_join(left, right, "inner")
    # key = node1; intersection = {a}; rows of BOTH files with node1=a
    assert sorted(r["node2"] for r in inner.collect()) == ["1", "3"]

    lf = kgtk_join(left, right, "left")
    # all left rows + right rows whose key in left key set
    assert sorted(r["node2"] for r in lf.collect()) == ["1", "2", "3"]

    outer = kgtk_join(left, right, "outer")
    assert outer.count() == 4


def test_join_alias_merge(spark):
    left = spark.createDataFrame([("a", "p", "1")], ["node1", "label", "node2"])
    right = spark.createDataFrame([("a", "q", "9", "x")], ["sub", "pred", "obj", "extra"])
    out = kgtk_join(left, right, "inner")
    assert set(out.columns) == {"node1", "label", "node2", "extra"}
    assert out.count() == 2


# --- cat

@requires_reference("sample_kgtk_non_edge_file.tsv")
def test_cat_alias_columns(spark, sample_edges):
    aliased = read_kgtk_tsv(spark, f"{REF_DATA}/sample_kgtk_non_edge_file.tsv")
    both = kgtk_cat(sample_edges, aliased)
    assert both.count() == sample_edges.count() + aliased.count()
    assert "node1" in both.columns and "sub" not in both.columns


# --- compact / dedup

def test_compact_merges_lists(spark):
    df = spark.createDataFrame(
        [
            ("a", "p", "x", "r1"),
            ("a", "p", "x", "r2"),
            ("a", "p", "x", "r2|r0"),
            ("b", "p", "y", ""),
        ],
        ["node1", "label", "node2", "rank"],
    )
    out = kgtk_compact(df, keys=["node1", "label", "node2"])
    rows = {(r["node1"]): r["rank"] for r in out.collect()}
    assert rows["a"] == "r0|r1|r2"
    assert rows["b"] == ""
    assert out.count() == 2


def test_deduplicate(spark):
    df = spark.createDataFrame(
        [("a", "p", "x"), ("a", "p", "x"), ("b", "p", "y")],
        ["node1", "label", "node2"],
    )
    assert deduplicate(df).count() == 2


# --- unique

def test_unique(sample_edges):
    out = kgtk_unique(sample_edges, "label").collect()
    counts = {r["node1"]: int(r["node2"]) for r in out}
    assert counts["P31"] == 10
    assert all(r["label"] == "count" for r in out)
    # ordered by value
    assert [r["node1"] for r in out] == sorted(counts.keys())


# --- add-id (styles per kgtk/tests/test_add_id.py)

def test_add_id_styles(spark):
    df = spark.createDataFrame(
        [("a", "p", "x"), ("a", "p", "y"), ("b", "q", "z")],
        ["node1", "label", "node2"],
    )
    nln = add_id(df, style="node1-label-node2")
    assert {r["id"] for r in nln.collect()} == {"a-p-x", "a-p-y", "b-q-z"}

    nlnum = add_id(df, style="node1-label-num")
    ids = sorted(r["id"] for r in nlnum.collect())
    assert ids == ["a-p-0000", "a-p-0001", "b-q-0000"]

    pref = add_id(df, style="prefix###")
    assert sorted(r["id"] for r in pref.collect()) == ["E1", "E2", "E3"]
    assert pref.columns[0] == "id"


def test_add_id_preserves_existing(spark):
    df = spark.createDataFrame(
        [("a", "p", "x", "KEEP"), ("b", "q", "y", "")],
        ["node1", "label", "node2", "id"],
    )
    out = {r["node1"]: r["id"] for r in add_id(df, style="node1-label-node2").collect()}
    assert out["a"] == "KEEP"
    assert out["b"] == "b-q-y"


# --- lift / lower

def test_lift(spark):
    df = spark.createDataFrame(
        [
            ("Q1", "P31", "Q2", ""),
            ("Q1", "label", '"one"', ""),
            ("Q2", "label", '"two"', ""),
            ("Q2", "label", '"zwei"', ""),
        ],
        ["node1", "label", "node2", "id"],
    )
    out = kgtk_lift(df)
    rows = out.collect()
    assert len(rows) == 1  # label rows removed
    r = rows[0]
    assert r["node1;label"] == '"one"'
    assert r["node2;label"] == '"two"|"zwei"'  # sorted-unique merge
    assert r["label;label"] == ""


def test_lower(spark):
    df = spark.createDataFrame(
        [("Q1", "P31", "Q2", '"one"', '"two"|"zwei"')],
        ["node1", "label", "node2", "node1;label", "node2;label"],
    )
    main, edges = kgtk_lower(df)
    assert "node1;label" not in main.columns
    got = {(r["node1"], r["node2"]) for r in edges.collect()}
    assert got == {("Q1", '"one"'), ("Q2", '"two"'), ("Q2", '"zwei"')}
    assert edges.filter(F.col("label") != "label").count() == 0


# --- reshape

def test_expand_zip_semantics(spark):
    df = spark.createDataFrame(
        [("n1", "a|b|c", "1|2")], ["id", "alias", "score"]
    )
    out = kgtk_expand(df, key_columns=["id"]).collect()
    got = [(r["alias"], r["score"]) for r in out]
    assert got == [("a", "1"), ("b", "2"), ("c", "")]  # zip + pad, not cross


def test_explode_implode_roundtrip(spark):
    df = spark.createDataFrame(
        [
            ("a", "p", '"text"'),
            ("b", "p", "42"),
            ("c", "p", "^1999-01-02T00:00:00Z/11"),
            ("d", "p", "'de'@de"),
            ("e", "p", "@043.26193/010.92708"),
            ("f", "p", "Q42"),
        ],
        ["node1", "label", "node2"],
    )
    ex = kgtk_explode(df)
    assert ex.filter(F.col("node2;kgtk:data_type") == "string").count() == 1
    im = kgtk_implode(ex)
    orig = {r["node1"]: r["node2"] for r in df.collect()}
    # implode emits the canonical form; coordinates re-pad to %011.6f
    # (reference format_degrees, kgtk/value/kgtkvalue.py:1157)
    orig["e"] = "@0043.261930/0010.927080"
    got = {r["node1"]: r["node2"] for r in im.collect()}
    assert got == orig


def test_normalize_nodes(spark, sample_nodes):
    out = normalize_nodes(sample_nodes)
    assert set(out.columns) == {"node1", "label", "node2"}
    # Germany has 3 labels (en, ru, uk)
    q183 = out.filter((F.col("node1") == "Q183") & (F.col("label") == "label"))
    assert q183.count() == 3


# --- columns / sort / calc

def test_column_ops(spark):
    df = spark.createDataFrame([("a", "b", "c")], ["x", "y", "z"])
    assert remove_columns(df, ["y"]).columns == ["x", "z"]
    assert rename_columns(df, old_columns=["x"], new_columns=["w"]).columns == ["w", "y", "z"]
    assert reorder_columns(df, ["z", "..."]).columns == ["z", "x", "y"]
    assert reorder_columns(df, ["z"], trim=True).columns == ["z"]


def test_calc_percentage(spark):
    df = spark.createDataFrame([("50", "200")], ["got", "total"])
    out = kgtk_calc(df, "percentage", ["got", "total"], into="pct").collect()[0]
    assert out["pct"] == "25.00"


def test_sort_and_head(sample_edges):
    out = kgtk_sort(sample_edges, ["node1", "label"]).limit(1).collect()[0]
    first = sample_edges.agg(F.min("node1")).collect()[0][0]
    assert out["node1"] == first
    assert kgtk_head(sample_edges, 5).count() == 5


def test_unreify_rdf_statements(spark):
    edges = spark.createDataFrame(
        [
            ("St1", "rdf:type", "rdf:Statement"),
            ("St1", "rdf:subject", "Q1"),
            ("St1", "rdf:predicate", "P31"),
            ("St1", "rdf:object", "Q5"),
            ("St1", "P585", "^2020"),          # qualifier on the statement
            ("Q7", "P31", "Q5"),               # untouched direct edge
        ],
        ["node1", "label", "node2"],
    )
    out = unreify_rdf_statements(edges).collect()
    rows = {(r["node1"], r["label"], r["node2"]) for r in out}
    assert ("Q1", "P31", "Q5") in rows            # collapsed direct edge
    assert ("Q1-P31-Q5", "P585", "^2020") in rows  # qualifier re-anchored
    assert ("Q7", "P31", "Q5") in rows             # passthrough
    assert not any(r["node1"] == "St1" for r in out)  # reification gone
    assert len(rows) == 3


def test_zip_with_index_is_contiguous(spark):
    df = spark.range(0, 1000).repartition(7)
    out = zip_with_index(df, "idx")
    idxs = sorted(r["idx"] for r in out.collect())
    assert idxs == list(range(1000))
    # order within a partition is preserved
    rows = out.collect()
    assert len({r["idx"] for r in rows}) == 1000


def test_implode_reject_and_escape(spark):
    from kgtk_spark.operators.reshape import kgtk_implode

    df = spark.createDataFrame(
        [
            ("number", 4.5, None),
            ("string", None, 'say "hi"'),
            ("bogus_type", None, None),
            ("number", None, None),  # missing required field
        ],
        '`node2;kgtk:data_type` string, `node2;kgtk:number` double, `node2;kgtk:text` string',
    )
    good, reject = kgtk_implode(df, with_reject=True, escape_text=True)
    vals = sorted(r["node2"] for r in good.collect())
    assert vals == ['"say \\"hi\\""', "4.5"]
    rej = reject.collect()
    assert len(rej) == 2
