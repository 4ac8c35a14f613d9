"""Broad ingest robustness over the reference repo's own test data:
every KGTK TSV in kgtk/tests/data must read cleanly (line counts match,
values classify)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kgtk_spark.schema import read_kgtk_tsv
from tests.conftest import REF_DATA, requires_reference

# Plain KGTK TSVs (tab-separated, header, rectangular).
CLEAN_FILES = [
    "sample_kgtk_edge_file.tsv",
    "sample_kgtk_edge_file_no_id.tsv",
    "sample_kgtk_edge_file_with_id.tsv",
    "sample_kgtk_nodes.tsv",
    "sample_kgtk_non_edge_file.tsv",
    "sample_kgtk_edge_Q47158.tsv",
    "Q47158_non_edge.tsv",
    "dates.tsv",
    "P10.tsv",
    "Q57160439.tsv",
    "ranked_example.tsv",
    "wikidata_properties.tsv",
]


@pytest.mark.parametrize("fname", CLEAN_FILES)
def test_reference_tsv_reads_with_exact_row_count(spark, fname):
    path = os.path.join(REF_DATA, fname)
    if not os.path.exists(path):
        pytest.skip(f"{fname} absent in this reference checkout")
    with open(path, encoding="utf-8") as fp:
        raw_lines = [l for l in fp.read().splitlines() if l != ""]
    n_data = len(raw_lines) - 1  # header
    df = read_kgtk_tsv(spark, path, mode="raw")
    assert df.count() == n_data
    # no column is silently dropped
    assert len(df.columns) == len(raw_lines[0].split("\t"))


@requires_reference("sample_kgtk_edge_file.tsv")
def test_reference_values_classify(spark):
    """Every node2 in the main sample file classifies to a KGTK type
    and language-qualified strings carry valid ISO-639 codes."""
    from kgtk_spark.values import parse_fields_udf

    df = read_kgtk_tsv(spark, os.path.join(REF_DATA, "sample_kgtk_edge_file.tsv"))
    parsed = df.select(parse_fields_udf(F.col("node2")).alias("f"))
    counts = (
        parsed.groupBy(F.col("f.data_type").alias("dt"))
        .count()
        .collect()
    )
    types = {r["dt"] for r in counts}
    assert types <= {
        "symbol",
        "string",
        "language_qualified_string",
        "number",
        "quantity",
        "date_and_times",
        "location_coordinates",
        "boolean",
        "empty",
        "list",
    }
    bad_lang = parsed.filter(
        (F.col("f.data_type") == "language_qualified_string") & ~F.col("f.valid")
    ).count()
    assert bad_lang == 0


@requires_reference("sample_kgtk_edge_file_no_id.tsv", "sample_kgtk_edge_file_with_id.tsv")
def test_add_id_reference_file_parity(spark):
    """Mirror kgtk/tests/test_add_id.py expectations on the reference's
    own files: default style yields exactly {E1..EN}; overwrite-id with
    node1-label-node2 rewrites every id to the content form."""
    from kgtk_spark.operators import add_id

    no_id = read_kgtk_tsv(spark, os.path.join(REF_DATA, "sample_kgtk_edge_file_no_id.tsv"))
    n = no_id.count()
    out = add_id(no_id)
    ids = sorted(r["id"] for r in out.select("id").collect())
    assert ids == sorted(f"E{i + 1}" for i in range(n))
    assert out.columns[0] == "id"  # KGTK puts id first when adding it

    with_id = read_kgtk_tsv(spark, os.path.join(REF_DATA, "sample_kgtk_edge_file_with_id.tsv"))
    out2 = add_id(with_id, style="node1-label-node2", overwrite=True)
    for r in out2.collect():
        assert r["id"] == f'{r["node1"]}-{r["label"]}-{r["node2"]}'


@requires_reference("sample_kgtk_edge_file.tsv", "sample_kgtk_nodes.tsv")
def test_cat_reference_file_parity(spark):
    """Mirror kgtk/tests/test_cat.py: cat of one file preserves rows and
    columns; edge+node cat merges columns with missing filled empty."""
    from kgtk_spark.operators import kgtk_cat

    edge = read_kgtk_tsv(spark, os.path.join(REF_DATA, "sample_kgtk_edge_file.tsv"))
    out = kgtk_cat(edge)
    assert out.count() == edge.count()
    assert out.columns == edge.columns

    nodes = read_kgtk_tsv(spark, os.path.join(REF_DATA, "sample_kgtk_nodes.tsv"))
    both = kgtk_cat(edge, nodes)
    assert both.count() == edge.count() + nodes.count()
    assert set(both.columns) >= set(edge.columns) | set(nodes.columns)


@requires_reference("sample_kgtk_nodes.tsv")
def test_normalize_nodes_reference_goldens(spark):
    """Golden counts from kgtk/tests/test_normalize_nodes.py: the node
    sample normalizes to 52 edges (lists split), Q183 carries the three
    language-qualified labels, alias-only yields 24 rows."""
    from kgtk_spark.operators import normalize_nodes

    nodes = read_kgtk_tsv(spark, os.path.join(REF_DATA, "sample_kgtk_nodes.tsv"))
    out = normalize_nodes(nodes)
    assert out.count() == 52
    q183 = {
        r["node2"]
        for r in out.filter((F.col("node1") == "Q183") & (F.col("label") == "label")).collect()
    }
    assert "'Germany'@en" in q183
    assert "'Германия'@ru" in q183
    assert "'Німеччина'@uk" in q183

    alias_only = normalize_nodes(nodes, columns=["alias"])
    assert alias_only.count() == 24
    assert {r["label"] for r in alias_only.collect()} == {"alias"}
