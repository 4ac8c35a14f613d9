"""Import/export connector tests (N-Triples, Wikidata JSONL, Cypher, md)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kgtk_spark.sources import (
    export_cypher,
    export_ntriples,
    import_ntriples,
    import_wikidata_jsonl,
    to_markdown,
)

NT_LINES = [
    '<http://www.wikidata.org/entity/Q42> <http://www.wikidata.org/prop/direct/P31> <http://www.wikidata.org/entity/Q5> .',
    '<http://www.wikidata.org/entity/Q42> <http://www.w3.org/2000/01/rdf-schema#label> "Douglas Adams"@en .',
    '<http://www.wikidata.org/entity/Q42> <http://schema.org/name> "plain" .',
    '<http://www.wikidata.org/entity/Q42> <http://schema.org/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://www.wikidata.org/entity/Q42> <http://schema.org/born> "1952-03-11T00:00:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime> .',
]


@pytest.fixture(scope="module")
def nt_df(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("nt") / "test.nt"
    p.write_text("\n".join(NT_LINES) + "\n")
    return import_ntriples(spark, str(p))


def test_import_ntriples(nt_df):
    rows = {(r["label"]): r["node2"] for r in nt_df.collect()}
    assert rows["wdt:P31"] == "wd:Q5"
    assert rows["rdfs:label"] == "'Douglas Adams'@en"
    assert rows["schema:name"] == '"plain"'
    assert rows["schema:age"] == "42"
    assert rows["schema:born"] == "^1952-03-11T00:00:00Z"
    assert nt_df.filter(F.col("node1") != "wd:Q42").count() == 0


def test_export_ntriples_roundtrip(spark, nt_df):
    out = export_ntriples(nt_df).collect()
    lines = {r["ntriple"] for r in out}
    assert (
        "<http://www.wikidata.org/entity/Q42> <http://www.wikidata.org/prop/direct/P31> "
        "<http://www.wikidata.org/entity/Q5> ." in lines
    )
    assert any('"Douglas Adams"@en' in l for l in lines)


WD_ENTITY = {
    "id": "Q42",
    "type": "item",
    "labels": {"en": {"language": "en", "value": "Douglas Adams"}},
    "descriptions": {"en": {"language": "en", "value": "writer"}},
    "aliases": {"en": [{"language": "en", "value": "DNA"}]},
    "claims": {
        "P31": [
            {
                "mainsnak": {
                    "snaktype": "value",
                    "property": "P31",
                    "datavalue": {"type": "wikibase-entityid", "value": {"id": "Q5"}},
                }
            }
        ],
        "P2048": [
            {
                "mainsnak": {
                    "snaktype": "value",
                    "property": "P2048",
                    "datavalue": {
                        "type": "quantity",
                        "value": {"amount": "+1.96", "unit": "http://www.wikidata.org/entity/Q11573"},
                    },
                }
            }
        ],
        "P569": [
            {
                "mainsnak": {
                    "snaktype": "value",
                    "property": "P569",
                    "datavalue": {
                        "type": "time",
                        "value": {"time": "+1952-03-11T00:00:00Z", "precision": 11},
                    },
                }
            }
        ],
    },
}


def test_import_wikidata(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("wd") / "dump.jsonl"
    p.write_text(json.dumps(WD_ENTITY) + "\n")
    nodes, edges = import_wikidata_jsonl(spark, str(p))
    n = nodes.collect()[0]
    assert n["id"] == "Q42"
    assert n["label"] == "'Douglas Adams'@en"
    assert n["alias"] == "'DNA'@en"
    e = {r["label"]: r["node2"] for r in edges.collect()}
    assert e["P31"] == "Q5"
    assert e["P2048"] == "1.96Q11573"
    assert e["P569"] == "^1952-03-11T00:00:00Z/11"
    assert edges.filter(F.col("id") == "").count() == 0


def test_export_cypher(spark):
    df = spark.createDataFrame([("a", "knows of", "b")], ["node1", "label", "node2"])
    out = export_cypher(df).collect()[0]["cypher"]
    assert out == (
        "MERGE (a:Node {id: 'a'}) MERGE (b:Node {id: 'b'}) MERGE (a)-[:`KNOWS_OF`]->(b);"
    )


def test_to_markdown(spark):
    df = spark.createDataFrame([("x", 1)], ["c1", "c2"])
    md = to_markdown(df)
    assert md.splitlines()[0] == "| c1 | c2 |"
    assert "| x | 1 |" in md
