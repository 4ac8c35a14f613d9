"""GraphML export roundtrip, MediaWiki JSON generator, reorder-columns
range operator, and ISO-639 validation."""

from __future__ import annotations

import json

import pytest

from kgtk_spark.languages import validate_lang
from kgtk_spark.operators.columns import reorder_columns
from kgtk_spark.sources.graphml import export_graphml
from kgtk_spark.sources.wikidata_json import generate_wikidata_json
from tests.conftest import requires_reference


def read_graphml_edges(path: str) -> list[tuple[str, str, str]]:
    """Parse a GraphML file back to (node1, predicate, node2) tuples —
    the roundtrip verifier for :func:`export_graphml`."""
    import xml.etree.ElementTree as ET

    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    root = ET.parse(path).getroot()
    out = []
    for e in root.findall(".//g:edge", ns):
        pred = ""
        for d in e.findall("g:data", ns):
            if d.get("key") == "edpredicate":
                pred = d.text or ""
        out.append((e.get("source"), pred, e.get("target")))
    return out


def test_graphml_roundtrip(spark, tmp_path_factory):
    edges = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "likes<x>", 'c"q"'), ("a", "knows", "c\"q\"")],
        "node1 string, label string, node2 string",
    )
    path = str(tmp_path_factory.mktemp("gml") / "g.graphml")
    export_graphml(edges, path)
    back = set(read_graphml_edges(path))
    assert back == {("a", "knows", "b"), ("b", "likes<x>", 'c"q"'), ("a", "knows", 'c"q"')}


def test_wikidata_json_generator(spark):
    edges = spark.createDataFrame(
        [
            ("Q1", "label", "'Earth'@en", "Q1-label-1"),
            ("Q1", "aliases", "'the world'@en", "Q1-alias-1"),
            ("Q1", "P31", "Q634", "Q1-P31-1"),
            ("Q1", "P569", "^2020-06-04T00:00:00Z/11", "Q1-P569-1"),
            ("Q1", "P1082", "12[10,14]Q11573", "Q1-P1082-1"),
            ("Q1-P31-1", "P585", "^1999-01-01T00:00:00Z/9", "Q1-P31-1-q1"),
        ],
        "node1 string, label string, node2 string, id string",
    )
    props = spark.createDataFrame(
        [("P31", "item"), ("P569", "time"), ("P1082", "quantity"), ("P585", "time")],
        "node1 string, node2 string",
    )
    out = {r["id"]: json.loads(r["doc"]) for r in generate_wikidata_json(edges, props).collect()}
    d = out["Q1"]
    assert d["type"] == "item" and d["id"] == "Q1" and d["title"] == "Q1"
    # reference quirk: 'languange' [sic] (generator.py:714)
    assert d["labels"]["en"] == {"languange": "en", "value": "Earth"}
    assert d["aliases"]["en"] == [{"en": {"languange": "en", "value": "the world"}}]
    p31 = d["claims"]["P31"][0]
    assert p31["mainsnak"]["datavalue"]["value"]["id"] == "Q634"
    assert p31["rank"] == "normal"
    # qualifier attached to the P31 statement via its edge id
    assert p31["qualifiers"]["P585"][0]["datavalue"]["value"]["precision"] == 9
    assert p31["qualifiers-order"] == ["P585"]
    t = d["claims"]["P569"][0]["mainsnak"]["datavalue"]["value"]
    assert t["time"] == "2020-06-04T00:00:00Z" and t["precision"] == 11
    qv = d["claims"]["P1082"][0]["mainsnak"]["datavalue"]["value"]
    assert qv["amount"] == "12"
    assert qv["unit"] == "http://www.wikidata.org/entity/Q11573"
    assert qv["lowerBound"] == "10" and qv["UpperBound"] == "14"  # [sic]
    # the qualifier edge's node1 is not an entity document
    assert "Q1-P31-1" not in out


def test_reorder_columns_range(spark):
    df = spark.createDataFrame([(1, 2, 3, 4, 5)], "a int, b int, c int, d int, e int")
    assert reorder_columns(df, ["e", "a", "..", "d"]).columns == ["e", "a", "b", "c", "d"]
    # descending range is inert by default (the reference's descending
    # loop expands nothing; skipped columns fall to the '...' set)
    assert reorder_columns(df, ["d", "..", "a", "..."]).columns == ["d", "a", "b", "c", "e"]
    assert reorder_columns(
        df, ["d", "..", "a", "..."], fixed_descending_ranges=True
    ).columns == ["d", "c", "b", "a", "e"]
    with pytest.raises(ValueError):
        reorder_columns(df, ["..", "a"])
    with pytest.raises(ValueError):
        reorder_columns(df, ["a", ".."])
    with pytest.raises(ValueError):
        reorder_columns(df, ["a", "..", "c", "b"])  # b already in range


def test_language_codes():
    assert validate_lang("en")
    assert validate_lang("EN-GB")
    assert validate_lang("deu")
    assert validate_lang("nah")  # ISO 639-5 collective
    assert validate_lang("mo")  # retired, in the default additional list
    assert not validate_lang("xx")
    assert not validate_lang("qqq")
    # custom additional list replaces the default table
    assert validate_lang("xx", additional_language_codes=["xx"])
    assert not validate_lang("mo", additional_language_codes=["xx"])
    # full ISO 639-3 table: common Wikidata codes beyond the 639-1 set
    # (regression for the round-2 embedded-subset table)
    for code in ["ceb", "war", "ast", "nds", "arz", "azb", "lmo", "vec", "pnb"]:
        assert validate_lang(code), code
    from kgtk_spark.iso639_data import ISO_639_3_ALL

    assert len(ISO_639_3_ALL) > 7900


def test_kgtk_json_lines_formats(spark):
    from kgtk_spark.sources.json_writer import kgtk_json_lines

    df = spark.createDataFrame(
        [("Q1", "P1082", "42", '"say \\"hi\\""', "True", ""),
         ("Q2", "P31", "+007", "'bonjour'@fr", "False", "x")],
        "node1 string, label string, node2 string, s string, b string, e string",
    )
    # plain jsonl = raw cell strings verbatim (kgtkwriter.py:645
    # json.dumps(values) — no reformat_values_for_json)
    rows = [json.loads(r["line"]) for r in kgtk_json_lines(df, "jsonl").collect()]
    byid = {r[0]: r for r in rows}
    assert byid["Q1"][2] == "42" and byid["Q2"][2] == "+007"
    assert byid["Q1"][3] == '"say \\"hi\\""'
    assert byid["Q2"][3] == "'bonjour'@fr"
    assert byid["Q1"][4] == "True" and byid["Q2"][4] == "False"

    # json / *-map formats DO reformat (ints, unstringify, booleans)
    arr = [json.loads(r["line"]) for r in kgtk_json_lines(df, "json").collect()]
    byid = {r[0]: r for r in arr}
    assert byid["Q1"][2] == 42 and byid["Q2"][2] == 7
    assert byid["Q1"][3] == 'say "hi"'
    assert byid["Q2"][3] == "bonjour"
    assert byid["Q1"][4] is True and byid["Q2"][4] is False

    maps = [json.loads(r["line"]) for r in kgtk_json_lines(df, "jsonl-map").collect()]
    m = {r["node1"]: r for r in maps}
    assert m["Q1"]["e"] == "" and m["Q1"]["node2"] == 42

    compact = [
        json.loads(r["line"])
        for r in kgtk_json_lines(df, "jsonl-map-compact").collect()
    ]
    mc = {r["node1"]: r for r in compact}
    assert "e" not in mc["Q1"] and mc["Q2"]["e"] == "x"  # empties dropped


def test_write_kgtk_json_document(spark, tmp_path_factory):
    from kgtk_spark.sources.json_writer import write_kgtk_json

    df = spark.createDataFrame([("a", "p", "1")], "node1 string, label string, node2 string")
    path = str(tmp_path_factory.mktemp("json") / "out.json")
    write_kgtk_json(df, path, fmt="json")
    text = open(path).read()
    # bracketed array document with a header row and trailing commas
    assert text.startswith("[\n")
    assert '["node1","label","node2"],' in text
    assert '["a","p",1],' in text


def test_tsv_csv_variants(spark):
    from kgtk_spark.sources.tsv_writer import format_lines

    df = spark.createDataFrame(
        [("Q1", '"say \\"hi\\" a\\|b"', "^2020-01-01", "x,y")],
        "node1 string, s string, d string, sym string",
    )

    def line(fmt):
        return format_lines(df, fmt).collect()[0]["line"]

    assert line("kgtk") == 'Q1\t"say \\"hi\\" a\\|b"\t^2020-01-01\tx,y'
    # tsv: quotes kept, \| unescaped, datetime sigil stripped
    assert line("tsv") == 'Q1\t"say \\"hi\\" a|b"\t2020-01-01\tx,y'
    # tsv-unquoted: unstringified raw text
    assert line("tsv-unquoted") == 'Q1\tsay "hi" a|b\t2020-01-01\tx,y'
    # tsv-unquoted-ep: pipes stay escaped
    assert line("tsv-unquoted-ep") == 'Q1\tsay "hi" a\\|b\t2020-01-01\tx,y'
    # csvlike: CSV-style doubled quotes around the unstringified text
    assert line("tsv-csvlike") == 'Q1\t"say ""hi"" a\\|b"\t2020-01-01\tx,y'
    # csv: comma separator, bare symbol with comma gets quoted
    assert line("csv") == 'Q1,"say ""hi"" a|b",2020-01-01,"x,y"'


@requires_reference("P10.tsv", "wikidata_properties.tsv", "P100.jsonl")
def test_wikidata_json_generator_golden_P10(spark):
    """Structural parity with the reference's golden P100.jsonl
    (kgtk/tests/test_json_generation.py): same labels/descriptions,
    same alias multiset, same claims per property (order-insensitive —
    the reference emits input order, we emit deterministic order)."""
    import os

    from kgtk_spark.schema import read_kgtk_tsv
    from kgtk_spark.sources.wikidata_json import generate_wikidata_json
    from tests.conftest import REF_DATA

    edges = read_kgtk_tsv(spark, os.path.join(REF_DATA, "P10.tsv"), mode="raw")
    props = read_kgtk_tsv(
        spark, os.path.join(REF_DATA, "wikidata_properties.tsv"), mode="raw"
    ).select("node1", "node2")
    out = generate_wikidata_json(
        edges,
        props,
        label_set=("label",),
        description_set=("descriptions",),
        alias_set=("aliases",),
    )
    docs = {r["id"]: json.loads(r["doc"]) for r in out.collect()}
    golden = json.loads(
        open(os.path.join(REF_DATA, "P100.jsonl"), encoding="utf-8").readline()
    )["P10"]
    mine = docs["P10"]

    assert mine["labels"] == golden["labels"]
    assert mine["descriptions"] == golden["descriptions"]
    # aliases: list order is input-order in the reference; compare multisets
    for lang, entries in golden["aliases"].items():
        assert sorted(map(json.dumps, mine["aliases"][lang])) == sorted(
            map(json.dumps, entries)
        )
    assert set(mine["claims"]) == set(golden["claims"])
    for prop, claims in golden["claims"].items():
        g = sorted(json.dumps(c, sort_keys=True) for c in claims)
        m = sorted(json.dumps(c, sort_keys=True) for c in mine["claims"][prop])
        assert m == g, prop
    for k in ("type", "datatype", "id", "pageid", "ns", "title", "lastrevid", "sitelinks"):
        assert mine[k] == golden[k], k


@requires_reference("ranked_example.tsv", "wikidata_properties.tsv", "ranked0.jsonl")
def test_wikidata_json_ranked_golden(spark):
    """has_rank mode vs the reference's golden ranked0.jsonl: per-edge
    golden used has_rank=False, so the default constant-rank mode must
    match claim-for-claim; use_rank_column=True then flows per-edge
    ranks through."""
    import os

    from kgtk_spark.schema import read_kgtk_tsv
    from kgtk_spark.sources.wikidata_json import generate_wikidata_json
    from tests.conftest import REF_DATA

    edges = read_kgtk_tsv(spark, os.path.join(REF_DATA, "ranked_example.tsv"), mode="raw")
    props = read_kgtk_tsv(
        spark, os.path.join(REF_DATA, "wikidata_properties.tsv"), mode="raw"
    ).select("node1", "node2")
    out = generate_wikidata_json(
        edges, props, label_set=("label",), description_set=("descriptions",),
        alias_set=("aliases",),
    )
    docs = {r["id"]: json.loads(r["doc"]) for r in out.collect()}
    golden = json.loads(
        open(os.path.join(REF_DATA, "ranked0.jsonl"), encoding="utf-8").readline()
    )
    gid = list(golden)[0]
    g = golden[gid]
    m = docs[gid]
    shared = set(m["claims"]) & set(g["claims"])
    assert len(shared) >= 50
    def canon(claim):
        # qualifier arrays are input-ordered in the reference, sorted
        # in the distributed engine — normalize before comparing
        c = json.loads(json.dumps(claim))
        for qp, snaks in c.get("qualifiers", {}).items():
            c["qualifiers"][qp] = sorted(snaks, key=lambda s: json.dumps(s, sort_keys=True))
        return json.dumps(c, sort_keys=True)

    for prop in sorted(shared):
        gc = sorted(canon(c) for c in g["claims"][prop])
        mc = sorted(canon(c) for c in m["claims"][prop])
        assert gc == mc, prop

    # has_rank mode: per-edge ranks flow through
    ranked = generate_wikidata_json(
        edges, props, label_set=("label",), description_set=("descriptions",),
        alias_set=("aliases",), use_rank_column=True,
    )
    rdocs = {r["id"]: json.loads(r["doc"]) for r in ranked.collect()}
    ranks = {
        c["rank"]
        for claims in rdocs[gid]["claims"].values()
        for c in claims
    }
    assert "preferred" in ranks  # ranked_example.tsv carries preferred rows


@requires_reference("Q57160439.tsv", "wikidata_properties.tsv", "Q571604390.jsonl")
def test_wikidata_json_q57160439_golden(spark):
    """Third golden (Q571604390.jsonl): every claim matches."""
    import os

    from kgtk_spark.schema import read_kgtk_tsv
    from kgtk_spark.sources.wikidata_json import generate_wikidata_json
    from tests.conftest import REF_DATA

    edges = read_kgtk_tsv(spark, os.path.join(REF_DATA, "Q57160439.tsv"), mode="raw")
    props = read_kgtk_tsv(
        spark, os.path.join(REF_DATA, "wikidata_properties.tsv"), mode="raw"
    ).select("node1", "node2")
    out = generate_wikidata_json(
        edges, props, label_set=("label",), description_set=("descriptions",),
        alias_set=("aliases",),
    )
    docs = {r["id"]: json.loads(r["doc"]) for r in out.collect()}
    golden = json.loads(
        open(os.path.join(REF_DATA, "Q571604390.jsonl"), encoding="utf-8").readline()
    )
    gid = list(golden)[0]
    g, m = golden[gid], docs[gid]
    assert m["labels"] == g["labels"]
    assert set(m["claims"]) == set(g["claims"])
    for p in g["claims"]:
        gc = sorted(json.dumps(c, sort_keys=True) for c in g["claims"][p])
        mc = sorted(json.dumps(c, sort_keys=True) for c in m["claims"][p])
        assert gc == mc, p
