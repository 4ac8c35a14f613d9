"""Wikidata RDF TripleGenerator vs the reference's triple-level output
(kgtk/generator.py:156-520; golden shapes from
kgtk/tests/data/P10_truthy.ttl and dates_truthy.ttl)."""

from __future__ import annotations

from kgtk_spark.sources.wikidata_rdf import generate_wikidata_triples
from tests.conftest import requires_reference


def _props(spark):
    rows = [
        ("P10", "string"),
        ("P1628", "url"),
        ("P1629", "item"),
        ("P569", "time"),
        ("P1114", "quantity"),
        ("P625", "globe-coordinate"),
        ("P1476", "monolingualtext"),
        ("P582", "time"),
        ("P856", "url"),
        ("P212", "external-identifier"),
    ]
    return spark.createDataFrame(rows, "node1 string, node2 string")


def _triples(spark, edges):
    df = spark.createDataFrame(edges, "node1 string, label string, node2 string, id string")
    out = generate_wikidata_triples(df, _props(spark))
    return {(r["subject"], r["predicate"], r["object"]) for r in out.collect()}


def test_property_entity_and_item_statement(spark):
    got = _triples(
        spark,
        [
            ("P10", "label", "'video'@en", "P10-label-1"),
            ("P10", "aliases", "'media'@en", "P10-alias-0"),
            ("P10", "descriptions", "'relevant video'@en", "P10-description-0"),
            ("P10", "P1629", "Q34508", "P10-P1629-1"),
            ("P10", "P1628", "http://schema.org/video", "P10-P1628-1"),
        ],
    )
    # label family (golden: rdfs:label + schema:name + skos:prefLabel)
    assert ("wd:P10", "rdfs:label", '"video"@en') in got
    assert ("wd:P10", "schema:name", '"video"@en') in got
    assert ("wd:P10", "skos:prefLabel", '"video"@en') in got
    assert ("wd:P10", "skos:altLabel", '"media"@en') in got
    assert ("wd:P10", "schema:description", '"relevant video"@en') in got
    # P10 is a declared property → Property typing + system block
    assert ("wd:P10", "rdf:type", "wikibase:Property") in got
    assert ("wd:P10", "wikibase:propertyType", "wikibase:String") in got
    assert ("wd:P10", "wikibase:claim", "p:P10") in got
    assert ("wd:P10", "wikibase:directClaim", "wdt:P10") in got
    assert ("wd:P10", "wikibase:statementProperty", "ps:P10") in got
    # item-valued statement: p:/wds:/ps:/wdt: + BestRank (truthy)
    sid = "wds:P10-P10-P1629-1"
    assert ("wd:P10", "p:P1629", sid) in got
    assert (sid, "rdf:type", "wikibase:Statement") in got
    assert (sid, "wikibase:rank", "wikibase:BestRank") in got
    assert (sid, "ps:P1629", "wd:Q34508") in got
    assert ("wd:P10", "wdt:P1629", "wd:Q34508") in got
    assert ("wd:Q34508", "rdf:type", "wikibase:Item") in got
    # url-valued statement renders as an xsd:string literal (golden)
    assert ("wd:P10", "wdt:P1628", '"http://schema.org/video"^^xsd:string') in got


def test_time_quantity_coordinate_monolingual(spark):
    got = _triples(
        spark,
        [
            ("Q1", "P569", "^2020-06-04T00:00:00Z/11", "fakeid12"),
            ("Q1", "P569", "1989-06-04", "fakeid7"),
            ("Q1", "P569", "2010", "fakeid8"),
            ("Q1", "P1114", "+70[+60,+80]Q743895", "q1"),
            ("Q1", "P1114", "0.5", "q2"),
            ("Q1", "P625", "@39.9/116.4", "c1"),
            ("Q1", "P1476", "'a title'@en", "m1"),
            ("Q1", "P212", "978-3-16", "x1"),
        ],
    )
    assert ("wd:Q1", "rdf:type", "wikibase:Item") in got
    # ISO form: strip ^/+/Z and the precision suffix (dates_truthy.ttl)
    assert ("wd:Q1", "wdt:P569", '"2020-06-04T00:00:00"^^xsd:dateTime') in got
    # yyyy-mm-dd kept as-is; yyyy padded to Jan 1 (generator.py:341-360)
    assert ("wd:Q1", "wdt:P569", '"1989-06-04"^^xsd:dateTime') in got
    assert ("wd:Q1", "wdt:P569", '"2010-01-01"^^xsd:dateTime') in got
    # quantity: amount extracted from amount[lower,upper]Unit, + trimmed
    assert ("wd:Q1", "wdt:P1114", '"70"^^xsd:decimal') in got
    assert ("wd:Q1", "wdt:P1114", '"0.5"^^xsd:decimal') in got
    assert ("wd:Q1", "wdt:P625", '"Point(116.4 39.9)"^^geo:wktLiteral') in got
    assert ("wd:Q1", "wdt:P1476", '"a title"@en') in got
    assert ("wd:Q1", "wdt:P212", '"978-3-16"^^xsd:string') in got


def test_qualifier_attaches_to_statement_node(spark):
    got = _triples(
        spark,
        [
            ("Q1", "P1629", "Q2", "Q1-P1629-1"),
            ("Q1-P1629-1", "P582", "^1999-01-01T00:00:00Z/9", "Q1-P1629-1-P582"),
        ],
    )
    sid = "wds:Q1-Q1-P1629-1"
    assert (sid, "pq:P582", '"1999-01-01T00:00:00"^^xsd:dateTime') in got
    # the qualifier edge's node1 is NOT an entity
    assert not any(s == "wd:Q1-P1629-1" for s, _, _ in got)


def test_invalid_url_drops_statement_and_its_qualifiers(spark):
    got = _triples(
        spark,
        [
            ("Q1", "P856", "not a url", "bad1"),
            ("bad1", "P582", "^1999-01-01T00:00:00Z/9", "bad1-q"),
            ("Q1", "P856", "https://example.org/x", "ok1"),
        ],
    )
    assert ("wd:Q1", "wdt:P856", '"https://example.org/x"^^xsd:string') in got
    assert not any("bad1" in s or "bad1" in o for s, _, o in got)
    assert not any(p == "pq:P582" for _, p, _ in got)


def test_bad_chars_replaced_in_ids(spark):
    got = _triples(spark, [("Q1", "P1629", "Q2:b c", "id (1)")])
    assert ("wd:Q1", "wdt:P1629", "wd:Q2_b_c") in got
    assert ("wd:Q1", "p:P1629", "wds:Q1-id__1_") in got


def _parse_golden_ttl(path):
    """Tiny Turtle reader scoped to the golden file's constructs:
    subject blocks with ';'-continued predicates and ','-continued
    objects; prefixed names, <IRI>s, and "literal"^^type / @lang."""
    import re

    triples = set()
    text = open(path, encoding="utf-8").read()
    # strip prefixes; split statement blocks on blank-line boundaries
    body = "\n".join(
        l for l in text.splitlines() if not l.startswith("@prefix")
    )
    # tokenize objects: quoted literal (with escapes) or non-space token
    obj_re = re.compile(r'("(?:[^"\\]|\\.)*"(?:\^\^[^\s,;]+|@[\w-]+)?|[^\s,;]+)')
    for block in re.split(r"\s*\.\s*\n", body):
        block = block.strip()
        if not block:
            continue
        # subject = first token
        m = re.match(r"(\S+)\s+(.*)", block, re.S)
        if not m:
            continue
        subj, rest = m.group(1), m.group(2)
        for pred_part in re.split(r"\s*;\s*\n?", rest):
            pred_part = pred_part.strip()
            if not pred_part:
                continue
            pm = re.match(r"(\S+)\s+(.*)", pred_part, re.S)
            if not pm:
                continue
            pred, objs = pm.group(1), pm.group(2)
            if pred == "a":
                pred = "rdf:type"
            for om in obj_re.finditer(objs):
                tok = om.group(1).strip()
                if tok != ".":  # statement terminator on unsplit last lines
                    triples.add((subj, pred, tok))
    return triples


@requires_reference("P10.tsv", "wikidata_properties.tsv", "P10_truthy.ttl")
def test_rdf_generator_matches_golden_ttl_families(spark):
    """Triple-set parity with the reference's P10_truthy.ttl for every
    predicate family both implementations emit: labels/aliases/
    descriptions, the wikibase:Property system block, p:/wdt:/ps:
    statements, ranks and typing. (The golden file also carries
    etk-internal triples — createdBy, wdtn:/psn:/psv: normalized-value
    nodes — which are serializer internals, excluded by family.)"""
    import os

    from kgtk_spark.schema import read_kgtk_tsv
    from kgtk_spark.sources.wikidata_rdf import generate_wikidata_triples
    from tests.conftest import REF_DATA

    edges = read_kgtk_tsv(spark, os.path.join(REF_DATA, "P10.tsv"), mode="raw")
    props = read_kgtk_tsv(
        spark, os.path.join(REF_DATA, "wikidata_properties.tsv"), mode="raw"
    ).select("node1", "node2")
    mine = {
        (r["subject"], r["predicate"], r["object"])
        for r in generate_wikidata_triples(
            edges, props, label_set=("label",), description_set=("descriptions",),
            alias_set=("aliases",),
        ).collect()
    }
    golden = _parse_golden_ttl(os.path.join(REF_DATA, "P10_truthy.ttl"))

    def family(triples, preds=None, pred_prefixes=()):
        out = set()
        for s, p, o in triples:
            if (preds and p in preds) or any(p.startswith(x) for x in pred_prefixes):
                out.add((s, p, o))
        return out

    # label family + property system block + statement families
    fams = dict(
        labels=dict(preds={"rdfs:label", "schema:name", "skos:prefLabel",
                           "skos:altLabel", "schema:description"}),
        system=dict(preds={"wikibase:propertyType", "wikibase:claim",
                           "wikibase:directClaim", "wikibase:statementProperty",
                           "wikibase:qualifier", "wikibase:reference",
                           "wikibase:novalue", "wikibase:rank"}),
        claims=dict(pred_prefixes=("p:", "wdt:", "ps:")),
    )
    for name, kw in fams.items():
        g = family(golden, kw.get("preds"), kw.get("pred_prefixes", ()))
        m = family(mine, kw.get("preds"), kw.get("pred_prefixes", ()))
        assert m == g, (name, sorted(m ^ g)[:6])


@requires_reference("Q57160439.tsv", "wikidata_properties.tsv", "Q57160439_truthy.ttl")
def test_rdf_generator_matches_golden_ttl_q57160439(spark):
    """Same family parity on the reference's item-entity golden
    (labels, monolingual title, time, item and string claims)."""
    import os

    from kgtk_spark.schema import read_kgtk_tsv
    from kgtk_spark.sources.wikidata_rdf import generate_wikidata_triples
    from tests.conftest import REF_DATA

    edges = read_kgtk_tsv(spark, os.path.join(REF_DATA, "Q57160439.tsv"), mode="raw")
    props = read_kgtk_tsv(
        spark, os.path.join(REF_DATA, "wikidata_properties.tsv"), mode="raw"
    ).select("node1", "node2")
    mine = {
        (r["subject"], r["predicate"], r["object"])
        for r in generate_wikidata_triples(
            edges, props, label_set=("label",), description_set=("descriptions",),
            alias_set=("aliases",),
        ).collect()
    }
    golden = _parse_golden_ttl(os.path.join(REF_DATA, "Q57160439_truthy.ttl"))

    def fam(triples, preds=None, prefixes=()):
        return {
            (s, p, o)
            for s, p, o in triples
            if (preds and p in preds) or any(p.startswith(x) for x in prefixes)
        }

    label_preds = {"rdfs:label", "schema:name", "skos:prefLabel", "skos:altLabel",
                   "schema:description"}
    assert fam(mine, preds=label_preds) == fam(golden, preds=label_preds)
    m = fam(mine, prefixes=("p:", "wdt:", "ps:"))
    g = fam(golden, prefixes=("p:", "wdt:", "ps:"))
    assert m == g, sorted(m ^ g)[:8]
