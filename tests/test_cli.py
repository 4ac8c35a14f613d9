"""CLI surface tests: the kgtk-style invocations a reference user runs
(kgtk/cli_entry.py + kgtk/cli/*) against the Spark engine end-to-end."""

from __future__ import annotations

import glob

from kgtk_spark.cli import build_parser, main
from tests.conftest import REF_DATA, requires_reference

SAMPLE = f"{REF_DATA}/sample_kgtk_edge_file.tsv"


def _read_out(path: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(f"{path}/part-*")):
        with open(part) as fp:
            lines.extend(ln.rstrip("\n") for ln in fp)
    return lines


@requires_reference("sample_kgtk_edge_file.tsv")
def test_cli_filter_roundtrip(spark, tmp_path):
    out = str(tmp_path / "out")
    rc = main(["filter", "-i", SAMPLE, "-o", out, "-p", ";P31;",
               "--single-file"])
    assert rc == 0
    lines = _read_out(out)
    header, rows = lines[0], lines[1:]
    assert "label" in header.split("\t")
    # reference golden: 10 P31 rows (kgtk/tests/test_kgtk_filter.py:34)
    assert len(rows) == 10
    assert all("\tP31\t" in r for r in rows)


@requires_reference("sample_kgtk_edge_file.tsv")
def test_cli_ifexists_and_stdout(spark, tmp_path, capsys):
    flt = str(tmp_path / "flt")
    assert main(["filter", "-i", SAMPLE, "-o", flt, "-p", ";P31;",
                 "--single-file"]) == 0
    rc = main(["ifexists", "-i", SAMPLE, "--filter-on", SAMPLE, "-o", "-"])
    assert rc == 0
    printed = capsys.readouterr().out.splitlines()
    assert len(printed) > 1 and printed[0].count("\t") >= 2


def test_cli_stdout_md_and_json_formats(spark, tmp_path, capsys):
    """-o - must dispatch md / jsonl / json formats, not crash in
    reformat_cell (which only accepts kgtk/tsv*/csv)."""
    import json

    src = tmp_path / "edges.tsv"
    src.write_text("node1\tlabel\tnode2\na\tp\tb\n")

    assert main(["md", "-i", str(src), "-o", "-"]) == 0
    out = capsys.readouterr().out
    assert out.splitlines()[0] == "| node1 | label | node2 |"

    assert main(["cat", "-i", str(src), "-o", "-",
                 "--output-format", "jsonl-map"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert json.loads(out[0]) == {"node1": "a", "label": "p", "node2": "b"}

    assert main(["cat", "-i", str(src), "-o", "-",
                 "--output-format", "json"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("[\n") and out.endswith("]\n")
    assert '["node1","label","node2"]' in out


def test_cli_import_export_family(spark, tmp_path):
    """CLI wrappers for the import/export family (kgtk import-conceptnet
    and siblings) run end-to-end on tiny fixture files."""
    import json

    # import-conceptnet
    cn = tmp_path / "cn.tsv"
    cn.write_text(
        "/a/[/r/UsedFor/,/c/en/example_node/,/c/en/thing/]\t/r/UsedFor\t"
        "/c/en/example_node\t/c/en/thing\t"
        '{"surfaceText": "An [[example node]] is used for [[thing]]"}\n'
        "/a/[/r/RelatedTo/,/c/fr/chat/,/c/fr/animal/]\t/r/RelatedTo\t"
        '/c/fr/chat\t/c/fr/animal\t{"weight": 0.5}\n'
    )
    out = str(tmp_path / "cn_out")
    assert main(["import-conceptnet", "-i", str(cn), "-o", out,
                 "--english-only", "--single-file"]) == 0
    rows = _read_out(out)
    assert len(rows) == 2 and "\t/r/UsedFor\t" in rows[1]

    # import-concept-pairs
    cp = tmp_path / "pairs.txt"
    cp.write_text("cn_example cn_other\ncn_a cn_b\n")
    out = str(tmp_path / "cp_out")
    assert main(["import-concept-pairs", "-i", str(cp), "-o", out,
                 "--source", "CP", "--single-file"]) == 0
    rows = _read_out(out)
    assert len(rows) == 3 and rows[1].startswith("cp:cn_")

    # import-atomic
    at = tmp_path / "atomic.csv"
    at.write_text(
        'event,xAttr,xWant\n'
        'PersonX buys a coffee.,"[""generous"", ""none""]","[""to drink it""]"\n'
    )
    out = str(tmp_path / "at_out")
    assert main(["import-atomic", "-i", str(at), "-o", out,
                 "--single-file"]) == 0
    body = "\n".join(_read_out(out))
    assert "at:personx_buys_a_coffee" in body and "at:generous" in body

    # import-wordnet
    wn = tmp_path / "wn.jsonl"
    wn.write_text(
        json.dumps({"name": "dog.n.01", "lemmas": ["dog"],
                    "hypernyms": ["canine.n.02"], "member_holonyms": [],
                    "part_holonyms": [], "substance_meronyms": []}) + "\n"
        + json.dumps({"name": "canine.n.02", "lemmas": ["canine"],
                      "hypernyms": [], "member_holonyms": [],
                      "part_holonyms": [], "substance_meronyms": []}) + "\n"
    )
    out = str(tmp_path / "wn_out")
    assert main(["import-wordnet", "-i", str(wn), "-o", out,
                 "--single-file"]) == 0
    assert any("/r/IsA" in r for r in _read_out(out))

    # import-framenet
    fr = tmp_path / "fr.jsonl"
    fr.write_text(json.dumps({"super_frame": "Motion", "sub_frame": "Self_motion",
                              "type": "Inheritance"}) + "\n")
    out = str(tmp_path / "fn_out")
    assert main(["import-framenet", "--frame-relations", str(fr), "-o", out,
                 "--single-file"]) == 0
    assert any("fn:" in r for r in _read_out(out))

    # import-visualgenome
    vg = tmp_path / "vg.json"
    vg.write_text(json.dumps([{
        "image_id": 1,
        "objects": [{"object_id": 1, "names": ["dog"], "synsets": ["dog.n.01"],
                     "attributes": ["running"]},
                    {"object_id": 2, "names": ["grass"],
                     "synsets": ["grass.n.01"], "attributes": None}],
        "relationships": [{"predicate": "ON", "subject_id": 1, "object_id": 2}],
    }]))
    asyn = tmp_path / "attr.jsonl"
    asyn.write_text(json.dumps({"attr": "running", "synset": "run.v.01"}) + "\n")
    out = str(tmp_path / "vg_out")
    assert main(["import-visualgenome", "-i", str(vg),
                 "--attr-synsets", str(asyn), "-o", out, "--single-file"]) == 0
    assert any("/r/LocatedNear" in r for r in _read_out(out))

    # import-wikidata (+ node file) and export-wikidata roundtrip
    wd = tmp_path / "wd.jsonl"
    wd.write_text(
        '{"id":"Q1","type":"item","labels":{"en":{"language":"en","value":"one"}},'
        '"claims":{"P31":[{"mainsnak":{"snaktype":"value","property":"P31",'
        '"datavalue":{"type":"wikibase-entityid","value":{"id":"Q2"}}}}]}}\n'
    )
    out = str(tmp_path / "wd_out")
    nodes = str(tmp_path / "wd_nodes")
    assert main(["import-wikidata", "-i", str(wd), "-o", out,
                 "--node-file", nodes, "--single-file"]) == 0
    body = _read_out(out)
    assert any("\tP31\tQ2" in r for r in body)
    assert any("one" in r for r in _read_out(nodes))

    exp = str(tmp_path / "wd_export")
    assert main(["export-wikidata", "-i", out, "-o", exp,
                 "--single-file"]) == 0
    doc = json.loads(_read_out(exp)[0])
    assert doc["id"] == "Q1" and doc["claims"]["P31"] == ["Q2"]

    # text-embedding
    emb_in = tmp_path / "emb.tsv"
    emb_in.write_text(
        "node1\tlabel\tnode2\n"
        'Q1\tlabel\t"one"\nQ1\tP31\tQ2\nQ2\tlabel\t"two"\n'
    )
    out = str(tmp_path / "emb_out")
    assert main(["text-embedding", "-i", str(emb_in), "-o", out,
                 "--dim", "8", "--single-file"]) == 0
    rows = [r.split("\t") for r in _read_out(out)]
    assert rows[0] == ["node", "sentence", "embedding"]
    data = {r[0]: r for r in rows[1:]}
    assert "Q1" in data and len(data["Q1"][2].split(",")) == 8


def test_cli_connected_components(spark, tmp_path):
    src = tmp_path / "edges.tsv"
    src.write_text(
        "node1\tlabel\tnode2\n" + "a\tp\tb\nb\tp\tc\nx\tp\ty\n"
    )
    out = str(tmp_path / "cc")
    rc = main([
        "connected-components", "-i", str(src), "-o", out,
        "--cluster-name-method", "lowest", "--single-file",
    ])
    assert rc == 0
    rows = [r.split("\t") for r in _read_out(out)[1:]]
    comp = {r[0]: r[2] for r in rows}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_cli_parser_covers_core_commands():
    p = build_parser()
    for cmdline in [
        ["cat", "-i", "a", "b", "-o", "c"],
        ["join", "-i", "a", "--with-file", "b", "-o", "c", "--left-join"],
        ["compact", "-i", "a", "-o", "c", "--key-columns", "node1", "label"],
        ["add-id", "-i", "a", "-o", "c", "--id-style", "node1-label-num"],
        ["unique", "-i", "a", "-o", "c", "--column", "label"],
        ["calc", "-i", "a", "-o", "c", "--do", "percentage",
         "-c", "x", "y", "--into", "pct"],
        ["reachable-nodes", "-i", "a", "-o", "c", "--root", "Q1"],
        ["paths", "-i", "a", "-o", "c", "--source-nodes", "s",
         "--target-nodes", "t"],
        ["graph-statistics", "-i", "a", "-o", "c", "--pagerank"],
        ["lift", "-i", "a", "-o", "c"],
        ["explode", "-i", "a", "-o", "c"],
        ["validate", "-i", "a", "-o", "c", "--reject-file", "r"],
        ["connected-components", "-i", "a", "-o", "c", "--strong",
         "--cluster-name-method", "numbered"],
        ["reachable-nodes", "-i", "a", "-o", "c", "--rootfile", "roots.tsv",
         "--rootfilecolumn", "node1"],
        ["implode", "-i", "a", "-o", "c", "--reject-file", "r"],
        ["head", "-i", "a", "-o", "-", "-n", "5"],
        ["sort2", "-i", "a", "-o", "c", "-c", "node1", "-r"],
        ["import-conceptnet", "-i", "a", "-o", "c", "--english-only"],
        ["import-wikidata", "-i", "a", "-o", "c", "--node-file", "n"],
        ["export-wikidata", "-i", "a", "-o", "c"],
        ["text-embedding", "-i", "a", "-o", "c", "--dim", "32"],
    ]:
        args = p.parse_args(cmdline)
        assert callable(args.runner)


@requires_reference(
    "sample_kgtk_edge_file.tsv",
    "sample_kgtk_edge_Q47158.tsv",
    "sample_kgtk_edge_file_with_id.tsv",
)
def test_cli_cat_reference_expectations(spark, tmp_path):
    """Mirror of kgtk/tests/test_cat.py: row count + column preservation,
    csv / jsonl / jsonl-map output formats, two-file concat."""
    import json

    out = str(tmp_path / "cat")
    assert main(["cat", "-i", SAMPLE, "-o", out, "--single-file"]) == 0
    lines = _read_out(out)
    assert len(lines) == 288  # header + 287 rows (test_cat.py:63)
    assert lines[0].split("\t") == ["id", "node1", "label", "node2", "rank"]

    outc = str(tmp_path / "cat_csv")
    assert main(["cat", "-i", SAMPLE, "-o", outc, "--output-format", "csv",
                 "--single-file"]) == 0
    clines = _read_out(outc)
    assert len(clines) == 288
    assert clines[0] == "id,node1,label,node2,rank"

    outj = str(tmp_path / "cat_jl")
    assert main(["cat", "-i", SAMPLE, "-o", outj, "--output-format", "jsonl",
                 "--single-file"]) == 0
    jlines = _read_out(outj)
    # header row + 287 data rows, 5 cells each (test_cat.py:62-64)
    assert len(jlines) == 288
    assert all(len(json.loads(ln)) == 5 for ln in jlines)

    outm = str(tmp_path / "cat_jlm")
    assert main(["cat", "-i", SAMPLE, "-o", outm, "--output-format",
                 "jsonl-map", "--single-file"]) == 0
    mlines = _read_out(outm)
    assert len(mlines) == 287  # map form has no header line (test_cat.py:72)
    row = json.loads(mlines[0])
    assert {"id", "node1", "label", "node2", "rank"} <= set(row)

    # two-file concat → 6 rows (test_cat.py:88-91)
    out2 = str(tmp_path / "cat2")
    assert main([
        "cat",
        "-i", f"{REF_DATA}/sample_kgtk_edge_Q47158.tsv",
        f"{REF_DATA}/sample_kgtk_edge_file_with_id.tsv",
        "-o", out2, "--single-file",
    ]) == 0
    assert len(_read_out(out2)) == 7  # header + 6


def test_cli_validate_properties_pattern_file(spark, tmp_path):
    data = tmp_path / "edges.tsv"
    data.write_text(
        "node1\tlabel\tnode2\n"
        "Q1\tP2044\t8848\n"
        "Q2\tP2044\t999999\n"       # above inherited maxval
        "Q3\tP856\tftp://x.org\n"   # pattern fails
        "Q4\tP856\thttps://x.org\n"
        "Q5\tP9999\tanything\n"     # rejected property
    )
    pat = tmp_path / "patterns.tsv"
    pat.write_text(
        "node1\tlabel\tnode2\n"
        'P2044\tnode2_type\tnumber|quantity\n'
        "P2044\tisa\tmeasurement\n"
        "measurement\tminval\t-500\n"
        "measurement\tmaxval\t10000\n"
        'P856\tnode2_pattern\t"^https?://"\n'
        "P9999\treject\tTrue\n"
    )
    out = str(tmp_path / "valid")
    rej = str(tmp_path / "reject")
    rc = main([
        "validate-properties", "-i", str(data), "-o", out,
        "--pattern-file", str(pat), "--reject-file", rej, "--single-file",
    ])
    assert rc == 0
    kept = {ln.split("\t")[0] for ln in _read_out(out)[1:]}
    assert kept == {"Q1", "Q4"}
    rejected = {ln.split("\t")[0]: ln for ln in _read_out(rej)[1:]}
    assert set(rejected) == {"Q2", "Q3", "Q5"}
    assert "measurement:maxval" in rejected["Q2"]
    assert "P9999:reject" in rejected["Q5"]


@requires_reference("sample_kgtk_edge_file.tsv")
def test_cli_export_graphml(spark, tmp_path):
    out = str(tmp_path / "g.graphml")
    rc = main(["export-graphml", "-i", SAMPLE, "-o", out])
    assert rc == 0
    doc = open(out).read()
    assert doc.startswith('<?xml version="1.0"')
    assert "<graphml" in doc and "<edge " in doc and "predicate" in doc
