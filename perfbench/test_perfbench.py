"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

They pin the output schema (metric names and units) to BENCHMARK.json,
run every workload once at smoke-test size (500 pages, sf0.001 tables),
traced and untraced, and check that the benchmark refuses to report
without the program beside it.  With ``SPARK_GRAFT_SF_DIR`` naming a
directory of the catalog's reference tables, they also check that the
generated inputs have those tables' shape.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from inputs import VOCAB, write_documents, write_tpch  # noqa: E402
from spans import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_schema_matches_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_span_self_time_excludes_children():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"]
    whole = outer["end"] - outer["start"]
    assert tr.self_s(outer) == pytest.approx(whole - (inner["end"] - inner["start"]))


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_smoke_run_passes_its_checks(workload, trace):
    p = bench("--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", str(trace), "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    units = {k: m["unit"] for k, m in result["metrics"].items()}
    assert units == (run.PER_LAYER if trace else run.END_TO_END)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = bench("--workload", "kg_build", "--seed", "1", "--seconds", "1", "--trace", "0",
              cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.skipif(not os.environ.get("SPARK_GRAFT_SF_DIR"), reason="no reference tables")
def test_inputs_match_reference_tables(tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    ref_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    ref = lambda t: pq.read_table(f"{ref_dir}/{t}.parquet")  # noqa: E731
    sf = ref("customer").num_rows / 150_000
    n_docs = ref("documents").num_rows
    write_tpch(str(tmp_path), 1, sf)
    write_documents(str(tmp_path), 1, n_docs)
    gen = lambda t: pq.read_table(tmp_path / f"{t}.parquet")  # noqa: E731
    for t in ["nation", "customer", "supplier", "orders", "lineitem", "documents"]:
        g, r = gen(t), ref(t)
        assert g.num_rows == r.num_rows, t
        for name in g.column_names:  # same names and types; keys span the same range
            assert g.schema.field(name).type == r.schema.field(name).type, (t, name)
            if (name.endswith("key") or name == "doc_id") and r.num_rows >= 100:
                gc, rc = g[name].to_numpy(), r[name].to_numpy()
                assert (gc.min(), gc.max()) == (rc.min(), rc.max()), (t, name)
    assert gen("nation").to_pydict()["n_regionkey"] == ref("nation").to_pydict()["n_regionkey"]

    def fanout(t, key):  # rows per key: mean and variance (Poisson: equal)
        counts = np.unique(t[key].to_numpy(), return_counts=True)[1]
        return counts.mean(), counts.var()

    for t, key in [("orders", "o_custkey"), ("lineitem", "l_orderkey")]:
        assert np.allclose(fanout(gen(t), key), fanout(ref(t), key), rtol=0.3), t

    def doc_shape(t):
        d = t.to_pydict()
        toks = [x.split() for x in d["text"]]
        words = {w for x in toks for w in x} - {"dup"}
        dups = sum(x[-1] == "dup" for x in toks) / len(toks)
        en = d["lang"].count("en") / len(toks)
        return words, min(map(len, toks)), max(map(len, toks)), dups, en, set(d["source"])

    g, r = doc_shape(gen("documents")), doc_shape(ref("documents"))
    assert g[0] == r[0] == set(VOCAB)
    assert abs(g[1] - r[1]) <= 1 and abs(g[2] - r[2]) <= 2  # 10-100 tokens, + " dup"
    assert g[3] == pytest.approx(r[3], abs=0.01)
    assert g[4] == pytest.approx(r[4], abs=0.06)
    assert g[5] == r[5]
