"""Seeded benchmark inputs, written once per run in set-up.

The catalog's reference tables (the TPC-H-like star schema and the
``documents`` table that ``tests/``, ``tools/check_oracles.py`` and
``bench.py`` read, described in TESTDATA.md) live outside the repository,
so the benchmark generates tables of the same shape from its seed:

* the five tables ``kgtk_spark.queries.tpch_edges`` reads, with their key
  columns only (names and types as in the reference tables).  Keys run
  from 0; every foreign key is uniform over the keys it references, so
  orders per customer and lines per order are Poisson, as in the
  reference tables; ``lineitem`` has 4 rows per order and is unsorted;
* ``documents``: texts of 10-100 tokens drawn from the reference tables'
  30-word vocabulary, 5% of them replaced by another text plus " dup"
  (which also makes a few exact copies), languages 40% ``en`` and 15%
  each ``zh``/``es``/``fr``/``de``, sources ``src0``-``src19`` in turn.

``test_perfbench.test_inputs_match_reference_tables`` checks these claims
against the reference tables when ``SPARK_GRAFT_SF_DIR`` names them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS, LANG_WEIGHTS = ["en", "zh", "es", "fr", "de"], [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(path: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), path)


def write_tpch(out_dir: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    i32 = pa.int32()
    nations = np.arange(25)
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(nations, i32), "n_regionkey": pa.array(nations % 5, i32),
    })
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n_cust), "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
    })
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp), "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
    })
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n_ord), "o_custkey": rng.integers(0, n_cust, n_ord),
    })
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line), "l_partkey": rng.integers(0, n_part, n_line),
    })


def write_documents(out_dir: str, seed: int, n_docs: int) -> None:
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, n_docs)
    words = rng.choice(VOCAB, lengths.sum())
    texts = [" ".join(t) for t in np.split(words, np.cumsum(lengths)[:-1])]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[rng.integers(n_docs)] + " dup"
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts]),
    })
