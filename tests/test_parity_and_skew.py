"""Byte-parity TSV roundtrip, skew spreading, Iceberg fallback,
every-nth sampling."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from kgtk_spark.operators.columns import kgtk_every_nth
from kgtk_spark.schema import read_kgtk_tsv, write_kgtk_tsv
from kgtk_spark.sources.iceberg import iceberg_available, read_table, write_table
from kgtk_spark.textops import skew
from kgtk_spark.textops.skew import salted_join
from tests.conftest import REF_DATA, requires_reference


@requires_reference("sample_kgtk_edge_file.tsv")
def test_tsv_roundtrip_byte_parity(spark, sample_edges, tmp_path):
    """Reading the reference fixture and writing it back must reproduce
    the exact data lines (golden byte parity, FIXTURES.md note)."""
    out_dir = str(tmp_path / "rt")
    write_kgtk_tsv(sample_edges, out_dir, single_file=True)

    original = open(f"{REF_DATA}/sample_kgtk_edge_file.tsv", encoding="utf-8").read()
    orig_lines = original.rstrip("\n").split("\n")
    part = glob.glob(f"{out_dir}/part-*.csv")[0]
    got_lines = open(part, encoding="utf-8").read().rstrip("\n").split("\n")

    assert got_lines[0] == orig_lines[0]  # header
    assert sorted(got_lines[1:]) == sorted(orig_lines[1:])  # data bytes


def test_salted_join_spreads_hot_key(spark, monkeypatch):
    # one hot key with 10k rows: unsalted join puts them in ONE task
    # partition; salting must spread them across several.
    left = spark.range(10_000).select(F.lit("hot").alias("k"), F.col("id"))
    right = spark.createDataFrame([("hot", "v")], "k string, v string")
    monkeypatch.setattr(skew, "SALT_BUCKETS", 8)
    out = salted_join(left.repartition(8), right, "k")
    assert out.count() == 10_000  # correctness: same as plain join

    # The shuffle key is (k, salt); verify the hot key's rows spread
    # over ≥4 salt shards. (Physical partitions can't be asserted here:
    # AQE rightly coalesces a 10k-row shuffle to one partition — at
    # real scale each shard is its own reducer.)
    salts = (
        left.select(F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8)).alias("s"))
        .groupBy("s")
        .count()
        .collect()
    )
    assert len(salts) >= 4
    assert max(r["count"] for r in salts) < 10_000


def test_iceberg_fallback(spark, tmp_path):
    assert not iceberg_available(spark)  # no jars in this container
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    # no identifier: the parquet directory at the path
    loc = write_table(df, None, str(tmp_path / "t"))
    assert loc == str(tmp_path / "t")
    back = read_table(spark, None, loc)
    assert back.collect() == df.collect()


def test_session_catalog_namespaced_replace(spark, tmp_path):
    """An identifier without an Iceberg catalog is a session-catalog
    table: the sink auto-creates the namespace, replaces via
    temp-table + rename (no drop-before-write window), and leaves no
    temp table behind."""
    df1 = spark.createDataFrame([("a", 1)], "k string, v long")
    df2 = spark.createDataFrame([("b", 2), ("c", 3)], "k string, v long")
    try:
        # non-default namespace must not require pre-existing database
        loc = write_table(df1, "kgns.t1", str(tmp_path / "x"))
        assert loc == "kgns.t1"
        assert spark.table("kgns.t1").collect() == df1.collect()
        # replace an existing table
        write_table(df2, "kgns.t1", str(tmp_path / "x"))
        got = sorted((r["k"], r["v"]) for r in spark.table("kgns.t1").collect())
        assert got == [("b", 2), ("c", 3)]
        assert not spark.catalog.tableExists("kgns.t1__kgtk_tmp")
    finally:
        spark.sql("DROP TABLE IF EXISTS kgns.t1")
        spark.sql("DROP TABLE IF EXISTS kgns.t1__kgtk_tmp")
        spark.sql("DROP NAMESPACE IF EXISTS kgns")


def test_every_nth(spark):
    df = spark.range(10).select(F.col("id").cast("string").alias("node1"))
    out = kgtk_every_nth(df, 3, order_by=["node1"])
    # ordered: 0,1,2,3,4,5,6,7,8,9 → lexicographic order "0".."9" → rows 3,6,9
    assert out.count() == 3
