"""Catalog read path: ``queries.load`` takes a single file's schema from
its parquet footer (no Spark job) and must give exactly the schema
Spark's own inference gives; everything else falls back to inference."""

from __future__ import annotations

import datetime
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kgtk_spark import queries as Q

from tests.conftest import TESTDATA

NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
TS = datetime.datetime(2024, 5, 6, 7, 8, 9, 123456)

# column name -> (arrow array, takes the footer path)
COLUMNS = {
    "ts_naive_us": (pa.array([TS, None], pa.timestamp("us")), True),
    "ts_utc_us": (pa.array([TS, None], pa.timestamp("us", tz="UTC")), True),
    "ts_naive_ms": (pa.array([TS, None], pa.timestamp("ms")), True),
    "ts_ns": (pa.array([TS, None], pa.timestamp("ns")), False),
    "day": (pa.array([TS.date(), None], pa.date32()), True),
    "amount": (pa.array([decimal.Decimal("12.34"), None], pa.decimal128(9, 2)), True),
    "tiny": (pa.array([1, None], pa.int8()), True),
    "small": (pa.array([1, None], pa.int16()), True),
    "unsigned": (pa.array([1, None], pa.uint32()), False),
    "vec": (pa.array([[1.0, 2.0], None], pa.list_(pa.float32())), True),
    "blob": (pa.array([b"\x00\x01", None], pa.binary()), True),
}


def _schema_or_error(read):
    try:
        return read().schema
    except Exception as e:  # noqa: BLE001 -- both paths must fail alike
        return type(e).__name__


def _assert_same_schema(spark, sf_dir, table):
    path = f"{sf_dir}/{table}.parquet"
    want = _schema_or_error(lambda: spark.read.parquet(path))
    got = _schema_or_error(lambda: Q.load(spark, sf_dir, table))
    assert got == want, (path, got, want)


def _jobs_started(spark, action) -> int:
    sc = spark.sparkContext
    group = f"load-jobs-{id(action)}"
    sc.setJobGroup(group, "count the jobs a read starts")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def ntz_conf(spark):
    old = spark.conf.get(NTZ)
    yield
    spark.conf.set(NTZ, old)


def test_load_matches_inference_on_every_testdata_table(spark):
    paths = sorted(glob.glob(f"{TESTDATA}/*/*.parquet"))
    if not paths:
        pytest.skip(f"{TESTDATA} has no parquet tables")
    for path in paths:
        sf_dir, name = os.path.split(path)
        table = name[: -len(".parquet")]
        assert Q._footer(spark, path) is not None, path
        _assert_same_schema(spark, sf_dir, table)


@pytest.mark.parametrize("ntz", ["true", "false"])
@pytest.mark.parametrize("column", sorted(COLUMNS))
def test_load_matches_inference_per_type(spark, tmp_path, ntz_conf, column, ntz):
    arr, footer_path = COLUMNS[column]
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64()), column: arr}),
                   tmp_path / "t.parquet")
    spark.conf.set(NTZ, ntz)
    assert (Q._footer(spark, str(tmp_path / "t.parquet")) is not None) == footer_path
    _assert_same_schema(spark, str(tmp_path), "t")


def test_load_falls_back_on_int96(spark, tmp_path):
    pq.write_table(pa.table({"ts": pa.array([TS], pa.timestamp("us"))}),
                   tmp_path / "t.parquet", use_deprecated_int96_timestamps=True)
    assert Q._footer(spark, str(tmp_path / "t.parquet")) is None
    _assert_same_schema(spark, str(tmp_path), "t")


def test_load_falls_back_on_spark_written_directory(spark, tmp_path):
    df = spark.range(100).selectExpr(
        "id", "cast(id as string) as s", "timestamp_seconds(id) as ts",
        "array(cast(id as float)) as vec",
    ).withMetadata("id", {"comment": "row id"})  # kept only in Spark's own footer schema
    df.repartition(3).write.parquet(str(tmp_path / "t.parquet"))
    assert Q._footer(spark, str(tmp_path / "t.parquet")) is None
    _assert_same_schema(spark, str(tmp_path), "t")
    assert Q.load(spark, str(tmp_path), "t").count() == 100
    # One part file on its own still carries Spark's schema in its footer,
    # which Spark's inference prefers: also left to Spark.
    part = next((tmp_path / "t.parquet").glob("part-*.parquet"))
    part.rename(tmp_path / "one.parquet")
    assert Q._footer(spark, str(tmp_path / "one.parquet")) is None
    _assert_same_schema(spark, str(tmp_path), "one")


def test_load_falls_back_under_binary_as_string(spark, tmp_path):
    key = "spark.sql.parquet.binaryAsString"
    pq.write_table(pa.table({"blob": COLUMNS["blob"][0]}), tmp_path / "t.parquet")
    spark.conf.set(key, "true")
    try:
        assert Q._footer(spark, str(tmp_path / "t.parquet")) is None
        _assert_same_schema(spark, str(tmp_path), "t")
    finally:
        spark.conf.unset(key)


def test_single_file_load_starts_no_spark_job(spark, tmp_path):
    table = pa.table({"k": pa.array(range(10), pa.int64())})
    pq.write_table(table, tmp_path / "t.parquet")
    (tmp_path / "d" / "t.parquet").mkdir(parents=True)
    pq.write_table(table, tmp_path / "d" / "t.parquet" / "part-0.parquet")
    assert _jobs_started(spark, lambda: Q.load(spark, str(tmp_path), "t")) == 0
    # Spark's inference (the directory path) does start one, so the
    # count above can see jobs.
    assert _jobs_started(spark, lambda: Q.load(spark, str(tmp_path / "d"), "t")) >= 1


SPREAD_QUERIES = [
    "multimodal_wav_features", "multimodal_png_thumbnails", "multimodal_jpeg_features",
    "doc_span_dedup", "doc_span_dedup_keepone", "doc_gopher_quality", "doc_c4_filters",
]


def test_spread_queries_repartition_as_before(spark, monkeypatch):
    """The footer's row-group count makes the same repartition decision
    for every ``spread=True`` read that the scan's split count made."""
    sf_dirs = sorted(d for d in glob.glob(f"{TESTDATA}/sf*") if os.path.isdir(d))
    if not sf_dirs:
        pytest.skip(f"{TESTDATA} has no scale factors")
    p = spark.sparkContext.defaultParallelism
    load = Q.load
    seen = []

    def recording_load(spark_, sf_dir, table, spread=False):
        df = load(spark_, sf_dir, table, spread=spread)
        if spread:
            plan = df._jdf.queryExecution().logical().getClass().getSimpleName()
            before = spark.read.parquet(f"{sf_dir}/{table}.parquet").rdd.getNumPartitions() < p
            seen.append((sf_dir, table, plan == "Repartition", before))
        return df

    monkeypatch.setattr(Q, "load", recording_load)
    for sf_dir in sf_dirs:
        for name in SPREAD_QUERIES:
            n = len(seen)
            Q.QUERIES[name](spark, sf_dir)
            assert len(seen) == n + 1, name  # each reads one table with spread
    assert all(now == before for _, _, now, before in seen), seen
