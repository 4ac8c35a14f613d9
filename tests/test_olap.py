"""OLAP pattern tests: sessionization, top-K per group, as-of join."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kgtk_spark.textops.olap import asof_join, session_stats, sessionize, topk_per_group


def ts(minute):
    return dt.datetime(2024, 1, 1, 10, minute)


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [(1, ts(0)), (1, ts(5)), (1, ts(50)), (2, ts(0))],
        "user_id long, ts timestamp",
    )
    out = {(r["user_id"], str(r["ts"].minute)): r["session_id"]
           for r in sessionize(df, gap_minutes=30).collect()}
    assert out[(1, "0")] == out[(1, "5")] == "1-0"
    assert out[(1, "50")] == "1-1"   # 45-min gap → new session
    assert out[(2, "0")] == "2-0"

    stats = {r["session_id"]: r for r in session_stats(df, gap_minutes=30).collect()}
    assert stats["1-0"]["n_events"] == 2
    assert stats["1-0"]["duration_sec"] == 300


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)],
        "grp string, id long, v double",
    )
    out = topk_per_group(df, ["grp"], "v", k=2, tiebreak_cols=["id"]).collect()
    got = {(r["grp"], r["id"]): r["rank_in_group"] for r in out}
    assert got == {("a", 2): 1, ("a", 3): 2, ("b", 4): 1}


def test_asof_join_backward(spark):
    clicks = spark.createDataFrame(
        [(1, "c1", ts(10)), (1, "c2", ts(40)), (2, "c3", ts(5))],
        "user_id long, event_id string, ts timestamp",
    )
    purchases = spark.createDataFrame(
        [(1, ts(0), ts(0)), (1, ts(30), ts(30))],
        "user_id long, ts timestamp, purchase_ts timestamp",
    )
    out = {r["event_id"]: r["asof_purchase_ts"] for r in
           asof_join(clicks, purchases, on="user_id").collect()}
    assert out["c1"] == ts(0)    # latest purchase ≤ 10:10
    assert out["c2"] == ts(30)   # latest purchase ≤ 10:40
    assert out["c3"] is None     # user 2 never purchased


def test_asof_join_forward_and_nearest(spark):
    clicks = spark.createDataFrame(
        [(1, "c1", ts(10)), (1, "c2", ts(40)), (1, "c3", ts(30)), (2, "c4", ts(5))],
        "user_id long, event_id string, ts timestamp",
    )
    purchases = spark.createDataFrame(
        [(1, ts(0), "p0"), (1, ts(30), "p30")],
        "user_id long, ts timestamp, pid string",
    )

    fwd = {r["event_id"]: r["asof_pid"] for r in
           asof_join(clicks, purchases, on="user_id", direction="forward").collect()}
    assert fwd["c1"] == "p30"   # earliest purchase ≥ 10:10
    assert fwd["c2"] is None    # nothing after 10:40
    assert fwd["c3"] == "p30"   # equal timestamps match forward
    assert fwd["c4"] is None

    near = {r["event_id"]: r["asof_pid"] for r in
            asof_join(clicks, purchases, on="user_id", direction="nearest").collect()}
    assert near["c1"] == "p0"    # 10 min back vs 20 min fwd
    assert near["c2"] == "p30"   # only backward exists
    assert near["c3"] == "p30"   # exact match
    assert near["c4"] is None

    # equidistant ties go backward (pandas merge_asof semantics)
    mid = spark.createDataFrame(
        [(1, "m", ts(15))], "user_id long, event_id string, ts timestamp"
    )
    tie = asof_join(mid, purchases, on="user_id", direction="nearest").collect()
    assert tie[0]["asof_pid"] == "p0"

    with pytest.raises(ValueError):
        asof_join(clicks, purchases, on="user_id", direction="sideways")


def test_funnel_depth_ordering(spark):
    from kgtk_spark.textops.olap import funnel_depth

    ev = spark.createDataFrame(
        [
            # user 1: full ordered funnel
            (1, "view", ts(0)), (1, "click", ts(5)), (1, "purchase", ts(10)),
            # user 2: purchase BEFORE view/click → depth stops at 2
            (2, "purchase", ts(0)), (2, "view", ts(5)), (2, "click", ts(10)),
            # user 3: view only
            (3, "view", ts(1)),
            # user 4: click without a prior view → depth 0
            (4, "click", ts(1)),
            # user 5: click at the SAME instant as view → strict order fails
            (5, "view", ts(2)), (5, "click", ts(2)),
        ],
        "user_id long, event_type string, ts timestamp",
    )
    out = {r["user_id"]: r["funnel_depth"] for r in
           funnel_depth(ev, ["view", "click", "purchase"]).collect()}
    assert out == {1: 3, 2: 2, 3: 1, 4: 0, 5: 1}


def test_cohort_retention(spark):
    import datetime as dtm

    from kgtk_spark.textops.olap import cohort_retention

    def at(day, hour=1):
        return dtm.datetime(2024, 1, day, hour)

    ev = spark.createDataFrame(
        [
            (1, at(1)), (1, at(1, 5)), (1, at(3)),   # cohort 1/1, back day 2
            (2, at(1)), (2, at(2)),                   # cohort 1/1, back day 1
            (3, at(2)),                               # cohort 1/2 only
        ],
        "user_id long, ts timestamp",
    )
    out = {(str(r["cohort_date"]), r["day_offset"]): r["n_users"]
           for r in cohort_retention(ev).collect()}
    assert out[("2024-01-01", 0)] == 2
    assert out[("2024-01-01", 1)] == 1
    assert out[("2024-01-01", 2)] == 1
    assert out[("2024-01-02", 0)] == 1
    assert len(out) == 4


def test_asof_join_nearest_subsecond(spark):
    """Nearest must compare at microsecond resolution, not whole seconds.

    Regression: the distance compare used cast('long'), truncating
    timestamps to epoch seconds — within one second every distance was 0
    and the backward tie rule fired even when forward was closer.
    """
    def us(micro):
        return dt.datetime(2024, 1, 1, 10, 0, 0, micro)

    clicks = spark.createDataFrame(
        # 400ms after p_back, 100ms before p_fwd → nearest is forward
        [(1, "c1", us(400_000)),
         # 100ms after p_back, 400ms before p_fwd → nearest is backward
         (1, "c2", us(100_000)),
         # exactly equidistant (250ms each way) → tie goes backward
         (1, "c3", us(250_000))],
        "user_id long, event_id string, ts timestamp",
    )
    purchases = spark.createDataFrame(
        [(1, us(0), "p_back"), (1, us(500_000), "p_fwd")],
        "user_id long, ts timestamp, pid string",
    )
    near = {r["event_id"]: r["asof_pid"] for r in
            asof_join(clicks, purchases, on="user_id", direction="nearest").collect()}
    assert near["c1"] == "p_fwd"
    assert near["c2"] == "p_back"
    assert near["c3"] == "p_back"


def test_range_join_matches_theta_join(spark):
    from kgtk_spark.textops.olap import range_join

    ev = spark.createDataFrame(
        [
            (1, 100, "2024-01-01 00:30:00"),
            (1, 101, "2024-01-01 12:00:00"),
            (1, 102, "2024-01-02 06:00:00"),  # outside user 1's interval
            (2, 200, "2024-01-05 00:00:00"),
        ],
        "user_id long, event_id long, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    iv = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
            (2, "2024-01-04 23:00:00", "2024-01-05 01:00:00"),
        ],
        "user_id long, s string, e string",
    ).select(
        "user_id", F.to_timestamp("s").alias("start_ts"), F.to_timestamp("e").alias("end_ts")
    )
    got = {
        (r["user_id"], r["event_id"])
        for r in range_join(
            ev, iv, "ts", "start_ts", "end_ts", on=["user_id"], bucket_seconds=3600
        ).collect()
    }
    expect = {
        (r["user_id"], r["event_id"])
        for r in ev.join(iv, "user_id")
        .filter((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")))
        .collect()
    }
    assert got == expect == {(1, 100), (1, 101), (2, 200)}


def test_hypertable_rollup_levels_compose(spark):
    from kgtk_spark.textops.olap import hypertable_rollup

    ev = spark.createDataFrame(
        [
            ("a", "2024-01-01 10:15:00", 1.0),
            ("a", "2024-01-01 10:45:00", 3.0),
            ("a", "2024-01-01 23:00:00", 5.0),
            ("a", "2024-01-02 01:00:00", 7.0),
            ("b", "2024-01-01 10:00:00", 10.0),
        ],
        "event_type string, ts_s string, value double",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = hypertable_rollup(ev, "ts", ["event_type"], "value", ("hour", "day"))
    rows = {(r["granularity"], r["event_type"], str(r["bucket"])): r for r in out.collect()}
    h = rows[("hour", "a", "2024-01-01 10:00:00")]
    assert h["n"] == 2 and h["sum_value"] == 4.0
    assert h["min_value"] == 1.0 and h["max_value"] == 3.0
    d = rows[("day", "a", "2024-01-01 00:00:00")]
    assert d["n"] == 3 and d["sum_value"] == 9.0
    assert d["min_value"] == 1.0 and d["max_value"] == 5.0
    d2 = rows[("day", "a", "2024-01-02 00:00:00")]
    assert d2["n"] == 1 and d2["sum_value"] == 7.0


def test_kmv_sketch_accuracy_and_merge(spark):
    from kgtk_spark.textops.olap import hypertable_rollup  # noqa: F401
    from kgtk_spark.textops.sketches import kmv_distinct

    rows = [("g1", f"user{i}") for i in range(1000)] + [
        ("g2", f"user{i}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, "grp string, uid string")
    est = {
        r["grp"]: r["distinct_estimate"]
        for r in kmv_distinct(df, ["grp"], "uid", k=64).collect()
    }
    # under k distinct → exact
    assert est["g2"] == 30.0
    # 1000 distinct at k=64: ~1/sqrt(64) = 12.5% expected error; allow 3x
    assert abs(est["g1"] - 1000) / 1000 < 0.375


def test_group_percentiles_approx_matches_exact(spark):
    """exact=False (the 100 TB sketch path) must agree with the exact
    percentile aggregate within the sketch's rank-error tolerance on
    the events fixture — r5 review item #5."""
    from kgtk_spark.textops.olap import group_percentiles

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = {
        (r["event_type"], r["p"]): r["percentile_value"]
        for r in group_percentiles(ev).collect()
    }
    approx = {
        (r["event_type"], r["p"]): r["percentile_value"]
        for r in group_percentiles(ev, exact=False, accuracy=10_000).collect()
    }
    assert set(exact) == set(approx)
    vals = ev.agg(F.min("value"), F.max("value")).first()
    spread = float(vals[1] - vals[0])
    for key, ev_exact in exact.items():
        # rank error ~1/accuracy; allow 1% of the value range as slack
        assert abs(approx[key] - ev_exact) <= 0.01 * spread + 1e-9, key
