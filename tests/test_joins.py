"""As-of join + range join (X143/X144, operators/joins.py): hand
traces for direction/tie/tolerance/NULL semantics, a pandas merge_asof
cross-check, range-band edges, and the no-nested-loop plan gate."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mahout_spark.operators.joins import asof_join, range_join
from mahout_spark.plans.audit import capture_plan


def _t(h, m=0, s=0, us=0):
    return dt.datetime(2024, 1, 1, h, m, s, us)


LEFT = [
    (1, 1, _t(10), 10.0),
    (2, 1, _t(12), 20.0),
    (3, 1, _t(8), 30.0),    # before every right row -> unmatched
    (4, 2, _t(10), 40.0),   # tie: right row at exactly 10:00 matches
    (5, 3, _t(10), 50.0),   # user with no right rows
    (6, 1, None, 60.0),     # NULL ts never matches
]
RIGHT = [
    (1, _t(9), 1.0),
    (1, _t(11), 2.0),
    (2, _t(10), 3.0),
    (2, _t(9, 59), 4.0),
    (1, None, 9.9),          # NULL ts right rows are ignored
]


def _frames(spark):
    l = spark.createDataFrame(
        LEFT, "event_id long, user_id long, ts timestamp, value double")
    r = spark.createDataFrame(
        RIGHT, "user_id long, ts timestamp, value double")
    return l, r


def test_asof_backward_hand_trace(spark):
    l, r = _frames(spark)
    got = {row["event_id"]: (row["ts_r"], row["value_r"])
           for row in asof_join(l, r, on="user_id").collect()}
    assert got[1] == (_t(9), 1.0)      # latest <= 10:00
    assert got[2] == (_t(11), 2.0)     # latest <= 12:00
    assert got[3] == (None, None)      # nothing at-or-before 08:00
    assert got[4] == (_t(10), 3.0)     # tie at equal ts matches
    assert got[5] == (None, None)      # keyless user
    assert got[6] == (None, None)      # NULL left ts
    assert len(got) == 6               # left-join row preservation


def test_asof_forward_and_tolerance(spark):
    l, r = _frames(spark)
    fwd = {row["event_id"]: (row["ts_r"], row["value_r"])
           for row in asof_join(l, r, on="user_id",
                                direction="forward").collect()}
    assert fwd[1] == (_t(11), 2.0)     # earliest >= 10:00
    assert fwd[3] == (_t(9), 1.0)      # earliest >= 08:00
    assert fwd[2] == (None, None)      # nothing after 12:00
    assert fwd[4] == (_t(10), 3.0)     # tie still matches
    assert fwd[6] == (None, None)      # NULL left ts (desc ordering)
    # 30-minute tolerance: both 1-hour-back matches void; the exact-tie
    # (gap 0) and the 1-minute-back match survive
    tol = {row["event_id"]: row["value_r"]
           for row in asof_join(l, r, on="user_id",
                                tolerance_s=1800).collect()}
    assert tol[1] is None and tol[2] is None and tol[4] == 3.0
    # widen to exactly one hour: boundary is inclusive (gap <= tol)
    tol2 = {row["event_id"]: row["value_r"]
            for row in asof_join(l, r, on="user_id",
                                 tolerance_s=3600).collect()}
    assert tol2[1] == 1.0 and tol2[2] == 2.0


def test_asof_matches_pandas_merge_asof(spark):
    import pandas as pd

    l, r = _frames(spark)
    lp = l.toPandas().dropna(subset=["ts"]).sort_values("ts")
    rp = r.toPandas().dropna(subset=["ts"]).sort_values("ts")
    want = pd.merge_asof(
        lp, rp, on="ts", by="user_id", suffixes=("", "_r"))
    wmap = {int(row.event_id): (None if pd.isna(row.value_r)
                                else float(row.value_r))
            for row in want.itertuples()}
    got = {row["event_id"]: row["value_r"]
           for row in asof_join(l, r, on="user_id").collect()
           if row["ts"] is not None}
    assert got == wmap


def test_asof_rejects(spark):
    l, r = _frames(spark)
    with pytest.raises(ValueError, match="direction"):
        asof_join(l, r, on="user_id", direction="sideways")
    with pytest.raises(ValueError, match="tolerance"):
        asof_join(l, r, on="user_id", tolerance_s=-1)
    with pytest.raises(ValueError, match="right_cols"):
        asof_join(l, r, on="user_id", right_cols=["nope"])


def test_asof_rejects_suffix_collisions(spark):
    """A left column already named like a suffixed right column would
    give the output duplicate names; both the payload and the matched
    timestamp are checked."""
    l, r = _frames(spark)
    with pytest.raises(ValueError, match=r"collide.*value_r"):
        asof_join(l.withColumn("value_r", F.lit(0.0)), r, on="user_id")
    with pytest.raises(ValueError, match=r"collide.*ts_r"):
        asof_join(l.withColumn("ts_r", F.col("ts")), r, on="user_id")
    # a different suffix clears the clash
    out = asof_join(l.withColumn("value_r", F.lit(0.0)), r, on="user_id",
                    suffix="_right")
    assert {"value_r", "value_right", "ts_right"} <= set(out.columns)


def test_range_join_bands_and_edges(spark):
    rows = [(1, 0.0), (2, 5.0), (3, 7.5), (4, -3.0), (5, None),
            (6, 100.0), (7, 100.0001)]
    left = spark.createDataFrame(rows, "id long, value double")
    bands = spark.createDataFrame(
        [(0.0, 5.0, "low"), (5.0, 20.0, "mid"), (0.0, 100.0, "wide"),
         (-10.0, -1.0, "neg")],
        "lo double, hi double, band string")
    for w in (1.0, 3.0, 64.0):
        got = sorted((r["id"], r["band"]) for r in
                     range_join(left, bands, "value",
                                bin_width=w).collect())
        assert got == [(1, "low"), (1, "wide"), (2, "low"), (2, "mid"),
                       (2, "wide"), (3, "mid"), (3, "wide"),
                       (4, "neg"), (6, "wide")], w
    with pytest.raises(ValueError, match="bin_width"):
        range_join(left, bands, "value", bin_width=0)
    with pytest.raises(ValueError, match="missing column"):
        range_join(left, bands.drop("hi"), "value")


def test_join_plans_have_no_nested_loop(spark):
    l, r = _frames(spark)
    bands = spark.createDataFrame(
        [(0.0, 50.0, "a")], "lo double, hi double, band string")
    p_r = capture_plan(range_join(l, bands, "value", bin_width=8.0))
    assert "BroadcastNestedLoopJoin" not in p_r
    assert "CartesianProduct" not in p_r
    # the as-of plan is a union + ONE keyed window — no join at all
    p_a = capture_plan(asof_join(l, r, on="user_id"))
    assert "Join" not in p_a and "Window" in p_a
