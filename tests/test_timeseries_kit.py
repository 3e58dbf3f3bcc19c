"""Unit tests for the time-series kit on handcrafted micro-data."""

from __future__ import annotations

import datetime as dt
import math
import re

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_evm_chain_spark.functions.timeseries import (
    ffill,
    lead_window_max,
    resample_ffill,
    resample_last,
    rolling_mean_std,
    rowwise_mean,
    rowwise_median,
    time_grid,
    zscore,
)

UTC = dt.timezone.utc


def _ts(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, second, tzinfo=UTC)


def _series(spark):
    rows = [
        ("a", _ts(0, 10), 1.0),
        ("a", _ts(0, 50), 2.0),   # same bucket, later → wins
        ("a", _ts(3, 5), 5.0),    # gap of 2 buckets → ffill
        ("b", _ts(1, 0), 10.0),
    ]
    return spark.createDataFrame(rows, "key string, ts timestamp, v double")


def test_resample_last_keeps_latest(spark):
    out = resample_last(_series(spark), ts="ts", key="key", value="v", seconds=60)
    got = {(r["key"], r["bucket_ts"].minute): r["v"] for r in out.collect()}
    assert got[("a", 0)] == 2.0
    assert got[("a", 3)] == 5.0
    assert got[("b", 1)] == 10.0


def test_time_grid_dense(spark):
    grid = time_grid(_series(spark), ts="ts", key="key", seconds=60)
    a = [r["bucket_ts"].minute for r in grid.filter("key='a'").orderBy("bucket_ts").collect()]
    assert a == [0, 1, 2, 3]
    b = [r["bucket_ts"].minute for r in grid.filter("key='b'").collect()]
    assert b == [1]


def test_resample_ffill_fills_gaps(spark):
    out = resample_ffill(_series(spark), ts="ts", key="key", value="v", seconds=60)
    a = [(r["bucket_ts"].minute, r["v"])
         for r in out.filter("key='a'").orderBy("bucket_ts").collect()]
    assert a == [(0, 2.0), (1, 2.0), (2, 2.0), (3, 5.0)]


def test_ffill_respects_key_boundaries(spark):
    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, 7.0), ("a", 3, None), ("b", 1, None)],
        "key string, t int, v double",
    )
    out = ffill(df, cols=["v"], key="key", order="t")
    got = {(r["key"], r["t"]): r["v"] for r in out.collect()}
    assert got[("a", 1)] is None       # nothing before first obs
    assert got[("a", 3)] == 7.0
    assert got[("b", 1)] is None       # b never sees a's values


def test_rolling_mean_std_min_periods(spark):
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(5)], "key string, t int, v double"
    )
    out = rolling_mean_std(df, value="v", key="key", order="t", n=3,
                           min_periods=3, ddof=0).orderBy("t").collect()
    assert out[0]["roll_mean"] is None and out[1]["roll_mean"] is None
    assert out[2]["roll_mean"] == 1.0  # mean(0,1,2)
    assert abs(out[4]["roll_std"] - 0.816496580927726) < 1e-12  # std_pop(2,3,4)


def _two_pass(vals, n, min_periods, ddof):
    """Per-window two-pass reference, shifted by the window's first
    value and with exact sums: (mean, std, all values equal) for the
    trailing n rows of each position, nulls skipped."""
    out = []
    for i in range(len(vals)):
        w = np.array([v for v in vals[max(0, i - n + 1):i + 1] if v is not None])
        if len(w) == 0 or len(w) < min_periods:
            out.append((None, None, False))
            continue
        u = w - w[0]                      # exact for nearby values
        m = math.fsum(u) / len(u)
        dof = len(w) - (0 if ddof == 0 else 1)
        s = math.sqrt(math.fsum((u - m) ** 2) / dof) if dof > 0 else None
        out.append((w[0] + m, s, bool((u == 0).all())))
    return out


def _sliding(df, *, value, key, order, n, min_periods, ddof):
    """The O(rows × n) sliding-frame formula, for null masks."""
    w = (Window.partitionBy(key) if key else Window.partitionBy()) \
        .orderBy(order).rowsBetween(-(n - 1), 0)
    std_fn = F.stddev_pop if ddof == 0 else F.stddev_samp
    cnt = F.count(value).over(w)
    return (
        df.withColumn("roll_mean", F.when(cnt >= min_periods, F.avg(value).over(w)))
        .withColumn("roll_std", F.when(cnt >= min_periods, std_fn(value).over(w)))
    )


def _assert_rolling_matches(spark, series, *, n, min_periods, ddof, keyed=True,
                            mean_tol=1e-12, std_tol=1e-9):
    rows = [(k, t, v) for k, vals in series.items() for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key string, t int, v double")
    args = dict(value="v", key="key" if keyed else None, order="t", n=n,
                min_periods=min_periods, ddof=ddof)
    got = {(r["key"], r["t"]): r for r in rolling_mean_std(df, **args)
           .withColumn("z", zscore("v", "roll_mean", "roll_std")).collect()}
    old = {(r["key"], r["t"]): r for r in _sliding(df, **args).collect()}
    for k, vals in series.items():
        for t, (m, s, const) in enumerate(_two_pass(vals, n, min_periods, ddof)):
            r, o = got[(k, t)], old[(k, t)]
            where = (k, t, n, min_periods, ddof)
            assert (r["roll_mean"] is None) == (m is None) == (o["roll_mean"] is None), where
            assert (r["roll_std"] is None) == (s is None) == (o["roll_std"] is None), where
            if m is not None:
                assert abs(r["roll_mean"] - m) <= mean_tol * max(abs(m), 1.0), where
            if s is None:
                continue
            if const:
                assert r["roll_std"] == 0.0 and r["z"] is None, where
            else:
                assert abs(r["roll_std"] - s) <= std_tol * s, where


_GAPPY = {
    # nulls inside windows, a constant run broken by a null, a jump
    "a": [1.0, None, 2.0, 2.0, None, 2.0, 5.0, None, None, 7.0, 7.0, 7.0,
          7.0, None, 3.0, 3.5, -1.0, None, 4.25, 4.25],
    # leading nulls, then values equal to the one before a null gap
    "b": [None, None, 6.0, 6.0, 6.0, None, 6.0, 1e6, 6.0, 6.0, 6.0, 6.0],
    "c": [None, None, None],
}


@pytest.mark.parametrize("n,min_periods,ddof", [
    (1, 1, 0), (1, 0, 1), (3, 3, 0), (3, 1, 1), (4, 2, 0), (50, 2, 1), (50, 0, 0),
])
def test_rolling_mean_std_nulls_match_two_pass(spark, n, min_periods, ddof):
    _assert_rolling_matches(spark, _GAPPY, n=n, min_periods=min_periods, ddof=ddof)


def test_rolling_mean_std_unkeyed(spark):
    _assert_rolling_matches(spark, {"a": _GAPPY["a"]}, n=3, min_periods=2, ddof=1,
                            keyed=False)


def test_rolling_mean_std_constant_runs_are_exact_zero(spark):
    # constant runs right after a jump and across block edges: std
    # must be exactly 0.0 and z null
    series = {"k": [0.1] * 7 + [1e9] * 11 + [0.1 + 1e-12] * 9 + [3.3] * 25}
    for n in (2, 5, 8):
        _assert_rolling_matches(spark, series, n=n, min_periods=n, ddof=0)


def test_rolling_mean_std_random_walk_precision(spark):
    rng = np.random.default_rng(11)
    walks = {
        "drift": (1e4 + np.cumsum(rng.normal(0.05, 1.0, 4000))).tolist(),
        # high level, small steps: sums about a far origin lose it all
        "level": (1e9 + np.cumsum(rng.normal(0.0, 1e-3, 4000))).tolist(),
    }
    for n in (30, 300, 1440):
        _assert_rolling_matches(spark, walks, n=n, min_periods=n, ddof=0)


def test_rolling_mean_std_plan_has_no_sliding_frame(spark):
    df = spark.createDataFrame([("a", 1, 1.0)], "key string, t int, v double")
    out = rolling_mean_std(df, value="v", key="key", order="t", n=1440)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    frames = re.findall(r"specifiedwindowframe\(RowFrame, (-?\d+|currentrow\$\(\)), "
                        r"(-?\d+|currentrow\$\(\))\)", plan)
    assert frames, plan                      # the lag(n) frames
    # two finite bounds only as lag's single-row frame, never a slide
    assert all(lo == hi for lo, hi in frames), frames


def test_lead_window_max(spark):
    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 9.0), ("a", 3, 4.0)], "key string, t int, v double"
    )
    out = lead_window_max(df, value="v", key="key", order="t", horizon=2)
    got = {r["t"]: r["lead_max"] for r in out.collect()}
    assert got[1] == 9.0 and got[2] == 4.0 and got[3] is None


def test_rowwise_mean_median_null_aware(spark):
    df = spark.createDataFrame(
        [(1.0, None, 3.0), (None, None, None)], "a double, b double, c double"
    )
    out = df.select(
        rowwise_mean(["a", "b", "c"]).alias("m"),
        rowwise_median(["a", "b", "c"]).alias("md"),
    ).collect()
    assert out[0]["m"] == 2.0 and out[0]["md"] == 2.0
    assert out[1]["m"] is None and out[1]["md"] is None
