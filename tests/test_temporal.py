"""asof_join / range_join — the temporal-join operators
(spark/temporal.py). asof semantics are cross-checked against
pandas.merge_asof (an independent implementation); range_join against a
brute-force quadratic join."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from shapely_spark.spark.temporal import asof_join, range_join


def _frames(seed=11, n_left=400, n_right=120, n_keys=7):
    rng = np.random.default_rng(seed)
    left = pd.DataFrame({
        "k": rng.integers(0, n_keys, n_left),
        "ts": rng.integers(0, 10_000, n_left).astype(np.int64),
        "lv": np.arange(n_left),
    })
    right = pd.DataFrame({
        "k": rng.integers(0, n_keys, n_right),
        "ts": rng.integers(0, 10_000, n_right).astype(np.int64),
        "rv": rng.normal(size=n_right).round(3),
    }).drop_duplicates(["k", "ts"])
    return left, right


def _pandas_asof(left, right, direction, tolerance=None):
    kw = {} if tolerance is None else {"tolerance": tolerance}
    return (
        pd.merge_asof(
            left.sort_values(["ts", "lv"]).reset_index(drop=True),
            right.sort_values("ts").reset_index(drop=True),
            on="ts", by="k", direction=direction, **kw,
        )
        .sort_values("lv")["rv"]
        .tolist()
    )


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_matches_pandas_merge_asof(spark, direction):
    left, right = _frames()
    out = asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        on="k", left_ts="ts", direction=direction,
    ).orderBy("lv").collect()
    expect = _pandas_asof(left, right, direction)
    got = [r.rv for r in out]
    assert len(got) == len(expect)
    for g, e in zip(got, expect):
        assert (g is None and pd.isna(e)) or g == pytest.approx(e)


def test_asof_tolerance_and_equal_ts_match(spark):
    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 105, "b"), (1, 300, "c"), (2, 50, "d")],
        "k int, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 104, 20.0), (2, 60, 30.0)],
        "k int, ts long, rv double",
    )
    rows = {r.tag: r for r in asof_join(
        left, right, on="k", left_ts="ts", tolerance=50
    ).collect()}
    assert rows["a"].rv == 10.0          # equal ts matches (<=)
    assert rows["b"].rv == 20.0          # latest at-or-before
    assert rows["c"].rv is None          # 300-104 > tolerance
    assert rows["d"].rv is None          # right is all-after (backward)
    assert rows["a"]["__asof_ts"] == 100


def test_asof_multikey_and_collision_suffix(spark):
    left = spark.createDataFrame(
        [(1, "x", 10, 99.0)], "a int, b string, ts long, rv double"
    )
    right = spark.createDataFrame(
        [(1, "x", 5, 1.5), (1, "y", 5, 2.5)], "a int, b string, ts long, rv double"
    )
    out = asof_join(left, right, on=["a", "b"], left_ts="ts").collect()
    assert out[0].rv == 99.0 and out[0].rv_r == 1.5


def test_range_join_matches_brute_force_and_boundaries(spark):
    rng = np.random.default_rng(5)
    pts = [(int(k), int(t)) for k, t in
           zip(rng.integers(0, 4, 300), rng.integers(0, 5000, 300))]
    ivs = [(i, int(k), int(s), int(s + w)) for i, (k, s, w) in
           enumerate(zip(rng.integers(0, 4, 40), rng.integers(0, 5000, 40),
                         rng.integers(0, 2000, 40)))]
    p = spark.createDataFrame(pts, "k int, t long").withColumn("pid", F.monotonically_increasing_id())
    i = spark.createDataFrame(ivs, "iid int, k int, s long, e long")
    got = {(r.iid, r.k, r.t) for r in
           range_join(p, i, point_ts="t", start="s", end="e", on="k", bucket=128).collect()}
    brute = {(iid, k, t) for (pk, t) in pts for (iid, k, s, e) in ivs
             if pk == k and s <= t < e}
    assert got == brute and len(got) > 50
    # explicit boundary pins: start inclusive, end exclusive, empty interval
    p2 = spark.createDataFrame([(1, 100), (1, 199), (1, 200)], "k int, t long")
    i2 = spark.createDataFrame([(7, 1, 100, 200), (8, 1, 300, 300)],
                               "iid int, k int, s long, e long")
    hits = [(r.iid, r.t) for r in
            range_join(p2, i2, point_ts="t", start="s", end="e", on="k", bucket=64).collect()]
    assert sorted(hits) == [(7, 100), (7, 199)]


def test_range_join_no_key_emits_each_pair_once(spark):
    # one interval spanning many buckets must still emit one row per point
    p = spark.createDataFrame([(i * 10,) for i in range(50)], "t long")
    i = spark.createDataFrame([(0, 0, 10_000)], "iid int, s long, e long")
    out = range_join(p, i, point_ts="t", start="s", end="e", bucket=16)
    assert out.count() == 50


def test_range_join_negative_domain(spark):
    # truncation-mod bucketing is monotone for either sign; pairs must
    # still match brute force when ts straddle zero
    pts = [(k, t) for k in (0, 1) for t in range(-40, 40, 7)]
    ivs = [(0, 0, -35, -5), (1, 0, -10, 12), (2, 1, -100, 100), (3, 1, 5, 6)]
    p = spark.createDataFrame(pts, "k int, t long")
    i = spark.createDataFrame(ivs, "iid int, k int, s long, e long")
    from shapely_spark.spark.temporal import range_join
    got = {(r.iid, r.t) for r in
           range_join(p, i, point_ts="t", start="s", end="e", on="k", bucket=16).collect()}
    brute = {(iid, t) for (pk, t) in pts for (iid, k, s, e) in ivs
             if pk == k and s <= t < e}
    assert got == brute
