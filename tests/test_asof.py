"""asof_join semantics on hand-built cases (the oracle-parity test
covers the events table; these pin the edge cases)."""

from __future__ import annotations

import datetime as dt

from sales_data_pipeline_spark.operators.asof import asof_join


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _frames(spark):
    left = spark.createDataFrame(
        [(1, 100, _ts(10)), (2, 100, _ts(5)), (3, 100, _ts(0)), (4, 200, _ts(50))],
        "id long, k long, t timestamp",
    )
    right = spark.createDataFrame(
        [(100, _ts(5), 1.0), (100, _ts(8), 2.0), (100, _ts(20), 9.0), (300, _ts(0), 7.0)],
        "k long, t timestamp, v double",
    )
    return left, right


def test_asof_picks_latest_prior(spark):
    left, right = _frames(spark)
    out = {
        r.id: (r.t_asof, r.v_asof)
        for r in asof_join(left, right, "k", "t", "t", ["v"]).collect()
    }
    assert out[1] == (_ts(8), 2.0)  # latest of {5, 8} ≤ 10
    assert out[2] == (_ts(5), 1.0)  # equal timestamp IS visible (non-strict)
    assert out[3] == (None, None)  # no prior right row
    assert out[4] == (None, None)  # key with no right rows at all (left join)


def test_asof_strict_excludes_equal_ts(spark):
    left, right = _frames(spark)
    out = {
        r.id: (r.t_asof, r.v_asof)
        for r in asof_join(left, right, "k", "t", "t", ["v"], strict=True).collect()
    }
    assert out[2] == (None, None)  # t=5 right row no longer visible at t=5
    assert out[1] == (_ts(8), 2.0)  # strictly-prior rows unaffected


def test_asof_preserves_left_rowcount(spark):
    left, right = _frames(spark)
    assert asof_join(left, right, "k", "t", "t", ["v"]).count() == left.count()


def test_asof_composite_key(spark):
    """Composite (k1, k2) keys: matches only within the exact pair."""
    left = spark.createDataFrame(
        [(1, 100, "x", _ts(10)), (2, 100, "y", _ts(10)), (3, 200, "x", _ts(10))],
        "id long, k1 long, k2 string, t timestamp",
    )
    right = spark.createDataFrame(
        [(100, "x", _ts(5), 1.0), (100, "y", _ts(6), 2.0), (200, "x", _ts(7), 3.0),
         (100, "x", _ts(50), 9.0)],
        "k1 long, k2 string, t timestamp, v double",
    )
    out = {
        r.id: r.v_asof
        for r in asof_join(left, right, ["k1", "k2"], "t", "t", ["v"]).collect()
    }
    assert out == {1: 1.0, 2: 2.0, 3: 3.0}, out


def test_asof_nearest_matches_pandas_merge_asof(spark):
    """asof_join_nearest == pandas merge_asof(direction='nearest') on
    generated tie-free data (ties carry our own documented prior-wins
    rule, tested separately)."""
    import numpy as np
    import pandas as pd

    from sales_data_pipeline_spark.operators.asof import asof_join_nearest

    rng = np.random.RandomState(11)
    # left at even offsets, right at odd offsets -> |delta| never ties
    left_pd = pd.DataFrame({
        "eid": range(40),
        "key": rng.randint(0, 3, 40),
        "t": np.sort(rng.choice(np.arange(0, 4000, 2), 40, replace=False)),
    })
    right_pd = pd.DataFrame({
        "key": rng.randint(0, 3, 30),
        "rt": np.sort(rng.choice(np.arange(1, 4001, 2), 30, replace=False)),
        "val": rng.randint(0, 1000, 30).astype("float64"),
    })
    want = pd.merge_asof(
        left_pd.sort_values("t"),
        right_pd.sort_values("rt"),
        left_on="t", right_on="rt", by="key", direction="nearest",
    ).set_index("eid")

    left = spark.createDataFrame(left_pd)
    right = spark.createDataFrame(right_pd)
    got = {
        r.eid: (r.rt_asof, r.val_asof)
        for r in asof_join_nearest(
            left, right, key="key", left_id="eid",
            left_ts="t", right_ts="rt", right_payload=["val"],
        ).collect()
    }
    for eid in left_pd["eid"]:
        w_rt = want.loc[eid, "rt"]
        w_val = want.loc[eid, "val"]
        g_rt, g_val = got[eid]
        if pd.isna(w_rt):
            assert g_rt is None, (eid, g_rt)
        else:
            assert g_rt == w_rt and g_val == w_val, (eid, g_rt, w_rt)


def test_asof_nearest_tie_prefers_prior(spark):
    from sales_data_pipeline_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame([(1, 1, 100)], "eid long, key long, t long")
    right = spark.createDataFrame(
        [(1, 90, 7.0), (1, 110, 9.0)], "key long, rt long, val double"
    )
    (row,) = asof_join_nearest(
        left, right, key="key", left_id="eid",
        left_ts="t", right_ts="rt", right_payload=["val"],
    ).collect()
    assert row.rt_asof == 90 and row.val_asof == 7.0  # equidistant → prior
