"""MERGE operators: SCD2 and CDC-log semantics, and the
no-base-shuffle plan contract (the whole point at 100 TB)."""

from __future__ import annotations

import re

from sales_data_pipeline_spark.operators.merge import scd2_merge


def _base(spark):
    return spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        "id long, name string, bal double",
    )


def _changes(spark):
    return spark.createDataFrame(
        [(2, "bob", 99.0), (4, "dan", 5.0)], "id long, name string, bal double"
    )


def test_scd2_merge_keeps_history(spark):
    rows = scd2_merge(_base(spark), _changes(spark), ["id"]).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.id, []).append(r)
    # superseded base row closed out, change row current
    v2 = {r.version: r for r in by_key[2]}
    assert v2[0].is_current is False and v2[0].bal == 20.0
    assert v2[1].is_current is True and v2[1].bal == 99.0
    # untouched base rows stay current at version 0
    assert [(r.version, r.is_current) for r in by_key[1]] == [(0, True)]
    # insert appears only as version 1, current
    assert [(r.version, r.is_current) for r in by_key[4]] == [(1, True)]
    assert len(rows) == 5  # 3 base + 2 changes, nothing dropped


def _plan(df):
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_merge_never_shuffles_base(spark):
    """scd2_merge must resolve to a broadcast join of the change keys;
    its single exchange is the distinct over the SMALL change batch,
    never the base."""
    scd2 = _plan(scd2_merge(_base(spark), _changes(spark), ["id"]))
    shuffles = re.findall(r"Arguments: hashpartitioning\((\w+)", scd2)
    assert shuffles == ["id"], scd2  # only the change-key distinct
    assert "BroadcastHashJoin" in scd2, scd2


def test_group_centroids_hand_case(spark):
    from sales_data_pipeline_spark.operators.similarity import group_centroids

    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 6.0]), ("b", [5.0, 5.0])],
        "label string, embedding array<double>",
    )
    got = {r.label: r for r in group_centroids(df, "label").collect()}
    assert got["a"].n_vecs == 2 and got["a"].centroid == [2.0, 4.0]
    assert got["b"].n_vecs == 1 and got["b"].centroid == [5.0, 5.0]


# ---------------------------------------------------------------------------
# CDC log apply
# ---------------------------------------------------------------------------


def test_apply_cdc_log_semantics(spark):
    from sales_data_pipeline_spark.operators.merge import apply_cdc_log

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], "k long, v double"
    )
    # k=1 updated twice (later version wins), k=2 deleted,
    # k=3 deleted then re-inserted (resurrection), k=5 fresh insert,
    # k=4 untouched
    log = spark.createDataFrame(
        [
            (1, "U", 11.0, 1, 0),
            (1, "U", 12.0, 2, 0),
            (2, "D", None, 1, 0),
            (3, "D", None, 1, 0),
            (3, "I", 33.0, 2, 0),
            (5, "I", 55.0, 1, 0),
        ],
        "k long, op string, v double, ver int, seq int",
    )
    got = {
        r.k: r.v
        for r in apply_cdc_log(
            base, log, keys=["k"], version_cols=("ver", "seq")
        ).collect()
    }
    assert got == {1: 12.0, 3: 33.0, 4: 40.0, 5: 55.0}


def test_apply_cdc_log_version_tiebreak_is_total(spark):
    from sales_data_pipeline_spark.operators.merge import apply_cdc_log

    base = spark.createDataFrame([(1, 0.0)], "k long, v double")
    # same ver — seq breaks the tie deterministically
    log = spark.createDataFrame(
        [(1, "U", 7.0, 5, 1), (1, "U", 9.0, 5, 2)],
        "k long, op string, v double, ver int, seq int",
    )
    out = apply_cdc_log(base, log, keys=["k"], version_cols=("ver", "seq"))
    assert [r.v for r in out.collect()] == [9.0]


def test_apply_cdc_log_base_never_shuffles(spark):
    """The base side must reach the anti join with no exchange —
    the property that makes log-apply viable on a huge snapshot."""
    from sales_data_pipeline_spark.operators.merge import apply_cdc_log

    base = spark.createDataFrame([(i, float(i)) for i in range(100)], "k long, v double")
    log = spark.createDataFrame(
        [(1, "U", 1.5, 1, 0)], "k long, op string, v double, ver int, seq int"
    )
    plan = apply_cdc_log(
        base, log, keys=["k"], version_cols=("ver", "seq")
    )._jdf.queryExecution().executedPlan().toString()
    import re

    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the base side streams straight from its scan into the anti join —
    # the only shuffles in the plan are the two tiny LOG-side
    # aggregations (touched-keys distinct + max_by collapse)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2
    anti = plan.split("LeftAnti")[1]
    base_branch = anti.splitlines()[1]
    assert "Scan" in base_branch and "Exchange" not in base_branch
