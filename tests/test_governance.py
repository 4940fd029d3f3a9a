"""Governance & training-set-assembly operators: PII redaction,
snapshot diff, quantized embedding dedup, shard assignment, mixture
weights — hand cases and invariants the oracle-parity sweep can't
isolate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_data_pipeline_spark.operators.assemble import (
    mixture_weights,
    shard_assignment,
)
from sales_data_pipeline_spark.operators.merge import snapshot_diff
from sales_data_pipeline_spark.operators.redact import redact_pii
from sales_data_pipeline_spark.operators.similarity import quantized_dupe_groups


# --- redact_pii --------------------------------------------------------------


def test_redact_pii_hand_case(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.smith+x@corp.example.org or 555-123-4567 ok"),
            (2, "server 192.168.1.254 and ssn 123-45-6789"),
            (3, "no pii here at all"),
            (4, "two mails a@b.io c@d.co plus 10.0.0.1"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert (got[1].n_email, got[1].n_phone) == (1, 1)
    assert got[1].clean_text == "mail me at <EMAIL> or <PHONE> ok"
    assert (got[2].n_ip, got[2].n_ssn) == (1, 1)
    assert got[2].clean_text == "server <IP> and ssn <SSN>"
    assert got[3].n_pii == 0 and got[3].clean_text == "no pii here at all"
    assert (got[4].n_email, got[4].n_ip, got[4].n_pii) == (2, 1, 3)


def test_redact_pii_disjoint_patterns(spark):
    """A phone (3-3-4) must not double-count as an SSN (3-2-4) and vice
    versa; an IPv4 quad is neither."""
    df = spark.createDataFrame(
        [(1, "call 555-123-4567 ssn 987-65-4321 host 1.2.3.4")],
        "doc_id long, text string",
    )
    r = redact_pii(df).collect()[0]
    assert (r.n_phone, r.n_ssn, r.n_ip, r.n_email) == (1, 1, 1, 0)
    assert r.n_pii == 3
    assert r.clean_text == "call <PHONE> ssn <SSN> host <IP>"


def test_redact_pii_is_map_only(spark):
    """No Exchange anywhere — redaction rides the scan."""
    df = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("a@b.co x").alias("text")
    )
    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- snapshot_diff -----------------------------------------------------------


def _snap(spark, rows):
    return spark.createDataFrame(rows, "k long, status string, price double")


def test_snapshot_diff_classifies_all_four(spark):
    old = _snap(spark, [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0), (5, None, 50.0)])
    new = _snap(spark, [(1, "A", 10.0), (2, "B", 25.0), (4, "D", 40.0), (5, "E", 50.0)])
    got = {
        r.k: r
        for r in snapshot_diff(
            old, new, ["k"], compare_cols=["status", "price"], include_unchanged=True
        ).collect()
    }
    assert got[1].status == "unchanged" and got[1].changed_cols == ""
    assert got[2].status == "changed" and got[2].changed_cols == "price"
    assert got[3].status == "removed"
    assert got[4].status == "added"
    # NULL -> value is a change (null-safe compare)
    assert got[5].status == "changed" and got[5].changed_cols == "status"
    assert got[2].price_old == 20.0 and got[2].price_new == 25.0


def test_snapshot_diff_excludes_unchanged_by_default(spark):
    old = _snap(spark, [(1, "A", 10.0), (2, "B", 20.0)])
    new = _snap(spark, [(1, "A", 10.0), (2, "B", 21.0)])
    got = snapshot_diff(old, new, ["k"]).collect()
    assert [r.k for r in got] == [2]
    assert got[0].changed_cols == "price"


# --- quantized_dupe_groups ---------------------------------------------------


def test_quantized_dupes_groups_and_boundaries(spark):
    df = spark.createDataFrame(
        [
            (1, [0.10, 0.20]),  # cell (0,0)
            (2, [0.11, 0.21]),  # same cell -> dup of 1
            (3, [0.10, 0.55]),  # 0.55*2=1.1 -> cell (0,1): boundary split
            (4, [-0.10, 0.20]),  # -0.2 -> floor -1: sign matters
            (5, [0.12, 0.22]),  # same cell as 1,2
        ],
        "vec_id long, v array<double>",
    )
    got = {r.vec_id: r for r in quantized_dupe_groups(df, vec_col="v", scale=2.0).collect()}
    assert set(got) == {1, 2, 5}
    assert all(r.canonical_id == 1 and r.group_size == 3 for r in got.values())


def test_quantized_dupes_no_false_groups(spark):
    df = spark.createDataFrame(
        [(1, [0.9, 0.9]), (2, [-0.9, 0.9]), (3, [0.9, -0.9])],
        "vec_id long, v array<double>",
    )
    assert quantized_dupe_groups(df, vec_col="v", scale=2.0).count() == 0


# --- shard_assignment --------------------------------------------------------


def test_shard_assignment_partition_invariance(spark):
    """(shard, pos) must be identical under different input
    partitionings — the md5 contract."""
    df = spark.range(200).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: (r.shard, r.pos) for r in shard_assignment(df, n_shards=4).collect()}
    b = {
        r.doc_id: (r.shard, r.pos)
        for r in shard_assignment(df.repartition(13), n_shards=4).collect()
    }
    assert a == b


def test_shard_assignment_positions_are_dense(spark):
    df = spark.range(100).select(F.col("id").alias("doc_id"))
    rows = shard_assignment(df, n_shards=4).collect()
    assert len(rows) == 100 and len({r.doc_id for r in rows}) == 100
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= {0, 1, 2, 3}
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


def test_shard_assignment_rejects_bad_count(spark):
    df = spark.range(1).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        shard_assignment(df, n_shards=0)


# --- mixture_weights ---------------------------------------------------------


def test_mixture_weights_math(spark):
    df = spark.createDataFrame(
        [("a", 30), ("a", 30), ("b", 20), ("c", 20)],
        "source string, n_tokens long",
    )
    got = {
        r.domain: r
        for r in mixture_weights(
            df, size_col="n_tokens", target_shares={"a": 0.5, "b": 0.5}
        ).collect()
    }
    # units: a=60, b=20, c=20, total 100
    assert got["a"].n_rows == 2 and got["a"].n_units == 60
    assert got["a"].unit_share == pytest.approx(0.6)
    assert got["a"].mix_weight == pytest.approx(0.5 / 0.6, abs=1e-6)
    assert got["b"].mix_weight == pytest.approx(0.5 / 0.2, abs=1e-6)
    # domain absent from targets is excluded (weight 0)
    assert got["c"].target_share == 0.0 and got["c"].mix_weight == 0.0


def test_mixture_weights_uniform_default(spark):
    df = spark.createDataFrame(
        [("a", 10), ("b", 30)], "source string, n_tokens long"
    )
    got = {r.domain: r for r in mixture_weights(df, size_col="n_tokens").collect()}
    assert got["a"].target_share == pytest.approx(0.5)
    assert got["a"].mix_weight == pytest.approx(0.5 / 0.25, abs=1e-6)


def test_mixture_epochs_math(spark):
    from sales_data_pipeline_spark.operators.assemble import mixture_epochs

    df = spark.createDataFrame(
        [("a", 100), ("a", 50), ("b", 10), ("c", 40)],
        "source string, n_tokens long",
    )
    got = {
        r.domain: r
        for r in mixture_epochs(
            df,
            size_col="n_tokens",
            target_shares={"a": 0.5, "b": 0.5},
            token_budget=1000.0,
            max_epochs=4.0,
        ).collect()
    }
    # a: 150 available, 500 wanted -> 3.33 epochs, inside the 4-epoch cap
    assert got["a"].available_tokens == 150
    assert got["a"].target_tokens == pytest.approx(500.0)
    assert got["a"].epochs == pytest.approx(500.0 / 150.0, abs=1e-6)
    assert got["a"].over_cap is False and got["a"].shortfall_tokens == 0.0
    # b: 10 available, 500 wanted -> 50 epochs, flagged, shortfall 500-4*10
    assert got["b"].epochs == pytest.approx(50.0)
    assert got["b"].over_cap is True
    assert got["b"].shortfall_tokens == pytest.approx(460.0)
    # c: outside the target mixture -> share 0, never flagged
    assert got["c"].target_share == 0.0 and got["c"].epochs == 0.0
    assert got["c"].over_cap is False and got["c"].shortfall_tokens == 0.0


def test_mixture_epochs_uniform_default(spark):
    from sales_data_pipeline_spark.operators.assemble import mixture_epochs

    df = spark.createDataFrame(
        [("a", 10), ("b", 30)], "source string, n_tokens long"
    )
    got = {
        r.domain: r
        for r in mixture_epochs(
            df, size_col="n_tokens", token_budget=400.0
        ).collect()
    }
    # uniform over present domains: 0.5 each -> 200 tokens per domain
    assert got["a"].epochs == pytest.approx(20.0)  # 200 / 10
    assert got["a"].over_cap is True  # 20 > 4
    assert got["a"].shortfall_tokens == pytest.approx(160.0)  # 200 - 40
    assert got["b"].epochs == pytest.approx(200.0 / 30.0, abs=1e-6)
    assert got["b"].over_cap is True  # 6.67 > 4
    assert got["b"].shortfall_tokens == pytest.approx(200.0 - 120.0)


def test_mixture_weights_zero_pool_domains(spark):
    """r11 sweep of the round-10 advice's DIVIDE_BY_ZERO class: a
    domain whose sizes sum to 0 must get a NULL mix_weight (no finite
    factor over-samples an empty pool), not a SparkArithmeticException;
    an all-zero corpus must yield NULL shares everywhere."""
    from sales_data_pipeline_spark.operators.assemble import mixture_weights

    df = spark.createDataFrame(
        [("a", 90), ("b", 0), ("b", 0)], "source string, n_bytes long"
    )
    got = {
        r.domain: r
        for r in mixture_weights(
            df, size_col="n_bytes", target_shares={"a": 0.5, "b": 0.5}
        ).collect()
    }
    assert got["a"].unit_share == pytest.approx(1.0)
    assert got["a"].mix_weight == pytest.approx(0.5)
    assert got["b"].n_units == 0 and got["b"].unit_share == 0.0
    assert got["b"].mix_weight is None
    all_zero = spark.createDataFrame(
        [("a", 0), ("b", 0)], "source string, n_bytes long"
    )
    got = {
        r.domain: r
        for r in mixture_weights(all_zero, size_col="n_bytes").collect()
    }
    assert all(r.unit_share is None and r.mix_weight is None
               for r in got.values())


def test_unimax_allocation_waterfilling_hand_case(spark):
    """Chung et al.'s waterfilling solution on a hand-solvable input:
    caps (40, 200, 400), budget 300 → the smallest domain fills to its
    4-epoch cap (40), the other two split the residue evenly at the
    water level 130; a zero-pool domain allocates 0 with NULL epochs.
    The allocation exhausts the budget exactly and never over-caps."""
    from sales_data_pipeline_spark.operators.assemble import unimax_allocation

    df = spark.createDataFrame(
        [("a", 10), ("b", 50), ("c", 100), ("z", 0)], "source string, n long"
    )
    got = {
        r.domain: r
        for r in unimax_allocation(
            df, size_col="n", token_budget=300.0
        ).collect()
    }
    assert got["a"].alloc_tokens == pytest.approx(40.0)
    assert got["a"].at_cap is True and got["a"].epochs == pytest.approx(4.0)
    assert got["b"].alloc_tokens == pytest.approx(130.0)
    assert got["b"].at_cap is False and got["b"].epochs == pytest.approx(2.6)
    assert got["c"].alloc_tokens == pytest.approx(130.0)
    assert got["c"].epochs == pytest.approx(1.3)
    assert got["z"].alloc_tokens == 0.0 and got["z"].epochs is None
    assert sum(r.alloc_tokens for r in got.values()) == pytest.approx(300.0)
    assert all(r.epochs is None or r.epochs <= 4.0 for r in got.values())


def test_unimax_allocation_budget_exceeds_capacity(spark):
    """A budget past total 4-epoch capacity caps every domain (the
    residue is visibly unallocated) and must not divide by zero on the
    hoisted water-level branch."""
    from sales_data_pipeline_spark.operators.assemble import unimax_allocation

    df = spark.createDataFrame(
        [("a", 10), ("b", 50)], "source string, n long"
    )
    rows = unimax_allocation(df, size_col="n", token_budget=1e6).collect()
    assert all(r.at_cap for r in rows)
    assert sum(r.alloc_tokens for r in rows) == pytest.approx(240.0)
    with pytest.raises(ValueError, match="token_budget is required"):
        unimax_allocation(df, size_col="n")


def test_unimax_feeds_clean_through_the_epochs_audit(spark):
    """The constructive/audit pair: turning unimax's allocation into
    target shares and auditing it with mixture_epochs at the same
    budget and cap flags NOTHING — by construction no domain is asked
    for more than max_epochs passes."""
    from sales_data_pipeline_spark.operators.assemble import (
        mixture_epochs,
        unimax_allocation,
    )

    df = spark.createDataFrame(
        [("a", 30), ("b", 500), ("c", 90), ("d", 2)],
        "source string, n long",
    )
    budget = 900.0
    alloc = {
        r.domain: r.alloc_tokens
        for r in unimax_allocation(
            df, size_col="n", token_budget=budget
        ).collect()
    }
    shares = {d: a / budget for d, a in alloc.items()}
    audited = mixture_epochs(
        df, size_col="n", target_shares=shares, token_budget=budget
    ).collect()
    assert all(not r.over_cap for r in audited), audited


def test_mixture_epochs_token_budget_required(spark):
    # r11: the old token_budget=1.0 default silently audited a
    # one-token plan (epochs~0 everywhere, no flag ever) — now required
    from sales_data_pipeline_spark.operators.assemble import mixture_epochs

    df = spark.createDataFrame([("a", 10)], "source string, n_tokens long")
    with pytest.raises(ValueError, match="token_budget is required"):
        mixture_epochs(df, size_col="n_tokens", target_shares={"a": 1.0})
    with pytest.raises(ValueError, match="must be > 0"):
        mixture_epochs(
            df, size_col="n_tokens", target_shares={"a": 1.0}, token_budget=0.0
        )


def test_mixture_epochs_zero_pool_and_missing_domain(spark):
    # r11 (round-10 advice): a present domain whose sizes sum to 0 must
    # yield epochs NULL (not an ANSI DIVIDE_BY_ZERO crash), and a
    # target domain absent from the corpus — the worst audit case —
    # must produce a flagged row instead of silently vanishing
    from sales_data_pipeline_spark.operators.assemble import mixture_epochs

    df = spark.createDataFrame(
        [("a", 100), ("z", 0)], "source string, n_bytes long"
    )
    got = {
        r.domain: r
        for r in mixture_epochs(
            df,
            size_col="n_bytes",
            target_shares={"a": 0.25, "z": 0.25, "ghost": 0.5},
            token_budget=1000.0,
        ).collect()
    }
    assert set(got) == {"a", "z", "ghost"}
    # z present with an empty pool: 250 wanted from 0 available
    assert got["z"].available_tokens == 0
    assert got["z"].epochs is None
    assert got["z"].over_cap is True
    assert got["z"].shortfall_tokens == pytest.approx(250.0)
    # ghost absent from the corpus entirely: same zero-pool audit row
    assert got["ghost"].available_tokens == 0
    assert got["ghost"].epochs is None
    assert got["ghost"].over_cap is True
    assert got["ghost"].target_tokens == pytest.approx(500.0)
    assert got["ghost"].shortfall_tokens == pytest.approx(500.0)
    # a unaffected: 250 wanted from 100 available -> 2.5 epochs, in cap
    assert got["a"].epochs == pytest.approx(2.5)
    assert got["a"].over_cap is False and got["a"].shortfall_tokens == 0.0


# --- profile_table -----------------------------------------------------------


def test_profile_table_hand_case(spark):
    from sales_data_pipeline_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", None), (3, None, 1.5), (3, "b", 1.5)],
        "k long, s string, v double",
    )
    got = {r.col_name: r for r in profile_table(df).collect()}
    assert set(got) == {"k", "s", "v"}
    assert all(r.n_rows == 4 for r in got.values())
    assert (got["k"].n_null, got["k"].n_distinct) == (0, 3)
    assert (got["s"].n_null, got["s"].n_distinct) == (1, 2)  # distinct excludes NULL
    assert (got["v"].n_null, got["v"].n_distinct) == (1, 2)
    assert (got["k"].min_val, got["k"].max_val) == ("1", "3")
    assert (got["s"].min_val, got["s"].max_val) == ("a", "b")
    assert got["v"].min_val == "1.5"  # numeric min, not lexicographic


def test_profile_table_single_job(spark):
    """The whole profile is ONE aggregation: exactly one output stage,
    no join, no union of per-column scans."""
    from sales_data_pipeline_spark.operators.profile import profile_table

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("m"), F.lit("x").alias("s")
    )
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan and "Join" not in plan


def test_profile_table_rejects_empty_cols(spark):
    from sales_data_pipeline_spark.operators.profile import profile_table

    with pytest.raises(ValueError):
        profile_table(spark.range(1), cols=[])


# --- domain_cap ---------------------------------------------------------------


def test_domain_cap_caps_and_is_partition_invariant(spark):
    from sales_data_pipeline_spark.operators.assemble import domain_cap

    df = spark.range(300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("source")
    )
    got = domain_cap(df, cap=10).collect()
    by_dom: dict[str, set[int]] = {}
    for r in got:
        by_dom.setdefault(r.source, set()).add(r.doc_id)
        assert 1 <= r.cap_rank <= 10
    assert all(len(v) == 10 for v in by_dom.values())
    again = domain_cap(df.repartition(17), cap=10).collect()
    assert {(r.doc_id, r.cap_rank) for r in again} == {
        (r.doc_id, r.cap_rank) for r in got
    }


def test_domain_cap_keeps_small_domains_whole(spark):
    from sales_data_pipeline_spark.operators.assemble import domain_cap

    df = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny")], "doc_id long, source string"
    )
    assert domain_cap(df, cap=10).count() == 2


def test_check_expectations_counts_planted_violations(spark):
    from sales_data_pipeline_spark.operators.profile import check_expectations

    df = spark.createDataFrame(
        [
            (1, "A", 10.0),
            (2, "B", -5.0),    # range violation
            (2, "A", 20.0),    # duplicate id (2 rows in the dup group)
            (None, "Z", 30.0), # null id + bad status
        ],
        "id long, status string, amount double",
    )
    rep = {
        (r.expectation, r.column): (r.n_violations, r.status)
        for r in check_expectations(
            df,
            [
                ("not_null", "id"),
                ("unique", "id"),
                ("accepted_values", "status", ("A", "B")),
                ("range", "amount", 0, 100),
                ("row_count_min", 10),
            ],
        ).collect()
    }
    assert rep[("not_null", "id")] == (1, "fail")
    assert rep[("unique", "id")] == (2, "fail")         # both rows of id=2
    assert rep[("accepted_values", "status")] == (1, "fail")
    assert rep[("range", "amount")] == (1, "fail")
    assert rep[("row_count_min", "10")] == (1, "fail")
    # all-clean frame passes everything
    clean = spark.createDataFrame([(1, "A", 1.0), (2, "B", 2.0)],
                                  "id long, status string, amount double")
    statuses = {r.status for r in check_expectations(
        clean,
        [("not_null", "id"), ("unique", "id"), ("row_count_min", 1)],
    ).collect()}
    assert statuses == {"pass"}


def test_check_expectations_empty_rule_set_raises(spark):
    """An empty expectations list must raise, not 'pass' vacuously
    (reduce over an empty parts list used to TypeError)."""
    import pytest as _pytest

    from sales_data_pipeline_spark.operators.profile import check_expectations

    df = spark.createDataFrame([(1,)], "id long")
    with _pytest.raises(ValueError, match="no expectations"):
        check_expectations(df, [])


def test_check_expectations_row_rules_single_scan(spark, sf_dir):
    """Every per-row expectation folds into ONE aggregation over ONE
    scan — adding rules must not add passes."""
    import re as _re

    from sales_data_pipeline_spark.catalog import table as _table
    from sales_data_pipeline_spark.operators.profile import check_expectations

    orders = _table(spark, sf_dir, "orders")
    rep = check_expectations(
        orders,
        [
            ("not_null", "o_custkey"),
            ("accepted_values", "o_orderstatus", ("O", "F", "P")),
            ("range", "o_totalprice", 0, 200000),
            ("row_count_min", 1000),
        ],
    )
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        rep._jdf.queryExecution(), "formatted"
    )
    n_scans = len(_re.findall(r"^\(\d+\) Scan parquet", plan, flags=_re.M))
    assert n_scans == 1, plan


def test_mask_columns_verbs_and_contract(spark):
    from sales_data_pipeline_spark.operators.redact import mask_columns

    import pytest

    df = spark.createDataFrame(
        [(1, "Alice", 1234.56, "4111222233334444")],
        "id long, name string, bal double, card string",
    )
    out = mask_columns(
        df,
        {
            "id": "keep",
            "name": "hash",
            "bal": ("bucket", 1000),
            "card": ("last", 4),
        },
    ).collect()[0]
    import hashlib

    assert out.id == 1
    assert out.name == hashlib.md5(b"Alice").hexdigest()
    assert out.bal == 1
    assert out.card == "4444"

    # null verb keeps the slot, typed
    schema_stable = mask_columns(
        df, {"id": "keep", "name": "null", "bal": "drop", "card": "drop"}
    )
    assert schema_stable.columns == ["id", "name"]
    assert schema_stable.collect()[0].name is None
    assert schema_stable.schema["name"].dataType.typeName() == "string"

    # every column needs a decision; unknown names rejected
    with pytest.raises(ValueError, match="no policy for columns"):
        mask_columns(df, {"id": "keep"})
    with pytest.raises(ValueError, match="absent columns"):
        mask_columns(df, {"id": "keep", "name": "keep", "bal": "keep",
                          "card": "keep", "ghost": "drop"})
    with pytest.raises(ValueError, match="unknown masking verb"):
        mask_columns(df, {"id": "zap", "name": "keep", "bal": "keep",
                          "card": "keep"})


def test_unimax_allocation_invariants_random(spark):
    """Waterfilling invariants on randomized inputs (deterministic
    seed): allocations never exceed the per-domain cap, the budget is
    exhausted exactly unless total capacity binds first, and every
    uncapped domain sits at one common water level >= every capped
    domain's capacity."""
    import random

    from sales_data_pipeline_spark.operators.assemble import unimax_allocation

    rng = random.Random(11)
    for trial in range(4):
        n_dom = rng.randint(2, 9)
        rows = [(f"d{i}", rng.randint(0, 400)) for i in range(n_dom)]
        budget = float(rng.randint(50, 4000))
        got = unimax_allocation(
            spark.createDataFrame(rows, "source string, n long"),
            size_col="n",
            token_budget=budget,
            max_epochs=4.0,
        ).collect()
        caps = {r.domain: 4.0 * r.available_tokens for r in got}
        total_cap = sum(caps.values())
        allocs = {r.domain: r.alloc_tokens for r in got}
        for r in got:
            assert r.alloc_tokens <= caps[r.domain] + 1e-6, (trial, r)
            assert (r.at_cap and abs(r.alloc_tokens - caps[r.domain]) < 1e-6) \
                or (not r.at_cap), (trial, r)
        expect_total = min(budget, total_cap)
        assert sum(allocs.values()) == pytest.approx(expect_total, abs=1e-4), trial
        waters = [r.alloc_tokens for r in got if not r.at_cap]
        if waters:
            assert max(waters) - min(waters) < 1e-6, (trial, waters)
            assert min(waters) >= max(
                (caps[r.domain] for r in got if r.at_cap), default=0.0
            ) - 1e-6, trial
