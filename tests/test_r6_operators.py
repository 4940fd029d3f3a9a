"""Operator-level semantics for the round-6 additions, beyond the
DuckDB parity sweep: independent references and planted-defect
sensitivity for the KS statistic, Morton interleave, compaction
planner, table fingerprint, and passage dedup rewrite."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_morton_mask_ladder_matches_bitloop_operator(spark):
    """q254's oracle-portable mask-ladder interleave must agree with the
    existing per-bit zorder_key operator (operators/scale.py) on the
    ENTIRE 8-bit × 8-bit domain — two formulations, one curve."""
    from sales_data_pipeline_spark.operators.scale import zorder_key
    from sales_data_pipeline_spark.plans.relational import _morton_spread

    dom = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("a"), (F.col("id") / 256).cast("bigint").alias("b")
    )
    ladder = _morton_spread(F.col("a")).bitwiseOR(
        _morton_spread(F.col("b")) * F.lit(2)
    )
    mismatches = dom.select(
        ladder.alias("z1"), zorder_key("a", "b", bits=8).alias("z2")
    ).filter(F.col("z1") != F.col("z2"))
    assert mismatches.count() == 0


def test_zorder_buckets_bound_both_dimension_windows(spark):
    """The point of the layout: per-z-bucket min/max windows on BOTH
    dims stay narrow (each 256-wide z-bucket covers a 16×16 rectangle
    of the 256×256 grid), where a d1-sorted layout leaves d2 spanning
    the full domain."""
    from sales_data_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["q254_zorder_layout"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.max_d1 - r.min_d1 <= 15
        assert r.max_d2 - r.min_d2 <= 15


def test_ks_statistic_matches_python_reference(spark):
    """Exact D for each flag pair vs a direct python ECDF evaluation
    over the same parquet — an implementation-independent reference
    (numpy/pandas, no SQL)."""
    import pandas as pd

    from sales_data_pipeline_spark.plans.registry import QUERIES

    got = {
        (r.flag_a, r.flag_b): (r.d_stat, r.n_a, r.n_b)
        for r in QUERIES["q253_ks_returnflag_price"].fn(spark, SF).collect()
    }
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[["l_returnflag", "l_extendedprice"]]
    for fa, fb in [("A", "N"), ("A", "R"), ("N", "R")]:
        a = sorted(li[li.l_returnflag == fa].l_extendedprice)
        b = sorted(li[li.l_returnflag == fb].l_extendedprice)
        points = sorted(set(a) | set(b))
        import bisect

        d = max(
            abs(
                bisect.bisect_right(a, v) / len(a)
                - bisect.bisect_right(b, v) / len(b)
            )
            for v in points
        )
        d_got, n_a, n_b = got[(fa, fb)]
        assert (n_a, n_b) == (len(a), len(b))
        assert d_got == pytest.approx(d, abs=1e-12)


def test_compaction_bins_respect_prefix_bucketing_bounds(spark):
    """Prefix-bucketing contract (bin = exclusive-prefix-sum div
    target): with every file ≤ target, bins are contiguous 0..max per
    source and each bin's bytes sit within one file of the target —
    strictly above target − max_file for non-last bins (the bin spans
    a full target-width prefix window minus at most one straddling
    file) and strictly below target + max_file everywhere (overshoot
    is at most the straddling file)."""
    from sales_data_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["q255_compaction_plan"].fn(spark, SF).collect()
    target = 2048
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    max_file = {
        r.source: r.mx
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .groupBy("source")
        .agg(F.max("n_chars").alias("mx"))
        .collect()
    }
    for source, bins in by_source.items():
        # q255's output is unordered since r9 (the cosmetic global sort
        # of a data-sized plan was dropped) — order by bin here
        bins = sorted(bins, key=lambda b: b.bin)
        assert max_file[source] <= target  # precondition for contiguity
        idxs = [b.bin for b in bins]
        assert idxs == list(range(len(idxs))), source  # contiguous
        for b in bins[:-1]:
            assert b.bin_bytes > target - max_file[source], (source, b.bin)
        for b in bins:
            assert b.bin_bytes < target + max_file[source], (source, b.bin)


def test_table_fingerprint_order_invariant_and_row_sensitive(spark):
    """xor fold: any input order / partitioning gives identical
    fingerprints; mutating ONE row changes EXACTLY its bucket (and no
    other), which is what makes merkle drill-down work."""
    from sales_data_pipeline_spark.operators.profile import table_fingerprint

    rows = [(i, f"name{i}", i % 7) for i in range(200)]
    df = spark.createDataFrame(rows, "k bigint, name string, grp int")
    base = {
        r.bucket: (r.n_rows, r.fingerprint)
        for r in table_fingerprint(df, "k", ["k", "name", "grp"]).collect()
    }
    shuffled = {
        r.bucket: (r.n_rows, r.fingerprint)
        for r in table_fingerprint(
            df.orderBy(F.rand(7)).repartition(13), "k", ["k", "name", "grp"]
        ).collect()
    }
    assert base == shuffled
    mutated_rows = [(i, "MUTANT" if i == 57 else f"name{i}", i % 7) for i in range(200)]
    mutated = {
        r.bucket: (r.n_rows, r.fingerprint)
        for r in table_fingerprint(
            spark.createDataFrame(mutated_rows, "k bigint, name string, grp int"),
            "k",
            ["k", "name", "grp"],
        ).collect()
    }
    diff = {b for b in base if base[b] != mutated[b]}
    assert diff == {57 % 16}


def test_passage_dedup_rewrite_planted_duplicates(spark):
    """Planted cross-doc duplicate passages: the FIRST occurrence
    survives, later copies are cut, unique content is untouched, and
    the union of kept passages equals the distinct passage set (one
    copy of everything, nothing lost)."""
    from sales_data_pipeline_spark.operators.quality import passage_dedup_rewrite

    boiler = "x1 x2 x3 x4"  # 4-token passage shared by docs 1 and 3
    docs = spark.createDataFrame(
        [
            (1, boiler + " a1 a2 a3 a4"),
            (2, "b1 b2 b3 b4"),
            (3, boiler + " c1 c2 c3 c4"),
            (4, boiler),  # entirely boilerplate -> rewritten to ''
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in passage_dedup_rewrite(docs, chunk_tokens=4).collect()
    }
    assert out[1].new_text == boiler + " a1 a2 a3 a4"  # first occurrence keeps
    assert out[2].new_text == "b1 b2 b3 b4"
    assert out[3].new_text == "c1 c2 c3 c4"  # boilerplate cut, unique kept
    assert out[4].new_text == "" and out[4].n_kept == 0
    assert out[3].n_chunks == 2 and out[3].n_kept == 1
    # conservation: kept passages across docs == distinct passages
    kept_passages = [
        c for r in out.values() if r.new_text for c in [r.new_text]
    ]
    all_chunks = ["x1 x2 x3 x4", "a1 a2 a3 a4", "b1 b2 b3 b4", "c1 c2 c3 c4"]
    joined = " ".join(sorted(" ".join(kept_passages).split(" ")))
    assert joined == " ".join(sorted(" ".join(all_chunks).split(" ")))


def test_gopher_rules_census_totals_consistent(spark):
    """Census arithmetic: per-source failures can exceed docs only via
    multi-rule failures, and n_pass ≤ n_docs − max(single-rule fails);
    totals over sources cover the whole corpus exactly once."""
    from sales_data_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["q257_gopher_rules"].fn(spark, SF).collect()
    n_docs_total = sum(r.n_docs for r in rows)
    assert n_docs_total == spark.read.parquet(f"{SF}/documents.parquet").count()
    for r in rows:
        worst = max(
            r.fail_wordcount, r.fail_meanlen, r.fail_diversity,
            r.fail_stopwords, r.fail_repetition,
        )
        assert 0 <= r.n_pass <= r.n_docs - worst


def test_grouped_running_sum_matches_naive_window(spark):
    """The two-phase grouped scan must be BITWISE-identical to the
    plain per-group window it replaces — on data with duplicate order
    keys (ties broken by the id column), decimal values, and groups of
    very different sizes — and F.lit(1) must reproduce row_number
    exactly."""
    import random

    from decimal import Decimal

    from pyspark.sql import Window

    from sales_data_pipeline_spark.operators.scale import grouped_running_sum

    rng = random.Random(13)
    rows = [
        (i, ["x", "y", "z"][i % 3] if i < 900 else "x",
         float(rng.choice([1.0, 2.5, 2.5, 7.0, 7.0, 9.25])),
         Decimal(rng.randint(1, 50)).quantize(Decimal("0.01")))
        for i in range(1000)
    ]
    df = spark.createDataFrame(
        rows, "rid bigint, g string, v double, qty decimal(18,2)"
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v", "rid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = df.select(
        "rid",
        F.sum("qty").over(w).alias("cum"),
        F.row_number().over(Window.partitionBy("g").orderBy("v", "rid")).alias("rn"),
    )
    two_phase_cum = grouped_running_sum(
        df, ["g"], ["v", "rid"], F.col("qty"), "cum", n_buckets=7
    ).select("rid", "cum")
    two_phase_rn = grouped_running_sum(
        df, ["g"], ["v", "rid"], F.lit(1), "rn", n_buckets=7
    ).select("rid", F.col("rn").cast("int").alias("rn"))
    got = {
        r.rid: (r.cum, r.rn)
        for r in two_phase_cum.join(two_phase_rn, "rid").collect()
    }
    want = {r.rid: (r.cum, r.rn) for r in naive.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# incremental mart maintenance (operators/incremental.py, q262)
# ---------------------------------------------------------------------------


def _mart_measures():
    from pyspark.sql import functions as F

    return {
        "n_rows": F.count(F.lit(1)).cast("bigint"),
        "total": F.sum(F.col("amount").cast("decimal(12,2)")),
    }


def test_incremental_merge_equals_recompute(spark):
    """base ∪ delta folded per key == one-shot aggregate of all rows."""
    from sales_data_pipeline_spark.operators.incremental import (
        aggregate_partial,
        merge_partial_aggregates,
    )

    rows = [("a", i, f"{i}.25") for i in range(10)] + [
        ("b", i, f"{i}.75") for i in range(7)
    ]
    df = spark.createDataFrame(
        [(k, i, amt) for k, i, amt in rows], "k string, i int, amount string"
    )
    base = aggregate_partial(df.filter(F.col("i") < 5), ["k"], _mart_measures())
    delta = aggregate_partial(df.filter(F.col("i") >= 5), ["k"], _mart_measures())
    merged = merge_partial_aggregates([base, delta], ["k"])
    oneshot = aggregate_partial(df, ["k"], _mart_measures())
    got = {r.k: (r.n_rows, r.total) for r in merged.collect()}
    want = {r.k: (r.n_rows, r.total) for r in oneshot.collect()}
    assert got == want


def test_incremental_merge_retraction_roundtrip(spark):
    """A CDC delete is a sign-negated delta row; an update is a
    delete+insert pair. Applying insert → update → delete through the
    SAME fold lands the mart exactly where a recompute of the
    surviving rows would."""
    from sales_data_pipeline_spark.operators.incremental import (
        aggregate_partial,
        merge_partial_aggregates,
    )

    base_rows = spark.createDataFrame(
        [("a", "10.00"), ("a", "2.50"), ("b", "5.00")], "k string, amount string"
    )
    base = aggregate_partial(base_rows, ["k"], _mart_measures())
    # update a:2.50 -> 4.00 (retract + insert), delete b:5.00
    delta = spark.createDataFrame(
        [("a", -1, "-2.50"), ("a", 1, "4.00"), ("b", -1, "-5.00")],
        "k string, n_rows int, amount string",
    ).select(
        "k",
        F.col("n_rows").cast("bigint"),
        F.col("amount").cast("decimal(12,2)").alias("total"),
    )
    merged = merge_partial_aggregates([base, delta], ["k"]).collect()
    got = {r.k: (r.n_rows, str(r.total)) for r in merged}
    assert got["a"] == (2, "14.00")
    assert got["b"] == (0, "0.00")  # retracted to empty, not dropped


def test_incremental_merge_multi_delta_associative(spark):
    """A week of deltas folds in ONE pass: [base, d1, d2, d3] together
    equals ((base+d1)+d2)+d3."""
    from sales_data_pipeline_spark.operators.incremental import (
        aggregate_partial,
        merge_partial_aggregates,
    )

    df = spark.createDataFrame(
        [("k%d" % (i % 3), i, "%d.10" % i) for i in range(20)],
        "k string, i int, amount string",
    )
    parts = [
        aggregate_partial(df.filter((F.col("i") % 4) == j), ["k"], _mart_measures())
        for j in range(4)
    ]
    flat = merge_partial_aggregates(parts, ["k"])
    nested = parts[0]
    for p in parts[1:]:
        nested = merge_partial_aggregates([nested, p], ["k"])
    got = sorted((r.k, r.n_rows, str(r.total)) for r in flat.collect())
    want = sorted((r.k, r.n_rows, str(r.total)) for r in nested.collect())
    assert got == want
    oneshot = aggregate_partial(df, ["k"], _mart_measures())
    assert got == sorted((r.k, r.n_rows, str(r.total)) for r in oneshot.collect())


def test_incremental_merge_refuses_float_measures(spark):
    """Folding float partials is order-dependent — the operator must
    refuse rather than drift from the recompute by last-bit noise."""
    from sales_data_pipeline_spark.operators.incremental import (
        merge_partial_aggregates,
    )

    p = spark.createDataFrame([("a", 1.5)], "k string, total double")
    with pytest.raises(ValueError, match="order-dependent"):
        merge_partial_aggregates([p, p], ["k"])


def test_incremental_merge_refuses_schema_drift(spark):
    from sales_data_pipeline_spark.operators.incremental import (
        merge_partial_aggregates,
    )

    p1 = spark.createDataFrame([("a", 1)], "k string, n bigint")
    p2 = spark.createDataFrame([("a", 1)], "k string, m bigint")
    with pytest.raises(ValueError, match="schemas differ"):
        merge_partial_aggregates([p1, p2], ["k"])


# ---------------------------------------------------------------------------
# compressibility census (operators/quality.compressibility_stats, q263)
# ---------------------------------------------------------------------------


def test_compressibility_matches_python_ref(spark):
    """Spark's per-source byte totals must equal an out-of-engine
    recomputation with the same zlib — the UDF is a pure function of
    the text, so totals are exact and partition-order free."""
    import zlib

    import duckdb

    from sales_data_pipeline_spark.plans.registry import QUERIES

    got = {
        r.source: (r.n_docs, r.text_bytes, r.zlib_bytes, r.n_flagged)
        for r in QUERIES["q263_compressibility"].fn(spark, SF).collect()
    }
    rows = duckdb.connect().execute(
        f"SELECT source, text FROM '{SF}/documents.parquet' WHERE text IS NOT NULL"
    ).fetchall()
    want = {}
    for source, text in rows:
        raw = len(text.encode("utf-8"))
        if raw == 0:
            continue
        z = len(zlib.compress(text.encode("utf-8"), 6))
        n, tb, zb, fl = want.get(source, (0, 0, 0, 0))
        ratio = z / raw
        want[source] = (
            n + 1,
            tb + raw,
            zb + z,
            fl + (1 if (ratio < 0.4 or ratio >= 1.0) else 0),
        )
    assert got == want
    assert sum(v[0] for v in want.values()) > 0


def test_compressibility_flags_planted_outliers(spark):
    """A templated (highly compressible) doc and an incompressible
    blob must both land in n_flagged; normal prose must not."""
    from sales_data_pipeline_spark.operators.quality import compressibility_stats

    import random

    rng = random.Random(7)
    # short + high-entropy: DEFLATE's header/overhead exceeds any gain,
    # so the ratio lands >= 1 — the "noise masquerading as text" class
    alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    incompressible = "".join(rng.choice(alphabet) for _ in range(24))
    df = spark.createDataFrame(
        [
            ("tpl", "spam spam " * 300),
            ("rand", incompressible),
            ("prose", "the quick brown fox jumps over the lazy dog and then "
                      "wanders off to inspect a shuffle boundary in the query plan"),
        ],
        "source string, text string",
    )
    out = {r.group: r for r in compressibility_stats(df).collect()}
    assert out["tpl"].n_flagged == 1
    assert out["rand"].n_flagged == 1
    assert out["prose"].n_flagged == 0


# ---------------------------------------------------------------------------
# product quantization (operators/similarity.pq_train_encode, q264)
# ---------------------------------------------------------------------------


def _pq_numpy_ref(vecs, m, ksub, iters):
    """Reference Lloyd with the operator's exact contract: init = first
    ksub vectors (id order) sliced per subspace, squared-L2 rounded to
    9 digits, argmin ties to the lowest code, empty cells frozen."""
    import numpy as np

    X = np.asarray(vecs, dtype=np.float64)
    dim = X.shape[1]
    dsub = dim // m
    books = [X[:ksub, s * dsub : (s + 1) * dsub].copy() for s in range(m)]
    codes = None
    for _ in range(iters):
        codes = []
        for s in range(m):
            sub = X[:, s * dsub : (s + 1) * dsub]
            d = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            codes.append(np.round(d, 9).argmin(axis=1))
        for s in range(m):
            sub = X[:, s * dsub : (s + 1) * dsub]
            for c in range(ksub):
                mask = codes[s] == c
                if mask.any():
                    books[s][c] = sub[mask].mean(axis=0)
    final = []
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        d = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        final.append(np.round(d, 9).argmin(axis=1))
    return list(map(list, zip(*final)))


def test_pq_matches_numpy_lloyd(spark):
    """Same init, same rounding, same tie rule → the Spark codes must
    equal the out-of-engine Lloyd exactly at test scale."""
    import random

    from sales_data_pipeline_spark.operators.similarity import pq_train_encode

    rng = random.Random(11)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(64)
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    codes, book = pq_train_encode(df, m=4, ksub=8, iters=3)
    got = {r.vec_id: list(r.codes) for r in codes.collect()}
    want = _pq_numpy_ref([v for _, v in vecs], 4, 8, 3)
    assert got == {i: want[i] for i in range(64)}
    assert len(book) == 4 and all(len(b) == 8 for b in book)


def test_pq_planted_codebook_reconstructs_exactly(spark):
    """Vectors drawn exactly FROM a ksub-word codebook per subspace →
    Lloyd recovers it and every reconstruction error is ~0."""
    import random

    from sales_data_pipeline_spark.operators.similarity import pq_train_encode

    rng = random.Random(3)
    words = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(4)]
    vecs = []
    # first ksub vectors use word i in EVERY subspace → the first-k
    # init IS the planted codebook (Lloyd can only keep it: every
    # cluster's mean is its word); the rest are random combinations
    for i in range(4):
        vecs.append((i, words[i] * 4))
    for i in range(4, 48):
        v = []
        for _s in range(4):
            v.extend(words[rng.randrange(4)])
        vecs.append((i, v))
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    codes, _ = pq_train_encode(df, m=4, ksub=4, iters=6)
    errs = [r.recon_err for r in codes.collect()]
    assert len(errs) == 48 and max(errs) < 1e-12


def test_pq_refuses_indivisible_dim(spark):
    from sales_data_pipeline_spark.operators.similarity import pq_train_encode

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_train_encode(df, m=2, ksub=1, iters=1)


def test_pq_training_reduces_error(spark):
    """More Lloyd iterations must not worsen total quantization error."""
    import random

    from sales_data_pipeline_spark.operators.similarity import pq_train_encode

    rng = random.Random(5)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    err1 = sum(
        r.recon_err for r in pq_train_encode(df, m=2, ksub=4, iters=1)[0].collect()
    )
    err4 = sum(
        r.recon_err for r in pq_train_encode(df, m=2, ksub=4, iters=4)[0].collect()
    )
    assert err4 <= err1 + 1e-9


def test_pq_adc_matches_numpy(spark):
    """ADC distance = sum over subspaces of LUT[sub][code]; Spark scores
    must equal the out-of-engine lookup-table scan bitwise."""
    import numpy as np

    from sales_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_encode,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8))
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    codes, book = pq_train_encode(df, m=4, ksub=8, iters=4)
    out = pq_adc_topk(codes, book, df.filter("vec_id < 3"), k=5)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc_dist) for r in out.collect()
    }
    books = [np.asarray(b) for b in book]
    code_map = {r["vec_id"]: r["codes"] for r in codes.collect()}
    dsub = 2
    for qid in range(3):
        want = sorted(
            (
                round(
                    sum(
                        float(
                            (
                                (
                                    vecs[qid][s * dsub : (s + 1) * dsub]
                                    - books[s][code_map[nid][s]]
                                )
                                ** 2
                            ).sum()
                        )
                        for s in range(4)
                    ),
                    9,
                ),
                nid,
            )
            for nid in range(40)
            if nid != qid
        )[:5]
        for rank, (d, nid) in enumerate(want, start=1):
            assert got[(qid, rank)] == (nid, d)


def test_pq_adc_exact_when_vectors_on_codebook(spark):
    """Vectors drawn exactly from the codebook reconstruct losslessly,
    so ADC distance IS the true squared L2 and the ADC top-k equals the
    exact brute-force top-k."""
    import random

    import numpy as np

    from sales_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_encode,
    )

    rng = random.Random(3)
    words = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(4)]
    vecs = []
    for i in range(4):
        vecs.append((i, words[i] * 4))
    for i in range(4, 32):
        v = []
        for _s in range(4):
            v.extend(words[rng.randrange(4)])
        vecs.append((i, v))
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    codes, book = pq_train_encode(df, m=4, ksub=4, iters=6)
    out = pq_adc_topk(codes, book, df.filter("vec_id IN (0, 5)"), k=4)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc_dist) for r in out.collect()
    }
    X = np.asarray([v for _, v in vecs])
    for qid in (0, 5):
        want = sorted(
            (round(float(((X[qid] - X[nid]) ** 2).sum()), 9), nid)
            for nid in range(32)
            if nid != qid
        )[:4]
        for rank, (d, nid) in enumerate(want, start=1):
            g_nid, g_d = got[(qid, rank)]
            assert g_nid == nid
            assert abs(g_d - d) < 1e-9


def test_pq_adc_ties_break_by_neighbor_id(spark):
    """Identical vectors tie on distance; rank order must be by
    neighbor_id ascending — deterministic under any partitioning."""
    from sales_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_encode,
    )

    rows = [(i, [float(i % 2), 1.0 - (i % 2)] * 2) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    codes, book = pq_train_encode(df, m=2, ksub=2, iters=3)
    out = pq_adc_topk(codes, book, df.filter("vec_id = 0"), k=5)
    got = [r.neighbor_id for r in out.orderBy("rank").collect()]
    assert got == [2, 4, 6, 8, 10]


# ---------------------------------------------------------------------------
# phrase search (operators/text.phrase_hits_scan, q269)
# ---------------------------------------------------------------------------


def test_phrase_scan_counts_overlapping_hits(spark):
    from sales_data_pipeline_spark.operators.text import phrase_hits_scan

    docs = spark.createDataFrame(
        [
            (0, "a a a b"),          # 'a a' twice (overlap), 'a b' once
            (1, "x a a y a a"),      # twice, non-adjacent
            (2, "a b a b"),          # zero 'a a'
            (3, ""),                 # empty doc
            (4, "a"),                # shorter than the phrase
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.n_hits for r in phrase_hits_scan(docs, "a a").collect()}
    assert out == {0: 2, 1: 2}


def test_phrase_scan_matches_python_count(spark):
    """The map-only scan equals a python sliding-window count on a
    corpus with overlaps, repeats and three-term phrases."""
    import random

    from sales_data_pipeline_spark.operators.text import phrase_hits_scan

    rng = random.Random(13)
    vocab = ["a", "b", "c", "d"]
    docs = spark.createDataFrame(
        [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
            for i in range(60)
        ],
        "doc_id bigint, text string",
    )
    texts = {r.doc_id: r.text.split() for r in docs.collect()}
    for phrase in ("a b", "a a", "b c a"):
        words = phrase.split()
        want = {}
        for i, toks in texts.items():
            n = sum(toks[k : k + len(words)] == words for k in range(len(toks)))
            if n:
                want[i] = n
        scan = {
            r.doc_id: r.n_hits for r in phrase_hits_scan(docs, phrase).collect()
        }
        assert scan == want, phrase


def test_phrase_scan_is_shuffle_free(spark):
    """The registered q269 plan must stay map-only up to the result:
    no Exchange below the final sort/collect of per-doc rows."""
    from sales_data_pipeline_spark.operators.text import phrase_hits_scan

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(0, "table hash table hash")], "doc_id bigint, text string"
    )
    plan = phrase_hits_scan(docs, "table hash")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_phrase_rejects_empty(spark):
    from sales_data_pipeline_spark.operators.text import phrase_hits_scan

    docs = spark.createDataFrame([(0, "x")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="phrase"):
        phrase_hits_scan(docs, "   ")


# ---------------------------------------------------------------------------
# incremental join maintenance (operators/incremental.incremental_join_delta)
# ---------------------------------------------------------------------------


def test_incremental_join_delta_equals_full_join(spark):
    """Union of stored base join + three delta terms must equal the
    one-shot join of the full tables, bitwise, for every split — and
    each delta term must never touch base ⋈ base."""
    a_rows = [(k, f"a{k}") for k in range(40)]
    b_rows = [(k % 25, f"b{i}") for i, k in enumerate(range(60))]
    a = spark.createDataFrame(a_rows, "k bigint, av string")
    b = spark.createDataFrame(b_rows, "k bigint, bv string")
    from sales_data_pipeline_spark.operators.incremental import (
        incremental_join_delta,
    )

    for mod_a, mod_b in ((3, 4), (2, 2), (5, 1)):
        base_a, delta_a = a.filter(f"k % {mod_a} != 0"), a.filter(f"k % {mod_a} = 0")
        base_b, delta_b = b.filter(f"k % {mod_b} != 0"), b.filter(f"k % {mod_b} = 0")
        maintained = base_a.join(base_b, ["k"]).unionByName(
            incremental_join_delta(base_a, delta_a, base_b, delta_b, ["k"])
        )
        full = a.join(b, ["k"])
        got = sorted(tuple(r) for r in maintained.collect())
        want = sorted(tuple(r) for r in full.collect())
        assert got == want, (mod_a, mod_b)


def test_incremental_join_delta_disjoint_from_stored(spark):
    """No delta term may reproduce a stored (base x base) row — the
    append to the mart must be duplicate-free by construction."""
    a = spark.createDataFrame([(k, k) for k in range(30)], "k bigint, av bigint")
    b = spark.createDataFrame([(k, -k) for k in range(30)], "k bigint, bv bigint")
    from sales_data_pipeline_spark.operators.incremental import (
        incremental_join_delta,
    )

    base_a, delta_a = a.filter("k % 2 != 0"), a.filter("k % 2 = 0")
    base_b, delta_b = b.filter("k % 3 != 0"), b.filter("k % 3 = 0")
    stored = base_a.join(base_b, ["k"])
    delta = incremental_join_delta(base_a, delta_a, base_b, delta_b, ["k"])
    assert delta.intersect(stored).count() == 0


# ---------------------------------------------------------------------------
# JL random projection (operators/similarity.jl_project, q279)
# ---------------------------------------------------------------------------


def test_jl_projection_matches_numpy_bitwise(spark):
    import numpy as np

    from sales_data_pipeline_spark.operators.similarity import jl_project

    rng = np.random.default_rng(3)
    X = rng.normal(size=(50, 24))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(50)],
        "vec_id bigint, embedding array<double>",
    )
    got = {r.vec_id: list(r.projected) for r in jl_project(df, k=8, seed=42).collect()}
    R = np.random.RandomState(42).standard_normal((24, 8)) / np.sqrt(8)
    want = X @ R
    for i in range(50):
        assert got[i] == list(want[i])  # same fold order -> bitwise


def test_jl_projection_preserves_planted_neighborhood(spark):
    """A planted near-duplicate pair must stay each other's nearest
    neighbor after projection (the property ANN consumers rely on),
    while the mean squared-norm ratio concentrates near 1."""
    import numpy as np

    from sales_data_pipeline_spark.operators.similarity import jl_project

    rng = np.random.default_rng(9)
    base = rng.normal(size=(40, 32))
    base[1] = base[0] + rng.normal(scale=0.01, size=32)  # planted near-dup
    df = spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    proj = {r.vec_id: np.array(r.projected) for r in jl_project(df, k=16).collect()}
    d0 = sorted((np.sum((proj[0] - proj[j]) ** 2), j) for j in range(1, 40))
    assert d0[0][1] == 1  # the planted twin is still the nearest
    ratios = [np.sum(proj[i] ** 2) / np.sum(base[i] ** 2) for i in range(40)]
    assert 0.8 < float(np.mean(ratios)) < 1.2


def test_jl_projection_rejects_bad_k_and_empty(spark):
    from sales_data_pipeline_spark.operators.similarity import jl_project

    df = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="k must be"):
        jl_project(df, k=0)
    with pytest.raises(ValueError, match="empty"):
        jl_project(df.filter("vec_id < 0"), k=2)
