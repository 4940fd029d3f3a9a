"""Round-7 ADVICE fixes, each pinned by a covering test:

1. pipeline/export.py fingerprints the STAGED parquet, so the sealed
   manifest describes the published bytes even for a nondeterministic
   input DataFrame.
2. q283's noise boolean is an independent theorem (noise has no core
   ε-neighbor, via eps_pairs anti-probe), not a contrapositive replica.
3. q270 treats empty / whitespace-only documents as trivially lossless
   and its oracle counts words from the trimmed split.
4. q276 exports to a per-process path — concurrent same-SF runs cannot
   race on one directory.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# 1. export manifest fingerprints describe the published bytes
# ---------------------------------------------------------------------------


def test_export_manifest_matches_published_for_nondeterministic_input(
    spark, tmp_path
):
    """uuid() re-evaluates differently per job: a manifest computed by
    re-running the input df would disagree with the published shards;
    fingerprinting the staged parquet must keep them in lockstep."""
    from sales_data_pipeline_spark.pipeline.export import (
        verify_export,
        write_training_shards,
    )

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), F.expr("uuid()").alias("payload")
    )
    out = str(tmp_path / "export_nondet")
    man = write_training_shards(spark, df, out, n_shards=4)
    assert man["total_rows"] == 200
    checks = verify_export(spark, out).collect()
    assert len(checks) == 4
    assert all(r.rows_match and r.fp_match for r in checks), checks


# ---------------------------------------------------------------------------
# 2. q283's independent noise theorem (eps_pairs probe)
# ---------------------------------------------------------------------------


def _pts_df(spark, pts):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in pts.items()],
        "vec_id bigint, vec array<double>",
    )


def test_eps_pairs_matches_brute_force_and_handles_empty_left(spark):
    import random

    from sales_data_pipeline_spark.operators.dbscan import eps_pairs

    rnd = random.Random(7)
    pts = {i: (rnd.uniform(0, 1), rnd.uniform(0, 1)) for i in range(40)}
    eps = 0.22
    want = {
        (a, b)
        for a in pts
        for b in pts
        if round(sum((x - y) ** 2 for x, y in zip(pts[a], pts[b])), 9) <= eps * eps
    }
    df = _pts_df(spark, pts)
    got = {
        (r.a_id, r.b_id)
        for r in eps_pairs(df, df, eps=eps, dims=2).collect()
    }
    assert got == want
    empty = df.filter(F.lit(False))
    assert eps_pairs(empty, df, eps=eps, dims=2).count() == 0


def test_q283_noise_probe_catches_missed_border_attachment(spark):
    """The defect class the old contrapositive boolean was blind to: a
    border point mislabeled as noise. The eps_pairs(noise, core) probe
    must light up for the planted defect and stay dark for true noise."""
    from sales_data_pipeline_spark.operators.dbscan import dbscan, eps_pairs

    # dense blob of cores around the origin, one border point within eps
    # of a core but itself sparse, one far-away true-noise point
    pts = {
        0: (0.00, 0.00),
        1: (0.01, 0.00),
        2: (0.00, 0.01),
        3: (0.01, 0.01),
        4: (0.02, 0.00),
        10: (0.115, 0.00),  # border: within eps=0.1 of core 4 only (2 < min_pts)
        99: (5.00, 5.00),  # true noise
    }
    df = _pts_df(spark, pts)
    out = dbscan(df, eps=0.1, min_pts=5)
    by_id = {r.vec_id: r for r in out.collect()}
    assert by_id[10].cluster >= 0 and not by_id[10].is_core
    assert by_id[99].cluster == -1

    core_pts = df.join(out.filter(F.col("is_core")).select("vec_id"), "vec_id")
    true_noise = df.join(
        out.filter(F.col("cluster") == -1).select("vec_id"), "vec_id"
    )
    assert eps_pairs(true_noise, core_pts, eps=0.1, dims=2).count() == 0
    # plant the defect: pretend the border point was left as noise
    fake_noise = true_noise.unionByName(df.filter(F.col("vec_id") == 10))
    assert eps_pairs(fake_noise, core_pts, eps=0.1, dims=2).count() > 0


# ---------------------------------------------------------------------------
# 3. q270 empty-document losslessness (engine + oracle parity)
# ---------------------------------------------------------------------------


def test_q270_empty_and_whitespace_docs_are_lossless(spark, tmp_path):
    import duckdb

    from sales_data_pipeline_spark.plans import QUERIES
    from sales_data_pipeline_spark.testing import compare_frames

    rows = [(i, "src0", f"alpha beta gamma {i % 3} alpha beta") for i in range(12)]
    rows += [
        (100, "edge", ""),  # empty: bpe_apply drops it -> trivially lossless
        (101, "edge", "   "),  # whitespace-only
        (102, "edge", "\t\n \n"),  # exotic whitespace
        (103, "edge", "  alpha beta  "),  # edge whitespace, real words
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    sf_dir = str(tmp_path / "sf_edge")
    os.makedirs(sf_dir, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    q = QUERIES["q270_bpe_lossless_audit"]
    got = q.fn(spark, sf_dir).toPandas()
    assert bool(got.loc[got["source"] == "edge", "all_lossless"].iloc[0])

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet/*.parquet'"
    )
    want = con.execute(q.oracle).df()
    problems = compare_frames(got, want)
    assert not problems, "; ".join(problems)


# ---------------------------------------------------------------------------
# 4. q276 export path is per-process
# ---------------------------------------------------------------------------


def test_q276_export_path_carries_pid(spark, sf_dir):
    import tempfile

    from sales_data_pipeline_spark.plans import QUERIES

    q = QUERIES["q276_training_export_audit"]
    row = q.fn(spark, sf_dir).collect()[0]
    assert row.all_rows_match and row.all_fp_match
    tag = os.path.basename(os.path.normpath(sf_dir))
    expected = os.path.join(
        tempfile.gettempdir(), f"spark_graft_export_{tag}_{os.getpid()}"
    )
    assert os.path.isdir(expected)
