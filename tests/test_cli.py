"""CLI driver (`python -m sales_data_pipeline_spark`): the reference's
script entry point re-expressed as explicit subcommands over the
library API."""

from __future__ import annotations

import json

import pytest

from sales_data_pipeline_spark.__main__ import main
from tests.fixtures import dim_frames, write_sales_csv


def _dims_dir(spark, tmp_path) -> str:
    """The seed dimension frames as the parquet dims dir the CLI reads."""
    for df, t in zip(dim_frames(spark), ("customer", "store", "sales_team")):
        df.write.parquet(str(tmp_path / "dims" / t))
    return str(tmp_path / "dims")


def test_cli_pipeline_end_to_end(spark, tmp_path, capsys):
    (tmp_path / "in").mkdir()
    write_sales_csv(tmp_path / "in" / "sales1.csv", n=100, seed=5)
    rc = main([
        "pipeline",
        "--input-dir", str(tmp_path / "in"),
        "--output-dir", str(tmp_path / "out"),
        "--dims-dir", _dims_dir(spark, tmp_path),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["accepted"] == ["sales1.csv"]
    assert out["n_fact_rows"] == 100
    assert spark.read.parquet(out["customer_mart"]).count() > 0


def test_cli_pipeline_without_a_dims_source_is_a_usage_error(tmp_path):
    with pytest.raises(SystemExit) as ex:
        main(["pipeline", "--input-dir", str(tmp_path / "in"),
              "--output-dir", str(tmp_path / "out")])
    assert ex.value.code == 2


def test_cli_list_and_query(capsys):
    assert main(["list"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert any(line.startswith("q01_pricing_summary\toracle") for line in lines)
    assert len(lines) >= 110
    # unknown query → exit code 2, no traceback
    assert main(["query", "q_definitely_not_there"]) == 2


def test_cli_expire_dry_run_and_delete(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    root = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"2023-{1 + i % 3:02d}") for i in range(12)], "id long, m string"
    ).write.partitionBy("m").parquet(root)
    rc = main([
        "expire", "--table-dir", root, "--partition-col", "m",
        "--cutoff", "2023-02", "--dry-run",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"dry_run": True, "expired_partitions": ["m=2023-01"]}
    rc = main([
        "expire", "--table-dir", root, "--partition-col", "m",
        "--cutoff", "2023-02",
    ])
    assert rc == 0
    months = {r.m for r in spark.read.parquet(root).select("m").distinct().collect()}
    assert months == {"2023-02", "2023-03"}


def test_cli_pipeline_jdbc_topology(spark, tmp_path, capsys):
    """--jdbc-url routes dims from and marts back to the database (live
    embedded Derby)."""
    from sales_data_pipeline_spark.sources.jdbc import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path / 'clidb'};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    customer, store, team = dim_frames(spark)
    for df, t in ((customer, "customer"), (store, "store"), (team, "sales_team")):
        write_jdbc(df, url, t, mode="overwrite", properties=props)
    (tmp_path / "in").mkdir()
    write_sales_csv(tmp_path / "in" / "s.csv", n=60, seed=9)
    rc = main([
        "pipeline",
        "--input-dir", str(tmp_path / "in"),
        "--output-dir", str(tmp_path / "out"),
        "--jdbc-url", url,
        "--jdbc-driver", "org.apache.derby.jdbc.EmbeddedDriver",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_fact_rows"] == 60
    back = read_jdbc(spark, url, "customers_data_mart", properties=props)
    assert back.count() == spark.read.parquet(out["customer_mart"]).count()


def test_cli_mask_export_and_cdc_apply(spark, tmp_path, capsys):
    import json

    base = tmp_path / "base"
    spark.createDataFrame(
        [(1, "Alice", 1234.0), (2, "Bob", 2500.0)],
        "k long, name string, bal double",
    ).write.parquet(str(base))

    out = tmp_path / "masked"
    rc = main([
        "mask-export",
        "--table-dir", str(base),
        "--out-dir", str(out),
        "--policy", json.dumps(
            {"k": "keep", "name": "hash", "bal": ["bucket", 1000]}
        ),
    ])
    assert rc == 0
    rows = {r.k: r for r in spark.read.parquet(str(out)).collect()}
    import hashlib

    assert rows[1].name == hashlib.md5(b"Alice").hexdigest()
    assert rows[2].bal == 2

    log = tmp_path / "log"
    spark.createDataFrame(
        [(1, "U", "Alicia", 1300.0, 1), (2, "D", None, None, 1),
         (3, "I", "Cara", 9.0, 1)],
        "k long, op string, name string, bal double, version int",
    ).write.parquet(str(log))
    snap2 = tmp_path / "snap2"
    rc = main([
        "cdc-apply",
        "--base-dir", str(base),
        "--log-dir", str(log),
        "--out-dir", str(snap2),
        "--keys", "k",
        "--version-cols", "version",
    ])
    assert rc == 0
    got = {r.k: (r.name, r.bal) for r in spark.read.parquet(str(snap2)).collect()}
    assert got == {1: ("Alicia", 1300.0), 3: ("Cara", 9.0)}


def test_cli_lint_single_and_bad_name(spark, capsys):
    """`lint <query>` prints findings (or 'clean') and exits 0 when no
    error-severity finding exists; unknown names exit 2; missing args
    exit 2."""
    assert main(["lint", "q01_pricing_summary"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out
    assert main(["lint", "q_nope"]) == 2
    assert main(["lint"]) == 2


def test_cli_secret_roundtrip_and_bad_token(capsys, monkeypatch):
    monkeypatch.setenv("SECRET_PASSPHRASE", "master")
    assert main(["secret", "encrypt", "db-password"]) == 0
    token = capsys.readouterr().out.strip()
    assert main(["secret", "decrypt", token]) == 0
    assert capsys.readouterr().out.strip() == "db-password"
    assert main(["secret", "decrypt", "not-a-token"]) == 2
    monkeypatch.setenv("SECRET_PASSPHRASE", "wrong")
    assert main(["secret", "decrypt", token]) == 2


def test_cli_replay_requeues_fixed_file(spark, tmp_path, capsys):
    from pathlib import Path

    from tests.fixtures import write_sales_csv as _w

    (tmp_path / "in").mkdir()
    _w(tmp_path / "in" / "bad.csv", n=10, seed=71, drop_store_id=True)
    rc = main([
        "pipeline",
        "--input-dir", str(tmp_path / "in"),
        "--output-dir", str(tmp_path / "out"),
        "--dims-dir", _dims_dir(spark, tmp_path),
    ])
    assert rc == 0
    capsys.readouterr()
    # fix in place, then replay
    _w(Path(tmp_path / "out" / "_quarantine") / "bad.csv", n=10, seed=72)
    rc = main([
        "replay",
        "--input-dir", str(tmp_path / "in"),
        "--output-dir", str(tmp_path / "out"),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"requeued": ["bad.csv"], "still_bad": []}
    assert (tmp_path / "in" / "bad.csv").exists()


def test_cli_secret_reads_value_from_stdin(capsys, monkeypatch):
    """argv leaks via process lists — `-` (or omitting the value) reads
    the plaintext/token from stdin instead, and an empty stdin is a
    usage error, not an encrypted empty string."""
    import io

    monkeypatch.setenv("SECRET_PASSPHRASE", "master")
    monkeypatch.setattr("sys.stdin", io.StringIO("stdin-secret\n"))
    assert main(["secret", "encrypt", "-"]) == 0
    token = capsys.readouterr().out.strip()
    monkeypatch.setattr("sys.stdin", io.StringIO(token + "\n"))
    assert main(["secret", "decrypt"]) == 0
    assert capsys.readouterr().out.strip() == "stdin-secret"
    monkeypatch.setattr("sys.stdin", io.StringIO(""))
    assert main(["secret", "encrypt", "-"]) == 2


def test_cli_export_verify_backfill(spark, tmp_path, capsys):
    """export-shards -> verify-export (exit 0) -> corrupt a shard file
    -> verify-export (exit 1, shard named) -> backfill replaces one
    partition of a day-partitioned table from a corrected source."""
    src = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(100)], "doc_id bigint, text string"
    ).write.parquet(src)
    out = str(tmp_path / "shards")
    assert main([
        "export-shards", "--table-dir", src, "--out-dir", out,
        "--n-shards", "4",
    ]) == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["total_rows"] == 100 and info["n_shards"] == 4

    assert main(["verify-export", "--out-dir", out]) == 0
    ok = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ok == {"n_shards": 4, "bad_shards": []}

    # truncate one shard's parquet -> that shard must flag, exit 1
    import glob as _glob
    import os as _os

    victim_dir = sorted(_glob.glob(out + "/shard=*"))[0]
    victim = _glob.glob(victim_dir + "/*.parquet")[0]
    _os.remove(victim)
    shard_no = int(victim_dir.rsplit("=", 1)[1])
    assert main(["verify-export", "--out-dir", out]) == 1
    bad = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert bad["bad_shards"] == [shard_no]

    # backfill: corrected source replaces exactly one day partition
    tab = str(tmp_path / "daily")
    spark.createDataFrame(
        [("d1", 1.0), ("d2", 2.0)], "day string, v double"
    ).write.partitionBy("day").parquet(tab)
    fixed = str(tmp_path / "fixed_src")
    spark.createDataFrame(
        [("d2", 20.0), ("d3", 3.0)], "day string, v double"
    ).write.parquet(fixed)
    assert main([
        "backfill", "--table-dir", tab, "--source-dir", fixed,
        "--partition-col", "day", "--values", "d2",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["replaced"] == {"d2": 1}
    vals = {r.day: r.v for r in spark.read.parquet(tab).collect()}
    assert vals == {"d1": 1.0, "d2": 20.0}  # d3 NOT pulled in
