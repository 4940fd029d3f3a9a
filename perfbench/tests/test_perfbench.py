"""The benchmark's own tests: deterministic inputs, checks that catch
wrong outputs, and a smoke run that prints every named metric.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark and take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
from workloads import DATA_DIR  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(a, 7, gen.TINY)
    gen.generate(b, 7, gen.TINY)
    gen.generate(c, 8, gen.TINY)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_manifest_matches_landed_files(tmp_path):
    batches = gen.generate(str(tmp_path), 3, gen.TINY)
    b = batches[0]
    assert b.quarantined, "every drop carries contract failures"
    frames = [pd.read_csv(tmp_path / b.name / f) for f in b.accepted]
    assert sum(len(f) for f in frames) == b.rows
    cents = sum(int(round(x * 100)) for f in frames for x in f.total_cost)
    assert cents == b.cents == b.team.cents.sum() == b.customer.cents.sum()
    for f in b.quarantined:
        assert gen.DROPPED not in pd.read_csv(tmp_path / b.name / f, nrows=0).columns


def _write_team_mart(path: str, team: pd.DataFrame) -> None:
    """A team mart laid out as the pipeline writes it, computed by the
    incentive rule from the expected totals."""
    top = team.groupby(["month", "store_id"]).cents.transform("max")
    incentive = np.where(team.cents == top, (team.cents + 50) // 100, 0)
    for (month, store), idx in team.groupby(["month", "store_id"]).groups.items():
        d = os.path.join(path, f"sales_month={month}", f"store_id={store}")
        os.makedirs(d)
        rows = team.loc[idx]
        pq.write_table(pa.table({
            "sales_person_id": pa.array(rows.sales_person_id, pa.int32()),
            "full_name": ["x"] * len(rows),
            "total_sales": pa.array([_dec(c) for c in rows.cents], checks.MONEY),
            "incentive": pa.array([_dec(c) for c in incentive[idx]], checks.MONEY),
        }), os.path.join(d, "part-0.parquet"))


def _dec(cents: int):
    import decimal

    return decimal.Decimal(int(cents)).scaleb(-2)


def test_team_mart_check_catches_corruption(tmp_path):
    batches = gen.generate(str(tmp_path / "in"), 5, gen.TINY)
    good = str(tmp_path / "good")
    _write_team_mart(good, batches[0].team)
    assert checks.check_team_mart(good, batches[:1]) == []

    wrong_total = batches[0].team.copy()
    wrong_total.loc[0, "cents"] += 1
    bad = str(tmp_path / "bad_total")
    _write_team_mart(bad, wrong_total)
    assert checks.check_team_mart(bad, batches[:1])

    lost_month = str(tmp_path / "lost")
    _write_team_mart(lost_month, batches[0].team)
    assert checks.check_team_mart(lost_month, batches[:2]), "a missing month must fail"


def test_query_checks_catch_perturbed_results():
    from sales_data_pipeline_spark.plans import QUERIES
    from sales_data_pipeline_spark.testing import duckdb_oracle

    want = duckdb_oracle(DATA_DIR, QUERIES["q250_name_edit_neardup"].oracle)
    assert checks.check_query(want.copy(), want) == []
    perturbed = want.copy()
    perturbed.loc[0, "edit_distance"] += 1
    assert checks.check_query(perturbed, want)
    assert checks.check_query(want.iloc[1:], want)

    exact = duckdb_oracle(DATA_DIR, QUERIES["q22_ngram_jaccard_pairs"].oracle)
    assert len(exact), "the dataset has near-duplicate pairs"
    assert checks.check_lsh_pairs(exact.iloc[:3].copy(), exact, 0.6) == []
    fake = exact.iloc[:1].copy()
    fake["doc_b"] = fake["doc_a"]
    assert checks.check_lsh_pairs(fake, exact, 0.6)


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def _names(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("workload,trace,kind", [
    ("etl_incremental", "1", "per_layer"),
    ("query_mix", "0", "end_to_end"),
])
def test_smoke_run_prints_every_metric(workload, trace, kind):
    out = _run(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", trace,
                "--size", "tiny"], ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = _names(kind)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(["--workload", "etl_incremental", "--seed", "1", "--seconds", "1",
                "--trace", "0"], str(tmp_path))
    assert out.returncode != 0
    assert not out.stdout.strip()
