"""Output checks, run outside the timed window.

Each check returns a list of problems; an empty list means the output
is correct. The ETL checks compare what one ``run_pipeline`` call
published with the generator's manifest; the query checks compare a
catalog query's result with its DuckDB oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

from gen import Batch

MONEY = pa.decimal128(10, 2)


def _csvs(d: str) -> list[str]:
    return sorted(f for f in os.listdir(d) if f.endswith(".csv")) if os.path.isdir(d) else []


def _cents(col: pa.ChunkedArray) -> np.ndarray:
    # DECIMAL(10,2) values stay far below 2**53 cents, so the double
    # detour is exact
    return np.rint(col.cast(pa.float64()).to_numpy() * 100).astype(np.int64)


def _read_mart(path: str, money: tuple[str, ...], partitioned: bool) -> tuple[pd.DataFrame, list[str]]:
    problems = []
    data = ds.dataset(path, format="parquet", partitioning="hive" if partitioned else None)
    table = data.to_table()
    for c in money:
        if table.schema.field(c).type != MONEY:
            problems.append(f"{path}: {c} is {table.schema.field(c).type}, want {MONEY}")
    df = table.drop(list(money)).to_pandas()
    for c in money:
        df[c] = _cents(table.column(c))
    return df, problems


def _compare(name: str, got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> list[str]:
    """Per-key cents equality plus per-month conservation."""
    problems = []
    m = got.merge(want, on=keys, how="outer", suffixes=("_got", "_want"), indicator=True)
    extra, missing = (m._merge == "left_only").sum(), (m._merge == "right_only").sum()
    if extra or missing:
        problems.append(f"{name}: {extra} unexpected and {missing} missing keys")
    both = m[m._merge == "both"]
    wrong = both[both.cents_got != both.cents_want]
    if len(wrong):
        problems.append(f"{name}: {len(wrong)} keys with wrong totals, e.g. {wrong.iloc[0].to_dict()}")
    if not got.groupby("month").cents.sum().equals(want.groupby("month").cents.sum()):
        problems.append(f"{name}: monthly totals not conserved")
    return problems


def check_team_mart(path: str, published: list[Batch]) -> list[str]:
    """Every published month's (store, salesperson) totals, and the
    incentive: rank 1 within (store, month) gets 1% of its total sales,
    rounded half up to the cent, ties all paid; everyone else gets 0."""
    df, problems = _read_mart(path, ("total_sales", "incentive"), partitioned=True)
    got = df.rename(columns={"sales_month": "month", "total_sales": "cents"})
    want = pd.concat([b.team for b in published], ignore_index=True)
    problems += _compare("team mart", got[["month", "store_id", "sales_person_id", "cents"]],
                         want, ["month", "store_id", "sales_person_id"])
    top = got.groupby(["month", "store_id"]).cents.transform("max")
    due = np.where(got.cents == top, (got.cents + 50) // 100, 0)
    bad = got[got.incentive != due]
    if len(bad):
        problems.append(f"team mart: {len(bad)} wrong incentives, e.g. {bad.iloc[0].to_dict()}")
    return problems


def check_customer_mart(path: str, batch: Batch) -> list[str]:
    """The customer mart is rewritten whole by every call, so it holds
    exactly the latest call's (customer, month) totals."""
    df, problems = _read_mart(path, ("total_sales",), partitioned=False)
    got = df.rename(columns={"sales_date_month": "month", "total_sales": "cents"})
    return problems + _compare("customer mart", got[["customer_id", "month", "cents"]],
                               batch.customer, ["customer_id", "month"])


def check_etl_call(result, batch: Batch, published: list[Batch], dirs: dict[str, str]) -> list[str]:
    """One run_pipeline call against the manifest. ``published`` is
    every batch this output tree has received, ``batch`` last."""
    problems = []
    name = os.path.basename
    if sorted(map(name, result.accepted_files)) != sorted(batch.accepted):
        problems.append("accepted files differ from the manifest")
    if sorted(map(name, result.quarantined_files)) != sorted(batch.quarantined):
        problems.append("quarantined files differ from the manifest")
    routed = {
        "input": [],
        "quarantine": sorted(f for b in published for f in b.quarantined),
        "processed": sorted(f for b in published for f in b.accepted),
    }
    for d, want in routed.items():
        if _csvs(dirs[d]) != want:
            problems.append(f"{d} dir holds {len(_csvs(dirs[d]))} files, want {len(want)}")
    if result.n_fact_rows != batch.rows:
        problems.append(f"n_fact_rows {result.n_fact_rows}, want {batch.rows}")
    m = result.ingest_metrics
    if (m.get("n_rows"), m.get("n_null_cost")) != (batch.rows, 0) or \
            round(float(m.get("sum_cost", -1)) * 100) != batch.cents:
        problems.append(f"ingest_metrics {m} disagree with {batch.rows} rows / {batch.cents} cents")
    problems += check_team_mart(result.sales_team_mart_path, published)
    problems += check_customer_mart(result.customer_mart_path, batch)
    return problems


def check_query(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    from sales_data_pipeline_spark.testing import compare_frames

    return compare_frames(got, want)


def check_lsh_pairs(got: pd.DataFrame, exact: pd.DataFrame, threshold: float) -> list[str]:
    """MinHash-LSH pairs have no oracle: every reported pair must be a
    true pair of the exact Jaccard join (its oracle result), with the
    same overlap and Jaccard value, at or above ``threshold``."""
    m = got.merge(exact, on=["doc_a", "doc_b"], how="left", suffixes=("", "_exact"),
                  indicator=True)
    problems = []
    if (m._merge != "both").any():
        problems.append(f"{int((m._merge != 'both').sum())} pairs below the similarity threshold")
    both = m[m._merge == "both"]
    if (both.jaccard != both.jaccard_exact).any() or (both.n_common != both.n_common_exact).any():
        problems.append("pair overlap or Jaccard differs from the exact join")
    if (got.jaccard < threshold).any():
        problems.append(f"pairs reported below Jaccard {threshold}")
    return problems
