"""Deterministic test fixtures matching FIXTURES.md / the reference's
generator distributions (src/test/generate_csv_data.py et al.)."""

from __future__ import annotations

import csv
import datetime as dt
import random
from pathlib import Path

PRODUCTS = {
    "quaker oats": 212.0,
    "sugar": 50.0,
    "maida": 20.0,
    "besan": 52.0,
    "refined oil": 110.0,
    "clinic plus": 1.5,
    "dantkanti": 100.0,
    "nutrella": 40.0,
}
STORE_ROSTER = {121: [1, 2, 3], 122: [4, 5, 6], 123: [7, 8, 9]}
HEADER8 = [
    "customer_id", "store_id", "product_name", "sales_date",
    "sales_person_id", "price", "quantity", "total_cost",
]


def _rows(rng: random.Random, n: int, date: dt.date | None = None):
    for _ in range(n):
        store = rng.choice(list(STORE_ROSTER))
        product, price = rng.choice(list(PRODUCTS.items()))
        qty = rng.randint(1, 10)
        d = date or dt.date(2023, 3, 3) + dt.timedelta(days=rng.randint(0, 170))
        yield {
            "customer_id": rng.randint(1, 25),
            "store_id": store,
            "product_name": product,
            "sales_date": d.isoformat(),
            "sales_person_id": rng.choice(STORE_ROSTER[store]),
            "price": f"{price:.2f}",
            "quantity": qty,
            "total_cost": f"{price * qty:.2f}",
        }


def write_sales_csv(
    path: Path,
    n: int = 500,
    seed: int = 7,
    extra_payment_mode: bool = False,
    drop_store_id: bool = False,
    date: dt.date | None = None,
) -> Path:
    """Happy-path / extra-column / missing-column sales file."""
    rng = random.Random(seed)
    header = list(HEADER8)
    if drop_store_id:
        header.remove("store_id")
    if extra_payment_mode:
        header.append("payment_mode")
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=header, extrasaction="ignore")
        w.writeheader()
        for row in _rows(rng, n, date):
            if extra_payment_mode:
                row["payment_mode"] = rng.choice(["cash", "UPI"])
            w.writerow({k: row[k] for k in header})
    return path


CUSTOMER_ROWS = [
    (i, f"First{i}", f"Last{i}", "Delhi", "122009", f"91000000{i:02d}", dt.date(2021, 1, i))
    for i in range(1, 26)
]
STORE_ROWS = [
    (sid, f"Addr{sid}", f"1220{sid}", f"Mgr{sid}", dt.date(2020, 1, 1), "ok")
    for sid in (121, 122, 123, 124)
]
SALES_TEAM_ROWS = [
    (i, f"TFirst{i}", f"TLast{i}", 10, "Y" if i == 10 else "N", "Delhi", "122009",
     dt.date(2021, 6, i))
    for i in range(1, 11)
]


def dim_frames(spark):
    from sales_data_pipeline_spark.schemas import CUSTOMER_DIM, SALES_TEAM_DIM, STORE_DIM

    customer = spark.createDataFrame(
        [(i, f, l, a, p, ph, d) for i, f, l, a, p, ph, d in CUSTOMER_ROWS], CUSTOMER_DIM
    )
    store = spark.createDataFrame(STORE_ROWS, STORE_DIM)
    team = spark.createDataFrame(SALES_TEAM_ROWS, SALES_TEAM_DIM)
    return customer, store, team


class _RenameIntercept:
    """Wraps the JVM FileSystem: rename runs a hook, everything else
    delegates (delete/exists/listStatus keep working mid-test)."""

    def __init__(self, fs, hook):
        self._fs = fs
        self._hook = hook

    def rename(self, src, dst):
        return self._hook(self._fs, src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def patch_fs_rename(monkeypatch, hook):
    """Route every pipeline.fs rename through ``hook(fs, src, dst)``."""
    from sales_data_pipeline_spark.pipeline import fs as fsmod

    real = fsmod._fs

    def fake(spark_, path):
        fs, p = real(spark_, path)
        return _RenameIntercept(fs, hook), p

    monkeypatch.setattr(fsmod, "_fs", fake)
