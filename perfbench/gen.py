"""Seeded input generator for the ETL workload.

Everything the pipeline sees comes from here: landed sales CSVs, the
three dimension tables as parquet, and a manifest of what a correct
run must publish. The same seed and size give byte-identical files.

Money is generated in integer cents, so the manifest's sums are exact
and can be compared with the marts' DECIMAL(10,2) columns without any
floating-point rounding.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CONTRACT = (
    "customer_id",
    "store_id",
    "product_name",
    "sales_date",
    "sales_person_id",
    "price",
    "quantity",
    "total_cost",
)
EXTRA = "payment_mode"
# The contract column a rejected file lacks.
DROPPED = "sales_person_id"
REORDERED = (
    "store_id",
    "sales_date",
    "customer_id",
    "sales_person_id",
    "product_name",
    "quantity",
    "price",
    "total_cost",
)
# Header variants the producers emit; every one passes the contract.
HEADERS = (CONTRACT, REORDERED, CONTRACT + (EXTRA,), REORDERED + (EXTRA,))
BAD_HEADER = tuple(c for c in CONTRACT if c != DROPPED)

SALES_PER_STORE = 10
YEAR = 2024
PRODUCTS = (
    ("quaker oats", 212), ("sugar", 50), ("maida", 20), ("besan", 52),
    ("refined oil", 110), ("clinic plus", 150), ("dantkanti", 100),
    ("nutrella", 40), ("basmati rice", 650), ("toor dal", 160),
    ("green tea", 320), ("coffee", 475), ("biscuits", 35), ("ghee", 585),
    ("paneer", 90), ("butter", 56), ("jam", 145), ("honey", 299),
    ("cornflakes", 185), ("detergent", 240),
)
FIRST = ("Aarav", "Vivaan", "Aditya", "Diya", "Ananya", "Ishaan", "Kabir",
         "Meera", "Riya", "Saanvi", "Arjun", "Kiara", "Rohan", "Tara",
         "Vihaan", "Zoya")
LAST = ("Sharma", "Verma", "Gupta", "Mehta", "Iyer", "Reddy", "Nair",
        "Kapoor", "Das", "Bose", "Joshi", "Patel", "Rao", "Sood")
PAYMENT = np.array(["cash", "upi", "card", "wallet"])


@dataclass(frozen=True)
class EtlSize:
    """Input size of the ETL workload (identical for every seed):
    ``drops`` monthly drops of ``files`` per-store CSVs each."""

    customers: int
    stores: int
    files: int
    rows_per_file: int
    drops: int
    bad_share: float  # share of files that fail the contract


FULL = EtlSize(customers=50_000, stores=40, files=80, rows_per_file=200, drops=10,
               bad_share=0.05)
TINY = EtlSize(customers=500, stores=4, files=8, rows_per_file=40, drops=3, bad_share=0.15)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, *stream]))


def _names(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    return (np.array(FIRST)[rng.integers(0, len(FIRST), n)],
            np.array(LAST)[rng.integers(0, len(LAST), n)])


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return lo_d + rng.integers(0, (hi_d - lo_d).astype(int), n)


def write_dimensions(out_dir: str, size: EtlSize, seed: int) -> None:
    """customer / store / sales_team parquet with the dimension schemas
    the pipeline joins (schemas.CUSTOMER_DIM, STORE_DIM, SALES_TEAM_DIM)."""
    rng = _rng(seed, 1)
    os.makedirs(out_dir, exist_ok=True)
    n = size.customers
    ids = np.arange(1, n + 1, dtype=np.int32)
    first, last = _names(rng, n)
    pins = rng.integers(100_000, 999_999, n)
    customer = pa.table({
        "customer_id": ids,
        "first_name": first,
        "last_name": last,
        "address": [f"{i % 997 + 1} Park Road, Block {i % 26}" for i in ids],
        "pincode": pins.astype(str),
        "phone_number": (9_000_000_000 + rng.integers(0, 999_999_999, n)).astype(str),
        "customer_joining_date": pa.array(_dates(rng, n, "2018-01-01", "2024-01-01")),
    })
    s = size.stores
    sids = np.arange(1, s + 1, dtype=np.int32)
    mfirst, mlast = _names(rng, s)
    store = pa.table({
        "id": sids,
        "address": [f"Store {i} Market Street" for i in sids],
        "store_pincode": rng.integers(100_000, 999_999, s).astype(str),
        "store_manager_name": np.char.add(np.char.add(mfirst, " "), mlast),
        "store_opening_date": pa.array(_dates(rng, s, "2010-01-01", "2020-01-01")),
        "reviews": ["good service"] * s,
    })
    t = s * SALES_PER_STORE
    tids = np.arange(1, t + 1, dtype=np.int32)
    tfirst, tlast = _names(rng, t)
    is_manager = (tids - 1) % SALES_PER_STORE == 0
    team = pa.table({
        "id": tids,
        "first_name": tfirst,
        "last_name": tlast,
        "manager_id": ((tids - 1) // SALES_PER_STORE * SALES_PER_STORE + 1).astype(np.int32),
        "is_manager": np.where(is_manager, "Y", "N"),
        "address": [f"{i} Staff Quarters" for i in tids],
        "pincode": rng.integers(100_000, 999_999, t).astype(str),
        "joining_date": pa.array(_dates(rng, t, "2015-01-01", "2023-01-01")),
    })
    for name, tbl in (("customer", customer), ("store", store), ("sales_team", team)):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def _sales_rows(rng: np.random.Generator, size: EtlSize, store: np.ndarray, month: int
                ) -> pd.DataFrame:
    """One sales row per entry of ``store``, all in ``month`` (1-based)
    of ``YEAR``."""
    n = len(store)
    person = (store - 1) * SALES_PER_STORE + 1 + rng.integers(0, SALES_PER_STORE, n)
    prod = rng.integers(0, len(PRODUCTS), n)
    base = np.array([p for _, p in PRODUCTS], dtype=np.int64)[prod]
    price = base * 100 + rng.integers(0, 100, n)  # cents
    qty = rng.integers(1, 11, n)
    first = np.datetime64(f"{YEAR}-{month:02d}-01", "D")
    days = (first.astype("datetime64[M]") + 1).astype("datetime64[D]") - first
    return pd.DataFrame({
        "customer_id": rng.integers(1, size.customers + 1, n),
        "store_id": store,
        "product_name": np.array([p for p, _ in PRODUCTS])[prod],
        "sales_date": first + (rng.random(n) * days.astype(int)).astype(int),
        "sales_person_id": person,
        "price_c": price,
        "quantity": qty,
        "total_c": price * qty,
        "month": month,
        EXTRA: PAYMENT[rng.integers(0, len(PAYMENT), n)],
    })


def _tie_row(rows: pd.DataFrame, accepted: np.ndarray) -> pd.DataFrame:
    """A row for the runner-up salesperson of the first row's store that
    ties them with the leader over the accepted rows, so the mart's
    ties-all-paid rule runs (empty if there is no runner-up)."""
    ok = rows[accepted]
    grp = ok[ok.store_id == rows.store_id.iloc[0]]
    totals = grp.groupby("sales_person_id").total_c.sum().sort_values(ascending=False)
    gap = int(totals.iloc[0] - totals.iloc[1]) if len(totals) > 1 else 0
    extra = grp[grp.sales_person_id == totals.index[1]].iloc[:1 if gap else 0].copy()
    extra["price_c"], extra["quantity"], extra["total_c"] = gap, 1, gap
    return extra


def _text(values: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _money(cents: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        _text(cents // 100), pc.utf8_lpad(_text(cents % 100), 2, "0"), ".")


def _csv_columns(rows: pd.DataFrame) -> dict[str, pa.Array]:
    """Each CSV column of ``rows`` as text (no value needs quoting)."""
    return {
        "customer_id": _text(rows.customer_id.to_numpy()),
        "store_id": _text(rows.store_id.to_numpy()),
        "product_name": pa.array(rows.product_name),
        "sales_date": pa.array(np.datetime_as_string(rows.sales_date.to_numpy(), unit="D")),
        "sales_person_id": _text(rows.sales_person_id.to_numpy()),
        "price": _money(rows.price_c.to_numpy()),
        "quantity": _text(rows.quantity.to_numpy()),
        "total_cost": _money(rows.total_c.to_numpy()),
        EXTRA: pa.array(rows[EXTRA]),
    }


@dataclass
class Batch:
    """One run_pipeline call's landed files and what it must publish."""

    name: str
    files: list[dict]  # {"name", "accepted", "rows", "bytes"}
    team: pd.DataFrame  # month, store_id, sales_person_id, cents
    customer: pd.DataFrame  # customer_id, month, cents
    rows: int
    cents: int

    @property
    def accepted(self) -> list[str]:
        return [f["name"] for f in self.files if f["accepted"]]

    @property
    def quarantined(self) -> list[str]:
        return [f["name"] for f in self.files if not f["accepted"]]

    @property
    def input_bytes(self) -> int:
        return sum(f["bytes"] for f in self.files)


def _write_drop(name: str, d: str, rows: pd.DataFrame, files: list[tuple[str, tuple[str, ...]]],
                per_file: int) -> Batch:
    """Write one drop: file ``i`` holds rows ``[i * per_file, (i+1) *
    per_file)`` under header ``files[i][1]``, and the first file also the
    tie row. The drop is formatted as text once; files are slices."""
    os.makedirs(d)
    file_of = np.repeat(np.arange(len(files)), per_file)
    accepted = np.array([h != BAD_HEADER for _, h in files])
    rows = pd.concat([rows, _tie_row(rows, accepted[file_of])], ignore_index=True)
    file_of = np.concatenate([file_of, np.zeros(len(rows) - len(file_of), int)])
    order = np.argsort(file_of, kind="stable")
    rows, file_of = rows.iloc[order].reset_index(drop=True), file_of[order]
    cols = _csv_columns(rows)
    bounds = np.searchsorted(file_of, np.arange(len(files) + 1))
    meta = []
    for i, (f, h) in enumerate(files):
        path = os.path.join(d, f)
        part = [cols[c].slice(bounds[i], bounds[i + 1] - bounds[i]) for c in h]
        with open(path, "w") as out:
            out.write(",".join(h) + "\n"
                      + "\n".join(pc.binary_join_element_wise(*part, ",").to_pylist()) + "\n")
        meta.append({"name": f, "accepted": bool(accepted[i]),
                     "rows": int(bounds[i + 1] - bounds[i]), "bytes": os.path.getsize(path)})
    ok = rows[accepted[file_of]].copy()
    ok["month"] = f"{YEAR}-{ok.month.iloc[0]:02d}"
    team = (ok.groupby(["month", "store_id", "sales_person_id"], as_index=False)
              .total_c.sum().rename(columns={"total_c": "cents"}))
    cust = (ok.groupby(["customer_id", "month"], as_index=False)
              .total_c.sum().rename(columns={"total_c": "cents"}))
    return Batch(name, meta, team, cust, len(ok), int(ok.total_c.sum()))


def generate(out_dir: str, seed: int, size: EtlSize) -> list[Batch]:
    """Write dims under ``out_dir/dims`` and one monthly drop per batch
    under ``out_dir/<batch>``: ``files`` per-store files (stores drop
    several when ``files`` exceeds ``stores``), in mixed header variants,
    with a share of contract failures (never file 0). Write
    ``out_dir/manifest.json`` plus the per-key sums; return the batches."""
    write_dimensions(os.path.join(out_dir, "dims"), size, seed)
    rng = _rng(seed, 2)
    batches: list[Batch] = []
    n_bad = max(1, round(size.files * size.bad_share))
    for m in range(1, size.drops + 1):
        bad = set((1 + rng.choice(size.files - 1, n_bad, replace=False)).tolist())
        stores = np.arange(size.files) % size.stores + 1
        files = [(f"store{st:04d}_{YEAR}{m:02d}_{i // size.stores}.csv",
                  BAD_HEADER if i in bad else HEADERS[int(rng.integers(0, len(HEADERS)))])
                 for i, st in enumerate(stores)]
        rows = _sales_rows(rng, size, np.repeat(stores, size.rows_per_file), m)
        name = f"drop{m:02d}"
        batches.append(_write_drop(name, os.path.join(out_dir, name), rows, files,
                                   size.rows_per_file))
    # file routing and totals as JSON; the per-key sums as parquet
    manifest = {"seed": seed, "batches": []}
    for b in batches:
        manifest["batches"].append({
            "name": b.name, "files": b.files, "accepted_rows": b.rows,
            "total_cost_cents": b.cents,
        })
        for kind, sums in (("team_sums", b.team), ("customer_sums", b.customer)):
            pq.write_table(pa.Table.from_pandas(sums, preserve_index=False),
                           os.path.join(out_dir, f"{b.name}.{kind}.parquet"))
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return batches
