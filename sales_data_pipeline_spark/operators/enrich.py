"""Star-schema enrichment: fact × dimensions with safe column hygiene.

Reproduces the reference's 3-way inner-join chain
(reference: src/main/transformations/dimension_tables_join.py:16-53)
with two deliberate changes (SURVEY §2j.3):
- dimensions are renamed/prefixed BEFORE the join, so no ambiguous
  columns ever exist — the reference drops qualified string names
  ("s3_data.customer_id") which can silently no-op;
- every dim join is an inner join with an explicit broadcast hint (the
  reference relies on the auto threshold; the hint documents intent and
  survives stale statistics — AQE can still demote if a dim outgrows
  the budget).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class DimSpec:
    """One dimension join: fact_key == dim[dim_key], keep ``columns``
    (optionally renamed with ``prefix``)."""

    dim: DataFrame
    fact_key: str
    dim_key: str
    columns: tuple[str, ...]
    prefix: str = ""


def enrich(fact: DataFrame, specs: list[DimSpec]) -> DataFrame:
    """Left-deep inner join chain fact ⋈ dim₁ ⋈ dim₂ ⋈ … (fact stays on
    the left / streamed side; every dim is hash-broadcast)."""
    out = fact
    for spec in specs:
        proj: list[Column] = [F.col(spec.dim_key).alias(f"__k_{spec.dim_key}")]
        proj += [F.col(c).alias(f"{spec.prefix}{c}") for c in spec.columns]
        dim = F.broadcast(spec.dim.select(*proj))
        out = out.join(
            dim, out[spec.fact_key] == dim[f"__k_{spec.dim_key}"], "inner"
        ).drop(f"__k_{spec.dim_key}")
    return out


def sales_enrichment(
    fact: DataFrame,
    customer: DataFrame,
    store: DataFrame,
    sales_team: DataFrame,
) -> DataFrame:
    """The reference's exact enrichment surface: customer columns,
    store join (id==store_id), sales_team columns renamed sales_person_*
    (dimension_tables_join.py:46-53)."""
    return enrich(
        fact,
        [
            DimSpec(
                customer,
                fact_key="customer_id",
                dim_key="customer_id",
                columns=("first_name", "last_name", "address", "pincode", "phone_number"),
            ),
            DimSpec(
                store,
                fact_key="store_id",
                dim_key="id",
                columns=("store_manager_name", "store_opening_date"),
                prefix="store_",
            ),
            DimSpec(
                sales_team,
                fact_key="sales_person_id",
                dim_key="id",
                columns=("first_name", "last_name", "is_manager"),
                prefix="sales_person_",
            ),
        ],
    )
