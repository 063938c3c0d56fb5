"""Enrichment stage (EP3): surrogate-key assignment + fact enrichment.

Reference semantics (/root/reference/database_manager.py:200-240 and
create_tables.sql:32-35):
- each dim row gets a dense `simulation_num` from a PostgreSQL sequence;
- fact rows then acquire their dim's `simulation_num` by simulation_id
  equality, via a 50-key-batched UPDATE-join loop whose batching exists
  only to bound transaction size.

Spark version:
- dense sequence = the reference's numbering over the total order
  (date_run, simulation_id), offset by the current max (deterministic &
  stable across incremental runs because history is append-only). One
  run's new dim rows are at most one per new metadata file, so
  `assign_simulation_nums` numbers them on the driver; catalog-scale
  numbering uses the distributed `operators.relational.dense_sequence`.
- enrichment = ONE broadcast left join + coalesce; the fact side never
  shuffles. At 100 TB the fact table streams through the join
  map-side; a dim too big to broadcast falls back to AQE-planned
  shuffle join (pass broadcast_dim=False).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame

from reactionetl_etl_spark.operators.relational import enrich_with_dim
from reactionetl_etl_spark.schemas import LAKE_DIM_SCHEMA


def assign_simulation_nums(rows: Iterable, current_max: int | None) -> list[tuple]:
    """X4: number one run's new dim rows, as tuples in LAKE_DIM_SCHEMA
    order.

    ``rows``: cleansed metadata rows (indexable by column name) whose
    simulation_id is not in the dim yet. One row per simulation_id is
    kept, the first in (date_run, source_file) order, and the kept rows
    are numbered ``current_max + 1, ...`` in (date_run, simulation_id)
    order. Validation makes both order columns non-NULL, and Python's
    str order is Spark's UTF8_BINARY order. ``current_max`` is None/0 on
    first load (the reference's NULL-start fragility, SURVEY.md §3 EP3,
    handled here with coalesce semantics).
    """
    first = {}
    for r in sorted(rows, key=lambda r: (r["date_run"], r["source_file"])):
        first.setdefault(r["simulation_id"], r)
    kept = sorted(first.values(), key=lambda r: (r["date_run"], r["simulation_id"]))
    offset = int(current_max or 0)
    return [
        tuple(offset + n if c == "simulation_num" else r[c] for c in LAKE_DIM_SCHEMA.names)
        for n, r in enumerate(kept, 1)
    ]


def enrich_fact(fact: DataFrame, dim: DataFrame, broadcast_dim: bool = True) -> DataFrame:
    """J1/F1: fill NULL simulation_num on fact rows from the dim, one pass.

    Rows already enriched keep their value (the reference's
    `fs.simulation_num IS NULL` guard); unmatched fact rows stay NULL
    and are picked up by a later run once their metadata arrives —
    exactly the reference's interleaved-run behavior.
    """
    return enrich_with_dim(
        fact,
        dim.select("simulation_id", "simulation_num"),
        "simulation_id",
        ["simulation_num"],
        broadcast_dim=broadcast_dim,
    )
