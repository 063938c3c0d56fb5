"""Relational building blocks derived from the reference's semantics.

Reference parity (SURVEY.md §2):
- J1 update-join (`/root/reference/database_manager.py:200-240`): the
  reference loops a batched `UPDATE ... FROM` in 50-key windows purely
  to bound PostgreSQL transaction size. In Spark that is ONE broadcast
  left join + coalesce — no loop, no state, shuffle-free on the fact
  side when the dim broadcasts.
- X4 dense sequence (`/root/reference/create_tables.sql:32-35`): a
  PostgreSQL sequence assigning dense surrogate keys. Spark equivalent
  is a global row number over an explicit deterministic ordering,
  offset by the current max, computed without a single-partition
  window (`dense_sequence`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def enrich_with_dim(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    payload_cols: list[str],
    broadcast_dim: bool = True,
) -> DataFrame:
    """One-pass J1: propagate dim payload columns onto fact rows by equi-key.

    Replaces the reference's batched UPDATE-join loop
    (`database_manager.py:221-240`). If a payload column already exists
    on the fact side, NULL gaps are filled (F1 semantics:
    `fs.simulation_num is null`); rows already enriched keep their value.

    At 100 TB: dim tables that fit in executor memory are broadcast
    (no shuffle of the fact table at all); larger dims fall back to a
    shuffle hash/sort-merge join that AQE sizes — drop
    ``broadcast_dim`` in that case.
    """
    dim_sel = dim.select(key, *payload_cols)
    right = F.broadcast(dim_sel) if broadcast_dim else dim_sel
    joined = fact.join(right.withColumnsRenamed({c: f"__dim_{c}" for c in payload_cols}), on=key, how="left")
    out = joined
    for c in payload_cols:
        if c in fact.columns:
            out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__dim_{c}")))
        else:
            out = out.withColumn(c, F.col(f"__dim_{c}"))
        out = out.drop(f"__dim_{c}")
    return out


def dense_sequence(
    df: DataFrame,
    order_by: list[str],
    out_col: str = "seq_num",
    offset: int = 0,
) -> DataFrame:
    """X4: dense, deterministic surrogate-key assignment.

    Semantics of ``row_number() OVER (ORDER BY <order_by>) + offset``,
    computed WITHOUT a single-partition window: the global row number
    comes from :func:`reactionetl_etl_spark.operators.rank.global_order_ranks`
    (per-key counts → prefix sums over distinct keys → keyed join), so
    the operator is safe on fact-sized inputs too — no
    `Exchange SinglePartition` at any scale. Deterministic iff
    ``order_by`` is a total order; within ties the assignment is
    arbitrary but dense either way.
    """
    from reactionetl_etl_spark.operators.rank import global_order_ranks

    ranked = global_order_ranks(
        df,
        rank_exprs=[F.col(c) for c in order_by],
        rank_desc=[False] * len(order_by),
    )
    return ranked.select(
        *df.columns, (F.col("global_row_number") + F.lit(offset)).alias(out_col)
    )


def binned_range_join(
    facts: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
    how: str = "inner",
) -> DataFrame:
    """Range (interval) join that scales to LARGE interval tables.

    A non-equi `lo <= v AND v < hi` join plans as
    BroadcastNestedLoopJoin — O(|facts|·|ranges|) compares, fine only
    while the ranges side is broadcast-tiny. This recovers an EQUI-join
    by binning the value domain: each fact row keys on
    floor(value/bin_width); each range row explodes to every bin its
    [lo, hi) interval overlaps; the join is then hash-partitioned on
    the bin id and the exact predicate re-filters within candidate
    pairs. Work scales with |facts| + |ranges|·(avg interval width /
    bin_width) + true matches — pick bin_width ≈ the typical interval
    width so ranges explode to O(1) bins each.

    Half-open [lo, hi) semantics, matching the broadcast-NLJ formulation
    in `quantity_band_range_join`. ``how='inner'`` only (candidate
    explosion breaks outer-join multiplicity).
    """
    if how != "inner":
        raise ValueError("binned_range_join supports inner joins only")
    w = float(bin_width)
    f = facts.withColumn("__bin", F.floor(F.col(value_col) / F.lit(w)).cast("long"))
    # hi is exclusive: a range touching a bin boundary exactly at hi
    # does not overlap that bin, hence the epsilon-free floor on
    # hi/w minus the boundary case handled by the exact re-filter.
    r = ranges.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(w)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(w)).cast("long"),
            )
        ),
    )
    return (
        f.join(r, on="__bin", how="inner")
        .filter((F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col)))
        .drop("__bin")
    )


def topk(df: DataFrame, order_exprs: list, k: int) -> DataFrame:
    """Global deterministic top-k. Spark plans this as TakeOrderedAndProject:
    per-partition heaps + a k-row merge on the driver — no global sort,
    no single-partition shuffle, scales to any input size."""
    return df.orderBy(*order_exprs).limit(k)


def topk_per_group(df: DataFrame, group_cols: list[str], order_exprs: list, k: int) -> DataFrame:
    """Top-k within each group via ranked window; one shuffle on the
    group keys. Deterministic iff ``order_exprs`` is a total order."""
    w = Window.partitionBy(*group_cols).orderBy(*order_exprs)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def binned_interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: float,
    how: str = "inner",
) -> DataFrame:
    """Interval × interval OVERLAP join (a.lo < b.hi AND b.lo < a.hi,
    half-open) as an equi-join — the genomics/session/validity-window
    shape `binned_range_join` (point × interval) does not cover.

    Both sides explode to every bin their interval touches; candidates
    meet hash-partitioned on the bin id; the exact overlap predicate
    re-filters; duplicates from multi-bin overlaps collapse via the
    canonical-bin trick — a candidate pair is KEPT only in the bin
    containing the overlap's start, max(a.lo, b.lo), so no
    dropDuplicates pass (and therefore no wide all-columns shuffle) is
    ever needed. Work ∝ |a|·(width_a/bin) + |b|·(width_b/bin) + true
    matches; pick bin_width ≈ typical interval width."""
    if how != "inner":
        raise ValueError("binned_interval_overlap_join supports inner joins only")
    w = float(bin_width)

    def binned(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / F.lit(w)).cast("long"),
                    F.floor(F.col(hi) / F.lit(w)).cast("long"),
                )
            ),
        )
    a = binned(left, left_lo, left_hi)
    b = binned(right, right_lo, right_hi)
    overlap = (F.col(left_lo) < F.col(right_hi)) & (F.col(right_lo) < F.col(left_hi))
    canonical = F.col("__bin") == F.floor(
        F.greatest(F.col(left_lo), F.col(right_lo)) / F.lit(w)
    ).cast("long")
    return a.join(b, on="__bin", how="inner").filter(overlap & canonical).drop("__bin")


def skyline_2d(
    df: DataFrame,
    maximize: str,
    minimize: str,
) -> DataFrame:
    """Pareto frontier over two criteria: rows not dominated by any
    other row (dominator: ``maximize`` >= AND ``minimize`` <= with at
    least one strict). The multi-objective selection primitive —
    best-tradeoff suppliers by (revenue, defect rate), best checkpoint
    by (quality, cost) — without scoring weights.

    A naive skyline is a NOT EXISTS self-join (O(n²), what the DuckDB
    oracle runs); for 2-D the frontier is computable in ONE global sort
    instead: ordered by ``maximize`` DESC, a row survives iff its
    ``minimize`` value is strictly below every strictly-better row's
    minimum, i.e. below the running min over the preceding maximize
    groups. Spark has no GROUPS window frame, so the running min is
    computed on the per-group mins (one groupBy on ``maximize``, frame
    shifted one ROW to exclude the own group) and joined back — three
    narrow shuffles total (group agg, tiny window, key join), no
    self-join, no O(n²) term at any scale. The window over distinct
    ``maximize`` values is single-partition but group-count-sized —
    bounded by distinct metric values, not input rows; for
    measure-valued metrics consider pre-bucketing if distincts are
    fact-sized.

    Equal-on-both-criteria rows do not dominate each other: all of
    them survive, matching the NOT EXISTS formulation exactly.
    Criteria must be non-NULL (dominance over NULL is undefined —
    filter or impute first; NULLs would sort last in the running-min
    window and silently skew survivorship).
    """
    grp = df.groupBy(maximize).agg(F.min(minimize).alias("__gmin"))
    w = Window.orderBy(F.col(maximize).desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier_grp = grp.select(
        maximize,
        "__gmin",
        F.min("__gmin").over(w).alias("__prev_min"),
    )
    out = df.join(frontier_grp, on=maximize)
    keep = (
        # not dominated by a strictly-better `maximize` row
        F.col("__prev_min").isNull() | (F.col(minimize) < F.col("__prev_min"))
    ) & (
        # not dominated within the same `maximize` group
        F.col(minimize) <= F.col("__gmin")
    )
    return out.filter(keep).drop("__gmin", "__prev_min")
