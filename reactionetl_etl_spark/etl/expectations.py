"""Declarative data-quality expectations: the reference's hard-coded
validation steps (required columns, typed records, PK semantics —
reference: data_cleaner.py / database_manager.py, V1-V4) generalized
into a rule set evaluated in as few passes as the rules allow.

Design for the 100 TB scan:
- every ROW-LOCAL rule (not_null, range, values_in, regex, custom
  predicate) compiles to one conditional-sum column in a SINGLE
  aggregate — checking 40 rules costs the same one scan as checking
  one;
- `unique` needs its own shuffle (per key-set), `foreign_key` its own
  join (AQE picks broadcast when the reference side is small) — both
  unavoidable and both stated in the report, so a rule's cost is
  visible in its kind;
- the report is rule-grained (rule, kind, n_violations, passed), a
  handful of rows regardless of input size — write it next to the
  audit log and alert on `passed = false`.

Violation semantics: a rule counts ROWS. `unique` counts every row
belonging to a key that occurs more than once (2 duplicates of one key
= 2 violations — the rows you'd have to quarantine).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reactionetl_etl_spark.io.files import local_frame


@dataclass(frozen=True)
class Rule:
    name: str
    kind: str
    # row-local rules carry their violation predicate; unique/fk carry
    # their key columns (and reference frame for fk)
    violation: Column | None = None
    cols: tuple[str, ...] = ()
    ref: DataFrame | None = field(default=None, compare=False)
    ref_cols: tuple[str, ...] = ()


def expect_not_null(name: str, col: str) -> Rule:
    return Rule(name, "not_null", F.col(col).isNull())


def expect_range(name: str, col: str, lo=None, hi=None) -> Rule:
    cond = F.lit(False)
    if lo is not None:
        cond = cond | (F.col(col) < lo)
    if hi is not None:
        cond = cond | (F.col(col) > hi)
    # NULLs are not range violations (not_null is its own rule)
    return Rule(name, "range", F.col(col).isNotNull() & cond)


def expect_values_in(name: str, col: str, allowed: list) -> Rule:
    return Rule(name, "values_in", F.col(col).isNotNull() & ~F.col(col).isin(allowed))


def expect_regex(name: str, col: str, pattern: str) -> Rule:
    return Rule(name, "regex", F.col(col).isNotNull() & ~F.col(col).rlike(pattern))


def expect_predicate(name: str, violation_sql: str) -> Rule:
    """Escape hatch: rows where ``violation_sql`` is TRUE violate."""
    return Rule(name, "predicate", F.expr(violation_sql))


def expect_unique(name: str, cols: list[str]) -> Rule:
    return Rule(name, "unique", None, tuple(cols))


def expect_foreign_key(name: str, cols: list[str], ref: DataFrame, ref_cols: list[str]) -> Rule:
    return Rule(name, "foreign_key", None, tuple(cols), ref, tuple(ref_cols))


def write_with_expectations(
    df: DataFrame,
    path: str,
    rules: list[Rule],
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> tuple[DataFrame, int]:
    """Validate WHILE writing: every row-local rule's violation counter
    rides the write job itself via Spark's Observation API, so checking
    40 rules on a 100 TB load costs ZERO extra scans — the counters are
    accumulated by the same tasks that write the parquet. `unique` /
    `foreign_key` rules still need their own shuffle/join and fall back
    to `run_expectations` (their cost is inherent to the kind, and
    visible in it).

    Returns (report, n_rows_written): the report has the exact
    `run_expectations` shape — (rule, kind, n_violations, passed), in
    declaration order — and the row count comes from the same
    observation, not a recount.

    This is validate-then-alert, not validate-then-abort: the data is
    already written when the report materializes (counters only exist
    once the job finishes). For gate-before-visible semantics, write to
    a staging path here and promote with `etl/commit.py` /
    `etl/snapshots.py` only when the report passes — the observation
    still makes validation itself free."""
    from pyspark.sql import Observation

    spark = df.sparkSession
    # Degenerate inputs must fail (or short-circuit) BEFORE the write
    # starts — an empty rule list used to IndexError on reports[0] and
    # duplicate rule names used to blow up create_map, both AFTER the
    # parquet was already on disk, handing the caller an exception for
    # a completed write (ADVICE r6).
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"duplicate rule names: {dupes}")
    if "__rows_written" in names:
        raise ValueError("'__rows_written' is a reserved rule name")
    row_local = [r for r in rules if r.violation is not None]
    others = [r for r in rules if r.violation is None]

    obs = Observation()
    observed = df
    metrics = [F.count(F.lit(1)).alias("__rows_written")]
    metrics += [F.sum(r.violation.cast("long")).alias(r.name) for r in row_local]
    observed = df.observe(obs, *metrics)

    writer = observed.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)

    got = obs.get  # blocks until the (already finished) write job reports
    n_rows = int(got["__rows_written"] or 0)
    reports: list[DataFrame] = []
    if row_local:
        reports.append(
            local_frame(
                spark,
                [(r.name, r.kind, int(got[r.name] or 0)) for r in row_local],
                "rule string, kind string, n_violations long",
            )
        )
    if others:
        reports.append(run_expectations(df, others).drop("passed"))
    if not reports:  # zero rules: a completed write still gets a report
        empty = local_frame(
            spark, [], "rule string, kind string, n_violations long, passed boolean"
        )
        return empty, n_rows
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    order = F.create_map(
        *[x for i, r in enumerate(rules) for x in (F.lit(r.name), F.lit(i))]
    )
    report = (
        out.withColumn("passed", F.col("n_violations") == 0)
        .withColumn("__o", order[F.col("rule")])
        .orderBy("__o")
        .drop("__o")
    )
    return report, n_rows


def run_expectations(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate ``rules`` against ``df``; returns one row per rule:
    (rule, kind, n_violations, passed) — deterministic rule order."""
    spark = df.sparkSession
    row_local = [r for r in rules if r.violation is not None]
    reports: list[DataFrame] = []
    if row_local:
        aggs = [
            F.sum(r.violation.cast("long")).alias(r.name) for r in row_local
        ]
        one = df.agg(*aggs)
        # one wide row → rule-grained rows, all driver-free
        stacked = one.selectExpr(
            f"stack({len(row_local)}, "
            + ", ".join(f"'{r.name}', '{r.kind}', coalesce(`{r.name}`, 0)" for r in row_local)
            + ") as (rule, kind, n_violations)"
        )
        reports.append(stacked)
    for r in rules:
        if r.kind == "unique":
            n = (
                df.groupBy(*r.cols)
                .count()
                .filter(F.col("count") > 1)
                .agg(F.coalesce(F.sum("count"), F.lit(0)).alias("n"))
                .select(
                    F.lit(r.name).alias("rule"),
                    F.lit(r.kind).alias("kind"),
                    F.col("n").alias("n_violations"),
                )
            )
            reports.append(n)
        elif r.kind == "foreign_key":
            ref = r.ref.select(
                *[F.col(rc).alias(c) for c, rc in zip(r.cols, r.ref_cols)]
            ).distinct()
            import functools

            # SQL MATCH SIMPLE: a NULL in any FK column satisfies the
            # constraint; only fully-non-null keys must resolve
            all_set = functools.reduce(
                lambda a, b: a & b, [F.col(c).isNotNull() for c in r.cols]
            )
            n = (
                df.filter(all_set)
                .join(ref, on=list(r.cols), how="left_anti")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(
                    F.lit(r.name).alias("rule"),
                    F.lit(r.kind).alias("kind"),
                    F.col("n").alias("n_violations"),
                )
            )
            reports.append(n)

    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    order = F.create_map(
        *[x for i, r in enumerate(rules) for x in (F.lit(r.name), F.lit(i))]
    )
    return (
        out.withColumn("passed", F.col("n_violations") == 0)
        .withColumn("__o", order[F.col("rule")])
        .orderBy("__o")
        .drop("__o")
    )
