"""Tests for scale-oriented operators: salted join, grouped-map
transforms, as-of joins and partitioned upserts."""

from __future__ import annotations

from pyspark.sql import functions as F

from reactionetl_etl_spark.operators.grouped import (
    zscore_per_group_pandas,
    zscore_per_group_window,
)
from reactionetl_etl_spark.operators.skew import salted_join
from reactionetl_etl_spark.sources.tables import load_events, load_table


def test_asof_join_semantics(spark):
    """Tie handling: non-strict matches a simultaneous right row,
    strict does not; rows before any right row get NULL."""
    from reactionetl_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 20, "c"), (2, 7, "d")],
        "k int, ts int, name string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0)], "k int, ts int, payload double"
    )
    loose = {
        r["name"]: r["payload"]
        for r in asof_join(left, right, "k", "ts", "ts", ["payload"]).collect()
    }
    assert loose == {"a": None, "b": 100.0, "c": 150.0, "d": None}
    strict = {
        r["name"]: r["payload"]
        for r in asof_join(left, right, "k", "ts", "ts", ["payload"], strict=True).collect()
    }
    assert strict == {"a": None, "b": None, "c": 150.0, "d": None}


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting redistributes work but never changes results — including
    under heavy synthetic skew (90% of rows share one key)."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    skewed = orders.withColumn(
        "o_custkey", F.when(F.rand(42) < 0.9, F.lit(1)).otherwise(F.col("o_custkey"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    plain = skewed.join(cust, "o_custkey").groupBy("c_nationkey").count()
    salted = salted_join(skewed, cust, "o_custkey", n_salts=8).groupBy("c_nationkey").count()
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_aqe_splits_skewed_join_partition(spark, sf_dir, session_confs):
    """AQE's skew-join handling (session.py enables it) demonstrably
    fires on a 90%-hot-key sort-merge join: the FINAL adaptive plan
    marks the SMJ `skew=true`, meaning the hot key's oversized shuffle
    partition was split across multiple tasks at runtime with no code
    change. This is the first line of defense at 100 TB; `salted_join`
    remains the lever for the case AQE cannot split — a broadcast-
    ineligible build side or a single hot key on BOTH join sides
    (AQE splits one side's partition but must then replicate the
    other side's matching partition; when both are huge, salt).
    Thresholds are production-defaults-scaled-down (256 MB → 32 KB) so
    the fixture-sized join exhibits the same decision the real
    thresholds produce on real partitions. The inputs have 8 range
    partitions whatever the core count: AQE splits a skewed partition
    only along map outputs, and one map task leaves nothing to split."""
    session_confs(
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        }
    )
    fact = (
        spark.range(0, 60_000, 1, 8)
        .select(
            F.when(F.col("id") % 10 < 9, F.lit(1))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
    )
    dim = spark.range(0, 100, 1, 8).select(F.col("id").alias("k"), F.lit("d").alias("dv"))
    res = fact.join(dim, "k").agg(F.count("*").alias("n"), F.sum(F.length("pad")).alias("b"))
    [row] = res.collect()
    # hot key 1 → 54 000 fact rows × 1 dim row; tail keys k=id
    # (id%10==9) match dim only for id<100: ids 9,19,…,99 → 10 rows
    assert row["n"] == 54_010
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, f"AQE skew split did not fire:\n{plan[:2000]}"


def test_zscore_pandas_equals_window(spark, sf_dir):
    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value").limit(3000)
    a = {
        r["event_id"]: round(r["zscore"], 4)
        for r in zscore_per_group_pandas(ev, ["event_type"], "value").collect()
        if r["zscore"] is not None
    }
    b = {
        r["event_id"]: round(r["zscore"], 4)
        for r in zscore_per_group_window(ev, ["event_type"], "value").collect()
        if r["zscore"] is not None
    }
    assert a == b


def test_upsert_partitioned_updates_and_inserts(spark, tmp_path):
    """Upsert rewrites only touched partitions: matched keys get the
    new payload, new keys insert, untouched partitions' files stay."""
    import glob

    import pytest

    from reactionetl_etl_spark.etl.upsert import upsert_partitioned

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2"), (4, "d", "d3")],
        "k long, v string, day string",
    )
    base.write.partitionBy("day").parquet(path)
    untouched_before = sorted(glob.glob(f"{path}/day=d3/*.parquet"))

    updates = spark.createDataFrame(
        [(2, "B2", "d1"), (5, "e", "d2")], "k long, v string, day string"
    )
    n = upsert_partitioned(spark, path, updates, ["k"], "day")
    assert n == 2
    got = {r["k"]: (r["v"], r["day"]) for r in spark.read.parquet(path).collect()}
    assert got == {
        1: ("a", "d1"), 2: ("B2", "d1"), 3: ("c", "d2"), 5: ("e", "d2"), 4: ("d", "d3"),
    }
    # dynamic overwrite must not rewrite the untouched partition
    assert sorted(glob.glob(f"{path}/day=d3/*.parquet")) == untouched_before

    dup = spark.createDataFrame(
        [(7, "x", "d1"), (7, "y", "d1")], "k long, v string, day string"
    )
    with pytest.raises(ValueError, match="not unique"):
        upsert_partitioned(spark, path, dup, ["k"], "day")


def test_upsert_partitioned_key_moves_partition(spark, tmp_path):
    """keys_move_partitions=True evicts a migrating key's stale row
    from its OLD partition; the default (immutability contract) leaves
    it, which is the documented duplicate-key hazard."""
    from reactionetl_etl_spark.etl.upsert import upsert_partitioned

    base = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")],
        "k long, v string, day string",
    )
    move = spark.createDataFrame([(2, "B", "d9")], "k long, v string, day string")

    # default contract: old row survives → duplicate key (the hazard)
    p_default = str(tmp_path / "t_default")
    base.write.partitionBy("day").parquet(p_default)
    upsert_partitioned(spark, p_default, move, ["k"], "day")
    assert spark.read.parquet(p_default).filter("k = 2").count() == 2

    # opt-in migration handling: old home rewritten without the key
    p_move = str(tmp_path / "t_move")
    base.write.partitionBy("day").parquet(p_move)
    n = upsert_partitioned(spark, p_move, move, ["k"], "day", keys_move_partitions=True)
    assert n == 1
    got = {r["k"]: (r["v"], r["day"]) for r in spark.read.parquet(p_move).collect()}
    assert got == {1: ("a", "d1"), 2: ("B", "d9"), 3: ("c", "d3")}
