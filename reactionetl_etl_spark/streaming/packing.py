"""Streaming token-budget packing: incremental training-shard export.

Batch `operators/packing.py` cuts a STATIC corpus into ~budget-token
shards. A live ingestion pipeline wants the same layout to GROW as
micro-batches arrive, with the shard function staying exactly the
batch one: shard_id(d) = floor(global tokens before d / budget) over
the concatenated stream history. Re-running the whole pack per batch
is O(history); instead each batch packs itself locally and shifts by
the RUNNING TOKEN OFFSET of everything before it.

Replay safety (foreachBatch is at-least-once): output data is
partitioned by batch_id and rewritten with dynamic partition
overwrite, and the offsets sidecar (`<out>/_offsets`, one row per
batch: batch_id, batch_tokens, cum_before) is itself batch_id-
partitioned — a replayed batch recomputes the SAME offset from the
sidecar rows of earlier batches and overwrites its own partition in
both places, so every replay converges to the identical layout.
(Leading-underscore sidecar: invisible to readers of the output dir.)

Ordering contract: shard ids follow (batch arrival order, order_col
within batch) — the deterministic stream order. A doc that arrives in
batch 7 packs after everything in batches 0-6, exactly as the batch
operator would see the concatenated input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reactionetl_etl_spark.io.files import local_frame, read_if_exists
from reactionetl_etl_spark.operators.packing import pack_by_token_budget


def packing_batch_writer(
    out_path: str,
    order_col: str,
    token_col: str,
    budget: int,
    bucket_expr=None,
):
    """Build the foreachBatch callback: (batch_df, batch_id) → packed
    append. Run a stream into it with `streaming/sinks.py::start_sink`;
    tests also drive it with plain DataFrames."""
    offsets_path = f"{out_path}/_offsets"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = read_if_exists(lambda: spark.read.parquet(offsets_path))
        if prior is not None:
            row = (
                prior.filter(F.col("batch_id") < batch_id)
                .agg(F.coalesce(F.sum("batch_tokens"), F.lit(0)).alias("t"))
                .first()
            )
            offset = int(row["t"])
        else:
            offset = 0
        packed = pack_by_token_budget(
            batch_df,
            order_col=order_col,
            token_col=token_col,
            budget=budget,
            bucket_expr=bucket_expr,
        )
        out = (
            packed.withColumn("tokens_before", F.col("tokens_before") + F.lit(offset))
            .withColumn(
                "shard_id",
                F.floor(F.col("tokens_before") / F.lit(budget)).cast("bigint"),
            )
            .withColumn("batch_id", F.lit(int(batch_id)))
            .localCheckpoint(eager=True)  # pin before the overwrite below
        )
        batch_tokens = out.agg(
            F.coalesce(F.sum(token_col), F.lit(0)).alias("t")
        ).first()["t"]
        (
            out.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_path)
        )
        local_frame(
            spark,
            [(int(batch_id), int(batch_tokens), offset)],
            "batch_id long, batch_tokens long, cum_before long",
        ).write.mode("overwrite").partitionBy("batch_id").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(offsets_path)

    return write_batch
