"""Checkpointed incremental file ingestion (M1/M2 as a stream).

`spark.readStream` over `incoming/*/` with `Trigger.AvailableNow()`:
each invocation processes exactly the files the checkpoint has not seen
and stops — the same at-least-once batch semantics as the reference's
incoming→processed→ingested directory state machine
(/root/reference/file_manager.py:8-11,72-73,107-110), but with
exactly-once file tracking in the checkpoint log, no renames, and no
shared-filesystem chmod dance (file_manager.py:22-24).

This is the streaming counterpart of `etl.pipeline.ReactionLake`
(its registry is the audit log). The audit path gives per-file audit +
quarantine control; this path gives the lowest-friction exactly-once ingestion.
Both write the same fact layout.

Heterogeneous headers: the streaming CSV source binds ONE schema. Files
carrying the pandas `Unnamed: 0` artifact or reordered columns belong on
the batch path (`sources.raw` header-grouping); the stream enforces the
canonical raw header (FIXTURES.md §A1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from reactionetl_etl_spark.schemas import CSV_COLUMN_MAP, conformed_fact_types

# canonical raw CSV schema in header order (FIXTURES.md §A1, no artifact)
_RAW_ORDER = [
    "SimulationID",
    "CA (mol/m^3)",
    "CB (mol/m^3)",
    "CC (mol/m^3)",
    "CD (mol/m^3)",
    "T (K)",
    "Tsensor (K)",
    "t (sec)",
]


def raw_csv_stream_schema() -> T.StructType:
    measures = conformed_fact_types()
    fields = []
    for raw in _RAW_ORDER:
        conformed = CSV_COLUMN_MAP[raw]
        fields.append(T.StructField(raw, measures.get(conformed, T.StringType())))
    return T.StructType(fields)


def incoming_fact_stream(spark: SparkSession, incoming_root: str) -> DataFrame:
    """Streaming DataFrame of conformed fact rows from incoming CSVs."""
    raw = (
        spark.readStream.schema(raw_csv_stream_schema())
        .option("header", True)
        .option("pathGlobFilter", "*.csv")  # S5 suffix filter
        .option("maxFilesPerTrigger", 512)  # bound micro-batch size
        .csv(f"{incoming_root.rstrip('/')}/*/")  # S4 day-dir discovery
    )
    return (
        raw.withColumnsRenamed(dict(CSV_COLUMN_MAP))
        .withColumns(
            {
                "source_file": F.input_file_name(),
                "day": F.element_at(F.split(F.input_file_name(), "/"), -2),
                "row_id": F.xxhash64("simulation_id", "rxn_time", F.input_file_name()),
                "simulation_num": F.lit(None).cast("int"),
            }
        )
        .select(
            "row_id",
            "simulation_id",
            "simulation_num",
            "ca",
            "cb",
            "cc",
            "cd",
            "temperature",
            "t_sensor",
            "rxn_time",
            "source_file",
            "day",
        )
    )


def run_available_now(
    spark: SparkSession, incoming_root: str, fact_path: str, checkpoint: str
) -> StreamingQuery:
    """Ingest all unseen files, then stop (Trigger.AvailableNow).

    Returns the started query; call `.awaitTermination()` to block.
    Exactly-once per file via the checkpoint's file-source log — the
    engine's replacement for move-to-ingested (file_manager.py:107-110).
    """
    stream = incoming_fact_stream(spark, incoming_root)
    return (
        stream.writeStream.format("parquet")
        .option("path", fact_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("day")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
