"""Audit log (W4/W5): append-only run events + latest-wins status view.

The reference keeps one mutable row per unit of work in `etl_run_log`
(INSERT ... RETURNING to open, keyed UPDATE to close —
/root/reference/database_manager.py:143-198). Parquet has no cheap
in-place UPDATE, and at scale you don't want one: we append immutable
status events (running → success/failed/quarantined) and reconstruct
"current status" with a latest-wins window. Same information, no
mutation, trivially concurrent. (With a Delta/Iceberg table the close
event could be a MERGE; the event model still wins for concurrency.)

The reference's flag-machinery bugs (errored never initialized, reset on
failure, stale row counts leaking across loops — SURVEY.md §3 EP1) are
structurally impossible here: every event row carries its own counts.
"""

from __future__ import annotations

import uuid
from dataclasses import astuple, dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reactionetl_etl_spark.io.files import local_frame
from reactionetl_etl_spark.schemas import ETL_RUN_LOG_SCHEMA


@dataclass
class AuditEvent:
    etl_id: str
    event_time: datetime
    simulation_id: str | None
    etl_type: str  # 'reaction' | 'metadata'
    records_inserted: int | None
    records_updated: int | None
    status: str  # 'running' | 'success' | 'failed' | 'quarantined'
    error_message: str | None
    source_file: str | None
    day: str | None


def new_etl_id() -> str:
    """X3: client-side uuid replaces gen_random_uuid() + RETURNING."""
    return str(uuid.uuid4())


def events_df(spark: SparkSession, events: list[AuditEvent]) -> DataFrame:
    """Driver-held events as a local frame (AuditEvent's fields are in
    ETL_RUN_LOG_SCHEMA order)."""
    return local_frame(spark, [astuple(e) for e in events], ETL_RUN_LOG_SCHEMA)


def latest_status(audit: DataFrame) -> DataFrame:
    """Latest-wins view: one row per etl_id — its most recent event,
    plus run duration (X2: finished - started, as the reference's
    `extract(epoch from now() - started_at)`,
    database_manager.py:184)."""
    # Tie-break: run_once stamps a file's 'running' and terminal events
    # with the same clock read, so event_time alone is ambiguous — a
    # terminal status must win the tie, and status text makes the pick
    # fully deterministic.
    w = Window.partitionBy("etl_id").orderBy(
        F.col("event_time").desc(),
        (F.col("status") == "running").cast("int").asc(),
        F.col("status").asc(),
    )
    agg_w = Window.partitionBy("etl_id")
    return (
        audit.withColumn("__rn", F.row_number().over(w))
        .withColumn("started_at", F.min("event_time").over(agg_w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn(
            "duration_seconds",
            F.when(
                F.col("status") != "running",
                # NTZ timestamps don't cast to double; microsecond diff does
                F.expr("timestampdiff(MICROSECOND, started_at, event_time) / 1e6"),
            ),
        )
        .withColumnRenamed("event_time", "last_event_at")
    )
