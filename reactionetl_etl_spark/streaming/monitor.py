"""Streaming observability: a StreamingQueryListener that turns query
progress events into an append-only parquet audit table.

The reference's ETL audits each batch unit of work into `etl_run_log`
(reference: database_manager.py — W4/W5); Structured Streaming's
equivalent signal is the per-micro-batch `StreamingQueryProgress`
event. This module captures those events and lands them next to the
batch audit log, so one table family answers both "what did the
nightly load do" and "what is the stream doing" — rows/sec, batch
durations, watermark lag, state-store size.

Design: the listener only BUFFERS (callbacks run on the listener bus
thread — doing Spark jobs there risks deadlock against the very
queries being observed and slows every event); `flush()` writes the
buffer as one small append from the caller's thread. AvailableNow
pipelines flush after drain; long-running services flush on a timer.
Buffering is lossy only in the way any in-memory monitor is (a crash
loses unflushed telemetry, never data) — the signals that matter for
replay safety live in the sinks' own commit markers, not here.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import SparkSession
from pyspark.sql.streaming.listener import StreamingQueryListener

from reactionetl_etl_spark.io.files import local_frame

PROGRESS_SCHEMA = (
    "query_id string, run_id string, query_name string, batch_id long, "
    "event_ts string, num_input_rows long, input_rows_per_second double, "
    "processed_rows_per_second double, batch_duration_ms long, "
    "state_rows long, watermark string, sources string"
)


class ProgressAuditListener(StreamingQueryListener):
    """Buffers one row per micro-batch progress event; thread-safe."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._rows: list[tuple] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        row = (
            str(p.get("id")),
            str(p.get("runId")),
            p.get("name"),
            int(p.get("batchId", -1)),
            p.get("timestamp"),
            int(p.get("numInputRows", 0)),
            float(p.get("inputRowsPerSecond", 0.0) or 0.0),
            float(p.get("processedRowsPerSecond", 0.0) or 0.0),
            int((p.get("durationMs") or {}).get("triggerExecution", 0)),
            int(sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators") or [])),
            (p.get("eventTime") or {}).get("watermark"),
            json.dumps([s.get("description") for s in p.get("sources") or []]),
        )
        with self._lock:
            self._rows.append(row)

    def pending(self) -> int:
        with self._lock:
            return len(self._rows)

    def flush(self, spark: SparkSession, audit_path: str) -> int:
        """Append buffered progress rows to ``audit_path``; returns the
        number written. Safe to call repeatedly (drains the buffer)."""
        with self._lock:
            rows, self._rows = self._rows, []
        if not rows:
            return 0
        # one output file: the Arrow local relation spreads its rows over
        # up to defaultParallelism partitions; coalesce(1) folds them
        # into one JVM task (no Python worker runs)
        local_frame(spark, rows, PROGRESS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(audit_path)
        return len(rows)


def attach_progress_audit(spark: SparkSession) -> ProgressAuditListener:
    """Register (and return) a progress-audit listener on this session.

    Caller owns the lifecycle: call ``listener.flush(spark, path)``
    after draining (or periodically) and
    ``spark.streams.removeListener(listener)`` when done.
    """
    listener = ProgressAuditListener()
    spark.streams.addListener(listener)
    return listener
