"""Structured Streaming surface.

Ingest is not here: `etl.pipeline.ReactionLake.run_once` is the one
ingest path, and its audit log is the processed-file registry (a rerun
processes nothing). This package holds the event-time operators the
reference never had (`windows`, `joins`: watermarks, tumbling/session
windows, watermark-bounded interval joins), the foreachBatch sinks
(`sinks.start_sink` with its batch writers, `packing`) and a progress
listener that lands micro-batch progress next to the batch audit log
(`monitor`).
"""
