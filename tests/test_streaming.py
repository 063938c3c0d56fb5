"""Streaming-surface tests: foreachBatch sinks, the progress listener
and event-time windowed aggregation (batch/stream parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from reactionetl_etl_spark.sources.tables import load_events
from reactionetl_etl_spark.streaming.windows import session_windows, tumbling_event_stats


def test_stream_to_jdbc_foreachbatch(spark, tmp_path):
    """foreachBatch bridge: micro-batches flow through the COPY-parity
    JDBC writer (recorded, no live warehouse), conformed to fact_sim's
    column order, append mode."""
    from reactionetl_etl_spark.io.jdbc import FACT_SIM_COLS
    from reactionetl_etl_spark.streaming.sinks import jdbc_batch_writer, start_sink
    from tests.test_sources_sinks import _RecordingWriter

    writers = []

    def factory(d):
        w = _RecordingWriter(d)
        writers.append(w)
        return w

    fact = spark.createDataFrame(
        [("s1", 1.0, 2.0, 3.0, 4.0, 300.0, 301.0, 0.5, "f", "2026-01-05")],
        "simulation_id string, ca double, cb double, cc double, cd double,"
        " temperature double, t_sensor double, rxn_time double,"
        " source_file string, day string",
    )
    # callback unit: exactly the (df, batch_id) shape foreachBatch passes
    jdbc_batch_writer("jdbc:postgresql://wh/lake", writer_factory=factory)(fact, 0)
    assert writers[0].saved and writers[0].df.columns == FACT_SIM_COLS

    # end-to-end: AvailableNow file stream drains through the sink
    src = str(tmp_path / "jdbc_src")
    fact.write.parquet(src)
    stream = spark.readStream.schema(fact.schema).parquet(src)
    handle = start_sink(
        stream,
        jdbc_batch_writer("jdbc:postgresql://wh/lake", "fact_sim", writer_factory=factory),
        str(tmp_path / "jdbc_ckpt"),
    )
    handle.awaitTermination(120)
    assert len(writers) >= 2 and writers[-1].save_mode == "append"


def test_interval_join_stream_batch_parity(spark, sf_dir, tmp_path):
    """The same interval_join runs over two readStreams (watermarked,
    bounded state) and over batch frames, producing identical pairs."""
    from reactionetl_etl_spark.streaming.joins import interval_join

    ev = load_events(spark, sf_dir)
    clicks_b = ev.filter(F.col("event_type") == "click")
    purch_b = ev.filter(F.col("event_type") == "purchase")
    batch = interval_join(clicks_b, purch_b, on="user_id", upper="30 minutes")
    expected = {(r["event_id"], r["event_id_r"]) for r in batch.collect()}

    src = str(tmp_path / "iv_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    joined = interval_join(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        on="user_id",
        upper="30 minutes",
        watermark="2 hours",
    )
    q = (
        joined.select("event_id", "event_id_r")
        .writeStream.format("memory")
        .queryName("iv_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "iv_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["event_id"], r["event_id_r"])
        for r in spark.sql("SELECT * FROM iv_test").collect()
    }
    assert got == expected and len(expected) > 0


def test_tumbling_window_batch(spark, sf_dir):
    """Batch execution of the windowed plan matches a date_trunc agg."""
    ev = load_events(spark, sf_dir)
    windowed = tumbling_event_stats(ev, "1 hour")
    expected = ev.groupBy(
        F.date_trunc("hour", "ts_ntz").alias("h"), "event_type"
    ).count()
    assert windowed.count() == expected.count()
    total = windowed.agg(F.sum("n")).first()[0]
    assert total == ev.count()


def test_tumbling_window_streaming_parity(spark, sf_dir, tmp_path):
    """The SAME plan runs over readStream with a watermark and yields
    identical window totals (AvailableNow over a parquet copy)."""
    ev = load_events(spark, sf_dir)
    src = str(tmp_path / "events_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    windowed = tumbling_event_stats(stream, "1 hour", watermark="2 hours")
    q = (
        windowed.writeStream.format("memory")
        .queryName("win_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n) FROM win_test").first()[0]
    assert got == ev.count()


def test_sliding_window_batch_fanout(spark, sf_dir):
    """Every event lands in exactly window/slide = 4 sliding windows:
    the windowed row-count total is 4× the input."""
    from reactionetl_etl_spark.streaming.windows import sliding_event_stats

    ev = load_events(spark, sf_dir)
    windowed = sliding_event_stats(ev, "1 hour", "15 minutes")
    assert windowed.agg(F.sum("n")).first()[0] == 4 * ev.count()


def test_sliding_window_streaming_parity(spark, sf_dir, tmp_path):
    """The SAME sliding plan over readStream with a watermark yields
    identical totals (AvailableNow over a parquet copy)."""
    from reactionetl_etl_spark.streaming.windows import sliding_event_stats

    ev = load_events(spark, sf_dir)
    src = str(tmp_path / "events_slide_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    windowed = sliding_event_stats(stream, "1 hour", "15 minutes", watermark="2 hours")
    q = (
        windowed.writeStream.format("memory")
        .queryName("slide_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n) FROM slide_test").first()[0]
    assert got == 4 * ev.count()


def test_dedup_earliest_matches_streaming_first_wins(spark, sf_dir):
    """dedup_earliest (the batch twin of dropDuplicatesWithinWatermark)
    keeps exactly one row per key — the event-time-first one."""
    from reactionetl_etl_spark.streaming.windows import dedup_earliest

    ev = load_events(spark, sf_dir)
    out = dedup_earliest(ev, ["user_id", "event_type"])
    keys = ev.select("user_id", "event_type").distinct().count()
    assert out.count() == keys
    # each kept row carries its key's minimum timestamp
    mins = ev.groupBy("user_id", "event_type").agg(F.min("ts_ntz").alias("mn"))
    joined = out.join(mins, ["user_id", "event_type"])
    assert joined.filter(F.col("ts_ntz") != F.col("mn")).count() == 0


def test_streaming_dedup_drops_replayed_rows(spark, sf_dir, tmp_path):
    """A replayed (duplicated) event batch is deduplicated by key under
    a watermark; only first occurrences survive."""
    from reactionetl_etl_spark.streaming.windows import streaming_dedup

    ev = load_events(spark, sf_dir).select("event_id", "user_id", "value", "ts_ntz").limit(500)
    src = str(tmp_path / "dup_src")
    ev.coalesce(1).write.mode("append").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)  # replay = duplicates

    stream = spark.readStream.schema(
        "event_id bigint, user_id bigint, value double, ts_ntz timestamp_ntz"
    ).parquet(src)
    q = (
        streaming_dedup(stream, ["event_id"], watermark="2 hours")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) n, count(DISTINCT event_id) d FROM dedup_stream").first()
    assert got["n"] == 500 and got["d"] == 500


def test_session_windows_batch(spark, sf_dir):
    """Gap-based sessionization: every event lands in exactly one
    session of its user; sessions are disjoint per user."""
    ev = load_events(spark, sf_dir).limit(2000)
    sess = session_windows(ev, gap="30 minutes")
    assert sess.agg(F.sum("n_events")).first()[0] == ev.count()
    overlap = (
        sess.alias("a")
        .join(sess.alias("b"), on="user_id")
        .filter(
            (F.col("a.session_start") < F.col("b.session_start"))
            & (F.col("b.session_start") < F.col("a.session_end"))
        )
    )
    assert overlap.count() == 0


def test_stream_dedup_against_index_incremental(spark, tmp_path):
    """Documents stream in over two AvailableNow runs; the second run's
    near-dup of a first-run document is caught by probing the persisted
    index — no re-signing of earlier batches."""
    import os

    from reactionetl_etl_spark.streaming.sinks import dedup_probe_batch_writer, start_sink

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    base = "the quick brown fox jumps over the lazy dog " * 5
    spark.createDataFrame(
        [(1, base), (2, "completely different content about engines")],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)

    index_path = str(tmp_path / "mh_index")
    hits_path = str(tmp_path / "dup_hits")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    stream = spark.readStream.schema(schema).parquet(src)
    q = start_sink(stream, dedup_probe_batch_writer(index_path, hits_path), ckpt)
    q.awaitTermination(120)

    # second arrival: a near-dup of doc 1 plus a fresh doc
    spark.createDataFrame(
        [(10, base.replace("lazy", "sleepy")), (11, "fresh unrelated benchmark text")],
        schema,
    ).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = start_sink(stream2, dedup_probe_batch_writer(index_path, hits_path), ckpt)
    q2.awaitTermination(120)

    hits = {
        (r["new_id"], r["index_id"])
        for r in spark.read.parquet(hits_path).collect()
    }
    assert (10, 1) in hits
    assert all(n != 11 for n, _ in hits)
    # the index now holds all four docs' bands (8 bands each)
    assert spark.read.parquet(index_path).count() == 4 * 8


def test_dedup_probe_corrupt_index_raises(spark, tmp_path):
    """ADVICE r3: only missing-index error classes may skip the probe.
    A corrupt (non-parquet) index dir must raise, not silently drop
    near-dup hits while the batch still signs itself into the index."""
    import os

    import pytest

    from reactionetl_etl_spark.streaming.sinks import dedup_probe_batch_writer

    index_path = str(tmp_path / "bad_index")
    os.makedirs(index_path)
    with open(os.path.join(index_path, "part-00000.parquet"), "wb") as fh:
        fh.write(b"this is not a parquet file")

    batch = spark.createDataFrame(
        [(1, "some document text")], "doc_id long, text string"
    )
    writer = dedup_probe_batch_writer(index_path, str(tmp_path / "hits"))
    with pytest.raises(Exception):
        writer(batch, 0)
    # and nothing was appended to the corrupt index
    names = set(os.listdir(index_path))
    assert names == {"part-00000.parquet"}


def test_stream_upsert_sink_idempotent_replay(spark, tmp_path):
    """Streaming micro-batches upsert into a partitioned table; keys
    replayed in a later batch overwrite instead of duplicating."""
    from reactionetl_etl_spark.streaming.sinks import start_sink, upsert_batch_writer

    src = str(tmp_path / "upsert_src")
    # batch 1: initial rows
    spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2")], "k long, v string, day string"
    ).coalesce(1).write.mode("append").parquet(src)
    table = str(tmp_path / "upsert_table")
    ckpt = str(tmp_path / "upsert_ckpt")

    def run():
        stream = spark.readStream.schema("k long, v string, day string").parquet(src)
        q = start_sink(stream, upsert_batch_writer(table, ["k"], "day"), ckpt)
        q.awaitTermination(120)

    run()
    # batch 2: one replayed key with new payload + one new key
    spark.createDataFrame(
        [(2, "B2", "d2"), (3, "c", "d1")], "k long, v string, day string"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    got = {r["k"]: (r["v"], r["day"]) for r in spark.read.parquet(table).collect()}
    assert got == {1: ("a", "d1"), 2: ("B2", "d2"), 3: ("c", "d1")}


def test_stream_packing_matches_batch_and_replays_idempotently(spark, tmp_path):
    """Driving the packing sink batch-by-batch produces EXACTLY the
    layout the batch operator computes over the concatenated input;
    replaying a batch (foreachBatch at-least-once) changes nothing."""
    from reactionetl_etl_spark.operators.packing import pack_by_token_budget
    from reactionetl_etl_spark.streaming.packing import packing_batch_writer

    out = str(tmp_path / "packed")
    writer = packing_batch_writer(out, order_col="doc_id", token_col="tok", budget=100)

    batches = [
        [(i, (i * 13) % 40 + 5) for i in range(0, 30)],
        [(i, (i * 13) % 40 + 5) for i in range(30, 55)],
        [(i, (i * 13) % 40 + 5) for i in range(55, 80)],
    ]
    for bid, rows in enumerate(batches):
        writer(spark.createDataFrame(rows, "doc_id int, tok int"), bid)

    def snap():
        return {
            (r["doc_id"], r["tokens_before"], r["shard_id"])
            for r in spark.read.parquet(out).collect()
        }

    got = snap()
    all_rows = [r for b in batches for r in b]
    expected = {
        (r["doc_id"], r["tokens_before"], r["shard_id"])
        for r in pack_by_token_budget(
            spark.createDataFrame(all_rows, "doc_id int, tok int"),
            "doc_id",
            "tok",
            budget=100,
        ).collect()
    }
    assert got == expected  # stream ≡ batch over concatenated input

    # replay batch 1 (at-least-once delivery): byte-identical layout
    writer(spark.createDataFrame(batches[1], "doc_id int, tok int"), 1)
    assert snap() == expected


def test_stream_ivf_append_trains_once_then_reuses_centroids(spark, tmp_path):
    """First batch trains the IVF index; later batches append with the
    STORED centroids — the full stream equals a one-shot index built
    with those same centroids (probe parity)."""
    import numpy as np

    from reactionetl_etl_spark.operators.similarity import (
        probe_ivf_index,
        read_ivf_centroids,
    )
    from reactionetl_etl_spark.streaming.sinks import ivf_append_batch_writer

    idx = str(tmp_path / "ivf")
    rng = np.random.default_rng(21)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(120)
    ]
    writer = ivf_append_batch_writer(idx, dim=16, n_cells=4)
    writer(spark.createDataFrame(rows[:60], "vec_id long, embedding array<float>"), 0)
    cents_after_first = read_ivf_centroids(spark, idx)
    writer(spark.createDataFrame(rows[60:], "vec_id long, embedding array<float>"), 1)
    assert read_ivf_centroids(spark, idx) == cents_after_first  # never retrained

    vectors = spark.read.parquet(f"{idx}/vectors")
    assert vectors.count() == 120
    qs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:4]], "query_id long, embedding array<float>"
    )
    got = probe_ivf_index(qs, vectors, cents_after_first, k=3, n_probe=4).collect()
    assert len(got) == 12  # 4 queries x top-3, drawn from BOTH batches


def test_stream_rollup_matches_batch_and_skips_replay(spark, tmp_path):
    """Streaming micro-batches fold into the incremental rollup; the
    drained state equals a one-shot groupBy over all input, and a
    foreachBatch replay (same batch id) is detected via the
    commit-riding marker and skipped instead of double-counting."""
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.etl.incremental_agg import read_aggregate_view
    from reactionetl_etl_spark.streaming.sinks import rollup_batch_writer, start_sink

    src = str(tmp_path / "rollup_src")
    state = str(tmp_path / "rollup_state")
    ckpt = str(tmp_path / "rollup_ckpt")
    keys, measures = ["day", "cat"], {"v": ["sum", "count", "min", "max"]}

    from decimal import Decimal as _D

    spark.createDataFrame(
        [(_D("1.0"), "d1", "x"), (_D("2.0"), "d1", "y"), (_D("3.0"), "d2", "x")],
        "v decimal(10,2), day string, cat string",
    ).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema("v decimal(10,2), day string, cat string").parquet(src)
        q = start_sink(stream, rollup_batch_writer(state, keys, measures, "day"), ckpt)
        q.awaitTermination(120)

    run()
    spark.createDataFrame(
        [(_D("5.0"), "d2", "x"), (_D("7.0"), "d1", "x")], "v decimal(10,2), day string, cat string"
    ).coalesce(1).write.mode("append").parquet(src)
    run()

    def snap():
        return {
            (r["day"], r["cat"]): (r["row_count"], r["v__sum"], r["v__min"], r["v__max"])
            for r in read_aggregate_view(spark, state, measures).collect()
        }

    assert snap() == {
        ("d1", "x"): (2, 8.0, 1.0, 7.0),
        ("d1", "y"): (1, 2.0, 2.0, 2.0),
        ("d2", "x"): (2, 8.0, 3.0, 5.0),
    }

    # at-least-once replay: drive the writer directly with an already-
    # applied stream batch id — state must not change
    before = snap()
    writer = rollup_batch_writer(state, keys, measures, "day")
    writer(
        spark.createDataFrame([(_D("99.0"), "d1", "x")], "v decimal(10,2), day string, cat string"),
        0,
    )
    assert snap() == before


def test_progress_audit_listener_records_batches(spark, tmp_path):
    """Every micro-batch lands one row in the progress audit table with
    real row counts; the flush drains the buffer and replays nothing."""
    import time

    from reactionetl_etl_spark.streaming.monitor import attach_progress_audit

    src = str(tmp_path / "mon_src")
    out = str(tmp_path / "mon_out")
    audit = str(tmp_path / "mon_audit")
    ckpt = str(tmp_path / "mon_ckpt")
    spark.createDataFrame(
        [(i, f"e{i}") for i in range(10)], "k long, v string"
    ).coalesce(1).write.parquet(src)

    listener = attach_progress_audit(spark)
    try:
        stream = spark.readStream.schema("k long, v string").parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # the listener bus is async: give the progress event a moment
        deadline = time.time() + 30
        while listener.pending() == 0 and time.time() < deadline:
            time.sleep(0.2)
        n = listener.flush(spark, audit)
        assert n >= 1
        rows = spark.read.parquet(audit).collect()
        assert sum(r["num_input_rows"] for r in rows) == 10
        assert all(r["batch_id"] >= 0 and r["query_id"] for r in rows)
        assert listener.flush(spark, audit) == 0  # buffer drained
    finally:
        spark.streams.removeListener(listener)


def test_progress_audit_flush_writes_one_file(spark, tmp_path):
    """A flush of many buffered progress rows appends exactly one
    parquet file holding all of them."""
    import json
    import os
    from types import SimpleNamespace

    from reactionetl_etl_spark.streaming.monitor import ProgressAuditListener

    listener = ProgressAuditListener()
    for b in range(7):
        progress = {
            "id": "q", "runId": "r", "batchId": b, "numInputRows": b,
            "durationMs": {"triggerExecution": 5},
        }
        event = SimpleNamespace(progress=SimpleNamespace(json=json.dumps(progress)))
        listener.onQueryProgress(event)
    audit = str(tmp_path / "audit")
    assert listener.flush(spark, audit) == 7
    assert len([f for f in os.listdir(audit) if f.endswith(".parquet")]) == 1
    rows = spark.read.parquet(audit).orderBy("batch_id").collect()
    assert [(r["batch_id"], r["num_input_rows"], r["batch_duration_ms"]) for r in rows] == [
        (b, b, 5) for b in range(7)
    ]


def test_stream_snapshot_append_sink(spark, tmp_path):
    """Micro-batches append to the snapshot table exactly once; the
    drained table equals the concatenated input and a direct writer
    replay with an applied stream batch id is a no-op."""
    from reactionetl_etl_spark.etl.snapshots import snapshot_read
    from reactionetl_etl_spark.streaming.sinks import (
        snapshot_append_batch_writer,
        start_sink,
    )

    src = str(tmp_path / "snapsink_src")
    table = str(tmp_path / "snapsink_table")
    ckpt = str(tmp_path / "snapsink_ckpt")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run():
        stream = spark.readStream.schema("k long, v string").parquet(src)
        q = start_sink(stream, snapshot_append_batch_writer(table), ckpt)
        q.awaitTermination(120)

    run()
    spark.createDataFrame([(3, "c")], "k long, v string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    got = {(r["k"], r["v"]) for r in snapshot_read(spark, table).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}

    # replayed foreachBatch delivery: same stream batch id → no-op
    writer = snapshot_append_batch_writer(table)
    writer(spark.createDataFrame([(99, "dup")], "k long, v string"), 0)
    got2 = {(r["k"], r["v"]) for r in snapshot_read(spark, table).collect()}
    assert got2 == got


def test_stream_apply_changes_sink(spark, tmp_path):
    """A CDC stream drains into a snapshot replica exactly once:
    inserts then an update+delete batch land as atomic versions, and a
    replayed foreachBatch delivery (same stream batch id) no-ops."""
    from reactionetl_etl_spark.etl.snapshots import snapshot_read
    from reactionetl_etl_spark.streaming.sinks import (
        apply_changes_batch_writer,
        start_sink,
    )

    src = str(tmp_path / "cdc_src")
    table = str(tmp_path / "cdc_table")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "k long, v string, _change_type string"
    spark.createDataFrame(
        [(1, "a", "insert"), (2, "b", "insert")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = start_sink(stream, apply_changes_batch_writer(table, ["k"]), ckpt)
        q.awaitTermination(120)

    run()
    spark.createDataFrame(
        [(1, "A", "update_postimage"), (1, "a", "update_preimage"), (2, None, "delete")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    got = {(r["k"], r["v"]) for r in snapshot_read(spark, table).collect()}
    assert got == {(1, "A")}

    # replayed delivery of stream batch 0 → no-op
    writer = apply_changes_batch_writer(table, ["k"])
    writer(spark.createDataFrame([(9, "dup", "insert")], schema), 0)
    assert {(r["k"], r["v"]) for r in snapshot_read(spark, table).collect()} == {(1, "A")}


def test_stream_scd2_enrich_tracks_dim_changes(spark, tmp_path):
    """Streamed facts enrich against the SCD2 history as of THEIR OWN
    event time, and a dimension change merged between micro-batch
    drains flows into later batches without a stream restart; output
    appends are exactly-once."""
    from reactionetl_etl_spark.etl.scd import scd2_merge
    from reactionetl_etl_spark.etl.snapshots import snapshot_read
    from reactionetl_etl_spark.streaming.sinks import scd2_enrich_batch_writer, start_sink

    dim = str(tmp_path / "dim")
    src = str(tmp_path / "facts_src")
    out = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "ckpt")
    scd2_merge(
        spark,
        dim,
        spark.createDataFrame([(1, "gold", "2020-01-01")], "k int, tier string, effective_date string"),
        ["k"],
        ["tier"],
    )
    schema = "fid int, k int, ts string"

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = start_sink(stream, scd2_enrich_batch_writer(dim, out, ["k"], "ts"), ckpt)
        q.awaitTermination(120)

    spark.createDataFrame([(10, 1, "2020-05-05")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    # dim change lands between drains
    scd2_merge(
        spark,
        dim,
        spark.createDataFrame([(1, "plat", "2021-01-01")], "k int, tier string, effective_date string"),
        ["k"],
        ["tier"],
    )
    spark.createDataFrame(
        [(11, 1, "2021-05-05"), (12, 1, "2020-07-07")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    got = {r["fid"]: r["tier"] for r in snapshot_read(spark, out).collect()}
    # fid 12 is a LATE fact: arrives after the change but dated before
    # it — point-in-time join still lands it on the old tier
    assert got == {10: "gold", 11: "plat", 12: "gold"}


def test_rollup_cdc_stream_tracks_mutating_table(spark, tmp_path):
    """END-TO-END streaming view maintenance: a CDC stream off a
    mutating snapshot table (versions as offsets) drives the rollup
    sink — after each drain the state equals a from-scratch rollup of
    the table's HEAD, through an upsert and a delete, with no restart
    and no full rescan."""
    from decimal import Decimal as _D

    from reactionetl_etl_spark.etl.incremental_agg import _partial
    from reactionetl_etl_spark.etl.snapshots import (
        snapshot_delete,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )
    from reactionetl_etl_spark.sources.pyds import SnapshotChangesStreamDataSource
    from reactionetl_etl_spark.streaming.sinks import rollup_cdc_batch_writer, start_sink

    table = str(tmp_path / "cdc_roll_table")
    state = str(tmp_path / "cdc_roll_state")
    ckpt = str(tmp_path / "cdc_roll_ckpt")
    keys = ["day"]
    measures = {"v": ["sum", "count", "min", "max"]}  # min/max via base recompute
    base = spark.createDataFrame(
        [(k, f"d{k % 2}", _D(str(k + 1))) for k in range(10)],
        "k int, day string, v decimal(10,2)",
    )
    snapshot_write(spark, table, base.repartition(2, "k"))
    spark.dataSource.register(SnapshotChangesStreamDataSource)

    def drain():
        stream = (
            spark.readStream.format("snapshot_changes_stream")
            .option("path", table)
            .option("keys", "k")
            .load()
        )
        q = start_sink(
            stream,
            rollup_cdc_batch_writer(state, keys, measures, "day", base_table_path=table),
            ckpt,
        )
        q.awaitTermination(120)

    def folded():
        return {
            r["day"]: (r["__nrows"], r["v__sum"], r["v__count"], r["v__min"], r["v__max"])
            for r in spark.read.parquet(state).collect()
        }

    def scratch():
        return {
            r["day"]: (r["__nrows"], r["v__sum"], r["v__count"], r["v__min"], r["v__max"])
            for r in _partial(snapshot_read(spark, table), keys, measures).collect()
        }

    drain()  # initial image arrives as inserts
    assert folded() == scratch()

    snapshot_upsert(
        spark,
        table,
        spark.createDataFrame(
            [(0, "d0", _D("100.00")), (50, "d0", _D("7.00"))],
            "k int, day string, v decimal(10,2)",
        ),
        ["k"],
    )
    snapshot_delete(spark, table, "day = 'd1'")
    drain()  # net changes fold in; d1 leaves the state entirely
    assert folded() == scratch()
    assert "d1" not in folded()


def test_interval_left_outer_join_stream_batch_parity(spark, sf_dir, tmp_path):
    """LEFT OUTER stream-stream interval join: clicks with no purchase
    inside the window emit NULL-padded exactly once, and the streaming
    result (watermark-driven emission, flushed past end-of-data by a
    far-future sentinel) equals the batch outer join row for row."""
    import datetime as _dt

    from reactionetl_etl_spark.streaming.joins import interval_join

    ev = load_events(spark, sf_dir).select("event_id", "user_id", "event_type", "ts_ntz")
    clicks_b = ev.filter(F.col("event_type") == "click")
    purch_b = ev.filter(F.col("event_type") == "purchase")
    batch = interval_join(clicks_b, purch_b, on="user_id", upper="30 minutes", how="left_outer")
    expected = {(r["event_id"], r["event_id_r"]) for r in batch.collect()}
    n_unmatched = sum(1 for _, rid in expected if rid is None)
    assert n_unmatched > 0  # the interesting rows exist

    # sentinel far past every real event pushes the watermark over all
    # join windows so pending unmatched rows flush before the drain ends
    flush_ts = ev.agg(F.max("ts_ntz")).first()[0] + _dt.timedelta(days=365)
    sentinel = spark.createDataFrame(
        [(-1, -1, "click", flush_ts), (-2, -1, "purchase", flush_ts)],
        ev.schema,
    )
    src = str(tmp_path / "ivo_src")
    ev.unionByName(sentinel).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    joined = interval_join(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        on="user_id",
        upper="30 minutes",
        watermark="2 hours",
        how="left_outer",
    )
    q = (
        joined.select("event_id", "event_id_r")
        .writeStream.format("memory")
        .queryName("ivo_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ivo_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["event_id"], r["event_id_r"])
        for r in spark.sql("SELECT * FROM ivo_test WHERE event_id >= 0").collect()
    }
    assert got == expected

    import pytest

    with pytest.raises(ValueError, match="how must be"):
        interval_join(clicks_b, purch_b, on="user_id", how="anti")


def test_stream_join_maintenance_matches_batch_join(spark, tmp_path):
    """Both join sides stream in (drained alternately); the maintained
    join equals a one-shot batch join of everything, and a foreachBatch
    replay is skipped via the merge marker."""
    from reactionetl_etl_spark.etl.incremental_join import read_join_view
    from reactionetl_etl_spark.streaming.sinks import (
        join_maintenance_batch_writer,
        start_sink,
    )

    lsrc = str(tmp_path / "lsrc")
    rsrc = str(tmp_path / "rsrc")
    state = str(tmp_path / "state")
    lckpt = str(tmp_path / "lckpt")
    rckpt = str(tmp_path / "rckpt")

    def drain(src, side, ckpt, schema):
        stream = spark.readStream.schema(schema).parquet(src)
        q = start_sink(stream, join_maintenance_batch_writer(state, "k", side), ckpt)
        q.awaitTermination(120)

    lschema, rschema = "k int, lval string", "k int, rval string"
    spark.createDataFrame([(1, "a"), (2, "b")], lschema).coalesce(1).write.mode(
        "append"
    ).parquet(lsrc)
    drain(lsrc, "left", lckpt, lschema)
    spark.createDataFrame([(1, "x"), (3, "y")], rschema).coalesce(1).write.mode(
        "append"
    ).parquet(rsrc)
    drain(rsrc, "right", rckpt, rschema)
    spark.createDataFrame([(3, "c")], lschema).coalesce(1).write.mode(
        "append"
    ).parquet(lsrc)
    drain(lsrc, "left", lckpt, lschema)

    got = sorted(
        (r["k"], r["lval"], r["rval"]) for r in read_join_view(spark, state).collect()
    )
    assert got == [(1, "a", "x"), (3, "c", "y")]

    # at-least-once replay of an already-committed batch id: no-op
    w = join_maintenance_batch_writer(state, "k", "left")
    w(spark.createDataFrame([(1, "a")], lschema), 0)
    assert sorted(
        (r["k"], r["lval"], r["rval"]) for r in read_join_view(spark, state).collect()
    ) == got


def test_stream_to_webdataset_incremental_and_idempotent(spark, tmp_path):
    """Streaming WebDataset sink: the first AvailableNow drain exports
    the backlog as batch-keyed tar shard sets; a second drain over NEW
    files adds a new batch dir without touching the first; the total
    read-back equals the union, each key once."""
    import json
    import os

    from reactionetl_etl_spark.io.webdataset import read_webdataset_shards
    from reactionetl_etl_spark.streaming.sinks import start_sink, webdataset_batch_writer

    src = str(tmp_path / "src")
    out = str(tmp_path / "wds")
    ckpt = str(tmp_path / "ckpt")
    base = spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        F.encode(F.concat(F.lit("t-"), F.col("id")), "utf-8").alias("payload"),
        (F.col("id") % 2).cast("int").alias("label"),
    )
    base.write.mode("overwrite").parquet(src)

    def drain():
        q = start_sink(
            spark.readStream.schema(
                "doc_id long, payload binary, label int"
            ).parquet(src),
            webdataset_batch_writer(
                out,
                key_col="doc_id",
                payload_col="payload",
                meta_cols=("label",),
                ext="txt",
                n_shards=2,
            ),
            ckpt,
        )
        q.awaitTermination(120)

    drain()
    batches1 = sorted(d for d in os.listdir(out) if d.startswith("batch-"))
    assert len(batches1) == 1
    got1 = read_webdataset_shards(spark, os.path.join(out, batches1[0])).collect()
    assert len(got1) == 20

    spark.range(20, 31).select(
        F.col("id").alias("doc_id"),
        F.encode(F.concat(F.lit("t-"), F.col("id")), "utf-8").alias("payload"),
        (F.col("id") % 2).cast("int").alias("label"),
    ).write.mode("append").parquet(src)
    drain()
    batches2 = sorted(d for d in os.listdir(out) if d.startswith("batch-"))
    assert len(batches2) == 2

    seen = {}
    for b in batches2:
        for r in read_webdataset_shards(spark, os.path.join(out, b)).collect():
            k = int(r["key"])
            assert k not in seen
            seen[k] = (bytes(r["payload"]).decode(), json.loads(r["meta"])["label"])
    assert set(seen) == set(range(31))
    assert all(seen[k] == (f"t-{k}", k % 2) for k in seen)


def test_stream_pq_append_trains_once_then_reuses_codebook(spark, tmp_path):
    """First batch trains the PQ codebook; later batches encode with the
    STORED codebook and append — the full stream probes identically to a
    one-shot index built with that same codebook (the IVF sink's
    contract, PQ edition)."""
    import numpy as np

    from reactionetl_etl_spark.operators.pq import (
        probe_pq_index,
        read_pq_codebook,
        write_pq_index,
    )
    from reactionetl_etl_spark.streaming.sinks import pq_append_batch_writer

    idx = str(tmp_path / "pq")
    rng = np.random.default_rng(33)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(120)]
    writer = pq_append_batch_writer(idx, dim=16, m=4, k=8)
    writer(spark.createDataFrame(rows[:60], "vec_id long, embedding array<float>"), 0)
    book_after_first = read_pq_codebook(spark, idx)
    writer(spark.createDataFrame(rows[60:], "vec_id long, embedding array<float>"), 1)
    assert read_pq_codebook(spark, idx) == book_after_first  # never retrained

    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.count() == 120
    # one-shot index with the SAME codebook at another path == streamed one
    one = str(tmp_path / "pq_oneshot")
    write_pq_index(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        dim=16, path=one, codebook=book_after_first,
    )
    qs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:4]], "query_id long, embedding array<float>"
    )
    a = probe_pq_index(qs, codes, book_after_first, k=3, n_probe=None)
    b = probe_pq_index(
        qs, spark.read.parquet(f"{one}/codes"), book_after_first, k=3, n_probe=None
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ivfpq_stream_sink_trains_once_then_appends(spark, tmp_path):
    """IVF-PQ streaming sink lifecycle (the ivf/pq writers' contract,
    r13): first batch trains coarse centroids + residual codebook,
    later batches append with the STORED geometry — geometry identical
    after the append, every id probeable."""
    import numpy as np

    from reactionetl_etl_spark.operators.pq import (
        probe_ivfpq_index,
        read_ivfpq_geometry,
    )
    from reactionetl_etl_spark.streaming.sinks import ivfpq_append_batch_writer

    idx = str(tmp_path / "ivfpq")
    rng = np.random.default_rng(22)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(120)]
    writer = ivfpq_append_batch_writer(idx, dim=16, n_cells=4, m=4, k=8)
    writer(spark.createDataFrame(rows[:60], "vec_id long, embedding array<float>"), 0)
    geo_after_first = read_ivfpq_geometry(spark, idx)
    writer(spark.createDataFrame(rows[60:], "vec_id long, embedding array<float>"), 1)
    assert read_ivfpq_geometry(spark, idx) == geo_after_first  # never retrained

    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.count() == 120
    qs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:4]], "query_id long, embedding array<float>"
    )
    out = probe_ivfpq_index(
        qs, codes, geo_after_first[0], geo_after_first[1], k=3, n_probe=4
    )
    assert out.count() == 12


def test_bits_stream_sink_appends_statelessly(spark, tmp_path):
    """The packed-bits sink has no geometry phase at all: batches pack
    and append unconditionally, and the streamed index probes
    identically to a one-shot index over the union — in ANY batch
    order (the stateless-append property the other index sinks must
    enforce with sidecar checks)."""
    import numpy as np
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.operators.hamming import (
        probe_bits_index,
        write_bits_index,
    )
    from reactionetl_etl_spark.streaming.sinks import bits_append_batch_writer

    rng = np.random.default_rng(44)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(90)]
    df = lambda rs: spark.createDataFrame(rs, "vec_id long, embedding array<float>")  # noqa: E731

    streamed = str(tmp_path / "bits_stream")
    writer = bits_append_batch_writer(streamed)
    writer(df(rows[:30]), 0)
    writer(df(rows[30:]), 1)

    reversed_order = str(tmp_path / "bits_rev")
    writer2 = bits_append_batch_writer(reversed_order)
    writer2(df(rows[30:]), 0)
    writer2(df(rows[:30]), 1)

    oneshot = str(tmp_path / "bits_oneshot")
    write_bits_index(df(rows), oneshot)

    qs = df(rows[:3]).select(F.col("vec_id").alias("query_id"), "embedding")
    outs = [
        sorted(map(tuple, probe_bits_index(spark, p, qs, k=4).collect()))
        for p in (streamed, reversed_order, oneshot)
    ]
    assert outs[0] == outs[1] == outs[2]
