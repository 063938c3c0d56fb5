"""binaryFile media source + bucketed-table co-located join tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reactionetl_etl_spark.etl.bucketing import bucketed_join, write_bucketed
from reactionetl_etl_spark.sources.media import read_media_dir
from reactionetl_etl_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def media_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("media")
    (d / "7.png").write_bytes(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)
    (d / "9.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x01" * 32)
    (d / "clip_a.mp3").write_bytes(b"ID3\x04" + b"\x02" * 48)
    (d / "notes.txt").write_bytes(b"not media")
    return str(d)


def test_read_media_dir_glob_and_ids(spark, media_dir):
    df = read_media_dir(spark, media_dir, glob="*.{png,jpg,mp3}")
    rows = {r["source_file"].split("/")[-1]: r for r in df.collect()}
    assert set(rows) == {"7.png", "9.jpg", "clip_a.mp3"}
    # numeric stems become ids; others hash deterministically
    assert rows["7.png"]["media_id"] == 7
    assert rows["9.jpg"]["media_id"] == 9
    assert isinstance(rows["clip_a.mp3"]["media_id"], int)
    assert rows["7.png"]["n_bytes"] == 72
    assert bytes(rows["7.png"]["content"])[:4] == b"\x89PNG"


def test_media_pipeline_to_features(spark, media_dir):
    """binaryFile source feeds the multimodal decode plumbing end-to-end."""
    from reactionetl_etl_spark.operators.multimodal import decode_image_features

    media = read_media_dir(spark, media_dir, glob="*.{png,jpg}")
    feats = {r["media_id"]: r["mime"] for r in decode_image_features(media).collect()}
    assert feats == {7: "image/png", 9: "image/jpeg"}


class _RecordingWriter:
    """Stands in for DataFrameWriter: records the configuration the
    JDBC sink applies (no live database in this environment)."""

    def __init__(self, df):
        self.df = df
        self.fmt = None
        self.opts = {}
        self.save_mode = None
        self.saved = False

    def format(self, f):
        self.fmt = f
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self

    def mode(self, m):
        self.save_mode = m
        return self

    def save(self):
        self.saved = True


def test_jdbc_fact_sink_copy_parity(spark):
    """write_fact_jdbc mirrors the reference's COPY: append mode, the
    fact_sim column order, parallel batched writes."""
    from reactionetl_etl_spark.io.jdbc import FACT_SIM_COLS, write_fact_jdbc

    df = spark.createDataFrame(
        [("s1", 1.0, 2.0, 3.0, 4.0, 300.0, 301.0, 0.5, "extra", "2026-01-05")],
        "simulation_id string, ca double, cb double, cc double, cd double,"
        " temperature double, t_sensor double, rxn_time double,"
        " source_file string, day string",
    )
    rec = {}

    def factory(d):
        rec["w"] = _RecordingWriter(d)
        return rec["w"]

    write_fact_jdbc(df, "jdbc:postgresql://wh:5432/lake", writer_factory=factory)
    w = rec["w"]
    assert w.saved and w.fmt == "jdbc" and w.save_mode == "append"
    assert w.opts["dbtable"] == "fact_sim"
    assert w.opts["url"].startswith("jdbc:postgresql://")
    assert w.opts["numPartitions"] == "32" and int(w.opts["batchsize"]) > 0
    # lineage extras conformed away, COPY column order preserved
    assert w.df.columns == FACT_SIM_COLS


def test_jdbc_sink_rejects_missing_columns(spark):
    from reactionetl_etl_spark.io.jdbc import write_dim_jdbc

    df = spark.createDataFrame([("s1",)], "simulation_id string")
    with pytest.raises(ValueError, match="sink columns"):
        write_dim_jdbc(df, "jdbc:postgresql://wh:5432/lake")


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path_factory, session_confs):
    """Identically-bucketed tables sort-merge join with zero shuffles."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=4)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 4
    )
    # force SMJ so the assertion is about bucketing, not broadcast
    session_confs({"spark.sql.autoBroadcastJoinThreshold": "-1"})
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # and the result is right
        expected = orders.join(
            li, orders.o_orderkey == li.l_orderkey
        ).count()
        assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json", "xml"])
def test_file_format_roundtrip(spark, sf_dir, tmp_path, fmt):
    """write_files/read_files round-trip every supported format with
    values intact (nation is small and has int/string/text columns)."""
    from reactionetl_etl_spark.io.files import read_files, write_files

    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / f"nation_{fmt}")
    write_files(nation, out, fmt=fmt, mode="overwrite")
    back = read_files(spark, out, fmt=fmt, schema=nation.schema)
    a = sorted(map(tuple, nation.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_file_writer_partitioned_layout(spark, sf_dir, tmp_path):
    """partition_by produces day-style directory layout readable with
    partition pruning."""
    import os

    from reactionetl_etl_spark.io.files import read_files, write_files

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    write_files(orders, out, fmt="parquet", mode="overwrite", partition_by=["o_year"])
    assert any(d.startswith("o_year=") for d in os.listdir(out))
    back = read_files(spark, out, fmt="parquet")
    one_year = back.filter(F.col("o_year") == 1995)
    assert one_year.count() == orders.filter(F.col("o_year") == 1995).count()


def test_file_reader_requires_schema_for_text_formats(spark, tmp_path):
    from reactionetl_etl_spark.io.files import read_files

    with pytest.raises(ValueError, match="explicit schema"):
        read_files(spark, str(tmp_path), fmt="csv")
    with pytest.raises(ValueError, match="unsupported format"):
        read_files(spark, str(tmp_path), fmt="avro")


def test_write_sharded_bounds_file_sizes(spark, sf_dir, tmp_path):
    """No shard exceeds max_records_per_file; content round-trips."""
    import glob

    import pyarrow.parquet as pq

    from reactionetl_etl_spark.io.files import write_sharded
    from reactionetl_etl_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "shards")
    write_sharded(orders.repartition(2), out, max_records_per_file=500)
    shards = glob.glob(f"{out}/*.parquet")
    assert len(shards) >= orders.count() // 500  # actually rolled
    for s in shards:
        assert pq.ParquetFile(s).metadata.num_rows <= 500
    assert spark.read.parquet(out).count() == orders.count()


def test_python_data_source_matches_native_reader(spark, tmp_path):
    """Spark 4 Python Data Source API: the registered
    `incoming_reactions` source plans one input partition per day dir
    and yields the same clean rows the native CSV path produces."""
    import os

    from tests.fixtures_etl import write_reaction_csv

    from reactionetl_etl_spark.sources.pyds import IncomingReactionsDataSource

    incoming = str(tmp_path / "incoming")
    d1, d2 = os.path.join(incoming, "2026-01-05"), os.path.join(incoming, "2026-01-06")
    write_reaction_csv(d1, 1, 15)
    write_reaction_csv(d1, 2, 10)
    write_reaction_csv(d2, 3, 5, malformed_row_at=2)

    spark.dataSource.register(IncomingReactionsDataSource)
    df = spark.read.format("incoming_reactions").option("path", incoming).load()
    assert df.columns[:2] == ["simulation_id", "ca"]
    rows = df.collect()
    # 15 + 10 + (5 - 1 malformed) rows; day column from the PLANNER
    assert len(rows) == 29
    by_day = {r["day"] for r in rows}
    assert by_day == {"2026-01-05", "2026-01-06"}
    # numeric typing survived
    assert all(isinstance(r["temperature"], float) for r in rows)
    # one partition per day directory
    assert df.rdd.getNumPartitions() == 2

    # empty root → empty relation, not an error
    empty = (
        spark.read.format("incoming_reactions")
        .option("path", str(tmp_path / "absent"))
        .load()
    )
    assert empty.count() == 0


def test_python_stream_data_source_incremental(spark, tmp_path):
    """Streaming twin of the Python data source: first AvailableNow
    drain reads the backlog; files added later are picked up by the
    next run from the CHECKPOINTED offset, exactly once."""
    import os

    from pyspark.sql import functions as F

    from tests.fixtures_etl import write_reaction_csv

    from reactionetl_etl_spark.sources.pyds import IncomingReactionsStreamDataSource

    incoming = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    d1 = os.path.join(incoming, "2026-01-05")
    write_reaction_csv(d1, 1, 12)
    write_reaction_csv(d1, 2, 8)

    spark.dataSource.register(IncomingReactionsStreamDataSource)

    def drain():
        q = (
            spark.readStream.format("incoming_reactions_stream")
            .option("path", incoming)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 20

    # new file in the SAME day dir + a new day
    write_reaction_csv(d1, 3, 5)
    write_reaction_csv(os.path.join(incoming, "2026-01-06"), 4, 7)
    drain()
    df = spark.read.parquet(out)
    assert df.count() == 32  # no reprocessing of the first 20
    assert df.select("source_file").distinct().count() == 4
    assert {r["day"] for r in df.select("day").distinct().collect()} == {
        "2026-01-05",
        "2026-01-06",
    }
    # nothing new → a third drain appends nothing
    drain()
    assert spark.read.parquet(out).count() == 32


def test_jsonl_shards_python_datasource_writer(spark, tmp_path):
    """The Spark 4 Python data source WRITE path: shards land only via
    the driver commit (staged files are never readable), the _SUCCESS
    manifest carries per-shard row counts, the round trip preserves
    rows, and overwrite mode replaces prior shards."""
    import json
    import os

    from reactionetl_etl_spark.sources.pyds import JsonlShardsDataSource

    spark.dataSource.register(JsonlShardsDataSource)
    out = str(tmp_path / "shards")
    df = spark.createDataFrame(
        [(i, f"doc {i}", float(i) / 4) for i in range(20)], "id long, text string, score double"
    ).repartition(3)
    df.write.format("jsonl_shards").option("path", out).mode("append").save()

    names = sorted(os.listdir(out))
    parts = [n for n in names if n.startswith("part-") and n.endswith(".jsonl")]
    assert parts and not [n for n in names if n.startswith("_staged-")]
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["total_rows"] == 20
    assert sorted(s["file"] for s in manifest["shards"]) == parts

    back = spark.read.json(os.path.join(out, "part-*.jsonl"))
    assert back.count() == 20
    assert {r["id"] for r in back.collect()} == set(range(20))

    # overwrite replaces previous shards rather than accumulating
    df2 = spark.createDataFrame([(99, "only", 1.0)], "id long, text string, score double")
    df2.coalesce(1).write.format("jsonl_shards").option("path", out).mode("overwrite").save()
    back2 = spark.read.json(os.path.join(out, "part-*.jsonl"))
    assert [r["id"] for r in back2.collect()] == [99]
    assert json.load(open(os.path.join(out, "_SUCCESS")))["total_rows"] == 1


def test_snapshot_changes_streaming_source(spark, tmp_path):
    """The CDC streaming source: versions are offsets, so drain 1
    emits the full image as inserts, drain 2 emits only the net
    changes since the checkpointed version (upsert + delete collapsed
    across commits), a compaction-only commit emits nothing, and the
    emitted set equals batch `snapshot_changes` for the same version
    span."""
    from reactionetl_etl_spark.etl.snapshots import (
        head_version,
        snapshot_changes,
        snapshot_compact,
        snapshot_delete,
        snapshot_upsert,
        snapshot_write,
    )
    from reactionetl_etl_spark.sources.pyds import SnapshotChangesStreamDataSource

    table = str(tmp_path / "dimtable")
    out = str(tmp_path / "feed_out")
    ckpt = str(tmp_path / "feed_ckpt")
    base = spark.createDataFrame([(i, f"v{i}") for i in range(5)], "k int, v string")
    v1 = snapshot_write(spark, table, base.repartition(2, "k"))

    spark.dataSource.register(SnapshotChangesStreamDataSource)

    def drain():
        q = (
            spark.readStream.format("snapshot_changes_stream")
            .option("path", table)
            .option("keys", "k")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = {(r["k"], r["v"], r["_change_type"]) for r in spark.read.parquet(out).collect()}
    assert first == {(i, f"v{i}", "insert") for i in range(5)}

    # two commits between drains: an upsert and a delete — net changes only
    snapshot_upsert(
        spark, table, spark.createDataFrame([(1, "V1"), (9, "new")], "k int, v string"), ["k"]
    )
    snapshot_delete(spark, table, "k = 3")
    drain()
    now = {(r["k"], r["v"], r["_change_type"]) for r in spark.read.parquet(out).collect()}
    delta = now - first
    assert delta == {
        (1, "v1", "update_preimage"),
        (1, "V1", "update_postimage"),
        (9, "new", "insert"),
        (3, "v3", "delete"),
    }
    # parity with the batch reader over the same span
    batch = {
        (r["k"], r["v"], r["_change_type"])
        for r in snapshot_changes(spark, table, ["k"], v1).collect()
    }
    assert batch == delta

    # compaction-only commit emits nothing
    snapshot_compact(spark, table, target_files=1)
    assert head_version(spark, table) is not None
    drain()
    assert {(r["k"], r["v"], r["_change_type"]) for r in spark.read.parquet(out).collect()} == now


def test_per_path_read_pins_exact_file_set(spark, tmp_path):
    """The cleanse readers scan exactly the listed files: a stray
    neighbour file in a listed day dir (already processed, or landed
    after listing) never leaks rows, and a listed *.csv / *.json whose
    basename does not follow the reaction*/metadata_* convention is
    still scanned."""
    import os
    import shutil

    from tests.fixtures_etl import sim_uuid, write_metadata_json, write_reaction_csv

    from reactionetl_etl_spark.etl.cleanse import (
        cleanse_incoming_csvs,
        cleanse_metadata_jsons,
    )
    from reactionetl_etl_spark.sources.raw import list_raw_files, strip_uri_scheme

    incoming = str(tmp_path / "incoming")
    d1 = os.path.join(incoming, "2026-01-05")
    d2 = os.path.join(incoming, "2026-01-06")
    for day_dir, sims in ((d1, (1, 2, 3)), (d2, (4, 5))):
        for n in sims:
            write_reaction_csv(day_dir, n, n_rows=6)
            write_metadata_json(day_dir, n)
    # same header/shape, non-conventional basenames — valid list members
    shutil.move(write_reaction_csv(d1, 7, n_rows=6), os.path.join(d1, "legacy_export.csv"))
    shutil.move(write_metadata_json(d2, 8), os.path.join(d2, "sidecar.json"))
    # stray neighbours: same suffix, same header, NOT in the batch
    write_reaction_csv(d1, 99, n_rows=7)
    write_metadata_json(d2, 98)

    csvs = [f for f in list_raw_files(incoming, ".csv") if sim_uuid(99) not in f.path]
    jsons = [f for f in list_raw_files(incoming, ".json") if sim_uuid(98) not in f.path]
    assert len(csvs) == 6 and len(jsons) == 6

    def scanned(result):
        rows = result.clean.select("source_file").unionByName(
            result.quarantined.select("source_file")
        ).collect()
        result.release()
        return len(rows), {strip_uri_scheme(r["source_file"]) for r in rows}

    # every member's rows, the odd file's included; the stray's 7 never
    assert scanned(cleanse_incoming_csvs(spark, csvs)) == (6 * 6, {f.path for f in csvs})
    assert scanned(cleanse_metadata_jsons(spark, jsons)) == (6, {f.path for f in jsons})


def test_per_path_cleanse_lists_in_at_most_one_task_per_core(spark, tmp_path):
    """A per-path read of more than 32 files (Spark's listing threshold)
    is listed by a Spark job. The session caps that job at its listing
    parallelism, one task per core, instead of one task per path."""
    from tests.fixtures_etl import write_reaction_csv

    from reactionetl_etl_spark.etl.cleanse import cleanse_incoming_csvs
    from reactionetl_etl_spark.sources.raw import list_raw_files

    incoming = tmp_path / "incoming"
    for n in range(64):
        write_reaction_csv(str(incoming / f"2026-01-0{5 + n % 2}"), n + 1, n_rows=2)
    csvs = list_raw_files(str(incoming), ".csv")
    assert len(csvs) == 64

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "per_path_listing"
    sc.setJobGroup(group, "per-path listing test")
    try:
        cleanse_incoming_csvs(spark, csvs).release()
        jobs = list(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tasks = [
        tracker.getStageInfo(stage).numTasks
        for job in jobs
        for stage in tracker.getJobInfo(job).stageIds
    ]
    listing = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.parallelism"))
    assert tasks, "a 64-path read runs a listing job"
    assert max(tasks) <= listing
    assert max(tasks) < len(csvs)


def test_probe_csv_headers_groups_by_exact_header(tmp_path):
    """A mixed-header backlog groups by exact header tuple: a valid
    header, the pandas `Unnamed: 0` artifact, and a header missing a
    required column."""
    import os

    from tests.fixtures_etl import RAW_HEADER, write_reaction_csv

    from reactionetl_etl_spark.sources import raw as R

    day = str(tmp_path / "incoming" / "2026-01-05")
    valid = {write_reaction_csv(day, n, n_rows=2) for n in (1, 2)}
    artifact = {write_reaction_csv(day, 3, n_rows=2, with_artifact=True)}
    missing = {write_reaction_csv(day, 4, n_rows=2, drop_col="T (K)")}
    files = R.list_raw_files(os.path.dirname(day), ".csv")
    assert len(files) == 4

    groups = R.probe_csv_headers(files)
    missing_header = tuple(h for h in RAW_HEADER if h != "T (K)")
    assert {h: {f.path for f in m} for h, m in groups.items()} == {
        tuple(RAW_HEADER): valid,
        ("Unnamed: 0", *RAW_HEADER): artifact,
        missing_header: missing,
    }
    assert all(f.day == "2026-01-05" for m in groups.values() for f in m)
    loadable, rejected = R.split_valid_header_groups(groups)
    assert set(rejected) == {missing_header}
    assert set(loadable) == {tuple(RAW_HEADER), ("Unnamed: 0", *RAW_HEADER)}


def test_read_if_exists_missing_empty_and_corrupt(spark, tmp_path):
    """The one "table not created yet" check: an absent path and an
    empty directory read as None; a corrupt file still raises."""
    from reactionetl_etl_spark.io.files import read_if_exists

    assert read_if_exists(lambda: spark.read.parquet(str(tmp_path / "absent"))) is None
    (tmp_path / "empty").mkdir()
    assert read_if_exists(lambda: spark.read.parquet(str(tmp_path / "empty"))) is None
    (tmp_path / "bad").mkdir()
    (tmp_path / "bad" / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        read_if_exists(lambda: spark.read.parquet(str(tmp_path / "bad")).collect())
    good = str(tmp_path / "good")
    spark.range(3).write.parquet(good)
    assert read_if_exists(lambda: spark.read.parquet(good)).count() == 3


def _plan_root(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_local_frame_is_a_jobless_local_relation(spark):
    """Driver rows through `local_frame` become a JVM LocalRelation:
    building and collecting the frame runs no Spark job (a Python-list
    createDataFrame frame runs one on its first read)."""
    from reactionetl_etl_spark.io.files import local_frame

    sc = spark.sparkContext
    group = "local_frame_no_job"
    sc.setJobGroup(group, "local_frame test")
    try:
        rows = [("a", "2026-01-05"), ("b", "2026-01-06")]
        df = local_frame(spark, rows, "path string, day string")
        assert _plan_root(df) == "LocalRelation"
        assert [tuple(r) for r in df.collect()] == rows
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the Python-list frame it replaces does run a job
        spark.createDataFrame([("a",)], "path string").collect()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_local_frame_nulls_empty_and_arrow_off(spark, session_confs):
    """NULLs and an empty row list keep the declared schema, and the rows
    are identical with spark.sql.execution.arrow.pyspark.enabled off. A
    timestamp_ntz field stays timestamp_ntz: its wall-clock value does
    not shift with the session time zone."""
    from datetime import datetime

    from reactionetl_etl_spark.io.files import local_frame
    from reactionetl_etl_spark.schemas import LAKE_QUARANTINE_SCHEMA

    ddl = "name string, n long, x double"
    rows = [("a", 1, 0.5), (None, None, None), ("c", -(2**40), float("inf"))]
    want = [f.simpleString() for f in spark.createDataFrame([], ddl).schema]
    noon = [(datetime(2026, 1, 10, 12),)]
    seen = {}
    session_confs({"spark.sql.session.timeZone": "Pacific/Kiritimati"})
    for arrow in ("true", "false"):
        session_confs({"spark.sql.execution.arrow.pyspark.enabled": arrow})
        df = local_frame(spark, rows, ddl)
        empty = local_frame(spark, [], ddl)
        assert _plan_root(df) == _plan_root(empty) == "LocalRelation"
        assert [f.simpleString() for f in df.schema] == want
        assert [f.simpleString() for f in empty.schema] == want
        assert empty.collect() == []
        seen[arrow] = [tuple(r) for r in df.collect()]
        ts = local_frame(spark, noon, "t timestamp_ntz")
        assert ts.schema.simpleString() == "struct<t:timestamp_ntz>"
        assert [tuple(r) for r in ts.collect()] == noon
    q = local_frame(spark, [(None, "why", "/in/f.csv", "2026-01-05")], LAKE_QUARANTINE_SCHEMA)
    assert q.schema.simpleString() == LAKE_QUARANTINE_SCHEMA.simpleString()
    assert seen["true"] == seen["false"] == rows


def test_webdataset_roundtrip_and_deterministic_bytes(spark, tmp_path):
    """WebDataset tar shards: write → read returns exactly the input
    (payload bytes + metadata), shard assignment is the md5 bucket, and
    a second export of the same frame produces BYTE-identical shard
    files (sorted members, pinned tar attributes)."""
    import hashlib
    import json
    import os

    from pyspark.sql import functions as F

    from reactionetl_etl_spark.io.webdataset import (
        read_webdataset_shards,
        write_webdataset_shards,
    )

    src = spark.range(0, 37).select(
        F.col("id").alias("media_id"),
        F.encode(F.concat(F.lit("payload-"), F.col("id")), "utf-8").alias("content"),
        (F.col("id") % 3).cast("int").alias("label"),
        F.concat(F.lit("doc"), F.col("id")).alias("name"),
    )

    out1, out2 = str(tmp_path / "wds1"), str(tmp_path / "wds2")
    n = write_webdataset_shards(
        src, out1, key_col="media_id", payload_col="content",
        meta_cols=("label", "name"), ext="txt", n_shards=4,
    )
    assert n == 37
    shards1 = sorted(f for f in os.listdir(out1) if f.endswith(".tar"))
    assert shards1 == [f"shard-{s:05d}.tar" for s in range(4)]

    back = read_webdataset_shards(spark, out1).collect()
    assert len(back) == 37
    got = {
        int(r["key"]): (bytes(r["payload"]), json.loads(r["meta"]), r["shard_id"], r["ext"])
        for r in back
    }
    import hashlib as _h

    for i in range(37):
        payload, meta, shard, ext = got[i]
        assert payload == f"payload-{i}".encode()
        assert meta == {"label": i % 3, "name": f"doc{i}"}
        assert ext == "txt"
        expect_shard = int(_h.md5(str(i).encode()).hexdigest()[:8], 16) % 4
        assert shard == expect_shard

    write_webdataset_shards(
        src, out2, key_col="media_id", payload_col="content",
        meta_cols=("label", "name"), ext="txt", n_shards=4,
    )
    manifest = json.load(open(os.path.join(out1, "manifest.json")))
    assert sum(m["n_keys"] for m in manifest.values()) == 37
    for s in shards1:
        h1 = hashlib.sha256(open(os.path.join(out1, s), "rb").read()).hexdigest()
        h2 = hashlib.sha256(open(os.path.join(out2, s), "rb").read()).hexdigest()
        assert h1 == h2, s
        # the transfer manifest carries the true hash and size
        assert manifest[s]["sha256"] == h1
        assert manifest[s]["bytes"] == os.path.getsize(os.path.join(out1, s))


def test_webdataset_adversarial_keys_and_stale_shards(spark, tmp_path):
    """Boundary hardening: (a) adversarial keys — unicode, path
    separators, dots, 0-byte payloads — round-trip exactly; (b) a key
    duplicated across DIFFERENT shards (precomputed shard_col) comes
    back once per shard; (c) the sha256 manifest catches a corrupted
    member byte; (d) re-exporting fewer shards into the same dir clears
    the stale shard-*.tar so the directory equals the manifest."""
    import hashlib
    import json
    import os

    from pyspark.sql import functions as F

    from reactionetl_etl_spark.io.webdataset import (
        read_webdataset_shards,
        write_webdataset_shards,
    )

    rows = [
        ("naïve-文档", b"unicode payload", 0),
        ("a/b/c", b"path separators", 0),
        ("v1.2.tar", b"dots in key", 1),
        ("empty", b"", 1),
        ("dup", b"shard-zero copy", 0),
        ("dup", b"shard-one copy", 1),
    ]
    src = spark.createDataFrame(rows, "k string, content binary, sh int")
    out = str(tmp_path / "wds")
    n = write_webdataset_shards(
        src, out, key_col="k", payload_col="content", ext="bin",
        shard_col="sh", n_shards=2,
    )
    assert n == 6
    back = read_webdataset_shards(spark, out).collect()
    assert len(back) == 6
    got = {(r["key"], r["shard_id"]): bytes(r["payload"]) for r in back}
    assert got[("naïve-文档", 0)] == b"unicode payload"
    # tar stores "a/b/c.bin"; rpartition(".") restores the full key
    assert got[("a/b/c", 0)] == b"path separators"
    # key containing dots: the writer appends ".bin" and the reader
    # strips exactly one extension, so the dotted key survives intact
    assert got[("v1.2.tar", 1)] == b"dots in key"
    assert got[("empty", 1)] == b""
    assert got[("dup", 0)] == b"shard-zero copy"
    assert got[("dup", 1)] == b"shard-one copy"

    # (c) flip one payload byte → manifest sha256 no longer matches
    manifest = json.load(open(os.path.join(out, "manifest.json")))
    shard0 = os.path.join(out, "shard-00000.tar")
    blob = bytearray(open(shard0, "rb").read())
    blob[600] ^= 0xFF  # inside a member's data region
    open(shard0, "wb").write(bytes(blob))
    assert (
        hashlib.sha256(open(shard0, "rb").read()).hexdigest()
        != manifest["shard-00000.tar"]["sha256"]
    )

    # (d) re-export a smaller frame with fewer shards into the SAME dir
    small = spark.createDataFrame([("only", b"x", 0)], "k string, content binary, sh int")
    write_webdataset_shards(
        small, out, key_col="k", payload_col="content", ext="bin",
        shard_col="sh", n_shards=1,
    )
    tars = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    assert tars == ["shard-00000.tar"]  # stale shard-00001.tar cleared
    manifest2 = json.load(open(os.path.join(out, "manifest.json")))
    assert set(manifest2) == {"shard-00000.tar"}
    reread = read_webdataset_shards(spark, out).collect()
    assert [(r["key"], bytes(r["payload"])) for r in reread] == [("only", b"x")]
    # no orphaned task-attempt temps remain
    assert not [f for f in os.listdir(out) if f.startswith(".shard-")]


def test_webdataset_reader_corrupt_and_empty(spark, tmp_path):
    """Reader failure modes: a truncated shard names the BAD FILE in
    its error; an empty/missing directory reads as an empty frame."""
    import os

    import pytest as _pytest

    from reactionetl_etl_spark.io.webdataset import read_webdataset_shards

    empty = read_webdataset_shards(spark, str(tmp_path / "absent"))
    assert empty.count() == 0
    assert empty.columns == ["key", "ext", "payload", "meta", "shard_id"]

    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    (bad_dir / "shard-00000.tar").write_bytes(b"definitely not a tar file")
    with _pytest.raises(Exception, match="corrupt WebDataset shard"):
        read_webdataset_shards(spark, str(bad_dir)).collect()
