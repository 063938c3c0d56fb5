"""End-to-end ETL fixture tests (SURVEY.md §5.2-5.3, FIXTURES.md §A).

Asserts the reference's intended semantics — conformed fact/dim
contents, enrichment, audit pairs, incremental no-op re-runs,
quarantine of malformed input — against the Spark pipeline.
"""

from __future__ import annotations

from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from reactionetl_etl_spark.etl.audit import latest_status
from reactionetl_etl_spark.etl.enrich import assign_simulation_nums
from reactionetl_etl_spark.etl.pipeline import ReactionLake
from reactionetl_etl_spark.schemas import (
    LAKE_AUDIT_SCHEMA,
    LAKE_DIM_SCHEMA,
    LAKE_FACT_SCHEMA,
    LAKE_QUARANTINE_SCHEMA,
)

from tests.fixtures_etl import (
    sim_uuid,
    write_incoming,
    write_metadata_json,
    write_reaction_csv,
)

N_ROWS = 20
T0 = datetime(2026, 1, 10, 12, 0, 0)


@pytest.fixture(scope="module")
def incoming(tmp_path_factory):
    root = tmp_path_factory.mktemp("incoming")
    paths = write_incoming(root, N_ROWS)
    # non-.csv file in a day dir must be ignored (file_manager.py:45)
    (root / "2026-01-06" / "notes.txt").write_text("ignore me")
    return root, paths


@pytest.fixture(scope="module")
def lake(spark, incoming, tmp_path_factory):
    root, _ = incoming
    lk = ReactionLake(str(tmp_path_factory.mktemp("lake")))
    lk.result = lk.run_once(spark, str(root), now=T0)
    return lk


def test_operational_logs_written(spark, lake):
    """Reference logging_config parity: run_once writes rotating
    info.log (all events) and error.log (WARNING+: quarantines)."""
    import os

    log_dir = f"{lake.root}/logs"
    info = open(os.path.join(log_dir, "info.log")).read()
    err = open(os.path.join(log_dir, "error.log")).read()
    assert "run_once done:" in info and "ingested" in info
    assert "quarantined" in err and "INFO" not in err


def test_fact_rowcounts(spark, lake):
    """Valid files load fully; the malformed file loses exactly its bad
    row; the missing-column file loads nothing."""
    fact = lake.fact(spark)
    per_sim = {
        r["simulation_id"]: r["n"]
        for r in fact.groupBy("simulation_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_sim[sim_uuid(1)] == N_ROWS
    assert per_sim[sim_uuid(2)] == N_ROWS  # artifact column dropped, not fatal
    assert per_sim[sim_uuid(3)] == N_ROWS  # extra column tolerated
    assert per_sim[sim_uuid(5)] == N_ROWS - 1  # malformed row quarantined
    assert sim_uuid(4) not in per_sim  # missing required column → rejected
    assert lake.result.fact_rows_loaded == 4 * N_ROWS - 1


def test_fact_conformed_schema(spark, lake):
    fact = lake.fact(spark)
    cols = dict(fact.dtypes)
    for c in ("ca", "cb", "cc", "cd", "temperature", "t_sensor", "rxn_time"):
        assert cols[c] == "double"
    assert cols["simulation_id"] == "string"
    assert "Unnamed: 0" not in cols and "Notes" not in cols
    # deterministic row ids are unique
    assert fact.select("row_id").distinct().count() == fact.count()


def test_dim_contents_and_sequence(spark, lake):
    """Valid metadata loads; simulation_num is dense starting at 1 in
    (date_run, simulation_id) order; invalid metadata never lands."""
    dim = lake.dim(spark).orderBy("simulation_num").collect()
    assert [r["simulation_num"] for r in dim] == [1, 2, 3]
    assert [r["simulation_id"] for r in dim] == [sim_uuid(1), sim_uuid(2), sim_uuid(3)]
    assert dim[0]["activation_energy"] == 52001.0
    assert str(dim[0]["date_run"]) == "2026-01-05"
    loaded_ids = {r["simulation_id"] for r in dim}
    assert sim_uuid(6) not in loaded_ids and sim_uuid(7) not in loaded_ids


def test_enrichment_inline_and_materialization_noop(spark, lake):
    """EP3: with inline enrichment, every fact row whose
    metadata arrived in the batch lands ALREADY enriched; rows without
    metadata stay NULL; materialize_enrichment then has nothing to do
    (sim 5's facts stay NULL — its metadata never arrives, so no dim row
    fills them and its day is left as it is, counting 0)."""
    before = lake.fact(spark).count()
    view = lake.fact_enriched(spark)
    assert view.count() == before

    fact = lake.fact(spark)
    matched = fact.filter(F.col("simulation_num").isNotNull())
    assert matched.count() == 3 * N_ROWS  # enriched AT WRITE time
    pairs = {
        (r["simulation_id"], r["simulation_num"])
        for r in matched.select("simulation_id", "simulation_num").distinct().collect()
    }
    assert pairs == {(sim_uuid(1), 1), (sim_uuid(2), 2), (sim_uuid(3), 3)}
    assert lake.materialize_enrichment(spark) == 0  # nothing left to fill
    assert lake.fact(spark).count() == before  # J1: row count preserved


def test_materialize_enrichment_fills_late_metadata(spark, incoming, tmp_path_factory):
    """W6 staged-rewrite path on its production scenario: facts arrive
    BEFORE their metadata (inline enrichment finds no dim row), the next
    run loads the metadata, and materialize_enrichment back-fills the
    earlier facts via the atomic partition swap."""
    import shutil

    root = tmp_path_factory.mktemp("late_incoming")
    d1 = str(root / "2026-02-01")
    csv_path = write_reaction_csv(d1, 11, N_ROWS)
    lk = ReactionLake(str(tmp_path_factory.mktemp("late_lake")))
    lk.run_once(spark, str(root), now=T0)
    fact = lk.fact(spark)
    assert fact.filter(F.col("simulation_num").isNotNull()).count() == 0

    write_metadata_json(d1, 11, "2026-02-01")
    lk.run_once(spark, str(root), now=T0)
    # metadata landed, but the earlier facts are still NULL …
    assert (
        lk.fact(spark).filter(F.col("simulation_num").isNotNull()).count() == 0
    )
    # … until the gap-filling rewrite runs
    assert lk.materialize_enrichment(spark) == N_ROWS
    enriched = lk.fact(spark).filter(F.col("simulation_num").isNotNull())
    assert enriched.count() == N_ROWS
    assert lk.materialize_enrichment(spark) == 0  # idempotent
    # the swap writes the declared column order, like the append
    assert _fields(spark.read.parquet(lk.fact_path).schema) == _fields(LAKE_FACT_SCHEMA)


def _fields(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema]


# the processed-file registry's columns, as ReactionLake.manifest reads them
MANIFEST_FIELDS = [
    ("source_file", "string"),
    ("day", "string"),
    ("etl_type", "string"),
    ("status", "string"),
    ("ingested_at", "timestamp_ntz"),
]


def _lake_tables(lk):
    return {
        "fact": (lk.fact, lk.fact_path, LAKE_FACT_SCHEMA),
        "dim": (lk.dim, lk.dim_path, LAKE_DIM_SCHEMA),
        "audit": (lk.audit, lk.audit_path, LAKE_AUDIT_SCHEMA),
        "quarantine": (lk.quarantine, lk.quarantine_path, LAKE_QUARANTINE_SCHEMA),
    }


def test_lake_tables_match_declared_schemas(spark, lake):
    """The readers' declared schemas are the ones the writers produce:
    each table's footer-inferred schema equals its declaration in names,
    types and order, and the declared read returns the same rows."""
    lake.materialize_enrichment(spark)
    for name, (read, path, declared) in _lake_tables(lake).items():
        inferred = spark.read.parquet(path)
        assert _fields(inferred.schema) == _fields(declared), name
        assert sorted(map(tuple, read(spark).collect()), key=repr) == sorted(
            map(tuple, inferred.collect()), key=repr
        ), name


def test_empty_table_dirs_read_as_empty_declared_frames(spark, tmp_path):
    """A table never written reads as None; a table directory holding no
    data file reads as an empty frame with the declared schema. The
    manifest, read from the audit table, follows the audit table."""
    import os

    lk = ReactionLake(str(tmp_path / "lake"))
    assert lk.manifest(spark) is None
    for name, (read, path, declared) in _lake_tables(lk).items():
        assert read(spark) is None, name
        os.makedirs(path)
        df = read(spark)
        assert df is not None and df.collect() == [], name
        assert _fields(df.schema) == _fields(declared), name
    manifest = lk.manifest(spark)
    assert manifest is not None and manifest.collect() == []
    assert _fields(manifest.schema) == MANIFEST_FIELDS
    assert lk.materialize_enrichment(spark) == 0
    with pytest.raises(FileNotFoundError):
        ReactionLake(str(tmp_path / "absent")).fact_enriched(spark)


def test_audit_is_the_processed_file_registry(spark, lake, incoming):
    """run_once writes no manifest table: the terminal audit events are
    the processed-file registry. A second run over the same files
    processes none of them, and manifest() reads one row per processed
    file with the registry's five columns."""
    import os

    root, _ = incoming
    assert not os.path.exists(f"{lake.root}/manifest")
    assert lake.run_once(spark, str(root), now=T0).files_processed == 0
    manifest = lake.manifest(spark)
    assert _fields(manifest.schema) == MANIFEST_FIELDS
    per_file = manifest.groupBy("source_file").count().collect()
    assert len(per_file) == 10 and {r["count"] for r in per_file} == {1}


def test_run_once_file_uri_root_matches_plain_path(spark, tmp_path):
    """An incoming root given as a file:// URI ingests the same files,
    with the same terminal audit rows, as the plain path; a root on any
    other scheme raises instead of listing nothing."""
    root = tmp_path / "incoming"
    write_incoming(root, N_ROWS)

    def terminal(root_arg, name):
        lk = ReactionLake(str(tmp_path / name))
        lk.run_once(spark, root_arg, now=T0)
        return sorted(
            (
                row["source_file"], row["etl_type"], row["simulation_id"],
                row["status"], row["error_message"], row["records_inserted"],
            )
            for row in lk.audit(spark).collect()
            if row["status"] != "running"
        )

    plain = terminal(str(root), "plain_lake")
    assert len(plain) == 10
    assert terminal(root.as_uri(), "uri_lake") == plain
    with pytest.raises(ValueError, match="local-filesystem"):
        ReactionLake(str(tmp_path / "hdfs_lake")).run_once(
            spark, "hdfs://namenode/incoming", now=T0
        )


def test_materialize_enrichment_leaves_unfillable_day_untouched(spark, tmp_path):
    """Facts whose metadata never arrives stay NULL, and
    materialize_enrichment does not rewrite their day partition: the
    partition's parquet files are the ones the append wrote, byte for
    byte, even while another day's late metadata is being filled."""
    import os

    def snapshot(part):
        return {
            name: open(os.path.join(part, name), "rb").read() for name in os.listdir(part)
        }

    root = tmp_path / "incoming"
    day = str(root / "2026-03-01")
    write_reaction_csv(day, 21, N_ROWS)
    write_metadata_json(day, 21, "2026-03-01")
    write_reaction_csv(day, 22, N_ROWS)  # its metadata never arrives
    late_day = str(root / "2026-03-02")
    write_reaction_csv(late_day, 23, N_ROWS)  # its metadata arrives one run late
    lk = ReactionLake(str(tmp_path / "lake"))
    lk.run_once(spark, str(root), now=T0)
    part = os.path.join(lk.fact_path, "day=2026-03-01")
    late_part = os.path.join(lk.fact_path, "day=2026-03-02")
    files = snapshot(part)
    late_files = snapshot(late_part)
    assert lk.fact(spark).filter(F.col("simulation_num").isNull()).count() == 2 * N_ROWS
    assert lk.materialize_enrichment(spark) == 0
    assert snapshot(part) == files
    assert snapshot(late_part) == late_files

    write_metadata_json(late_day, 23, "2026-03-02")
    lk.run_once(spark, str(root), now=T0)
    assert lk.materialize_enrichment(spark) == N_ROWS
    assert snapshot(late_part) != late_files  # the filled day was rewritten
    assert snapshot(part) == files
    assert lk.materialize_enrichment(spark) == 0
    assert snapshot(part) == files
    fact = lk.fact(spark)
    assert fact.count() == 3 * N_ROWS
    null_days = {r["day"] for r in fact.filter(F.col("simulation_num").isNull()).collect()}
    assert null_days == {"2026-03-01"}
    assert fact.filter(F.col("simulation_num").isNull()).count() == N_ROWS


def test_run_once_builds_no_python_list_frames(spark, tmp_path, monkeypatch):
    """Every driver-built frame on the ingest path is an Arrow local
    relation: with createDataFrame refusing Python lists, a first run
    and a registry-filtered second run (with a rejected file, a
    malformed row and invalid metadata) both complete."""
    from pyspark.sql import SparkSession

    create = SparkSession.createDataFrame

    def arrow_only(self, data, *args, **kwargs):
        if isinstance(data, (list, tuple)):
            raise AssertionError("Python-list createDataFrame on the ingest path")
        return create(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", arrow_only)
    root = tmp_path / "incoming"
    d1, d2 = str(root / "2026-04-01"), str(root / "2026-04-02")
    for n in (31, 32):
        write_reaction_csv(d1, n, N_ROWS)
        write_metadata_json(d1, n, "2026-04-01")
    lk = ReactionLake(str(tmp_path / "lake"))
    first = lk.run_once(spark, str(root), now=T0)
    assert (first.files_processed, first.fact_rows_loaded, first.dim_rows_loaded) == (
        4, 2 * N_ROWS, 2
    )

    write_reaction_csv(d2, 33, N_ROWS, malformed_row_at=3)
    write_reaction_csv(d2, 34, N_ROWS, drop_col="T (K)")
    write_metadata_json(d2, 33, "2026-04-02")
    write_metadata_json(d2, 35, "2026-04-02", bad_value=True)
    second = lk.run_once(spark, str(root), now=T0)
    assert (second.files_processed, second.fact_rows_loaded, second.dim_rows_loaded) == (
        4, N_ROWS - 1, 1
    )
    assert second.files_quarantined == 2
    reasons = {r["reason"] for r in lk.quarantine(spark).collect()}
    assert any(r.startswith("missing required columns") for r in reasons)
    assert lk.materialize_enrichment(spark) == 0


def test_quarantine_contents(spark, lake):
    q = lake.quarantine(spark)
    reasons = [r["reason"] for r in q.collect()]
    assert any("malformed row" in r for r in reasons)
    assert any("missing required columns" in r for r in reasons)
    assert any("metadata validation failed" in r for r in reasons)
    # the malformed row's payload is preserved for replay
    bad = q.filter(F.col("reason").contains("malformed")).first()
    assert "NOT_A_NUMBER" in bad["payload"]


def test_audit_running_success_pairs(spark, lake):
    """One running→terminal event pair per processed file (W4/W5)."""
    audit = lake.audit(spark)
    # 5 csvs + 5 jsons, 2 events each
    assert audit.count() == 20
    per_id = audit.groupBy("etl_id").agg(
        F.count("*").alias("n"), F.min("status").alias("s1"), F.max("status").alias("s2")
    )
    assert per_id.filter(F.col("n") != 2).count() == 0
    latest = latest_status(audit)
    assert latest.count() == 10
    by_status = {
        r["status"]: r["n"]
        for r in latest.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    # csvs: ok1 ok2 ok3 malformed(partial success) = 4 success, missing_col quarantined
    # jsons: meta1-3 success, meta_bad + meta_missing quarantined
    assert by_status == {"success": 7, "quarantined": 3}
    assert latest.filter(F.col("status") == "running").count() == 0


@pytest.mark.parametrize(
    "confs",
    [
        {},
        {
            "spark.sql.shuffle.partitions": "1",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "1",
        },
    ],
    ids=["session_default", "one_partition_one_row_batches"],
)
def test_run_once_per_file_outcomes(spark, tmp_path, session_confs, confs):
    """Each processed file's terminal audit row (etl_type, simulation_id,
    status, error_message, records_inserted) and manifest row, over the
    incoming fixture plus an all-malformed CSV, a second metadata file
    for sim 1 in the same batch (listed last, earliest date_run) and, in
    a second run, a metadata file for an already-loaded simulation. The
    outcomes must not depend on how rows fall into shuffle partitions
    or Arrow batches."""
    session_confs(confs)
    root = tmp_path / "incoming"
    paths = write_incoming(root, N_ROWS)
    paths["all_malformed"] = write_reaction_csv(
        str(root / "2026-01-06"), 9, 1, malformed_row_at=0
    )
    paths["meta1_dup"] = write_metadata_json(str(root / "2026-01-07"), 1, "2026-01-04")
    lk = ReactionLake(str(tmp_path / "lake"))
    first = lk.run_once(spark, str(root), now=T0)
    dim = {row["simulation_id"]: row for row in lk.dim(spark).collect()}
    paths["meta_dup"] = write_metadata_json(str(root / "2026-01-08"), 1, "2026-01-08")
    second = lk.run_once(spark, str(root), now=T0)

    r, m = "reaction", "metadata"
    bad_meta = "metadata validation failed"
    want = {
        "ok1": (r, sim_uuid(1), "success", None, N_ROWS),
        "ok2": (r, sim_uuid(2), "success", None, N_ROWS),
        "ok3": (r, sim_uuid(3), "success", None, N_ROWS),
        "missing_col": (r, sim_uuid(4), "quarantined", "missing required columns: ['t_sensor']", 0),
        "malformed": (r, sim_uuid(5), "success", "1 rows quarantined", N_ROWS - 1),
        "all_malformed": (r, sim_uuid(9), "quarantined", "1 malformed rows", 0),
        "meta1": (m, sim_uuid(1), "success", None, 1),
        "meta2": (m, sim_uuid(2), "success", None, 1),
        "meta3": (m, sim_uuid(3), "success", None, 1),
        "meta_bad": (m, sim_uuid(6), "quarantined", bad_meta, 0),
        "meta_missing": (m, sim_uuid(7), "quarantined", bad_meta, 0),
        "meta_dup": (m, sim_uuid(1), "success", "duplicate simulation_id (skipped)", 0),
    }
    name = {p: k for k, p in paths.items()}
    audit = lk.audit(spark).collect()
    assert {row["event_time"] for row in audit} == {T0}
    terminal = {
        name[row["source_file"]]: (
            row["etl_type"], row["simulation_id"], row["status"],
            row["error_message"], row["records_inserted"],
        )
        for row in audit
        if row["status"] != "running"
    }
    # of the same-batch pair, the earlier date_run loads, though its
    # file is listed last
    want["meta1_dup"], want["meta1"] = want["meta1"], want["meta_dup"]
    assert terminal == want
    # one running event per file, sharing its terminal event's etl_id
    ids = {}
    for row in audit:
        ids.setdefault(name[row["source_file"]], []).append(row["etl_id"])
    assert all(len(v) == 2 and v[0] == v[1] for v in ids.values())
    assert len({v[0] for v in ids.values()}) == len(want)

    manifest = {
        name[row["source_file"]]: (row["etl_type"], row["status"], row["day"], row["ingested_at"])
        for row in lk.manifest(spark).collect()
    }
    assert manifest == {
        k: (v[0], v[2], paths[k].rsplit("/", 2)[-2], T0) for k, v in want.items()
    }
    # numbered in (date_run, simulation_id) order, not listing order
    assert {k: row["simulation_num"] for k, row in dim.items()} == {
        sim_uuid(1): 1, sim_uuid(2): 2, sim_uuid(3): 3
    }
    sim1 = dim[sim_uuid(1)]
    assert (sim1["day"], sim1["date_run"]) == ("2026-01-07", date(2026, 1, 4))
    assert sim1["source_file"].endswith(paths["meta1_dup"])
    assert (first.fact_rows_loaded, first.dim_rows_loaded) == (4 * N_ROWS - 1, 3)
    assert (first.files_processed, first.files_quarantined) == (12, 4)
    assert (second.fact_rows_loaded, second.dim_rows_loaded) == (0, 0)
    assert (second.files_processed, second.files_quarantined) == (1, 0)


def test_assign_simulation_nums_dedupes_and_numbers_in_total_order():
    """One row per simulation_id, the first in (date_run, source_file)
    order; numbers from current_max + 1 in (date_run, simulation_id)
    order; tuples in LAKE_DIM_SCHEMA order."""
    def row(sim, day, src):
        return {
            "simulation_id": sim, "reaction_name": f"rxn_{sim}", "activation_energy": 1.0,
            "ca0": 2.0, "cb0": 3.0, "t0": 4.0, "date_run": date(2026, 1, day),
            "stop_reason": "steady_state", "stop_time_s": 5.0,
            "source_file": src, "day": f"d{day}",
        }

    rows = [
        row("b", 6, "file:/in/1/b.json"),
        row("c", 5, "file:/in/3/c.json"),
        row("a", 6, "file:/in/2/a.json"),
        row("c", 5, "file:/in/2/c.json"),  # ties c's date_run; earlier source_file
        row("a", 7, "file:/in/0/a.json"),  # listed first, later date_run
    ]
    got = assign_simulation_nums(rows, 10)
    by_sim = {t[0]: dict(zip(LAKE_DIM_SCHEMA.names, t)) for t in got}
    assert [t[0] for t in got] == ["c", "a", "b"]
    assert {k: (v["simulation_num"], v["source_file"]) for k, v in by_sim.items()} == {
        "c": (11, "file:/in/2/c.json"),
        "a": (12, "file:/in/2/a.json"),
        "b": (13, "file:/in/1/b.json"),
    }
    assert by_sim["a"] == {**rows[2], "simulation_num": 12}
    assert assign_simulation_nums(rows[:1], None)[0][1] == 1
    assert assign_simulation_nums([], 3) == []


def test_incremental_rerun_is_noop(spark, lake, incoming):
    """README.md:15 semantics: re-running with no new files is a no-op."""
    root, _ = incoming
    before_fact = lake.fact(spark).count()
    before_dim = lake.dim(spark).count()
    res = lake.run_once(spark, str(root), now=T0)
    assert res.files_processed == 0
    assert lake.fact(spark).count() == before_fact
    assert lake.dim(spark).count() == before_dim


def test_incremental_new_file_only(spark, lake, incoming):
    """A newly arrived file is picked up; old files are not reloaded."""
    root, _ = incoming
    day3 = str(root / "2026-01-07")
    write_reaction_csv(day3, 8, N_ROWS)
    write_metadata_json(day3, 8, "2026-01-07")
    res = lake.run_once(spark, str(root), now=T0)
    assert res.files_processed == 2
    assert res.fact_rows_loaded == N_ROWS
    assert res.dim_rows_loaded == 1
    # the new dim row extends the dense sequence, never reusing numbers
    dim = lake.dim(spark)
    assert dim.agg(F.max("simulation_num")).first()[0] == 4
    assert dim.select("simulation_num").distinct().count() == 4
    # the new day's facts arrive enriched inline (same-batch metadata),
    # so the gap-filling rewrite has nothing to do
    new_day = lake.fact(spark).filter(F.col("day") == "2026-01-07")
    assert new_day.filter(F.col("simulation_num").isNotNull()).count() == N_ROWS
    assert lake.materialize_enrichment(spark) == 0


def test_duplicate_metadata_skipped(spark, lake, incoming, tmp_path_factory):
    """PK semantics: a metadata file for an already-loaded simulation_id
    is processed but its row is skipped, keeping the dim unique."""
    root, _ = incoming
    day4 = str(root / "2026-01-08")
    write_metadata_json(day4, 1, "2026-01-08")  # sim 1 already in dim
    res = lake.run_once(spark, str(root), now=T0)
    assert res.files_processed == 1
    assert res.dim_rows_loaded == 0
    dim = lake.dim(spark)
    assert dim.filter(F.col("simulation_id") == sim_uuid(1)).count() == 1


def test_run_once_new_file_in_processed_day_dir_loads_only_it(spark, tmp_path_factory):
    """A file that lands in a day dir whose other files are already
    processed is loaded alone: the batch is the listed new paths, not
    the directory."""
    root = tmp_path_factory.mktemp("incoming_increment")
    d1, d2 = str(root / "2026-02-01"), str(root / "2026-02-02")
    for day_dir, day, sims in ((d1, "2026-02-01", (1, 2, 3)), (d2, "2026-02-02", (4, 5))):
        for n in sims:
            write_reaction_csv(day_dir, n, N_ROWS)
            write_metadata_json(day_dir, n, day)
    lk = ReactionLake(str(tmp_path_factory.mktemp("lake_increment")))
    assert lk.run_once(spark, str(root), now=T0).files_processed == 10

    write_reaction_csv(d2, 6, N_ROWS)
    write_metadata_json(d2, 6, "2026-02-02")
    res = lk.run_once(spark, str(root), now=T0)
    assert res.files_processed == 2
    assert res.fact_rows_loaded == N_ROWS
    assert lk.fact(spark).count() == 6 * N_ROWS
    assert lk.dim(spark).count() == 6


def test_run_once_ingests_odd_basename(spark, tmp_path_factory):
    """A *.csv batch member whose basename does not match the reaction*
    convention is INGESTED — not audited as success/0 rows and then
    skipped forever as processed. The odd file has a valid header and
    rows, so its fact rows must land and its audit row must carry the
    true count; a second run_once must find nothing new."""
    import os
    import shutil

    root = tmp_path_factory.mktemp("incoming_oddname")
    day = str(root / "2026-02-03")
    for n in (1, 2, 3):
        write_reaction_csv(day, n, N_ROWS)
        write_metadata_json(day, n, "2026-02-03")
    src = write_reaction_csv(day, 7, N_ROWS)
    odd = os.path.join(day, "legacy_export.csv")
    shutil.move(src, odd)

    lk = ReactionLake(str(tmp_path_factory.mktemp("lake_oddname")))
    res = lk.run_once(spark, str(root), now=T0)
    assert res.files_processed == 7  # 4 csvs + 3 jsons
    assert res.fact_rows_loaded == 4 * N_ROWS
    assert lk.fact(spark).count() == 4 * N_ROWS
    # append-only audit: each file gets a running + terminal event pair;
    # the odd file's TERMINAL row must be success with the true count
    odd_events = {
        (r["status"], r["records_inserted"])
        for r in lk.audit(spark).collect()
        if r["source_file"].endswith("legacy_export.csv")
    }
    assert odd_events == {("running", None), ("success", N_ROWS)}

    res2 = lk.run_once(spark, str(root), now=T0)
    assert res2.files_processed == 0  # registered once, correctly
