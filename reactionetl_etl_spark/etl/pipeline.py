"""Lakehouse ETL pipeline: the reference's main() re-expressed on Spark.

Reference flow (/root/reference/main.py:6-50): per-file loop of
clean → COPY → audit → move-directories, then a batched UPDATE-join.
Engine flow (one run = one call to `run_once`):

    discover new files (terminal-audit anti-join — replaces directory moves)
      → cleanse metadata   (validate; dedupe + dense simulation_num on the driver)
      → append dim parquet
      → cleanse CSVs       (grouped distributed scans, quarantine split)
      → append fact parquet, partitioned by day, enriched inline
      → append quarantine   (both cleanses' rejected rows and files, one write)
      → append audit events (per-file running→terminal pairs; the commit point)
    enrichment (`materialize_enrichment`): one collect finds the days
    whose NULL simulation_num rows the dim can fill, then one atomic
    staged partition swap (etl/commit.py) rewrites only those days
    through the broadcast dim join; everything else is untouched.

Lake layout (all plain parquet — swap for Delta/Iceberg in production
to get ACID appends + MERGE; layout and plans are unchanged):

    <lake>/fact_sim/day=<d>/*.parquet
    <lake>/dim_rxn/*.parquet
    <lake>/audit/*.parquet        append-only status events; the terminal
                                  ones are the processed-file registry (M1/M2)
    <lake>/quarantine/*.parquet   rejected rows/files with reasons

Incrementality/idempotency: at-least-once, like the reference
(README.md:15) — a crash before the audit append can reprocess a
file; deterministic row_id = xxhash64(simulation_id, rxn_time, source
day) makes such replays detectable/dedupable downstream. Unlike the
reference, a file rejected by validation is registered with its reason
and not retried forever. Older lakes' `manifest/` tables go unread.

Scale notes: every data-path operation here is a distributed scan,
map-side join, or columnar append. The driver holds O(files) state: the
listing, the registry anti-join result, the header-probe groups, the
rejected-file list, the new dim rows (at most one per new metadata
file), and each file's outcome (per-file row counts in, audit rows
out). None of these adds anything asymptotically to what the listing
already costs. Fact writes are day-partitioned so
downstream time-ranged queries prune; enrichment touches only
partitions it can fill.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, replace
from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from reactionetl_etl_spark.etl.audit import AuditEvent, events_df, new_etl_id
from reactionetl_etl_spark.etl.commit import (
    recover_staged_commits,
    staged_overwrite_partitions,
)
from reactionetl_etl_spark.io.files import local_frame, read_if_exists
from reactionetl_etl_spark.logging_config import get_logger, setup_logging
from reactionetl_etl_spark.etl.cleanse import (
    CleanseResult,
    cleanse_incoming_csvs,
    cleanse_metadata_jsons,
)
from reactionetl_etl_spark.etl.enrich import (
    assign_simulation_nums,
    enrich_fact,
)
from reactionetl_etl_spark.schemas import (
    LAKE_AUDIT_SCHEMA,
    LAKE_DIM_SCHEMA,
    LAKE_FACT_SCHEMA,
    LAKE_QUARANTINE_SCHEMA,
)
from reactionetl_etl_spark.sources.raw import RawFile, list_raw_files, strip_uri_scheme

log = get_logger("etl.pipeline")


@dataclass
class RunResult:
    fact_rows_loaded: int
    dim_rows_loaded: int
    files_processed: int
    files_quarantined: int


class ReactionLake:
    def __init__(self, lake_root: str, log_dir: str | None = None):
        self.root = lake_root.rstrip("/")
        self.fact_path = f"{self.root}/fact_sim"
        self.dim_path = f"{self.root}/dim_rxn"
        self.audit_path = f"{self.root}/audit"
        self.quarantine_path = f"{self.root}/quarantine"
        # Operational (driver-side) logs, reference logging_config.py
        # parity: rotating info.log + error.log under <lake>/logs unless
        # pointed elsewhere. The audit table stays the queryable record.
        setup_logging(log_dir or f"{self.root}/logs")

    # -- table readers ----------------------------------------------------

    def _read_or_none(self, spark: SparkSession, path: str, schema: StructType) -> DataFrame | None:
        """Read one lake table with its declared schema (schemas.LAKE_*),
        the way the table readers below do. A table never written reads
        as None; a table directory that exists but holds no data file
        reads as an empty frame with the declared schema. Declaring the
        schema skips the footer-inference job a plain read runs (~70 ms
        against ~10 ms on a 4-core host)."""
        return read_if_exists(lambda: spark.read.schema(schema).parquet(path))

    def fact(self, spark: SparkSession) -> DataFrame | None:
        return self._read_or_none(spark, self.fact_path, LAKE_FACT_SCHEMA)

    def dim(self, spark: SparkSession) -> DataFrame | None:
        return self._read_or_none(spark, self.dim_path, LAKE_DIM_SCHEMA)

    def audit(self, spark: SparkSession) -> DataFrame | None:
        return self._read_or_none(spark, self.audit_path, LAKE_AUDIT_SCHEMA)

    def quarantine(self, spark: SparkSession) -> DataFrame | None:
        return self._read_or_none(spark, self.quarantine_path, LAKE_QUARANTINE_SCHEMA)

    def manifest(self, spark: SparkSession) -> DataFrame | None:
        """The processed-file registry: each processed file's terminal
        audit event, as (source_file, day, etl_type, status,
        ingested_at). None while there is no audit table."""
        audit = self.audit(spark)
        if audit is None:
            return None
        return audit.filter(F.col("status") != "running").select(
            "source_file", "day", "etl_type", "status", F.col("event_time").alias("ingested_at")
        )

    def fact_enriched(self, spark: SparkSession) -> DataFrame:
        """Read-time enrichment view: always-current simulation_num
        without waiting for materialization (one broadcast join)."""
        fact, dim = self.fact(spark), self.dim(spark)
        if fact is None:
            raise FileNotFoundError(f"no fact table at {self.fact_path}")
        if dim is None:
            return fact
        return enrich_fact(fact, dim)

    # -- incremental discovery (M1/M2 replacement) ------------------------

    def _new_files(self, spark: SparkSession, listed: list[RawFile]) -> list[RawFile]:
        """Filter out files already in the registry (`manifest`),
        keeping listing order.

        The listed backlog is driver-side (it is metadata); membership
        is checked with a join against the audit table so the registry
        never has to fit on the driver. One call covers every suffix:
        one audit read, one collect.
        """
        if not listed:
            return []
        manifest = self.manifest(spark)
        if manifest is None:
            return listed
        listed_df = local_frame(spark, [(f.path,) for f in listed], "path string")
        fresh = {
            r["path"]
            for r in listed_df.join(
                manifest.select(F.col("source_file").alias("path")), on="path", how="left_anti"
            ).collect()
        }
        return [f for f in listed if f.path in fresh]

    # -- the run ----------------------------------------------------------

    def run_once(
        self,
        spark: SparkSession,
        incoming_root: str,
        now: datetime | None = None,
    ) -> RunResult:
        """Process every not-yet-processed file under incoming/<day>/.

        Fact rows pick up their dim's simulation_num DURING the fact
        write — the metadata JSONs are cleansed first, and the fact
        append runs through the same broadcast update-join
        (`enrich_fact`, J1) that `materialize_enrichment` uses. The
        reference's main() also ends every invocation with facts
        enriched (clean → load → update_fact_simulations in one run);
        inlining reaches the same end state without writing the fact
        table twice — at 512 bench files the separate enrichment
        rewrite was ~4 s of a 13 s ingest. Facts whose metadata hasn't
        arrived stay NULL and `materialize_enrichment` remains the
        late-metadata gap-filler (the staged atomic partition-swap path,
        exercised by the late-dim tests).

        The batch's new dim rows are deduped and numbered on the driver
        (`assign_simulation_nums`) and appended from there. That collect
        holds at most the new metadata files' rows: the clean rows not
        yet in the dim, plus the source_file of each quarantined one.
        The anti-join against the dim, which grows without bound, stays
        in Spark.

        Each file's outcome (status, error message, rows inserted) is
        worked out on the driver from per-file counts collected off the
        cleanse scans, and the audit rows are written from there. The
        driver already holds O(files) state here (the listing, the
        registry anti-join result, the header-probe groups, the
        rejected-file list), so one outcome per file adds nothing
        asymptotically. The audit append is the last write and commits
        the run: a crash before it leaves the files to the next run."""
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        listed = list_raw_files(incoming_root, ".csv") + list_raw_files(incoming_root, ".json")
        new = self._new_files(spark, listed)
        csvs = [f for f in new if f.path.endswith(".csv")]
        jsons = [f for f in new if f.path.endswith(".json")]
        log.info(
            "run_once: %d new reaction CSVs, %d new metadata JSONs under %s",
            len(csvs), len(jsons), incoming_root,
        )
        # the terminal audit event of every processed file
        outcomes: list[AuditEvent] = []
        fact_loaded = dim_loaded = 0
        # rejected rows and files of both cleanses, appended once; the
        # cleanse results back them until then
        quarantine: list[DataFrame] = []
        cleansed: list[CleanseResult] = []

        # ---- metadata JSONs → dim_rxn (V3 + W3 + X4) ----
        # Dims are processed BEFORE the facts so the fact append can
        # pick up this batch's simulation_nums inline.
        if jsons:
            result = cleanse_metadata_jsons(spark, jsons)
            existing_dim = self.dim(spark)
            new_meta = result.clean
            if existing_dim is not None:
                # PK semantics (create_tables.sql:19): never load a
                # simulation_id twice
                new_meta = new_meta.join(
                    existing_dim.select("simulation_id"), on="simulation_id", how="left_anti"
                )
            # one collect: the batch's new clean rows (ok), the
            # quarantined files (not ok) and the dim's max
            # simulation_num (ok NULL), the numbering offset; deduped
            # and numbered on the driver
            flagged = new_meta.withColumn("ok", F.lit(True)).unionByName(
                result.quarantined.select("source_file", F.lit(False).alias("ok")),
                allowMissingColumns=True,
            )
            if existing_dim is not None:
                flagged = flagged.unionByName(
                    existing_dim.agg(F.max("simulation_num").alias("max_num")),
                    allowMissingColumns=True,
                )
            rows = flagged.collect()
            offset = next((r["max_num"] for r in rows if r["ok"] is None), None)
            dim_rows = assign_simulation_nums([r for r in rows if r["ok"]], offset)
            src = LAKE_DIM_SCHEMA.names.index("source_file")
            loaded = {strip_uri_scheme(r[src]) for r in dim_rows}
            bad = {strip_uri_scheme(r["source_file"]) for r in rows if r["ok"] is False}
            local_frame(spark, dim_rows, LAKE_DIM_SCHEMA).coalesce(1).write.mode("append").parquet(
                self.dim_path
            )
            events = []
            for f in jsons:
                if f.path in bad:
                    ev = _terminal_event(f, "metadata", now, "quarantined", "metadata validation failed")
                elif f.path in loaded:
                    ev = _terminal_event(f, "metadata", now, "success", records_inserted=1)
                else:
                    ev = _terminal_event(f, "metadata", now, "success", "duplicate simulation_id (skipped)")
                events.append(ev)
            outcomes += events
            dim_loaded, n_quarantined = _tally(events)
            if n_quarantined:
                quarantine.append(result.quarantined)
                log.warning("quarantined %d metadata files (validation failed)", n_quarantined)
            log.info("metadata: %d files, %d dim rows loaded", len(jsons), dim_loaded)
            cleansed.append(result)

        # ---- reaction CSVs → fact_sim (EP2 + W2; + inline J1) ----
        if csvs:
            result = cleanse_incoming_csvs(spark, csvs)
            # Clean and quarantined rows per file. The first action over
            # the persisted cleanse scan, so it also fills the cache the
            # fact append reads.
            counts = {
                strip_uri_scheme(r["source_file"]): (r["n_ok"], r["n_bad"])
                for r in result.clean.select("source_file", F.lit(True).alias("ok"))
                .unionByName(result.quarantined.select("source_file", F.lit(False).alias("ok")))
                .groupBy("source_file")
                .agg(F.count_if("ok").alias("n_ok"), F.count_if(~F.col("ok")).alias("n_bad"))
                .collect()
            }
            fact_cols = LAKE_FACT_SCHEMA.names
            fact_new = result.clean.withColumns(
                {
                    # deterministic row id: stable under at-least-once replay
                    "row_id": F.xxhash64("simulation_id", "rxn_time", "source_file"),
                    "simulation_num": F.lit(None).cast("int"),
                }
            ).select(*fact_cols)
            # the dim read AFTER the JSON append sees this batch's rows;
            # facts with absent metadata stay NULL for the
            # materialize_enrichment gap-filler
            dim_now = self.dim(spark)
            if dim_now is not None:
                fact_new = enrich_fact(fact_new, dim_now).select(*fact_cols)
            fact_new.write.mode("append").partitionBy("day").parquet(self.fact_path)

            rejected = {rf.path: why for rf, why in result.rejected_files}
            events = []
            for f in csvs:
                n_ok, n_bad = counts.get(f.path, (0, 0))
                if f.path in rejected:
                    ev = _terminal_event(f, "reaction", now, "quarantined", rejected[f.path])
                elif n_bad and not n_ok:
                    ev = _terminal_event(f, "reaction", now, "quarantined", f"{n_bad} malformed rows")
                elif n_bad:
                    ev = _terminal_event(f, "reaction", now, "success", f"{n_bad} rows quarantined", n_ok)
                else:
                    ev = _terminal_event(f, "reaction", now, "success", records_inserted=n_ok)
                events.append(ev)
            outcomes += events
            fact_loaded, n_quarantined = _tally(events)
            if any(n_bad for _, n_bad in counts.values()):
                quarantine.append(result.quarantined)
            if result.rejected_files:
                quarantine.append(
                    local_frame(
                        spark,
                        [(None, why, rf.path, rf.day) for rf, why in result.rejected_files],
                        LAKE_QUARANTINE_SCHEMA,
                    )
                )
            cleansed.append(result)
            log.info(
                "ingested %d reaction files: %d rows loaded, %d files quarantined",
                len(csvs), fact_loaded, n_quarantined,
            )
            if n_quarantined:
                log.warning("quarantined %d reaction files (see audit/quarantine tables)", n_quarantined)

        if quarantine:
            reduce(DataFrame.unionByName, quarantine).write.mode("append").parquet(
                self.quarantine_path
            )
        for result in cleansed:
            result.release()

        # ---- audit append (W4/W5), the commit point ----
        # one running→terminal event pair per file, as one file
        if outcomes:
            running = [
                replace(e, records_inserted=None, status="running", error_message=None)
                for e in outcomes
            ]
            events_df(spark, running + outcomes).coalesce(1).write.mode("append").parquet(
                self.audit_path
            )

        _, quarantined_files = _tally(outcomes)
        log.info(
            "run_once done: %d fact rows, %d dim rows, %d files (%d quarantined)",
            fact_loaded, dim_loaded, len(outcomes), quarantined_files,
        )
        return RunResult(fact_loaded, dim_loaded, len(outcomes), quarantined_files)

    # -- enrichment (EP3) -------------------------------------------------

    def materialize_enrichment(self, spark: SparkSession) -> int:
        """J1 as one broadcast join, persisted.

        One collect finds the days holding NULL-simulation_num facts
        that the dim can fill, with each day's fillable row count — the
        reference's guarded UPDATE-join touches exactly these rows
        (`simulation_num IS NULL` with a dim match). Only those days
        are rewritten, in one atomic staged partition swap; enriched
        days, and days whose NULLs have no dim row yet, are never
        touched. Returns rows newly enriched.
        With Delta this is `MERGE WHEN MATCHED UPDATE`; on plain
        parquet, partition-scoped rewrite is the idiomatic equivalent.
        """
        # finish/discard any staged rewrite a previous crash left behind
        # (one FS listing — metadata-cost only)
        recover_staged_commits(spark, self.fact_path)
        fact, dim = self.fact(spark), self.dim(spark)
        if fact is None or dim is None:
            return 0
        fillable = {
            r["day"]: r["count"]
            for r in fact.filter(F.col("simulation_num").isNull())
            .join(dim.select("simulation_id"), on="simulation_id", how="left_semi")
            .groupBy("day")
            .count()
            .collect()
        }
        if not fillable:
            return 0
        filled = enrich_fact(fact.filter(F.col("day").isin(list(fillable))), dim)
        # atomic staged swap (etl/commit.py): a crash mid-rewrite leaves
        # either the old partitions or the new ones, never a mix — the
        # recover call above completes an interrupted commit next run
        staged_overwrite_partitions(
            spark, self.fact_path, filled.select(*LAKE_FACT_SCHEMA.names), "day"
        )
        return sum(fillable.values())


# filename-derived simulation id per etl_type (main.py:23,36 slicing,
# done as a match on the basename; no match → None)
_SIM_ID_FROM_NAME = {
    "reaction": re.compile(r"reaction(.+)\.csv"),
    "metadata": re.compile(r"metadata_(.+)\.json"),
}


def _terminal_event(
    f: RawFile,
    etl_type: str,
    now: datetime,
    status: str,
    error_message: str | None = None,
    records_inserted: int = 0,
) -> AuditEvent:
    """A processed file's terminal audit event, with a fresh etl_id."""
    m = _SIM_ID_FROM_NAME[etl_type].fullmatch(os.path.basename(f.path))
    return AuditEvent(
        etl_id=new_etl_id(),
        event_time=now,
        simulation_id=m.group(1) if m else None,
        etl_type=etl_type,
        records_inserted=records_inserted,
        records_updated=None,
        status=status,
        error_message=error_message,
        source_file=f.path,
        day=f.day,
    )


def _tally(events: list[AuditEvent]) -> tuple[int, int]:
    """(records inserted, files quarantined) over terminal events."""
    return (
        sum(e.records_inserted for e in events),
        sum(e.status == "quarantined" for e in events),
    )
