"""Lakehouse ETL pipeline: the reference's main() re-expressed on Spark.

Reference flow (/root/reference/main.py:6-50): per-file loop of
clean → COPY → audit → move-directories, then a batched UPDATE-join.
Engine flow (one run = one call to `run_once`):

    discover new files (manifest anti-join — replaces directory moves)
      → cleanse CSVs       (grouped distributed scans, quarantine split)
      → append fact parquet, partitioned by day
      → cleanse metadata   (validate, dedupe, dense simulation_num)
      → append dim parquet
      → append audit events (per-file running→terminal pairs)
      → append manifest     (processed-file registry)
    enrichment (`materialize_enrichment`): rewrite only day-partitions
    that still hold NULL simulation_num rows — atomic staged partition
    swap (etl/commit.py), broadcast dim join, everything else untouched.

Lake layout (all plain parquet — swap for Delta/Iceberg in production
to get ACID appends + MERGE; layout and plans are unchanged):

    <lake>/fact_sim/day=<d>/*.parquet
    <lake>/dim_rxn/*.parquet
    <lake>/audit/*.parquet        append-only status events
    <lake>/quarantine/*.parquet   rejected rows/files with reasons
    <lake>/manifest/*.parquet     files already processed (M1/M2 state)

Incrementality/idempotency: at-least-once, like the reference
(README.md:15) — a crash between data append and manifest append can
reprocess a file; deterministic row_id = xxhash64(simulation_id,
rxn_time, source day) makes such replays detectable/dedupable
downstream. Unlike the reference, a file rejected by validation is
recorded in the manifest with its reason and not retried forever.

Scale notes: every data-path operation here is a distributed scan,
map-side join, or columnar append; the only driver-side collections are
file lists and per-file row counts (metadata-sized). Fact writes are
day-partitioned so downstream time-ranged queries prune; enrichment
touches only unenriched partitions.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from reactionetl_etl_spark.etl.commit import (
    recover_staged_commits,
    staged_overwrite_partitions,
)
from reactionetl_etl_spark.io.files import local_frame, read_if_exists
from reactionetl_etl_spark.logging_config import get_logger, setup_logging
from reactionetl_etl_spark.etl.cleanse import (
    cleanse_incoming_csvs,
    cleanse_metadata_jsons,
)
from reactionetl_etl_spark.etl.enrich import (
    assign_simulation_nums,
    current_max_simulation_num,
    enrich_fact,
)
from reactionetl_etl_spark.schemas import (
    LAKE_AUDIT_SCHEMA,
    LAKE_DIM_SCHEMA,
    LAKE_FACT_SCHEMA,
    LAKE_MANIFEST_SCHEMA,
    LAKE_QUARANTINE_SCHEMA,
)
from reactionetl_etl_spark.sources.raw import RawFile, list_raw_files

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
        self.manifest_path = f"{self.root}/manifest"
        # Operational (driver-side) logs, reference logging_config.py
        # parity: rotating info.log + error.log under <lake>/logs unless
        # pointed elsewhere. The audit table stays the queryable record.
        setup_logging(log_dir or f"{self.root}/logs")

    # -- table readers ----------------------------------------------------

    def _read_or_none(self, spark: SparkSession, path: str, schema: StructType) -> DataFrame | None:
        """Read one lake table with its declared schema (schemas.LAKE_*),
        the way all five readers below do. A table never written reads
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
        return self._read_or_none(spark, self.manifest_path, LAKE_MANIFEST_SCHEMA)

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
        """Filter out files already in the manifest, keeping listing
        order.

        The listed backlog is driver-side (it is metadata); membership
        is checked with a join against the manifest table so the
        manifest itself never has to fit on the driver. One call covers
        every suffix: one manifest read, one collect.
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
        exercised by the late-dim tests)."""
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        # one nonce per run_once call: etl_ids stay deterministic WITHIN
        # a run (audit + manifest writes of the same status frame agree)
        # but two runs given the same explicit `now` (tests, replays) no
        # longer collide in the append-only audit log
        run_token = f"{now.isoformat()}|{uuid.uuid4().hex}"
        now_col = F.lit(now.strftime("%Y-%m-%d %H:%M:%S.%f")).cast("timestamp_ntz")
        all_csvs = list_raw_files(incoming_root, ".csv")
        all_jsons = list_raw_files(incoming_root, ".json")
        new = self._new_files(spark, all_csvs + all_jsons)
        csvs = [f for f in new if f.path.endswith(".csv")]
        jsons = [f for f in new if f.path.endswith(".json")]
        # Fresh-backlog fast path (the daily-drop norm): when every
        # listed file is new, the cleanse readers may scan day DIRS with
        # a glob instead of resolving each path on the driver — O(dirs)
        # vs O(files) plan construction (~3 ms/path; 2×1.6 s at 512
        # files, PERF_NOTES r9). The readers pin the exact file set back
        # with a broadcast semi-join, so partially-processed dirs just
        # take the per-path read.
        csv_dir_read = len(csvs) == len(all_csvs)
        json_dir_read = len(jsons) == len(all_jsons)
        log.info(
            "run_once: %d new reaction CSVs, %d new metadata JSONs under %s",
            len(csvs), len(jsons), incoming_root,
        )

        # Per-file STATUS FRAMES (rows = files) replace the former
        # driver-side AuditEvent list + per-file Python loop: row
        # counts, statuses, and error messages are joined/derived as
        # DataFrames, so a million-file backlog never serializes its
        # audit trail through driver memory. The only driver-side
        # remnants are the file listing itself (metadata) and one
        # 1-row tally aggregate per branch for RunResult.
        csv_st = json_st = None
        fact_loaded = dim_loaded = quarantined_files = 0

        # Overlap (r14, guide-§2.6 shape): the CSV PARSE does not depend
        # on the dims phase — only the fact append's inline enrich join
        # does. Kick the cleanse scan's cache materialization off on a
        # driver thread so it back-fills executor cores while the dims
        # phase runs its (small, underparallelized) jobs; the fact
        # branch below joins the by-then-appended dim exactly as
        # before. count() on the clean projection populates the persist
        # of the full parsed scan (InMemoryRelation materializes every
        # column).
        from concurrent.futures import ThreadPoolExecutor

        csv_result = None
        _csv_warm = _csv_pool = None
        if csvs:
            csv_result = cleanse_incoming_csvs(spark, csvs, dir_read=csv_dir_read)
            if jsons:
                _csv_pool = ThreadPoolExecutor(1)
                _csv_warm = _csv_pool.submit(csv_result.clean.count)

        def _abort_csv_pool() -> None:
            # r15 (ADVICE): every exceptional exit between the warm-up
            # submit above and its consumption in the fact branch must
            # still shut the executor down — otherwise the non-daemon
            # worker keeps the interpreter alive while the exception
            # propagates. cancel_futures drops the job if it has not
            # started; a mid-flight count just finishes into a dropped
            # future.
            if _csv_pool is not None:
                _csv_pool.shutdown(wait=False, cancel_futures=True)

        # ---- metadata JSONs → dim_rxn (V3 + W3 + X4) ----
        # Dims are processed BEFORE the facts so the fact append can
        # pick up this batch's simulation_nums inline.
        try:
            if jsons:
                result = cleanse_metadata_jsons(spark, jsons, dir_read=json_dir_read)
                existing_dim = self.dim(spark)
                new_meta = result.clean
                if existing_dim is not None:
                    # PK semantics (create_tables.sql:19): never load a
                    # simulation_id twice — skip already-present, dedupe batch
                    new_meta = new_meta.join(
                        existing_dim.select("simulation_id"), on="simulation_id", how="left_anti"
                    )
                new_meta = new_meta.dropDuplicates(["simulation_id"])
                offset = current_max_simulation_num(existing_dim) if existing_dim is not None else 0
                # approx_rows = file count (≤1 dim row per file): small
                # batches take dense_sequence's one-task window, skipping
                # the distributed rank's constant-overhead stages
                dim_new = assign_simulation_nums(new_meta, offset, approx_rows=len(jsons)).select(
                    *LAKE_DIM_SCHEMA.names
                ).persist()
                files_df = local_frame(
                    spark, [(f.path, f.day) for f in jsons], "path string, day string"
                )
                loaded = (
                    dim_new.select(_strip_scheme_col(F.col("source_file")).alias("path"))
                    .distinct()
                    .withColumn("__loaded", F.lit(True))
                )
                bad = (
                    result.quarantined.select(_strip_scheme_col(F.col("source_file")).alias("path"))
                    .distinct()
                    .withColumn("__bad", F.lit(True))
                )
                json_st = (
                    files_df.join(loaded, "path", "left")
                    .join(bad, "path", "left")
                    .withColumn("status", F.when(F.col("__bad"), "quarantined").otherwise(F.lit("success")))
                    .withColumn(
                        "error_message",
                        F.when(F.col("__bad"), "metadata validation failed").when(
                            F.col("__loaded").isNull() & F.col("__bad").isNull(),
                            "duplicate simulation_id (skipped)",
                        ),
                    )
                    .withColumn(
                        "records_inserted",
                        F.when(F.col("__bad").isNull() & F.col("__loaded").isNotNull(), 1)
                        .otherwise(0)
                        .cast("int"),
                    )
                    .withColumn("etl_id", _derived_etl_id(F.col("path"), run_token))
                    .withColumn("simulation_id", _filename_key(F.col("path"), r"^metadata_(.+)\.json$"))
                    .withColumn("etl_type", F.lit("metadata"))
                    # Eager lineage break BEFORE the dim append: st's plan
                    # contains the anti-join against dim_path, so any later
                    # re-evaluation (and dim_new.unpersist() CASCADES the
                    # uncache into dependent cached plans, making one
                    # likely) would see the appended output and anti-join
                    # the new rows away. localCheckpoint decouples st from
                    # dim_path entirely; a plain persist() does not survive
                    # the cascade.
                    .repartition(max(1, len(jsons) // 100_000))
                    .localCheckpoint(eager=True)
                )
                # overlap (r14): the dim append reads dim_new's cache, the
                # tally reads the json_st checkpoint — independent jobs, so
                # the tally back-fills cores while the write commits
                with ThreadPoolExecutor(1) as _dim_pool:
                    _dim_wr = _dim_pool.submit(
                        lambda: dim_new.write.mode("append").parquet(self.dim_path)
                    )
                    tally = json_st.agg(
                        F.sum("records_inserted").alias("loaded"),
                        F.sum((F.col("status") == "quarantined").cast("int")).alias("q"),
                    ).first()
                    _dim_wr.result()
                dim_new.unpersist()
                dim_loaded += int(tally["loaded"] or 0)
                quarantined_files += int(tally["q"] or 0)
                if tally["q"]:
                    result.quarantined.write.mode("append").parquet(self.quarantine_path)
                    log.warning("quarantined %d metadata files (validation failed)", int(tally["q"]))
                log.info("metadata: %d files, %d dim rows loaded", len(jsons), int(tally["loaded"] or 0))
                result.release()
        except BaseException:
            _abort_csv_pool()
            raise
        # ---- reaction CSVs → fact_sim (EP2 + W2; + inline J1) ----
        if csvs:
            result = csv_result
            if _csv_warm is not None:
                try:
                    _csv_warm.result()  # surface any cleanse error here
                finally:
                    # shutdown even when the warm-up raised (r15, ADVICE)
                    _csv_pool.shutdown(wait=False)
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
            # overlap (r14): the fact append and the per-file status
            # checkpoint both read the (already-materialized) cleanse
            # cache and nothing else they share, so the status build
            # back-fills cores while the write commits. When no JSON
            # batch pre-warmed the cache, populate it first — two cold
            # concurrent consumers would otherwise both compute the
            # parse (CacheManager does not dedupe in-flight partition
            # computation across jobs).
            if _csv_warm is None:
                csv_result.clean.count()
            with ThreadPoolExecutor(1) as _fact_pool:
                _fact_wr = _fact_pool.submit(
                    lambda: fact_new.write.mode("append")
                    .partitionBy("day")
                    .parquet(self.fact_path)
                )
                csv_st = self._csv_status_frame(spark, csvs, result, fact_new, run_token)
                _fact_wr.result()

            tally = csv_st.agg(
                F.sum(F.when(F.col("status") == "success", F.col("n_ok")).otherwise(F.lit(0))).alias("ok"),
                F.sum((F.col("status") == "quarantined").cast("int")).alias("q"),
                F.sum("n_bad").alias("bad_rows"),
            ).first()
            fact_loaded += int(tally["ok"] or 0)
            quarantined_files += int(tally["q"] or 0)
            if tally["bad_rows"]:
                result.quarantined.write.mode("append").parquet(self.quarantine_path)
            if result.rejected_files:
                rej = local_frame(
                    spark,
                    [(None, why, rf.path, rf.day) for rf, why in result.rejected_files],
                    LAKE_QUARANTINE_SCHEMA,
                )
                rej.write.mode("append").parquet(self.quarantine_path)
            log.info(
                "ingested %d reaction files: %d rows loaded, %d files quarantined",
                len(csvs), fact_loaded, int(tally["q"] or 0),
            )
            if tally["q"]:
                log.warning("quarantined %d reaction files (see audit/quarantine tables)", int(tally["q"]))

        # ---- audit + manifest appends (DataFrame-native, W4/W5) ----
        # csv-first union order matches the pre-r8 audit row layout
        status_frames = [st for st in (csv_st, json_st) if st is not None]
        if status_frames:
            st_all = status_frames[0]
            for other in status_frames[1:]:
                st_all = st_all.unionByName(other, allowMissingColumns=True)
            _audit_events_frame(st_all, now_col).write.mode("append").parquet(self.audit_path)
            st_all.select(
                F.col("path").alias("source_file"),
                "day",
                "etl_type",
                "status",
                now_col.alias("ingested_at"),
            ).write.mode("append").parquet(self.manifest_path)

        if csv_result is not None:
            csv_result.release()
        log.info(
            "run_once done: %d fact rows, %d dim rows, %d files (%d quarantined)",
            fact_loaded, dim_loaded, len(csvs) + len(jsons), quarantined_files,
        )
        return RunResult(fact_loaded, dim_loaded, len(csvs) + len(jsons), quarantined_files)

    def _csv_status_frame(
        self,
        spark: SparkSession,
        csvs: list[RawFile],
        result,
        fact_new: DataFrame,
        run_token: str,
    ) -> DataFrame:
        """Per-file status frame for the reaction-CSV branch (rows =
        files), eagerly checkpointed. Factored out of run_once (r14) so
        it can build concurrently with the fact append — both consume
        the materialized cleanse cache and nothing else they share."""
        files_df = local_frame(spark, [(f.path, f.day) for f in csvs], "path string, day string")
        ok_counts = fact_new.groupBy("source_file").agg(F.count("*").alias("n_ok")).select(
            _strip_scheme_col(F.col("source_file")).alias("path"), "n_ok"
        )
        bad_counts = (
            result.quarantined.groupBy("source_file")
            .agg(F.count("*").alias("n_bad"))
            .select(_strip_scheme_col(F.col("source_file")).alias("path"), "n_bad")
        )
        rejected_df = local_frame(
            spark,
            [(rf.path, why) for rf, why in result.rejected_files],
            "path string, reject_reason string",
        )
        n_bad_expr = F.col("n_bad") > 0
        fully_bad = n_bad_expr & (F.col("n_ok") == 0)
        return (
            files_df.join(ok_counts, "path", "left")
            .join(bad_counts, "path", "left")
            .join(rejected_df, "path", "left")
            .withColumns(
                {"n_ok": F.coalesce("n_ok", F.lit(0)), "n_bad": F.coalesce("n_bad", F.lit(0))}
            )
            .withColumn(
                "status",
                F.when(F.col("reject_reason").isNotNull() | fully_bad, "quarantined").otherwise(
                    "success"
                ),
            )
            .withColumn(
                "error_message",
                F.when(F.col("reject_reason").isNotNull(), F.col("reject_reason"))
                .when(fully_bad, F.concat(F.col("n_bad").cast("string"), F.lit(" malformed rows")))
                .when(n_bad_expr, F.concat(F.col("n_bad").cast("string"), F.lit(" rows quarantined"))),
            )
            .withColumn("etl_id", _derived_etl_id(F.col("path"), run_token))
            .withColumn("simulation_id", _filename_key(F.col("path"), r"^reaction(.+)\.csv$"))
            .withColumn("etl_type", F.lit("reaction"))
            .withColumn("records_inserted", F.col("n_ok").cast("int"))
            # Eager lineage break (files-sized frame): the audit and
            # manifest writes must not re-evaluate this plan after
            # csv_result.release() drops the cleanse persists.
            # repartition (NOT coalesce — coalesce would drag the
            # whole upstream cleanse down to one task) keeps the
            # checkpointed frame at one partition per ~100k files so
            # the downstream jobs (audit, manifest, tally) don't
            # each schedule near-empty tasks.
            .repartition(max(1, len(csvs) // 100_000))
            .localCheckpoint(eager=True)
        )

    # -- enrichment (EP3) -------------------------------------------------

    def materialize_enrichment(self, spark: SparkSession) -> int:
        """J1 as one broadcast join, persisted.

        Rewrites ONLY day-partitions that still contain NULL
        simulation_num rows (atomic staged partition swap), and only
        when the dim fills at least one of them; enriched days, and
        days whose metadata has not arrived, are never touched.
        Returns rows newly enriched.
        With Delta this is `MERGE WHEN MATCHED UPDATE`; on plain
        parquet, partition-scoped rewrite is the idiomatic equivalent.
        """
        # finish/discard any staged rewrite a previous crash left behind
        # (one FS listing — metadata-cost only)
        recover_staged_commits(spark, self.fact_path)
        fact, dim = self.fact(spark), self.dim(spark)
        if fact is None or dim is None:
            return 0
        days = [
            r["day"]
            for r in fact.filter(F.col("simulation_num").isNull()).select("day").distinct().collect()
        ]
        if not days:
            return 0
        subset = fact.filter(F.col("day").isin(days)).withColumn(
            "__was_null", F.col("simulation_num").isNull()
        )
        # Break lineage before overwriting the path we just read
        # (Spark refuses a cycle otherwise). localCheckpoint holds the
        # enriched partitions on executors; with Delta this whole method
        # is a single MERGE and the checkpoint disappears.
        enriched = enrich_fact(subset, dim).localCheckpoint(eager=True)
        n_newly = enriched.filter(
            F.col("__was_null") & F.col("simulation_num").isNotNull()
        ).count()
        if n_newly == 0:
            # no dim row fills a gap: the swap would rewrite the same NULLs
            return 0
        # atomic staged swap (etl/commit.py): a crash mid-rewrite leaves
        # either the old partitions or the new ones, never a mix — the
        # recover call above completes an interrupted commit next run
        staged_overwrite_partitions(
            spark, self.fact_path, enriched.select(*LAKE_FACT_SCHEMA.names), "day"
        )
        return n_newly


def _strip_scheme_col(c: Column) -> Column:
    """input_file_name() returns file: URIs for local paths; the file
    listing produces plain paths. Normalize to plain for joining —
    executor-side, so path reconciliation never needs a driver dict."""
    return F.regexp_replace(c, r"^[a-zA-Z][a-zA-Z0-9+.\-]*:(//)?/*", "/")


def _filename_key(path_col: Column, pattern: str) -> Column:
    """Filename-derived simulation id (main.py:23,36 slicing, done as a
    regexp over the basename; empty/no match → NULL)."""
    name = F.element_at(F.split(path_col, "/"), -1)
    key = F.regexp_extract(name, pattern, 1)
    return F.when(key != "", key)


def _derived_etl_id(path_col: Column, run_token: str) -> Column:
    """Deterministic, UUID-shaped per-(run, file) id: md5 of the run
    token + path, formatted 8-4-4-4-12. Replaces the driver-side uuid4
    loop (X3): computed executor-side, identical for a file's
    running/terminal event pair, and stable under plan re-evaluation
    (a nondeterministic uuid() expression could disagree between the
    audit write and the manifest write of the same status frame)."""
    h = F.md5(F.concat_ws("|", F.lit(run_token), path_col))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def _audit_events_frame(st: DataFrame, now_col: Column) -> DataFrame:
    """W4/W5 running→terminal event pair per file, as a DataFrame
    transform of the per-file status frame (ETL_RUN_LOG_SCHEMA order)."""
    running = st.select(
        "etl_id",
        now_col.alias("event_time"),
        "simulation_id",
        "etl_type",
        F.lit(None).cast("int").alias("records_inserted"),
        F.lit(None).cast("int").alias("records_updated"),
        F.lit("running").alias("status"),
        F.lit(None).cast("string").alias("error_message"),
        F.col("path").alias("source_file"),
        "day",
    )
    terminal = st.select(
        "etl_id",
        now_col.alias("event_time"),
        "simulation_id",
        "etl_type",
        F.col("records_inserted").cast("int").alias("records_inserted"),
        F.lit(None).cast("int").alias("records_updated"),
        "status",
        "error_message",
        F.col("path").alias("source_file"),
        "day",
    )
    return running.unionByName(terminal)
