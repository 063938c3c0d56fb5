"""Cleanse stage (EP2): rename → validate → quarantine-split → conform.

The reference cleans one CSV at a time with pandas and raises on the
first bad file (/root/reference/file_manager.py:15-76). Here the same
semantics run as a handful of distributed scans:

- file-level validation: header groups missing required columns are
  quarantined whole (V1, file_manager.py:55-58) — without scanning data;
- row-level validation: malformed rows (bad numerics) surface via the
  PERMISSIVE reader's `_corrupt_record` and are split into a quarantine
  DataFrame instead of poisoning the load (the reference's COPY would
  abort the whole file, database_manager.py:96-103);
- conform: project to the target fact column set in fixed order, typed.

Metadata JSONs get the same treatment with the pydantic rules
(database_manager.py:13-22) as column expressions: required fields
non-null after cast → valid; else quarantined (the reference only
*warned* and then used the invalid object — a bug we don't keep,
database_manager.py:114-119).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from reactionetl_etl_spark.io.files import local_frame
from reactionetl_etl_spark.schemas import (
    CSV_COLUMN_MAP,
    LAKE_QUARANTINE_SCHEMA,
    REQUIRED_FACT_COLS,
)
from reactionetl_etl_spark.sources.raw import (
    RawFile,
    probe_csv_headers,
    read_csv_header_group,
    read_metadata_json,
    split_valid_header_groups,
)

# conformed fact columns in target order (create_tables.sql:2-14, minus
# generated row_id / enrichment simulation_num)
FACT_DATA_COLS = ["simulation_id", "ca", "cb", "cc", "cd", "temperature", "t_sensor", "rxn_time"]
LINEAGE_COLS = ["source_file", "day"]

METADATA_REQUIRED = ["simulation_id", "reaction_name", "date_run", "stop_reason"]
METADATA_DOUBLE_COLS = ["activation_energy", "ca0", "cb0", "t0", "stop_time_s"]


@dataclass
class CleanseResult:
    """Outcome of one cleanse pass.

    clean        — conformed rows ready to load
    quarantined  — rows that failed row-level validation (full original
                   payload as JSON string + reason), same lineage cols
    rejected_files — files refused at the file level (header missing
                   required columns), with reasons; never scanned
    cached       — persisted scans backing clean/quarantined; call
                   ``release()`` once all downstream actions have run
    """

    clean: DataFrame
    quarantined: DataFrame
    rejected_files: list[tuple[RawFile, str]] = field(default_factory=list)
    cached: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()


def cleanse_incoming_csvs(spark: SparkSession, files: list[RawFile]) -> CleanseResult:
    """Clean a batch of incoming simulation CSVs (EP2)."""
    valid, rejected = split_valid_header_groups(probe_csv_headers(files))

    rejected_files: list[tuple[RawFile, str]] = []
    for header, members in rejected.items():
        missing = sorted(REQUIRED_FACT_COLS - {CSV_COLUMN_MAP.get(h, h) for h in header})
        for m in members:
            rejected_files.append((m, f"missing required columns: {missing}"))

    clean_parts: list[DataFrame] = []
    quarantine_parts: list[DataFrame] = []
    cached: list[DataFrame] = []
    for header, members in valid.items():
        # Persist the parsed scan: Spark (correctly) refuses a plan that
        # prunes down to only `_corrupt_record` from a raw CSV source,
        # and the quarantine branch is exactly that. MEMORY_AND_DISK so
        # a 100 TB backlog spills instead of OOMing; released by the
        # caller via CleanseResult.release().
        df = read_csv_header_group(spark, header, members).persist()
        cached.append(df)
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        good = df.filter(F.col("_corrupt_record").isNull())
        clean_parts.append(good.select(*FACT_DATA_COLS, *LINEAGE_COLS))
        quarantine_parts.append(
            bad.select(
                F.col("_corrupt_record").alias("payload"),
                F.lit("malformed row (type mismatch)").alias("reason"),
                *LINEAGE_COLS,
            )
        )

    clean = _union_or_empty(spark, clean_parts, _CLEAN_FACT_DDL)
    quarantined = _union_or_empty(spark, quarantine_parts, LAKE_QUARANTINE_SCHEMA)
    return CleanseResult(
        clean=clean, quarantined=quarantined, rejected_files=rejected_files, cached=cached
    )


def cleanse_metadata_jsons(spark: SparkSession, files: list[RawFile]) -> CleanseResult:
    """Validate + conform metadata JSONs (V3 as column expressions)."""
    if not files:
        return CleanseResult(
            clean=local_frame(spark, [], _CLEAN_METADATA_DDL),
            quarantined=local_frame(spark, [], LAKE_QUARANTINE_SCHEMA),
        )

    raw = read_metadata_json(spark, files)
    # Cast into side columns (raw strings stay visible for the
    # coercion-failure checks and the quarantine payload).
    # try_cast, not cast: ANSI mode (Spark 4 default) makes a plain cast
    # THROW on 'not-a-float' — we want NULL so the row quarantines.
    # Persisted like the CSV path's parsed scan: the clean and
    # quarantine branches otherwise each re-run the whole read. Released
    # by the caller via CleanseResult.release().
    typed = raw.withColumns(
        {f"__t_{c}": F.col(c).try_cast("double") for c in METADATA_DOUBLE_COLS}
        | {"__t_date_run": F.col("date_run").try_cast("date")}
    ).persist()
    # quarantine when: corrupt document, required field null, a numeric
    # present but uncastable, or a date present but unparseable
    invalid_cond = (
        F.col("_corrupt_record").isNotNull()
        | F.greatest(*[F.col(c).isNull() for c in METADATA_REQUIRED])
        | F.greatest(
            *[F.col(f"__t_{c}").isNull() & F.col(c).isNotNull() for c in METADATA_DOUBLE_COLS]
        )
        | (F.col("__t_date_run").isNull() & F.col("date_run").isNotNull())
    )
    good = typed.filter(~invalid_cond).select(
        "simulation_id",
        "reaction_name",
        F.col("__t_activation_energy").alias("activation_energy"),
        F.col("__t_ca0").alias("ca0"),
        F.col("__t_cb0").alias("cb0"),
        F.col("__t_t0").alias("t0"),
        F.col("__t_date_run").alias("date_run"),
        "stop_reason",
        F.col("__t_stop_time_s").alias("stop_time_s"),
        *LINEAGE_COLS,
    )
    raw_payload_cols = [c for c in raw.columns if not c.startswith("_") and c not in LINEAGE_COLS]
    bad = typed.filter(invalid_cond).select(
        F.coalesce(
            F.col("_corrupt_record"),
            F.to_json(F.struct(*[F.col(c) for c in raw_payload_cols])),
        ).alias("payload"),
        F.lit("metadata validation failed").alias("reason"),
        *LINEAGE_COLS,
    )
    return CleanseResult(clean=good, quarantined=bad, cached=[typed])


# conformed rows before the pipeline adds row_id / simulation_num
_CLEAN_METADATA_DDL = (
    "simulation_id string, reaction_name string, activation_energy double,"
    " ca0 double, cb0 double, t0 double, date_run date, stop_reason string,"
    " stop_time_s double, source_file string, day string"
)
_CLEAN_FACT_DDL = (
    "simulation_id string, ca double, cb double, cc double, cd double,"
    " temperature double, t_sensor double, rxn_time double,"
    " source_file string, day string"
)


def _union_or_empty(
    spark: SparkSession, parts: list[DataFrame], schema: StructType | str
) -> DataFrame:
    if not parts:
        return local_frame(spark, [], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
