"""Raw file sources: incoming simulation CSVs + metadata JSONs.

Replaces the reference's per-file pandas loop (EP2,
/root/reference/file_manager.py:15-76) with grouped, fully-distributed
Spark scans:

1. Discover `incoming/<day>/*.csv` / `*.json` (S4/S5,
   file_manager.py:26-27,45,120). Listing is metadata-scale work; the
   header probe that follows runs as a Spark job so a million-file
   backlog doesn't serialize on the driver.
2. Probe each CSV's header line (one tiny read per file) and group
   files by exact header tuple. Spark's CSV reader binds a single
   schema positionally per scan, so heterogeneous headers (the optional
   pandas `Unnamed: 0` artifact, reordered or missing columns) must be
   scanned per header-group — typically 1-2 groups per backlog, each a
   single vectorized multi-file scan.
3. Validate each group against the required conformed set
   (file_manager.py:55-58, database_manager.py:49-54): a group whose
   header lacks a required column is quarantined whole, never scanned.

File-lineage columns (`source_file`, `day`, filename-derived
`simulation_id_from_name`, main.py:23) come from `input_file_name()`.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reactionetl_etl_spark.io.files import local_frame
from reactionetl_etl_spark.schemas import (
    CSV_COLUMN_MAP,
    PANDAS_INDEX_ARTIFACT,
    RAW_METADATA_SCHEMA,
    REQUIRED_FACT_COLS,
    conformed_fact_types,
)


@dataclass(frozen=True)
class RawFile:
    path: str
    day: str  # name of the day directory the file sits in


def list_raw_files(root: str, suffix: str) -> list[RawFile]:
    """Enumerate `<root>/<day>/*<suffix>` (S4+S5). Non-matching files
    are ignored, mirroring file_manager.py:45.

    Paths are absolutized so they compare equal to the scheme-stripped
    `input_file_name()` values used for per-file audit counts — a
    relative ``root`` would otherwise audit every file as 0 rows.

    The listing and the header probe read the local filesystem: a
    ``file:`` root is taken as its plain path, and any other URI scheme
    (``hdfs://``, ``s3a://``...) raises instead of listing nothing.
    """
    scheme = re.match(URI_SCHEME_RE, root)
    if scheme:
        if not scheme.group(0).lower().startswith("file:"):
            raise ValueError(
                f"incoming root {root!r}: only local-filesystem roots (a plain "
                "path or file:) can be listed"
            )
        root = strip_uri_scheme(root)
    out: list[RawFile] = []
    root = os.path.abspath(root)
    if not os.path.isdir(root):
        return out
    for day in sorted(os.listdir(root)):
        day_dir = os.path.join(root, day)
        if not os.path.isdir(day_dir):
            continue
        for name in sorted(os.listdir(day_dir)):
            if name.endswith(suffix):
                out.append(RawFile(os.path.join(day_dir, name), day))
    return out


# The URI scheme prefix `input_file_name()` puts on a path (file:,
# hdfs://, s3a://...); the listing's plain paths carry none. Replacing
# it with "/" turns a lineage path back into its listing path.
URI_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*:(//)?/*"


def strip_uri_scheme(path: str) -> str:
    """A `source_file` lineage value as the listing path it came from."""
    return re.sub(URI_SCHEME_RE, "/", path, count=1)


# backlogs at or below this size keep the explicit per-path reader call
# (construction-time path resolution is cheap); above it, when the
# caller knows the file set covers its directories, reads switch to
# directory + pathGlobFilter scans — the driver resolves N paths in
# O(dirs) instead of O(files) (~3 ms/path: 512 paths cost ~1.6 s of
# plan construction + the same again at execution, measured r9)
DIR_READ_MIN_FILES = 64


def _exact_file_filter(df: DataFrame, spark: SparkSession, files: list[RawFile]) -> DataFrame:
    """Restrict a directory-scan DataFrame to EXACTLY the listed files.

    A dir+glob read may see already-processed neighbours or files that
    appeared between listing and read; the broadcast semi-join on the
    (scheme-stripped) lineage path guarantees the dir-read plan stays
    row-identical to the per-path plan. The file frame is
    listing-sized — the same metadata the driver already holds."""
    wanted = local_frame(spark, [(f.path,) for f in files], "__wanted_path string")
    return (
        df.withColumn("__src_plain", F.regexp_replace("source_file", URI_SCHEME_RE, "/"))
        .join(
            F.broadcast(wanted),
            F.col("__src_plain") == F.col("__wanted_path"),
            "left_semi",
        )
        .drop("__src_plain")
    )


# backlogs at or below this size probe headers on the driver (one
# first-line read per file is microseconds); larger backlogs fan the
# probe out as a Spark job so a million-file queue never serializes
DRIVER_PROBE_MAX_FILES = 4096


def _read_header(path: str) -> tuple[str, ...]:
    import csv as _csv

    with open(path, newline="") as fh:
        return tuple(next(_csv.reader(fh), []))


def probe_csv_headers(spark: SparkSession, files: list[RawFile]) -> dict[tuple[str, ...], list[RawFile]]:
    """Group CSV files by exact header tuple.

    Small backlogs read headers on the driver (this is metadata work —
    spinning up the executor Python-worker pool costs more than the
    reads). Large backlogs run the probe as a Spark job: per-partition
    imperative I/O is justified because it is discovery, not data.
    """
    if not files:
        return {}
    paths = [f.path for f in files]
    by_path = {f.path: f for f in files}

    if len(paths) <= DRIVER_PROBE_MAX_FILES:
        probed = [(p, _read_header(p)) for p in paths]
    else:
        def _first_lines(path_iter):
            for p in path_iter:
                yield p, _read_header(p)

        n_slices = max(1, min(len(paths) // 64, spark.sparkContext.defaultParallelism))
        probed = spark.sparkContext.parallelize(paths, n_slices).mapPartitions(
            _first_lines
        ).collect()

    groups: dict[tuple[str, ...], list[RawFile]] = {}
    for path, header in probed:
        groups.setdefault(header, []).append(by_path[path])
    return groups


def split_valid_header_groups(
    groups: dict[tuple[str, ...], list[RawFile]],
) -> tuple[dict[tuple[str, ...], list[RawFile]], dict[tuple[str, ...], list[RawFile]]]:
    """Partition header groups into (loadable, rejected).

    A group is loadable iff renaming its header through CSV_COLUMN_MAP
    yields every required conformed column (V1 semantics,
    file_manager.py:55-58). Extra unknown columns are tolerated at this
    stage (the reference checks only the required subset,
    database_manager.py:53-54) and dropped during conform.
    """
    valid: dict[tuple[str, ...], list[RawFile]] = {}
    rejected: dict[tuple[str, ...], list[RawFile]] = {}
    for header, members in groups.items():
        conformed = {CSV_COLUMN_MAP.get(h, h) for h in header}
        if REQUIRED_FACT_COLS - conformed:
            rejected[header] = members
        else:
            valid[header] = members
    return valid, rejected


def _group_schema(header: tuple[str, ...]) -> T.StructType:
    """Typed read schema for one header group, in the file's own column
    order: measures as double, everything else string, plus a
    _corrupt_record column for row-level quarantine (PERMISSIVE mode)."""
    measure_types = conformed_fact_types()
    fields = []
    for raw in header:
        conformed = CSV_COLUMN_MAP.get(raw, raw)
        dtype = measure_types.get(conformed, T.StringType())
        fields.append(T.StructField(raw, dtype))
    fields.append(T.StructField("_corrupt_record", T.StringType()))
    return T.StructType(fields)


def read_csv_header_group(
    spark: SparkSession,
    header: tuple[str, ...],
    members: list[RawFile],
    dir_read: bool = False,
) -> DataFrame:
    """One vectorized scan over all files sharing a header.

    PERMISSIVE mode with an explicit typed schema: well-typed rows come
    out conformed; rows with malformed values surface in
    `_corrupt_record` and are split off by the cleanse step — the
    engine's replacement for the reference's crash-on-bad-row COPY.

    ``dir_read`` (caller asserts this group covers its day dirs): scan
    the parent directories with a glob — O(dirs) driver path resolution
    instead of O(files) — pinned back to the exact member set by
    `_exact_file_filter` after the lineage column lands. Rows from a
    stray neighbour file (another header group, a file that appeared
    after listing) are dropped by that filter, so the plan stays
    row-identical to the per-path read."""
    reader = (
        spark.read.schema(_group_schema(header))
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if dir_read and len(members) >= DIR_READ_MIN_FILES:
        dirs = sorted({os.path.dirname(m.path) for m in members})
        # Glob must be at least as wide as list_raw_files' suffix
        # filter: a narrower pattern (e.g. "reaction*.csv") would
        # silently exclude a listed file from the scan, audit it as
        # success/0 rows and manifest it — unrecoverable skip. The
        # suffix glob keeps listing and scan in exact agreement;
        # _exact_file_filter still pins the member set.
        df = reader.option("pathGlobFilter", "*.csv").csv(dirs)
    else:
        dir_read = False
        df = reader.csv([m.path for m in members])
    rename = {raw: conf for raw, conf in CSV_COLUMN_MAP.items() if raw in header}
    df = df.withColumnsRenamed(rename)
    if PANDAS_INDEX_ARTIFACT in df.columns:  # P2, file_manager.py:61-62
        df = df.drop(PANDAS_INDEX_ARTIFACT)
    df = df.withColumns(
        {
            "source_file": F.input_file_name(),
            # day = parent directory name of the file
            "day": F.element_at(F.split(F.input_file_name(), "/"), -2),
            # P5/X5: filename-derived key, regexp instead of slicing [8:-4]
            "simulation_id_from_name": F.regexp_extract(
                F.input_file_name(), r"reaction([0-9a-fA-F-]{36})\.csv$", 1
            ),
        }
    )
    return _exact_file_filter(df, spark, members) if dir_read else df


def read_metadata_json(
    spark: SparkSession, files: list[RawFile], dir_read: bool = False
) -> DataFrame:
    """Scan metadata JSONs (S3, database_manager.py:111-112) in one
    multiLine read; aliased raw fields renamed to conformed names
    (the pydantic alias map, database_manager.py:13-22). Typing and
    row-level validation happen in the cleanse step.

    ``dir_read`` (caller asserts the files cover their day dirs, e.g. a
    fresh daily drop): read the PARENT DIRECTORIES with a glob filter
    instead of an explicit path list — O(dirs) driver path resolution
    instead of O(files) — then pin the exact file set back with
    `_exact_file_filter`, so the plan stays row-identical."""
    from reactionetl_etl_spark.schemas import JSON_FIELD_MAP

    reader = (
        spark.read.schema(RAW_METADATA_SCHEMA)
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if dir_read and len(files) >= DIR_READ_MIN_FILES:
        dirs = sorted({os.path.dirname(f.path) for f in files})
        # Suffix-wide glob so listing (list_raw_files ".json") and scan
        # agree — see read_csv_header_group; exactness comes from
        # _exact_file_filter, not the glob.
        df = reader.option("pathGlobFilter", "*.json").json(dirs)
    else:
        dir_read = False
        df = reader.json([f.path for f in files])
    df = df.withColumnsRenamed(dict(JSON_FIELD_MAP))
    df = df.withColumns(
        {
            "source_file": F.input_file_name(),
            "day": F.element_at(F.split(F.input_file_name(), "/"), -2),
            "simulation_id_from_name": F.regexp_extract(
                F.input_file_name(), r"metadata_([0-9a-fA-F-]{36})\.json$", 1
            ),
        }
    )
    return _exact_file_filter(df, spark, files) if dir_read else df
