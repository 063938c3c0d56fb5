"""Raw file sources: incoming simulation CSVs + metadata JSONs.

Replaces the reference's per-file pandas loop (EP2,
/root/reference/file_manager.py:15-76) with grouped, fully-distributed
Spark scans:

1. Discover `incoming/<day>/*.csv` / `*.json` (S4/S5,
   file_manager.py:26-27,45,120). Listing is metadata-scale work,
   done on the driver.
2. Probe each CSV's header line (one tiny driver-side read per file)
   and group files by exact header tuple. Spark's CSV reader binds a single
   schema positionally per scan, so heterogeneous headers (the optional
   pandas `Unnamed: 0` artifact, reordered or missing columns) must be
   scanned per header-group — typically 1-2 groups per backlog, each a
   single vectorized multi-file scan.
3. Validate each group against the required conformed set
   (file_manager.py:55-58, database_manager.py:49-54): a group whose
   header lacks a required column is quarantined whole, never scanned.

Every scan reads its explicit path list, so a batch is exactly its
listed files whatever else sits in their day directories. A list over
Spark's 32-path listing threshold is resolved by a listing job of at
most `spark.sql.sources.parallelPartitionDiscovery.parallelism` tasks
(`session._DEFAULTS`).

File-lineage columns (`source_file`, `day`, filename-derived
`simulation_id_from_name`, main.py:23) come from `input_file_name()`.
"""

from __future__ import annotations

import csv
import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def probe_csv_headers(files: list[RawFile]) -> dict[tuple[str, ...], list[RawFile]]:
    """Group CSV files by exact header tuple.

    Headers are read on the driver, one first-line read per file: this
    is metadata work, and the listing that precedes it is driver-local
    too."""
    groups: dict[tuple[str, ...], list[RawFile]] = {}
    for f in files:
        with open(f.path, newline="") as fh:
            header = tuple(next(csv.reader(fh), []))
        groups.setdefault(header, []).append(f)
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
) -> DataFrame:
    """One vectorized scan over all files sharing a header.

    PERMISSIVE mode with an explicit typed schema: well-typed rows come
    out conformed; rows with malformed values surface in
    `_corrupt_record` and are split off by the cleanse step — the
    engine's replacement for the reference's crash-on-bad-row COPY."""
    df = (
        spark.read.schema(_group_schema(header))
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv([m.path for m in members])
    )
    rename = {raw: conf for raw, conf in CSV_COLUMN_MAP.items() if raw in header}
    df = df.withColumnsRenamed(rename)
    if PANDAS_INDEX_ARTIFACT in df.columns:  # P2, file_manager.py:61-62
        df = df.drop(PANDAS_INDEX_ARTIFACT)
    return df.withColumns(
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


def read_metadata_json(spark: SparkSession, files: list[RawFile]) -> DataFrame:
    """Scan metadata JSONs (S3, database_manager.py:111-112) in one
    multiLine read; aliased raw fields renamed to conformed names
    (the pydantic alias map, database_manager.py:13-22). Typing and
    row-level validation happen in the cleanse step."""
    from reactionetl_etl_spark.schemas import JSON_FIELD_MAP

    df = (
        spark.read.schema(RAW_METADATA_SCHEMA)
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json([f.path for f in files])
        .withColumnsRenamed(dict(JSON_FIELD_MAP))
    )
    return df.withColumns(
        {
            "source_file": F.input_file_name(),
            "day": F.element_at(F.split(F.input_file_name(), "/"), -2),
            "simulation_id_from_name": F.regexp_extract(
                F.input_file_name(), r"metadata_([0-9a-fA-F-]{36})\.json$", 1
            ),
        }
    )
