"""File-format readers/writers: the lake's import/export surface.

The reference's file sinks are CSVs written per day directory
(/root/reference/file_manager.py:63 `to_csv`); its sources are headered
CSVs and JSON metadata docs (§2.1 S1/S3). The lakehouse stores parquet
internally, but real pipelines exchange data with the outside world in
whatever format the neighbor speaks. This module is that boundary:
one writer/reader pair per format, consistent options, day-partition
layout preserved.

Format notes (scale posture):
  - parquet: columnar + predicate pushdown + partition pruning — the
    native store. Snappy by default.
  - orc:     columnar peer of parquet (built into Spark); included so
    ORC-native warehouses (Hive/Trino) can consume the lake directly.
  - csv:     row-oriented interchange; header on, explicit schema on
    read (never inferSchema at scale — it double-scans the data).
  - json:    line-delimited (Spark's default), schema explicit on read
    for the same reason.
  - xml:     Spark 4's NATIVE XML source (no external package) — the
    B2B/legacy-feed interchange format; `row_tag` names the repeating
    element. Explicit schema on read (inference double-scans, and XML
    inference additionally parses every attribute).

Writers coalesce nothing: output file count = partition count, which
the caller controls (`df.repartition(n)` upstream). A `single_file`
convenience exists for small exports only.
"""

from __future__ import annotations

from typing import Callable, Iterable, TypeVar

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_FORMATS = ("parquet", "orc", "csv", "json", "xml")

# AnalysisException conditions that mean "this table has not been
# created yet": the path is absent, or present but empty so no schema
# can be inferred.
_MISSING_TABLE_CONDITIONS = frozenset({"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"})

T = TypeVar("T")


def read_if_exists(read: Callable[[], T]) -> T | None:
    """Call ``read`` and return its result, or ``None`` when Spark
    reports that the table it reads has not been created yet. Every
    other error propagates: a corrupt file or schema drift must
    surface, not read as "missing".

    An exception probe, not ``os.path.exists``: tables can live on
    hdfs:// or s3a://, where a driver-local stat always says missing."""
    try:
        return read()
    except AnalysisException as e:
        if e.getCondition() in _MISSING_TABLE_CONDITIONS:
            return None
        raise


def local_frame(spark: SparkSession, rows: Iterable[tuple], schema: StructType | str) -> DataFrame:
    """Driver-held rows (tuples in ``schema`` order) as a DataFrame
    backed by a JVM ``LocalRelation``.

    ``spark.createDataFrame(<list>, ddl)`` builds a Python RDD, and its
    first read runs a Python-worker job: ~0.3 s for 0-4 rows on a
    4-core host. A ``pyarrow.Table`` is handed to the JVM as a
    LocalRelation whether or not
    ``spark.sql.execution.arrow.pyspark.enabled`` is set, so the frame
    costs ~20 ms to build and collecting it runs no job. For
    metadata-sized frames only (file lists, status and report rows):
    the rows travel through the driver.

    The frame carries ``schema`` itself, not the type Spark infers
    back from Arrow: inferred, a ``timestamp_ntz`` field would come
    back as a session-time-zone ``timestamp``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def _check_format(fmt: str) -> None:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")


def write_files(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "append",
    partition_by: list[str] | None = None,
    compression: str | None = None,
    single_file: bool = False,
) -> None:
    """Write ``df`` to ``path`` in ``fmt``.

    ``single_file=True`` coalesces to one output file — for small
    exports (reports, dim snapshots) only; it serializes the write.
    """
    _check_format(fmt)
    if single_file:
        df = df.coalesce(1)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if compression is not None:
        w = w.option("compression", compression)
    if fmt == "csv":
        w = w.option("header", True)
    if fmt == "xml":
        w = w.option("rowTag", "row")
    w.format(fmt).save(path)


def write_sharded(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    max_records_per_file: int = 100_000,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Export as size-bounded shards: no output file exceeds
    ``max_records_per_file`` rows (Spark's maxRecordsPerFile rolls
    files within each task). The training-data export shape — loaders
    want many same-sized shards, not one file per Spark partition of
    whatever size the shuffle left behind. Parallelism is untouched:
    every task writes its own rolling shard sequence."""
    _check_format(fmt)
    w = df.write.mode(mode).option("maxRecordsPerFile", int(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).save(path)


def read_files(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    glob: str | None = None,
) -> DataFrame:
    """Read ``path`` as ``fmt``. CSV/JSON require an explicit
    ``schema`` — inferSchema double-scans the data, which at 100 TB
    is a second full pass for nothing (the caller knows the schema).
    ``glob`` maps to pathGlobFilter (§2.1 S5 suffix filtering).
    """
    _check_format(fmt)
    if fmt in ("csv", "json", "xml") and schema is None:
        raise ValueError(f"{fmt} read requires an explicit schema at scale")
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if glob is not None:
        r = r.option("pathGlobFilter", glob)
    if fmt == "csv":
        r = r.option("header", True)
    if fmt == "xml":
        r = r.option("rowTag", "row")
    return r.format(fmt).load(path)
