"""Schema registry: every table/file schema the engine touches.

Port of the reference's config-driven schema system (SURVEY.md §1.2-1.3):
- raw CSV header map        ← /root/reference/column_map.json:1-10
- required conformed set    ← /root/reference/required_cols.json:1-10
  (read as the *values* of the map, database_manager.py:49-51)
- metadata JSON aliases     ← pydantic model, database_manager.py:13-22
- target DDL                ← create_tables.sql:1-51

The reference validates schemas (missing required column = hard error,
file_manager.py:55-58); it never infers. We keep that contract: explicit
StructTypes everywhere, validation at the read boundary, quarantine for
violations.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Raw incoming simulation CSV (FIXTURES.md §A1)
# --------------------------------------------------------------------------

# raw header -> conformed column (column_map.json:1-10)
CSV_COLUMN_MAP: dict[str, str] = {
    "SimulationID": "simulation_id",
    "CA (mol/m^3)": "ca",
    "CB (mol/m^3)": "cb",
    "CC (mol/m^3)": "cc",
    "CD (mol/m^3)": "cd",
    "T (K)": "temperature",
    "Tsensor (K)": "t_sensor",
    "t (sec)": "rxn_time",
}

# required_cols.json is read as the set of conformed names
# (database_manager.py:49-51)
REQUIRED_FACT_COLS: frozenset[str] = frozenset(CSV_COLUMN_MAP.values())

# pandas index artifact dropped when present (file_manager.py:61-62)
PANDAS_INDEX_ARTIFACT = "Unnamed: 0"

# Conformed types for the measure columns; simulation_id stays string.
_FACT_MEASURE_TYPES: dict[str, T.DataType] = {
    "ca": T.DoubleType(),
    "cb": T.DoubleType(),
    "cc": T.DoubleType(),
    "cd": T.DoubleType(),
    "temperature": T.DoubleType(),
    "t_sensor": T.DoubleType(),
    "rxn_time": T.DoubleType(),
}

# --------------------------------------------------------------------------
# Raw metadata JSON (FIXTURES.md §A2; database_manager.py:13-22 aliases)
# --------------------------------------------------------------------------

JSON_FIELD_MAP: dict[str, str] = {
    "simulation_id": "simulation_id",
    "reaction_name": "reaction_name",
    "activation_energy (J/mol)": "activation_energy",
    "CA0_(mol/m^3)": "ca0",
    "CB0_(mol/m^3)": "cb0",
    "T0_(K)": "t0",
    "date_run": "date_run",
    "stop_reason": "stop_reason",
    "stop_time_(s)": "stop_time_s",
}

# Raw JSON read schema: strings for everything (pydantic coerces str/float,
# database_manager.py:13-22 — we read permissively then cast+validate).
RAW_METADATA_SCHEMA = T.StructType(
    [T.StructField(raw, T.StringType()) for raw in JSON_FIELD_MAP]
    + [T.StructField("_corrupt_record", T.StringType())]
)

# --------------------------------------------------------------------------
# Target tables (create_tables.sql; FIXTURES.md §A3)
# --------------------------------------------------------------------------

# fact_sim (create_tables.sql:2-14). row_id is engine-generated
# (monotonically_increasing_id: unique, NOT dense — SURVEY.md §1.2);
# simulation_num is NULL until enrichment (database_manager.py:200-240).
FACT_SIM_SCHEMA = T.StructType(
    [
        T.StructField("row_id", T.LongType(), nullable=False),
        T.StructField("simulation_id", T.StringType(), nullable=False),
        T.StructField("simulation_num", T.IntegerType(), nullable=True),
        T.StructField("ca", T.DoubleType()),
        T.StructField("cb", T.DoubleType()),
        T.StructField("cc", T.DoubleType()),
        T.StructField("cd", T.DoubleType()),
        T.StructField("temperature", T.DoubleType()),
        T.StructField("t_sensor", T.DoubleType()),
        T.StructField("rxn_time", T.DoubleType()),
    ]
)

# dim_rxn (create_tables.sql:18-30); simulation_num is the dense sequence
# (create_tables.sql:32-35) assigned at load.
DIM_RXN_SCHEMA = T.StructType(
    [
        T.StructField("simulation_id", T.StringType(), nullable=False),
        T.StructField("simulation_num", T.IntegerType(), nullable=False),
        T.StructField("reaction_name", T.StringType()),
        T.StructField("activation_energy", T.DoubleType()),
        T.StructField("ca0", T.DoubleType()),
        T.StructField("cb0", T.DoubleType()),
        T.StructField("t0", T.DoubleType()),
        T.StructField("date_run", T.DateType()),
        T.StructField("stop_reason", T.StringType()),
        T.StructField("stop_time_s", T.DoubleType()),
    ]
)

# etl_run_log (create_tables.sql:39-51) — modelled as append-only events
# (status transitions are new rows, not UPDATEs; SURVEY.md §2.8 W5).
ETL_RUN_LOG_SCHEMA = T.StructType(
    [
        T.StructField("etl_id", T.StringType(), nullable=False),
        T.StructField("event_time", T.TimestampNTZType(), nullable=False),
        T.StructField("simulation_id", T.StringType()),
        T.StructField("etl_type", T.StringType()),  # 'reaction' | 'metadata'
        T.StructField("records_inserted", T.IntegerType()),
        T.StructField("records_updated", T.IntegerType()),
        T.StructField("status", T.StringType()),  # 'running'|'success'|'failed'|'quarantined'
        T.StructField("error_message", T.StringType()),
        T.StructField("source_file", T.StringType()),
        T.StructField("day", T.StringType()),
    ]
)


# --------------------------------------------------------------------------
# Lake tables (etl/pipeline.py::ReactionLake): the declared schemas its
# readers pass to spark.read.schema(...) and its fact/dim writers select
# in order. `day` stays a string — the session disables partition-type
# inference.
# --------------------------------------------------------------------------

_LINEAGE_FIELDS = [
    T.StructField("source_file", T.StringType()),
    T.StructField("day", T.StringType()),
]

# <lake>/fact_sim, partitioned by day
LAKE_FACT_SCHEMA = T.StructType(FACT_SIM_SCHEMA.fields + _LINEAGE_FIELDS)

# <lake>/dim_rxn
LAKE_DIM_SCHEMA = T.StructType(DIM_RXN_SCHEMA.fields + _LINEAGE_FIELDS)

# <lake>/audit: the append-only run events
LAKE_AUDIT_SCHEMA = ETL_RUN_LOG_SCHEMA

# <lake>/quarantine: rejected rows (payload = the raw record) and
# rejected files (payload NULL), each with its reason
LAKE_QUARANTINE_SCHEMA = T.StructType(
    [
        T.StructField("payload", T.StringType()),
        T.StructField("reason", T.StringType()),
        *_LINEAGE_FIELDS,
    ]
)


def conformed_fact_types() -> dict[str, T.DataType]:
    """Conformed measure column → type, for the cleanse cast step."""
    return dict(_FACT_MEASURE_TYPES)
