"""Custom Python Data Source (Spark 4 `pyspark.sql.datasource` API).

The engine's sources are mostly built-in readers (CSV/JSON/parquet/
binaryFile). Spark 4 added a PYTHON data source API — schema,
partition planning, and per-partition reading defined in Python,
consumed as `spark.read.format(...)` like any native source. This
module registers `incoming_reactions`: the reference's
`incoming/<day>/reaction*.csv` backlog exposed as one coherent typed
relation with per-DAY input partitions, so Spark schedules one task
per day directory and the day/lineage columns come from the planner,
not from post-hoc path parsing.

When to use which: the production ingest path stays on the native CSV
reader (`sources/raw.py` — JVM-vectorized parsing, PERMISSIVE
quarantine). A Python data source pays Arrow serialization per row
batch and Python parsing per line; its niche is sources Spark has no
reader for at all (internal APIs, bespoke binary logs, paginated
services) — this implementation is the registered, tested TEMPLATE
for those, exercised against the same fixtures as the native path.

Usage:
    spark.dataSource.register(IncomingReactionsDataSource)
    df = (spark.read.format("incoming_reactions")
                .option("path", "/data/incoming").load())
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_SCHEMA_DDL = (
    "simulation_id string, ca double, cb double, cc double, cd double,"
    " temperature double, t_sensor double, rxn_time double,"
    " day string, source_file string"
)

# raw header → conformed name (schemas.CSV_COLUMN_MAP subset; kept
# literal here so the executor-side reader needs no engine imports)
_COLMAP = {
    "SimulationID": "simulation_id",
    "CA (mol/m^3)": "ca",
    "CB (mol/m^3)": "cb",
    "CC (mol/m^3)": "cc",
    "CD (mol/m^3)": "cd",
    "T (K)": "temperature",
    "Tsensor (K)": "t_sensor",
    "t (sec)": "rxn_time",
}
_NUMERIC = ("ca", "cb", "cc", "cd", "temperature", "t_sensor", "rxn_time")


class DayPartition(InputPartition):
    def __init__(self, day: str, files: list[str]):
        self.day = day
        self.files = files


class IncomingReactionsReader(DataSourceReader):
    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("incoming_reactions requires .option('path', ...)")

    def partitions(self):
        import os

        parts = []
        if os.path.isdir(self.root):
            for day in sorted(os.listdir(self.root)):
                day_dir = os.path.join(self.root, day)
                if not os.path.isdir(day_dir):
                    continue
                files = sorted(
                    os.path.join(day_dir, f)
                    for f in os.listdir(day_dir)
                    if f.startswith("reaction") and f.endswith(".csv")
                )
                if files:
                    parts.append(DayPartition(day, files))
        # zero-partition sources confuse planning; emit one empty day
        return parts or [DayPartition("", [])]

    def read(self, partition: DayPartition):
        import csv as _csv

        for path in partition.files:
            with open(path, newline="") as fh:
                reader = _csv.DictReader(fh)
                for raw in reader:
                    row = {conf: raw.get(src) for src, conf in _COLMAP.items()}
                    try:
                        vals = [row["simulation_id"]] + [
                            float(row[c]) if row[c] not in (None, "") else None
                            for c in _NUMERIC
                        ]
                    except (TypeError, ValueError):
                        continue  # malformed row — native path quarantines these
                    yield tuple(vals) + (partition.day, path)


class IncomingReactionsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "incoming_reactions"

    def schema(self) -> str:
        return _SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return IncomingReactionsReader(self.options)


# ---------------------------------------------------------------------------
# Streaming twin: the same relation as an incremental micro-batch
# source (SimpleDataSourceStreamReader — driver-side reads, the simple
# variant of the streaming API; right for low-volume control-plane
# feeds, while high-volume streams use the partitioned DataSourceStreamReader;
# batch ingest of the same files is `etl.pipeline.ReactionLake.run_once`).
# ---------------------------------------------------------------------------


class IncomingReactionsStreamReader(SimpleDataSourceStreamReader):
    """Offset = {"seen": <sorted file list>}: each micro-batch reads
    exactly the files that appeared since the last offset (new files
    in EXISTING days included — arrival order need not be
    lexicographic). File lists are metadata; a million-file history
    would move the offset to per-day high-water marks, at the price of
    requiring within-day append-only naming."""

    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("incoming_reactions requires .option('path', ...)")

    def initialOffset(self) -> dict:
        return {"seen": []}

    def _list(self) -> list[str]:
        import os

        out = []
        if os.path.isdir(self.root):
            for day in sorted(os.listdir(self.root)):
                day_dir = os.path.join(self.root, day)
                if os.path.isdir(day_dir):
                    out.extend(
                        os.path.join(day_dir, f)
                        for f in os.listdir(day_dir)
                        if f.startswith("reaction") and f.endswith(".csv")
                    )
        return sorted(out)

    def read(self, start: dict):
        import os

        import csv as _csv

        seen = set(start.get("seen", []))
        now = self._list()
        fresh = [f for f in now if f not in seen]

        # a LIST, not a generator: the simple-stream API pickles the
        # batch's rows between planning and execution
        rows: list[tuple] = []
        for path in fresh:
            day = os.path.basename(os.path.dirname(path))
            with open(path, newline="") as fh:
                for raw in _csv.DictReader(fh):
                    row = {conf: raw.get(src) for src, conf in _COLMAP.items()}
                    try:
                        vals = [row["simulation_id"]] + [
                            float(row[c]) if row[c] not in (None, "") else None
                            for c in _NUMERIC
                        ]
                    except (TypeError, ValueError):
                        continue
                    rows.append(tuple(vals) + (day, path))
        return iter(rows), {"seen": now}

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint; nothing external


class IncomingReactionsStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "incoming_reactions_stream"

    def schema(self) -> str:
        return _SCHEMA_DDL

    def simpleStreamReader(self, schema: StructType):
        return IncomingReactionsStreamReader(self.options)


# ---------------------------------------------------------------------------
# Python Data Source WRITE path: two-phase-commit JSONL shard writer
# ---------------------------------------------------------------------------

class _ShardCommit(WriterCommitMessage):
    def __init__(self, staged: str, rows: int):
        self.staged = staged
        self.rows = rows


class JsonlShardWriter(DataSourceWriter):
    """Executor side of the two-phase protocol: each task streams its
    partition to a STAGED file (invisible name), returns the filename
    as its commit message. Nothing becomes readable unless the DRIVER
    commit renames it — the same write-then-swap discipline as
    `etl/commit.py`, expressed through Spark's native
    write/commit/abort writer contract (a failed/speculated task's
    staged file is simply never committed)."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_shards requires .option('path', ...)")
        self.overwrite = overwrite

    def write(self, iterator):
        import json as _json
        import os
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        os.makedirs(self.path, exist_ok=True)
        staged = os.path.join(self.path, f"_staged-{pid:05d}-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(staged, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(_json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _ShardCommit(staged, n)

    def commit(self, messages):
        import json as _json
        import os

        if self.overwrite:  # clear prior committed shards, atomically-ish last
            for name in os.listdir(self.path):
                if name.startswith("part-") and name.endswith(".jsonl"):
                    os.remove(os.path.join(self.path, name))
        manifest = []
        for i, m in enumerate(msg for msg in messages if msg is not None):
            final = os.path.join(self.path, f"part-{i:05d}.jsonl")
            os.replace(m.staged, final)
            manifest.append({"file": os.path.basename(final), "rows": m.rows})
        with open(os.path.join(self.path, "_SUCCESS"), "w", encoding="utf-8") as fh:
            _json.dump({"shards": manifest, "total_rows": sum(s["rows"] for s in manifest)}, fh)

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)


class JsonlShardsDataSource(DataSource):
    """`df.write.format("jsonl_shards").option("path", ...).save()` —
    the training-export shape (one JSONL shard per task, `_SUCCESS`
    manifest with per-shard row counts) as a registered Spark 4 Python
    data source writer. Local-filesystem template, like the reader
    above: the point is the write/commit/abort protocol; object-store
    targets swap the os.rename for their committer."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_shards"

    def schema(self) -> str:
        # writers receive the dataframe's schema via writer(); reads of
        # the output go through spark.read.json. A static schema is
        # still required by the DataSource contract for the format.
        return "placeholder string"

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return JsonlShardWriter(self.options, overwrite)


# ---------------------------------------------------------------------------
# Streaming CDC source over the snapshot table format: version numbers
# ARE the offsets, so Structured Streaming's checkpoint/replay machinery
# gets exactly-once change delivery for free.
# ---------------------------------------------------------------------------


class SnapshotChangesStreamReader(SimpleDataSourceStreamReader):
    """Streams `etl/snapshots.py` change feeds: offset = committed
    version number; each micro-batch emits the file-diff-derived
    changes (insert / delete / update_pre/postimage — the
    `snapshot_changes` semantics, including compaction netting to
    zero) between the checkpointed version and the current head. A
    batch spanning several commits collapses them into the NET change,
    exactly like `snapshot_changes(v0, head)`.

    Scope (mirrors this module's template note): the simple stream
    API reads driver-side and pickles rows — right for dimension /
    control-plane tables; a fact-scale feed belongs on the partitioned
    reader or batch `snapshot_changes` in foreachBatch. Manifest and
    data access use local-fs paths + pyarrow; an object-store table
    swaps these for fsspec. Requires key-unique tables (what
    snapshot_upsert maintains): pass .option("keys", "k1,k2")."""

    def __init__(self, options):
        self.path = options.get("path")
        keys = options.get("keys")
        if not self.path or not keys:
            raise ValueError(
                "snapshot_changes_stream requires .option('path', …) and "
                ".option('keys', 'k1,k2')"
            )
        self.key_cols = [k.strip() for k in keys.split(",")]

    def initialOffset(self) -> dict:
        return {"v": 0}  # before the first commit → batch 1 = full image

    def _head(self) -> int:
        import os
        import re

        d = os.path.join(self.path, "_snapshots")
        if not os.path.isdir(d):
            return 0
        vs = []
        for f in os.listdir(d):
            m = re.match(r"v(\d+)\.committed$", f)
            if m:
                vs.append(int(m.group(1)))
        return max(vs, default=0)

    def _manifest(self, v: int) -> dict:
        import json
        import os

        with open(os.path.join(self.path, "_snapshots", f"v{v}.json")) as fh:
            return json.load(fh)

    def _keyed_rows(self, files: list[str], field_names: list[str]) -> dict:
        import os

        import pyarrow.parquet as pq

        out: dict = {}
        for f in files:
            t = pq.read_table(os.path.join(self.path, f))
            cols = {
                c: (
                    t.column(c).to_pylist()
                    if c in t.column_names
                    else [None] * t.num_rows  # add-only schema evolution
                )
                for c in field_names
            }
            for i in range(t.num_rows):
                key = tuple(cols[k][i] for k in self.key_cols)
                out[key] = tuple(cols[c][i] for c in field_names)
        return out

    def read(self, start: dict):
        v0 = int(start.get("v", 0))
        v1 = self._head()
        if v1 <= v0:
            return iter([]), {"v": v0}
        man1 = self._manifest(v1)
        files1 = man1["files"]
        files0 = self._manifest(v0)["files"] if v0 > 0 else []
        s0, s1 = set(files0), set(files1)
        removed = [f for f in files0 if f not in s1]
        added = [f for f in files1 if f not in s0]
        names = [f["name"] for f in man1["schema"]["fields"]]
        old = self._keyed_rows(removed, names)
        new = self._keyed_rows(added, names)
        rows: list[tuple] = []
        for k, r in new.items():
            if k not in old:
                rows.append(r + ("insert",))
            elif old[k] != r:
                rows.append(old[k] + ("update_preimage",))
                rows.append(r + ("update_postimage",))
            # equal rows = compaction carries → no change emitted
        for k, r in old.items():
            if k not in new:
                rows.append(r + ("delete",))
        return iter(rows), {"v": v1}

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint


class SnapshotChangesStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "snapshot_changes_stream"

    def schema(self) -> str:
        reader = SnapshotChangesStreamReader(self.options)
        head = reader._head()
        if head == 0:
            raise ValueError(f"no committed snapshot at {self.options.get('path')}")
        st = StructType.fromJson(reader._manifest(head)["schema"])
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in st.fields)
        return ddl + ", _change_type string"

    def simpleStreamReader(self, schema: StructType):
        return SnapshotChangesStreamReader(self.options)
