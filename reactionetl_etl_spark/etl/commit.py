"""Staged all-or-nothing partition replacement for plain parquet.

Spark's ``partitionOverwriteMode=dynamic`` rewrites touched partitions
one rename at a time during job commit; a crash mid-commit leaves the
table with SOME partitions new and SOME old, and nothing on disk says
which. On Delta/Iceberg the transaction log closes that window; on
plain parquet this module emulates the same guarantee with a staged
write plus a persisted commit intent (a classic write-ahead intent
log):

1. write the replacement data to ``<table>/_staging_<token>/`` — a
   hidden directory (leading ``_``: invisible to Spark/Hadoop readers
   and to partition discovery), so in-flight data is never observable;
2. once the staging write has fully succeeded, persist
   ``_COMMIT_INTENT.json`` inside it naming every partition directory
   to swap in (and any to delete). Writing this marker is the commit
   point;
3. roll forward: per partition, delete the old directory and rename
   the staged one into place (each rename atomic on HDFS/local;
   object stores without atomic rename should use their own committer
   — documented boundary, same as for any rename-based layout);
4. delete the staging directory — which removes the marker and marks
   the commit complete.

Crash anywhere before step 2 → ``recover_staged_commits`` finds a
staging dir with NO intent marker and deletes it: clean rollback, the
table was never touched. Crash during/after step 2 → the marker names
exactly what remains to do and roll-forward is idempotent (a partition
whose staged dir is already gone was already swapped), so recovery
completes the commit. Readers racing a swap can see a partition
mid-replacement (the same, smaller, window dynamic overwrite has); the
INTENT guarantees the table always converges to exactly-old or
exactly-new, never a mix.

Used by ``etl.upsert.upsert_partitioned`` and
``ReactionLake.materialize_enrichment``; call
``recover_staged_commits(spark, table_path)`` at process start (the
pipeline does) to finish or discard any interrupted commit.

Single-writer protocol, like every rename-based parquet layout:
concurrent upserts of the SAME table can interleave their swaps (each
individually atomic, last writer wins per partition). Arbitrating
concurrent writers is the transaction log's job — on Delta/Iceberg
this whole module disappears into the table format's commit protocol.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession

INTENT_FILE = "_COMMIT_INTENT.json"
STAGING_PREFIX = "_staging_"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm.org.apache.hadoop.fs.Path


def staged_overwrite_partitions(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    partition_col: str,
    emptied: list[str] | tuple[str, ...] = (),
    markers: list[str] | tuple[str, ...] = (),
) -> str:
    """Replace the partitions present in ``df`` (plus delete ``emptied``
    partition VALUES) under ``table_path``, all-or-nothing.

    ``df`` may read lazily from ``table_path`` itself: it is written
    under the hidden staging directory, and that write finishes before
    the intent is persisted and before any live partition is renamed
    or deleted, so the swap never races its own input. (Like any lazy
    parquet read, ``df`` lists the table's files when it is built, so
    build it after the table's last change.) Returns the commit token.
    Partition values in ``emptied`` must not need Hadoop path-escaping
    (true for day strings / plain identifiers; values with ``/ : =``
    etc. would need the escaped directory name).

    ``markers``: zero-byte filenames (leading ``_`` → invisible to
    readers) created in the table root as PART OF the same commit —
    they ride in the intent, so roll-forward (incl. crash recovery)
    creates them iff the data swap commits. This is how callers get
    exactly-once side-facts on plain parquet: e.g. the incremental-agg
    state records ``_APPLIED_<batch_id>`` atomically with the merged
    data, so a replayed batch is detectable with no window where data
    committed but the fact didn't (or vice versa).
    """
    token = uuid.uuid4().hex
    staging = f"{table_path}/{STAGING_PREFIX}{token}"
    df.write.mode("error").partitionBy(partition_col).parquet(staging)
    fs, Path = _fs(spark, staging)
    staged = [
        st.getPath().getName()
        for st in fs.listStatus(Path(staging))
        if st.isDirectory() and st.getPath().getName().startswith(f"{partition_col}=")
    ]
    intent = {
        "partition_col": partition_col,
        "partitions": sorted(staged),
        "emptied": [f"{partition_col}={v}" for v in emptied],
        "markers": sorted(markers),
    }
    _write_intent(spark, staging, intent)
    _roll_forward(fs, Path, table_path, staging, intent)
    return token


def _write_intent(spark: SparkSession, staging: str, intent: dict) -> None:
    """Persist the commit point marker (exposed for crash-simulation
    tests, which stage data + intent and then 'crash' before rolling
    forward)."""
    fs, Path = _fs(spark, staging)
    out = fs.create(Path(f"{staging}/{INTENT_FILE}"), True)
    out.write(bytearray(json.dumps(intent).encode("utf-8")))
    out.close()


def _roll_forward(fs, Path, table_path: str, staging: str, intent: dict) -> None:
    """Idempotent completion of a committed (intent-persisted) swap."""
    for name in intent["partitions"]:
        src, dst = Path(f"{staging}/{name}"), Path(f"{table_path}/{name}")
        if fs.exists(src):
            if fs.exists(dst):
                fs.delete(dst, True)
            fs.rename(src, dst)
        # staged dir already gone → this partition was swapped before a
        # crash; nothing to do
    for name in intent["emptied"]:
        p = Path(f"{table_path}/{name}")
        if fs.exists(p):
            fs.delete(p, True)
    for name in intent.get("markers", []):  # .get: pre-marker intents recover fine
        mp = Path(f"{table_path}/{name}")
        if not fs.exists(mp):
            fs.create(mp, True).close()
    fs.delete(Path(staging), True)


def recover_staged_commits(spark: SparkSession, table_path: str) -> list[str]:
    """Finish or discard interrupted staged commits under ``table_path``.

    Roll FORWARD any staging directory whose intent marker exists (the
    commit point was reached; the data is complete by construction) and
    roll BACK (delete) any without one (the write never finished; the
    live table was never touched). Returns a human-readable action per
    staging dir found. Safe to call when the table doesn't exist yet.
    """
    fs, Path = _fs(spark, table_path)
    root = Path(table_path)
    if not fs.exists(root):
        return []
    actions: list[str] = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(STAGING_PREFIX)):
            continue
        staging = f"{table_path}/{name}"
        ipath = Path(f"{staging}/{INTENT_FILE}")
        if fs.exists(ipath):
            stream = fs.open(ipath)
            try:
                data = bytes(
                    spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                )
            finally:
                stream.close()
            _roll_forward(fs, Path, table_path, staging, json.loads(data))
            actions.append(f"rolled forward {name}")
        else:
            fs.delete(st.getPath(), True)
            actions.append(f"rolled back {name}")
    return actions
