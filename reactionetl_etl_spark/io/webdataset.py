"""WebDataset-style tar shard export/import.

The de-facto container for large multimodal training corpora is a
sequence of tar files, each holding `<key>.<ext>` payload members with
a sibling `<key>.json` metadata member (the WebDataset convention —
sequential reads, trivially streamable, framework-agnostic). The
parquet shards the pipelines write are the ANALYTICS layout; this
module is the TRAINING-LOADER boundary.

Design for scale and determinism:
- shard assignment is an md5 bucket of the key — engine-neutral (so a
  SQL oracle can recompute per-shard totals straight from the source
  table) and stable across runs/retries, unlike any RNG split;
- one Spark task writes each tar end-to-end (rows repartitioned by
  shard id), entries sorted by key, tar member metadata pinned
  (mtime=0, uid/gid=0) — so a shard's BYTES are reproducible and two
  exports of the same frame diff as equal;
- the reader is `binaryFile` over `shard-*.tar` + an Arrow-batched
  parser — one task per shard, no Python row loop over the frame.

Stdlib `tarfile` only; no external deps.
"""

from __future__ import annotations

import io
import json
import os
import tarfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reactionetl_etl_spark.io.files import read_if_exists

SHARD_GLOB = "shard-*.tar"


def shard_bucket(key_col, n_shards: int):
    """md5-bucket shard id (0..n_shards-1) — the engine-neutral hash
    the oracle side can mirror (`('0x'||substr(md5(k),1,8))::BIGINT`)."""
    return (
        F.conv(F.substring(F.md5(key_col.cast("string")), 1, 8), 16, 10).cast("bigint")
        % n_shards
    ).cast("int")


def write_webdataset_shards(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    payload_col: str,
    meta_cols: tuple[str, ...] = (),
    ext: str = "bin",
    ext_col: str | None = None,
    n_shards: int = 8,
    shard_col: str | None = None,
    sort_col: str | None = None,
) -> int:
    """Write ``df`` as ``<out_dir>/shard-%05d.tar`` WebDataset shards;
    returns the number of rows exported.

    Each row becomes two tar members: ``<key>.<ext>`` (the binary
    payload; per-row extension when ``ext_col`` is given — e.g. the
    sniffed image format) and ``<key>.json`` (the ``meta_cols`` as a
    JSON object, sorted keys). Rows land in shards by `shard_bucket` —
    or by a PRECOMPUTED ``shard_col`` (e.g. the token-budget packer's
    shard ids, so each tar IS one training shard). Each shard is
    written by exactly one task (repartition on the shard id), with
    rows sorted by ``sort_col`` (curriculum/shuffle position; key by
    default) then key, and fixed member attributes, so shard bytes are
    deterministic. ``out_dir`` must be a path every executor can write
    (local dir in local mode; a mounted/fuse path on a cluster —
    object stores want the tar staged locally then uploaded, which is
    what a real deployment hooks in here).
    """
    os.makedirs(out_dir, exist_ok=True)
    # A re-export into a dir that already holds shards from an earlier,
    # LARGER export would leave stale shard-*.tar behind: readers glob
    # the dir, so they'd see shards absent from the fresh manifest.
    # Clear previous shards (and any orphaned task-attempt temps) so
    # the directory always equals the manifest.
    import glob as _glob

    for stale in _glob.glob(os.path.join(out_dir, SHARD_GLOB)) + _glob.glob(
        os.path.join(out_dir, ".shard-*.tar.tmp-*")
    ):
        os.remove(stale)
    n_shards = int(n_shards)
    ext_expr = (
        F.coalesce(F.col(ext_col).cast("string"), F.lit(ext))
        if ext_col
        else F.lit(ext)
    )
    shard_expr = (
        F.col(shard_col).cast("int")
        if shard_col
        else shard_bucket(F.col(key_col), n_shards)
    )
    sort_expr = F.col(sort_col) if sort_col else F.col(key_col).cast("string")
    cols = [
        F.col(key_col).cast("string").alias("__key"),
        F.col(payload_col).cast("binary").alias("__payload"),
        ext_expr.alias("__ext"),
        shard_expr.alias("__shard"),
        sort_expr.alias("__sort"),
    ] + [F.col(c) for c in meta_cols]
    prepared = df.select(*cols)
    meta_names = list(meta_cols)

    def write_partition(rows) -> Iterator[tuple[int, int, int, str]]:
        import hashlib

        from pyspark import TaskContext

        tc = TaskContext.get()
        attempt = tc.taskAttemptId() if tc is not None else os.getpid()
        by_shard: dict[int, list] = {}
        for r in rows:
            by_shard.setdefault(r["__shard"], []).append(r)
        for shard, members in by_shard.items():
            members.sort(key=lambda r: (r["__sort"], r["__key"]))
            path = os.path.join(out_dir, f"shard-{shard:05d}.tar")
            # task-attempt temp + atomic rename: a speculative/zombie
            # duplicate attempt can never interleave writes into the
            # final shard — last rename wins with a complete file
            tmp = os.path.join(out_dir, f".shard-{shard:05d}.tar.tmp-{attempt}")
            n = 0
            with tarfile.open(tmp, "w") as tar:
                for r in members:
                    payload = bytes(r["__payload"] or b"")
                    meta = json.dumps(
                        {c: r[c] for c in meta_names}, sort_keys=True
                    ).encode()
                    for name, data in (
                        (f"{r['__key']}.{r['__ext']}", payload),
                        (f"{r['__key']}.json", meta),
                    ):
                        info = tarfile.TarInfo(name)
                        info.size = len(data)
                        info.mtime = 0
                        info.uid = info.gid = 0
                        info.uname = info.gname = ""
                        tar.addfile(info, io.BytesIO(data))
                    n += 1
            digest = hashlib.sha256()
            with open(tmp, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    digest.update(chunk)
            size = os.path.getsize(tmp)
            os.replace(tmp, path)
            yield (shard, n, size, digest.hexdigest())

    # one task per shard id: hash-repartition on __shard puts every row
    # of a shard in one partition (a partition may own several shards —
    # each still written whole by that task). Tasks return per-shard
    # (id, keys, bytes, sha256); the driver writes the transfer
    # manifest — the artifact a multi-TB copy verifies against.
    shard_rows = sorted(
        prepared.repartition(n_shards, "__shard")
        .rdd.mapPartitions(write_partition)
        .collect()
    )
    manifest = {
        f"shard-{s:05d}.tar": {"n_keys": n, "bytes": b, "sha256": h}
        for s, n, b, h in shard_rows
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return sum(n for _, n, _, _ in shard_rows)


def read_webdataset_shards(spark: SparkSession, shard_dir: str) -> DataFrame:
    """Read WebDataset shards back as (key, ext, payload, meta, shard_id).

    `binaryFile` over ``shard-*.tar`` gives one row (and one task) per
    shard; an Arrow-batched parser walks each tar pairing ``<key>.json``
    with the payload member. ``meta`` is the raw JSON string —
    `from_json` it with the caller's schema. A corrupt/truncated shard
    fails its task with the SHARD PATH in the error (at fleet scale the
    bad file, not a stack trace, is the actionable datum); an empty or
    missing directory reads as an empty frame, not an error."""
    import pandas as pd

    schema = "key string, ext string, payload binary, meta string, shard_id int"
    # Emptiness is decided by the READ's own path resolution, not a
    # driver-local glob: binaryFile accepts remote URIs (hdfs://,
    # s3a://) where glob.glob would see nothing and silently return an
    # empty frame even when shards exist. Spark resolves the glob at
    # load() time and reports a missing path when no shard matches.
    tars = read_if_exists(
        lambda: spark.read.format("binaryFile").load(os.path.join(shard_dir, SHARD_GLOB))
    )
    if tars is None:
        return spark.createDataFrame([], schema)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "key": [], "ext": [], "payload": [], "meta": [], "shard_id": []
            }
            for path, blob in zip(pdf["path"], pdf["content"]):
                shard_id = int(os.path.basename(path).split("-")[1].split(".")[0])
                payloads: dict[str, tuple[str, bytes]] = {}
                metas: dict[str, str] = {}
                try:
                    with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tar:
                        for m in tar.getmembers():
                            stem, dot, suffix = m.name.rpartition(".")
                            data = tar.extractfile(m).read()
                            if suffix == "json":
                                metas[stem] = data.decode()
                            else:
                                payloads[stem] = (suffix, data)
                except tarfile.TarError as e:
                    raise ValueError(f"corrupt WebDataset shard {path}: {e}") from e
                for stem, (suffix, data) in payloads.items():
                    out["key"].append(stem)
                    out["ext"].append(suffix)
                    out["payload"].append(data)
                    out["meta"].append(metas.get(stem, "{}"))
                    out["shard_id"].append(shard_id)
            yield pd.DataFrame(out)

    return tars.mapInPandas(parse, schema)
