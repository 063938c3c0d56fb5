"""Streaming sinks beyond the native formats: foreachBatch bridges.

Structured Streaming has no built-in JDBC sink; the standard pattern is
a foreachBatch callback — each micro-batch arrives as a normal
DataFrame, so the batch JDBC writer (io/jdbc.py) applies unchanged and
the checkpoint still tracks exactly-once *batch* delivery (the warehouse
sees at-least-once on retry: make the table idempotent via a batch_id
column or dedup key, same as any foreachBatch sink). Each
``*_batch_writer`` below builds one such callback; `start_sink` runs a
stream into it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from reactionetl_etl_spark.io.files import read_if_exists
from reactionetl_etl_spark.io.jdbc import write_fact_jdbc
from reactionetl_etl_spark.logging_config import get_logger

logger = get_logger("streaming.sinks")


def start_sink(
    stream_df: DataFrame,
    batch_writer: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Run ``stream_df`` into a foreachBatch sink and return the
    StreamingQuery. ``batch_writer`` is a ``(batch_df, batch_id)``
    callback: one of this module's ``*_batch_writer`` functions, or
    `streaming/packing.py::packing_batch_writer`.

    AvailableNow trigger: drain the backlog and stop, the reference's
    batch cadence. The checkpoint makes the next start resume after the
    last committed batch."""
    return (
        stream_df.writeStream.foreachBatch(batch_writer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def jdbc_batch_writer(url: str, table: str = "fact_sim", writer_factory=None):
    """Build the foreachBatch callback: (batch_df, batch_id) → COPY-
    parity append. Exposed separately so tests can drive the callback
    with plain DataFrames — foreachBatch passes exactly this shape."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_fact_jdbc(batch_df, url, table, writer_factory=writer_factory)

    return write_batch


def dedup_probe_batch_writer(
    index_path: str,
    hits_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
):
    """foreachBatch callback for streaming incremental dedup: each
    micro-batch (1) probes the persisted MinHash index for near-dups of
    its documents against everything seen before and appends the hits
    to ``hits_path``, then (2) signs itself into the index — sign once,
    on arrival (operators/dedup.py::probe_minhash_index rationale).

    Probe strictly precedes append so a batch never matches itself;
    within-batch duplicates surface when either doc recurs, or via the
    batch self-join (minhash_lsh_candidates) if same-batch detection
    matters. On foreachBatch retry the hits append is at-least-once —
    hits carry batch_id so downstream consumers can dedup replays.
    """
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.operators.dedup import (
        probe_minhash_index,
        write_minhash_index,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Only "index not created yet" may downgrade to a skipped probe;
        # anything else (corrupt files, schema drift) must surface, or
        # the miss would be permanent and invisible — the index append
        # below still runs on every batch.
        index_df = read_if_exists(lambda: spark.read.parquet(index_path))
        if index_df is None:
            logger.warning(
                "minhash index %s not found; skipping probe for batch %s",
                index_path,
                batch_id,
            )
        else:
            hits = probe_minhash_index(
                batch_df,
                index_df,
                text_col,
                id_col,
                min_jaccard=min_jaccard,
            )
            hits.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                hits_path
            )
        write_minhash_index(batch_df, text_col, id_col, index_path, mode="append")

    return write_batch


def upsert_batch_writer(table_path: str, key_cols: list[str], partition_col: str):
    """foreachBatch callback: micro-batch → keyed upsert into a
    partitioned parquet table (etl/upsert.py). Replays are idempotent
    BY CONSTRUCTION — re-applying the same batch anti-joins its own
    keys out and rewrites the same partitions to the same content — so
    the at-least-once delivery foreachBatch gives on retry needs no
    batch_id bookkeeping. Within one batch, keys must be unique
    (dedupe upstream with dedup_earliest; the upsert raises otherwise).
    """
    from reactionetl_etl_spark.etl.upsert import upsert_partitioned

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # existence via the Hadoop FileSystem API, not os.path — the
        # table can live on hdfs:// or s3a:// where a driver-local stat
        # always says "missing" and the bootstrap branch would misfire
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(table_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            # explicit overwrite: a crashed first attempt can leave a
            # partial directory behind; errorifexists would then wedge
            # the stream forever, while overwrite of the partial
            # bootstrap converges (later retries take the upsert path)
            batch_df.write.mode("overwrite").partitionBy(partition_col).parquet(
                table_path
            )
            logger.info("upsert sink: created %s from batch %d", table_path, batch_id)
            return
        n = upsert_partitioned(spark, table_path, batch_df, key_cols, partition_col)
        logger.info("upsert sink: batch %d applied %d rows", batch_id, n)

    return write_batch


def ivf_append_batch_writer(
    index_path: str,
    dim: int,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch callback maintaining a persisted IVF ANN index as
    embeddings stream in: the FIRST batch trains the centroids, every
    later batch cells itself with the STORED centroids and appends —
    the sign-once/probe-forever lifecycle (SCALING.md), streaming
    edition. Retraining per batch would re-cell history inconsistently;
    `write_ivf_index` raises on exactly that misuse, and this writer is
    the pattern that avoids it. At-least-once caveat: a replayed batch
    re-appends its vectors (duplicate entries in the affected cells —
    harmless for top-k probes beyond duplicate neighbors; dedup on
    id_col at probe time if exactness matters)."""
    from reactionetl_etl_spark.operators.similarity import (
        read_ivf_centroids,
        write_ivf_index,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cents = read_if_exists(lambda: read_ivf_centroids(spark, index_path))
        if cents is None:
            write_ivf_index(
                batch_df, dim=dim, path=index_path, n_cells=n_cells,
                id_col=id_col, vec_col=vec_col, mode="overwrite",
            )
            logger.info("ivf sink: trained index at %s from batch %d", index_path, batch_id)
        else:
            write_ivf_index(
                batch_df, dim=dim, path=index_path, n_cells=len(cents),
                id_col=id_col, vec_col=vec_col, centroids=cents, mode="append",
            )

    return write_batch


def pq_append_batch_writer(
    index_path: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch callback maintaining a persisted PQ ANN index
    (`operators/pq.py::write_pq_index`) as embeddings stream in — the
    PQ twin of `ivf_append_batch_writer`, closing the streaming side of
    the LSH/IVF/PQ index triangle: the FIRST batch trains the codebook,
    every later batch encodes itself with the STORED codebook and
    appends (re-training per batch would code history inconsistently;
    `write_pq_index` raises on exactly that misuse). Same at-least-once
    caveat: a replayed batch re-appends its codes — harmless for ADC
    top-k beyond duplicate neighbors; dedup on id_col at probe time if
    exactness matters."""
    from reactionetl_etl_spark.operators.pq import read_pq_codebook, write_pq_index

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        book = read_if_exists(lambda: read_pq_codebook(spark, index_path))
        if book is None:
            write_pq_index(
                batch_df, dim=dim, path=index_path, m=m, k=k,
                id_col=id_col, vec_col=vec_col, mode="overwrite",
            )
            logger.info("pq sink: trained index at %s from batch %d", index_path, batch_id)
        else:
            write_pq_index(
                batch_df, dim=dim, path=index_path, m=len(book),
                k=len(book[0]), codebook=book,
                id_col=id_col, vec_col=vec_col, mode="append",
            )

    return write_batch


def ivfpq_append_batch_writer(
    index_path: str,
    dim: int,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch callback maintaining a persisted IVF-PQ index
    (`operators/pq.py::write_ivfpq_index`) as embeddings stream in —
    completes the streaming side of the index family alongside the
    MinHash/IVF/PQ writers: the FIRST batch trains the coarse centroids
    AND the residual codebook, every later batch cells/codes itself
    with the STORED geometry and appends (`write_ivfpq_index` raises on
    append-without-geometry). Same at-least-once caveat as the
    siblings: a replayed batch re-appends its codes — harmless for ADC
    top-k beyond duplicate neighbors; dedup on id_col at probe time if
    exactness matters."""
    from reactionetl_etl_spark.operators.pq import (
        read_ivfpq_geometry,
        write_ivfpq_index,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        geometry = read_if_exists(lambda: read_ivfpq_geometry(spark, index_path))
        if geometry is None:
            write_ivfpq_index(
                batch_df, dim=dim, path=index_path, n_cells=n_cells, m=m, k=k,
                id_col=id_col, vec_col=vec_col, mode="overwrite",
            )
            logger.info(
                "ivfpq sink: trained index at %s from batch %d", index_path, batch_id
            )
        else:
            cents, book = geometry
            write_ivfpq_index(
                batch_df, dim=dim, path=index_path,
                centroids=cents, codebook=book,
                id_col=id_col, vec_col=vec_col, mode="append",
            )

    return write_batch


def bits_append_batch_writer(
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch callback maintaining a persisted packed-bits index
    (`operators/hamming.py::write_bits_index`) as embeddings stream in.
    The simplest member of the index-sink family BY CONSTRUCTION: sign
    packing has no trained geometry, so there is no train-once-first-
    batch phase, no stored-sidecar consistency check, and no
    append-without-geometry failure mode — every batch packs and
    appends unconditionally, and any interleaving of batches yields
    the same index contents. Same at-least-once caveat as the
    siblings: a replayed batch re-appends its rows — harmless for
    Hamming top-k beyond duplicate neighbors; dedup on id_col at probe
    time if exactness matters."""
    from reactionetl_etl_spark.operators.hamming import write_bits_index

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_bits_index(batch_df, index_path, id_col=id_col, vec_col=vec_col)

    return write_batch


def rollup_batch_writer(
    state_path: str,
    keys: list[str],
    measures: dict[str, list[str]],
    partition_col: str,
):
    """foreachBatch callback maintaining an incremental mergeable
    rollup (etl/incremental_agg.py) as facts stream in: each
    micro-batch folds its partial aggregates into the persisted state.

    EXACTLY-once, not just idempotent-by-luck: foreachBatch delivers
    at-least-once (a crash between the sink completing and the
    checkpoint advancing replays the batch), and unlike the keyed
    upsert a re-MERGED batch would double-count. The batch id
    therefore rides the commit intent as an ``_APPLIED_stream-<id>``
    marker — atomic with the merged data — so a replay is detected and
    skipped even when the crash hit inside the previous attempt.
    Interrupted staged commits are recovered before merging (the same
    roll-forward/rollback the batch pipeline runs at start)."""
    from reactionetl_etl_spark.etl.commit import recover_staged_commits
    from reactionetl_etl_spark.etl.incremental_agg import merge_aggregate_state

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_staged_commits(spark, state_path)
        applied = merge_aggregate_state(
            spark,
            state_path,
            batch_df,
            keys,
            measures,
            partition_col,
            batch_id=f"stream-{batch_id}",
        )
        logger.info(
            "rollup sink: batch %d %s", batch_id, "merged" if applied else "replay skipped"
        )

    return write_batch


def snapshot_append_batch_writer(table_path: str, stats_cols: list[str] | None = None):
    """foreachBatch callback appending each micro-batch to a snapshot-
    isolated table (etl/snapshots.py) EXACTLY once: the stream batch id
    commits inside the manifest, atomically with the data, so a
    replayed batch (crash between sink completion and checkpoint
    advance) is recognized and skipped — and readers racing the stream
    always resolve a complete snapshot, never a half-written append."""
    from reactionetl_etl_spark.etl.snapshots import snapshot_write

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        v = snapshot_write(
            spark,
            table_path,
            batch_df,
            mode="append",
            stats_cols=stats_cols,
            batch_id=f"stream-{batch_id}",
        )
        logger.info("snapshot sink: batch %d -> version %s", batch_id, v)

    return write_batch


def apply_changes_batch_writer(table_path: str, key_cols: list[str]):
    """foreachBatch callback folding a CDC stream (the
    `snapshot_changes` shape: `_change_type` ∈ insert / delete /
    update_pre/postimage) into a snapshot-isolated replica EXACTLY
    once: each micro-batch applies as ONE atomic commit carrying the
    stream batch id, so a replayed batch no-ops
    (etl/snapshots.py::snapshot_apply_changes). Within a batch, keys
    must resolve to a single net action — collapse upstream (e.g.
    keep the latest change per key by feed order) before the sink."""
    from reactionetl_etl_spark.etl.snapshots import snapshot_apply_changes

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        v = snapshot_apply_changes(
            spark, table_path, batch_df, key_cols, batch_id=f"stream-{batch_id}"
        )
        logger.info("apply-changes sink: batch %d → version %s", batch_id, v)

    return write_batch


def rollup_cdc_batch_writer(
    state_path: str,
    keys: list[str],
    measures: dict[str, list[str]],
    partition_col: str,
    base_table_path: str | None = None,
):
    """foreachBatch callback maintaining a mergeable rollup from a CDC
    STREAM (the `sources/pyds.py::SnapshotChangesStreamDataSource`
    shape): each micro-batch of insert/delete/pre/post change rows
    folds into the state with signed retraction partials
    (`etl/incremental_agg.py::apply_changes_to_rollup`) — the streaming
    form of incremental materialized-view maintenance under mutation.
    Exactly-once via the same commit-riding `_APPLIED_stream-<id>`
    marker discipline as `rollup_batch_writer`. Additive measures
    (sum/count/hist) retract; for min/max/HLL pass ``base_table_path``
    (the snapshot table the feed describes) — each batch recomputes the
    touched partitions' groups from the table's CURRENT head, which is
    correct even when the stream collapsed several commits into one
    batch (the head is the final state those changes lead to)."""
    from reactionetl_etl_spark.etl.commit import recover_staged_commits
    from reactionetl_etl_spark.etl.incremental_agg import apply_changes_to_rollup
    from reactionetl_etl_spark.etl.snapshots import snapshot_read

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_staged_commits(spark, state_path)
        base = (
            snapshot_read(spark, base_table_path)
            if base_table_path is not None
            else None
        )
        applied = apply_changes_to_rollup(
            spark,
            state_path,
            batch_df,
            keys,
            measures,
            partition_col,
            batch_id=f"stream-{batch_id}",
            base=base,
        )
        logger.info(
            "rollup-cdc sink: batch %d %s", batch_id, "folded" if applied else "replay skipped"
        )

    return write_batch


def scd2_enrich_batch_writer(dim_path: str, out_path: str, key_cols: list[str], ts_col: str):
    """foreachBatch callback: enrich each fact micro-batch with the
    SCD2 dimension AS OF each fact's own event time
    (etl/scd.py::scd2_point_in_time_join) and append the result to a
    snapshot table EXACTLY once (the stream batch id commits in the
    manifest). The history is re-read from its snapshot head per
    batch, so dimension changes flow into enrichment at batch
    granularity with no stream restart — the streaming twin of
    `orders_scd2_temporal_join`."""
    from reactionetl_etl_spark.etl.scd import scd2_point_in_time_join
    from reactionetl_etl_spark.etl.snapshots import snapshot_read, snapshot_write

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hist = snapshot_read(spark, dim_path)
        enriched = scd2_point_in_time_join(batch_df, hist, key_cols, ts_col)
        v = snapshot_write(
            spark, out_path, enriched, mode="append", batch_id=f"stream-{batch_id}"
        )
        logger.info("scd2-enrich sink: batch %d → version %s", batch_id, v)

    return write_batch


def classifier_score_batch_writer(
    model_path: str,
    scores_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch callback: score each micro-batch of documents with
    a PERSISTED quality-classifier weight table
    (operators/classifier.py::score_with_classifier_model) and append
    (id, score, batch_id) to ``scores_path`` — curation filtering at
    ingest time, without the training corpus anywhere in sight. The
    weight table is n_buckets+4 rows: read per batch (cheap, and
    re-reading picks up a re-signed model between batches), broadcast
    into the scoring join. On foreachBatch retry the append is
    at-least-once — rows carry batch_id so consumers dedup replays."""
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.operators.classifier import (
        score_with_classifier_model,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        scored = score_with_classifier_model(batch_df, model_path, id_col, text_col)
        scored.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            scores_path
        )

    return write_batch


def join_maintenance_batch_writer(state_path: str, key: str, side: str):
    """foreachBatch callback maintaining a materialized equi-join
    (etl/incremental_join.py) as ONE side streams in: each micro-batch
    is that side's delta, folded with the delta rule against the other
    side's accumulator. Exactly-once like the rollup sink: the batch
    id becomes the merge's ``_APPLIED_stream-<side>-<id>`` marker, so a
    foreachBatch replay is detected and skipped instead of emitting
    duplicate join rows.

    The join state is a single-writer rename-based layout — when BOTH
    sides stream, drain them alternately (AvailableNow triggers, as the
    batch twin does with its interleaved batches), don't run two
    always-on writers concurrently against one state path."""
    if side not in ("left", "right"):
        raise ValueError(f"side must be 'left' or 'right', got {side!r}")
    from reactionetl_etl_spark.etl.incremental_join import merge_join_state

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        kwargs = {f"delta_{side}": batch_df}
        applied = merge_join_state(
            batch_df.sparkSession,
            state_path,
            key,
            f"stream-{side}-{batch_id}",
            **kwargs,
        )
        logger.info(
            "join sink [%s]: batch %d %s",
            side, batch_id, "merged" if applied else "replay skipped",
        )

    return write_batch


def webdataset_batch_writer(
    out_dir: str,
    key_col: str,
    payload_col: str,
    meta_cols: tuple[str, ...] = (),
    ext: str = "bin",
    n_shards: int = 4,
):
    """foreachBatch callback: each micro-batch lands as its own
    WebDataset shard set under ``<out_dir>/batch-%08d/shard-%05d.tar``
    (tars are sequential containers — appending across batches would
    rewrite them, so a batch is the natural shard-set unit; training
    loaders glob `batch-*/shard-*.tar`). IDEMPOTENT on foreachBatch
    retry: the batch directory is keyed by batch_id and rewritten
    whole, and shard bytes are deterministic (io/webdataset.py), so a
    replayed batch produces identical files instead of duplicates."""
    import os

    from reactionetl_etl_spark.io.webdataset import write_webdataset_shards

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_webdataset_shards(
            batch_df,
            os.path.join(out_dir, f"batch-{batch_id:08d}"),
            key_col=key_col,
            payload_col=payload_col,
            meta_cols=meta_cols,
            ext=ext,
            n_shards=n_shards,
        )

    return write_batch
