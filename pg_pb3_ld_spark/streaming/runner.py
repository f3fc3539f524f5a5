"""Structured Streaming runner — S1/S7 consumer wiring.

``readStream`` over the raw frame table → ``foreachBatch`` applying
the batch pipeline transactionally per micro-batch (S5: the epoch
analog of ``pb3ld_commit_txn``'s flush-at-commit).  Offset tracking
is layered:

* Spark's checkpoint tracks *source* offsets (which frame files a
  micro-batch covers) — at-least-once on restart;
* the store's LSN high-watermark (committed atomically with each
  snapshot) upgrades that to exactly-once: a replayed micro-batch's
  frames are all ≤ hwm and fall out of the pipeline's first filter,
  exactly like the reference fuzzer dropping messages below its
  minimum LSN on reconnect (``tests/fuzzer/fuzzer.go:389-391``).

In production the source would be Kafka (`value` = frame bytes,
offset = LSN) or a cloud-storage landing zone; the parquet file
source keeps the sandbox self-contained with identical semantics.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pg_pb3_ld_spark.config import EngineConfig
from pg_pb3_ld_spark.pipeline import IngestPipeline
from pg_pb3_ld_spark.sinks.store import SnapshotStore

FRAME_DDL = "frame_seq long, lsn long, frame binary"


def run_stream(
    spark: SparkSession,
    frames_dir: str,
    store: SnapshotStore,
    config: EngineConfig | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    collect_metrics: list | None = None,
    apply_mode: str = "cow",
    compact_min_deltas: int = 0,
):
    """Consume all available frame files, then stop (availableNow).

    Returns the list of per-batch metrics dicts (also appended to
    ``collect_metrics`` if given, for callers that want live access).

    ``apply_mode="mor"``: each micro-batch commits as a merge-on-read
    delta (write cost ∝ batch) with optional inline compaction when a
    bucket's delta count reaches ``compact_min_deltas`` — the
    high-rate streaming ingest shape at 10^10 events.
    """
    pipe = IngestPipeline(
        spark, store, config or EngineConfig(),
        apply_mode=apply_mode, compact_min_deltas=compact_min_deltas,
    )
    return _run_foreach_batch(
        spark, frames_dir, pipe, store.root, checkpoint_dir,
        max_files_per_trigger, collect_metrics,
    )


def run_stream_multi(
    spark: SparkSession,
    frames_dir: str,
    stores: dict[str, SnapshotStore],
    config: EngineConfig | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    collect_metrics: list | None = None,
):
    """Multi-table streaming consume (availableNow): one decoded
    stream routed into N per-table stores per micro-batch — the
    streaming face of ``pipeline.MultiTablePipeline`` with the same
    pending-tail carryover and per-store watermark semantics.  The
    carryover files live under the FIRST store's root (sorted by
    table name) — any shared durable dir works; what matters is that
    the landing files re-feed with increasing mtimes."""
    from pg_pb3_ld_spark.pipeline import MultiTablePipeline

    pipe = MultiTablePipeline(spark, stores, config or EngineConfig())
    pending_root = stores[sorted(stores)[0]].root
    return _run_foreach_batch(
        spark, frames_dir, pipe, pending_root, checkpoint_dir,
        max_files_per_trigger, collect_metrics,
    )


def _run_foreach_batch(
    spark, frames_dir, pipe, pending_root, checkpoint_dir,
    max_files_per_trigger, collect_metrics,
):
    import os

    metrics = collect_metrics if collect_metrics is not None else []
    # uncommitted-tail carryover: a micro-batch may end mid-transaction
    # (the file source cuts on file boundaries, not commit boundaries);
    # those frames are written here and unioned into the next batch —
    # the store hwm makes double-feeding idempotent
    pending_a = os.path.join(pending_root, "pending_a")
    pending_b = os.path.join(pending_root, "pending_b")

    def apply_batch(df, batch_id: int):
        src, dst = (
            (pending_a, pending_b) if batch_id % 2 == 0 else (pending_b, pending_a)
        )
        if os.path.exists(src):
            df = df.unionByName(spark.read.parquet(src))
        m = pipe.apply_frames(df, batch_id=batch_id, pending_out=dst)
        m["batch_id"] = batch_id
        metrics.append(m)

    reader = spark.readStream.schema(FRAME_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(frames_dir)
    writer = (
        sdf.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .outputMode("update")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return metrics
