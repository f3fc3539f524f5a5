"""Structured Streaming tests: micro-batching, checkpoint resume,
skew, and salted-fold equivalence."""

from __future__ import annotations

import os

import pytest

from pg_pb3_ld_spark.config import EngineConfig
from pg_pb3_ld_spark.generator import (
    generate_stream,
    write_frames_parquet_dir,
)
from pg_pb3_ld_spark.schema import transcripts_schema
from pg_pb3_ld_spark.sinks.store import SnapshotStore
from pg_pb3_ld_spark.streaming.runner import run_stream


def _cfg():
    return EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184",
    )


def _check_final(store, stream):
    got = {
        (r["conv_id"], r["turn_idx"]): r.asDict()
        for r in store.read_table().collect()
    }
    assert set(got) == set(stream.oracle)
    import datetime

    for key, exp in stream.oracle.items():
        for col, v in exp.items():
            gv = got[key].get(col)
            if col == "ts" and gv is not None:
                gv = gv.replace(tzinfo=datetime.timezone.utc)
            assert gv == v, f"{key}.{col}: {gv!r} != {v!r}"


def test_stream_microbatches_and_resume(spark, tmpdir_path):
    """Files arriving over time + checkpoint restart converge to the
    oracle state (S7/T4/D6)."""
    stream = generate_stream(seed=11, n_convs=15, max_turns=8, n_extra_txns=40)
    frames_dir = os.path.join(tmpdir_path, "landing")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "table"), transcripts_schema(),
        num_buckets=8,
    )
    # first half of the files land; stream drains them (2 files/batch)
    write_frames_parquet_dir(stream, frames_dir, n_files=8, end_file=4)
    m1 = run_stream(
        spark, frames_dir, store, _cfg(), checkpoint_dir=ckpt,
        max_files_per_trigger=2,
    )
    assert len(m1) >= 2  # several micro-batches
    snap_mid = store.snapshot_id
    assert snap_mid >= 1
    # rest of the files land; resume from the same checkpoint
    write_frames_parquet_dir(stream, frames_dir, n_files=8, start_file=4)
    m2 = run_stream(
        spark, frames_dir, store, _cfg(), checkpoint_dir=ckpt,
        max_files_per_trigger=2,
    )
    assert store.snapshot_id > snap_mid
    _check_final(store, stream)
    # a fresh checkpoint replaying EVERYTHING is dropped by the hwm
    ckpt2 = os.path.join(tmpdir_path, "ckpt2")
    m3 = run_stream(spark, frames_dir, store, _cfg(), checkpoint_dir=ckpt2)
    assert all(m.get("skipped") or m.get("applied_keys", 0) == 0 for m in m3)
    _check_final(store, stream)


def test_hot_key_skew_fold_matches_oracle(spark, tmpdir_path):
    """One conv holding ~70% of events (skew, D8): the map-side
    combining fold must match the oracle."""
    stream = generate_stream(
        seed=13, n_convs=10, max_turns=6, n_extra_txns=60, hot_fraction=0.7
    )
    frames_dir = os.path.join(tmpdir_path, "landing")
    write_frames_parquet_dir(stream, frames_dir, n_files=4)
    frames = spark.read.parquet(frames_dir)

    from pg_pb3_ld_spark.pipeline import IngestPipeline

    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "table"),
        transcripts_schema(), num_buckets=4,
    )
    IngestPipeline(spark, store, _cfg()).apply_frames(frames)
    _check_final(store, stream)


def test_stream_mor_mode_with_inline_compaction(spark, tmpdir_path):
    """Streaming micro-batches in merge-on-read mode (each batch a
    delta commit, inline compaction at ≥2 deltas/bucket) converge to
    the same oracle state as COW streaming — including checkpoint
    resume across the two landing waves."""
    stream = generate_stream(seed=19, n_convs=12, max_turns=8,
                             n_extra_txns=30)
    frames_dir = os.path.join(tmpdir_path, "landing")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "table"), transcripts_schema(),
        num_buckets=4,
    )
    write_frames_parquet_dir(stream, frames_dir, n_files=6, end_file=3)
    run_stream(
        spark, frames_dir, store, _cfg(), checkpoint_dir=ckpt,
        max_files_per_trigger=1, apply_mode="mor", compact_min_deltas=2,
    )
    write_frames_parquet_dir(stream, frames_dir, n_files=6, start_file=3)
    metrics = run_stream(
        spark, frames_dir, store, _cfg(), checkpoint_dir=ckpt,
        max_files_per_trigger=1, apply_mode="mor", compact_min_deltas=2,
    )
    # inline compaction actually fired at least once across the run
    assert any("compaction" in m for m in metrics)
    # delta depth stays bounded by the knob
    assert all(n < 2 for n in store.delta_state().values())
    _check_final(store, stream)
