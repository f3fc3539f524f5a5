"""Multi-table apply routing (VERDICT r4 'Missing #4').

The reference decodes every replica-identity table in the stream
(decoder/pg_pb3_ld.c:274-293,300-334 — a TableDescription per
message); a real CDC consumer routes N tables to N stores.  Pinned
here:

1. one decoded stream → two real SnapshotStores, both tables correct
   after a two-batch prefix replay (per-store watermark + commit
   gating shared);
2. an UNTRACKED table's changes never reach any store, and its
   unknown columns never evolve a tracked schema (per-table probe) —
   in the multi pipeline AND in the single-table pipeline;
3. per-store watermark: a store added later catches up from its own
   watermark while the up-to-date one skips idempotently;
4. tracked-table schema evolution still works per table.
"""

from __future__ import annotations

import os

import pytest

from pg_pb3_ld_spark.config import EngineConfig
from pg_pb3_ld_spark.generator import _frames_table, encode_routed_changes
from pg_pb3_ld_spark.pb3 import wire
from pg_pb3_ld_spark.pipeline import IngestPipeline, MultiTablePipeline
from pg_pb3_ld_spark.schema import (
    TargetColumn,
    TargetSchema,
    transcripts_schema,
    union_schema,
)
from pg_pb3_ld_spark.sinks.store import SnapshotStore

CFG = EngineConfig(
    type_oids_mode="omit_nulls", formats_mode="disabled",
    binary_oid_ranges="20-23,1184",
)


def doc_tags_schema() -> TargetSchema:
    return TargetSchema(
        "doc_tags",
        [
            TargetColumn("doc_id", wire.OID_TEXT, "string", is_key=True),
            TargetColumn("label", wire.OID_TEXT, "string"),
            TargetColumn("score", wire.OID_INT4, "int"),
        ],
    )


def tt(op, conv, turn, text=None, extra=None):
    key = [("conv_id", conv, wire.OID_TEXT), ("turn_idx", turn, wire.OID_INT4)]
    vals = [] if text is None else [("text", text, wire.OID_TEXT)]
    if extra:
        vals += extra
    return ("public", "transcripts", op, key, vals)


def dt(op, doc, label=None, score=None):
    key = [("doc_id", doc, wire.OID_TEXT)]
    vals = []
    if label is not None:
        vals.append(("label", label, wire.OID_TEXT))
    if score is not None:
        vals.append(("score", score, wire.OID_INT4))
    return ("public", "doc_tags", op, key, vals)


def au(op, aid):
    # untracked table with columns unknown to every tracked schema
    return (
        "public", "audit_log", op,
        [("audit_id", aid, wire.OID_TEXT)],
        [("payload", f"p-{aid}", wire.OID_TEXT)],
    )


def _write_frames(spark, frames, path):
    import pyarrow.parquet as pq

    pq.write_table(_frames_table(frames), path)
    return spark.read.parquet(path)


def _tt_state(store):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in store.read_table().collect()
    }


def _dt_state(store):
    return {
        r["doc_id"]: (r["label"], r["score"])
        for r in store.read_table().collect()
    }


def test_two_table_routing_two_batches(spark, tmpdir_path):
    changes = [
        tt("INSERT", "c1", 0, "hello"),
        dt("INSERT", "d1", "news", 10),
        au("INSERT", "a1"),
        tt("INSERT", "c1", 1, "world"),
        dt("INSERT", "d2", "spam", 3),
        tt("UPDATE", "c1", 0, "hello2"),
        au("UPDATE", "a1"),
        dt("UPDATE", "d1", "sports", 11),
        tt("DELETE", "c1", 1),
        dt("DELETE", "d2"),
        tt("INSERT", "c2", 0, "fresh"),
        dt("INSERT", "d3", "tech", 7),
    ]
    frames = encode_routed_changes(changes, CFG, txn_every=3)
    fdf = _write_frames(
        spark, frames, os.path.join(tmpdir_path, "frames.parquet")
    )
    stores = {
        "transcripts": SnapshotStore.create(
            spark, os.path.join(tmpdir_path, "tt"), transcripts_schema(),
            num_buckets=4,
        ),
        "doc_tags": SnapshotStore.create(
            spark, os.path.join(tmpdir_path, "dt"), doc_tags_schema(),
            num_buckets=4,
        ),
    }
    pipe = MultiTablePipeline(spark, stores, CFG)
    mid = frames[len(frames) // 2][0]
    m1 = pipe.apply_frames(fdf.where(f"frame_seq <= {mid}"), batch_id=1)
    m2 = pipe.apply_frames(fdf, batch_id=2)
    assert set(m1["tables"]) == {"transcripts", "doc_tags"}

    assert _tt_state(stores["transcripts"]) == {
        ("c1", 0): "hello2", ("c2", 0): "fresh",
    }
    assert _dt_state(stores["doc_tags"]) == {
        "d1": ("sports", 11), "d3": ("tech", 7),
    }
    # the untracked audit_log table reached neither store, and its
    # unknown columns never evolved a tracked schema
    for s in stores.values():
        names = [c.name for c in s.schema.columns]
        assert "payload" not in names and "audit_id" not in names
    # replay of the full stream is a no-op (per-store watermark)
    m3 = pipe.apply_frames(fdf, batch_id=3)
    for t in stores:
        assert m3["tables"][t].get("applied_keys", 0) == 0
    assert _tt_state(stores["transcripts"]) == {
        ("c1", 0): "hello2", ("c2", 0): "fresh",
    }


def test_lagging_store_catches_up(spark, tmpdir_path):
    changes = [
        tt("INSERT", "c1", 0, "one"),
        dt("INSERT", "d1", "x", 1),
        tt("INSERT", "c1", 1, "two"),
        dt("INSERT", "d2", "y", 2),
    ]
    frames = encode_routed_changes(changes, CFG, txn_every=2)
    fdf = _write_frames(
        spark, frames, os.path.join(tmpdir_path, "frames.parquet")
    )
    tt_store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "tt"), transcripts_schema(),
        num_buckets=2,
    )
    # transcripts applied alone first (doc_tags store doesn't exist yet)
    IngestPipeline(spark, tt_store, CFG).apply_frames(fdf, batch_id=1)
    assert len(_tt_state(tt_store)) == 2

    dt_store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "dt"), doc_tags_schema(),
        num_buckets=2,
    )
    pipe = MultiTablePipeline(
        spark, {"transcripts": tt_store, "doc_tags": dt_store}, CFG
    )
    m = pipe.apply_frames(fdf, batch_id=2)
    # doc_tags catches up from ITS watermark; transcripts skips
    assert _dt_state(dt_store) == {"d1": ("x", 1), "d2": ("y", 2)}
    assert m["tables"]["transcripts"].get("applied_keys", 0) == 0
    assert len(_tt_state(tt_store)) == 2


def test_single_table_pipeline_untracked_does_not_poison(spark, tmpdir_path):
    """The single-table pipeline must also ignore a foreign table's
    unknown columns: before the per-table probe, audit_log's 'payload'
    would have evolved the transcripts schema."""
    changes = [
        tt("INSERT", "c1", 0, "keep"),
        au("INSERT", "a1"),
        au("INSERT", "a2"),
    ]
    frames = encode_routed_changes(changes, CFG, txn_every=10)
    fdf = _write_frames(
        spark, frames, os.path.join(tmpdir_path, "frames.parquet")
    )
    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "t"), transcripts_schema(),
        num_buckets=2,
    )
    IngestPipeline(spark, store, CFG).apply_frames(fdf, batch_id=1)
    store.refresh()
    names = [c.name for c in store.schema.columns]
    assert "payload" not in names and "audit_id" not in names
    assert _tt_state(store) == {("c1", 0): "keep"}


def test_multi_table_evolution_is_per_table(spark, tmpdir_path):
    changes = [
        tt("INSERT", "c1", 0, "a"),
        dt("INSERT", "d1", "x", 1),
        # transcripts grows a 'model' column mid-stream
        tt("INSERT", "c1", 1, "b",
           extra=[("model", "m-7", wire.OID_TEXT)]),
    ]
    frames = encode_routed_changes(changes, CFG, txn_every=1)
    fdf = _write_frames(
        spark, frames, os.path.join(tmpdir_path, "frames.parquet")
    )
    stores = {
        "transcripts": SnapshotStore.create(
            spark, os.path.join(tmpdir_path, "tt"), transcripts_schema(),
            num_buckets=2,
        ),
        "doc_tags": SnapshotStore.create(
            spark, os.path.join(tmpdir_path, "dt"), doc_tags_schema(),
            num_buckets=2,
        ),
    }
    MultiTablePipeline(spark, stores, CFG).apply_frames(fdf, batch_id=1)
    for s in stores.values():
        s.refresh()
    tt_names = [c.name for c in stores["transcripts"].schema.columns]
    dt_names = [c.name for c in stores["doc_tags"].schema.columns]
    assert "model" in tt_names and "model" not in dt_names
    rows = {
        (r["conv_id"], r["turn_idx"]): r["model"]
        for r in stores["transcripts"].read_table().collect()
    }
    assert rows == {("c1", 0): None, ("c1", 1): "m-7"}


def test_multi_table_merges_keep_callers_job_group(spark, tmpdir_path):
    """Per-table merges run on pool threads; under pinned-thread mode
    each must inherit the caller's Spark local properties, so every
    job of the batch lands in the caller's job group (a plain pool
    thread would run its jobs with no group at all)."""
    changes = [
        tt("INSERT", "c1", 0, "a"),
        dt("INSERT", "d1", "x", 1),
        tt("INSERT", "c1", 1, "b"),
        dt("INSERT", "d2", "y", 2),
    ]
    frames = encode_routed_changes(changes, CFG, txn_every=2)
    fdf = _write_frames(
        spark, frames, os.path.join(tmpdir_path, "frames.parquet")
    )
    stores = {
        "transcripts": SnapshotStore.create(
            spark, os.path.join(tmpdir_path, "tt"), transcripts_schema(),
            num_buckets=2,
        ),
        "doc_tags": SnapshotStore.create(
            spark, os.path.join(tmpdir_path, "dt"), doc_tags_schema(),
            num_buckets=2,
        ),
    }
    pipe = MultiTablePipeline(spark, stores, CFG)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("multi_table_apply", "two-table batch")
    try:
        pipe.apply_frames(fdf, batch_id=1)
    finally:
        sc._jsc.clearJobGroup()
    assert tracker.getJobIdsForGroup("multi_table_apply")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert _dt_state(stores["doc_tags"]) == {"d1": ("x", 1), "d2": ("y", 2)}


def test_union_schema_conflict_raises():
    a = TargetSchema(
        "a", [TargetColumn("k", wire.OID_TEXT, "string", is_key=True),
              TargetColumn("v", wire.OID_INT4, "int")],
    )
    b = TargetSchema(
        "b", [TargetColumn("k", wire.OID_TEXT, "string", is_key=True),
              TargetColumn("v", wire.OID_TEXT, "string")],
    )
    with pytest.raises(ValueError, match="conflicting types"):
        union_schema([a, b])
    # same types merge fine, is_key ORs
    c = TargetSchema(
        "c", [TargetColumn("v", wire.OID_INT4, "int", is_key=True)],
    )
    u = union_schema([a, c])
    assert u.column("v").is_key


def test_streaming_multi_table_routing(spark, tmpdir_path):
    """run_stream_multi: micro-batched file-source consume (1 file per
    trigger, cuts land mid-transaction) routed into two stores; both
    converge, and the pending-tail carryover + per-store watermarks
    keep the replay exactly-once."""
    import pyarrow.parquet as pq

    from pg_pb3_ld_spark.streaming.runner import run_stream_multi

    changes = []
    for i in range(30):
        changes.append(tt("INSERT", f"c{i % 5}", i % 4, f"t{i}"))
        changes.append(dt("INSERT", f"d{i % 7}", f"l{i}", i))
    frames = encode_routed_changes(changes, CFG, txn_every=4)
    land = os.path.join(tmpdir_path, "landing")
    os.makedirs(land)
    # one parquet file per 3 frames, increasing mtimes
    import time as _time

    from pg_pb3_ld_spark.generator import _frames_table

    for i in range(0, len(frames), 3):
        pq.write_table(
            _frames_table(frames[i:i + 3]),
            os.path.join(land, f"f{i:04d}.parquet"),
        )
        _time.sleep(0.02)
    stores = {
        "transcripts": SnapshotStore.create(
            spark, os.path.join(tmpdir_path, "tt"), transcripts_schema(),
            num_buckets=2,
        ),
        "doc_tags": SnapshotStore.create(
            spark, os.path.join(tmpdir_path, "dt"), doc_tags_schema(),
            num_buckets=2,
        ),
    }
    metrics = run_stream_multi(
        spark, land, stores, CFG,
        checkpoint_dir=os.path.join(tmpdir_path, "ckpt"),
        max_files_per_trigger=4,
    )
    assert len(metrics) >= 2  # genuinely micro-batched
    # expected last-wins states
    want_tt = {}
    want_dt = {}
    for i in range(30):
        want_tt[(f"c{i % 5}", i % 4)] = f"t{i}"
        want_dt[f"d{i % 7}"] = (f"l{i}", i)
    assert _tt_state(stores["transcripts"]) == want_tt
    assert _dt_state(stores["doc_tags"]) == want_dt
