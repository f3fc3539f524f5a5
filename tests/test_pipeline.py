"""End-to-end apply-semantics tests vs the Python oracle.

The analog of the reference fuzzer's oracle loop
(``tests/fuzzer/fuzzer.go:369-405``): generate a deterministic change
stream, run the full Spark pipeline, and require the final table
state to equal the single-threaded oracle **per-turn text equality
with stable turn ordering** (BASELINE.json invariant).
"""

from __future__ import annotations

import os

import pytest

from pg_pb3_ld_spark.config import EngineConfig
from pg_pb3_ld_spark.generator import GeneratedStream, generate_stream, write_frames_parquet
from pg_pb3_ld_spark.pb3 import wire
from pg_pb3_ld_spark.pb3.encoder import (
    FieldValue,
    WireBatcher,
    encode_field_set,
    encode_insert,
    encode_table,
    encode_update,
)
from pg_pb3_ld_spark.pb3.pgtypes import encode_value
from pg_pb3_ld_spark.pipeline import IngestPipeline
from pg_pb3_ld_spark.schema import transcripts_schema
from pg_pb3_ld_spark.sinks.store import SnapshotStore


def _stream_cfg(**kw):
    return EngineConfig(
        type_oids_mode="omit_nulls",
        formats_mode="disabled",
        binary_oid_ranges="20-23,1184",
        **kw,
    )


@pytest.fixture(scope="module")
def stream() -> GeneratedStream:
    return generate_stream(seed=7, n_convs=25, max_turns=10, n_extra_txns=80)


def _frames_df(spark, stream, path):
    write_frames_parquet(stream, path)
    return spark.read.parquet(path)


def _final_state(store: SnapshotStore):
    rows = store.read_table().collect()
    return {
        (r["conv_id"], r["turn_idx"]): r.asDict() for r in rows
    }


def _assert_matches_oracle(store: SnapshotStore, stream: GeneratedStream):
    got = _final_state(store)
    assert set(got.keys()) == set(stream.oracle.keys())
    for key, exp in stream.oracle.items():
        g = got[key]
        for col, v in exp.items():
            gv = g.get(col)
            if col == "ts" and gv is not None:
                import datetime

                gv = gv.replace(tzinfo=datetime.timezone.utc)
            assert gv == v, f"{key} col {col}: got {gv!r} want {v!r}"
    # stable turn ordering: reading one conversation ordered by
    # turn_idx must produce exactly the oracle's turn sequence
    conv = sorted({k[0] for k in stream.oracle})[0]
    turns = [
        r["turn_idx"]
        for r in store.read_table()
        .where(f"conv_id = '{conv}'")
        .orderBy("turn_idx")
        .collect()
    ]
    assert turns == sorted(k[1] for k in stream.oracle if k[0] == conv)


def test_full_apply_matches_oracle(spark, stream, tmpdir_path):
    frames = _frames_df(spark, stream, os.path.join(tmpdir_path, "frames.parquet"))
    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "table"),
        __import__("pg_pb3_ld_spark.schema", fromlist=["transcripts_schema"]).transcripts_schema(),
        num_buckets=8,
    )
    pipe = IngestPipeline(spark, store, _stream_cfg())
    metrics = pipe.apply_frames(frames, batch_id=1)
    assert metrics["applied_changes"] == stream.n_changes
    assert metrics["rows_written"] > 0
    # schema evolution (D7): 'model' column appeared mid-stream
    assert any(c.name == "model" for c in store.schema.columns)
    _assert_matches_oracle(store, stream)


def test_replay_is_idempotent(spark, stream, tmpdir_path):
    """Exactly-once (D6): applying the same frames again is a no-op,
    and a partial replay from mid-stream converges too."""
    from pg_pb3_ld_spark.schema import transcripts_schema

    frames = _frames_df(spark, stream, os.path.join(tmpdir_path, "frames.parquet"))
    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "table"), transcripts_schema(), num_buckets=8
    )
    pipe = IngestPipeline(spark, store, _stream_cfg())
    m1 = pipe.apply_frames(frames, batch_id=1)
    snap1 = store.snapshot_id
    # full replay: watermark drops every frame
    m2 = pipe.apply_frames(frames, batch_id=2)
    assert m2.get("skipped") or m2["applied_keys"] == 0
    assert store.snapshot_id == snap1
    _assert_matches_oracle(store, stream)


def test_split_batches_equal_single_batch(spark, stream, tmpdir_path):
    """Applying the stream in 3 chronological batches produces the
    same final state as one batch (checkpoint-resume semantics)."""
    from pg_pb3_ld_spark.schema import transcripts_schema

    frames = _frames_df(spark, stream, os.path.join(tmpdir_path, "frames.parquet"))
    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "table"), transcripts_schema(), num_buckets=8
    )
    pipe = IngestPipeline(spark, store, _stream_cfg())
    n = len(stream.frames)
    cut1, cut2 = stream.frames[n // 3][0], stream.frames[2 * n // 3][0]
    pipe.apply_frames(frames.where(f"frame_seq < {cut1}"), batch_id=1)
    pipe.apply_frames(frames.where(f"frame_seq < {cut2}"), batch_id=2)
    pipe.apply_frames(frames, batch_id=3)
    _assert_matches_oracle(store, stream)
    # lineage recorded per bucket with LSN ranges
    lineage = store.lineage()
    assert lineage
    for b, info in lineage.items():
        assert info["lsn_range"][0] <= info["lsn_range"][1]


def test_overlapping_replay_mid_stream(spark, stream, tmpdir_path):
    """Re-sending an already-applied frame range mid-stream (the
    reference's reconnect idiom, fuzzer.go:389-391) must not
    double-apply."""
    from pg_pb3_ld_spark.schema import transcripts_schema

    frames = _frames_df(spark, stream, os.path.join(tmpdir_path, "frames.parquet"))
    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "table"), transcripts_schema(), num_buckets=8
    )
    pipe = IngestPipeline(spark, store, _stream_cfg())
    n = len(stream.frames)
    cut = stream.frames[n // 2][0]
    pipe.apply_frames(frames.where(f"frame_seq < {cut}"), batch_id=1)
    # replay overlaps: second batch re-sends everything from zero
    pipe.apply_frames(frames, batch_id=2)
    _assert_matches_oracle(store, stream)


def test_key_move_at_frame_boundary_applies(spark, tmpdir_path):
    """Tiny frames force key-move UPDATEs to land at offset_idx 0;
    the strict_frame_order guard must NOT fire on in-order input and
    the final table must match the generator oracle."""
    cfg = _stream_cfg(wire_message_target_size=256)
    stream = generate_stream(
        seed=73, n_convs=6, max_turns=5, n_extra_txns=40,
        config=cfg, key_move_prob=0.3,
    )
    fp = os.path.join(tmpdir_path, "frames.parquet")
    write_frames_parquet(stream, fp)
    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "t"), transcripts_schema(),
        num_buckets=4,
    )
    pipe = IngestPipeline(spark, store, cfg)
    assert cfg.strict_frame_order  # the guard is ON — and must not fire
    pipe.apply_frames(spark.read.parquet(fp), batch_id=1)
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in store.read_table().collect()
    }
    want = {k: v["text"] for k, v in stream.oracle.items()}
    assert got == want


# seed sweep: full apply vs generator oracle across varied stream
# shapes (key moves + tiny frames stress the split/guard path)
@pytest.mark.parametrize("seed,wire_target,key_move", [
    (311, 512, 0.25),
    (313, 4096, 0.0),
    (317, 128, 0.4),
])
def test_pipeline_seed_sweep(spark, tmpdir_path, seed, wire_target, key_move):
    cfg = _stream_cfg(wire_message_target_size=wire_target)
    stream = generate_stream(
        seed=seed, n_convs=5, max_turns=4, n_extra_txns=25,
        config=cfg, key_move_prob=key_move,
    )
    fp = os.path.join(tmpdir_path, "frames.parquet")
    write_frames_parquet(stream, fp)
    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "t"), transcripts_schema(),
        num_buckets=4,
    )
    IngestPipeline(spark, store, cfg).apply_frames(
        spark.read.parquet(fp), batch_id=1
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in store.read_table().collect()
    }
    assert got == {k: v["text"] for k, v in stream.oracle.items()}


def _int2_stream(cfg):
    """INSERTs over transcripts where later rows add an int2 'score'
    column (binary send form — oid 21 is inside binary_oid_ranges)."""
    td = encode_table("public", "transcripts")
    batcher = WireBatcher(cfg)
    rows = []
    for i in range(6):
        score = None if i < 3 else (i - 4) * 12345  # -12345, 0, 12345
        cols = [
            FieldValue("conv_id", f"c{i}".encode(), wire.OID_TEXT),
            FieldValue(
                "turn_idx", encode_value(0, wire.OID_INT4, True),
                wire.OID_INT4, is_binary=True,
            ),
            FieldValue("text", f"t{i}".encode(), wire.OID_TEXT),
        ]
        if score is not None:
            cols.append(
                FieldValue(
                    "score", encode_value(score, wire.OID_INT2, True),
                    wire.OID_INT2, is_binary=True,
                )
            )
        batcher.begin_txn()
        batcher.change(
            wire.WMSG_INSERT,
            encode_insert(
                td, encode_field_set(cols, cfg.type_oids_mode, cfg.formats_mode)
            ),
        )
        batcher.commit_txn()
        rows.append((f"c{i}", score))
    frames = [(s, lsn, fr) for s, (lsn, fr) in enumerate(batcher.frames())]
    return frames, rows


def test_int2_schema_evolution_e2e(spark, tmpdir_path):
    """A mid-stream int2 column evolves into a smallint column and the
    fused Arrow decode path types it correctly (ADVICE #1)."""
    cfg = _stream_cfg()
    frames, rows = _int2_stream(cfg)
    stream = GeneratedStream(frames, {}, transcripts_schema(), len(rows), len(rows))
    fp = os.path.join(tmpdir_path, "frames.parquet")
    write_frames_parquet(stream, fp)
    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "table"), transcripts_schema(),
        num_buckets=4,
    )
    IngestPipeline(spark, store, cfg).apply_frames(
        spark.read.parquet(fp), batch_id=1
    )
    schema = store.schema
    assert schema.column("score").spark_type == "smallint"
    got = {
        r["conv_id"]: r["score"] for r in store.read_table().collect()
    }
    assert got == {c: s for c, s in rows}
    # signedness: -12345 must round-trip, not wrap to 53191
    assert got["c3"] == -12345


def _key_change_stream(cfg):
    """INSERT (c0,0) and (c0,1); then UPDATE that moves (c0,1) to
    (c0,7) — key_fields carry the OLD key, new_values the NEW key
    (pg_pb3_ld.c:370-380 replica-identity projection of the old
    tuple)."""
    td = encode_table("public", "transcripts")
    batcher = WireBatcher(cfg)

    def _fv(name, value, oid, binary=False):
        return FieldValue(
            name, encode_value(value, oid, binary), oid, is_binary=binary
        )

    batcher.begin_txn()
    for turn, text in ((0, "keep"), (1, "moves")):
        cols = [
            _fv("conv_id", "c0", wire.OID_TEXT),
            _fv("turn_idx", turn, wire.OID_INT4, True),
            _fv("role", "user", wire.OID_TEXT),
            _fv("text", text, wire.OID_TEXT),
        ]
        batcher.change(
            wire.WMSG_INSERT,
            encode_insert(td, encode_field_set(cols, cfg.type_oids_mode)),
        )
    batcher.commit_txn()
    batcher.begin_txn()
    old_key = [
        _fv("conv_id", "c0", wire.OID_TEXT),
        _fv("turn_idx", 1, wire.OID_INT4, True),
    ]
    new_vals = [
        _fv("conv_id", "c0", wire.OID_TEXT),
        _fv("turn_idx", 7, wire.OID_INT4, True),
        _fv("text", "moved", wire.OID_TEXT),
    ]
    batcher.change(
        wire.WMSG_UPDATE,
        encode_update(
            td,
            encode_field_set(old_key, cfg.type_oids_mode),
            encode_field_set(new_vals, cfg.type_oids_mode),
        ),
    )
    batcher.commit_txn()
    return [(s, lsn, fr) for s, (lsn, fr) in enumerate(batcher.frames())]


def test_key_changing_update_splits(spark, tmpdir_path):
    """ADVICE #2: an UPDATE that changes a key column must land as
    DELETE(old key) + INSERT(new key), not a patch of the old row."""
    cfg = _stream_cfg()
    frames = _key_change_stream(cfg)
    stream = GeneratedStream(frames, {}, transcripts_schema(), 3, 2)
    fp = os.path.join(tmpdir_path, "frames.parquet")
    write_frames_parquet(stream, fp)
    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "t"), transcripts_schema(),
        num_buckets=4,
    )
    IngestPipeline(spark, store, cfg).apply_frames(
        spark.read.parquet(fp), batch_id=1
    )
    rows = {
        (r["conv_id"], r["turn_idx"]): r
        for r in store.read_table().collect()
    }
    assert set(rows) == {("c0", 0), ("c0", 7)}  # (c0,1) moved away
    assert rows[("c0", 7)]["text"] == "moved"
    # TOAST-omitted column on the moving UPDATE (role) is NULL at the
    # new key — the old-key value is unknowable to a row movement
    assert rows[("c0", 7)]["role"] is None
    assert rows[("c0", 0)]["text"] == "keep"


def test_strict_frame_order_guard_fires(spark, tmpdir_path):
    """A batch with a missing middle frame must fail fast (the LSN
    watermark would otherwise silently drop the late frame as a
    replay).  The density evidence rides the summary aggregation —
    no separate pre-decode action."""
    stream = generate_stream(seed=71, n_convs=5, max_turns=4, n_extra_txns=8)
    fp = os.path.join(tmpdir_path, "frames.parquet")
    write_frames_parquet(stream, fp)
    n = len(stream.frames)
    assert n >= 4
    frames = spark.read.parquet(fp)
    holey = frames.where(f"frame_seq != {n // 2}")  # drop a middle frame

    store = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "t"), transcripts_schema(),
        num_buckets=4,
    )
    pipe = IngestPipeline(spark, store, _stream_cfg())
    with pytest.raises(RuntimeError, match="out-of-order frame delivery"):
        pipe.apply_frames(holey, batch_id=1)
    # nothing was applied — the guard ran before any write
    assert store.read_table().count() == 0
    # dense delivery afterwards still applies cleanly
    pipe.apply_frames(frames, batch_id=2)
    got = {
        (r["conv_id"], r["turn_idx"]) for r in store.read_table().collect()
    }
    assert got == set(stream.oracle.keys())
