"""Round-2 hardening tests (ADVICE.md items).

1. int2/smallint: additive evolution over a stream carrying an int2
   column must not crash the fused typed decode (`_arrow_type` gap),
   and binary int2 must decode signed at 16-bit width on BOTH decode
   paths (vectorized pgtypes and the JVM projection).
2. offset_idx bound: the fold packs WAL order into
   (frame_seq << 20 | offset_idx); the encoder must flush at the
   message-count cap and the decoder must reject over-long frames.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from pg_pb3_ld_spark.config import EngineConfig
from pg_pb3_ld_spark.pb3 import wire
from pg_pb3_ld_spark.pb3.decoder import (
    WireFormatError,
    _check_offset_bound,
    decode_frames,
)
from pg_pb3_ld_spark.pb3.encoder import (
    FieldValue,
    WireBatcher,
    encode_field_set,
    encode_insert,
    encode_table,
)
from pg_pb3_ld_spark.pb3.pgtypes import encode_value
from pg_pb3_ld_spark.schema import TargetColumn


def _cfg(**kw):
    return EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184", **kw,
    )


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
    from pg_pb3_ld_spark.generator import GeneratedStream, write_frames_parquet
    from pg_pb3_ld_spark.pipeline import IngestPipeline
    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    cfg = _cfg()
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


def test_int2_binary_jvm_projection_signed(spark):
    """ADVICE #3: the JVM probe projection must wrap binary int2 at
    2^15 — 0xFFFF is -1, not 65535."""
    from pg_pb3_ld_spark.operators.project import (
        project_evolved_from_probe,
    )

    df = spark.createDataFrame(
        [(["v"], [b"\xff\xff"], [False], [True])],
        "_x_names array<string>, _x_values array<binary>, "
        "_x_nulls array<boolean>, _x_formats array<boolean>",
    )
    col = TargetColumn("v", wire.OID_INT2, "smallint")
    out = project_evolved_from_probe(df, [col]).collect()[0]
    assert out["v"] == -1 and out["v_set"]


def test_offset_bound_guard():
    _check_offset_bound(np.array([wire.MAX_FRAME_MESSAGES - 1]))
    with pytest.raises(WireFormatError, match="more than"):
        _check_offset_bound(np.array([wire.MAX_FRAME_MESSAGES]))


def test_encoder_flushes_at_message_cap(monkeypatch):
    """ADVICE #4: a huge wire_message_target_size must not produce
    frames whose offset_idx overflows the WAL-order packing — the
    batcher flushes at the message-count cap."""
    monkeypatch.setattr(wire, "MAX_FRAME_MESSAGES", 8)
    cfg = _cfg(wire_message_target_size=1 << 30)
    td = encode_table("public", "transcripts")
    batcher = WireBatcher(cfg)
    batcher.begin_txn()
    for i in range(30):
        cols = [FieldValue("conv_id", f"c{i}".encode(), wire.OID_TEXT)]
        batcher.change(
            wire.WMSG_INSERT,
            encode_insert(td, encode_field_set(cols)),
        )
    batcher.commit_txn()
    frames = batcher.frames()
    assert len(frames) > 1  # cap forced mid-txn flushes
    lsns = np.array([f[0] for f in frames], dtype=np.int64)
    seqs = np.arange(len(frames), dtype=np.int64)
    batch = decode_frames([f[1] for f in frames], lsns, seqs)
    idx = batch.column("offset_idx").to_numpy(zero_copy_only=False)
    assert int(idx.max()) < 8
    # all 30 changes + begin/commit markers survive the re-framing
    ops = batch.column("op").to_pylist()
    assert ops.count("INSERT") == 30
    assert ops.count("COMMIT") == 1


def _key_change_stream(cfg):
    """INSERT (c0,0) and (c0,1); then UPDATE that moves (c0,1) to
    (c0,7) — key_fields carry the OLD key, new_values the NEW key
    (pg_pb3_ld.c:370-380 replica-identity projection of the old
    tuple)."""
    from pg_pb3_ld_spark.pb3.encoder import encode_update

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
    from pg_pb3_ld_spark.generator import GeneratedStream, write_frames_parquet
    from pg_pb3_ld_spark.pipeline import IngestPipeline
    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    cfg = _cfg()
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


def test_same_key_update_does_not_split(spark):
    """An UPDATE whose key_fields == new_values key stays one PATCH."""
    from pg_pb3_ld_spark.operators.decode import decode_typed_changes
    from pg_pb3_ld_spark.schema import transcripts_schema

    cfg = _cfg()
    frames = _key_change_stream(cfg)
    import pandas as pd

    fdf = spark.createDataFrame(
        pd.DataFrame(
            {"frame_seq": [f[0] for f in frames],
             "lsn": [f[1] for f in frames],
             "frame": [f[2] for f in frames]}
        )
    )
    typed = decode_typed_changes(fdf, transcripts_schema(), cfg).collect()
    ops = sorted(r["op"] for r in typed)
    # 2 inserts + split (DELETE+INSERT) + begin/commit markers
    assert ops.count("INSERT") == 3
    assert ops.count("DELETE") == 1
    assert ops.count("UPDATE") == 0


def test_strict_frame_order_guard_fires(spark, tmpdir_path):
    """A batch with a missing middle frame must fail fast (the LSN
    watermark would otherwise silently drop the late frame as a
    replay).  The density evidence rides the summary aggregation —
    no separate pre-decode action."""
    from pg_pb3_ld_spark.generator import generate_stream, write_frames_parquet
    from pg_pb3_ld_spark.pipeline import IngestPipeline
    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

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
    pipe = IngestPipeline(spark, store, _cfg())
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
