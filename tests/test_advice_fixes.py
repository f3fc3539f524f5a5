"""Round-2 hardening tests (ADVICE.md items).

1. int2/smallint: additive evolution over a stream carrying an int2
   column must not crash the fused typed decode (`_arrow_type` gap),
   and binary int2 must decode signed at 16-bit width on BOTH decode
   paths (vectorized pgtypes and the JVM projection).
2. offset_idx bound: the fold packs WAL order into
   (frame_seq << 20 | offset_idx); the encoder must flush at the
   message-count cap and the decoder must reject over-long frames.

The end-to-end apply tests of these fixes (int2 evolution, key-changing
UPDATE split, frame-order guard) live in ``test_pipeline.py``.
"""

from __future__ import annotations

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
from pg_pb3_ld_spark.schema import TargetColumn
from tests.test_pipeline import _key_change_stream


def _cfg(**kw):
    return EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184", **kw,
    )


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
