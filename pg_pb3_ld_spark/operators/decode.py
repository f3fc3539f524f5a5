"""D1+D2 — frame split, protobuf decode and typed projection as ONE
Spark operator.

``decode_typed_changes`` lifts the vectorized codec
(``pg_pb3_ld_spark.pb3.decoder.decode_frame_typed``) into a
``mapInArrow`` stage: the only Python in the whole pipeline.  Input
is the raw-ingest DataFrame ``(frame_seq long, lsn long, frame
binary)``; output is one narrow typed row per message, cast inside the
same pass.  Everything downstream (commit gate, fold, merge) is
JVM-side Catalyst work.

Scale notes: one frame ≈ ≤4 MiB (producer flush target,
``decoder/pg_pb3_ld.c:96-97``); each Arrow batch is decoded in slices
of at most ``ARROW_BATCH_BYTES`` wire bytes so executor memory stays
bounded regardless of upstream batch sizing.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from pg_pb3_ld_spark.config import EngineConfig

# Wire bytes per decode slice: one ``decode_frame_typed`` call sees at
# most this much of an Arrow batch (frames are never split).
ARROW_BATCH_BYTES = 64 * 1024 * 1024

# Target SOURCE bytes per decode task for the adaptive repartition
# (the size estimate sees compressed parquet, ~3-4x smaller than the
# wire bytes): enough that the vectorized codec amortizes per-batch
# setup (~3-4 MB of wire per task), small enough that a bench-scale
# stream still fans out across every core.
_DECODE_TARGET_BYTES = 1 << 20


def _adaptive_parallelism(frames_df: DataFrame, parallelism: int) -> int:
    """Scale the decode fan-out to the INPUT SIZE instead of a flat
    core count (guide §2: partitioning must be scale-adaptive): a
    replay batch of a few hundred KB decodes in one task with no
    shuffle, while anything ≥ parallelism × 1 MiB still spreads over
    every core.  Uses the optimizer's size estimate (driver-side
    metadata only, no job); falls back to the flat count."""
    try:
        size = int(
            frames_df._jdf.queryExecution().optimizedPlan().stats()
            .sizeInBytes()
        )
    except Exception:
        return parallelism
    if size <= 0 or size > (1 << 60):  # unknown/absurd estimate
        return parallelism
    return max(
        1, min(parallelism, -(-size // _DECODE_TARGET_BYTES))
    )


def decode_typed_changes(
    frames_df: DataFrame,
    schema,
    config: EngineConfig | None = None,
    parallelism: int | None = None,
    quarantine: bool = False,
) -> DataFrame:
    """D1+D2 fused: frames → typed change rows in ONE Arrow stage.

    The merge hot path: value casting happens vectorized inside the
    Python stage (see ``pb3.decoder.decode_frame_typed``), so the
    shuffle carries narrow typed rows instead of wide array columns,
    and no JVM re-shaping (array_position / hex / conv) runs at all.
    The ``_x_names``/``_x_oids`` probe columns (null unless a message
    carries columns outside ``schema``) let the pipeline derive the
    commit watermark AND the schema-evolution probe from this one
    stage — the frame stream is decoded exactly once per batch.

    ``parallelism``: frames land in few large files (one walsender
    stream), so a raw scan yields only bytes/128 MiB partitions — far
    under the core count.  A cheap round-robin repartition of the
    (small, compressed) frame rows spreads the Python decode across
    the cluster, sized from the input bytes; downstream shuffles
    re-key anyway, so no ordering is lost (ordering lives in
    (frame_seq, offset_idx), not partition layout).

    ``quarantine=True`` (dead-letter mode): a frame that fails the
    wire parse no longer kills the job — the batch decode is retried
    frame-by-frame and the poison frames come back as rows with
    ``_err`` (the wire error) and ``_raw`` (the original frame bytes
    for forensics) set, ``op='error'``, ``offset_idx=0`` (so the
    transport-order density guard still counts the frame) and every
    table column null.  The clean path stays OPTIMISTIC — the
    per-frame retry runs only on a slice that actually raised, so a
    100 TB scan with no corruption pays nothing but the two extra
    null columns.  Default off: the schema (and the hot path) are
    byte-identical to previous rounds.
    """
    from pg_pb3_ld_spark.pb3.decoder import (
        WireFormatError,
        decode_frame_typed,
        typed_arrow_schema,
    )

    cfg = config or EngineConfig()
    out_ddl = (
        "frame_seq long, lsn long, offset_idx int, op string, "
        "table_name string, "
        + ", ".join(
            f"{c.name} {c.spark_type}, {c.name}_set boolean"
            for c in schema.columns
        )
        + ", _x_names array<string>, _x_oids array<long>"
        + ", _x_values array<binary>, _x_nulls array<boolean>"
        + ", _x_formats array<boolean>, _split boolean"
    )
    if quarantine:
        out_ddl += ", _err string, _raw binary"

    def _with_quarantine_cols(out: "pa.RecordBatch") -> "pa.RecordBatch":
        out = out.append_column(
            pa.field("_err", pa.string()), pa.nulls(out.num_rows, pa.string())
        )
        return out.append_column(
            pa.field("_raw", pa.binary()), pa.nulls(out.num_rows, pa.binary())
        )

    def _decode_with_retry(fr, ls, sq):
        """Whole-slice decode; per-frame fallback ONLY on wire error."""
        arrow_schema = typed_arrow_schema(schema)
        try:
            return [_with_quarantine_cols(
                decode_frame_typed(fr, ls, sq, schema, cfg)
            )]
        except WireFormatError:
            pass
        outs = []
        for i in range(len(fr)):
            one = fr.slice(i, 1)
            try:
                outs.append(_with_quarantine_cols(
                    decode_frame_typed(one, ls[i:i + 1], sq[i:i + 1],
                                       schema, cfg)
                ))
            except WireFormatError as exc:
                q_schema = pa.schema(
                    list(arrow_schema)
                    + [pa.field("_err", pa.string()),
                       pa.field("_raw", pa.binary())]
                )
                outs.append(pa.RecordBatch.from_pylist(
                    [{
                        "frame_seq": int(sq[i]),
                        "lsn": int(ls[i]),
                        "offset_idx": 0,
                        "op": "error",
                        # _split=False (not null): the density guard
                        # counts first-message rows via
                        # (offset_idx==0) & ~_split — a null would
                        # drop the quarantined frame from the count
                        # and trip the order guard on in-order input
                        "_split": False,
                        "_err": f"{type(exc).__name__}: {exc}",
                        "_raw": one[0].as_py(),
                    }],
                    schema=q_schema,
                ))
        return outs

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            seqs = batch.column("frame_seq").to_numpy(zero_copy_only=False)
            lsns = batch.column("lsn").to_numpy(zero_copy_only=False)
            frames = batch.column("frame")
            sizes = np.diff(
                np.frombuffer(
                    frames.buffers()[1],
                    dtype=np.int64 if pa.types.is_large_binary(frames.type) else np.int32,
                    count=n + 1 + frames.offset,
                )[frames.offset:].astype(np.int64)
            )
            cuts = [0]
            acc = 0
            for i, s in enumerate(sizes):
                acc += int(s)
                if acc >= ARROW_BATCH_BYTES:
                    cuts.append(i + 1)
                    acc = 0
            if cuts[-1] != n:
                cuts.append(n)
            for lo, hi in zip(cuts[:-1], cuts[1:]):
                if hi <= lo:
                    continue
                fr = frames.slice(lo, hi - lo)
                ls = lsns[lo:hi].astype(np.int64)
                sq = seqs[lo:hi].astype(np.int64)
                if quarantine:
                    for out in _decode_with_retry(fr, ls, sq):
                        if out.num_rows:
                            yield out
                else:
                    out = decode_frame_typed(fr, ls, sq, schema, cfg)
                    if out.num_rows:
                        yield out

    if parallelism:
        par = _adaptive_parallelism(frames_df, parallelism)
        if par > 1:
            frames_df = frames_df.repartition(par)
        else:
            frames_df = frames_df.coalesce(1)
    return frames_df.mapInArrow(fn, out_ddl)
