"""Vectorized pg_pb3_ld wire-format **decoder** (consumer side).

The productionized, columnar version of the reference's own test
consumers (``tests/common.go:190-296`` SQL-pull parser and
``tests/fuzzer/fuzzer.go:531-632`` streaming parser), designed for
Spark's ``mapInArrow``: no per-row / per-message Python.

Core idea — **lockstep parsing**: a protobuf stream must be read
sequentially, but every *message* is an independent stream, and the
frame header's offsets array (``pg_pb3.proto:15-18``) hands us all
message start positions up front.  So we parse *all* messages of a
batch simultaneously: one numpy cursor per message, advanced together,
one tag/varint decode per iteration across every active stream.  The
iteration count is bounded by the max field count per message (not by
row count), so all heavy work is numpy array ops.  The same trick is
applied recursively: frame headers are themselves parallel streams,
and so are all the nested ``FieldSetDescription`` payloads.

Frame layout (``decoder/utils.c:184-189``)::

    varint(header_len) ++ WireMessageHeader ++ body

with ``types[i]``/``offsets[i]`` parallel arrays in the header and
message length inferred from the next offset / end of body
(``tests/common.go:220-237``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pg_pb3_ld_spark.config import EngineConfig, MODE_DISABLED, MODE_FULL, MODE_OMIT_NULLS
from pg_pb3_ld_spark.pb3 import wire


class WireFormatError(ValueError):
    """Malformed pg_pb3_ld frame."""


# --------------------------------------------------------------------------
# numpy primitives
# --------------------------------------------------------------------------

def read_varints(data: np.ndarray, pos: np.ndarray):
    """Decode unsigned LEB128 varints starting at each ``pos``.

    Vectorized across positions: loops only over varint *bytes*
    (≤10 iterations), each iteration a numpy op over all pending
    positions.  Returns ``(values uint64, next_pos int64)``.
    """
    n = len(pos)
    size = len(data)
    cur = pos.astype(np.int64, copy=True)
    if n and (cur >= size).any():
        raise WireFormatError("varint runs past end of buffer")
    # fast path: first byte for ALL positions without an index gather
    # (the overwhelming majority of wire varints are 1 byte)
    b = data[cur]
    val = (b & np.uint8(0x7F)).astype(np.uint64)
    cur += 1
    pending = b >= np.uint8(0x80)
    if not pending.any():
        return val, cur
    shift = np.uint64(7)
    for _ in range(9):
        idx = np.flatnonzero(pending)
        c = cur[idx]
        if (c >= size).any():
            raise WireFormatError("varint runs past end of buffer")
        b = data[c]
        val[idx] |= (b & np.uint8(0x7F)).astype(np.uint64) << shift
        cur[idx] = c + 1
        shift += np.uint64(7)
        done = (b & np.uint8(0x80)) == 0
        pending[idx[done]] = False
        if not pending.any():
            return val, cur
    raise WireFormatError("varint longer than 10 bytes")


_ARANGE_CACHE = np.zeros(0, dtype=np.int64)


def _arange(total: int) -> np.ndarray:
    """Reused 0..total arange view — the gather paths need one per
    Arrow chunk and the allocation (hundreds of MB at 64 MiB chunk
    size) was ~15% of decode; the cache grows to the high-water mark
    and lives for the worker's lifetime."""
    global _ARANGE_CACHE
    if total > len(_ARANGE_CACHE):
        _ARANGE_CACHE = np.arange(
            max(total, 2 * len(_ARANGE_CACHE)), dtype=np.int64
        )
    return _ARANGE_CACHE[:total]


def _cumcount(sorted_keys: np.ndarray) -> np.ndarray:
    """Occurrence index within runs of equal values (input sorted)."""
    n = len(sorted_keys)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    boundaries = np.empty(n, dtype=bool)
    boundaries[0] = True
    boundaries[1:] = sorted_keys[1:] != sorted_keys[:-1]
    run_starts = np.flatnonzero(boundaries)
    idx = np.arange(n, dtype=np.int64)
    return idx - np.repeat(run_starts, np.diff(np.append(run_starts, n)))


def gather_slices(data: np.ndarray, offs: np.ndarray, lens: np.ndarray):
    """Pack variable-length slices into one contiguous buffer.

    Returns ``(packed uint8 array, offsets int64 array of len n+1)``.
    Fully vectorized: a single fancy-index gather.
    """
    n = len(offs)
    out_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=out_offsets[1:])
    total = out_offsets[-1]
    if total == 0:
        return np.zeros(0, dtype=np.uint8), out_offsets
    idx = np.repeat(offs - out_offsets[:-1], lens)
    idx += _arange(total)
    return data[idx], out_offsets


def _binary_array(data, offs, lens, mask=None, utf8=False):
    """Build a pyarrow (32-bit) binary/string array from slices."""
    packed, offsets = gather_slices(data, offs, lens)
    if offsets[-1] > np.iinfo(np.int32).max:
        raise WireFormatError("batch exceeds 2 GiB of packed values")
    typ = pa.utf8() if utf8 else pa.binary()
    validity = None
    if mask is not None and not mask.all():
        validity = pa.py_buffer(np.packbits(mask, bitorder="little"))
    return pa.Array.from_buffers(
        typ,
        len(offs),
        [validity, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(packed)],
    )


# --------------------------------------------------------------------------
# lockstep protobuf stream parser
# --------------------------------------------------------------------------

@dataclass
class FieldEntries:
    """All occurrences of one field number across a set of streams,
    sorted by (stream, in-stream order)."""

    stream: np.ndarray   # int64 stream index
    occ: np.ndarray      # int64 occurrence index within stream
    value: np.ndarray    # uint64 (varint fields) — zeros for len fields
    off: np.ndarray      # int64 payload offset (len fields)
    length: np.ndarray   # int64 payload length (len fields)


def parse_streams(
    data: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> dict[int, FieldEntries]:
    """Parse N independent protobuf streams in lockstep.

    Iterates over *field slots*, not rows: in iteration ``k`` every
    still-active stream decodes its k-th field (tag + value/length)
    with vectorized varint reads.  Unknown fields with wire types
    1/5 are skipped; wire types 3/4 (groups) are rejected.
    """
    pos = starts.astype(np.int64, copy=True)
    ends = ends.astype(np.int64, copy=False)
    n = len(pos)
    acc: dict[int, list] = {}
    k = 0
    active = np.flatnonzero(pos < ends)
    while len(active):
        tag, newpos = read_varints(data, pos[active])
        field = (tag >> np.uint64(3)).astype(np.int64)
        wtype = (tag & np.uint64(7)).astype(np.int64)
        pos[active] = newpos

        # wire type 0 — varint value
        m0 = wtype == wire.WIRE_VARINT
        if m0.any():
            s = active[m0]
            fm0 = field[m0]
            vals, npos = read_varints(data, pos[s])
            pos[s] = npos
            for f in np.unique(fm0):
                sel_local = fm0 == f
                acc.setdefault(int(f), []).append(
                    (s[sel_local], np.full(sel_local.sum(), k),
                     vals[sel_local], None, None)
                )

        # wire type 2 — length-delimited payload
        m2 = wtype == wire.WIRE_LEN
        if m2.any():
            s = active[m2]
            lens, npos = read_varints(data, pos[s])
            lens = lens.astype(np.int64)
            offs = npos
            pos[s] = npos + lens
            for f in np.unique(field[m2]):
                sel_local = field[m2] == f
                acc.setdefault(int(f), []).append(
                    (s[sel_local], np.full(sel_local.sum(), k), None,
                     offs[sel_local], lens[sel_local])
                )

        # fixed-width skips
        m64 = wtype == 1
        if m64.any():
            pos[active[m64]] += 8
        m32 = wtype == 5
        if m32.any():
            pos[active[m32]] += 4
        if ((wtype == 3) | (wtype == 4)).any():
            raise WireFormatError("unsupported protobuf group wire type")

        if (pos[active] > ends[active]).any():
            raise WireFormatError("field payload overruns stream end")
        k += 1
        active = np.flatnonzero(pos < ends)
        if k > 10_000_000:
            raise WireFormatError("runaway stream parse")

    out: dict[int, FieldEntries] = {}
    for f, chunks in acc.items():
        stream = np.concatenate([c[0] for c in chunks])
        kk = np.concatenate([c[1] for c in chunks])
        order = np.lexsort((kk, stream))
        stream = stream[order]
        value = (
            np.concatenate([c[2] for c in chunks])[order]
            if chunks[0][2] is not None
            else np.zeros(len(order), dtype=np.uint64)
        )
        off = (
            np.concatenate([c[3] for c in chunks])[order]
            if chunks[0][3] is not None
            else np.zeros(len(order), dtype=np.int64)
        )
        length = (
            np.concatenate([c[4] for c in chunks])[order]
            if chunks[0][4] is not None
            else np.zeros(len(order), dtype=np.int64)
        )
        out[f] = FieldEntries(stream, _cumcount(stream), value, off, length)
    return out


def _scalar_per_stream(entries: FieldEntries | None, n: int, kind: str):
    """Last-wins scalar field per stream (proto3 scalar semantics).

    Returns (present bool[n], value/off/len arrays of length n).
    """
    present = np.zeros(n, dtype=bool)
    val = np.zeros(n, dtype=np.uint64)
    off = np.zeros(n, dtype=np.int64)
    length = np.zeros(n, dtype=np.int64)
    if entries is not None and len(entries.stream):
        # entries sorted by (stream, occ): last occurrence wins
        present[entries.stream] = True
        val[entries.stream] = entries.value
        off[entries.stream] = entries.off
        length[entries.stream] = entries.length
    return present, val, off, length


# --------------------------------------------------------------------------
# field-set decoding
# --------------------------------------------------------------------------

@dataclass
class FieldSetColumns:
    """Flattened columns of a batch of FieldSetDescriptions.

    ``fsd_idx[i]`` says which field set the i-th column belongs to;
    within one fsd, entries appear in wire order (column order).
    """

    n_fsds: int
    fsd_idx: np.ndarray        # int64
    col_counts: np.ndarray     # int64 per fsd
    names: pa.Array            # utf8
    values: pa.Array           # binary (empty for NULLs)
    is_null: np.ndarray        # bool
    type_oids: np.ndarray      # int64 (0 = unknown / disabled mode)
    is_binary: np.ndarray      # bool


def decode_field_sets(
    data: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    config: EngineConfig,
    want_values: bool = True,
) -> FieldSetColumns:
    """Decode N FieldSetDescription payloads (parallel streams).

    Handles the three ``type_oids`` / ``formats`` alignment modes
    (``decoder/fsd.c:253-294``): in ``omit_nulls`` mode the oids and
    format bytes align with the *non-null* columns only, so we
    re-align them via a non-null occurrence index (vectorized
    cumcount) — the realignment logic the reference forces onto every
    consumer (README.md:51-93).
    """
    n = len(starts)
    parsed = parse_streams(data, starts, ends)
    names_e = parsed.get(wire.FSD_NAMES)
    values_e = parsed.get(wire.FSD_VALUES)

    if names_e is None or len(names_e.stream) == 0:
        empty_str = pa.array([], type=pa.utf8())
        empty_bin = pa.array([], type=pa.binary())
        z = np.zeros(0, dtype=np.int64)
        return FieldSetColumns(
            n, z, np.zeros(n, dtype=np.int64), empty_str, empty_bin,
            np.zeros(0, dtype=bool), z.copy(), np.zeros(0, dtype=bool),
        )
    if values_e is None or len(values_e.stream) != len(names_e.stream):
        raise WireFormatError("names/values count mismatch in field set")
    if (names_e.stream != values_e.stream).any() or (
        names_e.occ != values_e.occ
    ).any():
        raise WireFormatError("names/values misaligned in field set")

    fsd_idx = names_e.stream
    col_counts = np.bincount(fsd_idx, minlength=n).astype(np.int64)
    ncols_total = len(fsd_idx)

    # nulls bitmap: one byte per column, always present (fsd.c:267-275)
    nulls_p, _, nulls_off, nulls_len = _scalar_per_stream(
        parsed.get(wire.FSD_NULLS), n, "bytes"
    )
    if (~nulls_p & (col_counts > 0)).any():
        raise WireFormatError("field set missing nulls bitmap")
    if (nulls_len[nulls_p] != col_counts[nulls_p]).any():
        raise WireFormatError("nulls bitmap length != column count")
    col_occ = names_e.occ
    is_null = np.zeros(ncols_total, dtype=bool)
    if ncols_total:
        is_null = data[nulls_off[fsd_idx] + col_occ] != 0

    # type_oids: full → all columns; omit_nulls → non-null columns only
    type_oids = np.zeros(ncols_total, dtype=np.int64)
    oids_e = parsed.get(wire.FSD_TYPE_OIDS)
    if oids_e is not None and len(oids_e.stream):
        oid_counts = np.bincount(oids_e.stream, minlength=n)
        full_mask = oid_counts[fsd_idx] == col_counts[fsd_idx]
        # columns whose fsd carries a full oid vector: align by col_occ
        # (also covers omit_nulls fsds with zero NULLs)
        nn_occ = _cumcount_masked(fsd_idx, ~is_null)
        starts_per_fsd = np.zeros(n, dtype=np.int64)
        starts_per_fsd[1:] = np.cumsum(oid_counts)[:-1]
        oid_vals = oids_e.value.astype(np.int64)
        take_idx = np.where(
            full_mask, col_occ, np.where(is_null, -1, nn_occ)
        )
        sel = take_idx >= 0
        type_oids[sel] = oid_vals[starts_per_fsd[fsd_idx[sel]] + take_idx[sel]]

    # formats bitmap (fsd.c:277-294)
    is_binary = np.zeros(ncols_total, dtype=bool)
    fmts_p, _, fmts_off, fmts_len = _scalar_per_stream(
        parsed.get(wire.FSD_FORMATS), n, "bytes"
    )
    if fmts_p.any():
        full_mask = fmts_len[fsd_idx] == col_counts[fsd_idx]
        nn_occ = _cumcount_masked(fsd_idx, ~is_null)
        take_idx = np.where(
            full_mask, col_occ, np.where(is_null, -1, nn_occ)
        )
        sel = (take_idx >= 0) & fmts_p[fsd_idx]
        is_binary[sel] = data[fmts_off[fsd_idx[sel]] + take_idx[sel]] != 0
    elif config.binary_oid_ranges:
        # formats disabled: consumer resolves per the producer's
        # configured binary_oid_ranges (fsd.c:150-156 decision inverse)
        for lo, hi in config._parsed_ranges:
            is_binary |= (type_oids >= lo) & (type_oids <= hi)
        is_binary &= ~is_null

    names = _binary_array(data, names_e.off, names_e.length, utf8=True)
    values = (
        _binary_array(data, values_e.off, values_e.length)
        if want_values
        else pa.array([], type=pa.binary())
    )
    return FieldSetColumns(
        n, fsd_idx, col_counts, names, values, is_null, type_oids, is_binary
    )


def _cumcount_masked(sorted_keys: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Occurrence index among masked entries within runs of equal keys.

    Entries where ``mask`` is False get the count of preceding True
    entries in their run (i.e. the next masked slot) — adequate since
    callers only read positions where mask is True.
    """
    n = len(sorted_keys)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    inc = mask.astype(np.int64)
    cum = np.cumsum(inc)
    boundaries = np.empty(n, dtype=bool)
    boundaries[0] = True
    boundaries[1:] = sorted_keys[1:] != sorted_keys[:-1]
    run_starts = np.flatnonzero(boundaries)
    run_lens = np.diff(np.append(run_starts, n))
    base = np.repeat(cum[run_starts] - inc[run_starts], run_lens)
    return cum - inc - base


# --------------------------------------------------------------------------
# frame → change-record batch
# --------------------------------------------------------------------------

GENERIC_ARROW_SCHEMA = pa.schema(
    [
        ("frame_seq", pa.int64()),
        ("lsn", pa.int64()),
        ("offset_idx", pa.int32()),
        ("op", pa.utf8()),
        ("schema_name", pa.utf8()),
        ("table_name", pa.utf8()),
        ("table_oid", pa.int64()),
        ("key_names", pa.list_(pa.utf8())),
        ("key_values", pa.list_(pa.binary())),
        ("key_nulls", pa.list_(pa.bool_())),
        ("key_oids", pa.list_(pa.int64())),
        ("key_formats", pa.list_(pa.bool_())),
        ("new_names", pa.list_(pa.utf8())),
        ("new_values", pa.list_(pa.binary())),
        ("new_nulls", pa.list_(pa.bool_())),
        ("new_oids", pa.list_(pa.int64())),
        ("new_formats", pa.list_(pa.bool_())),
    ]
)


def _list_array(n_msgs, msg_of_entry, child, dtype=None):
    """Wrap flat per-entry child arrays into a per-message ListArray."""
    counts = np.bincount(msg_of_entry, minlength=n_msgs)
    offsets = np.zeros(n_msgs + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    if not isinstance(child, pa.Array):
        child = pa.array(child, type=dtype)
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), child)


def decode_frames(
    frames: list[bytes],
    lsns: np.ndarray,
    frame_seqs: np.ndarray,
    config: EngineConfig | None = None,
) -> pa.RecordBatch:
    """Decode a list of wire frames (convenience wrapper over
    ``decode_frame_buffer`` — concat is the only per-frame step)."""
    n_frames = len(frames)
    if n_frames == 0:
        return pa.RecordBatch.from_pylist([], schema=GENERIC_ARROW_SCHEMA)
    blob = b"".join(frames)
    data = np.frombuffer(blob, dtype=np.uint8)
    frame_lens = np.fromiter(
        (len(f) for f in frames), dtype=np.int64, count=n_frames
    )
    frame_starts = np.zeros(n_frames, dtype=np.int64)
    np.cumsum(frame_lens[:-1], out=frame_starts[1:])
    return decode_frame_buffer(
        data, frame_starts, frame_starts + frame_lens, lsns, frame_seqs,
        config,
    )


@dataclass
class DecodedCore:
    """Steps 1-6 of the decode: everything both finishers need."""

    data: np.ndarray
    n_msgs: int
    msg_frame: np.ndarray
    msg_type: np.ndarray
    offset_idx: np.ndarray
    chg_ids: np.ndarray
    kf_ids: np.ndarray          # local (within chg) msgs with key_fields
    nv_ids: np.ndarray          # local msgs with new_values
    kf_cols: "FieldSetColumns"
    nv_cols: "FieldSetColumns"
    sn_p: np.ndarray
    sn_off: np.ndarray
    sn_len: np.ndarray
    tn_p: np.ndarray
    tn_off: np.ndarray
    tn_len: np.ndarray
    toid_p: np.ndarray
    toid_v: np.ndarray
    lsns: np.ndarray
    frame_seqs: np.ndarray


def decode_frame_buffer(
    data: np.ndarray,
    frame_starts: np.ndarray,
    frame_ends: np.ndarray,
    lsns: np.ndarray,
    frame_seqs: np.ndarray,
    config: EngineConfig | None = None,
) -> pa.RecordBatch:
    """Decode a batch of wire frames into the generic columnar change
    batch (parallel-array FieldSets)."""
    core = _decode_core(data, frame_starts, frame_ends, lsns, frame_seqs, config)
    if core is None:
        return pa.RecordBatch.from_pylist([], schema=GENERIC_ARROW_SCHEMA)
    return _finish_generic(core)


def _decode_core(
    data: np.ndarray,
    frame_starts: np.ndarray,
    frame_ends: np.ndarray,
    lsns: np.ndarray,
    frame_seqs: np.ndarray,
    config: EngineConfig | None = None,
) -> DecodedCore | None:
    """Steps 1-6: frames → messages → submessages → field sets.

    Every stage is vectorized across frames / messages / columns via
    the lockstep parser — no per-frame or per-message Python.
    """
    config = config or EngineConfig()
    n_frames = len(frame_starts)
    if n_frames == 0:
        return None

    # 1. header-length varints at each frame start (common.go:193-205)
    hdr_lens, hdr_starts = read_varints(data, frame_starts)
    hdr_lens = hdr_lens.astype(np.int64)
    body_starts = hdr_starts + hdr_lens
    if (body_starts > frame_ends).any():
        raise WireFormatError("header overruns frame")

    # 2. headers are parallel streams: types[] + offsets[]
    hdr = parse_streams(data, hdr_starts, body_starts)
    types_e = hdr.get(wire.WHDR_TYPES)
    offsets_e = hdr.get(wire.WHDR_OFFSETS)
    if types_e is None or offsets_e is None:
        raise WireFormatError("frame header missing types/offsets")
    if len(types_e.stream) != len(offsets_e.stream):
        raise WireFormatError("header types/offsets length mismatch")

    msg_frame = types_e.stream                  # frame idx per message
    msg_type = types_e.value.astype(np.int64)
    msg_rel_off = offsets_e.value.astype(np.int64)
    offset_idx = types_e.occ.astype(np.int32)   # position within frame
    n_msgs = len(msg_frame)
    _check_offset_bound(offset_idx)

    # 3. message byte ranges: [offset[i], offset[i+1]) within frame body
    msg_start = body_starts[msg_frame] + msg_rel_off
    msg_end = np.empty(n_msgs, dtype=np.int64)
    msg_end[:-1] = msg_start[1:]
    if n_msgs:
        msg_end[-1] = frame_ends[msg_frame[-1]]
    # last message of each frame ends at frame end
    frame_last = np.flatnonzero(
        np.append(msg_frame[1:] != msg_frame[:-1], True)
    )
    msg_end[frame_last] = frame_ends[msg_frame[frame_last]]
    if (msg_end < msg_start).any():
        raise WireFormatError("negative message extent")

    # 4. change messages (INSERT/UPDATE/DELETE) → nested submessages
    is_change = msg_type >= wire.WMSG_INSERT
    chg_ids = np.flatnonzero(is_change)
    n_chg = len(chg_ids)
    chg = parse_streams(data, msg_start[chg_ids], msg_end[chg_ids])
    # field 1 = table desc in all three kinds; 3 = key_fields (U/D)
    # or new_values (INSERT); 5 = new_values (UPDATE)
    td_p, _, td_off, td_len = _scalar_per_stream(chg.get(1), n_chg, "b")
    f3_p, _, f3_off, f3_len = _scalar_per_stream(chg.get(3), n_chg, "b")
    f5_p, _, f5_off, f5_len = _scalar_per_stream(chg.get(5), n_chg, "b")
    chg_type = msg_type[chg_ids]
    ins = chg_type == wire.WMSG_INSERT
    upd = chg_type == wire.WMSG_UPDATE
    dele = chg_type == wire.WMSG_DELETE
    # new_values: INSERT field 3 / UPDATE field 5
    nv_p = np.where(ins, f3_p, np.where(upd, f5_p, False))
    nv_off = np.where(ins, f3_off, f5_off)
    nv_len = np.where(ins, f3_len, f5_len)
    # key_fields: UPDATE/DELETE field 3 (absent if no replica identity)
    kf_p = np.where(ins, False, f3_p)
    kf_off = f3_off
    kf_len = f3_len

    # 5. table descriptions (always present on change messages)
    if not td_p.all():
        raise WireFormatError("change message missing TableDescription")
    td = parse_streams(data, td_off, td_off + td_len)
    sn_p, _, sn_off, sn_len = _scalar_per_stream(td.get(wire.TD_SCHEMANAME), n_chg, "b")
    tn_p, _, tn_off, tn_len = _scalar_per_stream(td.get(wire.TD_TABLENAME), n_chg, "b")
    toid_p, toid_v, _, _ = _scalar_per_stream(td.get(wire.TD_TABLEOID), n_chg, "v")
    sn_len = np.where(sn_p, sn_len, 0)
    tn_len = np.where(tn_p, tn_len, 0)

    # 6. nested field sets, all parsed as one stream batch
    kf_ids = np.flatnonzero(kf_p)
    nv_ids = np.flatnonzero(nv_p)
    kf_cols = decode_field_sets(
        data, kf_off[kf_ids], kf_off[kf_ids] + kf_len[kf_ids], config
    )
    nv_cols = decode_field_sets(
        data, nv_off[nv_ids], nv_off[nv_ids] + nv_len[nv_ids], config
    )
    return DecodedCore(
        data=data, n_msgs=n_msgs, msg_frame=msg_frame, msg_type=msg_type,
        offset_idx=offset_idx, chg_ids=chg_ids, kf_ids=kf_ids,
        nv_ids=nv_ids, kf_cols=kf_cols, nv_cols=nv_cols,
        sn_p=sn_p, sn_off=sn_off, sn_len=sn_len,
        tn_p=tn_p, tn_off=tn_off, tn_len=tn_len,
        toid_p=toid_p, toid_v=toid_v, lsns=lsns, frame_seqs=frame_seqs,
    )


def _check_offset_bound(offset_idx: np.ndarray) -> None:
    """Fail fast if a frame carries more messages than the WAL-order
    packing can represent (fold packs offset_idx into
    ``wire.MAX_FRAME_MESSAGES_SHIFT`` bits — silent wrap would corrupt
    fold ordering and the commit-watermark comparison)."""
    if len(offset_idx) and int(offset_idx.max()) >= wire.MAX_FRAME_MESSAGES:
        raise WireFormatError(
            f"frame holds more than {wire.MAX_FRAME_MESSAGES} messages; "
            "the producer must flush at the message-count cap "
            "(see wire.MAX_FRAME_MESSAGES)"
        )


_OP_LOOKUP = pa.array(
    [wire.WMSG_NAMES.get(i, "UNKNOWN") for i in range(6)], pa.utf8()
)


def _op_array(msg_type: np.ndarray) -> pa.Array:
    # vectorized take from the 6-entry label table (a per-row Python
    # listcomp measured ~6% of the whole decode)
    idx = np.where(
        (msg_type >= 0) & (msg_type < len(_OP_LOOKUP) - 1), msg_type,
        len(_OP_LOOKUP) - 1,
    )
    return _OP_LOOKUP.take(pa.array(idx, pa.int64()))


def _scatter_str(core: DecodedCore, off, lens, present_local):
    """Per-change string → full message list (null elsewhere)."""
    full_off = np.zeros(core.n_msgs, dtype=np.int64)
    full_len = np.zeros(core.n_msgs, dtype=np.int64)
    mask = np.zeros(core.n_msgs, dtype=bool)
    sel = core.chg_ids[present_local]
    full_off[sel] = off[present_local]
    full_len[sel] = lens[present_local]
    mask[sel] = True
    return _binary_array(core.data, full_off, full_len, mask=mask, utf8=True)


def _finish_generic(core: DecodedCore) -> pa.RecordBatch:
    """Step 7 (generic): parallel-array FieldSet list columns."""
    n_msgs = core.n_msgs
    schema_name_arr = _scatter_str(core, core.sn_off, core.sn_len, core.sn_p)
    table_name_arr = _scatter_str(core, core.tn_off, core.tn_len, core.tn_p)
    table_oid_full = np.full(n_msgs, -1, dtype=np.int64)
    table_oid_full[core.chg_ids[core.toid_p]] = core.toid_v[core.toid_p].astype(np.int64)
    toid_mask = table_oid_full >= 0
    table_oid_arr = pa.array(
        np.where(toid_mask, table_oid_full, 0), type=pa.int64(),
        mask=~toid_mask,
    )

    def fsd_lists(cols: FieldSetColumns, stream_ids: np.ndarray):
        """FieldSetColumns → five per-message ListArrays."""
        msg_of_entry = stream_ids[cols.fsd_idx] if len(cols.fsd_idx) else cols.fsd_idx
        return (
            _list_array(n_msgs, msg_of_entry, cols.names),
            _list_array(n_msgs, msg_of_entry, cols.values),
            _list_array(n_msgs, msg_of_entry, pa.array(cols.is_null, pa.bool_())),
            _list_array(n_msgs, msg_of_entry, pa.array(cols.type_oids, pa.int64())),
            _list_array(n_msgs, msg_of_entry, pa.array(cols.is_binary, pa.bool_())),
        )

    k_names, k_values, k_nulls, k_oids, k_formats = fsd_lists(
        core.kf_cols, core.chg_ids[core.kf_ids]
    )
    n_names, n_values, n_nulls, n_oids, n_formats = fsd_lists(
        core.nv_cols, core.chg_ids[core.nv_ids]
    )

    arrays = [
        pa.array(core.frame_seqs[core.msg_frame], pa.int64()),
        pa.array(core.lsns[core.msg_frame], pa.int64()),
        pa.array(core.offset_idx, pa.int32()),
        _op_array(core.msg_type),
        schema_name_arr,
        table_name_arr,
        table_oid_arr,
        k_names, k_values, k_nulls, k_oids, k_formats,
        n_names, n_values, n_nulls, n_oids, n_formats,
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=GENERIC_ARROW_SCHEMA)


def typed_arrow_schema(schema) -> pa.Schema:
    """Arrow schema of the typed decode output for a TargetSchema.

    ``_x_names``/``_x_oids`` carry wire columns NOT in the target
    schema — the D7 schema-evolution probe.  They are null for every
    message whose columns are all known (the overwhelmingly common
    case), so the batch pre-scan can read the probe off the typed
    output instead of decoding the frame stream a second time.
    """
    from pg_pb3_ld_spark.pb3.pgtypes import _arrow_type

    fields = [
        ("frame_seq", pa.int64()),
        ("lsn", pa.int64()),
        ("offset_idx", pa.int32()),
        ("op", pa.utf8()),
        ("table_name", pa.utf8()),
    ]
    for c in schema.columns:
        fields.append((c.name, _arrow_type(c.spark_type)))
        fields.append((f"{c.name}_set", pa.bool_()))
    fields.append(("_x_names", pa.list_(pa.utf8())))
    fields.append(("_x_oids", pa.list_(pa.int64())))
    fields.append(("_x_values", pa.list_(pa.binary())))
    fields.append(("_x_nulls", pa.list_(pa.bool_())))
    fields.append(("_x_formats", pa.list_(pa.bool_())))
    # synthetic-row marker: true only on the INSERT half appended by
    # the key-changing-UPDATE split.  Such rows reuse the original
    # (frame_seq, offset_idx) ordinate, so the frame-density evidence
    # (count of offset_idx==0 rows) must exclude them or a key-move
    # landing at a frame boundary trips the strict_frame_order guard.
    fields.append(("_split", pa.bool_()))
    return pa.schema(fields)


def decode_frame_typed(
    frame_col: pa.Array,
    lsns: np.ndarray,
    frame_seqs: np.ndarray,
    schema,
    config: EngineConfig | None = None,
) -> pa.RecordBatch:
    """D1+D2 fused: frames → TYPED change rows in one vectorized pass.

    The hot-path variant: instead of materializing the generic
    parallel-array columns and re-shaping them with JVM expressions
    (≈50 µs/row of array_position/conv/hex work), each target column
    is extracted and cast **inside the Arrow stage** with numpy /
    pyarrow compute (≈1-2 µs/row), so the rows entering the shuffle
    are already narrow and typed.  Key columns resolve from
    ``key_fields`` when present (UPDATE/DELETE,
    ``fsd_populate_via_index`` — decoder/fsd.c:82-113) and fall back
    to ``new_values`` (INSERT carries no key fields,
    ``pg_pb3_ld.c:340-356``); value columns come from ``new_values``
    with TOAST-omission preserved via the ``<col>_set`` flags
    (absent ≠ NULL, decoder/fsd.c:163-175).
    """
    from pg_pb3_ld_spark.pb3.pgtypes import _arrow_type, decode_column

    arrow_schema = typed_arrow_schema(schema)
    if isinstance(frame_col, pa.ChunkedArray):
        frame_col = frame_col.combine_chunks()
    n = len(frame_col)
    if n == 0:
        return pa.RecordBatch.from_pylist([], schema=arrow_schema)
    buffers = frame_col.buffers()
    width = 8 if pa.types.is_large_binary(frame_col.type) else 4
    odt = np.int64 if width == 8 else np.int32
    offsets = np.frombuffer(
        buffers[1], dtype=odt, count=n + 1 + frame_col.offset
    )[frame_col.offset:].astype(np.int64)
    data = np.frombuffer(buffers[2], dtype=np.uint8)
    core = _decode_core(data, offsets[:-1], offsets[1:], lsns, frame_seqs, config)
    if core is None:
        return pa.RecordBatch.from_pylist([], schema=arrow_schema)
    n_msgs = core.n_msgs

    def column_from(
        cols: FieldSetColumns, msg_of_fsd: np.ndarray, name: str,
        expected_oid: int = 0,
    ):
        """Extract one named column across all messages of a fsd set.

        Returns (msg_ids, values sub-array, is_null, is_binary, oids)
        with last-wins on duplicate names (entries are in wire order).

        ``expected_oid``: when nonzero, entries carrying a DIFFERENT
        nonzero wire oid are excluded — an upstream type change (ALTER
        COLUMN TYPE) must never be parsed with the stale width; such
        entries divert to the evolution probe instead (type-widening
        evolution rides the same path as new columns).
        """
        if len(cols.fsd_idx) == 0:
            empty = np.zeros(0, dtype=np.int64)
            return empty, cols.values.slice(0, 0), np.zeros(0, bool), np.zeros(0, bool)
        mask = pc.equal(cols.names, name)
        idx = np.flatnonzero(
            mask.to_numpy(zero_copy_only=False).astype(bool)
        )
        if expected_oid and len(idx):
            oids = cols.type_oids[idx]
            idx = idx[(oids == 0) | (oids == expected_oid)]
        if len(idx) == 0:
            empty = np.zeros(0, dtype=np.int64)
            return empty, cols.values.slice(0, 0), np.zeros(0, bool), np.zeros(0, bool)
        msg_ids = msg_of_fsd[cols.fsd_idx[idx]]
        # last occurrence per message wins: entries sorted by
        # (fsd, col order), keep the final one
        keep = np.append(msg_ids[1:] != msg_ids[:-1], True)
        idx = idx[keep]
        msg_ids = msg_ids[keep]
        vals = cols.values.take(pa.array(idx, pa.int64()))
        return msg_ids, vals, cols.is_null[idx], cols.is_binary[idx]

    def typed_full(msg_ids, sub_typed: pa.Array, n_rows: int) -> pa.Array:
        """Scatter a decoded sub-array to the full message axis."""
        pos = np.full(n_rows, -1, dtype=np.int64)
        pos[msg_ids] = np.arange(len(sub_typed))
        return sub_typed.take(pa.array(pos, pa.int64(), mask=pos < 0))

    kf_msgs = core.chg_ids[core.kf_ids]
    nv_msgs = core.chg_ids[core.nv_ids]

    arrays = [
        pa.array(core.frame_seqs[core.msg_frame], pa.int64()),
        pa.array(core.lsns[core.msg_frame], pa.int64()),
        pa.array(core.offset_idx, pa.int32()),
        _op_array(core.msg_type),
        _scatter_str(core, core.tn_off, core.tn_len, core.tn_p),
    ]
    # key-change detection (UPDATE moving a row to a new key): the
    # reference emits the OLD key in key_fields and the NEW key in
    # new_values (fsd_populate_via_index on the old tuple,
    # pg_pb3_ld.c:370-380).  Preferring key_fields alone would silently
    # drop the key change, so such UPDATEs split into
    # DELETE(old key) + INSERT(new key) — see the append block below.
    is_upd = core.msg_type == wire.WMSG_UPDATE
    key_changed = np.zeros(n_msgs, dtype=bool)
    new_key_cols: dict[str, pa.Array] = {}
    col_present: dict[str, np.ndarray] = {}
    for col in schema.columns:
        atype = _arrow_type(col.spark_type)
        m_nv, v_nv, null_nv, bin_nv = column_from(
            core.nv_cols, nv_msgs, col.name, col.type_oid
        )
        t_nv = decode_column(v_nv, null_nv, bin_nv, col.type_oid, col.spark_type)
        present = np.zeros(n_msgs, dtype=bool)
        present[m_nv] = True
        if col.is_key:
            # a KEY column's type changing upstream cannot evolve in
            # place (DELETEs carry only key_fields, which have no
            # probe) — fail loudly before anything decodes wrong
            if len(core.kf_cols.fsd_idx):
                kf_mismatch = (
                    pc.equal(core.kf_cols.names, col.name)
                    .to_numpy(zero_copy_only=False).astype(bool)
                    & (core.kf_cols.type_oids != 0)
                    & (core.kf_cols.type_oids != col.type_oid)
                )
                if kf_mismatch.any():
                    bad = int(core.kf_cols.type_oids[kf_mismatch][0])
                    raise WireFormatError(
                        f"key column {col.name!r} arrived with type oid "
                        f"{bad} (schema says {col.type_oid}); key type "
                        "changes require a re-bootstrap, not in-place "
                        "evolution"
                    )
            # key fields win when the message carries them (U/D)
            m_kf, v_kf, null_kf, bin_kf = column_from(
                core.kf_cols, kf_msgs, col.name
            )
            t_kf = decode_column(
                v_kf, null_kf, bin_kf, col.type_oid, col.spark_type
            )
            nv_full = typed_full(m_nv, t_nv, n_msgs).cast(atype)
            kf_full = typed_full(m_kf, t_kf, n_msgs).cast(atype)
            kf_mask = np.zeros(n_msgs, dtype=bool)
            kf_mask[m_kf] = True
            both = kf_mask & present & is_upd
            if both.any():
                neq = pc.fill_null(
                    pc.not_equal(kf_full, nv_full), False
                ).to_numpy(zero_copy_only=False).astype(bool)
                null_mismatch = (
                    pc.is_null(kf_full).to_numpy(zero_copy_only=False)
                    ^ pc.is_null(nv_full).to_numpy(zero_copy_only=False)
                )
                key_changed |= (neq | null_mismatch) & both
            combined = pc.if_else(pa.array(kf_mask), kf_full, nv_full)
            present |= kf_mask
            new_key_cols[col.name] = nv_full
            arrays.append(combined)
        else:
            arrays.append(typed_full(m_nv, t_nv, n_msgs).cast(atype))
        col_present[col.name] = present
        arrays.append(pa.array(present))

    # schema-evolution probe: wire columns not in the target schema,
    # WITH their raw wire values — an evolution batch can then derive
    # the new columns from the persisted typed rows (JVM expressions)
    # instead of decoding the frame stream a second time
    known = pc.is_in(
        core.nv_cols.names,
        value_set=pa.array([c.name for c in schema.columns], pa.utf8()),
    ).to_numpy(zero_copy_only=False).astype(bool)
    # a KNOWN name carrying a different nonzero wire oid is a type
    # change (ALTER COLUMN TYPE): its entries divert to the probe —
    # raw bytes preserved — and evolution widens the schema + projects
    # them back (the additive-column path, reused).  One vectorized
    # (name:oid) pair-membership pass, independent of column count.
    if len(core.nv_cols.fsd_idx) and known.any():
        oid_typed = core.nv_cols.type_oids != 0
        if oid_typed.any():
            pair = pc.binary_join_element_wise(
                core.nv_cols.names,
                pc.cast(pa.array(core.nv_cols.type_oids), pa.string()),
                ":",
            )
            pair_ok = pc.is_in(
                pair,
                value_set=pa.array(
                    [f"{c.name}:{c.type_oid}" for c in schema.columns],
                    pa.utf8(),
                ),
            ).to_numpy(zero_copy_only=False).astype(bool)
            known &= pair_ok | ~oid_typed
    unk = np.flatnonzero(
        ~known
    ) if len(core.nv_cols.fsd_idx) else np.zeros(0, dtype=np.int64)
    if len(unk) == 0:
        arrays.append(pa.nulls(n_msgs, pa.list_(pa.utf8())))
        arrays.append(pa.nulls(n_msgs, pa.list_(pa.int64())))
        arrays.append(pa.nulls(n_msgs, pa.list_(pa.binary())))
        arrays.append(pa.nulls(n_msgs, pa.list_(pa.bool_())))
        arrays.append(pa.nulls(n_msgs, pa.list_(pa.bool_())))
    else:
        msg_of_unk = nv_msgs[core.nv_cols.fsd_idx[unk]]
        take_unk = pa.array(unk, pa.int64())
        arrays.append(
            _list_array(n_msgs, msg_of_unk, core.nv_cols.names.take(take_unk))
        )
        arrays.append(
            _list_array(n_msgs, msg_of_unk,
                        pa.array(core.nv_cols.type_oids[unk], pa.int64()))
        )
        arrays.append(
            _list_array(n_msgs, msg_of_unk, core.nv_cols.values.take(take_unk))
        )
        arrays.append(
            _list_array(n_msgs, msg_of_unk,
                        pa.array(core.nv_cols.is_null[unk], pa.bool_()))
        )
        arrays.append(
            _list_array(n_msgs, msg_of_unk,
                        pa.array(core.nv_cols.is_binary[unk], pa.bool_()))
        )

    arrays.append(pa.array(np.zeros(n_msgs, dtype=bool)))  # _split

    split_idx = np.flatnonzero(key_changed)
    if len(split_idx) == 0:
        return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)
    return _split_key_updates(
        arrays, arrow_schema, schema, split_idx, new_key_cols, col_present
    )


def _split_key_updates(
    arrays: list[pa.Array],
    arrow_schema: pa.Schema,
    schema,
    split_idx: np.ndarray,
    new_key_cols: dict[str, pa.Array],
    col_present: dict[str, np.ndarray],
) -> pa.RecordBatch:
    """Rewrite key-changing UPDATE rows as DELETE(old key) and append
    INSERT(new key) rows.

    Both halves share the original row's (frame_seq, offset_idx) WAL
    order — safe because they target *different* fold keys.  The
    INSERT half carries the wire-present value columns; columns the
    UPDATE omitted (TOAST) become NULL under the fold's INSERT-barrier
    rebuild — the old-key row's values are unknowable here, matching
    how a row movement materializes without reading the target.
    """
    take = pa.array(split_idx, pa.int64())
    names = arrow_schema.names
    by_name = dict(zip(names, arrays))
    key_names = {c.name for c in schema.key_columns}

    # original rows: demote split UPDATEs to DELETE and clear their
    # value-set flags (a DELETE carries no value claims for the fold)
    ops = by_name["op"].to_pylist()
    for i in split_idx:
        ops[int(i)] = "DELETE"
    by_name["op"] = pa.array(ops, pa.utf8())
    n_rows = len(arrays[0])
    clear = np.zeros(n_rows, dtype=bool)
    clear[split_idx] = True
    for c in schema.columns:
        if c.name not in key_names:
            flags = by_name[f"{c.name}_set"].to_numpy(zero_copy_only=False)
            by_name[f"{c.name}_set"] = pa.array(flags & ~clear)
    # a DELETE carries no value claims: null the evolution-probe
    # arrays on the demoted half too, or project_evolved_from_probe
    # would re-mark evolved columns _set=true on the DELETE row
    probe_pos = np.arange(n_rows, dtype=np.int64)
    probe_pos[split_idx] = -1
    probe_take = pa.array(probe_pos, pa.int64(), mask=probe_pos < 0)
    for xn in ("_x_names", "_x_oids", "_x_values", "_x_nulls", "_x_formats"):
        by_name[xn] = by_name[xn].take(probe_take)

    # appended INSERT rows at the new key; any column not special-cased
    # below (ordering, table name, evolution probe, …) is copied from
    # the original row
    extra: dict[str, pa.Array] = {}
    extra["op"] = pa.array(["INSERT"] * len(split_idx), pa.utf8())
    extra["_split"] = pa.array(np.ones(len(split_idx), dtype=bool))
    for c in schema.columns:
        if c.name in key_names:
            extra[c.name] = new_key_cols[c.name].take(take)
            extra[f"{c.name}_set"] = pa.array(
                np.ones(len(split_idx), dtype=bool)
            )
        else:
            extra[c.name] = arrays[names.index(c.name)].take(take)
            extra[f"{c.name}_set"] = pa.array(
                col_present[c.name][split_idx]
            )
    for n in names:
        if n not in extra:
            extra[n] = arrays[names.index(n)].take(take)
    out = [
        pa.concat_arrays([by_name[n], extra[n]]) for n in names
    ]
    return pa.RecordBatch.from_arrays(out, schema=arrow_schema)
