"""Workload table, seeded input generation, and the input record.

Every stream comes from ``generator.generate_stream_sharded`` with at
most ``nproc`` shards.  Inputs are generated in a child process (so
the parent can build its Spark session meanwhile), which runs this
file as a script:

    python3 workloads.py <workload> <seed> <shards> <out> [--smoke]

and hands the inputs over as files under ``<out>``:

* ``frames/``        the frame table as parquet (``trickle_cow``: the
                     landing zone, one file per micro-batch);
* ``warm/``          the stream's first micro-batch, for the warm-up;
* ``oracle.parquet`` the generator's expected final table;
* ``inputs.json``    the workload record (sizes, measured properties).
"""

from __future__ import annotations

import json
import os
import resource
import sys
from dataclasses import dataclass, replace

# Transcripts columns in table order; ``model`` appears mid-stream.
ORACLE_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts", "model")


@dataclass(frozen=True)
class Workload:
    name: str
    apply_mode: str       # "cow" | "mor"
    driver: str           # "prefix": apply_frames on prefix batches;
                          # "stream": run_stream over landing files
    convs: int            # conversations, summed over shards
    txns: int             # phase-2 transactions, summed over shards
    hot_fraction: float
    batches: int          # prefix batches, or landing files
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "bulk_cow", "cow", "prefix", convs=600, txns=24_000,
            hot_fraction=0.3, batches=4,
            why="large prefix batches: decode and the COW merge carry "
                "the work; replays exercise the watermark filter",
        ),
        Workload(
            "trickle_cow", "cow", "stream", convs=400, txns=8_000,
            hot_fraction=0.3, batches=3,
            why="small streamed batches: per-batch fixed costs (jobs, "
                "pending tail, trigger, COW rewrite) dominate",
        ),
        Workload(
            "storm_mor", "mor", "prefix", convs=600, txns=24_000,
            hot_fraction=0.9, batches=3,
            why="hot-key skew on merge-on-read: fold on one key, write "
                "cost moved to readers and compaction",
        ),
    )
}

# Smoke scale for the self-test: the same shapes, tiny streams.
SMOKE = {"convs": 16, "txns": 240, "batches": 3}


def sized(w: Workload, smoke: bool) -> Workload:
    return replace(w, **SMOKE) if smoke else w


def stream_config():
    """The generator's wire options (text, binary int and timestamptz)."""
    from pg_pb3_ld_spark.config import EngineConfig

    return EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184",
    )


def generate_inputs(w: Workload, seed: int, shards: int, out: str) -> None:
    """Generate ``w``'s stream for ``seed`` and write it under ``out``.

    Runs in a child process; its only result is the files."""
    import time

    from pg_pb3_ld_spark.generator import (
        GeneratedStream,
        generate_stream_sharded,
        write_frames_parquet_dir,
    )

    t0 = time.perf_counter()
    params = {
        "n_shards": shards, "seed": seed, "n_convs": max(w.convs // shards, 1),
        "max_turns": 24, "n_extra_txns": max(w.txns // shards, 1),
        "hot_fraction": w.hot_fraction,
    }
    stream = generate_stream_sharded(**params)
    gen_s = time.perf_counter() - t0

    # the stream driver reads one landing file per trigger; the prefix
    # driver slices by frame_seq and needs no particular file count
    files = w.batches if w.driver == "stream" else 8
    write_frames_parquet_dir(stream, os.path.join(out, "frames"), n_files=files)
    n_warm = -(-len(stream.frames) // w.batches)
    warm = GeneratedStream(stream.frames[:n_warm], {}, stream.schema, 0, 0)
    write_frames_parquet_dir(warm, os.path.join(out, "warm"), n_files=1)
    _write_oracle(stream, os.path.join(out, "oracle.parquet"))

    record = {
        "workload": w.name,
        "seed": seed,
        "generator": params,
        "apply_mode": w.apply_mode,
        "driver": w.driver,
        "batches": w.batches,
        "changes": stream.n_changes,
        "txns": stream.n_txns,
        "frames": len(stream.frames),
        "warm_frames": n_warm,
        "wire_bytes": sum(len(f[2]) for f in stream.frames),
        "oracle_rows": len(stream.oracle),
        "generate_s": round(gen_s, 3),
        **_input_properties(stream, w.batches),
    }
    usage = [resource.getrusage(w) for w in (resource.RUSAGE_SELF, resource.RUSAGE_CHILDREN)]
    record["generate_cpu_s"] = sum(u.ru_utime + u.ru_stime for u in usage)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(record, f)


def _write_oracle(stream, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = list(stream.oracle.values())
    types = {
        "conv_id": pa.string(), "turn_idx": pa.int32(), "role": pa.string(),
        "text": pa.string(), "tool": pa.string(),
        "ts": pa.timestamp("us", tz="UTC"), "model": pa.string(),
    }
    pq.write_table(
        pa.table({
            c: pa.array([r.get(c) for r in rows], types[c])
            for c in ORACLE_COLUMNS
        }),
        path,
    )


def _input_properties(stream, batches: int) -> dict:
    """Measure the properties the workload was chosen for by decoding
    every frame with the codec (``pb3.decode_frames``)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pg_pb3_ld_spark.pb3 import decode_frames

    frames = stream.frames
    dec = decode_frames(
        [f[2] for f in frames],
        np.array([f[1] for f in frames], np.int64),
        np.array([f[0] for f in frames], np.int64),
        stream_config(),
    )
    ops = pa.array(["INSERT", "UPDATE", "DELETE"], pa.string())
    changes = dec.filter(pc.is_in(dec.column("op"), value_set=ops))
    n = changes.num_rows
    op_counts = {
        r["values"]: r["counts"]
        for r in pc.value_counts(changes.column("op")).to_pylist()
    }
    # conv_id is the first key field (UPDATE/DELETE) or the first new
    # value (an INSERT carries no key fields)
    keyed = pc.greater(pc.list_value_length(changes.column("key_values")), 0)
    keys = pa.concat_arrays([
        pc.list_element(changes.column("key_values").filter(keyed), 0),
        pc.list_element(
            changes.column("new_values").filter(pc.invert(keyed)), 0
        ),
    ])
    hot = pc.max(pc.value_counts(keys).field("counts")).as_py()

    # first frame carrying the evolved ``model`` column
    names = dec.column("new_names")
    hits = pc.list_parent_indices(names).filter(
        pc.equal(pc.list_flatten(names), "model")
    )
    evo_frame = (
        int(pc.min(dec.column("frame_seq").take(hits)).as_py())
        if len(hits) else None
    )
    per_batch = -(-len(frames) // batches)
    return {
        "hot_key_share": round(hot / n, 4),
        "insert_share": round(op_counts.get("INSERT", 0) / n, 4),
        "update_share": round(op_counts.get("UPDATE", 0) / n, 4),
        "delete_share": round(op_counts.get("DELETE", 0) / n, 4),
        "evolution_frame": evo_frame,
        "evolution_batch": (
            None if evo_frame is None else evo_frame // per_batch + 1
        ),
    }


def main(argv: list[str]) -> int:
    name, seed, shards, out, *flags = argv
    # the engine package lives at the checkout's root, above this directory
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    w = sized(WORKLOADS[name], "--smoke" in flags)
    generate_inputs(w, int(seed), int(shards), out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
