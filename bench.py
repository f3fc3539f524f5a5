#!/usr/bin/env python3
"""Benchmark harness — prints ONE JSON line.

Headline metric: change-events/sec applied end-to-end (encode cache →
decode → txn gate → fold → COW MERGE commit), per BASELINE.md.  Also
times every driver-contract query at $SPARK_GRAFT_SF_DIR.

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N]       (default 32)
  SPARK_GRAFT_BENCH_CONVS / _TXNS     stream size (default 800/4000)
  SPARK_GRAFT_BENCH_BATCHES           apply batches (default 4)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "16000"))
N_TXNS = int(os.environ.get("SPARK_GRAFT_BENCH_TXNS", "640000"))
N_BATCHES = int(os.environ.get("SPARK_GRAFT_BENCH_BATCHES", "4"))
N_SHARDS = int(os.environ.get("SPARK_GRAFT_BENCH_SHARDS", "8"))
DECODE_PAR = int(os.environ.get("SPARK_GRAFT_DECODE_PAR", "0")) or None
CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "cache")


def cached_stream():
    """Deterministic bench stream, generated once (parallel) and cached."""
    from pg_pb3_ld_spark.generator import (
        generate_stream_sharded,
        write_frames_parquet_dir,
    )

    os.makedirs(CACHE_DIR, exist_ok=True)
    tag = f"s42_c{N_CONVS}_t{N_TXNS}_sh{N_SHARDS}"
    path = os.path.join(CACHE_DIR, f"frames_{tag}")
    meta = os.path.join(CACHE_DIR, f"frames_{tag}.json")
    if os.path.isdir(path) and os.path.exists(meta):
        with open(meta) as f:
            return path, json.load(f)
    stream = generate_stream_sharded(
        n_shards=N_SHARDS, seed=42,
        n_convs=max(N_CONVS // N_SHARDS, 1), max_turns=24,
        n_extra_txns=max(N_TXNS // N_SHARDS, 1), hot_fraction=0.3,
    )
    write_frames_parquet_dir(stream, path, n_files=64)
    info = {
        "n_changes": stream.n_changes,
        "n_txns": stream.n_txns,
        "n_frames": len(stream.frames),
        "bytes": sum(len(f[2]) for f in stream.frames),
    }
    with open(meta, "w") as f:
        json.dump(info, f)
    return path, info


_HZ = os.sysconf("SC_CLK_TCK")


def _busy_jiffies() -> int:
    """System-wide non-idle jiffies from /proc/stat (all foreign load
    included)."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return sum(vals) - vals[3] - vals[4]  # minus idle + iowait


def _subtree_jiffies() -> int:
    """CPU jiffies consumed by THIS process and every live descendant
    (the Spark JVM, pyspark daemons/workers), plus each one's reaped
    children (cutime/cstime)."""
    me = os.getpid()
    ppid: dict[int, int] = {}
    ji: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
        except OSError:
            continue  # process exited mid-walk
        rp = s.rfind(")")
        fields = s[rp + 2:].split()
        pid = int(d)
        ppid[pid] = int(fields[1])
        ji[pid] = sum(map(int, fields[11:15]))  # utime+stime+cutime+cstime
    kids: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    total, stack = 0, [me]
    while stack:
        p = stack.pop()
        total += ji.get(p, 0)
        stack.extend(kids.get(p, []))
    return total


# A run is quiet END-TO-END when foreign processes averaged less than
# this many cores DURING it (quiet sandbox baseline ≈0.1; the
# documented bursts run 4-20 cores).  Unlike loadavg — which the
# bench's own 32-core push saturates — this is direct accounting:
# (system busy jiffies) − (our subtree's jiffies).
FOREIGN_CORES_MAX = float(os.environ.get("SPARK_GRAFT_FOREIGN_MAX", "1.0"))
MAX_SESSIONS = int(os.environ.get("SPARK_GRAFT_BENCH_SESSIONS", "3"))


def probe_host_capacity() -> dict:
    """Stamp the host's CURRENT per-core speed into the artifact.

    The sandbox VM's effective per-core throughput swings ~2.5×
    between phases (measured 2026-08-18: a fixed 20M-iteration
    CPython spin ran 1.3 s in one phase and 2.7-3.2 s in another,
    single-threaded AND under parallelism — frequency/quota
    throttling, invisible to loadavg and to the foreign-core
    accounting because no foreign process is running).  Recording
    the probe beside every headline lets a reader NORMALIZE
    cross-session numbers instead of misreading a slow host phase as
    a code regression — the round-4 artifact-trust lesson extended
    to the failure mode the quiet gate cannot see."""
    import subprocess

    def spin() -> float:
        t0 = time.time()
        x = 0
        for i in range(20_000_000):
            x += i * i
        return round(time.time() - t0, 2)

    single = spin()
    code = (
        "import time\nt0=time.time()\nx=0\n"
        "for i in range(20_000_000): x+=i*i\n"
        "print(time.time()-t0)"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code], stdout=subprocess.PIPE
        )
        for _ in range(2)
    ]
    two = [round(float(p.communicate()[0]), 2) for p in procs]
    return {
        "spin20m_single_sec": single,
        "spin20m_two_proc_sec": two,
        "loadavg": [round(v, 2) for v in os.getloadavg()],
    }


def bench_cdc_apply(spark) -> dict:
    from pyspark.sql import functions as F

    from pg_pb3_ld_spark.config import EngineConfig
    from pg_pb3_ld_spark.pipeline import IngestPipeline
    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    frames_path, info = cached_stream()
    workdir = tempfile.mkdtemp(prefix="pb3ld_bench_")
    try:
        cfg = EngineConfig(
            type_oids_mode="omit_nulls", formats_mode="disabled",
            binary_oid_ranges="20-23,1184",
            decode_parallelism=DECODE_PAR,
        )
        frames = spark.read.parquet(frames_path)
        n_frames = info["n_frames"]
        # warmup on a throwaway store: JIT, python-worker spawn, and
        # first-touch page faults are one-time costs of a long-running
        # ingest job, not per-batch costs — measure steady state
        warm_store = SnapshotStore.create(
            spark, os.path.join(workdir, "warm"), transcripts_schema(),
            num_buckets=max(CPUS, 8),
        )
        IngestPipeline(spark, warm_store, cfg).apply_frames(
            frames.where(F.col("frame_seq") < max(n_frames // 20, 200)),
            batch_id=0,
        )
        def timed_apply(round_no: int) -> float:
            store = SnapshotStore.create(
                spark, os.path.join(workdir, f"table{round_no}"),
                transcripts_schema(), num_buckets=max(CPUS, 8),
            )
            pipe = IngestPipeline(spark, store, cfg)
            t0 = time.time()
            if N_BATCHES <= 1:
                pipe.apply_frames(frames, batch_id=1)
            else:
                # prefix batches: each batch re-offers earlier frames
                # and the store watermark prunes them (pushdown
                # predicate) — exercising exactly-once the way a
                # replaying source does, and keeping mid-transaction
                # cuts safe (uncommitted tails stay above the hwm)
                step = (n_frames + N_BATCHES - 1) // N_BATCHES
                for b in range(1, N_BATCHES):
                    pipe.apply_frames(
                        frames.where(F.col("frame_seq") < b * step),
                        batch_id=b,
                    )
                pipe.apply_frames(frames, batch_id=N_BATCHES)
            el = time.time() - t0
            timed_apply.store = store
            return el

        # The RECORDED number must come from a run that was quiet
        # END-TO-END, not merely quiet at launch: round 4's official
        # artifact recorded 144.5k ev/s from a session a mid-run
        # foreign burst polluted, while the same code measured 204k
        # under a quiet window the same day.  Each timed run therefore
        # carries (a) a loadavg trace sampled every 2 s DURING the run
        # and (b) direct foreign-CPU accounting ((system busy) − (our
        # subtree) jiffies — loadavg alone can't separate a burst from
        # the bench's own 32-core push).  A run whose foreign load
        # averaged > FOREIGN_CORES_MAX cores is discarded from the
        # headline; if a whole session yields no quiet run, the
        # session is retried (bounded), and every discarded run stays
        # in the artifact with its evidence.
        import threading

        run_no = [0]

        def monitored_apply() -> dict:
            # launch gate (cheap pre-filter; the real filter is the
            # during-run accounting below): bursts last minutes, and a
            # high 5-min loadavg at launch predicts a mid-run rebound.
            # l5 threshold 3.5 tolerates the bench's own duty cycle.
            waited = 0
            while waited < 300:
                l1, l5, _ = os.getloadavg()
                if l1 < 2.0 and l5 < 3.5:
                    break
                time.sleep(10)
                waited += 10
            trace: list[float] = []
            stop = threading.Event()

            def poll():
                while not stop.wait(2.0):
                    trace.append(round(os.getloadavg()[0], 2))

            load0 = round(os.getloadavg()[0], 2)
            b0, s0 = _busy_jiffies(), _subtree_jiffies()
            th = threading.Thread(target=poll, daemon=True)
            th.start()
            el = timed_apply(run_no[0])
            run_no[0] += 1
            stop.set()
            th.join(timeout=3)
            b1, s1 = _busy_jiffies(), _subtree_jiffies()
            foreign = max(0, (b1 - b0) - (s1 - s0)) / _HZ
            return {
                "sec": round(el, 2),
                "loadavg_at_start": load0,
                "foreign_cores_avg": round(foreign / el, 2),
                "quiet": foreign / el <= FOREIGN_CORES_MAX,
                "loadavg_trace": trace,
            }

        sessions: list[list[dict]] = []
        headline = None
        for attempt in range(MAX_SESSIONS):
            runs = [monitored_apply() for _ in range(3)]
            # adaptive extras when the QUIET raws still disagree >1.4×
            # (burst slipped under the cores threshold) or none quiet
            extra = 0
            while extra < 3:
                q = [r["sec"] for r in runs if r["quiet"]]
                if q and max(q) / min(q) <= 1.4:
                    break
                runs.append(monitored_apply())
                extra += 1
            sessions.append(runs)
            quiet = [r for r in runs if r["quiet"]]
            if quiet:
                headline = min(quiet, key=lambda r: r["sec"])
                break
        if headline is None:
            # every session burst-polluted: report the best raw run,
            # loudly flagged — never silently
            allruns = [r for s in sessions for r in s]
            headline = min(allruns, key=lambda r: r["sec"])
        elapsed = headline["sec"]
        return {
            "elapsed_sec": round(elapsed, 2),
            "events_per_sec": round(info["n_changes"] / elapsed, 1),
            "n_changes": info["n_changes"],
            "n_frames": n_frames,
            "wire_bytes": info["bytes"],
            "headline_run_quiet_end_to_end": bool(headline["quiet"]),
            "headline_foreign_cores_avg": headline["foreign_cores_avg"],
            "headline_loadavg_trace": headline["loadavg_trace"],
            "raw_runs_sec": [r["sec"] for s in sessions for r in s],
            "loadavg_at_start": [
                r["loadavg_at_start"] for s in sessions for r in s
            ],
            "sessions": [
                [
                    {k: v for k, v in r.items() if k != "loadavg_trace"}
                    for r in s
                ]
                for s in sessions
            ],
            "gate": {
                "foreign_cores_max": FOREIGN_CORES_MAX,
                "accounting": "/proc/stat busy minus own-subtree jiffies",
            },
            "final_rows": timed_apply.store.read_table().count(),
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def bench_skew(spark) -> dict:
    """D8 storm scenario: a stream where ONE conv_id carries ~60% of
    all change events, applied end-to-end plain vs with the store's
    hot-bucket sub-split.  Records timings + the actual key/bucket
    imbalance so the map-side combine absorbing the storm (and the
    sub-split's write-task bound) is measured, not asserted."""
    from pyspark.sql import functions as F

    from pg_pb3_ld_spark.config import EngineConfig
    from pg_pb3_ld_spark.generator import (
        generate_stream_sharded,
        write_frames_parquet_dir,
    )
    from pg_pb3_ld_spark.pipeline import IngestPipeline
    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    os.makedirs(CACHE_DIR, exist_ok=True)
    n_convs = max(N_CONVS // 4, 100)
    n_txns = max(N_TXNS // 4, 1000)
    tag = f"storm43_c{n_convs}_t{n_txns}_sh{N_SHARDS}"
    path = os.path.join(CACHE_DIR, f"frames_{tag}")
    meta = os.path.join(CACHE_DIR, f"frames_{tag}.json")
    if os.path.isdir(path) and os.path.exists(meta):
        with open(meta) as f:
            info = json.load(f)
    else:
        stream = generate_stream_sharded(
            n_shards=N_SHARDS, seed=43,
            n_convs=max(n_convs // N_SHARDS, 1), max_turns=24,
            n_extra_txns=max(n_txns // N_SHARDS, 1), hot_fraction=0.6,
        )
        write_frames_parquet_dir(stream, path, n_files=64)
        info = {"n_changes": stream.n_changes, "n_frames": len(stream.frames)}
        with open(meta, "w") as f:
            json.dump(info, f)

    frames = spark.read.parquet(path)
    cfg = EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184", decode_parallelism=DECODE_PAR,
    )
    workdir = tempfile.mkdtemp(prefix="pb3ld_storm_")
    try:
        def apply_once(
            rnd: int, hot_split: int = 0
        ) -> tuple[float, SnapshotStore]:
            store = SnapshotStore.create(
                spark, os.path.join(workdir, f"t{hot_split}_{rnd}"),
                transcripts_schema(), num_buckets=max(CPUS, 8),
                hot_split_rows=hot_split,
            )
            pipe = IngestPipeline(spark, store, cfg)
            t0 = time.time()
            pipe.apply_frames(frames, batch_id=1)
            return time.time() - t0, store

        apply_once(99)  # warm
        res: dict = {}
        # hot_split threshold chosen so the storm's hot bucket (22k
        # keys vs 3.4k median) splits ~4-way while cold buckets don't
        for name, hot_split in (("unsalted", 0), ("hot_split", 6000)):
            raws = []
            store = None
            for rnd in range(2):
                waited = 0
                while os.getloadavg()[0] > 2.0 and waited < 120:
                    time.sleep(10)
                    waited += 10
                el, store = apply_once(rnd, hot_split)
                raws.append(round(el, 2))
            res[name] = {
                "best_sec": min(raws),
                "raw_runs_sec": raws,
                "events_per_sec": round(info["n_changes"] / min(raws), 1),
            }
            if store is not None:
                lin = store.lineage()
                keys = sorted(int(v["keys"]) for v in lin.values())
                res[name]["bucket_keys_max"] = keys[-1] if keys else 0
                res[name]["bucket_keys_median"] = (
                    keys[len(keys) // 2] if keys else 0
                )
                # write-task granularity: rows per leaf dir (a split
                # bucket contributes one leaf per sub) — the spread
                # the hot_split exists to bound
                leaves = sorted(store.leaf_file_rows().values())
                if leaves:
                    res[name]["leaf_rows_max"] = leaves[-1]
                    res[name]["leaf_rows_median"] = leaves[len(leaves) // 2]
                    res[name]["n_leaves"] = len(leaves)
        res["n_changes"] = info["n_changes"]
        res["hot_fraction"] = 0.6  # generator parameter (seed 43)
        return res
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def bench_mor(spark) -> dict:
    """Merge-on-read apply: the SAME cached stream as the COW
    headline, replayed via ``merge_mor`` delta commits (no base
    rewrite per batch), then one trailing full compaction.  Records
    ingest time, compaction time, and the resolved-read check so the
    COW-vs-MoR write-amplification trade is measured, not asserted.
    At 10^10 events the point: MoR ingest cost scales with the BATCH,
    COW with the touched buckets' total rows."""
    from pyspark.sql import functions as F

    from pg_pb3_ld_spark.config import EngineConfig
    from pg_pb3_ld_spark.pipeline import IngestPipeline
    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    frames_path, info = cached_stream()
    frames = spark.read.parquet(frames_path)
    n_frames = info["n_frames"]
    cfg = EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184", decode_parallelism=DECODE_PAR,
    )
    workdir = tempfile.mkdtemp(prefix="pb3ld_mor_")
    try:
        def apply_once(rnd: int):
            store = SnapshotStore.create(
                spark, os.path.join(workdir, f"t{rnd}"),
                transcripts_schema(), num_buckets=max(CPUS, 8),
            )
            pipe = IngestPipeline(spark, store, cfg, apply_mode="mor")
            t0 = time.time()
            step = (n_frames + N_BATCHES - 1) // N_BATCHES
            for b in range(1, N_BATCHES):
                pipe.apply_frames(
                    frames.where(F.col("frame_seq") < b * step),
                    batch_id=b,
                )
            pipe.apply_frames(frames, batch_id=N_BATCHES)
            ingest = time.time() - t0
            t0 = time.time()
            store.compact()
            compact = time.time() - t0
            return round(ingest, 2), round(compact, 2), store

        apply_once(99)  # warm
        raws, compacts = [], []
        store = None
        for rnd in range(2):
            waited = 0
            while os.getloadavg()[0] > 2.0 and waited < 120:
                time.sleep(10)
                waited += 10
            ing, comp, store = apply_once(rnd)
            raws.append(ing)
            compacts.append(comp)
        best = min(raws)
        return {
            "ingest_best_sec": best,
            "ingest_raw_runs_sec": raws,
            "compact_best_sec": min(compacts),
            "compact_raw_runs_sec": compacts,
            "events_per_sec_ingest": round(info["n_changes"] / best, 1),
            "events_per_sec_with_compaction": round(
                info["n_changes"] / (best + min(compacts)), 1
            ),
            "final_rows": store.read_table().count() if store else 0,
            "n_changes": info["n_changes"],
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def bench_queries(spark) -> dict:
    import __spark_entry__ as entrymod

    out = {}
    for name, fn in sorted(entrymod.queries().items()):
        t0 = time.time()
        df = fn(spark, SF_DIR)
        n = df.count()
        out[name] = round(time.time() - t0, 3)
    return out


def main():
    from pg_pb3_ld_spark.session import build_session

    # the sandbox shares its host with foreign load that swings runs
    # 2-3x; wait briefly for a quiet window before measuring
    waited = 0
    while os.getloadavg()[0] > 2.0 and waited < 240:
        time.sleep(15)
        waited += 15

    spark = build_session(
        app_name="pb3ld-bench", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    try:
        probe0 = probe_host_capacity()
        cdc = bench_cdc_apply(spark)
        probe1 = probe_host_capacity()
        skew = bench_skew(spark)
        mor = bench_mor(spark)
        queries = {"cdc_apply": cdc["elapsed_sec"]}
        queries["cdc_apply_storm_unsalted"] = skew["unsalted"]["best_sec"]
        queries["cdc_apply_mor_ingest"] = mor["ingest_best_sec"]
        queries["cdc_apply_mor_compact"] = mor["compact_best_sec"]
        queries.update(bench_queries(spark))
        result = {
            "metric": "change-events/sec applied (MERGE throughput)",
            "value": cdc["events_per_sec"],
            "unit": "events/sec",
            "queries": queries,
            "sf": SF_DIR,
            "cpus": CPUS,
            "detail": {
                **cdc, "skew": skew, "mor": mor,
                "host_capacity_probe": {
                    "before_headline": probe0,
                    "after_headline": probe1,
                },
            },
        }
        print(json.dumps(result))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
