#!/usr/bin/env python3
"""CDC apply benchmark: one workload, one seed, one JSON result line.

    python3 cdcbench/run.py --workload bulk_cow --seed 1 --seconds 10 --trace 0

Runs a seeded CDC stream (``workloads.py``) through the engine's public
API at ``local[4]`` in a closed loop — each micro-batch is offered only
after the previous one committed — repeating the workload on fresh
stores until ``--seconds`` of measurement have elapsed.  Every
repetition's final table is checked against the generator's oracle
with ``exceptAll`` in both directions.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same untraced repetitions and then a traced pass (``tracing.py``) and
prints the per-layer metrics.  Before the result line the benchmark
prints one ``{"record": ...}`` line holding the workload record, every
sample, quartiles and host stamps.  The exit code is 0 only if every
batch committed and every table matched its oracle.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")

sys.path.insert(0, HERE)

import host  # noqa: E402
import workloads  # noqa: E402

CORES = 4
NUM_BUCKETS = 8
# consumer reads after a COW ingest (a MoR store is read after every commit)
COW_READS = 9
# a run must end within 180 s; the traced pass skips its local[1]
# scaling replay rather than overrun this
RUN_BUDGET_S = 170

END_TO_END_UNITS = {
    "cpu_us_per_event": "us",
    "core_use": "ratio",
    "read_cpu_s": "s",
    "setup_s": "s",
}


def quartiles(values: list[float]) -> dict:
    vals = sorted(values)
    if len(vals) >= 2:
        q1, med, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    else:
        q1 = med = q3 = vals[0]
    return {"median": med, "q1": q1, "q3": q3, "n": len(vals)}


# ------------------------------------------------------------- session


def build_spark(work: str, cores: int, event_log: str | None = None):
    """The engine's session (``session.build_session``) with every
    scratch directory inside the run's work directory."""
    from pg_pb3_ld_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed 2 GiB initial heap spares G1 the concurrent marking
        # cycles a growing heap sets off at random points of a run; JIT
        # compiler threads that live as long as the JVM let ``host.py``
        # keep their CPU apart
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads -Xms2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(
        app_name="cdcbench", master=f"local[{cores}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - a signal broke the gateway mid-call
        pass
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is stopped below regardless
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------- one workload


class Bench:
    """State of one run: session, inputs, stores and samples."""

    def __init__(self, spark, w: workloads.Workload, inputs: str, work: str):
        from pg_pb3_ld_spark.schema import transcripts_schema

        self.spark = spark
        self.w = w
        self.inputs = inputs
        self.work = work
        self.cfg = workloads.stream_config()
        self.schema = transcripts_schema()
        with open(os.path.join(inputs, "inputs.json")) as f:
            self.record = json.load(f)
        self.n_stores = 0
        self.stores: list = []
        # traced runs only: the program's batches for the event log,
        # and the streaming listener's progress events
        self.counted: list[dict] | None = None
        self.progress: list[dict] = []

    def new_store(self, tag: str):
        from pg_pb3_ld_spark.sinks.store import SnapshotStore

        self.n_stores += 1
        store = SnapshotStore.create(
            self.spark,
            os.path.join(self.work, "stores", f"{self.n_stores:03d}-{tag}"),
            self.schema, num_buckets=NUM_BUCKETS,
        )
        self.stores.append(store)
        return store

    def frames(self, which: str = "frames"):
        return self.spark.read.parquet(os.path.join(self.inputs, which))

    # -- ingest drivers: return per-batch samples --------------------

    def ingest_prefix(self, store, frames, n_frames: int, batches: int,
                      tag: str, after_commit=None) -> list[dict]:
        """Closed loop of prefix batches: batch b offers every frame
        below b/batches of the stream; the store watermark filters the
        replayed part.  In a traced run each batch gets a job group so
        the event log can count the program's jobs per batch."""
        from pyspark.sql import functions as F

        from pg_pb3_ld_spark.pipeline import IngestPipeline

        pipe = IngestPipeline(
            self.spark, store, self.cfg, apply_mode=self.w.apply_mode
        )
        sc = self.spark.sparkContext
        step = -(-n_frames // batches)
        out = []
        for b in range(1, batches + 1):
            offered = min(b * step, n_frames)
            fresh = offered - (store.hwm()[1] + 1)
            df = frames if b == batches else frames.where(
                F.col("frame_seq") < b * step
            )
            group = f"{tag}/{b}"
            if self.counted is not None:
                sc.setJobGroup(group, "apply_frames")
            start = time.time()
            meter = host.CpuMeter()
            m = pipe.apply_frames(df, batch_id=b)
            lap = meter.lap()
            out.append({
                "latency_s": lap["wall_s"],
                "cpu_s": lap["cpu_s"],
                "jit_s": lap["jit_s"],
                "steal_s": lap["steal_s"],
                "offered": offered, "fresh": fresh,
                "applied_changes": int(m.get("applied_changes", 0)),
                "metrics": m,
            })
            if self.counted is not None:
                sc._jsc.clearJobGroup()
                self.counted.append({
                    "start": start, "end": time.time(),
                    "match": lambda j, g=group: j["group"] == g,
                })
            if after_commit:
                after_commit(store)
        return out

    def ingest_stream(self, store, landing: str, tag: str) -> list[dict]:
        """``run_stream`` over the landing zone, one file per trigger.
        A batch runs from the previous commit (the first from the call)
        to its own commit.  In a traced run a StreamingQueryListener
        records each trigger."""
        from pg_pb3_ld_spark.streaming.runner import run_stream

        laps: list[dict] = []

        class Stamped(list):
            def append(self, m):
                laps.append(meter.lap())
                super().append(m)

        ckpt = os.path.join(self.work, "checkpoints", f"{self.n_stores:03d}-{tag}")
        listener = None
        if self.counted is not None:
            import tracing

            listener = tracing.progress_listener()
            self.spark.streams.addListener(listener)
        meter = host.CpuMeter()
        try:
            ms = run_stream(
                self.spark, landing, store, self.cfg, checkpoint_dir=ckpt,
                max_files_per_trigger=1, collect_metrics=Stamped(),
            )
        finally:
            if listener is not None:
                # progress events arrive asynchronously after the query ends
                wait_until = time.monotonic() + 10
                while len(listener.events) < len(laps) and time.monotonic() < wait_until:
                    time.sleep(0.05)
                self.spark.streams.removeListener(listener)
        if listener is not None:
            self.progress += listener.events
            for p in listener.events:
                start = tracing.epoch(p["timestamp"])
                self.counted.append({
                    "start": start,
                    "end": start + p["durationMs"]["triggerExecution"] / 1000,
                    "match": lambda j, r=p["runId"], b=str(p["batchId"]):
                        j["group"] == r and j["batch"] == b,
                })
        return [
            {
                "latency_s": lap["wall_s"],
                "cpu_s": lap["cpu_s"],
                "jit_s": lap["jit_s"],
                "steal_s": lap["steal_s"],
                "applied_changes": int(m.get("applied_changes", 0)),
                "pending_frames": int(m.get("pending_frames", 0)),
                "metrics": m,
            }
            for lap, m in zip(laps, ms)
        ]

    # -- consumer side ----------------------------------------------

    def consumer_read(self, store) -> dict:
        """The fixed consumer query: turns and text length per conv."""
        from pyspark.sql import functions as F

        meter = host.CpuMeter()
        (
            store.read_table()
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("turns"),
                 F.sum(F.length("text")).alias("text_len"))
            .collect()
        )
        return meter.lap()

    def consume(self, store, span=None) -> tuple[list[dict], float | None]:
        """The consumer side after ingest: ``COW_READS`` reads of a COW
        store, compaction of a MoR store (which was read after every
        commit).  ``span(name)`` wraps each call (traced pass)."""
        span = span or (lambda name: contextlib.nullcontext())
        if self.w.apply_mode == "mor":
            t0 = time.perf_counter()
            with span("sinks.store.compact"):
                store.compact()
            return [], time.perf_counter() - t0
        reads = []
        for _ in range(COW_READS):
            with span("sinks.store.read"):
                reads.append(self.consumer_read(store))
        return reads, None

    def oracle_mismatches(self, store) -> int:
        """Rows in either side's ``exceptAll`` (0 = table == oracle)."""
        got = store.read_table()
        exp = self.spark.read.parquet(os.path.join(self.inputs, "oracle.parquet"))
        if sorted(got.columns) != sorted(exp.columns):
            return max(got.count(), 1)
        got = got.select(*exp.columns)
        return got.exceptAll(exp).count() + exp.exceptAll(got).count()

    # -- one repetition ---------------------------------------------

    def repetition(self, tag: str, consumer: bool = True) -> dict:
        """Ingest the workload into a fresh store, run the consumer
        side (unless ``consumer`` is false), check the oracle.  Raises
        if a batch raises."""
        store = self.new_store(tag)
        reads: list[dict] = []
        if self.w.driver == "stream":
            batches = self.ingest_stream(
                store, os.path.join(self.inputs, "frames"), tag
            )
            offered = self.record["frames"] + sum(
                b["pending_frames"] for b in batches
            )
            fresh = self.record["frames"]
        else:
            frames = self.frames()
            after = None
            if self.w.apply_mode == "mor" and consumer:
                after = lambda s: reads.append(self.consumer_read(s))  # noqa: E731
            batches = self.ingest_prefix(
                store, frames, self.record["frames"], self.w.batches, tag,
                after_commit=after,
            )
            offered = sum(b["offered"] for b in batches)
            fresh = sum(b["fresh"] for b in batches)
        compact_s = None
        if consumer:
            more_reads, compact_s = self.consume(store)
            reads += more_reads
        changes = sum(b["applied_changes"] for b in batches)
        ingest_s = sum(b["latency_s"] for b in batches)
        cpu_s = sum(b["cpu_s"] for b in batches)
        jit_s = sum(b["jit_s"] for b in batches)
        steal_s = sum(b["steal_s"] for b in batches)
        return {
            "ingest_s": ingest_s,
            "changes": changes,
            "events_per_s": changes / ingest_s,
            "cpu_s": cpu_s,
            "cpu_us_per_event": cpu_s * 1e6 / changes,
            "jit_s": jit_s,
            # CPU the ingest used / CPU the host let this machine run
            "core_use": cpu_s / (host.nproc() * ingest_s - steal_s),
            "steal_share": steal_s / (host.nproc() * ingest_s),
            "batch_latency_s": [b["latency_s"] for b in batches],
            "batch_cpu_s": [b["cpu_s"] for b in batches],
            "read_s": [r["wall_s"] for r in reads],
            "read_cpu_s": [r["cpu_s"] for r in reads],
            "compact_s": compact_s,
            "fresh_ratio": fresh / offered,
            "oracle_mismatches": self.oracle_mismatches(store),
            "batch_metrics": [_jsonable(b["metrics"]) for b in batches],
        }

    def warmup(self) -> None:
        """Set-up: the workload's first micro-batch into a store of its
        own, one consumer read, and a compaction on MoR, so that the
        measured repetitions find the code generated and the Python
        workers started."""
        store = self.new_store("warm")
        if self.w.driver == "stream":
            self.ingest_stream(store, os.path.join(self.inputs, "warm"), "warm")
        else:
            self.ingest_prefix(
                store, self.frames("warm"), self.record["warm_frames"], 1,
                "warm",
            )
        self.consumer_read(store)
        if self.w.apply_mode == "mor":
            store.compact()

    def hygiene(self) -> dict:
        """Leak counters read from outside after the run."""
        staging = 0
        for s in self.stores:
            d = os.path.join(s.root, "staging")
            if os.path.isdir(d):
                staging += len(os.listdir(d))
        jsc = self.spark.sparkContext._jsc
        return {
            "persisted_rdds_after": int(jsc.getPersistentRDDs().size()),
            "staging_dirs_after": staging,
        }


def _jsonable(m):
    if isinstance(m, dict):
        return {k: _jsonable(v) for k, v in m.items()}
    if isinstance(m, (list, tuple)):
        return [_jsonable(v) for v in m]
    if isinstance(m, float):
        return round(m, 4)
    return m


# ---------------------------------------------------------------- main


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny streams, for the self-test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # every process the run starts, and every one they leave behind,
    # has ended before the benchmark exits
    host.become_subreaper()
    try:
        return run(args)
    finally:
        host.reap_children()


def run(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import pg_pb3_ld_spark
    except ImportError as exc:
        print(f"cdcbench: no engine package in {ROOT}: {exc}", file=sys.stderr)
        return 2
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(pg_pb3_ld_spark.__file__)))
    if pkg_root != ROOT:
        print(f"cdcbench: the engine was imported from {pkg_root}, not {ROOT}",
              file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_BUDGET_S
    # on SIGTERM, unwind through the finally below: stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = workloads.sized(workloads.WORKLOADS[args.workload], args.smoke)
    run_id = f"{w.name}-s{args.seed}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    inputs = os.path.join(work, "inputs")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = gen = None
    reps, failures = [], []
    try:
        # inputs are generated in a child while the session starts
        setup = host.CpuMeter()
        gen = subprocess.Popen([
            sys.executable, os.path.join(HERE, "workloads.py"), w.name,
            str(args.seed), str(min(4, host.nproc())), inputs,
        ] + (["--smoke"] if args.smoke else []))
        t0 = time.perf_counter()
        spark = build_spark(work, CORES, event_log)
        session_s = time.perf_counter() - t0
        if gen.wait() != 0:
            raise RuntimeError(f"input generation failed (exit {gen.returncode})")
        bench = Bench(spark, w, inputs, work)
        t0 = time.perf_counter()
        bench.warmup()
        warmup_s = time.perf_counter() - t0
        # set-up CPU: the generator child ran alongside; its CPU (reaped
        # into this process's children time) is not set-up work
        setup_lap = setup.lap()
        setup_s = setup_lap["cpu_s"] - bench.record["generate_cpu_s"]

        if args.trace:
            bench.counted = []
        mem = host.MemorySampler().start()
        load0 = host.loadavg()
        window = host.CpuMeter()
        t0 = time.perf_counter()
        while True:
            try:
                reps.append(bench.repetition(f"rep{len(reps) + len(failures)}"))
            except Exception as exc:  # a batch raised: count it, go on
                failures.append(f"{type(exc).__name__}: {exc}"[:500])
            if time.perf_counter() - t0 >= args.seconds or len(failures) > 2:
                break
        lap = window.lap()
        capacity = lap["wall_s"] * host.nproc()
        host_stamp = {
            "wall_s": lap["wall_s"],
            "own_cpu_s": lap["cpu_s"],
            "foreign_cpu_s": lap["foreign_s"],
            "foreign_share": lap["foreign_s"] / capacity,
            "steal_share": lap["steal_s"] / capacity,
            "loadavg_start": load0,
            "loadavg_end": host.loadavg(),
        }
        peak_rss = mem.stop()
        hygiene = bench.hygiene()

        if args.trace:
            import tracing

            spans = tracing.Spans(spark.sparkContext, run_id)
            traced = tracing.traced_repetition(spans, bench)
            kernel = tracing.decoder_throughput(bench)
            hygiene_traced = bench.hygiene()
            spark.stop()  # flushes the event log; the JVM stays up
            spans_path = os.path.join(WORK_ROOT, "spans", run_id + ".jsonl")
            spans.write(spans_path)
            jobs = tracing.read_event_log(event_log)
            counted, bench.counted = bench.counted, None
            scaling = {"skipped": "stream driver"}
            if w.driver == "prefix" and reps:
                scaling = tracing.scaling_replay(
                    bench, lambda cores: build_spark(work, cores), deadline
                )
            layer, accounting = tracing.layer_metrics(
                spans, jobs, traced, counted, bench.progress,
                kernel, scaling, hygiene_traced, reps,
            )
    finally:
        if spark is not None:
            stop_spark(spark)
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(len(r["batch_latency_s"]) + 1 for r in reps) + len(failures)
    failed = len(failures) + sum(1 for r in reps if r["oracle_mismatches"])
    samples = {
        "cpu_us_per_event": [r["cpu_us_per_event"] for r in reps],
        "core_use": [r["core_use"] for r in reps],
        "batch_cpu_s": [x for r in reps for x in r["batch_cpu_s"]],
        "read_cpu_s": [x for r in reps for x in r["read_cpu_s"]],
        "events_per_s": [r["events_per_s"] for r in reps],
        "batch_latency_s": [x for r in reps for x in r["batch_latency_s"]],
        "read_s": [x for r in reps for x in r["read_s"]],
        "steal_share": [r["steal_share"] for r in reps],
        "compact_s": [r["compact_s"] for r in reps if r["compact_s"] is not None],
        "fresh_ratio": [r["fresh_ratio"] for r in reps],
    }
    summary = {k: quartiles(v) for k, v in samples.items() if v}
    e2e = {
        "cpu_us_per_event": summary["cpu_us_per_event"]["median"],
        "core_use": summary["core_use"]["median"],
        "read_cpu_s": summary["read_cpu_s"]["median"],
        "setup_s": setup_s,
    } if reps else {}
    record = {
        "workload": bench.record,
        "why": w.why,
        "args": vars(args),
        "host": {
            "nproc": host.nproc(), **host_stamp,
            "peak_rss_mb_by_command": {
                k: round(v / (1 << 20), 1) for k, v in mem.peak_by_comm.items()
            },
        },
        "setup": {
            "cpu_s": setup_s, "wall_s": setup_lap["wall_s"],
            "session_s": session_s, "warmup_s": warmup_s,
        },
        "summary": summary,
        "peak_rss_mb": peak_rss,
        "end_to_end": e2e,
        "failed_share": failed / max(attempted, 1),
        "failures": failures,
        "hygiene": hygiene,
        "repetitions": [
            {k: v for k, v in r.items() if k != "batch_metrics"} for r in reps
        ],
        "batch_metrics": [r["batch_metrics"] for r in reps],
    }
    if args.trace:
        checks = [traced["oracle_mismatches"]] + [
            v for k, v in scaling.items() if k.startswith("oracle_mismatches")
        ]
        attempted += len(traced["batches"]) + len(checks)
        failed += sum(1 for c in checks if c)
        record["trace"] = {"spans": spans_path, **accounting}
        metrics = {
            k: {"value": v, "unit": tracing.PER_LAYER_UNITS[k]}
            for k, v in layer.items()
        }
    else:
        metrics = {
            k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()
        }
    print(json.dumps({"record": _jsonable(record)}))
    print(json.dumps({
        "correct": failed == 0 and bool(reps),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 and reps else 1


if __name__ == "__main__":
    sys.exit(main())
