"""Traced pass: per-layer attribution of each micro-batch.

Spans are recorded from this file, around calls into the engine's
public functions, composed in ``IngestPipeline.apply_frames`` order:

    sources.frames        watermark filter on the frame table
    operators.decode      decode_typed_changes(...).persist(), materialized
    operators.txn.summary batch_summary_typed
    operators.project     evolved schema + probe projection (evolution batch)
    operators.txn.gate    gate_by_commit_watermark
    operators.fold        fold_changes(...).persist(), materialized
    sinks.store.merge     SnapshotStore.merge / merge_mor
    sinks.store.pending   held-back tail write (stream driver)

Each span runs under its own Spark job group; Spark's event log (on
for ``--trace 1`` runs only) gives jobs, tasks, task run time, shuffle
bytes and failed tasks per group.  Counting queries that only the
benchmark needs run in ``trace.probe`` spans and are kept out of the
layer numbers.  Spans stay in memory and are written out as JSON
lines when the pass ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

PROBE_COLS = ("_x_names", "_x_oids", "_x_values", "_x_nulls", "_x_formats")


# ---------------------------------------------------------------- spans


class Spans:
    """In-memory spans; each span is also a Spark job group."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"{self.run_id}/{len(self.spans)}",
            "start": time.time(), **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = _union([(c["start"], c["end"]) for c in self.children(rec)])
        return (rec["end"] - rec["start"]) - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ------------------------------------------------------------ event log


def read_event_log(directory: str) -> dict:
    """Jobs from Spark's event log: group, streaming batch, interval,
    task count, task run time, shuffle bytes written, failed tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(directory, "*")):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                        "start": e["Submission Time"] / 1000,
                        "end": None, "tasks": 0, "run_s": 0.0,
                        "shuffle_bytes": 0, "failed_tasks": 0,
                    }
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"]))
                    if job is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["run_s"] += m.get("Executor Run Time", 0) / 1000
                    job["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    if (e.get("Task Info") or {}).get("Failed"):
                        job["failed_tasks"] += 1
    for j in jobs.values():
        j["end"] = j["end"] or j["start"]
    return jobs


def job_stats(jobs: list[dict]) -> dict:
    return {
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "busy_s": sum(j["run_s"] for j in jobs),
        "shuffle_mb": sum(j["shuffle_bytes"] for j in jobs) / (1 << 20),
        "task_failures": sum(j["failed_tasks"] for j in jobs),
    }


def driver_time(start: float, end: float, jobs: list[dict]) -> float:
    """Part of [start, end] during which no Spark job was running."""
    cover = _union([
        (max(j["start"], start), min(j["end"], end))
        for j in jobs if j["end"] > start and j["start"] < end
    ])
    return (end - start) - cover


# -------------------------------------------------- streaming listener


def progress_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def epoch(iso: str) -> float:
    import datetime

    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# --------------------------------------------------- traced composition


def traced_batch(spans: Spans, bench, store, frames_df, batch_id: int,
                 pending_out: str | None = None) -> dict:
    """One micro-batch composed from the engine's public calls in
    ``apply_frames`` order, every call in its own span."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pg_pb3_ld_spark.operators.decode import decode_typed_changes
    from pg_pb3_ld_spark.operators.fold import ORD_SHIFT, fold_changes
    from pg_pb3_ld_spark.operators.project import (
        can_project_from_probe,
        project_evolved_from_probe,
    )
    from pg_pb3_ld_spark.operators.txn import (
        batch_summary_typed,
        gate_by_commit_watermark,
    )

    spark, cfg = bench.spark, bench.cfg
    out: dict = {"batch_id": batch_id}
    with spans.span("pipeline.batch", batch=batch_id) as batch:
        with spans.span("sources.frames"):
            hwm_lsn, hwm_frame = store.hwm()
            fresh = frames_df.where(
                (F.col("lsn") > hwm_lsn)
                | ((F.col("lsn") == hwm_lsn) & (F.col("frame_seq") > hwm_frame))
            )
        typed = folded = None
        try:
            with spans.span("operators.decode") as s:
                typed = decode_typed_changes(
                    fresh, store.schema, cfg,
                    parallelism=spark.sparkContext.defaultParallelism,
                ).persist()
                s["rows_out"] = out["decoded_rows"] = typed.count()
            with spans.span("operators.txn.summary"):
                summary = batch_summary_typed(typed)
            schema = store.schema
            data = typed.where(F.col("table_name") == schema.table)
            own = summary["names_by_table"].get(schema.table, [])
            out["evolved"] = bool(own)
            if own:
                with spans.span("operators.project"):
                    evolved = store.evolved_schema(own)
                    new_cols = [
                        c for c in evolved.columns
                        if all(c.name != o.name for o in schema.columns)
                    ]
                    if len(new_cols) != len({n for n, _ in own}) or not \
                            can_project_from_probe(new_cols, cfg):
                        raise NotImplementedError(
                            "traced pass covers additive evolution only"
                        )
                    schema = evolved
                    data = project_evolved_from_probe(data, new_cols)
            commit_ord = summary["commit_ord"]
            with spans.span("operators.txn.gate"):
                gated = gate_by_commit_watermark(
                    data.drop(*PROBE_COLS, "_split"), commit_ord,
                    has_commits=cfg.commit_messages,
                )
            with spans.span("trace.probe"):
                packed = F.shiftleft(F.col("frame_seq"), ORD_SHIFT) + F.col("offset_idx")
                wm = -1 if commit_ord is None else (commit_ord[0] << ORD_SHIFT) + commit_ord[1]
                row = data.where(F.col("op").isin("INSERT", "UPDATE", "DELETE")).agg(
                    F.sum(F.when(packed >= F.lit(wm), 1).otherwise(0)).alias("held"),
                ).collect()[0]
                out["held_back"] = int(row["held"] or 0)
            with spans.span("operators.fold") as s:
                folded = fold_changes(gated, schema).persist()
                s["keys_out"] = out["keys_out"] = folded.count()
            with spans.span("trace.probe"):
                conv = folded.groupBy("conv_id").agg(F.sum("n_changes").alias("n"))
                crow = conv.agg(F.sum("n").alias("t"), F.max("n").alias("m")).collect()[0]
                out["gated_changes"] = int(crow["t"] or 0)
                out["hot_conv_changes"] = int(crow["m"] or 0)
                buckets = (
                    folded.groupBy(store.bucket_expr("conv_id").alias("b"))
                    .agg(F.count(F.lit(1)).alias("k")).collect()
                )
                out["bucket_keys"] = sorted(int(r["k"]) for r in buckets)
            if commit_ord is None:
                out["merge"] = {"applied_keys": 0, "skipped": True}
            else:
                mor = bench.w.apply_mode == "mor"
                merge = store.merge_mor if mor else store.merge
                with spans.span("sinks.store.merge_mor" if mor else "sinks.store.merge") as s:
                    m = merge(
                        folded, schema=schema, batch_id=batch_id,
                        hwm_override=(commit_ord[2], commit_ord[0]),
                    )
                    s["phase_s"] = m.get("merge_phase_sec", {})
                out["merge"] = m
        finally:
            if typed is not None:
                typed.unpersist()
            if folded is not None:
                folded.unpersist()
        if pending_out is not None:
            with spans.span("sinks.store.pending"):
                wm_frame = commit_ord[0] if commit_ord else hwm_frame
                obs = Observation(f"trace_pending_{batch_id}")
                fresh.where(F.col("frame_seq") > wm_frame).observe(
                    obs, F.count(F.lit(1)).alias("n")
                ).write.mode("overwrite").parquet(pending_out)
                out["pending_frames"] = int(obs.get["n"])
        out["span"] = batch["id"]
    return out


def traced_repetition(spans: Spans, bench) -> dict:
    """The workload once more, every batch traced; then the consumer
    side in spans and the oracle check."""
    from pg_pb3_ld_spark.streaming.runner import FRAME_DDL

    spark = bench.spark
    store = bench.new_store("traced")
    batches = []
    if bench.w.driver == "stream":
        # the runner's landing-file order and pending-tail carryover
        files = sorted(glob.glob(os.path.join(bench.inputs, "frames", "*.parquet")))
        pending = [os.path.join(store.root, p) for p in ("pending_a", "pending_b")]
        for i, path in enumerate(files):
            src, dst = pending[i % 2], pending[(i + 1) % 2]
            df = spark.read.schema(FRAME_DDL).parquet(path)
            if os.path.exists(src):
                df = df.unionByName(spark.read.parquet(src))
            batches.append(traced_batch(spans, bench, store, df, i, pending_out=dst))
    else:
        from pyspark.sql import functions as F

        frames = bench.frames()
        n = bench.record["frames"]
        step = -(-n // bench.w.batches)
        for b in range(1, bench.w.batches + 1):
            df = frames if b == bench.w.batches else frames.where(
                F.col("frame_seq") < b * step
            )
            batches.append(traced_batch(spans, bench, store, df, b))
            if bench.w.apply_mode == "mor":
                with spans.span("sinks.store.read"):
                    bench.consumer_read(store)
    delta_files = sum(store.delta_state().values())
    bench.consume(store, spans.span)
    return {
        "batches": batches,
        "delta_files": delta_files,
        "oracle_mismatches": bench.oracle_mismatches(store),
    }


def decoder_throughput(bench, seconds: float = 1.0) -> dict:
    """Driver-side, single-thread ``pb3.decoder.decode_frame_typed`` on
    the stream's first frames (about 4 MiB of wire), timed alone."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_pb3_ld_spark.pb3.decoder import decode_frame_typed
    from pg_pb3_ld_spark.schema import TargetColumn

    first = sorted(glob.glob(os.path.join(bench.inputs, "frames", "*.parquet")))[0]
    table = pq.read_table(first)
    sizes = np.cumsum([len(f) for f in table.column("frame").to_pylist()])
    n = max(1, int(np.searchsorted(sizes, 4 << 20)))
    table = table.slice(0, n)
    frames = pa.concat_arrays(table.column("frame").chunks)
    lsns = table.column("lsn").to_numpy()
    seqs = table.column("frame_seq").to_numpy()
    schema = bench.schema.with_column(TargetColumn("model", 25, "string"))
    wire = int(sizes[n - 1])
    times = []
    t_end = time.perf_counter() + seconds
    while len(times) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        decode_frame_typed(frames, lsns, seqs, schema, bench.cfg)
        times.append(time.perf_counter() - t0)
    return {
        "wire_mb": wire / (1 << 20),
        "calls": len(times),
        "mb_per_s": wire / (1 << 20) / statistics.median(times),
    }


def scaling_replay(bench, build_spark, deadline: float) -> dict:
    """The workload's ingest at ``local[4]`` and then at ``local[1]``,
    untraced, each in a fresh session of the same, already warm JVM, so
    neither side pays the JVM's warm-up.  Skipped when the run's time
    budget cannot cover it."""
    left = deadline - time.monotonic()
    if left < 75:
        return {"skipped": f"{left:.0f} s left in the run's time budget"}
    out = {}
    for cores in (4, 1):
        bench.spark = build_spark(cores)
        try:
            rep = bench.repetition(f"local{cores}", consumer=False)
        finally:
            bench.spark.stop()
        out[f"events_per_s_local{cores}"] = rep["events_per_s"]
        out[f"oracle_mismatches_local{cores}"] = rep["oracle_mismatches"]
    out["efficiency"] = out["events_per_s_local4"] / out["events_per_s_local1"] / 4
    return out


# ------------------------------------------------------- per-layer metrics

PER_LAYER_UNITS = {
    "pipeline.batch_s": "s",
    "pipeline.spark_jobs_per_batch": "count",
    "pipeline.tasks_per_batch": "count",
    "pipeline.driver_s": "s",
    "pipeline.self_s": "s",
    "pipeline.scaling_eff_1to4": "ratio",
    "pipeline.persisted_rdds_after": "count",
    "pipeline.task_failures": "count",
    "sources.frames.fresh_ratio": "ratio",
    "sources.frames.task_failures": "count",
    "operators.decode.s": "s",
    "operators.decode.rows_out": "count",
    "operators.decode.busy_s": "s",
    "operators.decode.shuffle_mb": "MiB",
    "operators.decode.task_failures": "count",
    "pb3.decoder.wire_mb_per_s": "MiB/s",
    "operators.txn.summary_s": "s",
    "operators.txn.gate_s": "s",
    "operators.txn.held_back_changes": "count",
    "operators.txn.task_failures": "count",
    "operators.fold.s": "s",
    "operators.fold.collapse_ratio": "ratio",
    "operators.fold.hot_key_share": "ratio",
    "operators.fold.task_failures": "count",
    "operators.project.evolved_batches": "count",
    "operators.project.task_failures": "count",
    "sinks.store.merge_s": "s",
    "sinks.store.stats_s": "s",
    "sinks.store.write_s": "s",
    "sinks.store.commit_s": "s",
    "sinks.store.buckets_rewritten": "count",
    "sinks.store.rows_written": "count",
    "sinks.store.write_amp": "ratio",
    "sinks.store.merge_mor_s": "s",
    "sinks.store.delta_files": "count",
    "sinks.store.read_s": "s",
    "sinks.store.compact_s": "s",
    "sinks.store.pending_s": "s",
    "sinks.store.bucket_keys_max_over_median": "ratio",
    "sinks.store.staging_dirs_after": "count",
    "sinks.store.task_failures": "count",
    "streaming.runner.trigger_s": "s",
    "streaming.runner.add_batch_s": "s",
    "streaming.runner.overhead_s": "s",
    "streaming.runner.task_failures": "count",
    "trace.probe_s": "s",
    "trace.overhead": "ratio",
}

# span name -> layer whose metrics it feeds
_LAYER_OF = {
    "sources.frames": "sources.frames",
    "operators.decode": "operators.decode",
    "operators.txn.summary": "operators.txn",
    "operators.txn.gate": "operators.txn",
    "operators.project": "operators.project",
    "operators.fold": "operators.fold",
    "sinks.store.merge": "sinks.store",
    "sinks.store.merge_mor": "sinks.store",
    "sinks.store.pending": "sinks.store",
    "sinks.store.read": "sinks.store",
    "sinks.store.compact": "sinks.store",
}


def _sum_by_name(spans: list[dict]) -> dict:
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(spans: Spans, jobs: dict, traced: dict, counted: list[dict],
                  progress: list[dict], kernel: dict, scaling: dict,
                  hygiene: dict, untraced: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics for the result line, and the accounting
    behind them for the record.  A metric a workload does not
    exercise (MoR on a COW store, trigger overhead without a stream,
    scaling on the stream driver) reads 0."""
    by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        by_group.setdefault(j["group"], []).append(j)

    def span_jobs(s: dict) -> list[dict]:
        return by_group.get(s["group"], [])

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    named: dict[str, list[dict]] = {}
    for s in spans.spans:
        named.setdefault(s["name"], []).append(s)
    batch_spans = named.get("pipeline.batch", [])
    layer_fail: dict[str, int] = {}
    for s in spans.spans:
        layer = _LAYER_OF.get(s["name"])
        if layer:
            layer_fail[layer] = layer_fail.get(layer, 0) + sum(
                j["failed_tasks"] for j in span_jobs(s)
            )

    tb = traced["batches"]
    merged = [b["merge"] for b in tb if not b["merge"].get("skipped")]
    merge_spans = named.get("sinks.store.merge", []) + named.get("sinks.store.merge_mor", [])
    phases = [s.get("phase_s", {}) for s in merge_spans]
    gated = sum(b["gated_changes"] for b in tb)
    keys = sum(m.get("applied_keys", 0) for m in merged)
    ratios = [
        max(b["bucket_keys"]) / statistics.median(b["bucket_keys"])
        for b in tb if b["bucket_keys"]
    ]

    # the program's own jobs per batch, from the untraced counted reps
    per_batch = []
    for c in counted:
        js = [j for j in jobs.values() if c["match"](j)]
        per_batch.append({
            **job_stats(js),
            "wall_s": c["end"] - c["start"],
            "driver_s": driver_time(c["start"], c["end"], js),
        })
    trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in progress]
    addb = [p["durationMs"].get("addBatch", 0) / 1000 for p in progress]

    untraced_eps = _med(r["events_per_s"] for r in untraced)
    traced_s = sum(dur(s) for s in batch_spans)
    traced_eps = sum(m.get("applied_changes", 0) for m in merged) / traced_s

    probe = [
        sum(dur(c) for c in spans.children(b) if c["name"] == "trace.probe")
        for b in batch_spans
    ]
    m = {
        "pipeline.batch_s": _med(dur(s) for s in batch_spans),
        "pipeline.spark_jobs_per_batch": _med(b["jobs"] for b in per_batch),
        "pipeline.tasks_per_batch": _med(b["tasks"] for b in per_batch),
        "pipeline.driver_s": _med(b["driver_s"] for b in per_batch),
        "pipeline.self_s": _med(spans.self_time(s) for s in batch_spans),
        "pipeline.scaling_eff_1to4": scaling.get("efficiency", 0.0),
        "pipeline.persisted_rdds_after": hygiene["persisted_rdds_after"],
        "pipeline.task_failures": sum(j["failed_tasks"] for j in jobs.values()),
        "sources.frames.fresh_ratio": _med(r["fresh_ratio"] for r in untraced),
        "sources.frames.task_failures": layer_fail.get("sources.frames", 0),
        "operators.decode.s": _med(dur(s) for s in named.get("operators.decode", [])),
        "operators.decode.rows_out": sum(b["decoded_rows"] for b in tb),
        "operators.decode.busy_s": _med(
            job_stats(span_jobs(s))["busy_s"] for s in named.get("operators.decode", [])
        ),
        "operators.decode.shuffle_mb": _med(
            job_stats(span_jobs(s))["shuffle_mb"] for s in named.get("operators.decode", [])
        ),
        "operators.decode.task_failures": layer_fail.get("operators.decode", 0),
        "pb3.decoder.wire_mb_per_s": kernel["mb_per_s"],
        "operators.txn.summary_s": _med(dur(s) for s in named.get("operators.txn.summary", [])),
        "operators.txn.gate_s": _med(dur(s) for s in named.get("operators.txn.gate", [])),
        "operators.txn.held_back_changes": sum(b["held_back"] for b in tb),
        "operators.txn.task_failures": layer_fail.get("operators.txn", 0),
        "operators.fold.s": _med(dur(s) for s in named.get("operators.fold", [])),
        "operators.fold.collapse_ratio": sum(b["keys_out"] for b in tb) / max(gated, 1),
        "operators.fold.hot_key_share": sum(b["hot_conv_changes"] for b in tb) / max(gated, 1),
        "operators.fold.task_failures": layer_fail.get("operators.fold", 0),
        "operators.project.evolved_batches": sum(b["evolved"] for b in tb),
        "operators.project.task_failures": layer_fail.get("operators.project", 0),
        "sinks.store.merge_s": _med(dur(s) for s in named.get("sinks.store.merge", [])),
        "sinks.store.stats_s": _med(p.get("stats", 0) for p in phases),
        "sinks.store.write_s": _med(p.get("write", 0) for p in phases),
        "sinks.store.commit_s": _med(
            dur(s) - sum(s.get("phase_s", {}).values()) for s in merge_spans
        ),
        "sinks.store.buckets_rewritten": sum(x.get("buckets_rewritten", 0) for x in merged),
        "sinks.store.rows_written": sum(x.get("rows_written", 0) for x in merged),
        "sinks.store.write_amp": (
            sum(x.get("rows_written", 0) for x in merged) / max(keys, 1)
        ),
        "sinks.store.merge_mor_s": _med(dur(s) for s in named.get("sinks.store.merge_mor", [])),
        "sinks.store.delta_files": traced["delta_files"],
        "sinks.store.read_s": _med(dur(s) for s in named.get("sinks.store.read", [])),
        "sinks.store.compact_s": _med(dur(s) for s in named.get("sinks.store.compact", [])),
        "sinks.store.pending_s": _med(dur(s) for s in named.get("sinks.store.pending", [])),
        "sinks.store.bucket_keys_max_over_median": _med(ratios),
        "sinks.store.staging_dirs_after": hygiene["staging_dirs_after"],
        "sinks.store.task_failures": layer_fail.get("sinks.store", 0),
        "streaming.runner.trigger_s": _med(trig),
        "streaming.runner.add_batch_s": _med(addb),
        "streaming.runner.overhead_s": _med(t - a for t, a in zip(trig, addb)),
        "streaming.runner.task_failures": sum(
            j["failed_tasks"] for j in jobs.values() if j["batch"] is not None
        ),
        "trace.probe_s": _med(probe),
        "trace.overhead": traced_eps / untraced_eps - 1 if untraced_eps else 0.0,
    }
    accounting = [
        {
            "batch": s.get("batch"),
            "wall_s": dur(s),
            "self_s": spans.self_time(s),
            "children": _sum_by_name(spans.children(s)),
            **job_stats([j for c in spans.children(s) for j in span_jobs(c)]),
        }
        for s in batch_spans
    ]
    return m, {
        "per_batch_accounting": accounting,
        "program_batches": per_batch,
        "kernel": kernel,
        "scaling": scaling,
        "traced_events_per_s": traced_eps,
        "untraced_events_per_s": untraced_eps,
        "oracle_mismatches": traced["oracle_mismatches"],
    }
