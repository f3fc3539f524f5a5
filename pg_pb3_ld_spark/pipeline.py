"""End-to-end apply pipeline (SURVEY.md §3.4).

``raw frames → [hwm filter] → mapInArrow typed decode (D1+D2, ONE
pass) → persist → commit-watermark gate (D3) → per-key fold (D4,
map-side combining agg) → COW MERGE + lineage + watermark commit
(D5/D6) with additive schema evolution (D7)``.

Scale/action budget: a COW batch runs three actions over decoded
data, plus the pending-tail write —

1. ``batch_summary_typed``: one agg pass over the typed decode output
   (commit watermark + schema probe) — this action materializes the
   typed persist, so **the frame stream is decoded exactly once**;
2. fold + per-bucket stats on the folded (persisted, small) output;
3. the COW MERGE write (row counts via ``observe``, no extra job);
4. with ``pending_out``, the held-back tail's parquet write.

Under AQE every shuffle stage and broadcast of an action is a Spark
job of its own, so the event log counts more jobs than actions: 11
per batch in the ``trickle_cow`` benchmark trace (``run_stream``,
COW) — two for the summary, three for the stats (one of them the
gate watermark's single-task broadcast), four for the merge write,
one for the pending tail, and one for ``run_stream``'s schema read
of the carried-over tail.  Only the decode stage runs Python tasks.

Round 1 decoded every frame twice (a light summary pre-scan plus the
typed pass); at 100 TB that second scan is the largest avoidable cost
in the engine, and it capped the measured N→4N scaling efficiency.
The single-pass plan persists the *narrow typed* rows instead (a few
typed columns — far smaller than the generic array-column shape) and
reads the watermark + the ``_x_names`` schema-evolution probe off
them.  A batch that actually evolves the schema pays one extra decode
(the typed output lacks the new column until re-decoded) — rare by
definition, and detected exactly.

Commit gating uses the producer's flush discipline (COMMIT always
flushes, transactions arrive serially in commit order —
``decoder/pg_pb3_ld.c:248-272``): everything ordered before the last
COMMIT of the batch is committed, so gating is a scalar comparison,
not a txn-id join.  Changes after the last COMMIT (an in-flight
transaction cut by the micro-batch boundary) are **held back**: the
caller persists those frames and re-feeds them with the next batch
(``pending_frames`` in the metrics / ``streaming.runner``).

The high-watermark filter runs on the *frame* table before decode —
cheapest possible exactly-once: replayed frames are dropped by a
pushdown-friendly ``lsn > hwm`` predicate against the parquet scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from pg_pb3_ld_spark.config import EngineConfig
from pg_pb3_ld_spark.operators.decode import decode_typed_changes
from pg_pb3_ld_spark.operators.fold import fold_changes
from pg_pb3_ld_spark.operators.txn import (
    batch_summary_typed,
    gate_by_commit_watermark,
)
from pg_pb3_ld_spark.sinks.store import SnapshotStore

PROBE_COLS = ("_x_names", "_x_oids", "_x_values", "_x_nulls", "_x_formats")


@dataclass
class IngestPipeline:
    spark: SparkSession
    store: SnapshotStore
    config: EngineConfig = field(default_factory=EngineConfig)
    salt: int = 0                  # D8 explicit two-phase fold knob
    evolve_schema: bool = True     # D7
    profile: bool = False          # stamp per-phase wall times
    # "cow": classic copy-on-write MERGE (read+join+rewrite touched
    # buckets).  "mor": merge-on-read delta commits — write cost
    # proportional to the BATCH, reads resolve the delta log, and
    # buckets whose outstanding delta-file count reaches
    # ``compact_min_deltas`` are folded back into base files right
    # after the commit (0 = never auto-compact; call
    # ``store.compact()`` from a background maintenance job instead).
    apply_mode: str = "cow"
    compact_min_deltas: int = 0
    # dead-letter directory: when set, a frame that fails the wire
    # parse is QUARANTINED (written there as (frame_seq, lsn, _err,
    # _raw frame bytes, batch_id) parquet) instead of killing the
    # batch — at 10^10 events one poison frame must not stop ingest.
    # Granularity is the FRAME: messages sharing a corrupt frame are
    # lost with it (disclosed; the raw bytes are retained for repair/
    # replay).  Delivery to the dead letter is at-least-once — a
    # corrupt frame above the batch's commit watermark rides the
    # pending tail and is re-quarantined next batch; consumers key by
    # frame_seq.  None (default): a wire error raises, the r4
    # fail-fast behavior.
    quarantine_dir: str | None = None

    def apply_frames(
        self,
        frames_df: DataFrame,
        batch_id: int = 0,
        pending_out: str | None = None,
    ) -> dict:
        """Apply one batch of raw frames; returns metrics.

        Idempotent: frames at-or-below the store watermark are
        filtered out, so replaying any prefix/suffix of the stream
        (including the whole stream) converges to the same snapshot.

        ``pending_out``: directory to write held-back frames (the
        uncommitted tail) as parquet for the next micro-batch.
        """
        import time as _time

        if self.apply_mode not in ("cow", "mor"):
            raise ValueError(
                f"apply_mode must be 'cow' or 'mor', got "
                f"{self.apply_mode!r}"
            )
        hwm_lsn, hwm_frame = self.store.hwm()
        fresh = frames_df.where(
            (F.col("lsn") > hwm_lsn)
            | ((F.col("lsn") == hwm_lsn) & (F.col("frame_seq") > hwm_frame))
        )

        par = (
            self.config.decode_parallelism
            or self.spark.sparkContext.defaultParallelism
        )
        times: dict[str, float] = {}
        schema = self.store.schema

        # single-pass decode: typed rows persisted, summary agg
        # materializes the cache (the ONLY scan+parse of the frames)
        typed_all = decode_typed_changes(
            fresh, schema, self.config, parallelism=par,
            quarantine=bool(self.quarantine_dir),
        ).persist()
        try:
            n_quarantined = 0
            if self.quarantine_dir:
                bad = typed_all.where(F.col("_err").isNotNull()).select(
                    "frame_seq", "lsn", "_err", "_raw",
                    F.lit(batch_id).alias("batch_id"),
                )
                # count + write share the persisted typed cache; the
                # clean path pays one cheap filter over it
                n_quarantined = bad.count()
                if n_quarantined:
                    bad.write.mode("append").parquet(self.quarantine_dir)
                typed_all = typed_all.drop("_err", "_raw")
            t0 = _time.time()
            summary = batch_summary_typed(typed_all)
            times["summary"] = _time.time() - t0

            # Transport-order guard.  The LSN watermark is only sound
            # if the source hands frames over in order (the reference's
            # replication stream guarantees it; Kafka per partition and
            # a name-ordered landing zone do too).  Spark's file source
            # orders by modification time with ties broken arbitrarily —
            # if a batch skips frames, later frames would silently land
            # below the advanced watermark and be dropped as replays.
            # Fail fast instead: above-watermark frame_seqs must be
            # dense.  The evidence rides the summary aggregation (one
            # first-message row per decoded frame), so the check costs
            # no extra Spark action; it runs before anything is
            # applied, preserving the watermark's soundness.
            if self.config.strict_frame_order and summary["n_frames"]:
                span = summary["max_frame_seq"] - summary["min_frame_seq"] + 1
                if summary["n_frames"] != span:
                    raise RuntimeError(
                        "out-of-order frame delivery: batch covers "
                        f"frame_seq [{summary['min_frame_seq']}, "
                        f"{summary['max_frame_seq']}] but holds only "
                        f"{summary['n_frames']} frames — the source must "
                        "deliver frames in LSN order (fix the "
                        "landing-zone ordering or disable "
                        "config.strict_frame_order)"
                    )
                # watermark CONTINUITY: intra-batch density alone
                # misses a resume that skips frames between the
                # applied watermark and the batch start — e.g. a Kafka
                # consumer that committed the DELIVERED offset instead
                # of the watermark-derived one, losing the held-back
                # mid-transaction tail across a rebalance
                if (
                    hwm_frame >= 0
                    and summary["min_frame_seq"] != hwm_frame + 1
                ):
                    raise RuntimeError(
                        "out-of-order frame delivery: resume gap — the "
                        f"applied watermark is frame_seq {hwm_frame} "
                        f"but the batch starts at "
                        f"{summary['min_frame_seq']}; frames in between "
                        "were never delivered (commit source offsets "
                        "from the applied watermark, not the delivered "
                        "position)"
                    )

            data = typed_all.where(F.col("table_name") == schema.table)
            # evolution reads the PER-TABLE probe: an untracked table's
            # unknown columns must never evolve the tracked schema
            # (the stream interleaves every replica-identity table,
            # decoder/pg_pb3_ld.c:300-334)
            own_names = summary["names_by_table"].get(schema.table, [])
            if self.evolve_schema and own_names:
                # evolution batch: unknown wire columns appeared.  The
                # probe carries their raw wire values, so the evolved
                # columns are derived from the persisted typed rows
                # with JVM expressions — still exactly ONE decode.
                from pg_pb3_ld_spark.operators.project import (
                    can_project_from_probe,
                    project_evolved_from_probe,
                    project_widened_from_probe,
                )

                evolved = self.store.evolved_schema(own_names)
                new_cols = [
                    c for c in evolved.columns
                    if all(c.name != o.name for o in schema.columns)
                ]
                # a KNOWN name in the probe means its entries arrived
                # with a different oid (type change): the decoder
                # diverted the raw bytes, evolution widened the
                # schema; project them back into the (wide) column
                widened_cols = [
                    evolved.column(n)
                    for n in dict.fromkeys(
                        n for n, _o in own_names
                        if any(c.name == n for c in schema.columns)
                    )
                ]
                schema = evolved
                if can_project_from_probe(
                    new_cols + widened_cols, self.config
                ):
                    data = project_evolved_from_probe(data, new_cols)
                    if widened_cols:
                        data = project_widened_from_probe(
                            data, widened_cols
                        )
                elif widened_cols and not can_project_from_probe(
                    widened_cols, self.config
                ):
                    # binary-format float widening: stragglers encoded
                    # before the ALTER would be unrecoverable from the
                    # probe (no JVM IEEE bitcast) — refuse loudly
                    raise RuntimeError(
                        "binary-format float column widening cannot "
                        "be projected from the probe; re-bootstrap "
                        "the store at the new type instead"
                    )
                else:
                    # binary-float ADDITIVE evolution: fall back to a
                    # full re-decode with the evolved schema (rare ×
                    # rare); widened cols (if any) are projectable and
                    # still need their probe merge after the re-decode
                    typed_all.unpersist()
                    typed_all = decode_typed_changes(
                        fresh, schema, self.config, parallelism=par,
                        quarantine=bool(self.quarantine_dir),
                    ).persist()
                    if self.quarantine_dir:
                        # already dead-lettered above — just strip
                        typed_all = typed_all.drop("_err", "_raw")
                    data = typed_all.where(
                        F.col("table_name") == schema.table
                    )
                    if widened_cols:
                        data = project_widened_from_probe(
                            data, widened_cols
                        )

            commit_ord = summary["commit_ord"]
            data = data.drop(*PROBE_COLS, "_split")
            gated = gate_by_commit_watermark(
                data, commit_ord, has_commits=self.config.commit_messages
            )
            folded = fold_changes(gated, schema, salt=self.salt)

            # the applied watermark is the commit point, not the batch
            # max — held-back frames must stay above the hwm so they
            # re-apply with the next batch
            batch_hwm = None
            if self.config.commit_messages and commit_ord is not None:
                batch_hwm = (commit_ord[2], commit_ord[0])

            t0 = _time.time()
            if self.config.commit_messages and commit_ord is None:
                # batch ended mid-transaction: nothing committed
                metrics = {"applied_keys": 0, "applied_changes": 0,
                           "skipped": True}
            else:
                apply = (
                    self.store.merge_mor
                    if self.apply_mode == "mor"
                    else self.store.merge
                )
                metrics = apply(
                    folded, schema=schema, batch_id=batch_id,
                    hwm_override=batch_hwm,
                )
                if (
                    self.apply_mode == "mor"
                    and self.compact_min_deltas > 0
                ):
                    c = self.store.compact(
                        min_deltas=self.compact_min_deltas
                    )
                    metrics["compaction"] = c
            times["merge"] = _time.time() - t0
        finally:
            typed_all.unpersist()

        # hold back the uncommitted tail for the next micro-batch
        n_pending = 0
        if pending_out is not None and self.config.commit_messages:
            from pyspark.sql import Observation

            wm_frame = commit_ord[0] if commit_ord else hwm_frame
            obs = Observation(f"pending_{batch_id}")
            pending = fresh.where(F.col("frame_seq") > wm_frame).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            t0 = _time.time()
            pending.write.mode("overwrite").parquet(pending_out)
            n_pending = int(obs.get["n"])
            times["pending"] = _time.time() - t0
        metrics["pending_frames"] = n_pending
        if self.quarantine_dir:
            metrics["quarantined_frames"] = n_quarantined

        if self.profile:
            metrics["phase_sec"] = {k: round(v, 2) for k, v in times.items()}
        return metrics


@dataclass
class MultiTablePipeline:
    """Route ONE decoded CDC stream into N per-table stores.

    The reference stream interleaves every replica-identity table's
    messages (TableDescription per message,
    decoder/pg_pb3_ld.c:274-293,300-334); a real CDC consumer has N
    target tables.  The single-pass discipline holds: the frames are
    decoded EXACTLY ONCE, against the union schema of all routed
    tables (``schema.union_schema`` — name-colliding columns must
    agree on type), and each table's slice is then gated, folded, and
    MERGEd into its own store with its own watermark + lineage.

    * Untracked tables are ignored entirely: their change rows never
      reach any store, and — because the schema-evolution probe is
      per-table — their unknown columns never evolve a tracked schema.
    * Watermarks are per store: the pre-decode replay filter uses the
      MIN watermark across stores, and each table re-applies its own
      (a store that lagged, e.g. created later, catches up from its
      own point while the others skip re-applies idempotently).
    * Per-table merges are separate Spark actions over the persisted
      typed rows (N cache scans, one shuffle per table's folded rows);
      the decode — the dominant cost — stays single-pass.
    """

    spark: SparkSession
    stores: dict[str, SnapshotStore]
    config: EngineConfig = field(default_factory=EngineConfig)
    salt: int = 0
    evolve_schema: bool = True

    def apply_frames(
        self,
        frames_df: DataFrame,
        batch_id: int = 0,
        pending_out: str | None = None,
    ) -> dict:
        from pg_pb3_ld_spark.operators.project import (
            can_project_from_probe,
            project_evolved_from_probe,
            project_widened_from_probe,
        )
        from pg_pb3_ld_spark.schema import union_schema

        for t, s in self.stores.items():
            if s.schema.table != t:
                raise ValueError(
                    f"store routed under {t!r} targets table "
                    f"{s.schema.table!r}"
                )
        hwms = {t: s.hwm() for t, s in self.stores.items()}
        lo_lsn, lo_frame = min(hwms.values())
        fresh = frames_df.where(
            (F.col("lsn") > lo_lsn)
            | ((F.col("lsn") == lo_lsn) & (F.col("frame_seq") > lo_frame))
        )
        par = (
            self.config.decode_parallelism
            or self.spark.sparkContext.defaultParallelism
        )
        union = union_schema([s.schema for s in self.stores.values()])
        typed_all = decode_typed_changes(
            fresh, union, self.config, parallelism=par
        ).persist()
        metrics: dict = {"tables": {}}
        try:
            summary = batch_summary_typed(typed_all)
            if self.config.strict_frame_order and summary["n_frames"]:
                span = summary["max_frame_seq"] - summary["min_frame_seq"] + 1
                if summary["n_frames"] != span:
                    raise RuntimeError(
                        "out-of-order frame delivery: batch covers "
                        f"frame_seq [{summary['min_frame_seq']}, "
                        f"{summary['max_frame_seq']}] but holds only "
                        f"{summary['n_frames']} frames — fix the "
                        "landing-zone ordering or disable "
                        "config.strict_frame_order"
                    )
                if (
                    lo_frame >= 0
                    and summary["min_frame_seq"] != lo_frame + 1
                ):
                    raise RuntimeError(
                        "out-of-order frame delivery: resume gap — the "
                        f"minimum applied watermark is frame_seq "
                        f"{lo_frame} but the batch starts at "
                        f"{summary['min_frame_seq']}; frames in between "
                        "were never delivered"
                    )
            commit_ord = summary["commit_ord"]
            batch_hwm = None
            if self.config.commit_messages and commit_ord is not None:
                batch_hwm = (commit_ord[2], commit_ord[0])

            # per-table evolution decision (probe-projection fast path;
            # ONE shared re-decode with the evolved union if any table
            # needs the full fallback — rare × rare)
            evolved: dict[str, "TargetSchema"] = {}
            new_cols_by_table: dict[str, list] = {}
            widened_by_table: dict[str, list] = {}
            probe_ok = True
            for t, s in self.stores.items():
                own = summary["names_by_table"].get(t, [])
                if self.evolve_schema and own:
                    ev = s.evolved_schema(own)
                    ncols = [
                        c for c in ev.columns
                        if all(c.name != o.name for o in s.schema.columns)
                    ]
                    wcols = [
                        ev.column(n)
                        for n in dict.fromkeys(
                            n for n, _o in own
                            if any(c.name == n for c in s.schema.columns)
                        )
                    ]
                    evolved[t] = ev
                    new_cols_by_table[t] = ncols
                    widened_by_table[t] = wcols
                    if wcols and not can_project_from_probe(
                        wcols, self.config
                    ):
                        raise RuntimeError(
                            "binary-format float column widening "
                            f"cannot be projected from the probe "
                            f"(table {t!r}); re-bootstrap the store "
                            "at the new type instead"
                        )
                    if ncols and not can_project_from_probe(
                        ncols, self.config
                    ):
                        probe_ok = False
                else:
                    evolved[t] = s.schema
                    new_cols_by_table[t] = []
                    widened_by_table[t] = []
            if not probe_ok:
                typed_all.unpersist()
                union = union_schema(list(evolved.values()))
                typed_all = decode_typed_changes(
                    fresh, union, self.config, parallelism=par
                ).persist()

            if self.config.commit_messages and commit_ord is None:
                for t in self.stores:
                    metrics["tables"][t] = {
                        "applied_keys": 0, "applied_changes": 0,
                        "skipped": True,
                    }
            else:
                def _merge_one(item):
                    t, store = item
                    schema_t = evolved[t]
                    data = typed_all.where(F.col("table_name") == t)
                    if hwms[t] > (lo_lsn, lo_frame):
                        h_lsn, h_frame = hwms[t]
                        data = data.where(
                            (F.col("lsn") > h_lsn)
                            | (
                                (F.col("lsn") == h_lsn)
                                & (F.col("frame_seq") > h_frame)
                            )
                        )
                    if probe_ok and new_cols_by_table[t]:
                        data = project_evolved_from_probe(
                            data, new_cols_by_table[t]
                        )
                    if widened_by_table[t]:
                        data = project_widened_from_probe(
                            data, widened_by_table[t]
                        )
                    data = data.drop(*PROBE_COLS, "_split")
                    gated = gate_by_commit_watermark(
                        data, commit_ord,
                        has_commits=self.config.commit_messages,
                    )
                    folded = fold_changes(gated, schema_t, salt=self.salt)
                    return t, store.merge(
                        folded, schema=schema_t, batch_id=batch_id,
                        hwm_override=batch_hwm,
                    )

                # Per-table merges are INDEPENDENT Spark actions over
                # the shared typed cache (separate stores, separate
                # watermarks), so run them from a small thread pool:
                # the scheduler back-fills one table's job tail with
                # the next table's tasks (guide §2.6) instead of
                # serializing N stores' scheduling gaps.  Results are
                # deterministic — each merge touches only its own
                # store; the dict is rebuilt in table order below.
                from concurrent.futures import ThreadPoolExecutor

                items = list(self.stores.items())
                with ThreadPoolExecutor(
                    max_workers=min(3, len(items))
                ) as pool:
                    done = dict(pool.map(_merge_one, items))
                for t in self.stores:
                    metrics["tables"][t] = done[t]
        finally:
            typed_all.unpersist()

        n_pending = 0
        if pending_out is not None and self.config.commit_messages:
            from pyspark.sql import Observation

            wm_frame = commit_ord[0] if commit_ord else lo_frame
            obs = Observation(f"pending_mt_{batch_id}")
            pending = fresh.where(F.col("frame_seq") > wm_frame).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            pending.write.mode("overwrite").parquet(pending_out)
            n_pending = int(obs.get["n"])
        metrics["pending_frames"] = n_pending
        return metrics


def consistent_cut(stores: dict, lsn: int) -> dict:
    """Pick, for every store, the snapshot to read for a
    TRANSACTIONALLY CONSISTENT multi-table view at commit-LSN
    ``lsn`` — the cross-table analog of a single table's time travel.

    For each store: the latest readable snapshot whose applied
    watermark is ≤ ``lsn`` (driver-side manifest reads only —
    n_stores × n_snapshots small; no Spark pass).  The chosen
    watermarks must then be IDENTICAL across stores: every batch
    commit applies whole transactions up to one commit LSN
    (commit gating), so equal watermarks mean no transaction —
    including one touching several tables — is half-visible.  Unequal
    watermarks (a store bootstrapped later, fed by a different
    pipeline, or whose cut snapshot was expired) RAISE with the
    per-table positions rather than silently returning a torn view.

    ``MultiTablePipeline`` commits every routed store at the same
    batch watermark each batch (``hwm_override``, even for tables
    with no changes in the batch), so a consistent cut exists at
    every batch boundary by construction.

    Returns ``{table: {"snapshot_id", "hwm_lsn", "hwm_frame_seq"}}``
    for :func:`read_consistent` / ``store.read_table(as_of=...)``.
    """
    picks: dict = {}
    for t, s in stores.items():
        best = None
        for h in s.history():
            hw = h.get("hwm") or {}
            hl = int(hw.get("lsn", -1))
            if hl <= lsn and (
                best is None
                or (hl, h["snapshot_id"])
                > (best[0], best[1]["snapshot_id"])
            ):
                best = (hl, h)
        if best is None:
            raise ValueError(
                f"no readable snapshot of table {t!r} at or below "
                f"lsn {lsn} — the cut predates the table or its "
                "snapshots were expired"
            )
        picks[t] = best
    lsns = {t: p[0] for t, p in picks.items()}
    if len(set(lsns.values())) > 1:
        raise ValueError(
            f"no transactionally consistent cut at lsn {lsn}: "
            f"per-table watermarks diverge {lsns} — cut at a shared "
            "batch boundary, or re-bootstrap the lagging table"
        )
    return {
        t: {
            "snapshot_id": p[1]["snapshot_id"],
            "hwm_lsn": int((p[1].get("hwm") or {}).get("lsn", -1)),
            "hwm_frame_seq": int(
                (p[1].get("hwm") or {}).get("frame_seq", -1)
            ),
        }
        for t, p in picks.items()
    }


def read_consistent(stores: dict, lsn: int) -> dict:
    """{table: DataFrame} — each store read as-of its
    :func:`consistent_cut` snapshot; one transactionally consistent
    multi-table view at ``lsn``."""
    cut = consistent_cut(stores, lsn)
    return {
        t: stores[t].read_table(as_of=cut[t]["snapshot_id"])
        for t in stores
    }
