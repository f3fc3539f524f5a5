"""End-to-end apply pipeline (SURVEY.md §3.4).

``raw frames → [hwm filter] → mapInArrow typed decode (D1+D2, ONE
pass) → persist → commit-watermark gate (D3) → per-key fold (D4,
map-side combining agg) → COW/MoR MERGE + lineage + watermark commit
(D5/D6) with additive schema evolution (D7)``.

There is one apply, ``_apply``, over a ``{table: store}`` map: one
decode against the union of the routed schemas, then each table's
slice is gated, folded and merged into its own store.
``IngestPipeline`` is the one-store case (the union is then the
store's own schema); ``MultiTablePipeline`` routes N tables.

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
of the carried-over tail.  Steps 2–3 run once per routed table.  Only
the decode stage runs Python tasks.

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

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
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


def _check_frame_order(summary: dict, hwm_frame: int) -> None:
    """Transport-order guard.  The LSN watermark is only sound if the
    source hands frames over in order (the reference's replication
    stream guarantees it; Kafka per partition and a name-ordered
    landing zone do too).  Spark's file source orders by modification
    time with ties broken arbitrarily — if a batch skips frames, later
    frames would silently land below the advanced watermark and be
    dropped as replays.  Fail fast instead: above-watermark frame_seqs
    must be dense and start right after ``hwm_frame``.  The evidence
    rides the summary aggregation (one first-message row per decoded
    frame), so the check costs no extra Spark action; it runs before
    anything is applied, preserving the watermark's soundness."""
    if not summary["n_frames"]:
        return
    lo, hi = summary["min_frame_seq"], summary["max_frame_seq"]
    if summary["n_frames"] != hi - lo + 1:
        raise RuntimeError(
            "out-of-order frame delivery: batch covers "
            f"frame_seq [{lo}, {hi}] but holds only "
            f"{summary['n_frames']} frames — the source must "
            "deliver frames in LSN order (fix the "
            "landing-zone ordering or disable "
            "config.strict_frame_order)"
        )
    # watermark CONTINUITY: intra-batch density alone misses a resume
    # that skips frames between the applied watermark and the batch
    # start — e.g. a Kafka consumer that committed the DELIVERED
    # offset instead of the watermark-derived one, losing the
    # held-back mid-transaction tail across a rebalance
    if hwm_frame >= 0 and lo != hwm_frame + 1:
        raise RuntimeError(
            "out-of-order frame delivery: resume gap — the "
            f"applied watermark is frame_seq {hwm_frame} "
            f"but the batch starts at {lo}; frames in between "
            "were never delivered (commit source offsets "
            "from the applied watermark, not the delivered "
            "position)"
        )


def _write_pending(
    fresh: DataFrame, wm_frame: int, pending_out: str, batch_id: int
) -> int:
    """Write the frames above ``wm_frame`` (the uncommitted tail) to
    ``pending_out`` for the next micro-batch; returns their count,
    observed on the write itself (no extra Spark action)."""
    from pyspark.sql import Observation

    obs = Observation(f"pending_{batch_id}")
    pending = fresh.where(F.col("frame_seq") > wm_frame).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    pending.write.mode("overwrite").parquet(pending_out)
    return int(obs.get["n"])


def _above(hwm: tuple[int, int]):
    """Rows strictly above the ``(lsn, frame_seq)`` watermark — the
    exactly-once replay filter."""
    lsn, frame = hwm
    return (F.col("lsn") > lsn) | (
        (F.col("lsn") == lsn) & (F.col("frame_seq") > frame)
    )


def _plan_evolution(
    store: SnapshotStore, own_names: list, config: EngineConfig
) -> tuple:
    """Schema evolution for one table from its (maybe empty) probe.

    Returns ``(evolved schema, new columns, widened columns,
    probe_ok)``.  A KNOWN name in the probe means its entries arrived
    with a different oid (type change): the decoder diverted the raw
    bytes and evolution widened the schema, so they are projected back
    into the (wide) column.  New and widened columns are derived from
    the probe with JVM expressions; when a new column cannot be
    (binary-format float: no JVM IEEE bitcast), ``probe_ok`` is False
    and the caller re-decodes with the evolved schema.  A widened
    column that cannot be projected raises: its stragglers encoded
    before the ALTER would be unrecoverable."""
    from pg_pb3_ld_spark.operators.project import can_project_from_probe

    schema = store.schema
    evolved = store.evolved_schema(own_names)
    known = {c.name for c in schema.columns}
    new_cols = [c for c in evolved.columns if c.name not in known]
    widened = [
        evolved.column(n)
        for n in dict.fromkeys(n for n, _o in own_names if n in known)
    ]
    if not can_project_from_probe(widened, config):
        raise RuntimeError(
            "binary-format float column widening cannot be projected "
            f"from the probe (table {schema.table!r}); re-bootstrap "
            "the store at the new type instead"
        )
    return (
        evolved, new_cols, widened,
        can_project_from_probe(new_cols, config),
    )


def _apply(
    spark: SparkSession, stores: dict[str, SnapshotStore],
    config: EngineConfig, evolve_schema: bool, frames_df: DataFrame,
    batch_id: int, pending_out: str | None, apply_mode: str = "cow",
    compact_min_deltas: int = 0, quarantine_dir: str | None = None,
) -> tuple[dict, int, int]:
    """Apply one batch of raw frames to every routed store; returns
    ``({table: metrics}, pending frames, quarantined frames)``.
    Idempotent: frames at-or-below a store's watermark are dropped, so
    replaying any part of the stream converges to the same snapshots."""
    from pg_pb3_ld_spark.operators.project import (
        project_evolved_from_probe, project_widened_from_probe,
    )
    from pg_pb3_ld_spark.schema import union_schema

    if apply_mode not in ("cow", "mor"):
        raise ValueError(
            f"apply_mode must be 'cow' or 'mor', got {apply_mode!r}"
        )
    for t, s in stores.items():
        if s.schema.table != t:
            raise ValueError(
                f"store routed under {t!r} targets table "
                f"{s.schema.table!r}"
            )
    hwms = {t: s.hwm() for t, s in stores.items()}
    lo = min(hwms.values())
    fresh = frames_df.where(_above(lo))
    par = config.decode_parallelism or spark.sparkContext.defaultParallelism
    quarantine = bool(quarantine_dir)

    def decode(schemas: list) -> DataFrame:
        return decode_typed_changes(
            fresh, union_schema(schemas), config, parallelism=par,
            quarantine=quarantine,
        ).persist()

    # single-pass decode: typed rows persisted, summary agg
    # materializes the cache (the ONLY scan+parse of the frames).
    # Unpersist ``cached`` itself, never its uncached projection.
    cached = decode([s.schema for s in stores.values()])
    try:
        typed = cached
        n_quarantined = 0
        if quarantine:
            bad = cached.where(F.col("_err").isNotNull()).select(
                "frame_seq", "lsn", "_err", "_raw",
                F.lit(batch_id).alias("batch_id"),
            )
            # count + write share the persisted typed cache; the
            # clean path pays one cheap filter over it
            n_quarantined = bad.count()
            if n_quarantined:
                bad.write.mode("append").parquet(quarantine_dir)
            typed = cached.drop("_err", "_raw")
        summary = batch_summary_typed(typed)
        if config.strict_frame_order:
            _check_frame_order(summary, lo[1])
        commit_ord = summary["commit_ord"]

        # evolution reads the PER-TABLE probe: an untracked table's
        # unknown columns must never evolve a tracked schema (the
        # stream interleaves every replica-identity table,
        # decoder/pg_pb3_ld.c:300-334).  The probe carries the unknown
        # columns' raw wire values, so evolved columns are derived
        # from the persisted typed rows with JVM expressions — still
        # exactly ONE decode.
        names = summary["names_by_table"] if evolve_schema else {}
        plans = {
            t: _plan_evolution(s, names.get(t, []), config)
            for t, s in stores.items()
        }
        redecode = not all(ok for *_, ok in plans.values())
        if redecode:
            # binary-float ADDITIVE evolution: ONE shared full
            # re-decode with the evolved union (rare × rare); poison
            # frames were already dead-lettered above — just strip
            cached.unpersist()
            cached = decode([p[0] for p in plans.values()])
            typed = cached.drop("_err", "_raw") if quarantine else cached

        # the applied watermark is the commit point, not the batch
        # max — held-back frames must stay above the hwm so they
        # re-apply with the next batch
        batch_hwm = None
        if config.commit_messages and commit_ord is not None:
            batch_hwm = (commit_ord[2], commit_ord[0])

        def merge_one(t: str) -> dict:
            store = stores[t]
            schema, new_cols, widened, _ok = plans[t]
            data = typed.where(F.col("table_name") == t)
            if hwms[t] > lo:
                data = data.where(_above(hwms[t]))
            if new_cols and not redecode:
                data = project_evolved_from_probe(data, new_cols)
            if widened:
                data = project_widened_from_probe(data, widened)
            gated = gate_by_commit_watermark(
                data.drop(*PROBE_COLS, "_split"), commit_ord,
                has_commits=config.commit_messages,
            )
            folded = fold_changes(gated, schema)
            apply = store.merge_mor if apply_mode == "mor" else store.merge
            metrics = apply(
                folded, schema=schema, batch_id=batch_id,
                hwm_override=batch_hwm,
            )
            if apply_mode == "mor" and compact_min_deltas > 0:
                c = store.compact(min_deltas=compact_min_deltas)
                metrics["compaction"] = c
            return metrics

        if config.commit_messages and commit_ord is None:
            # batch ended mid-transaction: nothing committed
            tables = {
                t: dict(applied_keys=0, applied_changes=0, skipped=True)
                for t in stores
            }
        elif len(stores) == 1:
            tables = {t: merge_one(t) for t in stores}
        else:
            # Per-table merges are INDEPENDENT Spark actions over the
            # shared typed cache (separate stores, separate
            # watermarks), so run them from a small thread pool: the
            # scheduler back-fills one table's job tail with the next
            # table's tasks (guide §2.6) instead of serializing N
            # stores' scheduling gaps.  Each task is wrapped on this
            # thread so its jobs keep the caller's local properties
            # (job group, streaming batch id) under pinned-thread
            # mode; each wrap holds its own copy of them.  Results
            # are deterministic — each merge touches only its own
            # store; the dict is rebuilt in table order.
            with ThreadPoolExecutor(max_workers=min(3, len(stores))) as pool:
                futures = {
                    t: pool.submit(
                        inheritable_thread_target(spark)(merge_one), t
                    )
                    for t in stores
                }
            tables = {t: f.result() for t, f in futures.items()}
    finally:
        cached.unpersist()

    # hold back the uncommitted tail for the next micro-batch
    n_pending = 0
    if pending_out is not None and config.commit_messages:
        n_pending = _write_pending(
            fresh, commit_ord[0] if commit_ord else lo[1],
            pending_out, batch_id,
        )
    return tables, n_pending, n_quarantined


@dataclass
class IngestPipeline:
    """The one-store case of ``_apply``; metrics are a flat dict."""

    spark: SparkSession
    store: SnapshotStore
    config: EngineConfig = field(default_factory=EngineConfig)
    evolve_schema: bool = True     # D7
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

        ``pending_out``: directory to write held-back frames (the
        uncommitted tail) as parquet for the next micro-batch.
        """
        table = self.store.schema.table
        tables, n_pending, n_quarantined = _apply(
            self.spark, {table: self.store}, self.config,
            self.evolve_schema, frames_df, batch_id, pending_out,
            self.apply_mode, self.compact_min_deltas, self.quarantine_dir,
        )
        metrics = tables[table]
        metrics["pending_frames"] = n_pending
        if self.quarantine_dir:
            metrics["quarantined_frames"] = n_quarantined
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
    evolve_schema: bool = True

    def apply_frames(
        self,
        frames_df: DataFrame,
        batch_id: int = 0,
        pending_out: str | None = None,
    ) -> dict:
        tables, n_pending, _ = _apply(
            self.spark, self.stores, self.config, self.evolve_schema,
            frames_df, batch_id, pending_out,
        )
        return {"tables": tables, "pending_frames": n_pending}


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
