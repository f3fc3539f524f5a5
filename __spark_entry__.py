"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end CDC apply (encode →
decode → fold → MERGE) on a small deterministic stream and returns
the final transcripts table.  ``queries()`` exposes each implemented
operator from SURVEY.md §2 as a (spark, sf_dir) → DataFrame callable
over the driver's testdata tables, with ``oracle_sql()`` giving the
DuckDB-equivalent SQL.  Column names/aliases match pairwise so the
driver's order-insensitive value-hash comparison holds.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


# --------------------------------------------------------------------------
# flagship: full CDC apply pipeline
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: replay a deterministic pg_pb3_ld change stream into
    the transcripts table and return the final state (D1-D7 e2e)."""
    from pg_pb3_ld_spark.generator import generate_stream, write_frames_parquet
    from pg_pb3_ld_spark.pipeline import IngestPipeline
    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore
    from pg_pb3_ld_spark.config import EngineConfig

    # stable per-session output dir: the result stays a LAZY DataFrame
    # over written parquet (no driver-side row collection); reruns in
    # the same session overwrite it
    workdir = os.path.join(
        tempfile.gettempdir(), f"pb3ld_entry_{spark.sparkContext.applicationId}"
    )
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir, exist_ok=True)
    stream = generate_stream(seed=42, n_convs=12, max_turns=8, n_extra_txns=40)
    frames_path = os.path.join(workdir, "frames.parquet")
    write_frames_parquet(stream, frames_path)
    store = SnapshotStore.create(
        spark, os.path.join(workdir, "table"), transcripts_schema(), num_buckets=8
    )
    cfg = EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184",
    )
    IngestPipeline(spark, store, cfg).apply_frames(
        spark.read.parquet(frames_path), batch_id=1
    )
    out_path = os.path.join(workdir, "result.parquet")
    (
        store.read_table()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .write.mode("overwrite").parquet(out_path)
    )
    return spark.read.parquet(out_path).orderBy("conv_id", "turn_idx")


# --------------------------------------------------------------------------
# driver-contract operator queries over /root/testdata tables
# --------------------------------------------------------------------------

def _us(col) -> F.Column:
    """Epoch microseconds of a (NTZ) timestamp — session tz is UTC,
    matching DuckDB's epoch_us on naive timestamps."""
    c = col if isinstance(col, F.Column) else F.col(col)
    return F.unix_micros(c.cast("timestamp"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def q_dedup_last_wins(spark, sf_dir):
    """D4/T3 — last-write-wins per key: latest event per user in
    (ts, event_id) order (row_number desc = the fold's max-ord)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 4).alias("last_value"),
            _us("ts").alias("last_ts_us"),
        )
    )


def q_txn_assembly(spark, sf_dir):
    """D3/T1 — ordered per-group assembly: each user's events as an
    ordered id chain (the txn-assembly ordering invariant)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id"))
                    ),
                    lambda x: x["event_id"].cast("string"),
                ),
                ",",
            ).alias("event_chain"),
        )
    )


def q_ordered_replay(spark, sf_dir):
    """T3/D6 — bit-for-bit replay determinism: md5 over the ordered
    event chain per user; any ordering instability changes the hash."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("ts", "event_id"))),
                        lambda x: x["event_id"].cast("string"),
                    ),
                    ",",
                )
            ).alias("replay_sig"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_watermark_filter(spark, sf_dir):
    """T4/D6 — LSN high-watermark analog: only events above the
    watermark (max ts − 3 days) pass; counts per type."""
    ev = _events(spark, sf_dir)
    return (
        ev.join(
            ev.agg(
                (F.max("ts") - F.expr("INTERVAL 3 DAYS")).alias("hwm")
            )
        )
        .where(F.col("ts") > F.col("hwm"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


def q_merge_upsert_effect(spark, sf_dir):
    """D5 — MERGE effect: snapshot (events ≤ cutoff) merged with
    changes (events > cutoff); error-typed last change = DELETE."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    last = (
        ev.withColumn("rn", F.row_number().over(w)).where("rn = 1")
    )
    cutoff = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long").alias("c")
    )
    return (
        last.join(cutoff)
        .where(~((F.col("event_type") == "error") & (F.col("event_id") > F.col("c"))))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.round("value", 4).alias("final_value"),
            (F.col("event_id") > F.col("c")).alias("was_changed"),
        )
    )


def q_partial_update_coalesce(spark, sf_dir):
    """D5/P5 — TOAST-omission fold: latest *present* (non-null) props
    per user; users with no present value drop out (absent ≠ NULL)."""
    ev = _events(spark, sf_dir).where(F.col("props").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", F.col("props").alias("last_props"))
    )


def q_key_extraction(spark, sf_dir):
    """P4 — replica-identity key projection: key stats per user."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        _us(F.min("ts")).alias("first_us"),
        _us(F.max("ts")).alias("last_us"),
        F.countDistinct("event_type").alias("n_types"),
    )


def q_change_type_dispatch(spark, sf_dir):
    """P1 — change-type dispatch: route event kinds to I/U/D ops."""
    ev = _events(spark, sf_dir)
    op = (
        F.when(F.col("event_type") == "click", "INSERT")
        .when(F.col("event_type") == "error", "DELETE")
        .otherwise("UPDATE")
    )
    return (
        ev.select(op.alias("op"), "value")
        .groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_empty_txn_suppression(spark, sf_dir):
    """P7 — empty-transaction suppression: groups yielding no rows
    after the filter emit nothing (HAVING-gated)."""
    ev = _events(spark, sf_dir)
    return (
        ev.where(F.col("value") > 15.0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .where(F.col("n_kept") > 10)
    )


def q_cdc_lineage(spark, sf_dir):
    """D6/lineage — per-partition lineage as a queryable surface: a
    TWO-batch replay through REAL `SnapshotStore.merge` commits (not a
    simulation), then the committed `store.lineage()` emitted as rows
    (bucket, last_batch, n_keys, n_deletes, n_changes, lsn_min,
    lsn_max).  The stream is derived deterministically from the
    ``events`` table, and the store uses the portable md5 bucket
    function, so DuckDB independently recomputes what every bucket's
    lineage MUST say after the same two merges — the north rule's
    "per-partition lineage + metrics each micro-batch" verified
    against an oracle, not just emitted.

    Lineage semantics under test: lineage[bucket] reflects the LAST
    batch that touched the bucket (keys/deletes/changes counted over
    that batch's folded rows in the bucket; lsn_range over those keys'
    last_lsn), and it commits atomically with the data+hwm in the same
    snapshot rename (sinks/store.py merge)."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    cutoff = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long").alias("c")
    ).collect()[0]["c"]

    root = tempfile.mkdtemp(prefix="pb3ld_lineage_")
    try:
        store = SnapshotStore.create(
            spark, root, transcripts_schema(), num_buckets=8,
            bucket_fn="md5",
        )
        store.merge(_fold_event_batch(ev, -1, cutoff), batch_id=1)
        store.merge(_fold_event_batch(ev, cutoff, 1 << 62), batch_id=2)
        rows = [
            (
                int(b),
                int(v["last_batch"]),
                int(v["keys"]),
                int(v["deletes"]),
                int(v["changes"]),
                int(v["lsn_range"][0]),
                int(v["lsn_range"][1]),
            )
            for b, v in store.lineage().items()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "bucket int, last_batch int, n_keys long, n_deletes long, "
        "n_changes long, lsn_min long, lsn_max long",
    )


def q_cdc_batch_metrics(spark, sf_dir):
    """Per-micro-batch metrics as a queryable, oracle-checked surface
    (round 5) — the north rule's "metrics emitted each micro-batch"
    companion to ``cdc_lineage``: a THREE-batch replay through real
    `SnapshotStore.merge` commits, emitting each merge's RETURNED
    metrics dict (applied keys/changes, deletes, buckets rewritten,
    post-commit hwm).  The stream derives deterministically from
    ``events`` (event_id thirds), so DuckDB independently recomputes
    what every batch's metrics MUST say — the monitoring surface is
    verified, not just printed."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    mx = int(ev.agg(F.max("event_id").alias("m")).collect()[0]["m"])
    c1, c2 = mx // 3, (2 * mx) // 3

    root = tempfile.mkdtemp(prefix="pb3ld_metrics_")
    try:
        store = SnapshotStore.create(
            spark, root, transcripts_schema(), num_buckets=8,
            bucket_fn="md5",
        )
        rows = []
        for bid, (lo, hi) in enumerate(
            [(-1, c1), (c1, c2), (c2, 1 << 62)], start=1
        ):
            m = store.merge(
                _fold_event_batch(ev, lo, hi), batch_id=bid
            )
            rows.append(
                (
                    bid,
                    int(m["applied_keys"]),
                    int(m["applied_changes"]),
                    int(m["deletes"]),
                    int(m["buckets_rewritten"]),
                    int(m["hwm_lsn"]),
                )
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "batch_id int, applied_keys long, applied_changes long, "
        "deletes long, buckets_rewritten long, hwm_lsn long",
    )


def _fold_event_batch(batch_df, lo_excl, hi_incl):
    """Deterministic folded transcripts batch derived from `events`
    (event_id in (lo_excl, hi_incl]) — the shared stream for the
    store-replay CORRECTNESS queries (cdc_lineage, cdc_changelog).
    Last event per (conv_id, turn_idx) decides kind ('error' →
    DELETE), text = 't' + last_lsn, everything md5-bucket portable so
    DuckDB can replay the identical fold."""
    df = batch_df.where(
        (F.col("event_id") > lo_excl) & (F.col("event_id") <= hi_incl)
    ).select(
        F.concat(F.lit("c"), (F.col("user_id") % 50).cast("string"))
        .alias("conv_id"),
        (F.col("event_id") % 6).cast("int").alias("turn_idx"),
        "event_id",
        "event_type",
    )
    # last event per key decides kind; n_changes counts the folds
    agg = df.groupBy("conv_id", "turn_idx").agg(
        F.max("event_id").alias("last_lsn"),
        F.count(F.lit(1)).alias("n_changes"),
        F.max(F.struct("event_id", "event_type")).alias("_last"),
    )
    return agg.select(
        "conv_id",
        "turn_idx",
        F.when(F.col("_last.event_type") == "error", "DELETE")
        .otherwise("PATCH")
        .alias("kind"),
        F.lit(None).cast("string").alias("role"),
        F.lit(False).alias("role_set"),
        F.concat(F.lit("t"), F.col("last_lsn").cast("string"))
        .alias("text"),
        F.lit(True).alias("text_set"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(False).alias("tool_set"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(False).alias("ts_set"),
        "last_lsn",
        F.col("last_lsn").alias("last_frame_seq"),
        "n_changes",
    )


def q_cdc_changelog(spark, sf_dir):
    """Change data feed (CDF) — the downstream-consumption face of the
    sink (Delta CDF / Iceberg changelog parity; the reference's
    consumers re-diff snapshots, `/root/reference/README.md` §usage —
    here the store EMITS the diff).  The same deterministic two-batch
    fold as cdc_lineage is merged through a REAL
    `SnapshotStore(changelog=True)`, then `read_changes(0)` returns
    every commit's resolved (key, change_type, post-image) rows.

    Semantics the oracle pins: batch-1 PATCHes onto the empty store
    are INSERTs; a DELETE with no target row emits NOTHING; batch-2
    rows classify INSERT/UPDATE/DELETE against the post-batch-1 state;
    DELETE rows carry NULL post-image; snapshot_id identifies the
    emitting commit.  DuckDB replays the identical fold + state
    transition from `events` — the feed is verified consumable, not
    just emitted."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    cutoff = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long").alias("c")
    ).collect()[0]["c"]
    root = tempfile.mkdtemp(prefix="pb3ld_cdf_")
    try:
        store = SnapshotStore.create(
            spark, root, transcripts_schema(), num_buckets=8,
            bucket_fn="md5", changelog=True,
        )
        store.merge(_fold_event_batch(ev, -1, cutoff), batch_id=1)
        store.merge(_fold_event_batch(ev, cutoff, 1 << 62), batch_id=2)
        rows = [
            (
                r["conv_id"],
                int(r["turn_idx"]),
                r["change_type"],
                r["text"],
                int(r["last_lsn"]),
                int(r["snapshot_id"]),
            )
            for r in store.read_changes(0)
            .select(
                "conv_id", "turn_idx", "change_type", "text",
                "last_lsn", "snapshot_id",
            )
            .collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, change_type string, "
        "text string, last_lsn bigint, snapshot_id bigint",
    )


def q_cdc_incremental_agg(spark, sf_dir):
    """Incremental view maintenance from the change feed — the
    downstream consumer the CDF exists for: a per-conversation
    aggregate (live turn count + total text chars) maintained ONLY
    from `read_changes(preimages=True)` deltas on top of the
    snapshot-1 base aggregate, never re-scanning the final table.
    INSERT applies the post-image, DELETE retracts the pre-image,
    UPDATE applies (post − pre); groups falling to zero are dropped.

    The DuckDB oracle computes the same aggregate DIRECTLY from the
    replayed final state — equality proves the feed's pre/post images
    are exact.  At 10^10 events this is the difference between an
    O(feed) view refresh and an O(table) rescan per commit."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    cutoff = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long").alias("c")
    ).collect()[0]["c"]
    root = tempfile.mkdtemp(prefix="pb3ld_ivm_")
    try:
        store = SnapshotStore.create(
            spark, root, transcripts_schema(), num_buckets=8,
            bucket_fn="md5", changelog=True,
        )
        store.merge(_fold_event_batch(ev, -1, cutoff), batch_id=1)
        store.merge(_fold_event_batch(ev, cutoff, 1 << 62), batch_id=2)
        base = (
            store.read_table(as_of=1)
            .groupBy("conv_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("text")).alias("chars"),
            )
        )
        ln = F.length
        deltas = (
            store.read_changes(1, preimages=True)
            .groupBy("conv_id")
            .agg(
                F.sum(
                    F.when(F.col("change_type") == "INSERT", 1)
                    .when(F.col("change_type") == "DELETE", -1)
                    .otherwise(0)
                ).alias("dn"),
                F.sum(
                    F.when(F.col("change_type") == "INSERT", ln("text"))
                    .when(
                        F.col("change_type") == "DELETE",
                        -ln("_pre_text"),
                    )
                    .otherwise(ln("text") - ln("_pre_text"))
                ).alias("dchars"),
            )
        )
        rows = [
            (r["conv_id"], int(r["n_turns"]), int(r["text_chars"]))
            for r in base.join(deltas, "conv_id", "full_outer")
            .select(
                "conv_id",
                (
                    F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))
                ).alias("n_turns"),
                (
                    F.coalesce("chars", F.lit(0))
                    + F.coalesce("dchars", F.lit(0))
                ).alias("text_chars"),
            )
            .where(F.col("n_turns") > 0)
            .collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "conv_id string, n_turns bigint, text_chars bigint"
    )


def q_cdc_scd2(spark, sf_dir):
    """SCD Type-2 history (round 5) — the OTHER classic CDC sink mode
    next to MERGE-upsert: one row per VERSION of each key with a
    (valid_from, valid_to) validity interval, derived from the change
    feed of a real 3-batch store replay (`operators/scd.py`) — O(feed)
    to maintain, never an O(table × snapshots) re-diff.  Granularity
    is per-commit (the feed resolves intra-batch churn, exactly like
    SCD2 built off Delta CDF / Iceberg changelogs).

    Semantics the oracle pins: INSERT/UPDATE open a version at their
    commit LSN; the key's NEXT change of any type closes it (UPDATE
    and effective DELETE each close exactly one version); DELETE opens
    nothing, so a delete→re-insert key shows a validity GAP.  DuckDB
    replays the 3-batch fold, the per-batch state machine
    (INSERT/UPDATE/DELETE classification against running state, no-op
    DELETEs dropped), and the closing lead window.  Tests additionally
    prove current ≡ live table and as_of(S) ≡ time travel
    (`tests/test_scd.py`).  Scale shape: ONE key-hash shuffle; window
    partitions are per-key COMMIT counts, bounded by batch count."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.operators.scd import scd2_history
    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    m = int(ev.agg(F.max("event_id").alias("m")).collect()[0]["m"])
    c1, c2 = m // 3, (2 * m) // 3
    root = tempfile.mkdtemp(prefix="pb3ld_scd2_")
    try:
        store = SnapshotStore.create(
            spark, root, transcripts_schema(), num_buckets=8,
            bucket_fn="md5", changelog=True,
        )
        store.merge(_fold_event_batch(ev, -1, c1), batch_id=1)
        store.merge(_fold_event_batch(ev, c1, c2), batch_id=2)
        store.merge(_fold_event_batch(ev, c2, 1 << 62), batch_id=3)
        hist = scd2_history(
            store.read_changes(0), ["conv_id", "turn_idx"], ["text"]
        )
        rows = [
            (
                r["conv_id"], int(r["turn_idx"]), r["text"],
                int(r["valid_from_lsn"]), int(r["valid_from_snap"]),
                None if r["valid_to_lsn"] is None else int(r["valid_to_lsn"]),
                None
                if r["valid_to_snap"] is None
                else int(r["valid_to_snap"]),
                bool(r["is_current"]),
            )
            for r in hist.collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, "
        "valid_from_lsn bigint, valid_from_snap bigint, "
        "valid_to_lsn bigint, valid_to_snap bigint, is_current boolean",
    )


def q_cdc_snapshot_diff(spark, sf_dir):
    """`store.diff_snapshots` — endpoint state re-diff (the recovery
    path when a feed consumer falls below the retention window): the
    two-batch fold replayed through a real store, then snapshot 1 vs
    snapshot 2 diffed into net INSERT/UPDATE/DELETE rows with pre +
    post images.  The DuckDB oracle classifies the same transition
    from the replayed fold; no changelog is needed on the store —
    the diff reads only the two endpoint snapshots."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    cutoff = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long").alias("c")
    ).collect()[0]["c"]
    root = tempfile.mkdtemp(prefix="pb3ld_diff_")
    try:
        store = SnapshotStore.create(
            spark, root, transcripts_schema(), num_buckets=8,
            bucket_fn="md5",
        )
        store.merge(_fold_event_batch(ev, -1, cutoff), batch_id=1)
        store.merge(_fold_event_batch(ev, cutoff, 1 << 62), batch_id=2)
        rows = [
            (
                r["conv_id"],
                int(r["turn_idx"]),
                r["change_type"],
                r["text"],
                r["_pre_text"],
            )
            for r in store.diff_snapshots(1, 2)
            .select(
                "conv_id", "turn_idx", "change_type", "text",
                "_pre_text",
            )
            .collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, change_type string, "
        "text string, _pre_text string",
    )


def q_event_sessionize(spark, sf_dir):
    """Gap-based sessionization — the batch face of the stateful
    session tracker (`streaming/sessions.py`): per user, a new
    session starts when >30 min passes between consecutive events.
    Output: one row per (user, session) with span + composition.

    Scale shape: ONE hash partition by user_id carries both window
    passes (lag → running sum share the same sort), then the same
    partitioning feeds the session aggregate — a single exchange for
    the whole operator; no global window, no Python.  Survives 100×:
    state per task is O(events of its users), and AQE can split a
    skewed user range because the window key is the shuffle key."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap_us = F.col("us") - F.lag("us").over(w)
    sess = (
        ev.select("user_id", "event_id", "event_type", _us("ts").alias("us"))
        # two Window nodes, ONE sort+exchange (identical window spec)
        .withColumn(
            "_new",
            F.when(
                gap_us.isNull() | (gap_us > 1800 * 1000000), 1
            ).otherwise(0),
        )
        .withColumn("session_idx", F.sum("_new").over(w).cast("int"))
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        F.countDistinct("event_type").alias("n_types"),
    )


def q_event_window_agg(spark, sf_dir):
    """Tumbling event-time windows (`streaming/windows.py`, the same
    operator that runs watermarked on the change stream): 6-hour
    epoch-aligned buckets per event_type with count + rounded value
    sum.  The DuckDB oracle recomputes the buckets with integer
    epoch-microsecond arithmetic — pinning that `F.window`'s tumbling
    assignment is exactly floor(epoch/width).  One hash exchange on
    (window, event_type), map-side partials; watermarking bounds the
    same plan's state on a stream."""
    from pg_pb3_ld_spark.streaming.windows import windowed_rates

    ev = _events(spark, sf_dir)
    out = windowed_rates(ev, window="6 hours")
    return out.select(
        _us(F.col("window.start")).alias("window_start_us"),
        _us(F.col("window.end")).alias("window_end_us"),
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )


def q_event_asof_join(spark, sf_dir):
    """As-of join (`functions/joins.py`) — each click event joined to
    the user's most recent STRICTLY-prior purchase (latest event_id
    wins among equal purchase timestamps); clicks with no prior
    purchase keep NULLs.  Implemented as union + one keyed window
    forward-fill — a single shuffle+sort of |L|+|R| rows, never a
    per-row range probe.  The DuckDB oracle replays the same
    visibility rule with its own window engine."""
    from pg_pb3_ld_spark.functions.joins import asof_join

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value",
        _us("ts").alias("us"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "us"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "value",
        "us",
    )
    out = asof_join(
        clicks, purchases, on=["user_id"], ts_col="us",
        tiebreak="purchase_id",
    )
    return out.select(
        "click_id", "user_id", F.col("us").alias("click_us"),
        "purchase_id", F.col("us_right").alias("purchase_us"),
        "value",
    )


def q_event_interval_join(spark, sf_dir):
    """Interval (range) join (`functions/joins.py`) — "incident
    hours" (hours with ≥3 error events; interval = [first_error_us,
    last_error_us] within the hour) joined to ALL events falling
    inside them, counted per (incident, event_type).  Binned to
    30-minute buckets: an equi-join on the bucket + residual range
    filter — the hash-join plan Catalyst cannot derive from a raw
    BETWEEN predicate (which goes broadcast-nested-loop and dies when
    both sides are large).  DuckDB replays with a plain non-equi
    BETWEEN join."""
    from pg_pb3_ld_spark.functions.joins import interval_join

    HOUR = 3600 * 1000000
    ev = _events(spark, sf_dir).select(
        "event_type", _us("ts").alias("us")
    )
    incidents = (
        ev.where(F.col("event_type") == "error")
        .groupBy(
            F.floor(F.col("us") / HOUR).cast("long").alias("iid")
        )
        .agg(
            F.count(F.lit(1)).alias("n_err"),
            F.min("us").alias("s"),
            F.max("us").alias("e"),
        )
        .where(F.col("n_err") >= 3)
        .select("iid", "s", "e")
    )
    joined = interval_join(
        ev, incidents, ts_col="us", start_col="s", end_col="e",
        bucket_width=HOUR // 2,
    )
    return joined.groupBy("iid", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (ann.pq_*): 4 subspaces × 8 codes,
    each codebook trained by the seeded integer k-means on the
    sliced base (spherical assignment, exact bigint means), base
    encoded by the same packed-bigint argmax HashAggregate as IVF,
    then asymmetric-distance top-10: per-query LUT of subvector·
    centroid dots quantized to 2^-20 integers so the ADC score is an
    exact order-free bigint sum.  Encoded corpus = m·log2(ksub) bits
    per vector (12 bits vs 4096 float bits here) — the scan-size
    collapse that makes 10^10-vector candidate scoring memory-
    feasible.  DuckDB replays the full chain: both Lloyd fits, every
    code, every LUT entry, every rank."""
    from pg_pb3_ld_spark.functions import ann

    emb = _embeddings(spark, sf_dir)
    return ann.pq_topk(
        emb, emb.where(F.col("vec_id") < 3), k=10, m=4, ksub=8,
        n_iters=1, init_step=62, rerank_from=50,
    )


def q_event_bloom_prune(spark, sf_dir):
    """Deterministic Bloom-filter join pruning (`functions/bloom.py`)
    — the runtime filter: a 4096-bit/3-hash bitset built over the
    purchasing users (mergeable integer bit_or aggregate, md5
    positions), collected as 128 literal words, then every event
    probed by a pure per-row expression (NO join, NO shuffle of the
    big side).  Output per event_type: rows passing the filter, true
    members among them, and the false positives — the FP rate is
    measured and emitted, never assumed.  DuckDB rebuilds the same
    bitset and replays every probe verdict bit-for-bit; false
    negatives are structurally impossible (any would break the
    n_true column against the oracle)."""
    from pg_pb3_ld_spark.functions.bloom import (
        bloom_build,
        bloom_might_contain,
        bloom_words,
    )

    ev = _events(spark, sf_dir)
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    words = bloom_words(bloom_build(purch, "user_id"))
    might = bloom_might_contain(F.col("user_id"), words)
    tagged = ev.join(
        purch.withColumn("_m", F.lit(True)), "user_id", "left"
    )
    is_m = F.col("_m").isNotNull()
    return tagged.groupBy("event_type").agg(
        F.sum(might.cast("long")).alias("n_pass"),
        F.sum((might & is_m).cast("long")).alias("n_true"),
        F.sum((might & ~is_m).cast("long")).alias("n_false_pos"),
    )


def q_domain_pagerank(spark, sf_dir):
    """Integer-exact PageRank (`functions/graph.py`) over a
    deterministic 20-node domain multigraph derived from documents
    (each doc contributes edges d(doc_id%20) → d((7·doc_id+3)%20)
    and → d((13·doc_id+5)%20)); 3 unrolled iterations of scaled-
    bigint flooring arithmetic, so the trajectory — not just the
    ranking — matches DuckDB's replay EXACTLY (no rounding in the
    output at all).  Per iteration: one src-keyed hash join + one
    dst-keyed map-side-combining aggregate, O(edges) shuffle."""
    from pg_pb3_ld_spark.functions.graph import pagerank

    docs = _documents(spark, sf_dir).select("doc_id")
    mk = lambda e: F.concat(F.lit("d"), e.cast("string"))  # noqa: E731
    e1 = docs.select(
        mk(F.col("doc_id") % 20).alias("src"),
        mk((F.col("doc_id") * 7 + 3) % 20).alias("dst"),
    )
    e2 = docs.select(
        mk(F.col("doc_id") % 20).alias("src"),
        mk((F.col("doc_id") * 13 + 5) % 20).alias("dst"),
    )
    return pagerank(e1.unionByName(e2), n_iters=3)


def q_event_quantiles(spark, sf_dir):
    """Exact per-group quantiles: p50/p90/p99 of value per event_type
    (`percentile`, the linear-interpolation percentile_cont algebra —
    probed bit-identical to DuckDB's quantile_cont on this data;
    floored at 1e-6 regardless).  Spark's exact percentile holds one
    sorted value buffer per GROUP (not per table) with partial
    merging — fine while groups fit an executor; for heavy-tailed
    100-TB groups the approx_percentile/t-digest path is the
    documented fallback."""
    ev = _events(spark, sf_dir)
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("q")
    )
    f6 = lambda c: F.floor(c * 1000000) / 1000000  # noqa: E731
    return q.select(
        "event_type",
        f6(F.col("q")[0]).alias("p50"),
        f6(F.col("q")[1]).alias("p90"),
        f6(F.col("q")[2]).alias("p99"),
    )


def q_event_distinct_sketch(spark, sf_dir):
    """Mergeable cardinality sketch (`functions/sketches.py`) —
    distinct user_id per event_type estimated from 64 bucket-minimum
    48-bit md5 hashes: two map-side-combining HashAggregates with
    EXACT integer state (a float sum's value depends on partition
    order; the bigint Σ(min+1) doesn't), one float division at the
    end.  Output carries the estimate, the exact distinct, and the
    relative error — the sketch self-reports its accuracy.  DuckDB
    replays every bucket minimum and the estimator bit-for-bit."""
    from pg_pb3_ld_spark.functions.sketches import distinct_sketch

    ev = _events(spark, sf_dir)
    sk = distinct_sketch(ev, ["event_type"], "user_id", k=64)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est_f = F.floor(F.col("est_distinct") * 10000) / 10000
    return (
        sk.join(exact, "event_type")
        .select(
            "event_type",
            est_f.alias("est_distinct"),
            "exact_distinct",
        )
        .withColumn(
            "rel_err",
            F.floor(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                * 10000
            )
            / 10000,
        )
    )


def q_event_cms_counts(spark, sf_dir):
    """Count-Min sketch frequency estimation
    (`functions/sketches.py`) — the hot-key diagnosis primitive for
    skew handling at 10^10 change events: the sketch is 4×256 bigint
    cells (8 KiB, input-size independent, mergeable across
    micro-batches by summing), built by one explode + map-side-
    combining HashAggregate; probing the exact top-20 users reports
    est vs exact per key, with the CMS one-sided guarantee
    (overestimate ≥ 0 always — a genuinely hot key can never be
    missed).  DuckDB replays every cell and every min-probe."""
    from pg_pb3_ld_spark.functions.sketches import cms_cells, cms_estimate

    ev = _events(spark, sf_dir)
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    # 20 rows consumed twice (sketch probe + final join): cached so
    # the exact-count scan + TakeOrdered runs once
    top = exact.orderBy(F.desc("exact_n"), F.asc("user_id")).limit(20)
    top = top.persist()
    cells = cms_cells(ev, "user_id", depth=4, width=256)
    est = cms_estimate(cells, top, "user_id", depth=4, width=256)
    return top.join(est, "user_id").select(
        "user_id",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).cast("long").alias("overest"),
    )


def q_doc_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling (Efraimidis–Spirakis A-Res,
    `functions/sketches.py`) — 50 documents drawn without replacement
    with probability ∝ n_chars, via key = u^(1/weight) on an
    md5-uniform and a TakeOrdered top-50 (per-partition heaps, no
    global sort).  Reproducible across engines/retries/partitionings
    because the randomness IS the hash; DuckDB draws the identical
    sample."""
    from pg_pb3_ld_spark.functions.sketches import weighted_sample

    docs = _documents(spark, sf_dir).select("doc_id", "n_chars")
    out = weighted_sample(docs, F.col("n_chars"), "doc_id", 50)
    return out.select(
        "doc_id",
        "n_chars",
        (F.floor(F.col("_wkey") * 1000000000) / 1000000000).alias(
            "wkey"
        ),
    )


def q_doc_zorder_key(spark, sf_dir):
    """Z-order layout key (`functions/layout.py`) — the clustering
    that makes 100-TB selective scans prune: a 32-bit Morton
    interleave of 16-bit-quantized n_chars × a 16-bit md5(source)
    hash, plus the coarse tile (top 8 bits) a range-partitioned
    writer would group files by.  All exact integer Catalyst bit
    math (4 shift/mask steps per dimension, whole-stage codegen);
    the DuckDB oracle replays the identical spread — keys match
    bit-for-bit, proving an external system can compute the same
    layout (the portability the md5 bucket function established for
    buckets, extended to clustering)."""
    from pg_pb3_ld_spark.functions.layout import morton16, quantize16

    docs = _documents(spark, sf_dir)
    mm = docs.agg(
        F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx")
    )
    q1 = quantize16(F.col("n_chars"), F.col("mn"), F.col("mx"))
    q2 = F.conv(F.substring(F.md5("source"), 1, 4), 16, 10).cast(
        "long"
    )
    return (
        docs.join(F.broadcast(mm))
        .select("doc_id", morton16(q1, q2).alias("zkey"))
        .select(
            "doc_id", "zkey",
            F.shiftright("zkey", 24).cast("bigint").alias("tile"),
        )
    )


_BM25_TERMS = ("spark", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_doc_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (Okapi, Lucene-style non-negative idf)
    for a fixed query over `documents` — the search/quality-scoring
    staple of a training-data pipeline.  Top-100 by floored score
    with doc_id tie-break.

    Scale shape: per-term tf is computed INLINE on the token array
    (`F.size(F.filter(...))` — no explode, no per-token shuffle), the
    corpus stats (N, avgdl, per-term df) reduce to ONE scalar row
    cross-joined back (broadcast), and the top-k is a TakeOrdered —
    the whole operator is one scan + one scalar agg, no wide shuffle
    at any size.  Score terms are summed in a fixed literal order and
    floored at 1e-3 so the DuckDB oracle's libm differences cannot
    flip the hash."""
    docs = _documents(spark, sf_dir)
    t = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    def tf_of(word):
        # one-arg lambda (a two-arg one would receive the element
        # INDEX as its second argument, not the closure default)
        return F.size(F.filter("t", lambda x: x == F.lit(word)))

    tf_cols = [tf_of(w).alias(f"tf_{w}") for w in _BM25_TERMS]
    base = t.select("doc_id", F.size("t").alias("dl"), *tf_cols)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{w}") > 0).cast("long")).alias(f"df_{w}")
            for w in _BM25_TERMS
        ],
    )
    scored = base.join(F.broadcast(stats))
    score = None
    for w in _BM25_TERMS:
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{w}") + 0.5)
            / (F.col(f"df_{w}") + 0.5)
            + 1.0
        )
        tf = F.col(f"tf_{w}").cast("double")
        part = idf * (
            tf * (_BM25_K1 + 1)
            / (
                tf
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = part if score is None else score + part
    return (
        scored.where(
            sum(F.col(f"tf_{w}") for w in _BM25_TERMS) > 0
        )
        .select(
            "doc_id",
            (F.floor(score * 1000) / 1000).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(100)
    )


def _routed_changes(spark, sf_dir):
    """Deterministic three-table interleaved change list (shared by
    the multi-table routing and consistent-cut queries); rule
    documented in q_cdc_multi_table's docstring and mirrored by both
    oracles."""
    from pg_pb3_ld_spark.pb3 import wire

    ev = _events(spark, sf_dir)
    src = (
        ev.where(F.col("event_id") % 5 == 0)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
        .collect()
    )
    changes = []
    for r in src:
        eid, uid, etype = int(r["event_id"]), int(r["user_id"]), r["event_type"]
        route = uid % 3
        if route == 1:
            key = [("conv_id", f"c{uid % 50}", wire.OID_TEXT),
                   ("turn_idx", eid % 6, wire.OID_INT4)]
            if etype == "error":
                changes.append(("public", "transcripts", "DELETE", key, []))
            else:
                changes.append((
                    "public", "transcripts", "INSERT", key,
                    [("text", f"t{eid}", wire.OID_TEXT)],
                ))
        elif route == 0:
            key = [("doc_id", f"d{uid % 40}", wire.OID_TEXT)]
            if etype == "error":
                changes.append(("public", "doc_tags", "DELETE", key, []))
            else:
                changes.append((
                    "public", "doc_tags", "INSERT", key,
                    [("label", etype, wire.OID_TEXT),
                     ("score", eid % 1000, wire.OID_INT4)],
                ))
        else:
            changes.append((
                "public", "audit_log", "INSERT",
                [("audit_id", f"a{eid % 10}", wire.OID_TEXT)],
                [("payload", f"p{eid}", wire.OID_TEXT)],
            ))
    return changes


def q_cdc_multi_table(spark, sf_dir):
    """Multi-table routing (VERDICT r4 #4) — ONE wire stream carrying
    three interleaved tables (transcripts, doc_tags, and an UNTRACKED
    audit_log whose columns are unknown to both) is decoded once and
    routed through `MultiTablePipeline` into two REAL SnapshotStores
    over a two-batch prefix replay.  Output = the union of both final
    table states tagged by table; the DuckDB oracle re-derives both
    last-write-wins states from the same deterministic change rule.
    The untracked table's rows must reach neither store and its
    unknown columns must not evolve a tracked schema (per-table
    evolution probe) — any leak changes row counts or values.

    Change rule (mirrored in SQL): events with event_id%5==0, ordered
    by event_id; user_id%3==1 → transcripts(conv_id='c'+user_id%50,
    turn_idx=event_id%6, text='t'+event_id); user_id%3==0 →
    doc_tags(doc_id='d'+user_id%40, label=event_type,
    score=event_id%1000); user_id%3==2 → audit_log (untracked).
    event_type=='error' emits DELETE, else INSERT."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from pg_pb3_ld_spark.config import EngineConfig
    from pg_pb3_ld_spark.generator import _frames_table, encode_routed_changes
    from pg_pb3_ld_spark.pb3 import wire
    from pg_pb3_ld_spark.pipeline import MultiTablePipeline
    from pg_pb3_ld_spark.schema import (
        TargetColumn, TargetSchema, transcripts_schema,
    )
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    changes = _routed_changes(spark, sf_dir)

    cfg = EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184",
    )
    frames = encode_routed_changes(changes, cfg, txn_every=25)
    doc_tags = TargetSchema(
        "doc_tags",
        [
            TargetColumn("doc_id", wire.OID_TEXT, "string", is_key=True),
            TargetColumn("label", wire.OID_TEXT, "string"),
            TargetColumn("score", wire.OID_INT4, "int"),
        ],
    )
    root = tempfile.mkdtemp(prefix="pb3ld_multi_")
    try:
        fpath = os.path.join(root, "frames.parquet")
        pq.write_table(_frames_table(frames), fpath)
        fdf = spark.read.parquet(fpath)
        stores = {
            "transcripts": SnapshotStore.create(
                spark, os.path.join(root, "tt"), transcripts_schema(),
                num_buckets=8,
            ),
            "doc_tags": SnapshotStore.create(
                spark, os.path.join(root, "dt"), doc_tags, num_buckets=8,
            ),
        }
        pipe = MultiTablePipeline(spark, stores, cfg)
        mid = frames[len(frames) // 2][0]
        pipe.apply_frames(fdf.where(f"frame_seq <= {mid}"), batch_id=1)
        pipe.apply_frames(fdf, batch_id=2)
        for s in stores.values():
            s.refresh()
            tracked = [c.name for c in s.schema.columns]
            assert "payload" not in tracked and "audit_id" not in tracked
        rows = [
            ("transcripts", r["conv_id"], int(r["turn_idx"]), r["text"])
            for r in stores["transcripts"].read_table().collect()
        ] + [
            ("doc_tags", r["doc_id"], 0, f"{r['label']}:{r['score']}")
            for r in stores["doc_tags"].read_table().collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "tbl string, k1 string, k2 int, val string"
    )


def q_cdc_consistent_cut(spark, sf_dir):
    """Transactionally consistent CROSS-TABLE time travel: replay the
    same interleaved three-table stream as q_cdc_multi_table in THREE
    batches, then — after the whole stream has been applied — read
    both stores AS OF the batch-2 boundary via
    pipeline.consistent_cut (latest snapshot per store with watermark
    <= the cut LSN, required EQUAL across stores so no transaction is
    half-visible).  Output = union of both table states at the cut.

    The oracle re-derives the cut arithmetically: frames never span a
    commit (encoder commit flush) and each 25-change txn fits one
    frame here, so batch 2 ends after txn 2*ceil(N/25)//3, i.e. the
    first 25*that changes in event order — DuckDB replays
    last-write-wins over exactly that prefix."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from pg_pb3_ld_spark.config import EngineConfig
    from pg_pb3_ld_spark.generator import _frames_table, encode_routed_changes
    from pg_pb3_ld_spark.pb3 import wire
    from pg_pb3_ld_spark.pipeline import MultiTablePipeline, read_consistent
    from pg_pb3_ld_spark.schema import (
        TargetColumn, TargetSchema, transcripts_schema,
    )
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    changes = _routed_changes(spark, sf_dir)
    cfg = EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184",
    )
    frames = encode_routed_changes(changes, cfg, txn_every=25)
    n_txns = (len(changes) + 24) // 25
    # the oracle's cut arithmetic requires one frame per txn — holds
    # for any realistic sf (25 tiny changes << the 4 MiB flush target)
    assert len(frames) == n_txns, (len(frames), n_txns)
    f1, f2 = n_txns // 3, 2 * n_txns // 3
    assert 0 < f1 < f2 < n_txns
    cut_lsn = frames[f2 - 1][1]
    doc_tags = TargetSchema(
        "doc_tags",
        [
            TargetColumn("doc_id", wire.OID_TEXT, "string", is_key=True),
            TargetColumn("label", wire.OID_TEXT, "string"),
            TargetColumn("score", wire.OID_INT4, "int"),
        ],
    )
    root = tempfile.mkdtemp(prefix="pb3ld_cut_")
    try:
        fpath = os.path.join(root, "frames.parquet")
        pq.write_table(_frames_table(frames), fpath)
        fdf = spark.read.parquet(fpath)
        stores = {
            "transcripts": SnapshotStore.create(
                spark, os.path.join(root, "tt"), transcripts_schema(),
                num_buckets=8,
            ),
            "doc_tags": SnapshotStore.create(
                spark, os.path.join(root, "dt"), doc_tags, num_buckets=8,
            ),
        }
        pipe = MultiTablePipeline(spark, stores, cfg)
        pipe.apply_frames(fdf.where(f"frame_seq < {f1}"), batch_id=1)
        pipe.apply_frames(fdf.where(f"frame_seq < {f2}"), batch_id=2)
        pipe.apply_frames(fdf, batch_id=3)
        for st in stores.values():
            st.refresh()
        views = read_consistent(stores, cut_lsn)
        rows = [
            ("transcripts", r["conv_id"], int(r["turn_idx"]), r["text"])
            for r in views["transcripts"].collect()
        ] + [
            ("doc_tags", r["doc_id"], 0, f"{r['label']}:{r['score']}")
            for r in views["doc_tags"].collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "tbl string, k1 string, k2 int, val string"
    )


def q_cdc_store_audit(spark, sf_dir):
    """Store audit as a driver-checked surface: replay the shared
    two-batch stream (_fold_event_batch) into a REAL md5-bucket
    SnapshotStore, run `store.verify(deep=True)` — manifest-vs-disk
    row accounting, misplaced-row scan, duplicate-key scan — and emit
    per-bucket (bucket, n_rows, ok).  The DuckDB oracle independently
    derives what every bucket's resident row count MUST be (overall
    last-write-wins survivors grouped by the portable md5 bucket) and
    expects ok=true everywhere; any store mis-accounting, phantom or
    lost row flips a value.  Corruption-detection behavior (each
    finding kind fires on a planted defect) is pinned in
    tests/test_store_verify.py."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    cutoff = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long").alias("c")
    ).collect()[0]["c"]
    root = tempfile.mkdtemp(prefix="pb3ld_audit_")
    try:
        store = SnapshotStore.create(
            spark, root, transcripts_schema(), num_buckets=8,
            bucket_fn="md5",
        )
        store.merge(_fold_event_batch(ev, -1, cutoff), batch_id=1)
        store.merge(_fold_event_batch(ev, cutoff, 1 << 62), batch_id=2)
        store.refresh()
        rep = store.verify(deep=True)
        bad = {
            f.get("bucket") for f in rep["findings"]
            if f.get("bucket") is not None
        }
        rows = [
            (int(b), int(v["rows"]), rep["ok"] or int(b) not in bad)
            for b, v in store.lineage().items()
            if int(v["rows"]) > 0
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, "bucket int, n_rows long, ok boolean")


def q_cdc_rebucket(spark, sf_dir):
    """Bucket-geometry migration mid-stream: merge the first two
    thirds of the shared event stream into an 8-bucket md5 store,
    `rebucket` it to 16 buckets (watermark-preserving bootstrap of
    the resolved state), then apply the final third against the NEW
    store — proving (a) the table state is bucket-count-invariant and
    (b) the WAL tail resumes exactly-once across the migration.
    Output (conv_id, turn_idx, text, bucket) with bucket = the NEW
    16-way placement; the oracle derives the same LWW state and the
    md5 % 16 bucket directly."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    mx = ev.agg(F.max("event_id").alias("m")).collect()[0]["m"]
    c1, c2 = mx // 3, 2 * mx // 3
    root = tempfile.mkdtemp(prefix="pb3ld_rebucket_")
    try:
        store = SnapshotStore.create(
            spark, os.path.join(root, "a"), transcripts_schema(),
            num_buckets=8, bucket_fn="md5",
        )
        store.merge(_fold_event_batch(ev, -1, c1), batch_id=1)
        store.merge(_fold_event_batch(ev, c1, c2), batch_id=2)
        store.refresh()
        new = store.rebucket(os.path.join(root, "b"), num_buckets=16)
        assert new.hwm() == store.hwm()
        new.merge(_fold_event_batch(ev, c2, 1 << 62), batch_id=3)
        new.refresh()
        rep = new.verify(deep=True)
        assert rep["ok"], rep["findings"]
        out = new.read().select(
            "conv_id", "turn_idx", "text",
            F.col("_bucket").alias("bucket"),
        )
        rows = [
            (r["conv_id"], int(r["turn_idx"]), r["text"], int(r["bucket"]))
            for r in out.collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, bucket int"
    )


def q_cdc_mor_apply(spark, sf_dir):
    """Merge-on-read apply (sinks/store.py merge_mor/compact): a
    THREE-batch deterministic change stream replays through REAL
    ``merge_mor`` delta commits into a SnapshotStore — no base
    rewrite per batch — with the even buckets compacted between
    batches 2 and 3, so the final read resolves a MIX of compacted
    base files and outstanding delta logs.  Output = the resolved
    final table state.

    Column-level semantics under test (the part COW gets "for free"
    from its join but MoR must reconstruct across the delta log):
    each batch's action per key is its LAST event; event_type maps
    error→DELETE / click→REPLACE / else PATCH, and each column is
    wire-present by a modular rule (role: event_id%3=0, text: %2=0,
    tool: %7=0).  A REPLACE rebuilds the row (absent columns NULL), a
    DELETE-then-PATCH revives with untouched columns NULL, a PATCH
    keeps target values for absent columns.  The DuckDB oracle
    re-derives the same state with barrier/arg_max algebra — so the
    hash gate checks real cross-delta resolution, not just row
    membership."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    cuts = ev.agg(
        F.floor(F.max("event_id") / 3).cast("long").alias("c1"),
        F.floor(F.max("event_id") * 2 / 3).cast("long").alias("c2"),
    ).collect()[0]
    c1, c2 = int(cuts["c1"]), int(cuts["c2"])

    def fold_batch(lo_excl, hi_incl):
        df = ev.where(
            (F.col("event_id") > lo_excl) & (F.col("event_id") <= hi_incl)
        ).select(
            F.concat(F.lit("c"), (F.col("user_id") % 40).cast("string"))
            .alias("conv_id"),
            (F.col("event_id") % 5).cast("int").alias("turn_idx"),
            "event_id",
            "event_type",
        )
        agg = df.groupBy("conv_id", "turn_idx").agg(
            F.max(F.struct("event_id", "event_type")).alias("_last"),
            F.count(F.lit(1)).alias("n_changes"),
        )
        eid = F.col("_last.event_id")
        kind = (
            F.when(F.col("_last.event_type") == "error", "DELETE")
            .when(F.col("_last.event_type") == "click", "REPLACE")
            .otherwise("PATCH")
        )
        is_barrier = kind.isin("REPLACE", "DELETE")
        cols = [F.col("conv_id"), F.col("turn_idx"), kind.alias("kind")]
        for name, tag, mod in (
            ("role", "r", 3), ("text", "t", 2), ("tool", "x", 7)
        ):
            present = (eid % mod) == 0
            val = F.when(
                present & (kind != "DELETE"),
                F.concat(F.lit(tag), eid.cast("string")),
            )
            cols.append(val.alias(name))
            cols.append((present | is_barrier).alias(f"{name}_set"))
        cols += [
            F.lit(None).cast("timestamp").alias("ts"),
            is_barrier.alias("ts_set"),
            eid.alias("last_lsn"),
            eid.alias("last_frame_seq"),
            F.col("n_changes"),
        ]
        return agg.select(*cols)

    root = tempfile.mkdtemp(prefix="pb3ld_mor_")
    try:
        store = SnapshotStore.create(
            spark, root, transcripts_schema(), num_buckets=8,
            bucket_fn="md5",
        )
        store.merge_mor(fold_batch(-1, c1), batch_id=1)
        store.merge_mor(fold_batch(c1, c2), batch_id=2)
        store.compact(buckets=[0, 2, 4, 6])
        store.merge_mor(fold_batch(c2, 1 << 62), batch_id=3)
        # the resolved state is ≤ (40 convs × 5 turns) rows — collect
        # before the store dir is removed
        rows = [
            (r["conv_id"], int(r["turn_idx"]), r["role"], r["text"],
             r["tool"])
            for r in store.read_table()
            .select("conv_id", "turn_idx", "role", "text", "tool")
            .collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string",
    )


def q_cdc_bootstrap(spark, sf_dir):
    """Initial-load → incremental switchover (store.bootstrap): the
    pre-cutoff last-write-wins state bulk-loads as the initial
    snapshot (watermark pinned to the cutoff LSN), then ONE
    incremental folded batch (events > cutoff) merges on top — the
    Debezium/DMS "snapshot then stream" pattern against a REAL store.
    Output = final table state; the oracle recomputes both stages:
    keys whose pre-cutoff last event was a delete are ABSENT from the
    snapshot (a post-cutoff patch re-inserts them), and post-cutoff
    deletes drop bootstrapped rows."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    cutoff = int(
        ev.agg(
            F.floor(F.max("event_id") / 2).cast("long").alias("c")
        ).collect()[0]["c"]
    )

    keyed = ev.select(
        F.concat(F.lit("c"), (F.col("user_id") % 40).cast("string"))
        .alias("conv_id"),
        (F.col("event_id") % 5).cast("int").alias("turn_idx"),
        "event_id",
        "event_type",
    )

    def last_per_key(df):
        return df.groupBy("conv_id", "turn_idx").agg(
            F.max(F.struct("event_id", "event_type")).alias("_last"),
            F.count(F.lit(1)).alias("n_changes"),
        )

    # stage 1: the consistent initial snapshot (pre-cutoff LWW state,
    # deleted keys absent)
    snap = (
        last_per_key(keyed.where(F.col("event_id") <= cutoff))
        .where(F.col("_last.event_type") != "error")
        .select(
            "conv_id",
            "turn_idx",
            F.lit(None).cast("string").alias("role"),
            F.concat(
                F.lit("t"), F.col("_last.event_id").cast("string")
            ).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )

    # stage 2: the incremental tail as ONE folded batch
    tail = last_per_key(keyed.where(F.col("event_id") > cutoff)).select(
        "conv_id",
        "turn_idx",
        F.when(F.col("_last.event_type") == "error", "DELETE")
        .otherwise("PATCH")
        .alias("kind"),
        F.lit(None).cast("string").alias("role"),
        F.lit(False).alias("role_set"),
        F.concat(
            F.lit("t"), F.col("_last.event_id").cast("string")
        ).alias("text"),
        F.lit(True).alias("text_set"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(False).alias("tool_set"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(False).alias("ts_set"),
        F.col("_last.event_id").alias("last_lsn"),
        F.col("_last.event_id").alias("last_frame_seq"),
        "n_changes",
    )

    root = tempfile.mkdtemp(prefix="pb3ld_boot_")
    try:
        store = SnapshotStore.create(
            spark, root, transcripts_schema(), num_buckets=8,
            bucket_fn="md5",
        )
        store.bootstrap(snap, as_of=(cutoff, cutoff), batch_id=0)
        store.merge(tail, batch_id=1)
        rows = [
            (r["conv_id"], int(r["turn_idx"]), r["text"])
            for r in store.read_table()
            .select("conv_id", "turn_idx", "text")
            .collect()
        ]
        hwm_lsn, _ = store.hwm()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    out = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    )
    return out.withColumn("hwm_lsn", F.lit(hwm_lsn).cast("long"))


def q_doc_decontaminate_bloom(spark, sf_dir):
    """SHUFFLE-FREE decontamination (the 100-TB fast path beside
    q_doc_decontaminate's join variant): eval docs (doc_id % 41 == 0,
    < 410 — bounded regardless of SF) collapse into an 8192-bit Bloom
    bitset (256 bigint words, collected once), and every corpus doc
    counts matching shingles with a pure per-row expression — the
    corpus scan has NO explode, NO join, NO shuffle.  Bloom false
    positives only INFLATE counts (conservative for decontamination);
    the oracle replays the bitset AND every probe verdict bit-for-bit,
    FPs included."""
    from pg_pb3_ld_spark.functions import dedup

    docs = _documents(spark, sf_dir)
    is_eval = (F.col("doc_id") % 41 == 0) & (F.col("doc_id") < 410)
    out = dedup.decontaminate_bloom(
        docs.where(~is_eval), docs.where(is_eval), threshold=0.5
    )
    return out.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_overlap_bloom").cast("long").alias("n_overlap_bloom"),
        "overlap_ratio",
        "flagged",
    )


def q_doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination (training-data staple): documents
    with doc_id % 37 == 0 act as the eval/benchmark set; every other
    document is corpus.  A corpus doc is flagged when ≥50% of its
    distinct word-3-grams appear in ANY eval doc (broadcast eval
    shingle set, eval-shingle corpus-frequency cap 200 with surfaced
    drops — `dedup.decontaminate_dropped`).  Output carries the global
    flagged fraction on every row (never silent)."""
    from pg_pb3_ld_spark.functions import dedup

    docs = _documents(spark, sf_dir)
    eval_docs = docs.where(F.col("doc_id") % 37 == 0)
    corpus = docs.where(F.col("doc_id") % 37 != 0)
    out = dedup.decontaminate(
        corpus, eval_docs, threshold=0.5, max_shingle_docs=200
    )
    frac = out.agg(
        (F.floor(F.avg(F.col("flagged").cast("double")) * 1000000)
         / 1000000).alias("flagged_frac")
    )
    return out.join(frac).select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        "n_overlap",
        "overlap_ratio",
        "flagged",
        "flagged_frac",
    )


def q_doc_span_dedup(spark, sf_dir):
    """Exact-substring span dedup (round 5; Lee et al. 2022 suffix-
    array semantics on a fixed 8-token probe): flag every position
    starting an 8-gram whose exact text occurs ≥2 times corpus-wide
    (cross-doc or within-doc), then per doc union the fixed-length
    spans into a duplicated-token coverage count + fraction.  Three
    linear map-side-combining shuffles — gram hash agg, flag join,
    per-doc interval union — never a suffix array, never all-pairs."""
    from pg_pb3_ld_spark.functions import dedup

    return dedup.span_dedup(_documents(spark, sf_dir))


def q_doc_exact_dedup(spark, sf_dir):
    """Exact dedup (training-data op): md5-hash groups over document
    text; keep canonical min doc_id, count duplicates."""
    docs = _documents(spark, sf_dir)
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") >= 1)
    )


def q_doc_token_stats(spark, sf_dir):
    """Text analysis: token counts + quality ratio per document."""
    docs = _documents(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / F.size(toks), 4
        ).alias("ttr"),
        F.length("text").alias("n_chars_actual"),
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def q_doc_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates: 3-word shingles → 4 min-wise
    md5 permutations computed in ONE pass (array + posexplode; round 1
    recomputed the signature per band) → band-bucket self-join.  Scale
    path: candidates come from a shuffle on the short band key, never
    an all-pairs comparison; the identical join sides share one
    shuffle exchange (ReusedExchange)."""
    from pg_pb3_ld_spark.functions import dedup

    docs = _documents(spark, sf_dir)
    bands = dedup.minhash_bands(docs, k=4, shingle_n=3)
    return dedup.lsh_candidate_pairs(bands)


# a deliberately degenerate corpus: every 3rd doc gets identical short
# text, so ~33% of the corpus collapses into ONE LSH bucket per band —
# the skew shape that makes uncapped within-bucket pair joins quadratic
# at crawl scale (boilerplate pages / all-identical short docs).
_SKEW_TEXT = "na na na na na na"


def _skewed_documents(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.lit(_SKEW_TEXT))
        .otherwise(F.col("text")),
    )


def q_doc_minhash_lsh_capped(spark, sf_dir):
    """MinHash+LSH candidates under a bucket-size cap on a skewed
    corpus: buckets holding more than 20 docs are excluded from pair
    generation (a bucket that hot has a degenerate band key and its
    pair join is quadratic — standard LSH practice is to drop it;
    members stay reachable via their other bands).  The cap count is
    a map-side hash agg on the same key as the pair-join shuffle."""
    from pg_pb3_ld_spark.functions import dedup

    docs = _skewed_documents(spark, sf_dir)
    bands = dedup.minhash_bands(docs, k=4, shingle_n=3)
    return dedup.lsh_candidate_pairs(bands, max_bucket_size=20)


def q_lsh_dropped_buckets(spark, sf_dir):
    """The surfaced record of what the bucket cap dropped:
    (band_id, bk, bucket_size) per excluded bucket — a capped LSH run
    must report its exclusions, never drop silently."""
    from pg_pb3_ld_spark.functions import dedup

    docs = _skewed_documents(spark, sf_dir)
    bands = dedup.minhash_bands(docs, k=4, shingle_n=3)
    return dedup.dropped_buckets(bands, ["band_id", "bk"], 20)


def q_doc_neardup_clusters(spark, sf_dir):
    """Full near-dup resolution (the back half a training-data dedup
    actually outputs): LSH candidates → exact-Jaccard verification
    (banding admits false positives) → connected components via
    min-label propagation → (doc_id, cluster_id, keep) with the
    minimum doc_id as the canonical survivor.  Every component round
    is a shuffle join + hash agg over (node, label) longs."""
    from pg_pb3_ld_spark.functions import dedup

    docs = _documents(spark, sf_dir)
    return dedup.near_dup_clusters(docs, threshold=0.5)


def q_doc_split_leakage(spark, sf_dir):
    """Split-leakage audit (the eval-hygiene check INTERNAL to the
    corpus, completing the dedup→decontaminate family): verified
    near-dup pairs (the proven MinHash-LSH → exact-Jaccard path,
    threshold 0.5) that straddle the portable md5 train/val/test
    split — a test document whose near-dup lives in train leaks the
    eval into training.  Three of sf0.01's 25 verified pairs straddle
    the split on the natural corpus, so the leak path is live.  Per
    eval doc: partner count, best train partner (max Jaccard, ties to
    lowest id — two-pass hash-agg ranking, no window)."""
    from pg_pb3_ld_spark.functions import dedup

    docs = _documents(spark, sf_dir)
    bands = dedup.minhash_bands(docs, k=4, shingle_n=3)
    pairs = dedup.lsh_candidate_pairs(bands)
    sets = dedup.shingle_sets(docs)
    ver = dedup.verify_candidates(pairs, sets).where(
        F.col("jaccard") >= 0.5
    )
    b = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16, 10,
        ).cast("long"),
        F.lit(100),
    )
    splits = docs.select(
        "doc_id",
        F.when(b < 90, "train")
        .when(b < 95, "val")
        .otherwise("test")
        .alias("split"),
    )
    return dedup.split_leakage(ver, splits)


def q_doc_simhash(spark, sf_dir):
    """SimHash (16-bit) per document from md5-nibble votes."""
    from pg_pb3_ld_spark.functions import textops

    docs = _documents(spark, sf_dir)
    tok = F.explode(F.split(F.col("text"), " ")).alias("tok")
    exploded = docs.select("doc_id", tok)
    votes = textops.simhash16(F.col("tok"))
    aggs = [F.sum(v).alias(f"s{j}") for j, v in enumerate(votes)]
    bits = F.concat(
        *[
            F.when(F.col(f"s{j}") > 0, "1").otherwise("0")
            for j in range(16)
        ]
    )
    return (
        exploded.groupBy("doc_id").agg(*aggs).select(
            "doc_id", bits.alias("simhash16")
        )
    )


def q_doc_ngram_jaccard(spark, sf_dir):
    """N-gram Jaccard similarity of every document against doc 0
    (distinct 3-shingle sets); top 20 by (jaccard, doc_id)."""
    from pg_pb3_ld_spark.functions import textops

    docs = _documents(spark, sf_dir)
    sh = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    textops.shingles(textops.tokens(F.col("text")), 3)
                )
            ).alias("sh"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    q0 = sh.where(F.col("doc_id") == 0).select(F.col("sh").alias("qsh"))
    n0 = sizes.where(F.col("doc_id") == 0).select(
        F.col("n_sh").alias("n0")
    )
    inter = (
        sh.where(F.col("doc_id") != 0)
        .join(q0, sh["sh"] == q0["qsh"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes, "doc_id")
        .join(n0)
        .select(
            "doc_id",
            (F.floor(
                F.col("n_inter")
                / (F.col("n_sh") + F.col("n0") - F.col("n_inter"))
                * 10000
            ) / 10000).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc_id")
        .limit(20)
    )


def q_emb_neardup_clusters(spark, sf_dir):
    """Embedding-cosine near-dup resolution: sign-LSH bucket
    candidates → exact cosine verify → connected components →
    (vec_id, cluster_id, keep).  Threshold 0.45 here because the
    synthetic vectors are near-random (max pairwise cos ≈0.51); a
    real corpus would use ~0.9 (the library default)."""
    from pg_pb3_ld_spark.functions import dedup

    emb = _embeddings(spark, sf_dir)
    return dedup.embedding_neardup_clusters(emb, threshold=0.45)


_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def q_doc_regex_tokens(spark, sf_dir):
    """BPE-ish regex tokenization (alpha runs / digit runs / single
    symbols — the GPT-2-style pre-tokenizer shape) alongside the
    whitespace count; per-class totals per document."""
    docs = _documents(spark, sf_dir)
    arr = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_RE), F.lit(0))
    alpha = F.size(F.filter(arr, lambda x: x.rlike("^[a-z]+$")))
    num = F.size(F.filter(arr, lambda x: x.rlike("^[0-9]+$")))
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
        F.size(arr).alias("n_re_tokens"),
        alpha.alias("n_alpha"),
        num.alias("n_numeric"),
        (F.size(arr) - alpha - num).alias("n_symbol"),
    )


def q_doc_lang_id(spark, sf_dir):
    """Language-ID heuristic: stopword-ratio argmax over 4 languages
    ('other' when nothing matches); confusion counts vs true lang."""
    from pg_pb3_ld_spark.functions import textops

    docs = _documents(spark, sf_dir)
    toks = textops.tokens(F.col("text"))
    ratios = {
        lang: textops.stopword_ratio(toks, lang)
        for lang in ("en", "es", "fr", "de")
    }
    g = F.greatest(*ratios.values())
    pred = F.when(g <= 0, "other")
    for lang in ("de", "en", "es", "fr"):  # alphabetical tie-break
        pred = pred.when(ratios[lang] == g, lang)
    return (
        docs.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_doc_quality(spark, sf_dir):
    """Quality scoring + fingerprint per document."""
    from pg_pb3_ld_spark.functions import textops

    docs = _documents(spark, sf_dir)
    toks = textops.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        textops.quality_score(F.col("text"), toks).alias("quality"),
        textops.fingerprint(F.col("text")).alias("fp"),
    )


def q_doc_lm_ppl(spark, sf_dir):
    """Bigram-LM perplexity filter (textops.lm_bigram_scores): add-1
    smoothed bigram model self-trained on the corpus, every document
    scored by mean bigram NLL — the CCNet-style quality signal.
    avg_nll floored at 4 decimals for a stable cross-engine hash."""
    from pg_pb3_ld_spark.functions import textops

    docs = _documents(spark, sf_dir)
    out = textops.lm_bigram_scores(docs)
    return out.select(
        "doc_id",
        "n_bigrams",
        (F.floor(F.col("avg_nll") * 10000) / 10000).alias("avg_nll_r"),
    )


def q_doc_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: k=50 docs per language
    stratum, ranked by md5(doc_id) (a portable, seedless random
    order) — the exact-quota sampler a data-mixture pipeline uses.
    One shuffle (window per stratum); at 100 TB the same plan holds
    because strata partition the data."""
    docs = _documents(spark, sf_dir)
    order = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(order, F.col("doc_id"))
    return (
        docs.select(
            "lang", "doc_id", F.row_number().over(w).alias("rank")
        )
        .where(F.col("rank") <= 50)
    )


def q_doc_incremental_dedup(spark, sf_dir):
    """Incremental exact dedup against a historical corpus (the
    per-ingest-batch dedup of a continuously-crawled dataset): docs
    with doc_id % 3 == 0 are 'history'; a new doc survives iff its
    content hash never appeared in history.  The history side
    collapses to DISTINCT hashes before a broadcast anti-join — the
    index, not the corpus, is what ships to the executors."""
    docs = _documents(spark, sf_dir)
    h = F.md5(F.col("text"))
    history = (
        docs.where(F.col("doc_id") % 3 == 0)
        .select(h.alias("content_md5"))
        .distinct()
    )
    fresh = docs.where(F.col("doc_id") % 3 != 0).select(
        "doc_id", h.alias("content_md5")
    )
    return fresh.join(
        F.broadcast(history), "content_md5", "left_anti"
    ).select("doc_id", "content_md5")


def q_doc_incremental_neardup(spark, sf_dir):
    """Incremental NEAR-dup: the ingest batch (doc_id % 3 == 0)
    dedups against the accumulated corpus via the corpus's PERSISTED
    MinHash band index — the corpus text is never re-shingled (here
    the index is built inline for the oracle check; in production it
    is written once and appended per accepted batch).  Candidates come
    only from buckets a batch doc lands in, verified by exact Jaccard;
    batch-internal dups surface with from_batch = true."""
    from pg_pb3_ld_spark.functions import dedup

    docs = _documents(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    index_bands = dedup.minhash_bands(corpus, k=4, shingle_n=3)
    corpus_sets = dedup.shingle_sets(corpus)
    m = dedup.incremental_neardup(
        batch, index_bands, corpus_sets, threshold=0.5
    )
    return m.select(
        "doc_new",
        "doc_match",
        (F.floor(F.col("jaccard") * 10000) / 10000).alias("jaccard"),
        "from_batch",
    )


def _cosine_expr():
    """Deterministic double-precision cosine: element products and
    left-to-right sums in double on both engines → bit-identical."""
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("q"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("q"), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / (na * nb)


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs vec 0 — the exact-ANN baseline.
    At scale the broadcast-query + map-side top-k pattern holds (the
    query set broadcasts; candidates reduce via takeOrdered)."""
    emb = _embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    return (
        emb.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(_cosine_expr(), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def q_emb_decontaminate(spark, sf_dir):
    """Semantic decontamination (round 5): the embedding-side sibling
    of ``doc_decontaminate`` — paraphrased eval leakage defeats
    n-gram/Bloom matching, but not cosine similarity.  Eval set =
    vec_id%17==0 (30 vectors, the SMALL side → broadcast, the only
    sane plan at 10^10 corpus vectors); corpus rows score max-cosine
    against every eval vector via ONE broadcast join + map-side-
    combining max-struct HashAggregate (deterministic argmax: ties
    break to the smallest eval_id), flagged at 0.9.  Known leaks are
    PLANTED arithmetically (corpus vec_id%23==1 takes the eval
    vector for 17·(vec_id%30), exact sim 1.0 vs ~0.4 background) so
    the flag path is exercised; DuckDB replays plant, every cosine,
    and the argmax."""
    emb = _embeddings(spark, sf_dir)
    ev = emb.where(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("q")
    )
    corpus = (
        emb.where(F.col("vec_id") % 17 != 0)
        .withColumn("_tgt", F.lit(17) * (F.col("vec_id") % 30))
        .join(
            F.broadcast(
                ev.select(
                    F.col("eval_id").alias("_tgt"),
                    F.col("q").alias("_pvec"),
                )
            ),
            "_tgt",
            "left",  # at tiny SF the plant target may not exist
        )
        .select(
            "vec_id",
            "label",
            F.when(
                (F.col("vec_id") % 23 == 1) & F.col("_pvec").isNotNull(),
                F.col("_pvec"),
            )
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
    )
    scored = corpus.join(F.broadcast(ev)).select(
        "vec_id",
        "label",
        "eval_id",
        _cosine_expr().alias("_s"),
    )
    best = scored.groupBy("vec_id", "label").agg(
        F.max(
            F.struct(F.col("_s").alias("s"), (-F.col("eval_id")).alias("ni"))
        ).alias("b")
    )
    return best.select(
        "vec_id",
        "label",
        (-F.col("b.ni")).cast("long").alias("top_eval_id"),
        F.round(F.col("b.s"), 4).alias("max_sim"),
        (F.col("b.s") >= 0.9).alias("flagged"),
    )


def q_ann_sq8_topk(spark, sf_dir):
    """SQ8 scalar-quantized ANN (ann.sq8_*): per-dim global min/max
    codebook (2·d doubles, broadcast), vectors coded to 8-bit
    (array<smallint> — 8× smaller scans than float64 at 10^10
    vectors), top-10 per query by DEQUANTIZED deterministic cosine.
    The DuckDB oracle replays codebook, encoding (explicit
    floor(+0.5)), dequantization, and scoring arithmetic exactly."""
    from pg_pb3_ld_spark.functions import ann

    emb = _embeddings(spark, sf_dir)
    out = ann.sq8_topk(emb, emb.where(F.col("vec_id") < 3), k=10)
    return out.select(
        "query_id",
        "vec_id",
        "rank",
        F.round("cos_q", 4).alias("cos_q"),
    )


def q_ann_lsh_buckets(spark, sf_dir):
    """Sign-bit LSH bucketing over the first 8 dims — the scale path
    for ANN (bucket key groupBy instead of all-pairs)."""
    emb = _embeddings(spark, sf_dir)
    bits = F.concat(
        *[
            F.when(F.element_at("embedding", i) >= 0, "1").otherwise("0")
            for i in range(1, 9)
        ]
    )
    return (
        emb.groupBy(bits.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


def q_ann_banded_topk(spark, sf_dir):
    """Real ANN (not the single-table demo): 8 hash tables × 6 sign
    bits over disjoint dim slices → candidates from shared buckets in
    ANY table (shuffle on a short int key, no all-pairs) → exact
    cosine re-rank of candidates only → top-10 per query."""
    from pg_pb3_ld_spark.functions import ann

    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    cand = ann.banded_candidates(emb, queries)
    return ann.rerank_topk(cand, emb, queries, k=10)


def q_ann_recall10(spark, sf_dir):
    """Measured recall@10 of the banded ANN vs exact brute force —
    the index-quality evaluation a real pipeline runs on a query
    sample before trusting the approximate path."""
    from pg_pb3_ld_spark.functions import ann

    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    return ann.recall_at_k(emb, queries, k=10)


def q_ann_knn_label_vote(spark, sf_dir):
    """k-NN majority-label classification for query vecs 0-4 over
    cosine top-10 (excluding self): argmax label with ties to the
    smaller label."""
    emb = _embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(_cosine_expr(), 4).alias("cs"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), "vec_id")
    top = scored.withColumn("rn", F.row_number().over(w)).where("rn <= 10")
    counts = top.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("votes"), "label")
    return (
        counts.withColumn("r", F.row_number().over(w2))
        .where("r = 1")
        .select("query_id", F.col("label").alias("knn_label"), "votes")
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: documents' bytes treated as opaque media
    blobs → Arrow-batched mapInPandas feature extraction (stubbed
    decoders with deterministic fakes; real schema/batching/error
    capture — see functions/multimodal.py)."""
    from pg_pb3_ld_spark.functions.multimodal import extract_media_features

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("kind"),
        F.col("text").cast("binary").alias("blob"),
    )
    out = extract_media_features(docs, deterministic_fake=True)
    return out.where(F.col("error").isNull()).select(
        "media_id", "kind", "n_bytes",
        "sample0", "sample1", "sample2", "sample3", "digest",
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN (the second scale path beside sign-LSH banding):
    coarse quantizer = every 50th vector as a centroid (the trained
    alternative is q:ann_ivf_kmeans_centroids — also oracle-exact),
    inverted lists via broadcast argmax-cosine assignment, nprobe=2
    probed lists per query, exact cosine re-rank to top-10.  Each
    query touches ~nprobe/n_lists of the base, keyed on the short
    list_id the lists are partitioned by."""
    from pg_pb3_ld_spark.functions import ann

    vecs = _embeddings(spark, sf_dir)
    centroids = vecs.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") / 50).cast("int").alias("list_id"), "embedding"
    )
    queries = vecs.where(F.col("vec_id").isin(1, 2, 3, 4, 5))
    return ann.ivf_topk(vecs, queries, centroids, k=10, nprobe=2)


def q_ann_ivf_recall10(spark, sf_dir):
    """Measured IVF recall@10 vs brute force — the (n_lists, nprobe)
    tuning signal, mirroring ann_recall10 for the banded path."""
    from pg_pb3_ld_spark.functions import ann

    vecs = _embeddings(spark, sf_dir)
    centroids = vecs.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") / 50).cast("int").alias("list_id"), "embedding"
    )
    queries = vecs.where(F.col("vec_id").isin(1, 2, 3, 4, 5))
    return ann.ivf_recall_at_k(vecs, queries, centroids, k=10, nprobe=2)


def q_ann_ivf_kmeans_centroids(spark, sf_dir):
    """Seeded 2-iteration Lloyd's k-means coarse quantizer (the
    trained-IVF answer to the every-50th sampler), exploded to
    (list_id, dim, cval) rows.  Deterministic end-to-end: training
    runs on integer-quantized copies (functions/ann.py
    kmeans_centroids) so every cluster mean is an exact
    bigint-sum/count — bit-identical under any partitioning, which is
    what makes a trained fit SQL-oracle-able at all.  The oracle
    replays the identical unrolled Lloyd's in DuckDB."""
    from pg_pb3_ld_spark.functions import ann

    vecs = _embeddings(spark, sf_dir)
    init = vecs.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") / 50).cast("int").alias("list_id"), "embedding"
    )
    cents = ann.kmeans_centroids(vecs, init, n_iters=2)
    return (
        cents.select(
            "list_id", F.posexplode("embedding").alias("_p", "_v")
        )
        .select(
            "list_id",
            (F.col("_p") + 1).alias("dim"),
            F.round("_v", 6).alias("cval"),
        )
    )


def q_emb_hard_negatives(spark, sf_dir):
    """Hard-negative mining (the contrastive-training data staple):
    per anchor vector, the 5 most-cosine-similar vectors with a
    DIFFERENT label.  Candidates are restricted to the anchor's IVF
    list (every-50th-vector quantizer, same as ann_ivf_topk) with a
    55-row list cap — three of sf0.01's ten lists exceed it, so the
    fail-open drop path is exercised (surfaced via
    ann.hard_negative_dropped_lists) — and the per-anchor ranking is
    a cap-bounded ObjectHashAggregate (array_sort + slice), never a
    window over an unbounded partition."""
    from pg_pb3_ld_spark.functions import ann

    vecs = _embeddings(spark, sf_dir)
    centroids = vecs.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") / 50).cast("int").alias("list_id"), "embedding"
    )
    return ann.hard_negatives(vecs, centroids, k=5, cap=55)


def q_emb_hard_negatives_dropped(spark, sf_dir):
    """The surfaced-drop report beside emb_hard_negatives (same
    contract as emb_semdedup_dropped / lsh_dropped_buckets): the
    inverted lists the cap-55 excluded from candidate generation —
    three of sf0.01's ten lists.  Never silent: at 10^10 vectors a
    dropped hot list would otherwise read as 'mined everything'."""
    from pg_pb3_ld_spark.functions import ann

    vecs = _embeddings(spark, sf_dir)
    centroids = vecs.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") / 50).cast("int").alias("list_id"), "embedding"
    )
    lists = ann.ivf_assign(vecs, centroids)
    return ann.hard_negative_dropped_lists(lists, cap=55)


def q_emb_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023): the seeded
    2-iteration k-means fit partitions the embedding space, candidate
    pairs come only from within a cell (capped self-join — never
    all-pairs), and each duplicate component keeps the member LEAST
    similar to its centroid (the paper's diversity-preserving rule;
    deterministic 2^-40-quantized keys, ties to min vec_id).
    Threshold 0.45 because the synthetic vectors are near-random (max
    pairwise cos ~0.51); a real corpus uses ~0.9.  The oracle replays
    the unrolled fit, assignment, cap, pair verify, a recursive-CTE
    connected components, and the survivor rule."""
    from pg_pb3_ld_spark.functions import dedup

    vecs = _embeddings(spark, sf_dir)
    init = vecs.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") / 50).cast("int").alias("list_id"), "embedding"
    )
    return dedup.semdedup_clusters(
        vecs, init, n_iters=2, threshold=0.45, max_cluster_size=400
    )


def q_doc_export_manifest(spark, sf_dir):
    """Sharded-corpus export manifest (the artifact a training-data
    export ships beside its shards): portable md5 shard assignment →
    per-shard row/key counts, key range, and an order-independent
    decimal checksum of per-row content digests.  A consumer verifies
    a shard without trusting the producer's file layout; two exports
    of the same logical data certify equal regardless of
    partitioning.  Pure map + one hash agg — no payload shuffle.
    The write path (functions/layout.py export_shards) is pinned by
    test_shard_export; this query checks the manifest math itself
    against DuckDB."""
    from pg_pb3_ld_spark.functions import layout

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    return layout.shard_manifest(docs, "doc_id", 8, ["doc_id", "text"])


def q_doc_quality_logreg(spark, sf_dir):
    """Trainable quality classifier (functions/classifier.py): 8
    iterations of full-batch gradient descent at lr 2.0 (the first
    operating point where the fit separates this corpus — 459/500
    train accuracy; 3×0.5 left every margin negative) for a linear
    model with a hard-sigmoid surrogate, trained ON THE CORPUS with
    exact-rational
    features and integer-exact gradient sums — the training trajectory
    is bit-identical under any partitioning (each iteration is one
    map-side-combining hash agg; weights ride as literals), and the
    DuckDB oracle replays the ENTIRE unrolled fit plus the final
    scoring pass.  Output: (doc_id, y, margin, pred)."""
    from pg_pb3_ld_spark.functions import classifier

    docs = _documents(spark, sf_dir)
    feat = classifier.doc_features(docs)
    w = classifier.logreg_fit(feat, n_iters=8, lr=2.0)
    return classifier.logreg_score(feat, w)


def q_corpus_build_funnel(spark, sf_dir):
    """END-TO-END corpus build — the integration query chaining the
    toolkit the way a real training-data pipeline runs it, every stage
    an already-oracle-proven component: near-dup survivors (MinHash →
    Jaccard verify → CC) → eval-set removal + Bloom decontamination →
    trainable quality classifier (3-iter integer-exact GD, trained on
    the full corpus) → deterministic train/val/test split.  Output:
    the funnel (stage, n_docs) — what a pipeline report shows.  The
    DuckDB oracle composes the same stages' CTEs and re-derives every
    count."""
    from concurrent.futures import ThreadPoolExecutor

    from pg_pb3_ld_spark.functions import classifier, dedup

    docs = _documents(spark, sf_dir)
    feat = classifier.doc_features(docs)

    is_eval = (F.col("doc_id") % 41 == 0) & (F.col("doc_id") < 410)

    # every frame this query persists, dropped on every way out —
    # an exception in the main thread included (the pool's exit
    # waits for _dec, so its frame is listed by then)
    cached = []

    # the classifier fit (8 sequential tiny aggs) AND the
    # decontaminate-Bloom pass are each independent of the dedup/CC
    # chain until the join below — run both from driver threads so
    # their jobs back-fill the CC loop's scheduling gaps (guide §2.6);
    # results are unchanged (disjoint lineages until both sides are
    # materialized).  dec is (doc_id, flagged) — the same bounded-
    # width criterion as the clean/qual caches; its count
    # materializes the persist inside the overlap window.
    def _dec():
        d = dedup.decontaminate_bloom(
            docs.where(~is_eval), docs.where(is_eval), threshold=0.5
        ).select("doc_id", "flagged").persist()
        cached.append(d)
        d.count()
        return d

    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            fit_fut = pool.submit(classifier.logreg_fit, feat, 8, 2.0)
            dec_fut = pool.submit(_dec)

            n_raw = docs.count()

            clusters = dedup.near_dup_clusters(docs, threshold=0.5)
            keep = clusters.where("keep").select("doc_id")
            n_dedup = keep.count()

            dec = dec_fut.result()
            # clean feeds three consumers (its count, the quality
            # join, and through qual the split agg) and qual two —
            # uncached, the decontaminate-Bloom chain re-executed 3×
            # and the classifier scoring 2× per funnel run.  Both
            # frames are id-only (8 B/row), the same bounded-width
            # criterion as the round-6 §9 caches; each count right
            # after the persist materializes it, and both are dropped
            # before returning.
            clean = (
                keep.where(~is_eval)
                .join(dec, "doc_id", "left")
                .where(~F.coalesce(F.col("flagged"), F.lit(False)))
                .select("doc_id")
                .persist()
            )
            cached.append(clean)
            n_clean = clean.count()

            w = fit_fut.result()
        pred = classifier.logreg_score(feat, w).select("doc_id", "pred")
        qual = (
            clean.join(pred, "doc_id").where("pred = 1").select("doc_id")
            .persist()
        )
        cached.append(qual)
        n_qual = qual.count()

        b = F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16, 10,
            ).cast("long"),
            F.lit(100),
        )
        splits = {
            r["s"]: r["n"]
            for r in qual.select(
                F.when(b < 90, "train").when(b < 95, "val")
                .otherwise("test").alias("s")
            ).groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    finally:
        for d in cached:
            d.unpersist()
    rows = [
        ("1_raw", n_raw),
        ("2_dedup_survivors", n_dedup),
        ("3_decontaminated", n_clean),
        ("4_quality", n_qual),
        ("5_train", splits.get("train", 0)),
        ("6_val", splits.get("val", 0)),
        ("7_test", splits.get("test", 0)),
    ]
    return spark.createDataFrame(rows, "stage string, n_docs long")


def q_video_scene_cuts(spark, sf_dir):
    """Shot-boundary detection end-to-end: synthesize AVI-MJPEG blobs
    whose luma is constant within 3-frame scenes and jumps 97 (mod
    256) between them, decode EVERY frame through the real
    container+JPEG path, then detect cuts as mean-luma jumps ≥ 10
    (video.scene_cuts — per-video window, no global sort).  Flat
    DC-only blocks decode exactly, so the oracle recomputes every
    frame mean arithmetically and replays the lag/threshold in SQL:
    the check spans RIFF walk + Huffman + IDCT + feature + detector."""
    import numpy as np
    import pandas as pd

    from pg_pb3_ld_spark.functions.video import (
        encode_avi_mjpeg, encode_jpeg_gray_flat, sample_video_frames,
        scene_cuts,
    )

    ids = _documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 150
    )

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = []
                for f in range(8):
                    base = did * 7 + (f // 3) * 97
                    bv = np.array([
                        [base % 256, (base + 50) % 256],
                        [(base + 100) % 256, (base + 150) % 256],
                    ])
                    frames.append(encode_jpeg_gray_flat(bv))
                blobs.append(encode_avi_mjpeg(frames, 16, 16, rate=4))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = ids.mapInPandas(gen, "media_id long, blob binary")
    frames = sample_video_frames(blobs, n_frames=8)
    return scene_cuts(
        frames.where(F.col("error").isNull()), threshold=10
    )


def q_emb_semdedup_dropped(spark, sf_dir):
    """SemDeDup's surfaced drop report: k-means cells larger than the
    cap are excluded from the quadratic pair join and REPORTED
    (list_id, bucket_size) — the never-drop-silently discipline
    (same contract as lsh_dropped_buckets).  Cap 40 is below the
    fixture's ~50-member cells so drops actually occur; the oracle
    replays the unrolled fit + assignment and the size filter."""
    from pg_pb3_ld_spark.functions import dedup

    vecs = _embeddings(spark, sf_dir)
    init = vecs.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") / 50).cast("int").alias("list_id"), "embedding"
    )
    return dedup.semdedup_dropped(vecs, init, max_cluster_size=40)


def q_media_resize(spark, sf_dir):
    """REAL raster path end-to-end: synthesize an 8×8 RGB PNG per doc
    (pixel (y,x,c) = (doc_id + flat_index) mod 256), then decode →
    unfilter → nearest-neighbor resize to 4×4 → summary stats, all in
    one Arrow-batched mapInPandas stage.  The oracle recomputes the
    SAME stats by pure arithmetic on the pixel formula — so the SQL
    check spans the whole PNG encode/zlib/unfilter/resize path."""
    import numpy as np
    import pandas as pd

    from pg_pb3_ld_spark.functions.multimodal import encode_png, resize_media

    ids = _documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 200
    )

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                px = (
                    (int(did) + np.arange(8 * 8 * 3)) % 256
                ).astype(np.uint8).reshape(8, 8, 3)
                blobs.append(encode_png(px))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = ids.mapInPandas(gen, "media_id long, blob binary")
    out = resize_media(blobs, 4, 4)
    return out.where(F.col("error").isNull()).select(
        "media_id", "out_h", "out_w", "n_channels",
        "mean_pixel", "corner00", "corner11",
    )


def _image_fixture_blobs(spark, sf_dir, n=240):
    """16×18 RGB PNG per doc with a fully arithmetic pixel formula:
    channel value = (base·53 + flat_idx·(2·base+3) + pert) % 256 with
    base = doc_id % 24 (24 structurally distinct patterns), variant
    v = doc_id // 24 perturbing one grid-cell diagonal by
    (v·31 + cy·17) % 256 — so near-dup structure (54 within-group
    pairs at hamming ≤ 3, zero cross-group) is created by the SAME
    closed form the DuckDB oracle replays."""
    import numpy as np
    import pandas as pd

    from pg_pb3_ld_spark.functions.multimodal import encode_png

    ids = _documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < n
    )

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                base, v = did % 24, did // 24
                idx = np.arange(16 * 18 * 3).reshape(16, 18, 3)
                y = np.arange(16)[:, None, None]
                x = np.arange(18)[None, :, None]
                pert = np.where(
                    (x // 2) % 9 == (v * 2 + y // 2) % 9,
                    (v * 31 + (y // 2) * 17) % 256,
                    0,
                )
                px = ((base * 53 + idx * (2 * base + 3) + pert) % 256).astype(
                    np.uint8
                )
                blobs.append(encode_png(px))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    return ids.mapInPandas(gen, "media_id long, blob binary")


def q_image_dhash(spark, sf_dir):
    """Perceptual image fingerprint (dHash) through the REAL raster
    path: synthesize a PNG per doc (see :func:`_image_fixture_blobs`),
    decode → integer luma → exact 8×9 block means → 64 gradient bits
    packed as two non-negative 32-bit halves, all in ONE Arrow-batched
    stage (functions/imagehash.py).  The oracle recomputes the hash by
    pure arithmetic — the SQL check spans PNG encode/zlib/unfilter/
    luma/block-mean/gradient/packing."""
    from pg_pb3_ld_spark.functions.imagehash import image_dhash

    out = image_dhash(_image_fixture_blobs(spark, sf_dir))
    return out.where(F.col("error").isNull()).select(
        "media_id", "hash_hi", "hash_lo"
    )


def q_image_neardup(spark, sf_dir):
    """Image near-dup pairs — the multimodal dedup staple (crawl
    corpora carry the same image re-encoded/resized millions of
    times; byte-level md5 misses all of it).  dHash fingerprints →
    4×16-bit chunk bucket self-join (pigeonhole-COMPLETE for
    hamming ≤ 3, never all-pairs) with the shared bucket cap →
    exact popcount(xor) verify.  At 10^10 images the plan is one
    fused decode+hash map stage plus one bucketed shuffle join on
    ~4 rows/image."""
    from pg_pb3_ld_spark.functions.imagehash import (
        image_dhash,
        neardup_image_pairs,
    )

    hashes = image_dhash(_image_fixture_blobs(spark, sf_dir)).where(
        F.col("error").isNull()
    )
    pairs = neardup_image_pairs(hashes, max_hamming=3, max_bucket_size=64)
    return pairs.select(
        "doc_a", "doc_b", F.col("dist").cast("int").alias("dist")
    )


def _audio_fixture_blobs(spark, sf_dir, n=200):
    """780-sample 8 kHz mono PCM WAV per doc with a fully arithmetic
    sample formula (65 exact 12-sample frames): a per-frame envelope
    keyed by base = doc_id % 20 gives 20 distinct energy contours;
    variant v = doc_id // 20 perturbs the frames where
    fr % 11 == (v·3) % 11 — creating 91 within-group fingerprint
    pairs at hamming ≤ 3 (zero cross-group) that the DuckDB oracle
    re-derives from the same closed form."""
    import numpy as np
    import pandas as pd

    from pg_pb3_ld_spark.functions.multimodal import encode_wav

    ids = _documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < n
    )

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                base, v = did % 20, did // 20
                i = np.arange(780)
                fr = i // 12
                env = ((fr * fr + 1) * (base * 31 + 7)) % 997
                s = (env * (((i * 29) % 41) - 20)) % 2003 - 1001
                pert = np.where(
                    fr % 11 == (v * 3) % 11,
                    ((fr + v) * 337) % 1601 - 800,
                    0,
                )
                blobs.append(encode_wav(8000, 1, s + pert))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    return ids.mapInPandas(gen, "media_id long, blob binary")


def q_image_neardup_clusters(spark, sf_dir):
    """Full image-dedup resolution (the multimodal mirror of
    q_doc_neardup_clusters): dHash pairs at hamming ≤ 3 → min-label
    connected components with pointer doubling → (media_id,
    cluster_id, keep) with the minimum id as the canonical survivor —
    what a training-set builder actually materializes."""
    from pg_pb3_ld_spark.functions import dedup
    from pg_pb3_ld_spark.functions.imagehash import (
        image_dhash,
        neardup_image_pairs,
    )

    # persist the fingerprints: connected_components materializes its
    # edge and node inputs in SEPARATE actions, which re-ran the whole
    # PNG decode + dHash Python stage twice without the cache
    hashes = image_dhash(_image_fixture_blobs(spark, sf_dir)).where(
        F.col("error").isNull()
    ).persist()
    pairs = neardup_image_pairs(hashes, max_hamming=3, max_bucket_size=64)
    comp = dedup.connected_components(
        pairs.select("doc_a", "doc_b"),
        hashes.select("media_id"),
        id_col="media_id",
    )
    return comp.select(
        "media_id",
        "cluster_id",
        (F.col("media_id") == F.col("cluster_id")).alias("keep"),
    )


def q_audio_fingerprint(spark, sf_dir):
    """Audio energy-contour fingerprint through the REAL WAV decode
    path: 65 exact-integer L1 frame energies → 64 rise/fall bits
    packed as two non-negative 32-bit halves, fused with the decode
    in ONE Arrow stage (functions/audiofp.py).  The oracle re-derives
    every sample, frame energy, and bit arithmetically — the SQL
    check spans RIFF encode/walk/PCM/framing/packing."""
    from pg_pb3_ld_spark.functions.audiofp import audio_fingerprint

    out = audio_fingerprint(_audio_fixture_blobs(spark, sf_dir))
    return out.where(F.col("error").isNull()).select(
        "media_id", "hash_hi", "hash_lo"
    )


def q_audio_neardup(spark, sf_dir):
    """Audio near-dup pairs: energy-contour fingerprints → the SHARED
    4×16-bit-chunk pigeonhole bucket join (complete for hamming ≤ 3,
    capped, never all-pairs) → popcount(xor) verify — re-encoded/
    gain-shifted clip dedup, the audio leg of multimodal dedup."""
    from pg_pb3_ld_spark.functions.audiofp import (
        audio_fingerprint,
        neardup_audio_pairs,
    )

    fps = audio_fingerprint(_audio_fixture_blobs(spark, sf_dir)).where(
        F.col("error").isNull()
    )
    pairs = neardup_audio_pairs(fps, max_hamming=3, max_bucket_size=64)
    return pairs.select(
        "doc_a", "doc_b", F.col("dist").cast("int").alias("dist")
    )


def q_audio_frame_sample(spark, sf_dir):
    """REAL audio path end-to-end: synthesize a 0.1 s 8 kHz mono WAV
    per doc (sample i = (doc_id·31 + i·7) mod 2001 − 1000), then
    decode → 4 equally-spaced 10 ms windows → RMS/peak per window.
    Oracle recomputes RMS/peak by arithmetic on the sample formula —
    the SQL check spans the WAV encode/RIFF-walk/windowing path."""
    import numpy as np
    import pandas as pd

    from pg_pb3_ld_spark.functions.multimodal import (
        encode_wav, sample_audio_frames,
    )

    ids = _documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 200
    )

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                s = (int(did) * 31 + np.arange(800) * 7) % 2001 - 1000
                blobs.append(encode_wav(8000, 1, s))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = ids.mapInPandas(gen, "media_id long, blob binary")
    out = sample_audio_frames(blobs, n_frames=4)
    return out.where(F.col("error").isNull()).select(
        "media_id", "frame_idx", "t_ms", "rms", "peak",
    )


def q_doc_train_test_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test split (training-data
    pipeline staple).  The split keys on a PORTABLE hash — first 15
    md5 hex chars of the doc id, mod 100 — never on RNG, row order,
    or partitioning, so it is reproducible across engines, runs, and
    cluster sizes (the property that makes a split auditable at
    100 TB; same construction as the store's md5 bucket_fn).  At
    scale this is a pure map — no shuffle, no state."""
    docs = _documents(spark, sf_dir)
    b = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16, 10,
        ).cast("long"),
        F.lit(100),
    )
    split = (
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test")
    )
    return docs.select(
        "doc_id", b.cast("int").alias("split_bucket"), split.alias("split")
    )


_BPE_MERGES = 10


def q_doc_bpe_merges(spark, sf_dir):
    """BPE tokenizer TRAINING (the vocabulary-fitting step every LLM
    pretraining pipeline runs): learn the first 10 merges from the
    `documents` corpus.  Output (rank, pair, merged) — the merge
    table itself, so the oracle pins the whole training trajectory,
    not just a summary.

    Scale shape: ONE corpus-sized pass collapses to the distinct-word
    frequency table (vocab-sized — ~10^6 rows at 100 TB); each merge
    iteration is an explode + map-side-combining hash agg over that
    table plus a distributed top-1 (TakeOrdered) — the driver holds
    one row per iteration.  Ties break (count desc, pair asc): a
    total order, so training is partition-invariant and DuckDB
    replays the identical unrolled trajectory (the kmeans_centroids
    discipline applied to tokenizer fitting)."""
    from pg_pb3_ld_spark.functions import bpe

    merges = bpe.train_from_corpus(_documents(spark, sf_dir), _BPE_MERGES)
    return spark.createDataFrame(
        [(i + 1, p, p.replace(" ", "")) for i, p in enumerate(merges)],
        "rank int, pair string, merged string",
    )


def q_doc_bpe_tokenize(spark, sf_dir):
    """BPE ENCODING with the trained merges: every document encoded
    to its BPE symbol sequence; output (doc_id, n_bpe_tokens,
    n_bpe_distinct, bpe_digest=md5(encoded)) — the digest pins exact
    bytes.  Encoding is a chain of 10 `replace` expressions applied
    in rank order — a pure whole-stage-codegen projection, no
    shuffle, no Python (cross-word merges are structurally impossible:
    learned pairs never begin with a word-final `_` symbol).  At
    production vocab (32k merges) the same merge table drives a
    broadcast mapInPandas trie instead of a literal chain — disclosed
    in functions/bpe.py."""
    from pg_pb3_ld_spark.functions import bpe

    docs = _documents(spark, sf_dir)
    merges = bpe.train_from_corpus(docs, _BPE_MERGES)
    return bpe.encode_docs(docs, merges)


def q_cdc_quarantine(spark, sf_dir):
    """Dead-letter quarantine END-TO-END: a deterministic change
    stream derived from `events` is wire-encoded (one frame per
    20-change transaction), every frame with frame_seq % 7 == 3 is
    REPLACED by poison bytes (a runaway varint — guaranteed
    WireFormatError), and the stream replays through the real
    IngestPipeline with `quarantine_dir` set.  The poison frames land
    in the dead-letter parquet (frame_seq + error + raw bytes) instead
    of killing the batch; every surviving transaction applies.  Output
    = the final table state UNION the dead-letter records; DuckDB
    replays the last-write-wins fold over exactly the non-poisoned
    transactions and re-derives which frame_seqs must be quarantined
    — a leak in either direction (a lost good txn, an unreported
    poison frame, a poison row reaching the store) changes the rows."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from pg_pb3_ld_spark.config import EngineConfig
    from pg_pb3_ld_spark.generator import (
        _frames_table,
        encode_routed_changes,
    )
    from pg_pb3_ld_spark.pb3 import wire
    from pg_pb3_ld_spark.pipeline import IngestPipeline
    from pg_pb3_ld_spark.schema import TargetColumn, TargetSchema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = (
        _events(spark, sf_dir)
        .where(F.col("event_id") < 4000)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
        .collect()
    )
    changes = []
    for r in ev:
        eid, uid = int(r["event_id"]), int(r["user_id"])
        key = [("metric_id", f"u{uid % 40}", wire.OID_TEXT)]
        if r["event_type"] == "error":
            changes.append(("public", "metrics", "DELETE", key, []))
        else:
            changes.append((
                "public", "metrics", "INSERT", key,
                [("label", r["event_type"], wire.OID_TEXT),
                 ("n_tokens", eid, wire.OID_INT4)],
            ))
    cfg = EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184",
    )
    frames = encode_routed_changes(changes, cfg, txn_every=20)
    frames = [
        (s, l, b"\xff" * 11 if s % 7 == 3 else f) for s, l, f in frames
    ]
    schema = TargetSchema(
        "metrics",
        [
            TargetColumn("metric_id", wire.OID_TEXT, "string", is_key=True),
            TargetColumn("label", wire.OID_TEXT, "string"),
            TargetColumn("n_tokens", wire.OID_INT4, "int"),
        ],
    )
    root = tempfile.mkdtemp(prefix="pb3ld_quar_")
    try:
        fp = os.path.join(root, "frames.parquet")
        pq.write_table(_frames_table(frames), fp)
        store = SnapshotStore.create(
            spark, os.path.join(root, "table"), schema, num_buckets=8
        )
        qdir = os.path.join(root, "deadletter")
        pipe = IngestPipeline(spark, store, cfg, quarantine_dir=qdir)
        pipe.apply_frames(spark.read.parquet(fp), batch_id=1)
        state = [
            ("state", r["metric_id"], r["label"], int(r["n_tokens"]))
            for r in store.read_table().collect()
        ]
        dead = [
            ("q", str(int(r["frame_seq"])), r["_err"], -1)
            for r in spark.read.parquet(qdir).collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        state + dead, "kind string, k string, v string, n long"
    )


def q_cdc_schema_widening(spark, sf_dir):
    """Type-widening schema evolution END-TO-END through the real
    engine: a deterministic change stream derived from `events`
    switches a column's wire type oid from int4 to int8 mid-stream
    (the upstream ALTER COLUMN TYPE), with post-ALTER values beyond
    int4 range.  The stream is ENCODED through the real wire encoder
    (binary int send forms — 4- then 8-byte payloads for the same
    column), decoded, and applied through the full IngestPipeline into
    a real SnapshotStore: the decoder diverts stale-width entries to
    the evolution probe (never a misparse), evolution widens
    int→bigint in place (Iceberg updateColumn rules), and the merge
    casts the narrow snapshot up losslessly.  Output = the final table
    state + the evolved column type; DuckDB replays the last-write-
    wins fold arithmetically (pg_pb3_ld emits the per-column type oids
    that make this detectable, decoder/fsd.c:253-294)."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.config import EngineConfig
    from pg_pb3_ld_spark.generator import (
        _frames_table,
        encode_routed_changes,
    )
    from pg_pb3_ld_spark.pb3 import wire
    from pg_pb3_ld_spark.pipeline import IngestPipeline
    from pg_pb3_ld_spark.schema import TargetColumn, TargetSchema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = (
        _events(spark, sf_dir)
        .where(F.col("event_id") < 4000)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
        .collect()
    )
    cutoff = max(r["event_id"] for r in ev) // 2
    changes = []
    for r in ev:
        eid = int(r["event_id"])
        key = [("metric_id", f"u{int(r['user_id']) % 40}", wire.OID_TEXT)]
        if r["event_type"] == "error":
            changes.append(("public", "metrics", "DELETE", key, []))
            continue
        wide = eid > cutoff
        vals = [
            ("label", r["event_type"], wire.OID_TEXT),
            (
                "n_tokens",
                eid + 7_000_000_000 if wide else eid,
                wire.OID_INT8 if wide else wire.OID_INT4,
            ),
        ]
        changes.append(("public", "metrics", "INSERT", key, vals))
    cfg = EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184",
    )
    frames = encode_routed_changes(changes, cfg, txn_every=20)
    schema = TargetSchema(
        "metrics",
        [
            TargetColumn("metric_id", wire.OID_TEXT, "string", is_key=True),
            TargetColumn("label", wire.OID_TEXT, "string"),
            TargetColumn("n_tokens", wire.OID_INT4, "int"),
        ],
    )
    root = tempfile.mkdtemp(prefix="pb3ld_widen_")
    try:
        import pyarrow.parquet as pq

        fp = os.path.join(root, "frames.parquet")
        pq.write_table(_frames_table(frames), fp)
        store = SnapshotStore.create(
            spark, os.path.join(root, "table"), schema, num_buckets=8
        )
        pipe = IngestPipeline(spark, store, cfg)
        pipe.apply_frames(spark.read.parquet(fp), batch_id=1)
        col_type = store.schema.column("n_tokens").spark_type
        rows = [
            (r["metric_id"], r["label"], r["n_tokens"], col_type)
            for r in store.read_table().collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "metric_id string, label string, n_tokens bigint, "
              "col_type string"
    )


_MIX_WEIGHTS = {"src0": 1, "src1": 2, "src2": 3, "src3": 6, "srcz": 2}
_MIX_TOTAL = 300


def q_doc_mixture_sample(spark, sf_dir):
    """Data-mixing manifest (Pile/DoReMi-style domain reweighting):
    apportion a 300-doc target across weighted sources by largest
    remainder (exact: quotas sum to the target), then emit per-doc
    copy counts — `quota div n` full epochs plus a deterministic
    md5-thresholded partial epoch (decimal(38,0) compare; bigint
    would overflow at crawl-scale domain counts).  `srcz` is absent
    from the corpus: its quota is knowingly unfulfilled (surfaced by
    the summary query, never silently renormalized).

    Scale shape: one hash agg collapses the corpus to #domains rows,
    broadcast back; the manifest is a pure codegen projection — no
    window, no sort, no Python."""
    from pg_pb3_ld_spark.functions import mixture

    return mixture.mixture_sample(
        _documents(spark, sf_dir), _MIX_WEIGHTS, _MIX_TOTAL
    )


def q_doc_mixture_summary(spark, sf_dir):
    """Per-domain target-vs-achieved for the mixing manifest — every
    weighted domain appears, including `srcz` (quota 43, n_docs 0,
    achieved 0): the never-silent accounting row."""
    from pg_pb3_ld_spark.functions import mixture

    return mixture.mixture_summary(
        _documents(spark, sf_dir), _MIX_WEIGHTS, _MIX_TOTAL
    )


def q_audio_ulaw_frame_sample(spark, sf_dir):
    """COMPRESSED audio path end-to-end (round 4): synthesize a G.711
    μ-law WAV per doc (byte i = (doc_id·13 + i·5) mod 256), decode
    through the real codec (format-7 RIFF walk → 256-entry expansion
    LUT built from the G.711 segment formula) → 4 windows → RMS/peak.
    The oracle re-derives every expanded sample ARITHMETICALLY in SQL
    (invert byte, split sign/exponent/mantissa, ((8m+132)·2^e)−132),
    so the check spans the whole container+codec+windowing path."""
    import numpy as np
    import pandas as pd

    from pg_pb3_ld_spark.functions.multimodal import (
        encode_wav_g711, sample_audio_frames,
    )

    ids = _documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 200
    )

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                b = ((int(did) * 13 + np.arange(800) * 5) % 256).astype(
                    np.uint8
                )
                blobs.append(encode_wav_g711(8000, 1, b.tobytes()))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = ids.mapInPandas(gen, "media_id long, blob binary")
    out = sample_audio_frames(blobs, n_frames=4)
    return out.where(F.col("error").isNull()).select(
        "media_id", "frame_idx", "t_ms", "rms", "peak",
    )


def q_audio_segments(spark, sf_dir):
    """VAD-style audio segmentation end-to-end: synthesize μ-law WAVs
    whose first half is digital silence (byte 0xFF → 0) and second
    half is loud, decode through the real G.711 path, frame-sample,
    then run-length-group activity (multimodal.audio_segments: energy
    gate + gaps-and-islands in per-media windows).  The oracle
    re-derives every expanded sample arithmetically AND replays the
    lag/running-sum/grouping in SQL."""
    import numpy as np
    import pandas as pd

    from pg_pb3_ld_spark.functions.multimodal import (
        audio_segments, encode_wav_g711, sample_audio_frames,
    )

    ids = _documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 200
    )

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                i = np.arange(800)
                b = np.where(
                    i < 400, 255, (int(did) * 13 + i * 5) % 256
                ).astype(np.uint8)
                blobs.append(encode_wav_g711(8000, 1, b.tobytes()))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = ids.mapInPandas(gen, "media_id long, blob binary")
    frames = sample_audio_frames(blobs, n_frames=4)
    return audio_segments(
        frames.where(F.col("error").isNull()), rms_threshold=1
    )


def q_doc_overlap_chunks(spark, sf_dir):
    """Overlapping context-window chunking (textops.overlap_chunks):
    16-token windows every 12 tokens, last window anchored so every
    token is covered — the RAG/long-doc splitter as a pure-Catalyst
    sequence+explode+slice (no shuffle, no Python).  The oracle
    replays window arithmetic, slicing, and joins in SQL."""
    from pg_pb3_ld_spark.functions import textops

    docs = _documents(spark, sf_dir)
    return textops.overlap_chunks(docs, size=16, stride=12)


def q_doc_novelty(spark, sf_dir):
    """Cross-document novelty scoring (inter-document duplication —
    the Gopher-style filter for boilerplate phrasing that whole-doc
    exact and near-dup dedup both miss): per document, the fraction
    of its distinct 3-shingles that occur in ≥2 documents.  One
    shingle explode → doc-frequency hash agg (map-side combine) →
    join-back → per-doc agg; no window, no all-pairs."""
    from pg_pb3_ld_spark.functions import textops

    return textops.cross_doc_novelty(_documents(spark, sf_dir))


def q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition signals (round 5): most-common-2-gram
    fraction + duplicated 2-/3-gram occurrence fractions per doc —
    the boilerplate/spam filter staple for LLM corpora.  Pure
    Catalyst shingles → one explode + hash aggs with map-side
    combine; no UDFs, no windows."""
    from pg_pb3_ld_spark.functions.textops import repetition_signals

    return repetition_signals(_documents(spark, sf_dir))


def _augmented_pii_docs(spark, sf_dir):
    """documents with a deterministic PII tail appended (the corpus
    itself is plain words — verified zero '@'/URL/dotted-quad
    content) so every row exercises all four redaction patterns and
    the oracle can derive the scrubbed text arithmetically."""
    d = F.col("doc_id").cast("string")
    return _documents(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), d, F.lit("@mail.example.com node 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".7 id "),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0199"),
        ).alias("text"),
    )


def q_transcript_render(spark, sf_dir):
    """Chat-template rendering (round 5): deterministic turns derived
    from documents (conv = doc_id//5, turn = doc_id%5, role by turn
    parity) → per-conversation ``<|role|>text`` concatenation in
    turn order — the SFT sample-construction step.  One bounded
    groupBy on conv_id; the md5 digest pins exact bytes."""
    from pg_pb3_ld_spark.functions.textops import render_chat

    turns = _documents(spark, sf_dir).select(
        (F.col("doc_id") / 5).cast("long").alias("conv_id"),
        (F.col("doc_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 5 == 0, "system")
        .when(F.col("doc_id") % 5 % 2 == 1, "user")
        .otherwise("assistant").alias("role"),
        "text",
    )
    return render_chat(turns)


def q_transcript_qa(spark, sf_dir):
    """Transcript integrity QA (round 5): the validation gate over
    the payload table itself — per-conversation turn-index
    gap/duplicate detection, role-alternation violations, orphan
    tool turns, empty turns.  Turns derive deterministically from
    documents (conv = doc_id//6, seq = doc_id%6) with arithmetic
    defect injection so every defect class is exercised: conv%7==3
    gets a turn-idx gap (seq 2 → 9), conv%7==5 a duplicate (seq 4 →
    3), conv%5==1 an ORPHAN tool turn (after a user turn), conv%5==2
    a VALID tool turn (after an assistant turn), conv%11==2 a
    consecutive-assistant role violation, conv%13==7 an empty text.
    ONE groupBy, all checks array expressions — no window."""
    from pg_pb3_ld_spark.functions.textops import transcript_qa

    d = F.col("doc_id")
    conv = (d / 6).cast("long")
    seq = (d % 6).cast("int")
    turns = _documents(spark, sf_dir).select(
        conv.alias("conv_id"),
        F.when((conv % 7 == 3) & (seq == 2), F.lit(9))
        .when((conv % 7 == 5) & (seq == 4), F.lit(3))
        .otherwise(seq).cast("int").alias("turn_idx"),
        F.when((conv % 5 == 1) & (seq == 4), "tool")
        .when((conv % 5 == 2) & (seq == 3), "tool")
        .when((conv % 11 == 2) & (seq == 3), "assistant")
        .when(seq == 0, "system")
        .when(seq % 2 == 1, "user")
        .otherwise("assistant").alias("role"),
        F.when((conv % 13 == 7) & (seq == 1), F.lit(""))
        .otherwise(F.col("text")).alias("text"),
    )
    return transcript_qa(turns)


def q_transcript_boilerplate(spark, sf_dir):
    """Templated-reply detection (round 5): canned assistant replies
    recurring VERBATIM across conversations — the turn-level cleaning
    signal whole-conversation dedup misses (each conversation is
    unique; one of its turns is not).  Turns derive deterministically
    from documents (conv = doc_id//6, seq = doc_id%6); two template
    families are planted arithmetically — conv%4==1 conversations get
    a canned refusal at seq 2, conv%5==2 a canned confirmation at
    seq 4 (some convs carry both) — while every other assistant turn
    keeps its unique document text, so exactly two clusters exist and
    canonical-exemplar selection is exercised.  DuckDB replays the
    planting, the md5 clustering, the distinct-conv counts, and the
    two-pass canonical ranking."""
    from pg_pb3_ld_spark.functions.textops import boilerplate_replies

    d = F.col("doc_id")
    conv = (d / 6).cast("long")
    seq = (d % 6).cast("int")
    turns = _documents(spark, sf_dir).select(
        conv.alias("conv_id"),
        seq.alias("turn_idx"),
        F.when(seq == 0, "system")
        .when(seq % 2 == 1, "user")
        .otherwise("assistant").alias("role"),
        F.when(
            (conv % 4 == 1) & (seq == 2),
            F.lit("I cannot help with that request."),
        )
        .when(
            (conv % 5 == 2) & (seq == 4),
            F.lit("Sure! Here is the result."),
        )
        .otherwise(F.col("text")).alias("text"),
    )
    return boilerplate_replies(turns)


def q_transcript_tool_flow(spark, sf_dir):
    """Behavioral dedup of agent transcripts (round 5): fingerprint
    every conversation by its ORDERED ``role:tool`` action sequence
    and cluster identical trajectories — the dedup key that matches
    how agent data actually repeats (same policy path, different
    wording).  Turns derive deterministically from documents (conv =
    doc_id//6, seq = doc_id%6); conv%3==1 conversations call a tool
    at seq 4 whose NAME alternates by conv%2, so exactly three flow
    shapes exist for full-length conversations and the cluster sizes
    / canonical-survivor rule are all exercised.  DuckDB replays the
    canonical sequence build (string_agg ordered by turn_idx) and the
    md5 byte-for-byte.  Scale shape: conv groupBy + fingerprint
    groupBy + fingerprint join — no window, no Python, no all-pairs."""
    from pg_pb3_ld_spark.functions.textops import tool_flow

    d = F.col("doc_id")
    conv = (d / 6).cast("long")
    seq = (d % 6).cast("int")
    is_tool = (conv % 3 == 1) & (seq == 4)
    turns = _documents(spark, sf_dir).select(
        conv.alias("conv_id"),
        seq.alias("turn_idx"),
        F.when(is_tool, "tool")
        .when(seq == 0, "system")
        .when(seq % 2 == 1, "user")
        .otherwise("assistant").alias("role"),
        F.when(
            is_tool, F.concat(F.lit("t"), (conv % 2).cast("string"))
        ).alias("tool"),
    )
    return tool_flow(turns)


def _branch_turns(spark, sf_dir):
    """Shared branched-conversation synthesis for the tree queries:
    conv = doc_id//8, node = doc_id%8.  Fixed per-conv topology with
    a conv%3-varied eighth node so all leaf/branch shapes occur:
    0:system(root) ← 1:user ← {2,3:assistant siblings}; 4:user ← 2;
    {5,6:assistant siblings} ← 4; node 7 is a THIRD sibling under 1
    (assistant) when conv%3==0, else a user extension under 5
    (conv%3==1) or 6 (conv%3==2).  Every parent slot < child slot, so
    a truncated tail conversation never dangles.  score = (conv*7 +
    node*13) % 5 — siblings 2 and 7 always tie (26≡91 mod 5),
    exercising the min-node tie-break."""
    d = F.col("doc_id")
    conv = (d / 8).cast("long")
    slot = (d % 8).cast("long")
    parent = (
        F.when(slot == 1, F.lit(0))
        .when(slot.isin(2, 3), F.lit(1))
        .when(slot == 4, F.lit(2))
        .when(slot.isin(5, 6), F.lit(4))
        .when(
            slot == 7,
            F.when(conv % 3 == 0, F.lit(1))
            .when(conv % 3 == 1, F.lit(5))
            .otherwise(F.lit(6)),
        )
    ).cast("long")
    role = (
        F.when(slot == 0, F.lit("system"))
        .when(slot.isin(1, 4), F.lit("user"))
        .when(
            slot == 7,
            F.when(conv % 3 == 0, F.lit("assistant")).otherwise(
                F.lit("user")
            ),
        )
        .otherwise(F.lit("assistant"))
    )
    return _documents(spark, sf_dir).select(
        conv.alias("conv_id"),
        slot.alias("node_id"),
        parent.alias("parent_id"),
        role.alias("role"),
        ((conv * 7 + slot * 13) % 5).cast("long").alias("score"),
        F.substring(F.col("text"), 1, 30).alias("text"),
    )


def q_transcript_branch_paths(spark, sf_dir):
    """Branched-transcript linearization (round 5): regenerations
    make stored conversations TREES of turns; every root→leaf path is
    one training sample.  Pointer-doubling list ranking settles
    depth-6 trees in 3 shuffle joins; the DuckDB oracle walks the
    same trees with a recursive CTE."""
    from pg_pb3_ld_spark.functions.textops import branch_paths

    return branch_paths(_branch_turns(spark, sf_dir))


def q_transcript_pref_pairs(spark, sf_dir):
    """Preference-pair extraction (round 5): assistant siblings under
    one prompt turn become (chosen, rejected) DPO pairs — chosen =
    max score, ties to the MIN node id via two scalar hash aggs on
    the one (conv, parent) key (siblings 2 and 7 tie by
    construction).  Oracle replays the ranking with a row_number
    window."""
    from pg_pb3_ld_spark.functions.textops import preference_pairs

    return preference_pairs(_branch_turns(spark, sf_dir))


def q_transcript_best_path(spark, sf_dir):
    """Best-trajectory selection (round 5) — rejection sampling over
    regenerated conversation trees: per conversation, keep the
    root→leaf path with the maximum total turn score (ties → min
    leaf).  The path score rides the pointer-doubling state itself
    (one extra long folded per round — no explode-and-rejoin), and
    the winner uses the SortAggregate-proof two-pass ranking.  The
    DuckDB oracle walks every path with a score-accumulating
    recursive CTE and ranks with row_number."""
    from pg_pb3_ld_spark.functions.textops import best_paths

    return best_paths(_branch_turns(spark, sf_dir))


def q_transcript_tree_sft(spark, sf_dir):
    """Tree-to-SFT capstone (round 5) — the transcripts-axis
    integration query: branched conversation trees → best-trajectory
    selection (score-folded pointer doubling + two-pass ranking) →
    the winning path linearized (posexplode of the path string,
    turn join on (conv, node)) → chat-template rendering (exact
    byte digest) → portable md5 train/val/test split.  Every stage
    is an already-oracle-proven component; the composed DuckDB oracle
    re-derives the rendered digest and split per conversation."""
    from pg_pb3_ld_spark.functions.textops import best_paths, render_chat

    turns = _branch_turns(spark, sf_dir)
    best = best_paths(turns)
    steps = best.select(
        "conv_id", "leaf_id", "total_score",
        F.posexplode(F.split("path", "/")).alias("pos", "_n"),
    ).select(
        "conv_id", "leaf_id", "total_score", "pos",
        F.col("_n").cast("long").alias("node_id"),
    )
    lin = steps.join(turns.select("conv_id", "node_id", "role", "text"),
                     ["conv_id", "node_id"])
    rendered = render_chat(lin, turn_col="pos")
    b = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("conv_id").cast("string")), 1, 15),
            16, 10,
        ).cast("long"),
        F.lit(100),
    )
    return (
        rendered.join(
            best.select("conv_id", "leaf_id", "total_score"), "conv_id"
        )
        .select(
            "conv_id", "leaf_id", "total_score", "n_turns",
            "rendered_chars", "digest",
            F.when(b < 90, "train").when(b < 95, "val")
            .otherwise("test").alias("split"),
        )
    )


def q_transcript_win_matrix(spark, sf_dir):
    """Head-to-head win-rate matrix (round 5) — the eval report next
    to the Bradley-Terry fit: per unordered policy pair, wins each
    way + the floor-truncated win rate.  ONE map-side-combining hash
    agg on the canonical (min, max) key; output ≤ k(k−1)/2 rows
    regardless of corpus size."""
    from pg_pb3_ld_spark.functions.preference import win_matrix
    from pg_pb3_ld_spark.functions.textops import preference_pairs

    pairs = preference_pairs(_branch_turns(spark, sf_dir)).select(
        (F.col("chosen_id") % 3).cast("int").alias("winner_model"),
        (F.col("rejected_id") % 3).cast("int").alias("loser_model"),
    )
    return win_matrix(pairs)


def q_transcript_context_fit(spark, sf_dir):
    """Context-window fitting (round 5): keep every system turn plus
    the longest turn-SUFFIX whose token total fits the remaining
    budget — the standard truncate-from-the-front chat policy,
    preserving turn boundaries (vs ``doc_pack_chunks`` which packs
    documents ACROSS boundaries).  One conv_id exchange shared by
    both window passes.  Conversations are documents grouped 10 turns
    each (turn 0 = system); budget 300 tokens exercises full-fit,
    truncated, and system-only outcomes at sf0.01."""
    from pg_pb3_ld_spark.functions.textops import context_fit

    d = F.col("doc_id")
    slot = (d % 10).cast("int")
    turns = _documents(spark, sf_dir).select(
        (d / 10).cast("long").alias("conv_id"),
        slot.alias("turn_idx"),
        F.when(slot == 0, "system")
        .when(slot % 2 == 1, "user")
        .otherwise("assistant")
        .alias("role"),
        F.size(F.split(F.col("text"), " ")).cast("long")
        .alias("n_tokens"),
    )
    return context_fit(turns, budget=300)


def q_cdc_shard_refresh(spark, sf_dir):
    """Incremental export maintenance (round 5) — the CDC-to-corpus
    glue: a THREE-batch replay through a changelog store, an export
    conceptually taken at snapshot 2, then `read_changes` since that
    snapshot drives `layout.shard_refresh_plan`: which md5-portable
    export shards are stale, the INSERT/UPDATE/DELETE counts each must
    apply, and its post-refresh row count — re-export only the stale
    shards, never the corpus.  DuckDB independently derives batch 3's
    exact CDF classification against the post-batch-2 state AND the
    final live table, so a wrong classification, a missed delete, or
    a misplaced shard all hash-mismatch."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.functions.layout import shard_refresh_plan
    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    row = ev.agg(
        F.floor(F.max("event_id") / 3).cast("long").alias("c1"),
        F.floor(F.max("event_id") * 2 / 3).cast("long").alias("c2"),
    ).collect()[0]
    c1, c2 = row["c1"], row["c2"]

    root = tempfile.mkdtemp(prefix="pb3ld_refresh_")
    try:
        store = SnapshotStore.create(
            spark, root, transcripts_schema(), num_buckets=8,
            bucket_fn="md5", changelog=True,
        )
        store.merge(_fold_event_batch(ev, -1, c1), batch_id=1)
        store.merge(_fold_event_batch(ev, c1, c2), batch_id=2)
        export_snap = store.snapshot_id
        store.merge(_fold_event_batch(ev, c2, 1 << 62), batch_id=3)
        store.refresh()
        changes = store.read_changes(since_snapshot=export_snap)
        return shard_refresh_plan(
            changes, store.read_table(), "conv_id", 8
        ).orderBy("shard").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_transcript_bt_ratings(spark, sf_dir):
    """Bradley-Terry policy ratings (round 5) — the reward-modeling
    half of the RLHF loop, downstream of ``preference_pairs``: each
    assistant sibling's generation policy is its node_id mod 3, and
    the pairwise integer-exact GD fit (8 iters, lr 2.0, hard-sigmoid
    surrogate, quantized-bigint gradients — the pairwise sibling of
    the quality classifier) recovers one strength per policy,
    bit-identical under any partitioning.  The DuckDB oracle replays
    the ENTIRE unrolled trajectory."""
    from pg_pb3_ld_spark.functions.preference import bt_ratings
    from pg_pb3_ld_spark.functions.textops import preference_pairs

    pairs = preference_pairs(_branch_turns(spark, sf_dir)).select(
        (F.col("chosen_id") % 3).cast("int").alias("winner_model"),
        (F.col("rejected_id") % 3).cast("int").alias("loser_model"),
    )
    return bt_ratings(pairs, 3, n_iters=8, lr=2.0)


def q_doc_pseudonymize(spark, sf_dir):
    """Keyed pseudonymization (round 5 compliance family): replace a
    subject identifier with a stable md5-keyed token AND scrub its
    prose mentions with the same token — referential integrity across
    the column and the text, portable to any md5-capable engine.
    Authors are synthesized fixed-width ('user' + 2-digit pad, so no
    prefix collisions); body embeds the author twice.  Pure codegen
    projection (plan-audited: no shuffle, no Python)."""
    from pg_pb3_ld_spark.functions.compliance import pseudonymize

    d = _documents(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("user"),
            F.lpad((F.col("doc_id") % 37).cast("string"), 2, "0"),
        ).alias("author"),
        "text",
    ).select(
        "doc_id",
        "author",
        F.concat(
            F.lit("by "), F.col("author"), F.lit(": "),
            F.substring(F.col("text"), 1, 40),
        ).alias("body"),
    )
    out = pseudonymize(d, "author", "pb3ld-demo-key", text_cols=("body",))
    return out.select(
        "doc_id",
        F.col("author").alias("author_token"),
        F.col("body").alias("scrubbed_body"),
    )


def q_cdc_erasure(spark, sf_dir):
    """Right-to-be-forgotten through the REAL store (round 5
    compliance family): a two-batch replay through SnapshotStore.merge
    builds the live state, then an OUT-OF-BAND erasure request (every
    live conv whose portable md5 value ≡ 0 mod 4 — no CDC delete in
    the stream) is discharged by compliance.erase_subjects: the DELETE
    batch is synthesized from the store's own resolved state and
    merged as one ordinary atomic, watermark-advancing, changelog-
    visible commit.  Output = the per-export-shard invalidation
    report (which shards of an 8-shard corpus export must be rebuilt,
    and what remains), with purged counts read from the PRE-erasure
    snapshot via time travel and remaining counts from the REAL
    post-erasure store — if the erasure missed or over-deleted
    anything, the DuckDB oracle's independently derived counts
    hash-mismatch."""
    import shutil
    import tempfile

    from pg_pb3_ld_spark.functions.compliance import (
        erase_subjects,
        shard_invalidation,
    )
    from pg_pb3_ld_spark.schema import transcripts_schema
    from pg_pb3_ld_spark.sinks.store import SnapshotStore

    ev = _events(spark, sf_dir)
    cutoff = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long").alias("c")
    ).collect()[0]["c"]

    root = tempfile.mkdtemp(prefix="pb3ld_erasure_")
    try:
        store = SnapshotStore.create(
            spark, root, transcripts_schema(), num_buckets=8,
            bucket_fn="md5",
        )
        store.merge(_fold_event_batch(ev, -1, cutoff), batch_id=1)
        store.merge(_fold_event_batch(ev, cutoff, 1 << 62), batch_id=2)
        pre_id = store.snapshot_id
        md5i = F.conv(
            F.substring(F.md5(F.col("conv_id")), 1, 15), 16, 10
        ).cast("long")
        subjects = (
            store.read_table()
            .where(F.pmod(md5i, F.lit(4)) == 0)
            .select("conv_id")
            .distinct()
        )
        erase_subjects(store, subjects, batch_id=3)
        store.refresh()
        pre = store.read(as_of=pre_id).drop("_bucket")
        purged = pre.join(F.broadcast(subjects), "conv_id")
        remaining = store.read_table()
        return shard_invalidation(
            purged, remaining, "conv_id", 8
        ).orderBy("shard").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_doc_vocab_growth(spark, sf_dir):
    """Vocabulary-growth (Heaps-law) curve (round 5) — tokenizer and
    corpus planning needs "how fast does the type inventory grow as
    docs stream in", but cumulative-distinct is unshardable if asked
    naively.  The Spark-first reduction: a token's contribution to
    the curve is fully determined by its FIRST occurrence, so one
    token-keyed min(doc_id) HashAggregate (map-side combined)
    collapses the corpus to |vocab| rows, deciles of the doc_id range
    bucket those first occurrences, and the cumulation runs over a
    10-row relation (window cost is bounded BY CONSTRUCTION, not by
    data size).  The synthetic corpus has only 31 base types (all
    first-seen in decile 0), so a rare type ``u<doc_id//7>`` is
    injected per doc to spread first occurrences across the whole
    range — disclosed fixture shaping, replayed by the oracle.
    DuckDB replays first-occurrences, deciles, and the running
    sum."""
    from pg_pb3_ld_spark.functions.textops import tokens

    docs = _documents(spark, sf_dir)
    mx = int(docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"])
    rare = F.concat(
        F.lit("u"), F.floor(F.col("doc_id") / 7).cast("long").cast("string")
    )
    first = (
        docs.select(
            "doc_id",
            F.explode(
                F.concat(tokens(F.col("text")), F.array(rare))
            ).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    decile = F.least(
        F.lit(9), F.floor(F.col("first_doc") * 10 / (mx + 1))
    ).cast("int")
    per = first.groupBy(decile.alias("decile")).agg(
        F.count(F.lit(1)).alias("new_types")
    )
    w = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "decile",
        "new_types",
        F.sum("new_types").over(w).cast("long").alias("cum_types"),
    )


def q_doc_pack_chunks(spark, sf_dir):
    """Concat-and-chunk sequence packing (round 5): shard =
    doc_id%8, docs laid head-to-tail in doc_id order per shard,
    token stream cut every 512 tokens — each doc's span and chunk
    range.  One per-shard window (the shard is the parallel unit at
    scale); oracle replays the identical cumulative sum in SQL."""
    from pg_pb3_ld_spark.functions.textops import pack_sequences, tokens

    base = _documents(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )
    return pack_sequences(base, budget=512)


def q_corpus_train_shards(spark, sf_dir):
    """Training-shard build capstone (the LAST mile of the pipeline,
    beside corpus_build_funnel's curation and transcript_tree_sft's
    rendering): train split → real BPE encode (trained merges, exact
    per-doc token counts) → portable md5 shard assignment → GPT-style
    concat-and-chunk packing into 512-token sequences per shard.
    Every stage is an already-oracle-proven component
    (doc_train_test_split, doc_bpe_tokenize, doc_export_manifest's
    shard_key, doc_pack_chunks); the capstone pins their COMPOSITION:
    each training document's shard, its exact BPE token count, and
    the precise chunk span it occupies in its shard's token stream.
    Scale shape: tokenizer training collapses to the vocab-sized
    word table, encoding is a pure codegen projection, the split and
    shard keys are stateless maps, and packing is one window per
    md5-balanced shard partition — no global order anywhere."""
    from pg_pb3_ld_spark.functions import bpe
    from pg_pb3_ld_spark.functions.layout import shard_key
    from pg_pb3_ld_spark.functions.textops import pack_sequences

    docs = _documents(spark, sf_dir)
    merges = bpe.train_from_corpus(docs, _BPE_MERGES)
    b = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16, 10,
        ).cast("long"),
        F.lit(100),
    )
    train = docs.where(b < 90)
    enc = bpe.encode_docs(train, merges)
    base = enc.select(
        "doc_id",
        shard_key(F.col("doc_id"), 8).alias("shard"),
        F.col("n_bpe_tokens").cast("long").alias("n_tokens"),
    )
    return pack_sequences(base, budget=512)


def q_gif_frame_sample(spark, sf_dir):
    """REAL animated-GIF path end-to-end (round 5): per doc,
    synthesize a 4-frame 16×8 GIF (two vertical halves with palette
    indices (d+f)%8 and (d+2f+1)%8, palette channel values linear in
    the index), encode with the engine's real LZW writer, decode
    through the full GIF parser (LZW, palette, compositing) and emit
    per-frame channel means.  GIF is lossless, so the oracle derives
    every mean arithmetically: mean_c = (pal[a][c]+pal[b][c])//2."""
    import numpy as np
    import pandas as pd

    from pg_pb3_ld_spark.functions.gif import encode_gif, gif_frame_sample

    ids = _documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 150
    )
    pal = np.array(
        [[i * 30, 200 - i * 20, i * 10 + 3] for i in range(8)],
        dtype=np.uint8,
    )

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = []
                for f in range(4):
                    fr = np.empty((8, 16), dtype=np.uint8)
                    fr[:, :8] = (did + f) % 8
                    fr[:, 8:] = (did + 2 * f + 1) % 8
                    frames.append(fr)
                blobs.append(encode_gif(frames, pal, delay_cs=5))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = ids.mapInPandas(gen, "media_id long, blob binary")
    out = gif_frame_sample(blobs)
    return out.where(F.col("error").isNull()).select(
        "media_id", "frame_idx", "width", "height", "delay_cs",
        "mean_r", "mean_g", "mean_b",
    )


def q_audio_flac_frame_sample(spark, sf_dir):
    """REAL FLAC path end-to-end (round 5): per doc, synthesize a
    deterministic int16 waveform s[n] = ((doc_id·13 + 7n) mod 4001)
    − 2000 (n < 2048), encode it with the engine's spec-conformant
    FLAC writer (FIXED predictors + Rice residuals, blocksize 512),
    decode through the full FLAC frame parser (sync/CRC-8/CRC-16,
    subframes, Rice partitions) and emit exact per-frame integer
    stats.  FLAC is LOSSLESS, so the oracle re-derives every stat
    arithmetically in SQL — the check spans encoder, container walk,
    entropy decode, and prediction reconstruction."""
    import numpy as np
    import pandas as pd

    from pg_pb3_ld_spark.functions.flac import encode_flac, flac_frame_sample

    ids = _documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 200
    )

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = np.arange(2048, dtype=np.int64)
                pcm = ((did * 13 + 7 * n) % 4001) - 2000
                blobs.append(encode_flac(pcm, 16000, blocksize=512))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = ids.mapInPandas(gen, "media_id long, blob binary")
    out = flac_frame_sample(blobs)
    return out.where(F.col("error").isNull()).select(
        "media_id", "frame_idx", "n_samples", "n_channels",
        "sum_abs", "max_s", "min_s",
    )


def q_doc_pii_scrub(spark, sf_dir):
    """PII redaction (round 5): regex scrub of emails/IPv4s/SSNs/
    phones with typed placeholders + per-category counts — the
    compliance staple of web training pipelines.  Pure per-row
    Catalyst projection (whole-stage codegen, no shuffle); the
    oracle re-derives counts AND the full scrubbed string
    arithmetically from doc_id, so a regex that over- or
    under-matches fails the hash."""
    from pg_pb3_ld_spark.functions.textops import pii_scrub

    return pii_scrub(_augmented_pii_docs(spark, sf_dir))


def q_doc_domain_stats(spark, sf_dir):
    """URL-domain census (round 5): extract every http(s) URL,
    aggregate (domain → n_urls, n_docs) — the pre-filter census for
    domain-level sampling.  One explode + stacked hash aggs with
    map-side combine; oracle derives the census arithmetically from
    the injected URL tails."""
    from pg_pb3_ld_spark.functions.textops import domain_stats

    base = _documents(spark, sf_dir)
    docs = base.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/p"), F.col("doc_id").cast("string"),
            F.lit(" and http://cdn"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".example.net/x.js"),
        ).alias("text"),
    )
    return domain_stats(docs)


def q_video_frame_sample(spark, sf_dir):
    """REAL video-container path end-to-end (round 5): synthesize an
    AVI-MJPEG blob per doc (8 frames, 16×16, four flat 8×8 blocks
    with value (doc_id·7 + frame·31 + block·50) mod 256, all-ones
    quant table), then RIFF-walk the container → sample 4 equally-
    spaced frames → decode each through the REAL JPEG entropy/IDCT
    path → per-frame features.  Flat blocks with q=1 are DC-only and
    round-trip EXACTLY, so the oracle recomputes every decoded pixel
    arithmetically in SQL — the check spans container walk + Huffman
    decode + dequant + IDCT + feature extraction."""
    import numpy as np
    import pandas as pd

    from pg_pb3_ld_spark.functions.video import (
        encode_avi_mjpeg, encode_jpeg_gray_flat, sample_video_frames,
    )

    ids = _documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 150
    )

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = []
                for f in range(8):
                    bv = np.array([
                        [(did * 7 + f * 31) % 256,
                         (did * 7 + f * 31 + 50) % 256],
                        [(did * 7 + f * 31 + 100) % 256,
                         (did * 7 + f * 31 + 150) % 256],
                    ])
                    frames.append(encode_jpeg_gray_flat(bv))
                blobs.append(encode_avi_mjpeg(frames, 16, 16, rate=4))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = ids.mapInPandas(gen, "media_id long, blob binary")
    out = sample_video_frames(blobs, n_frames=4)
    return out.where(F.col("error").isNull()).select(
        "media_id", "frame_idx", "t_ms", "width", "height",
        "mean_pixel", "corner00",
    )


def q_video_mp4_frame_sample(spark, sf_dir):
    """REAL ISO-BMFF (MP4) path end-to-end (round 5): synthesize an
    MJPEG-in-MP4 blob per doc (10 frames, 16×16, four flat 8×8 blocks
    valued (doc_id·11 + frame·29 + block·40) mod 256, 3 samples per
    chunk so the stsc table has TWO runs), then walk the real sample
    tables (stsc × stsz × stco, stts timing) → sample 4 equally-
    spaced frames → decode through the real JPEG path.  Flat DC-only
    blocks round-trip exactly, so the oracle recomputes every decoded
    pixel arithmetically — the check spans box tree, sample-table
    reconstruction, Huffman decode, IDCT, and timing math."""
    import numpy as np
    import pandas as pd

    from pg_pb3_ld_spark.functions.mp4 import (
        encode_mp4_mjpeg, sample_mp4_frames,
    )
    from pg_pb3_ld_spark.functions.video import encode_jpeg_gray_flat

    ids = _documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 150
    )

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = []
                for f in range(10):
                    bv = np.array([
                        [(did * 11 + f * 29) % 256,
                         (did * 11 + f * 29 + 40) % 256],
                        [(did * 11 + f * 29 + 80) % 256,
                         (did * 11 + f * 29 + 120) % 256],
                    ])
                    frames.append(encode_jpeg_gray_flat(bv))
                blobs.append(encode_mp4_mjpeg(frames, 16, 16))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "blob": blobs}
            )

    blobs = ids.mapInPandas(gen, "media_id long, blob binary")
    out = sample_mp4_frames(blobs, n_frames=4)
    return out.where(F.col("error").isNull()).select(
        "media_id", "frame_idx", "t_ms", "width", "height",
        "mean_pixel", "corner00",
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_last_wins": q_dedup_last_wins,
    "txn_assembly": q_txn_assembly,
    "ordered_replay": q_ordered_replay,
    "watermark_filter": q_watermark_filter,
    "merge_upsert_effect": q_merge_upsert_effect,
    "partial_update_coalesce": q_partial_update_coalesce,
    "key_extraction": q_key_extraction,
    "change_type_dispatch": q_change_type_dispatch,
    "empty_txn_suppression": q_empty_txn_suppression,
    "cdc_lineage": q_cdc_lineage,
    "cdc_batch_metrics": q_cdc_batch_metrics,
    "cdc_changelog": q_cdc_changelog,
    "cdc_incremental_agg": q_cdc_incremental_agg,
    "cdc_snapshot_diff": q_cdc_snapshot_diff,
    "cdc_scd2": q_cdc_scd2,
    "event_sessionize": q_event_sessionize,
    "event_window_agg": q_event_window_agg,
    "event_asof_join": q_event_asof_join,
    "event_interval_join": q_event_interval_join,
    "doc_bm25_topk": q_doc_bm25_topk,
    "doc_zorder_key": q_doc_zorder_key,
    "ann_pq_topk": q_ann_pq_topk,
    "event_bloom_prune": q_event_bloom_prune,
    "domain_pagerank": q_domain_pagerank,
    "event_quantiles": q_event_quantiles,
    "event_distinct_sketch": q_event_distinct_sketch,
    "event_cms_counts": q_event_cms_counts,
    "doc_weighted_sample": q_doc_weighted_sample,
    "cdc_multi_table": q_cdc_multi_table,
    "cdc_consistent_cut": q_cdc_consistent_cut,
    "cdc_store_audit": q_cdc_store_audit,
    "cdc_rebucket": q_cdc_rebucket,
    "cdc_mor_apply": q_cdc_mor_apply,
    "cdc_bootstrap": q_cdc_bootstrap,
    "doc_decontaminate": q_doc_decontaminate,
    "doc_decontaminate_bloom": q_doc_decontaminate_bloom,
    "doc_span_dedup": q_doc_span_dedup,
    "doc_exact_dedup": q_doc_exact_dedup,
    "doc_token_stats": q_doc_token_stats,
    "doc_minhash_lsh": q_doc_minhash_lsh,
    "doc_minhash_lsh_capped": q_doc_minhash_lsh_capped,
    "lsh_dropped_buckets": q_lsh_dropped_buckets,
    "doc_neardup_clusters": q_doc_neardup_clusters,
    "doc_split_leakage": q_doc_split_leakage,
    "doc_simhash": q_doc_simhash,
    "doc_ngram_jaccard": q_doc_ngram_jaccard,
    "doc_lang_id": q_doc_lang_id,
    "doc_regex_tokens": q_doc_regex_tokens,
    "emb_neardup_clusters": q_emb_neardup_clusters,
    "doc_quality": q_doc_quality,
    "doc_lm_ppl": q_doc_lm_ppl,
    "doc_stratified_sample": q_doc_stratified_sample,
    "doc_incremental_dedup": q_doc_incremental_dedup,
    "doc_incremental_neardup": q_doc_incremental_neardup,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_sq8_topk": q_ann_sq8_topk,
    "emb_decontaminate": q_emb_decontaminate,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "ann_banded_topk": q_ann_banded_topk,
    "ann_recall10": q_ann_recall10,
    "ann_knn_label_vote": q_ann_knn_label_vote,
    "multimodal_features": q_multimodal_features,
    "media_resize": q_media_resize,
    "audio_frame_sample": q_audio_frame_sample,
    "audio_ulaw_frame_sample": q_audio_ulaw_frame_sample,
    "video_frame_sample": q_video_frame_sample,
    "image_dhash": q_image_dhash,
    "image_neardup": q_image_neardup,
    "image_neardup_clusters": q_image_neardup_clusters,
    "audio_fingerprint": q_audio_fingerprint,
    "audio_neardup": q_audio_neardup,
    "video_mp4_frame_sample": q_video_mp4_frame_sample,
    "doc_novelty": q_doc_novelty,
    "doc_repetition": q_doc_repetition,
    "doc_pii_scrub": q_doc_pii_scrub,
    "doc_domain_stats": q_doc_domain_stats,
    "audio_flac_frame_sample": q_audio_flac_frame_sample,
    "gif_frame_sample": q_gif_frame_sample,
    "transcript_render": q_transcript_render,
    "transcript_qa": q_transcript_qa,
    "transcript_boilerplate": q_transcript_boilerplate,
    "transcript_tool_flow": q_transcript_tool_flow,
    "transcript_branch_paths": q_transcript_branch_paths,
    "transcript_pref_pairs": q_transcript_pref_pairs,
    "doc_pseudonymize": q_doc_pseudonymize,
    "cdc_erasure": q_cdc_erasure,
    "transcript_bt_ratings": q_transcript_bt_ratings,
    "cdc_shard_refresh": q_cdc_shard_refresh,
    "transcript_context_fit": q_transcript_context_fit,
    "transcript_best_path": q_transcript_best_path,
    "transcript_win_matrix": q_transcript_win_matrix,
    "transcript_tree_sft": q_transcript_tree_sft,
    "doc_pack_chunks": q_doc_pack_chunks,
    "corpus_train_shards": q_corpus_train_shards,
    "doc_vocab_growth": q_doc_vocab_growth,
    "doc_train_test_split": q_doc_train_test_split,
    "doc_bpe_merges": q_doc_bpe_merges,
    "doc_bpe_tokenize": q_doc_bpe_tokenize,
    "doc_mixture_sample": q_doc_mixture_sample,
    "doc_mixture_summary": q_doc_mixture_summary,
    "cdc_schema_widening": q_cdc_schema_widening,
    "cdc_quarantine": q_cdc_quarantine,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_ivf_recall10": q_ann_ivf_recall10,
    "ann_ivf_kmeans_centroids": q_ann_ivf_kmeans_centroids,
    "emb_hard_negatives": q_emb_hard_negatives,
    "emb_hard_negatives_dropped": q_emb_hard_negatives_dropped,
    "emb_semdedup": q_emb_semdedup,
    "emb_semdedup_dropped": q_emb_semdedup_dropped,
    "doc_export_manifest": q_doc_export_manifest,
    "doc_quality_logreg": q_doc_quality_logreg,
    "corpus_build_funnel": q_corpus_build_funnel,
    "video_scene_cuts": q_video_scene_cuts,
    "audio_segments": q_audio_segments,
    "doc_overlap_chunks": q_doc_overlap_chunks,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


_SHINGLE_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh_lists AS (
        SELECT doc_id,
               list_transform(range(1, len(t) - 1),
                   i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS s
        FROM toks WHERE len(t) >= 3
    )
"""

# skewed-corpus variant of _SHINGLE_CTE (same token/shingle semantics,
# text overridden for doc_id % 3 == 0 — must mirror _skewed_documents)
_SKEW_SHINGLE_CTE = """
    sdocs AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'na na na na na na'
                    ELSE text END AS text
        FROM documents
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM sdocs),
    sh_lists AS (
        SELECT doc_id,
               list_transform(range(1, len(t) - 1),
                   i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS s
        FROM toks WHERE len(t) >= 3
    ),
    skew_sig AS (
        SELECT doc_id,
          list_min(list_transform(s, x -> substr(md5(x), 1, 8))) AS mh0,
          list_min(list_transform(s, x -> substr(md5(x), 9, 8))) AS mh1,
          list_min(list_transform(s, x -> substr(md5(x), 17, 8))) AS mh2,
          list_min(list_transform(s, x -> substr(md5(x), 25, 8))) AS mh3
        FROM sh_lists
    ),
    skew_bands AS (
        SELECT 0 AS band_id, mh0 AS bk, doc_id FROM skew_sig
        UNION ALL SELECT 1, mh1, doc_id FROM skew_sig
        UNION ALL SELECT 2, mh2, doc_id FROM skew_sig
        UNION ALL SELECT 3, mh3, doc_id FROM skew_sig
    ),
    bsz AS (
        SELECT band_id, bk, count(*) AS c
        FROM skew_bands GROUP BY band_id, bk
    )
"""

_COS = """
    list_sum(list_transform(range(1, len(e.embedding) + 1),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform(range(1, len(q.q) + 1),
          i -> CAST(q.q[i] AS DOUBLE) * CAST(q.q[i] AS DOUBLE)))))
"""

_STOP = {
    "en": "('the','a','and','of','to','in','is','it')",
    "es": "('el','la','de','que','y','en','un','es')",
    "fr": "('le','la','de','et','un','une','est','les')",
    "de": "('der','die','das','und','ist','ein','zu','den')",
}


def _extra_oracles() -> dict[str, str]:
    simhash_bits = ",\n".join(
        "CASE WHEN sum(CASE WHEN substr(md5(tok), {j}, 1) >= '8' "
        "THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END".format(j=j + 1)
        for j in range(16)
    )
    ratio = {
        lang: (
            "floor(len(list_filter(string_split(text,' '), "
            f"x -> x IN {_STOP[lang]})) "
            "/ greatest(len(string_split(text,' ')), 1) * 10000) / 10000"
        )
        for lang in ("en", "es", "fr", "de")
    }
    g = "greatest(r_en, r_es, r_fr, r_de)"
    sign_bits = ", ".join(
        f"CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END"
        for i in range(1, 9)
    )
    # 4 hash tables × 16 sign bits → int bucket key per table
    def _bucket_sum(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN embedding[{t * 6 + i + 1}] >= 0 "
            f"THEN {2 ** i} ELSE 0 END)"
            for i in range(6)
        )

    banded_bb = "\nUNION ALL ".join(
        f"SELECT vec_id, {t} AS table_id, {_bucket_sum(t)} AS bucket "
        f"FROM embeddings"
        for t in range(8)
    )
    _BANDED_CTES = f"""
            bb AS ({banded_bb}),
            qb AS (
                SELECT vec_id AS query_id, table_id, bucket
                FROM bb WHERE vec_id < 5
            ),
            cand AS (
                SELECT DISTINCT qb.query_id, bb.vec_id
                FROM bb JOIN qb USING (table_id, bucket)
                WHERE bb.vec_id != qb.query_id
            ),
            qv AS (
                SELECT vec_id AS qid, embedding AS q
                FROM embeddings WHERE vec_id < 5
            ),
            scored AS (
                SELECT c.query_id, c.vec_id, {_COS} AS cs
                FROM cand c
                JOIN embeddings e ON e.vec_id = c.vec_id
                JOIN qv q ON q.qid = c.query_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cs DESC, vec_id
                ) AS rn FROM scored
            )
    """
    def _cos2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) "
            f"/ (sqrt(list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)))) "
            f"* sqrt(list_sum(list_transform(range(1, len({b}) + 1), "
            f"i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))))"
        )

    # mirrors ann.ivf_assign's packed-bigint argmax: cosine quantized
    # at 2^-40, ties to lowest list_id (deterministic on both engines)
    def _asg_key(cos: str) -> str:
        return (
            f"CAST(round(({cos}) * 1099511627776.0) AS BIGINT) "
            f"* 2097152 + (1048576 - list_id)"
        )

    ivf_ctes = f"""cents AS (
            SELECT CAST(vec_id / 50 AS INT) AS list_id, embedding AS c
            FROM embeddings WHERE vec_id % 50 = 0
        ),
        asg AS (
            SELECT vec_id, list_id FROM (
                SELECT e.vec_id, cents.list_id, ROW_NUMBER() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY {_asg_key(_cos2('e.embedding', 'cents.c'))}
                             DESC
                ) AS arn
                FROM embeddings e, cents
            ) WHERE arn = 1
        ),
        qv AS (
            SELECT vec_id AS query_id, embedding AS q
            FROM embeddings WHERE vec_id IN (1, 2, 3, 4, 5)
        ),
        qprobe AS (
            SELECT query_id, list_id FROM (
                SELECT qv.query_id, cents.list_id, ROW_NUMBER() OVER (
                    PARTITION BY qv.query_id
                    ORDER BY {_cos2('qv.q', 'cents.c')} DESC, cents.list_id
                ) AS prn
                FROM qv, cents
            ) WHERE prn <= 2
        ),
        cand AS (
            SELECT qprobe.query_id, asg.vec_id
            FROM qprobe JOIN asg USING (list_id)
            WHERE asg.vec_id != qprobe.query_id
        ),
        scored AS (
            SELECT c.query_id, c.vec_id, {_COS} AS cs
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN qv q ON q.query_id = c.query_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cs DESC, vec_id
            ) AS rn FROM scored
        )"""

    ivf_sql = f"""
        WITH {ivf_ctes}
        SELECT query_id, rn, vec_id, round(cs, 4) AS cos_sim
        FROM ranked WHERE rn <= 10
    """

    # hard-negative mining: same every-50th quantizer + packed-argmax
    # assignment as ivf_sql, then same-list different-label pairs,
    # cap-55 list filter, per-anchor top-5 by (cosine DESC, neg_id)
    hn_sql = f"""
        WITH cents AS (
            SELECT CAST(vec_id / 50 AS INT) AS list_id, embedding AS c
            FROM embeddings WHERE vec_id % 50 = 0
        ),
        asg AS (
            SELECT vec_id, list_id FROM (
                SELECT e.vec_id, cents.list_id, ROW_NUMBER() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY {_asg_key(_cos2('e.embedding', 'cents.c'))}
                             DESC
                ) AS arn
                FROM embeddings e, cents
            ) WHERE arn = 1
        ),
        kept AS (
            SELECT a.vec_id, a.list_id FROM asg a
            JOIN (
                SELECT list_id FROM asg
                GROUP BY list_id HAVING count(*) <= 55
            ) s USING (list_id)
        ),
        feat AS (
            SELECT k.vec_id, k.list_id, e.embedding, e.label
            FROM kept k JOIN embeddings e USING (vec_id)
        ),
        hn_pairs AS (
            SELECT a.vec_id, b.vec_id AS neg_id, b.label AS neg_label,
                   {_cos2('a.embedding', 'b.embedding')} AS cs
            FROM feat a JOIN feat b
              ON a.list_id = b.list_id
             AND a.vec_id != b.vec_id
             AND a.label != b.label
        ),
        hn_ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cs DESC, neg_id
            ) AS rn
            FROM hn_pairs WHERE cs IS NOT NULL
        )
        SELECT vec_id, rn, neg_id, neg_label, round(cs, 4) AS cos_sim
        FROM hn_ranked WHERE rn <= 5
    """
    # Unrolled fixed-iteration Lloyd's (mirrors ann.kmeans_centroids):
    # quantize → [assign → exact bigint-mean → rebuild list]×n_iters.
    # Exactness hangs on the means being integer sums / counts — the
    # only float ops are the final division and the cosine, both
    # deterministic per-row expressions on both engines.
    def _kmeans_ctes(n_iters: int) -> tuple[str, str]:
        ctes = """km_qbase AS (
            SELECT vec_id, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
            FROM embeddings
        ),
        km_c0 AS (
            SELECT CAST(vec_id / 50 AS INT) AS list_id,
                   list_transform(qv, x -> CAST(x AS DOUBLE)) AS c
            FROM km_qbase WHERE vec_id % 50 = 0
        )"""
        prev = "km_c0"
        for it in range(1, n_iters + 1):
            ctes += f""",
        km_a{it} AS (
            SELECT vec_id, list_id FROM (
                SELECT q.vec_id, p.list_id, ROW_NUMBER() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY {_asg_key(_cos2('q.qv', 'p.c'))} DESC
                ) AS rn
                FROM km_qbase q, {prev} p
            ) WHERE rn = 1
        ),
        km_m{it} AS (
            SELECT a.list_id, t.i AS dim,
                   CAST(SUM(q.qv[t.i]) AS DOUBLE) / COUNT(*) AS val
            FROM km_a{it} a JOIN km_qbase q USING (vec_id),
                 UNNEST(range(1, len(q.qv) + 1)) AS t(i)
            GROUP BY a.list_id, t.i
        ),
        km_n{it} AS (
            SELECT list_id, list(val ORDER BY dim) AS c
            FROM km_m{it} GROUP BY list_id
        ),
        km_c{it} AS (
            SELECT p.list_id, coalesce(n.c, p.c) AS c
            FROM {prev} p LEFT JOIN km_n{it} n USING (list_id)
        )"""
            prev = f"km_c{it}"
        return ctes, prev

    # PQ oracle: per-subspace sliced kmeans (1 iter) → encode all →
    # LUT of query-subvector · centroid dots quantized at 2^-20 →
    # exact bigint ADC sum → ranked top-10.  Mirrors ann.pq_topk with
    # m=4, ksub=8, init_step=62 (subspace slice j covers dims
    # [16j+1, 16j+16] of the 64-dim embeddings).
    def _pq_ctes() -> str:
        m, sub_len, step, ksub = 4, 16, 62, 8
        parts = []
        for j in range(m):
            lo = j * sub_len + 1
            hi = lo + sub_len - 1
            parts.append(f"""pq_qb{j} AS (
            SELECT vec_id, list_transform(
                list_slice(embedding, {lo}, {hi}),
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
            ) AS qv
            FROM embeddings
        ),
        pq_c0_{j} AS (
            SELECT CAST(vec_id / {step} AS INT) AS list_id,
                   list_transform(qv, x -> CAST(x AS DOUBLE)) AS c
            FROM pq_qb{j}
            WHERE vec_id % {step} = 0 AND vec_id < {step * ksub}
        ),
        pq_a1_{j} AS (
            SELECT vec_id, list_id FROM (
                SELECT q.vec_id, p.list_id, ROW_NUMBER() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY {_asg_key(_cos2('q.qv', 'p.c'))} DESC
                ) AS rn
                FROM pq_qb{j} q, pq_c0_{j} p
            ) WHERE rn = 1
        ),
        pq_m1_{j} AS (
            SELECT a.list_id, t.i AS dim,
                   CAST(SUM(q.qv[t.i]) AS DOUBLE) / COUNT(*) AS val
            FROM pq_a1_{j} a JOIN pq_qb{j} q USING (vec_id),
                 UNNEST(range(1, len(q.qv) + 1)) AS t(i)
            GROUP BY a.list_id, t.i
        ),
        pq_n1_{j} AS (
            SELECT list_id, list(val ORDER BY dim) AS c
            FROM pq_m1_{j} GROUP BY list_id
        ),
        pq_cb_{j} AS (
            SELECT p.list_id, coalesce(n.c, p.c) AS c
            FROM pq_c0_{j} p LEFT JOIN pq_n1_{j} n USING (list_id)
        ),
        pq_code_{j} AS (
            SELECT vec_id, {j} AS subspace, list_id AS code FROM (
                SELECT q.vec_id, p.list_id, ROW_NUMBER() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY {_asg_key(_cos2('q.qv', 'p.c'))} DESC
                ) AS rn
                FROM pq_qb{j} q, pq_cb_{j} p
            ) WHERE rn = 1
        ),
        pq_lut_{j} AS (
            SELECT q.vec_id AS query_id, {j} AS subspace,
                   p.list_id AS code,
                   CAST(round(list_sum(list_transform(
                       range(1, len(p.c) + 1),
                       i -> CAST(q.sq[i] AS DOUBLE) * p.c[i]
                   )) * 1048576.0) AS BIGINT) AS qdot,
                   CAST(round(list_sum(list_transform(
                       p.c, x -> x * x
                   )) * 1048576.0) AS BIGINT) AS cn2
            FROM (
                SELECT vec_id,
                       list_slice(embedding, {lo}, {hi}) AS sq
                FROM embeddings WHERE vec_id < 3
            ) q, pq_cb_{j} p
        )""")
        unions_code = " UNION ALL ".join(
            f"SELECT * FROM pq_code_{j}" for j in range(m)
        )
        unions_lut = " UNION ALL ".join(
            f"SELECT * FROM pq_lut_{j}" for j in range(m)
        )
        return (
            ",\n        ".join(parts)
            + f""",
        pq_codes AS ({unions_code}),
        pq_lut AS ({unions_lut}),
        pq_scored AS (
            SELECT l.query_id, c.vec_id,
                   CAST(SUM(l.qdot) AS BIGINT) AS adc,
                   CAST(SUM(l.cn2) AS BIGINT) AS n2
            FROM pq_codes c JOIN pq_lut l
              ON c.subspace = l.subspace AND c.code = l.code
            WHERE c.vec_id != l.query_id
            GROUP BY 1, 2
        ),
        pq_ranked AS (
            SELECT *,
                   CAST(adc AS DOUBLE)
                   / sqrt(CAST(n2 AS DOUBLE)) / 1024.0 AS sc,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY CAST(adc AS DOUBLE)
                                / sqrt(CAST(n2 AS DOUBLE)) DESC,
                                vec_id
                   ) AS rn
            FROM pq_scored
        )"""
        )

    pq_sql = f"""
        WITH {_pq_ctes()},
        pq_cand AS (
            SELECT query_id, vec_id FROM pq_ranked WHERE rn <= 50
        ),
        pq_qv AS (
            SELECT vec_id AS qid, embedding AS q
            FROM embeddings WHERE vec_id < 3
        ),
        pq_ex AS (
            SELECT c.query_id, c.vec_id, {_COS} AS cs
            FROM pq_cand c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN pq_qv q ON q.qid = c.query_id
        ),
        pq_rr AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cs DESC, vec_id
            ) AS rrn FROM pq_ex
        )
        SELECT query_id, CAST(rrn AS INT) AS rn, vec_id,
               round(cs, 4) AS cos_sim
        FROM pq_rr WHERE rrn <= 10
    """

    _km_ctes, _km_final = _kmeans_ctes(2)
    kmeans_sql = f"""
        WITH {_km_ctes}
        SELECT list_id, t.i AS dim, round(c[t.i], 6) AS cval
        FROM {_km_final}, UNNEST(range(1, len(c) + 1)) AS t(i)
    """

    ivf_recall_sql = f"""
        WITH {ivf_ctes},
        approx AS (
            SELECT query_id, vec_id FROM ranked WHERE rn <= 10
        ),
        ex_scored AS (
            SELECT q.query_id, e.vec_id, {_COS} AS cs
            FROM embeddings e JOIN qv q ON e.vec_id != q.query_id
        ),
        ex_ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cs DESC, vec_id
            ) AS rn FROM ex_scored
        ),
        exact AS (
            SELECT query_id, vec_id FROM ex_ranked WHERE rn <= 10
        ),
        hits AS (
            SELECT a.query_id, count(*) AS n_hit
            FROM approx a JOIN exact x
              ON a.query_id = x.query_id AND a.vec_id = x.vec_id
            GROUP BY a.query_id
        )
        SELECT q.query_id,
               coalesce(h.n_hit, 0) / 10.0 AS recall_at_10
        FROM (SELECT DISTINCT query_id FROM exact) q
        LEFT JOIN hits h ON h.query_id = q.query_id
    """

    _sd_ctes, _sd_final = _kmeans_ctes(2)
    semdedup_sql = f"""
        WITH RECURSIVE {_sd_ctes},
        sd_asg AS (
            SELECT vec_id, list_id FROM (
                SELECT q.vec_id, p.list_id, ROW_NUMBER() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY {_asg_key(_cos2('q.qv', 'p.c'))} DESC
                ) AS rn
                FROM km_qbase q, {_sd_final} p
            ) WHERE rn = 1
        ),
        sd_sz AS (
            SELECT list_id, count(*) AS n FROM sd_asg GROUP BY list_id
        ),
        sd_m AS (
            SELECT a.vec_id, a.list_id, q.qv
            FROM sd_asg a
            JOIN sd_sz s USING (list_id)
            JOIN km_qbase q USING (vec_id)
            WHERE s.n <= 400
        ),
        sd_edge0 AS (
            SELECT a.vec_id AS ea, b.vec_id AS eb
            FROM sd_m a JOIN sd_m b
              ON a.list_id = b.list_id AND a.vec_id < b.vec_id
            WHERE {_cos2('a.qv', 'b.qv')} >= 0.45
        ),
        sd_edges AS (
            SELECT ea AS a, eb AS b FROM sd_edge0
            UNION ALL SELECT eb, ea FROM sd_edge0
        ),
        sd_reach(src, dst) AS (
            SELECT a, b FROM sd_edges
            UNION
            SELECT r.src, e.b FROM sd_reach r JOIN sd_edges e ON r.dst = e.a
        ),
        sd_comp AS (
            SELECT q.vec_id,
                   least(q.vec_id, coalesce(min(r.dst), q.vec_id))
                       AS cluster_id
            FROM km_qbase q LEFT JOIN sd_reach r ON r.src = q.vec_id
            GROUP BY q.vec_id
        ),
        sd_ck AS (
            SELECT a.vec_id, a.list_id,
                   CAST(round(coalesce({_cos2('q.qv', 'p.c')}, -2.0)
                        * 1099511627776.0) AS BIGINT) AS ck
            FROM sd_asg a
            JOIN km_qbase q ON q.vec_id = a.vec_id
            JOIN {_sd_final} p ON p.list_id = a.list_id
        ),
        sd_min AS (
            SELECT c.cluster_id, min(k.ck) AS mk
            FROM sd_comp c JOIN sd_ck k USING (vec_id)
            GROUP BY c.cluster_id
        ),
        sd_surv AS (
            SELECT c.cluster_id, min(c.vec_id) AS surv
            FROM sd_comp c
            JOIN sd_ck k USING (vec_id)
            JOIN sd_min m ON m.cluster_id = c.cluster_id AND k.ck = m.mk
            GROUP BY c.cluster_id
        )
        SELECT c.vec_id, k.list_id, c.cluster_id,
               (c.vec_id = s.surv) AS keep
        FROM sd_comp c
        JOIN sd_ck k USING (vec_id)
        JOIN sd_surv s ON s.cluster_id = c.cluster_id
    """

    def _logreg_ctes(n_iters: int, lr: float = 0.5) -> tuple[str, str]:
        def z(w: str) -> str:
            return (f"(((({w}.w0 * f0) + ({w}.w1 * f1)) "
                    f"+ ({w}.w2 * f2)) + ({w}.w3 * f3))")

        def p(w: str) -> str:
            return (f"least(greatest((0.25 * {z(w)}) + 0.5, 0.0), 1.0)")

        ctes = """lr_feat AS (
            SELECT doc_id,
                   CAST(2 * len(list_distinct(string_split(text, ' ')))
                        >= len(string_split(text, ' ')) AS INT) AS y,
                   1.0 AS f0,
                   len(string_split(text, ' ')) / 64.0 AS f1,
                   len(list_distinct(string_split(text, ' ')))
                       / CAST(greatest(len(string_split(text, ' ')), 1)
                              AS DOUBLE) AS f2,
                   length(text)
                       / (64.0 * CAST(greatest(
                              len(string_split(text, ' ')), 1)
                          AS DOUBLE)) AS f3
            FROM documents
        ),
        lr_w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
        prev = "lr_w0"
        for it in range(1, n_iters + 1):
            err = f"(CAST(y AS DOUBLE) - {p('w')})"
            gs = ", ".join(
                f"sum(CAST(round(({err} * f{j}) * 1048576.0) AS BIGINT))"
                f" AS g{j}"
                for j in range(4)
            )
            ws = ", ".join(
                f"w.w{j} + ({lr!r} * ((CAST(g.g{j} AS DOUBLE) / 1048576.0)"
                f" / g.n)) AS w{j}"
                for j in range(4)
            )
            ctes += f""",
        lr_g{it} AS (
            SELECT {gs}, count(*) AS n
            FROM lr_feat, {prev} w
        ),
        lr_w{it} AS (
            SELECT {ws} FROM {prev} w, lr_g{it} g
        )"""
            prev = f"lr_w{it}"
        return ctes, prev

    # 8 iterations at lr 2.0 is the first operating point where the
    # fit actually separates the corpus (459/500 train accuracy, ~36%
    # positive) — 3 iterations at 0.5 left every margin negative, so
    # the funnel's quality stage silently dropped 100% of documents.
    _lr_ctes, _lr_final = _logreg_ctes(8, lr=2.0)
    logreg_sql = f"""
        WITH {_lr_ctes}
        SELECT doc_id, y,
               floor((((((w.w0 * f0) + (w.w1 * f1)) + (w.w2 * f2))
                       + (w.w3 * f3)) * 1000000.0)) / 1000000.0
                   AS margin,
               CAST(((((w.w0 * f0) + (w.w1 * f1)) + (w.w2 * f2))
                     + (w.w3 * f3)) >= 0 AS INT) AS pred
        FROM lr_feat, {_lr_final} w
    """

    funnel_sql = f"""
        WITH RECURSIVE {_SHINGLE_CTE},
        sig AS (
                SELECT doc_id,
                  list_min(list_transform(s, x -> substr(md5(x), 1, 8))) AS mh0,
                  list_min(list_transform(s, x -> substr(md5(x), 9, 8))) AS mh1,
                  list_min(list_transform(s, x -> substr(md5(x), 17, 8))) AS mh2,
                  list_min(list_transform(s, x -> substr(md5(x), 25, 8))) AS mh3
                FROM sh_lists
            ),
            bands AS (
                SELECT 0 AS band_id, mh0 AS bk, doc_id FROM sig
                UNION ALL SELECT 1, mh1, doc_id FROM sig
                UNION ALL SELECT 2, mh2, doc_id FROM sig
                UNION ALL SELECT 3, mh3, doc_id FROM sig
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band_id = b.band_id AND a.bk = b.bk
                 AND a.doc_id < b.doc_id
            ),
            sets AS (
                SELECT doc_id, list_distinct(s) AS shs FROM sh_lists
            ),
            jac AS (
                SELECT c.doc_a, c.doc_b,
                       len(list_intersect(sa.shs, sb.shs))
                       / CAST(len(sa.shs) + len(sb.shs)
                              - len(list_intersect(sa.shs, sb.shs))
                              AS DOUBLE) AS j
                FROM cand c
                JOIN sets sa ON sa.doc_id = c.doc_a
                JOIN sets sb ON sb.doc_id = c.doc_b
            ),
            edges AS (
                SELECT doc_a AS a, doc_b AS b FROM jac WHERE j >= 0.5
                UNION ALL
                SELECT doc_b, doc_a FROM jac WHERE j >= 0.5
            ),
            reach(src, dst) AS (
                SELECT a, b FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ),
        fn_comp AS (
            SELECT d.doc_id,
                   d.doc_id = least(d.doc_id,
                                    coalesce(min(r.dst), d.doc_id)) AS keep
            FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
            GROUP BY d.doc_id
        ),
        fn_keep AS (SELECT doc_id FROM fn_comp WHERE keep),
        ds AS (SELECT doc_id, list_distinct(s) AS shs FROM sh_lists),
            ev AS (
                SELECT DISTINCT unnest(shs) AS shingle FROM ds
                WHERE doc_id % 41 = 0 AND doc_id < 410
            ),
            pos AS (
                SELECT CAST(concat('0x', substr(md5(concat(
                    shingle, ':0')), 1, 12)) AS BIGINT) % 8192 AS pp
                FROM ev
                UNION ALL
                SELECT CAST(concat('0x', substr(md5(concat(
                    shingle, ':1')), 1, 12)) AS BIGINT) % 8192 FROM ev
                UNION ALL
                SELECT CAST(concat('0x', substr(md5(concat(
                    shingle, ':2')), 1, 12)) AS BIGINT) % 8192 FROM ev
            ),
            words AS (
                SELECT pp // 32 AS word,
                       bit_or(CAST(1 AS BIGINT)
                              << CAST(pp % 32 AS INT)) AS bits
                FROM pos GROUP BY 1
            ),
            cs AS (
                SELECT doc_id, unnest(shs) AS shingle FROM ds
                WHERE NOT (doc_id % 41 = 0 AND doc_id < 410)
            ),
            upos AS (
                SELECT doc_id, shingle,
                       CAST(concat('0x', substr(md5(concat(
                           shingle, ':', CAST(s.i AS VARCHAR)
                       )), 1, 12)) AS BIGINT) % 8192 AS pp
                FROM cs, UNNEST([0, 1, 2]) AS s(i)
            ),
            probe AS (
                SELECT up.doc_id, up.shingle,
                       min(CASE WHEN w.bits IS NOT NULL
                                AND ((w.bits >> CAST(up.pp % 32
                                     AS INT)) & 1) = 1
                                THEN 1 ELSE 0 END) AS hit
                FROM upos up
                LEFT JOIN words w ON w.word = up.pp // 32
                GROUP BY up.doc_id, up.shingle
            ),
            counts AS (
                SELECT doc_id,
                       count(*) AS n_shingles,
                       sum(hit) AS n_overlap_bloom
                FROM probe GROUP BY doc_id
            ),
        fn_flags AS (
            SELECT doc_id,
                   n_overlap_bloom / CAST(n_shingles AS DOUBLE) >= 0.5
                       AS flagged
            FROM counts
        ),
        fn_clean AS (
            SELECT k.doc_id
            FROM fn_keep k LEFT JOIN fn_flags f ON f.doc_id = k.doc_id
            WHERE NOT (k.doc_id % 41 = 0 AND k.doc_id < 410)
              AND NOT coalesce(f.flagged, false)
        ),
        {_lr_ctes},
        fn_pred AS (
            SELECT doc_id,
                   CAST(((((w.w0 * f0) + (w.w1 * f1)) + (w.w2 * f2))
                         + (w.w3 * f3)) >= 0 AS INT) AS pred
            FROM lr_feat, {_lr_final} w
        ),
        fn_qual AS (
            SELECT c.doc_id FROM fn_clean c
            JOIN fn_pred p ON p.doc_id = c.doc_id
            WHERE p.pred = 1
        ),
        fn_split AS (
            SELECT doc_id,
                   CAST(CAST(concat('0x', substr(
                       md5(CAST(doc_id AS VARCHAR)), 1, 15
                   )) AS BIGINT) % 100 AS INT) AS b
            FROM fn_qual
        )
        SELECT '1_raw' AS stage, count(*) AS n_docs FROM documents
        UNION ALL
        SELECT '2_dedup_survivors', count(*) FROM fn_keep
        UNION ALL
        SELECT '3_decontaminated', count(*) FROM fn_clean
        UNION ALL
        SELECT '4_quality', count(*) FROM fn_qual
        UNION ALL
        SELECT '5_train', count(*) FROM fn_split WHERE b < 90
        UNION ALL
        SELECT '6_val', count(*) FROM fn_split WHERE b >= 90 AND b < 95
        UNION ALL
        SELECT '7_test', count(*) FROM fn_split WHERE b >= 95
    """

    semdedup_dropped_sql = f"""
        WITH {_sd_ctes},
        sdd_asg AS (
            SELECT vec_id, list_id FROM (
                SELECT q.vec_id, p.list_id, ROW_NUMBER() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY {_asg_key(_cos2('q.qv', 'p.c'))} DESC
                ) AS rn
                FROM km_qbase q, {_sd_final} p
            ) WHERE rn = 1
        )
        SELECT list_id, count(*) AS bucket_size
        FROM sdd_asg GROUP BY list_id HAVING count(*) > 40
    """

    return {
        "ann_ivf_topk": ivf_sql,
        "emb_hard_negatives": hn_sql,
        "emb_hard_negatives_dropped": f"""
            WITH cents AS (
                SELECT CAST(vec_id / 50 AS INT) AS list_id,
                       embedding AS c
                FROM embeddings WHERE vec_id % 50 = 0
            ),
            asg AS (
                SELECT vec_id, list_id FROM (
                    SELECT e.vec_id, cents.list_id, ROW_NUMBER() OVER (
                        PARTITION BY e.vec_id
                        ORDER BY {_asg_key(_cos2('e.embedding',
                                                 'cents.c'))} DESC
                    ) AS arn
                    FROM embeddings e, cents
                ) WHERE arn = 1
            )
            SELECT list_id, count(*) AS list_size
            FROM asg GROUP BY list_id HAVING count(*) > 55
        """,
        "ann_ivf_recall10": ivf_recall_sql,
        "ann_ivf_kmeans_centroids": kmeans_sql,
        "emb_semdedup": semdedup_sql,
        "emb_semdedup_dropped": semdedup_dropped_sql,
        "doc_quality_logreg": logreg_sql,
        "corpus_build_funnel": funnel_sql,
        "ann_pq_topk": pq_sql,
        "doc_minhash_lsh": f"""
            WITH {_SHINGLE_CTE},
            sig AS (
                SELECT doc_id,
                  list_min(list_transform(s, x -> substr(md5(x), 1, 8))) AS mh0,
                  list_min(list_transform(s, x -> substr(md5(x), 9, 8))) AS mh1,
                  list_min(list_transform(s, x -> substr(md5(x), 17, 8))) AS mh2,
                  list_min(list_transform(s, x -> substr(md5(x), 25, 8))) AS mh3
                FROM sh_lists
            ),
            bands AS (
                SELECT 0 AS band_id, mh0 AS bk, doc_id FROM sig
                UNION ALL SELECT 1, mh1, doc_id FROM sig
                UNION ALL SELECT 2, mh2, doc_id FROM sig
                UNION ALL SELECT 3, mh3, doc_id FROM sig
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.bk = b.bk
             AND a.doc_id < b.doc_id
        """,
        "doc_decontaminate_bloom": f"""
            WITH {_SHINGLE_CTE},
            ds AS (SELECT doc_id, list_distinct(s) AS shs FROM sh_lists),
            ev AS (
                SELECT DISTINCT unnest(shs) AS shingle FROM ds
                WHERE doc_id % 41 = 0 AND doc_id < 410
            ),
            pos AS (
                SELECT CAST(concat('0x', substr(md5(concat(
                    shingle, ':0')), 1, 12)) AS BIGINT) % 8192 AS pp
                FROM ev
                UNION ALL
                SELECT CAST(concat('0x', substr(md5(concat(
                    shingle, ':1')), 1, 12)) AS BIGINT) % 8192 FROM ev
                UNION ALL
                SELECT CAST(concat('0x', substr(md5(concat(
                    shingle, ':2')), 1, 12)) AS BIGINT) % 8192 FROM ev
            ),
            words AS (
                SELECT pp // 32 AS word,
                       bit_or(CAST(1 AS BIGINT)
                              << CAST(pp % 32 AS INT)) AS bits
                FROM pos GROUP BY 1
            ),
            cs AS (
                SELECT doc_id, unnest(shs) AS shingle FROM ds
                WHERE NOT (doc_id % 41 = 0 AND doc_id < 410)
            ),
            upos AS (
                SELECT doc_id, shingle,
                       CAST(concat('0x', substr(md5(concat(
                           shingle, ':', CAST(s.i AS VARCHAR)
                       )), 1, 12)) AS BIGINT) % 8192 AS pp
                FROM cs, UNNEST([0, 1, 2]) AS s(i)
            ),
            probe AS (
                SELECT up.doc_id, up.shingle,
                       min(CASE WHEN w.bits IS NOT NULL
                                AND ((w.bits >> CAST(up.pp % 32
                                     AS INT)) & 1) = 1
                                THEN 1 ELSE 0 END) AS hit
                FROM upos up
                LEFT JOIN words w ON w.word = up.pp // 32
                GROUP BY up.doc_id, up.shingle
            ),
            counts AS (
                SELECT doc_id,
                       count(*) AS n_shingles,
                       sum(hit) AS n_overlap_bloom
                FROM probe GROUP BY doc_id
            )
            SELECT doc_id,
                   CAST(n_shingles AS BIGINT) AS n_shingles,
                   CAST(n_overlap_bloom AS BIGINT) AS n_overlap_bloom,
                   floor(n_overlap_bloom / CAST(n_shingles AS DOUBLE)
                         * 10000) / 10000 AS overlap_ratio,
                   n_overlap_bloom / CAST(n_shingles AS DOUBLE) >= 0.5
                       AS flagged
            FROM counts
        """,
        "doc_incremental_neardup": f"""
            WITH {_SHINGLE_CTE},
            sig AS (
                SELECT doc_id,
                  list_min(list_transform(s, x -> substr(md5(x), 1, 8))) AS mh0,
                  list_min(list_transform(s, x -> substr(md5(x), 9, 8))) AS mh1,
                  list_min(list_transform(s, x -> substr(md5(x), 17, 8))) AS mh2,
                  list_min(list_transform(s, x -> substr(md5(x), 25, 8))) AS mh3
                FROM sh_lists
            ),
            bands AS (
                SELECT 0 AS band_id, mh0 AS bk, doc_id FROM sig
                UNION ALL SELECT 1, mh1, doc_id FROM sig
                UNION ALL SELECT 2, mh2, doc_id FROM sig
                UNION ALL SELECT 3, mh3, doc_id FROM sig
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_match
                FROM bands a JOIN bands b
                  ON a.band_id = b.band_id AND a.bk = b.bk
                 AND a.doc_id != b.doc_id
                WHERE a.doc_id % 3 = 0
            ),
            sets AS (
                SELECT doc_id, list_distinct(s) AS shs FROM sh_lists
            ),
            jac AS (
                SELECT c.doc_new, c.doc_match,
                       len(list_intersect(sa.shs, sb.shs))
                       / CAST(len(sa.shs) + len(sb.shs)
                              - len(list_intersect(sa.shs, sb.shs))
                              AS DOUBLE) AS j
                FROM cand c
                JOIN sets sa ON sa.doc_id = c.doc_new
                JOIN sets sb ON sb.doc_id = c.doc_match
            )
            SELECT doc_new, doc_match,
                   floor(j * 10000) / 10000 AS jaccard,
                   doc_match % 3 = 0 AS from_batch
            FROM jac WHERE j >= 0.5
        """,
        "doc_minhash_lsh_capped": f"""
            WITH {_SKEW_SHINGLE_CTE},
            kept AS (
                SELECT b.band_id, b.bk, b.doc_id
                FROM skew_bands b JOIN bsz USING (band_id, bk)
                WHERE bsz.c <= 20
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM kept a JOIN kept b
              ON a.band_id = b.band_id AND a.bk = b.bk
             AND a.doc_id < b.doc_id
        """,
        "lsh_dropped_buckets": f"""
            WITH {_SKEW_SHINGLE_CTE}
            SELECT band_id, bk, c AS bucket_size
            FROM bsz WHERE c > 20
        """,
        "doc_neardup_clusters": f"""
            WITH RECURSIVE {_SHINGLE_CTE},
            sig AS (
                SELECT doc_id,
                  list_min(list_transform(s, x -> substr(md5(x), 1, 8))) AS mh0,
                  list_min(list_transform(s, x -> substr(md5(x), 9, 8))) AS mh1,
                  list_min(list_transform(s, x -> substr(md5(x), 17, 8))) AS mh2,
                  list_min(list_transform(s, x -> substr(md5(x), 25, 8))) AS mh3
                FROM sh_lists
            ),
            bands AS (
                SELECT 0 AS band_id, mh0 AS bk, doc_id FROM sig
                UNION ALL SELECT 1, mh1, doc_id FROM sig
                UNION ALL SELECT 2, mh2, doc_id FROM sig
                UNION ALL SELECT 3, mh3, doc_id FROM sig
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band_id = b.band_id AND a.bk = b.bk
                 AND a.doc_id < b.doc_id
            ),
            sets AS (
                SELECT doc_id, list_distinct(s) AS shs FROM sh_lists
            ),
            jac AS (
                SELECT c.doc_a, c.doc_b,
                       len(list_intersect(sa.shs, sb.shs))
                       / CAST(len(sa.shs) + len(sb.shs)
                              - len(list_intersect(sa.shs, sb.shs))
                              AS DOUBLE) AS j
                FROM cand c
                JOIN sets sa ON sa.doc_id = c.doc_a
                JOIN sets sb ON sb.doc_id = c.doc_b
            ),
            edges AS (
                SELECT doc_a AS a, doc_b AS b FROM jac WHERE j >= 0.5
                UNION ALL
                SELECT doc_b, doc_a FROM jac WHERE j >= 0.5
            ),
            reach(src, dst) AS (
                SELECT a, b FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            )
            SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id))
                       AS cluster_id,
                   d.doc_id = least(d.doc_id,
                                    coalesce(min(r.dst), d.doc_id)) AS keep
            FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
            GROUP BY d.doc_id
        """,
        "doc_split_leakage": f"""
            WITH {_SHINGLE_CTE},
            sig AS (
                SELECT doc_id,
                  list_min(list_transform(s, x -> substr(md5(x), 1, 8))) AS mh0,
                  list_min(list_transform(s, x -> substr(md5(x), 9, 8))) AS mh1,
                  list_min(list_transform(s, x -> substr(md5(x), 17, 8))) AS mh2,
                  list_min(list_transform(s, x -> substr(md5(x), 25, 8))) AS mh3
                FROM sh_lists
            ),
            bands AS (
                SELECT 0 AS band_id, mh0 AS bk, doc_id FROM sig
                UNION ALL SELECT 1, mh1, doc_id FROM sig
                UNION ALL SELECT 2, mh2, doc_id FROM sig
                UNION ALL SELECT 3, mh3, doc_id FROM sig
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band_id = b.band_id AND a.bk = b.bk
                 AND a.doc_id < b.doc_id
            ),
            sets AS (
                SELECT doc_id, list_distinct(s) AS shs FROM sh_lists
            ),
            jac AS (
                SELECT c.doc_a, c.doc_b,
                       len(list_intersect(sa.shs, sb.shs))
                       / CAST(len(sa.shs) + len(sb.shs)
                              - len(list_intersect(sa.shs, sb.shs))
                              AS DOUBLE) AS j
                FROM cand c
                JOIN sets sa ON sa.doc_id = c.doc_a
                JOIN sets sb ON sb.doc_id = c.doc_b
            ),
            sp AS (
                SELECT doc_id,
                       CASE WHEN b < 90 THEN 'train'
                            WHEN b < 95 THEN 'val'
                            ELSE 'test' END AS split
                FROM (
                    SELECT doc_id,
                           CAST(concat('0x', substr(
                               md5(CAST(doc_id AS VARCHAR)), 1, 15
                           )) AS BIGINT) % 100 AS b
                    FROM documents
                )
            ),
            oriented AS (
                SELECT CASE WHEN sa.split = 'train'
                            THEN jac.doc_b ELSE jac.doc_a END AS eval_doc,
                       CASE WHEN sa.split = 'train'
                            THEN sb.split ELSE sa.split END AS eval_split,
                       CASE WHEN sa.split = 'train'
                            THEN jac.doc_a ELSE jac.doc_b END AS train_doc,
                       j
                FROM jac
                JOIN sp sa ON sa.doc_id = jac.doc_a
                JOIN sp sb ON sb.doc_id = jac.doc_b
                WHERE j >= 0.5
                  AND ((sa.split = 'train') != (sb.split = 'train'))
            ),
            lk_ranked AS (
                SELECT *,
                       row_number() OVER (
                           PARTITION BY eval_doc
                           ORDER BY j DESC, train_doc
                       ) AS rn,
                       count(*) OVER (PARTITION BY eval_doc) AS n
                FROM oriented
            )
            SELECT eval_doc, eval_split,
                   CAST(n AS BIGINT) AS n_train_neardups, train_doc,
                   floor(j * 1000000) / 1000000 AS best_jaccard6
            FROM lk_ranked WHERE rn = 1
        """,
        "doc_simhash": f"""
            WITH tk AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            SELECT doc_id, concat({simhash_bits}) AS simhash16
            FROM tk GROUP BY doc_id
        """,
        "doc_ngram_jaccard": f"""
            WITH {_SHINGLE_CTE},
            sh AS (
                SELECT doc_id, unnest(list_distinct(s)) AS sh FROM sh_lists
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            q0 AS (SELECT sh FROM sh WHERE doc_id = 0),
            n0 AS (SELECT n_sh AS n0 FROM sizes WHERE doc_id = 0),
            inter AS (
                SELECT s.doc_id, count(*) AS n_inter
                FROM sh s JOIN q0 ON s.sh = q0.sh
                WHERE s.doc_id != 0 GROUP BY s.doc_id
            )
            SELECT i.doc_id,
                   floor(n_inter / CAST(n_sh + n0 - n_inter AS DOUBLE)
                         * 10000) / 10000 AS jaccard
            FROM inter i JOIN sizes USING (doc_id) CROSS JOIN n0
            ORDER BY jaccard DESC, doc_id LIMIT 20
        """,
        "doc_lang_id": f"""
            WITH r AS (
                SELECT lang,
                       {ratio['en']} AS r_en,
                       {ratio['es']} AS r_es,
                       {ratio['fr']} AS r_fr,
                       {ratio['de']} AS r_de
                FROM documents
            ), p AS (
                SELECT lang,
                       CASE WHEN {g} <= 0 THEN 'other'
                            WHEN r_de = {g} THEN 'de'
                            WHEN r_en = {g} THEN 'en'
                            WHEN r_es = {g} THEN 'es'
                            ELSE 'fr' END AS pred_lang
                FROM r
            )
            SELECT lang, pred_lang, count(*) AS n
            FROM p GROUP BY lang, pred_lang
        """,
        "doc_quality": """
            SELECT doc_id,
                   floor(least(
                       (len(list_distinct(string_split(text,' ')))
                        / CAST(greatest(len(string_split(text,' ')),1) AS DOUBLE))
                       * (length(text)
                          / CAST(greatest(len(string_split(text,' ')),1) AS DOUBLE))
                       / 8.0, 1.0) * 10000) / 10000 AS quality,
                   concat(md5(lower(substr(text, 1, 64))), ':',
                          CAST(CAST(floor(length(text) / 100) AS INT)
                               AS VARCHAR)) AS fp
            FROM documents
        """,
        "ann_cosine_topk": f"""
            WITH q AS (
                SELECT embedding AS q FROM embeddings WHERE vec_id = 0
            )
            SELECT e.vec_id, e.label, round({_COS}, 4) AS cos_sim
            FROM embeddings e, q WHERE e.vec_id != 0
            ORDER BY cos_sim DESC, e.vec_id LIMIT 10
        """,
        "emb_decontaminate": """
            -- replays the plant, every cosine, and the argmax
            WITH ev AS (
                SELECT vec_id AS eval_id, embedding AS q
                FROM embeddings WHERE vec_id % 17 = 0
            ),
            c AS (
                SELECT c0.vec_id, c0.label,
                       CASE WHEN c0.vec_id % 23 = 1
                                 AND t.q IS NOT NULL THEN t.q
                            ELSE c0.embedding END AS emb
                FROM embeddings c0
                LEFT JOIN ev t ON t.eval_id = 17 * (c0.vec_id % 30)
                WHERE c0.vec_id % 17 != 0
            ),
            s AS (
                SELECT c.vec_id, c.label, ev.eval_id,
                       list_sum(list_transform(
                           range(1, len(c.emb) + 1),
                           i -> CAST(c.emb[i] AS DOUBLE)
                                * CAST(ev.q[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(
                             range(1, len(c.emb) + 1),
                             i -> CAST(c.emb[i] AS DOUBLE)
                                  * CAST(c.emb[i] AS DOUBLE))))
                        * sqrt(list_sum(list_transform(
                             range(1, len(ev.q) + 1),
                             i -> CAST(ev.q[i] AS DOUBLE)
                                  * CAST(ev.q[i] AS DOUBLE)))))
                           AS s
                FROM c, ev
            ),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY s DESC, eval_id
                ) AS rn
                FROM s
            )
            SELECT vec_id, label,
                   CAST(eval_id AS BIGINT) AS top_eval_id,
                   round(s, 4) AS max_sim,
                   s >= 0.9 AS flagged
            FROM r WHERE rn = 1
        """,
        "ann_sq8_topk": """
            WITH dims AS (
                SELECT g.i AS dim,
                       min(CAST(e.embedding[g.i] AS DOUBLE)) AS mn,
                       max(CAST(e.embedding[g.i] AS DOUBLE)) AS mx
                FROM embeddings e,
                     unnest(generate_series(1, len(e.embedding)))
                         AS g(i)
                GROUP BY g.i
            ),
            p AS (
                SELECT list(mn ORDER BY dim) AS mins,
                       list(mx ORDER BY dim) AS maxs
                FROM dims
            ),
            enc AS (
                SELECT e.vec_id,
                       list_transform(
                           range(1, len(e.embedding) + 1),
                           i -> CASE WHEN p.maxs[i] > p.mins[i] THEN
                                greatest(0.0, least(255.0, floor(
                                    (CAST(e.embedding[i] AS DOUBLE)
                                     - p.mins[i])
                                    / (p.maxs[i] - p.mins[i]) * 255.0
                                    + 0.5)))
                                ELSE 0.0 END
                       ) AS codes
                FROM embeddings e, p
            ),
            dq AS (
                SELECT vec_id,
                       list_transform(
                           range(1, len(codes) + 1),
                           i -> p.mins[i] + codes[i]
                                * (p.maxs[i] - p.mins[i]) / 255.0
                       ) AS v
                FROM enc, p
            ),
            sc AS (
                SELECT q.vec_id AS query_id, b.vec_id,
                       list_sum(list_transform(
                           range(1, len(b.v) + 1),
                           i -> b.v[i] * q.v[i]))
                       / (sqrt(list_sum(list_transform(
                              range(1, len(b.v) + 1),
                              i -> b.v[i] * b.v[i])))
                        * sqrt(list_sum(list_transform(
                              range(1, len(q.v) + 1),
                              i -> q.v[i] * q.v[i])))) AS cos_q
                FROM dq b, dq q
                WHERE q.vec_id < 3 AND b.vec_id <> q.vec_id
            )
            SELECT query_id, vec_id, rank, round(cos_q, 4) AS cos_q
            FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cos_q DESC, vec_id
                ) AS INT) AS rank FROM sc
            ) WHERE rank <= 10
        """,
        "ann_lsh_buckets": f"""
            SELECT concat({sign_bits}) AS bucket,
                   count(*) AS n_vecs,
                   min(vec_id) AS min_vec_id
            FROM embeddings GROUP BY 1
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'image'
                        ELSE 'audio' END AS kind,
                   CAST(length(text) AS INT) AS n_bytes,
                   ascii(substr(text, CAST((length(text)-1)*0/4 AS INT) + 1, 1)) AS sample0,
                   ascii(substr(text, CAST(floor((length(text)-1)*1/4.0) AS INT) + 1, 1)) AS sample1,
                   ascii(substr(text, CAST(floor((length(text)-1)*2/4.0) AS INT) + 1, 1)) AS sample2,
                   ascii(substr(text, CAST(floor((length(text)-1)*3/4.0) AS INT) + 1, 1)) AS sample3,
                   md5(text) AS digest
            FROM documents
        """,
        "doc_regex_tokens": f"""
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_ws_tokens,
                   len(regexp_extract_all(lower(text), '{_TOKEN_RE}'))
                       AS n_re_tokens,
                   len(list_filter(regexp_extract_all(lower(text), '{_TOKEN_RE}'),
                       x -> regexp_matches(x, '^[a-z]+$'))) AS n_alpha,
                   len(list_filter(regexp_extract_all(lower(text), '{_TOKEN_RE}'),
                       x -> regexp_matches(x, '^[0-9]+$'))) AS n_numeric,
                   len(regexp_extract_all(lower(text), '{_TOKEN_RE}'))
                   - len(list_filter(regexp_extract_all(lower(text), '{_TOKEN_RE}'),
                         x -> regexp_matches(x, '^[a-z]+$')))
                   - len(list_filter(regexp_extract_all(lower(text), '{_TOKEN_RE}'),
                         x -> regexp_matches(x, '^[0-9]+$'))) AS n_symbol
            FROM documents
        """,
        "emb_neardup_clusters": f"""
            WITH RECURSIVE
            bb AS ({banded_bb}),
            cand AS (
                SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
                FROM bb a JOIN bb b
                  ON a.table_id = b.table_id AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id
            ),
            edge0 AS (
                SELECT c.doc_a, c.doc_b
                FROM cand c
                JOIN embeddings e ON e.vec_id = c.doc_b
                JOIN (SELECT vec_id, embedding AS q FROM embeddings) q
                  ON q.vec_id = c.doc_a
                WHERE {_COS} >= 0.45
            ),
            edges AS (
                SELECT doc_a AS a, doc_b AS b FROM edge0
                UNION ALL SELECT doc_b, doc_a FROM edge0
            ),
            reach(src, dst) AS (
                SELECT a, b FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            )
            SELECT v.vec_id,
                   least(v.vec_id, coalesce(min(r.dst), v.vec_id))
                       AS cluster_id,
                   v.vec_id = least(v.vec_id,
                                    coalesce(min(r.dst), v.vec_id)) AS keep
            FROM embeddings v LEFT JOIN reach r ON r.src = v.vec_id
            GROUP BY v.vec_id
        """,
        "ann_banded_topk": f"""
            WITH {_BANDED_CTES}
            SELECT query_id, rn, vec_id, round(cs, 4) AS cos_sim
            FROM ranked WHERE rn <= 10
        """,
        "ann_recall10": f"""
            WITH {_BANDED_CTES},
            approx AS (
                SELECT query_id, vec_id FROM ranked WHERE rn <= 10
            ),
            ex_scored AS (
                SELECT q.qid AS query_id, e.vec_id, {_COS} AS cs
                FROM embeddings e JOIN qv q ON e.vec_id != q.qid
            ),
            ex_ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cs DESC, vec_id
                ) AS rn FROM ex_scored
            ),
            exact AS (
                SELECT query_id, vec_id FROM ex_ranked WHERE rn <= 10
            ),
            hits AS (
                SELECT a.query_id, count(*) AS n_hit
                FROM approx a JOIN exact x
                  ON a.query_id = x.query_id AND a.vec_id = x.vec_id
                GROUP BY a.query_id
            )
            SELECT q.query_id,
                   coalesce(h.n_hit, 0) / 10.0 AS recall_at_10
            FROM (SELECT DISTINCT query_id FROM exact) q
            LEFT JOIN hits h ON h.query_id = q.query_id
        """,
        "ann_knn_label_vote": f"""
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS q
                FROM embeddings WHERE vec_id < 5
            ),
            s AS (
                SELECT q.query_id, e.vec_id, e.label,
                       round({_COS}, 4) AS cs
                FROM embeddings e, q WHERE e.vec_id != q.query_id
            ),
            t AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cs DESC, vec_id
                ) AS rn FROM s
            ),
            c AS (
                SELECT query_id, label, count(*) AS votes
                FROM t WHERE rn <= 10 GROUP BY query_id, label
            ),
            rr AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY votes DESC, label
                ) AS r FROM c
            )
            SELECT query_id, label AS knn_label, votes
            FROM rr WHERE r = 1
        """,
    }


def oracle_sql() -> dict[str, str]:
    out = _extra_oracles()
    out.update(_literal_oracles())
    out["transcript_bt_ratings"] = _bt_oracle_sql()
    return out


def _bt_oracle_sql(n_iters: int = 8, lr: float = 2.0) -> str:
    """Unrolled DuckDB replay of the Bradley-Terry fit: the branched-
    tree synthesis + preference-pair ranking (same CTEs as
    transcript_pref_pairs), then ``n_iters`` GD iterations mirroring
    functions/preference.py op-for-op (hard-sigmoid surrogate,
    round(·2^20) BIGINT gradient sums, driver-double θ updates)."""
    ctes = """t AS (
            SELECT CAST(doc_id // 8 AS BIGINT) AS conv_id,
                   CAST(doc_id % 8 AS BIGINT) AS node_id,
                   CAST(CASE CAST(doc_id % 8 AS BIGINT)
                        WHEN 1 THEN 0
                        WHEN 2 THEN 1 WHEN 3 THEN 1
                        WHEN 4 THEN 2
                        WHEN 5 THEN 4 WHEN 6 THEN 4
                        WHEN 7 THEN (
                            CASE CAST(doc_id // 8 AS BIGINT) % 3
                            WHEN 0 THEN 1 WHEN 1 THEN 5
                            ELSE 6 END)
                        END AS BIGINT) AS parent_id,
                   CASE
                       WHEN doc_id % 8 = 0 THEN 'system'
                       WHEN doc_id % 8 IN (1, 4) THEN 'user'
                       WHEN doc_id % 8 = 7 THEN (
                           CASE WHEN CAST(doc_id // 8 AS BIGINT)
                                     % 3 = 0
                                THEN 'assistant' ELSE 'user' END)
                       ELSE 'assistant' END AS role,
                   CAST((CAST(doc_id // 8 AS BIGINT) * 7
                         + CAST(doc_id % 8 AS BIGINT) * 13) % 5
                        AS BIGINT) AS score
            FROM documents
        ),
        c AS (
            SELECT conv_id, parent_id, node_id, score FROM t
            WHERE role = 'assistant' AND parent_id IS NOT NULL
        ),
        r AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY conv_id, parent_id
                       ORDER BY score DESC, node_id ASC
                   ) AS rn,
                   count(*) OVER (
                       PARTITION BY conv_id, parent_id
                   ) AS n
            FROM c
        ),
        ch AS (
            SELECT conv_id, parent_id, node_id AS chosen_id
            FROM r WHERE rn = 1 AND n >= 2
        ),
        bt_pairs AS (
            SELECT CAST(ch.chosen_id % 3 AS INT) AS w,
                   CAST(c.node_id % 3 AS INT) AS l
            FROM c JOIN ch USING (conv_id, parent_id)
            WHERE c.node_id <> ch.chosen_id
        ),
        bt_w0 AS (SELECT 0.0 AS t0, 0.0 AS t1, 0.0 AS t2)"""

    def theta_of(col: str) -> str:
        return (f"(CASE {col} WHEN 0 THEN pw.t0 WHEN 1 THEN pw.t1 "
                f"ELSE pw.t2 END)")

    prev = "bt_w0"
    for it in range(1, n_iters + 1):
        p = (f"least(greatest((0.25 * ({theta_of('w')} - "
             f"{theta_of('l')})) + 0.5, 0.0), 1.0)")
        gs = ", ".join(
            f"sum(CASE WHEN w = {m} THEN qe ELSE 0 END)"
            f" - sum(CASE WHEN l = {m} THEN qe ELSE 0 END) AS g{m}"
            for m in range(3)
        )
        ws = ", ".join(
            f"pw.t{m} + ({lr!r} * ((CAST(g.g{m} AS DOUBLE) / 1048576.0)"
            f" / CAST(g.n AS DOUBLE))) AS t{m}"
            for m in range(3)
        )
        ctes += f""",
        bt_g{it} AS (
            SELECT {gs}, count(*) AS n
            FROM (
                SELECT w, l,
                       CAST(round((1.0 - {p}) * 1048576.0) AS BIGINT)
                           AS qe
                FROM bt_pairs, {prev} pw
            )
        ),
        bt_w{it} AS (
            SELECT {ws} FROM {prev} pw, bt_g{it} g
        )"""
        prev = f"bt_w{it}"

    return f"""
        WITH {ctes}
        SELECT m.model_id,
               COALESCE(wn.n_wins, 0) AS n_wins,
               COALESCE(ls.n_losses, 0) AS n_losses,
               floor((CASE m.model_id WHEN 0 THEN fw.t0
                      WHEN 1 THEN fw.t1 ELSE fw.t2 END)
                     * 1000000.0) / 1000000.0 AS theta6
        FROM (SELECT 0 AS model_id UNION ALL SELECT 1
              UNION ALL SELECT 2) m
        LEFT JOIN (SELECT w AS model_id,
                          CAST(count(*) AS BIGINT) AS n_wins
                   FROM bt_pairs GROUP BY w) wn USING (model_id)
        LEFT JOIN (SELECT l AS model_id,
                          CAST(count(*) AS BIGINT) AS n_losses
                   FROM bt_pairs GROUP BY l) ls USING (model_id)
        CROSS JOIN {prev} fw
    """


def _bpe_oracle_ctes(n: int = 10) -> str:
    """Unrolled DuckDB replay of BPE training: w0 = the distinct-word
    symbol table, then per merge k: pair census → argmax (count desc,
    pair asc) → replace.  Mirrors functions/bpe.py exactly (same
    ' a b '-delimited non-overlapping left-to-right replace)."""
    # Every w{k}/m{k} is referenced twice downstream; without
    # MATERIALIZED DuckDB re-inlines the chain exponentially (2^n
    # scans of the parquet base -> EMFILE at n=10).
    sql = """WITH w0 AS MATERIALIZED (
        SELECT word, count(*)::BIGINT cnt,
               trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' _' AS sym
        FROM (SELECT unnest(string_split(text, ' ')) word FROM documents)
        WHERE word <> '' GROUP BY word)"""
    for k in range(1, n + 1):
        sql += f""",
    p{k} AS MATERIALIZED (
        SELECT pr, sum(cnt) c FROM (
            SELECT cnt,
                   unnest(list_transform(
                       range(1, len(string_split(sym, ' '))),
                       i -> string_split(sym, ' ')[i] || ' ' ||
                            string_split(sym, ' ')[i + 1])) pr
            FROM w{k - 1}) GROUP BY pr),
    m{k} AS MATERIALIZED (SELECT pr FROM p{k} ORDER BY c DESC, pr ASC
                          LIMIT 1),
    w{k} AS MATERIALIZED (
        SELECT word, cnt,
               trim(replace(' ' || sym || ' ',
                   ' ' || coalesce((SELECT pr FROM m{k}), chr(1)) || ' ',
                   ' ' || replace(coalesce((SELECT pr FROM m{k}), chr(1)),
                                  ' ', '') || ' '))
                   sym
        FROM w{k - 1})"""
    return sql


def _mixture_oracle_ctes() -> str:
    """Independent SQL replay of the mixing manifest: largest-
    remainder apportionment from the weight literals (verifies the
    driver-side Python apportion() against a from-scratch SQL
    implementation), then the md5-thresholded copy-count formula in
    HUGEINT (the decimal(38,0) compare on the Spark side)."""
    vals = ", ".join(
        f"('{s}', {w})" for s, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"""WITH w(source, weight) AS (VALUES {vals}),
    t AS (SELECT CAST(sum(weight) AS BIGINT) wden FROM w),
    b AS (SELECT source, weight,
                 ({_MIX_TOTAL} * weight) // wden AS base,
                 ({_MIX_TOTAL} * weight) % wden AS rem
          FROM w, t),
    q AS (SELECT source, weight,
                 CAST(base + CASE WHEN
                     rank() OVER (ORDER BY rem DESC, source ASC)
                     <= (SELECT {_MIX_TOTAL} - sum(base) FROM b)
                     THEN 1 ELSE 0 END AS BIGINT) AS quota
          FROM b),
    c AS (SELECT source, count(*)::BIGINT n FROM documents
          GROUP BY source),
    k AS (SELECT d.doc_id, d.source,
                 CAST(q.quota // c.n + CASE WHEN
                     CAST(CAST(concat('0x', substr(md5('mix:' ||
                         CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                         AS HUGEINT) * CAST(c.n AS HUGEINT)
                     < CAST(q.quota % c.n AS HUGEINT)
                       * CAST(1152921504606846976 AS HUGEINT)
                     THEN 1 ELSE 0 END AS INT) AS n_copies,
                 q.quota AS domain_quota, c.n AS domain_docs
          FROM documents d
          JOIN q USING (source) JOIN c USING (source))"""


def _bpe_merges_oracle_sql(n: int = 10) -> str:
    union = "\n        UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) rank, (SELECT pr FROM m{k}) pair,"
        f" replace((SELECT pr FROM m{k}), ' ', '') merged"
        for k in range(1, n + 1)
    )
    return (
        _bpe_oracle_ctes(n)
        + f"\n    SELECT * FROM ({union}) WHERE pair IS NOT NULL"
    )


def _bpe_tokenize_oracle_sql(n: int = 10) -> str:
    expr = (
        "array_to_string(list_transform("
        "list_filter(string_split(text, ' '), w -> w <> ''),"
        " w -> trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' _'), ' ')"
    )
    for k in range(1, n + 1):
        expr = (
            f"trim(replace(' ' || {expr} || ' ',"
            f" ' ' || coalesce((SELECT pr FROM m{k}), chr(1)) || ' ',"
            f" ' ' || replace(coalesce((SELECT pr FROM m{k}), chr(1)),"
            f" ' ', '') || ' '))"
        )
    return (
        _bpe_oracle_ctes(n)
        + f""",
    enc AS (SELECT doc_id, {expr} AS e FROM documents)
    SELECT doc_id,
           CAST(len(string_split(e, ' ')) AS INTEGER) AS n_bpe_tokens,
           CAST(len(list_distinct(string_split(e, ' '))) AS INTEGER)
               AS n_bpe_distinct,
           md5(e) AS bpe_digest
    FROM enc"""
    )


def _train_shards_oracle_sql(n: int = 10) -> str:
    # split → BPE encode (same unrolled merge chain as
    # _bpe_tokenize_oracle_sql) → md5 shard → per-shard cumulative
    # packing, replayed exactly
    expr = (
        "array_to_string(list_transform("
        "list_filter(string_split(text, ' '), w -> w <> ''),"
        " w -> trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' _'), ' ')"
    )
    for k in range(1, n + 1):
        expr = (
            f"trim(replace(' ' || {expr} || ' ',"
            f" ' ' || coalesce((SELECT pr FROM m{k}), chr(1)) || ' ',"
            f" ' ' || replace(coalesce((SELECT pr FROM m{k}), chr(1)),"
            f" ' ', '') || ' '))"
        )
    return (
        _bpe_oracle_ctes(n)
        + f""",
    ts_enc AS (
        SELECT doc_id, {expr} AS e FROM documents
        WHERE CAST(concat('0x', substr(
                  md5(CAST(doc_id AS VARCHAR)), 1, 15
              )) AS BIGINT) % 100 < 90
    ),
    ts_base AS (
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(
                   md5(CAST(doc_id AS VARCHAR)), 1, 15
               )) AS BIGINT) % 8 AS INT) AS shard,
               CAST(len(string_split(e, ' ')) AS BIGINT) AS n_tokens
        FROM ts_enc
    ),
    ts_pack AS (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS incl
        FROM ts_base
    )
    SELECT doc_id, shard, n_tokens,
           CAST(incl - n_tokens AS BIGINT) AS start_tok,
           CAST((incl - n_tokens) // 512 AS BIGINT) AS first_chunk,
           CAST((incl - 1) // 512 AS BIGINT) AS last_chunk,
           CAST((incl - 1) // 512 - (incl - n_tokens) // 512 + 1
               AS BIGINT) AS n_chunks
    FROM ts_pack"""
    )


def _pagerank_oracle_sql(n_iters: int = 3) -> str:
    # unrolled integer-flooring iterations mirroring graph.pagerank
    ctes = """e AS (
            SELECT concat('d', CAST(doc_id % 20 AS VARCHAR)) AS src,
                   concat('d', CAST((doc_id * 7 + 3) % 20 AS VARCHAR))
                       AS dst
            FROM documents
            UNION ALL
            SELECT concat('d', CAST(doc_id % 20 AS VARCHAR)),
                   concat('d', CAST((doc_id * 13 + 5) % 20 AS VARCHAR))
            FROM documents
        ),
        nodes AS (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        ),
        deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        s0 AS (
            SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes
        )"""
    for i in range(1, n_iters + 1):
        ctes += f""",
        c{i} AS (
            SELECT e.dst AS node,
                   (85 * (s.score // g.d)) // 100 AS c
            FROM e JOIN deg g USING (src)
            JOIN s{i - 1} s ON s.node = e.src
        ),
        s{i} AS (
            SELECT n.node,
                   CAST(150000 + coalesce(sum(c.c), 0) AS BIGINT)
                       AS score
            FROM nodes n LEFT JOIN c{i} c USING (node)
            GROUP BY 1
        )"""
    return f"""
        WITH {ctes}
        SELECT node, score FROM s{n_iters}
    """


def _zorder_oracle_sql() -> str:
    from pg_pb3_ld_spark.functions.layout import sql_morton16

    z = sql_morton16("q1", "q2")
    return f"""
        WITH mm AS (
            SELECT min(n_chars) AS mn, max(n_chars) AS mx
            FROM documents
        ),
        q AS (
            SELECT doc_id,
                   CAST(floor(((n_chars - mn) * 65535)
                        / greatest(mx - mn, 1)) AS BIGINT) AS q1,
                   CAST(concat('0x', substr(md5(source), 1, 4))
                        AS BIGINT) AS q2
            FROM documents CROSS JOIN mm
        ),
        k AS (SELECT doc_id, {z} AS zkey FROM q)
        SELECT doc_id, zkey, CAST(zkey >> 24 AS BIGINT) AS tile
        FROM k
    """


# Arithmetic replay of the audio energy-contour fingerprint on the
# WAV fixtures (_audio_fixture_blobs): sample formula → 12-sample
# frame L1 energies → 64 rise bits → two packed 32-bit halves.
# NOTE the ((x % 2003) + 2003) % 2003 double-mod: the sample value is
# negative mid-formula and SQL's % truncates toward zero while
# numpy's floors — the double-mod reproduces numpy exactly.
_AUDIOFP_CTE = """
    aids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
    smp AS (
      SELECT doc_id, t.i,
        (((((t.i // 12)*(t.i // 12) + 1) * ((doc_id % 20)*31 + 7)) % 997)
           * (((t.i*29) % 41) - 20) % 2003 + 2003) % 2003 - 1001
        + CASE WHEN (t.i // 12) % 11 = ((doc_id // 20)*3) % 11
               THEN (((t.i // 12) + doc_id // 20)*337) % 1601 - 800
               ELSE 0 END AS s
      FROM aids, range(780) t(i)
    ),
    fe AS (
      SELECT doc_id, i // 12 AS fr, SUM(abs(s)) AS e
      FROM smp GROUP BY doc_id, i // 12
    ),
    abits AS (
      SELECT l.doc_id, l.fr AS k,
             CASE WHEN r.e > l.e THEN 1 ELSE 0 END AS b
      FROM fe l JOIN fe r ON r.doc_id = l.doc_id AND r.fr = l.fr + 1
      WHERE l.fr < 64
    ),
    afp AS (
      SELECT doc_id AS media_id,
        CAST(SUM(CASE WHEN k >= 32
                 THEN b * (1::BIGINT << (k-32)) ELSE 0 END)
             AS BIGINT) AS hash_hi,
        CAST(SUM(CASE WHEN k < 32
                 THEN b * (1::BIGINT << k) ELSE 0 END)
             AS BIGINT) AS hash_lo
      FROM abits GROUP BY doc_id
    )
"""


# Arithmetic replay of the dHash chain on the PNG image fixtures
# (_image_fixture_blobs): per-channel value → integer luma → exact
# 2×2 block means → horizontal gradient bits → two packed 32-bit
# halves.  Shared by the image_dhash and image_neardup oracles.
_DHASH_CTE = """
    ids AS (SELECT doc_id FROM documents WHERE doc_id < 240),
    lum AS (
      SELECT i.doc_id, t1.cy, t2.cx,
        (77 * (((i.doc_id % 24) * 53
                + (((2*t1.cy+t3.dy)*18 + (2*t2.cx+t4.dx))*3 + 0)
                  * (2*(i.doc_id % 24)+3)
                + CASE WHEN t2.cx % 9 = ((i.doc_id // 24)*2 + t1.cy) % 9
                       THEN ((i.doc_id // 24)*31 + t1.cy*17) % 256
                       ELSE 0 END) % 256)
       + 150 * (((i.doc_id % 24) * 53
                + (((2*t1.cy+t3.dy)*18 + (2*t2.cx+t4.dx))*3 + 1)
                  * (2*(i.doc_id % 24)+3)
                + CASE WHEN t2.cx % 9 = ((i.doc_id // 24)*2 + t1.cy) % 9
                       THEN ((i.doc_id // 24)*31 + t1.cy*17) % 256
                       ELSE 0 END) % 256)
       + 29 * (((i.doc_id % 24) * 53
                + (((2*t1.cy+t3.dy)*18 + (2*t2.cx+t4.dx))*3 + 2)
                  * (2*(i.doc_id % 24)+3)
                + CASE WHEN t2.cx % 9 = ((i.doc_id // 24)*2 + t1.cy) % 9
                       THEN ((i.doc_id // 24)*31 + t1.cy*17) % 256
                       ELSE 0 END) % 256)
        ) // 256 AS l
      FROM ids i, range(8) t1(cy), range(9) t2(cx),
           range(2) t3(dy), range(2) t4(dx)
    ),
    cells AS (
      SELECT doc_id, cy, cx, SUM(l) // 4 AS g
      FROM lum GROUP BY doc_id, cy, cx
    ),
    gbits AS (
      SELECT l.doc_id, l.cy AS r, l.cx AS c,
             CASE WHEN rg.g > l.g THEN 1 ELSE 0 END AS b
      FROM cells l JOIN cells rg
        ON rg.doc_id = l.doc_id AND rg.cy = l.cy AND rg.cx = l.cx + 1
      WHERE l.cx < 8
    ),
    dhashes AS (
      SELECT doc_id AS media_id,
        CAST(SUM(CASE WHEN r >= 4
                 THEN b * (1::BIGINT << ((r-4)*8 + c)) ELSE 0 END)
             AS BIGINT) AS hash_hi,
        CAST(SUM(CASE WHEN r < 4
                 THEN b * (1::BIGINT << (r*8 + c)) ELSE 0 END)
             AS BIGINT) AS hash_lo
      FROM gbits GROUP BY doc_id
    )
"""


def _literal_oracles() -> dict[str, str]:
    # G.711 μ-law expansion, arithmetically: byte → invert → split
    # sign/exponent/mantissa → ((8·mant + 132)·2^exp) − 132, signed.
    # `j` is the in-window sample offset; mirrors functions/multimodal
    # _g711_lut exactly so the oracle is codec-independent SQL.
    _u = "(255 - ((doc_id * 13 + (s0 + j) * 5) % 256))"
    _us = ("(255 - (CASE WHEN (s0 + j) < 400 THEN 255 "
           "ELSE (doc_id * 13 + (s0 + j) * 5) % 256 END))")
    _ulaw_sil = (
        f"(CASE WHEN {_us} >= 128 THEN -1 ELSE 1 END) * "
        f"((({_us} % 16) * 8 + 132) * "
        f"CAST(pow(2, ({_us} // 16) % 8) AS BIGINT) - 132)"
    )
    _ulaw_val = (
        f"(CASE WHEN {_u} >= 128 THEN -1 ELSE 1 END) * "
        f"((({_u} % 16) * 8 + 132) * "
        f"CAST(pow(2, ({_u} // 16) % 8) AS BIGINT) - 132)"
    )
    return {
        "doc_export_manifest": """
            WITH k AS (
                SELECT CAST(CAST(concat('0x', substr(
                           md5(CAST(doc_id AS VARCHAR)), 1, 15
                       )) AS BIGINT) % 8 AS INT) AS shard,
                       doc_id,
                       CAST(concat('0x', substr(md5(concat_ws(chr(31),
                           CAST(doc_id AS VARCHAR), text)), 1, 15))
                       AS BIGINT) AS d
                FROM documents
            )
            SELECT shard, count(*) AS n_rows,
                   count(DISTINCT doc_id) AS n_keys,
                   min(doc_id) AS min_key, max(doc_id) AS max_key,
                   CAST(sum(d) AS DECIMAL(38,0)) AS checksum
            FROM k GROUP BY shard
        """,
        "doc_overlap_chunks": """
            WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS tk,
                       len(string_split(text, ' ')) AS n
                FROM documents
            ),
            c AS (
                SELECT doc_id, tk,
                       1 + (greatest(n - 16, 0) + 11) // 12 AS nc
                FROM t WHERE n > 0
            ),
            e AS (
                SELECT doc_id, tk, CAST(k AS INT) AS chunk_idx,
                       CAST(k * 12 AS INT) AS start_tok
                FROM c, UNNEST(range(nc)) AS u(k)
            )
            SELECT doc_id, chunk_idx, start_tok,
                   CAST(len(list_slice(tk, start_tok + 1,
                                       start_tok + 16)) AS INT) AS n_tok,
                   array_to_string(list_slice(tk, start_tok + 1,
                                              start_tok + 16), ' ')
                       AS chunk_text
            FROM e
        """,
        "doc_train_test_split": """
            WITH b AS (
                SELECT doc_id,
                       CAST(CAST(concat('0x', substr(
                           md5(CAST(doc_id AS VARCHAR)), 1, 15
                       )) AS BIGINT) % 100 AS INT) AS split_bucket
                FROM documents
            )
            SELECT doc_id, split_bucket,
                   CASE WHEN split_bucket < 90 THEN 'train'
                        WHEN split_bucket < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
        """,
        "audio_segments": f"""
            WITH f AS (
                SELECT doc_id, CAST(k AS INT) AS frame_idx,
                       least((799 * k) // 3, 720) AS s0
                FROM documents, range(4) t(k)
                WHERE doc_id < 200
            ),
            r AS (
                SELECT doc_id, frame_idx,
                       CAST((s0 * 1000) // 8000 AS INT) AS t_ms,
                       CAST(floor(sqrt(list_sum(list_transform(
                            range(0, 80),
                            j -> pow(CAST({_ulaw_sil} AS DOUBLE), 2)))
                            / 80)) AS INT) AS rms
                FROM f
            ),
            a AS (SELECT *, rms >= 1 AS active FROM r),
            c AS (
                SELECT *, CASE WHEN lag(active) OVER w IS NULL
                                 OR active != lag(active) OVER w
                               THEN 1 ELSE 0 END AS chg
                FROM a
                WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
            ),
            s AS (
                SELECT *, sum(chg) OVER (
                    PARTITION BY doc_id ORDER BY frame_idx
                ) AS seg_idx FROM c
            )
            SELECT doc_id AS media_id, CAST(seg_idx AS INT) AS seg_idx,
                   bool_and(active) AS active,
                   CAST(min(frame_idx) AS INT) AS start_frame,
                   CAST(max(frame_idx) AS INT) AS end_frame,
                   count(*) AS n_frames,
                   min(t_ms) AS start_ms
            FROM s GROUP BY doc_id, seg_idx
        """,
        "audio_ulaw_frame_sample": f"""
            WITH f AS (
                SELECT doc_id, CAST(k AS INT) AS frame_idx,
                       least((799 * k) // 3, 720) AS s0
                FROM documents, range(4) t(k)
                WHERE doc_id < 200
            )
            SELECT doc_id AS media_id, frame_idx,
                   CAST((s0 * 1000) // 8000 AS INT) AS t_ms,
                   CAST(floor(sqrt(list_sum(list_transform(range(0, 80),
                        j -> pow(CAST({_ulaw_val} AS DOUBLE), 2))) / 80))
                        AS INT) AS rms,
                   CAST(list_max(list_transform(range(0, 80),
                        j -> abs({_ulaw_val}))) AS INT) AS peak
            FROM f
        """,
        "dedup_last_wins": """
            SELECT user_id,
                   event_id AS last_event_id,
                   event_type AS last_event_type,
                   round(value, 4) AS last_value,
                   epoch_us(ts) AS last_ts_us
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                ) AS rn FROM events
            ) WHERE rn = 1
        """,
        "txn_assembly": """
            SELECT user_id,
                   count(*) AS n_events,
                   string_agg(CAST(event_id AS VARCHAR), ','
                              ORDER BY ts, event_id) AS event_chain
            FROM events GROUP BY user_id
        """,
        "ordered_replay": """
            SELECT user_id,
                   md5(string_agg(CAST(event_id AS VARCHAR), ','
                                  ORDER BY ts, event_id)) AS replay_sig,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "watermark_filter": """
            SELECT event_type, count(*) AS n_above
            FROM events
            WHERE ts > (SELECT max(ts) - INTERVAL 3 DAY FROM events)
            GROUP BY event_type
        """,
        "merge_upsert_effect": """
            WITH c AS (
                SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS c
                FROM events
            ), last AS (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY event_id DESC
                ) AS rn FROM events
            )
            SELECT user_id,
                   event_id AS last_event_id,
                   round(value, 4) AS final_value,
                   event_id > (SELECT c FROM c) AS was_changed
            FROM last
            WHERE rn = 1
              AND NOT (event_type = 'error'
                       AND event_id > (SELECT c FROM c))
        """,
        "partial_update_coalesce": """
            SELECT user_id, props AS last_props
            FROM (
                SELECT user_id, props, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                ) AS rn FROM events WHERE props IS NOT NULL
            ) WHERE rn = 1
        """,
        "key_extraction": """
            SELECT user_id,
                   count(*) AS n,
                   epoch_us(min(ts)) AS first_us,
                   epoch_us(max(ts)) AS last_us,
                   count(DISTINCT event_type) AS n_types
            FROM events GROUP BY user_id
        """,
        "change_type_dispatch": """
            SELECT CASE WHEN event_type = 'click' THEN 'INSERT'
                        WHEN event_type = 'error' THEN 'DELETE'
                        ELSE 'UPDATE' END AS op,
                   count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1
        """,
        "empty_txn_suppression": """
            SELECT event_type, count(*) AS n_kept
            FROM events WHERE value > 15.0
            GROUP BY event_type HAVING count(*) > 10
        """,
        # independently recomputes what every bucket's committed
        # lineage MUST say after the two merges: same deterministic
        # fold, same portable md5 bucket, last-batch-wins per bucket
        "cdc_rebucket": """
            WITH m AS (
                SELECT concat('c', CAST(user_id % 50 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 6 AS INT) AS turn_idx,
                       event_id, event_type
                FROM events
            ),
            last AS (
                SELECT conv_id, turn_idx, event_id, event_type,
                       row_number() OVER (
                           PARTITION BY conv_id, turn_idx
                           ORDER BY event_id DESC
                       ) AS rn
                FROM m
            )
            SELECT conv_id, turn_idx,
                   concat('t', CAST(event_id AS VARCHAR)) AS text,
                   CAST(CAST(concat('0x', substr(md5(conv_id), 1, 15))
                        AS BIGINT) % 16 AS INT) AS bucket
            FROM last
            WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_store_audit": """
            WITH m AS (
                SELECT concat('c', CAST(user_id % 50 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 6 AS INT) AS turn_idx,
                       event_id, event_type
                FROM events
            ),
            last AS (
                SELECT conv_id, turn_idx, event_type,
                       row_number() OVER (
                           PARTITION BY conv_id, turn_idx
                           ORDER BY event_id DESC
                       ) AS rn
                FROM m
            ),
            live AS (
                SELECT conv_id FROM last
                WHERE rn = 1 AND event_type <> 'error'
            )
            SELECT CAST(CAST(concat('0x', substr(md5(conv_id), 1, 15))
                        AS BIGINT) % 8 AS INT) AS bucket,
                   count(*) AS n_rows,
                   true AS ok
            FROM live
            GROUP BY 1
        """,
        "cdc_consistent_cut": """
            WITH src AS (
                SELECT event_id, user_id, event_type,
                       row_number() OVER (ORDER BY event_id) AS rn,
                       count(*) OVER () AS n
                FROM events WHERE event_id % 5 = 0
            ),
            applied AS (
                SELECT * FROM src
                WHERE rn <= 25 * ((2 * ((n + 24) // 25)) // 3)
            ),
            m AS (
                SELECT event_id, event_type,
                       CASE WHEN user_id % 3 = 1 THEN 'transcripts'
                            ELSE 'doc_tags' END AS tbl,
                       CASE WHEN user_id % 3 = 1
                            THEN concat('c', CAST(user_id % 50 AS VARCHAR))
                            ELSE concat('d', CAST(user_id % 40 AS VARCHAR))
                            END AS k1,
                       CASE WHEN user_id % 3 = 1
                            THEN CAST(event_id % 6 AS INT)
                            ELSE 0 END AS k2,
                       CASE WHEN user_id % 3 = 1
                            THEN concat('t', CAST(event_id AS VARCHAR))
                            ELSE concat(event_type, ':',
                                        CAST(event_id % 1000 AS VARCHAR))
                            END AS val
                FROM applied
                WHERE user_id % 3 IN (0, 1)
            ),
            last AS (
                SELECT tbl, k1, k2, val, event_type,
                       row_number() OVER (
                           PARTITION BY tbl, k1, k2
                           ORDER BY event_id DESC
                       ) AS rn
                FROM m
            )
            SELECT tbl, k1, k2, val
            FROM last WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_multi_table": """
            WITH m AS (
                SELECT event_id, event_type,
                       CASE WHEN user_id % 3 = 1 THEN 'transcripts'
                            ELSE 'doc_tags' END AS tbl,
                       CASE WHEN user_id % 3 = 1
                            THEN concat('c', CAST(user_id % 50 AS VARCHAR))
                            ELSE concat('d', CAST(user_id % 40 AS VARCHAR))
                            END AS k1,
                       CASE WHEN user_id % 3 = 1
                            THEN CAST(event_id % 6 AS INT)
                            ELSE 0 END AS k2,
                       CASE WHEN user_id % 3 = 1
                            THEN concat('t', CAST(event_id AS VARCHAR))
                            ELSE concat(event_type, ':',
                                        CAST(event_id % 1000 AS VARCHAR))
                            END AS val
                FROM events
                WHERE event_id % 5 = 0 AND user_id % 3 IN (0, 1)
            ),
            last AS (
                SELECT tbl, k1, k2, val, event_type,
                       row_number() OVER (
                           PARTITION BY tbl, k1, k2
                           ORDER BY event_id DESC
                       ) AS rn
                FROM m
            )
            SELECT tbl, k1, k2, val
            FROM last WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_mor_apply": """
            WITH cuts AS (
                SELECT CAST(floor(max(event_id) / 3) AS BIGINT) AS c1,
                       CAST(floor(max(event_id) * 2 / 3) AS BIGINT) AS c2
                FROM events
            ),
            ek AS (
                SELECT concat('c', CAST(user_id % 40 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 5 AS INT) AS turn_idx,
                       event_id, event_type,
                       CASE WHEN event_id <= (SELECT c1 FROM cuts) THEN 1
                            WHEN event_id <= (SELECT c2 FROM cuts) THEN 2
                            ELSE 3 END AS batch
                FROM events
            ),
            lastev AS (
                SELECT conv_id, turn_idx, batch, event_id,
                       CASE WHEN event_type = 'error' THEN 'DELETE'
                            WHEN event_type = 'click' THEN 'REPLACE'
                            ELSE 'PATCH' END AS kind
                FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx, batch
                        ORDER BY event_id DESC
                    ) AS rn FROM ek
                ) WHERE rn = 1
            ),
            cols AS (
                SELECT conv_id, turn_idx, batch, kind,
                       CASE WHEN event_id % 3 = 0 AND kind <> 'DELETE'
                            THEN concat('r', CAST(event_id AS VARCHAR))
                            END AS role_v,
                       (event_id % 3 = 0
                        OR kind IN ('REPLACE', 'DELETE')) AS role_s,
                       CASE WHEN event_id % 2 = 0 AND kind <> 'DELETE'
                            THEN concat('t', CAST(event_id AS VARCHAR))
                            END AS text_v,
                       (event_id % 2 = 0
                        OR kind IN ('REPLACE', 'DELETE')) AS text_s,
                       CASE WHEN event_id % 7 = 0 AND kind <> 'DELETE'
                            THEN concat('x', CAST(event_id AS VARCHAR))
                            END AS tool_v,
                       (event_id % 7 = 0
                        OR kind IN ('REPLACE', 'DELETE')) AS tool_s
                FROM lastev
            ),
            bar AS (
                SELECT conv_id, turn_idx,
                       max(batch) FILTER (
                           WHERE kind IN ('REPLACE', 'DELETE')
                       ) AS barrier,
                       max(batch) AS last_b
                FROM cols GROUP BY conv_id, turn_idx
            ),
            alive AS (
                SELECT b.conv_id, b.turn_idx, b.barrier
                FROM bar b
                JOIN cols lk ON lk.conv_id = b.conv_id
                    AND lk.turn_idx = b.turn_idx AND lk.batch = b.last_b
                WHERE lk.kind <> 'DELETE'
            ),
            picks AS (
                SELECT c.conv_id, c.turn_idx,
                       max(c.batch) FILTER (WHERE c.role_s
                           AND (a.barrier IS NULL
                                OR c.batch >= a.barrier)) AS rb,
                       max(c.batch) FILTER (WHERE c.text_s
                           AND (a.barrier IS NULL
                                OR c.batch >= a.barrier)) AS tb,
                       max(c.batch) FILTER (WHERE c.tool_s
                           AND (a.barrier IS NULL
                                OR c.batch >= a.barrier)) AS xb
                FROM cols c
                JOIN alive a USING (conv_id, turn_idx)
                GROUP BY c.conv_id, c.turn_idx
            )
            SELECT p.conv_id, p.turn_idx,
                   cr.role_v AS role, ct.text_v AS text,
                   cx.tool_v AS tool
            FROM picks p
            LEFT JOIN cols cr ON cr.conv_id = p.conv_id
                AND cr.turn_idx = p.turn_idx AND cr.batch = p.rb
            LEFT JOIN cols ct ON ct.conv_id = p.conv_id
                AND ct.turn_idx = p.turn_idx AND ct.batch = p.tb
            LEFT JOIN cols cx ON cx.conv_id = p.conv_id
                AND cx.turn_idx = p.turn_idx AND cx.batch = p.xb
        """,
        "cdc_bootstrap": """
            WITH c AS (
                SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS c
                FROM events
            ),
            ek AS (
                SELECT concat('c', CAST(user_id % 40 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 5 AS INT) AS turn_idx,
                       event_id, event_type
                FROM events
            ),
            snap AS (
                SELECT conv_id, turn_idx, event_id, event_type FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx
                        ORDER BY event_id DESC
                    ) AS rn
                    FROM ek WHERE event_id <= (SELECT c FROM c)
                ) WHERE rn = 1 AND event_type <> 'error'
            ),
            tail AS (
                SELECT conv_id, turn_idx, event_id, event_type FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx
                        ORDER BY event_id DESC
                    ) AS rn
                    FROM ek WHERE event_id > (SELECT c FROM c)
                ) WHERE rn = 1
            ),
            merged AS (
                SELECT COALESCE(t.conv_id, s.conv_id) AS conv_id,
                       COALESCE(t.turn_idx, s.turn_idx) AS turn_idx,
                       CASE WHEN t.conv_id IS NULL
                            THEN concat('t', CAST(s.event_id AS VARCHAR))
                            ELSE concat('t', CAST(t.event_id AS VARCHAR))
                            END AS text,
                       COALESCE(t.event_type, 'keep') AS final_type
                FROM snap s
                FULL OUTER JOIN tail t
                  ON s.conv_id = t.conv_id AND s.turn_idx = t.turn_idx
            )
            SELECT conv_id, turn_idx, text,
                   (SELECT max(event_id) FROM ek) AS hwm_lsn
            FROM merged WHERE final_type <> 'error'
        """,
        "cdc_lineage": """
            WITH c AS (
                SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS c
                FROM events
            ),
            ek AS (
                SELECT concat('c', CAST(user_id % 50 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 6 AS INT) AS turn_idx,
                       event_id, event_type,
                       CASE WHEN event_id <= (SELECT c FROM c)
                            THEN 1 ELSE 2 END AS batch
                FROM events
            ),
            folded AS (
                SELECT conv_id, turn_idx, batch,
                       max(event_id) AS last_lsn,
                       CAST(count(*) AS BIGINT) AS n_changes
                FROM ek GROUP BY conv_id, turn_idx, batch
            ),
            lastk AS (
                SELECT conv_id, turn_idx, batch, event_type FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx, batch
                        ORDER BY event_id DESC
                    ) AS rn FROM ek
                ) WHERE rn = 1
            ),
            fb AS (
                SELECT f.conv_id, f.turn_idx, f.batch, f.last_lsn,
                       f.n_changes,
                       CASE WHEN l.event_type = 'error'
                            THEN 1 ELSE 0 END AS is_del,
                       CAST(CAST(concat(
                           '0x', substr(md5(f.conv_id), 1, 15)
                       ) AS BIGINT) % 8 AS INT) AS bucket
                FROM folded f
                JOIN lastk l USING (conv_id, turn_idx, batch)
            ),
            per AS (
                SELECT bucket, batch,
                       CAST(count(*) AS BIGINT) AS n_keys,
                       CAST(sum(is_del) AS BIGINT) AS n_deletes,
                       CAST(sum(n_changes) AS BIGINT) AS n_changes,
                       min(last_lsn) AS lsn_min,
                       max(last_lsn) AS lsn_max
                FROM fb GROUP BY bucket, batch
            )
            SELECT bucket, batch AS last_batch, n_keys, n_deletes,
                   n_changes, lsn_min, lsn_max
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY bucket ORDER BY batch DESC
                ) AS rn FROM per
            ) WHERE rn = 1
        """,
        "cdc_batch_metrics": """
            -- re-derives every batch's merge metrics from the
            -- deterministic event_id-thirds framing
            WITH m AS (SELECT max(event_id) AS mx FROM events),
            ek AS (
                SELECT concat('c', CAST(user_id % 50 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 6 AS INT) AS turn_idx,
                       event_id, event_type,
                       CASE WHEN event_id <= (SELECT mx // 3 FROM m)
                                THEN 1
                            WHEN event_id <=
                                 (SELECT (2 * mx) // 3 FROM m)
                                THEN 2
                            ELSE 3 END AS batch
                FROM events
            ),
            folded AS (
                SELECT conv_id, turn_idx, batch,
                       max(event_id) AS last_lsn,
                       CAST(count(*) AS BIGINT) AS n_changes
                FROM ek GROUP BY 1, 2, 3
            ),
            lastk AS (
                SELECT conv_id, turn_idx, batch, event_type FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx, batch
                        ORDER BY event_id DESC
                    ) AS rn FROM ek
                ) WHERE rn = 1
            ),
            fb AS (
                SELECT f.conv_id, f.turn_idx, f.batch, f.last_lsn,
                       f.n_changes,
                       CASE WHEN l.event_type = 'error'
                            THEN 1 ELSE 0 END AS is_del,
                       CAST(CAST(concat(
                           '0x', substr(md5(f.conv_id), 1, 15)
                       ) AS BIGINT) % 8 AS INT) AS bucket
                FROM folded f
                JOIN lastk l USING (conv_id, turn_idx, batch)
            )
            SELECT CAST(batch AS INT) AS batch_id,
                   CAST(count(*) AS BIGINT) AS applied_keys,
                   CAST(sum(n_changes) AS BIGINT) AS applied_changes,
                   CAST(sum(is_del) AS BIGINT) AS deletes,
                   CAST(count(DISTINCT bucket) AS BIGINT)
                       AS buckets_rewritten,
                   CAST(max(last_lsn) AS BIGINT) AS hwm_lsn
            FROM fb GROUP BY batch
        """,
        "cdc_changelog": """
            WITH c AS (
                SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS c
                FROM events
            ),
            ek AS (
                SELECT concat('c', CAST(user_id % 50 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 6 AS INT) AS turn_idx,
                       event_id, event_type,
                       CASE WHEN event_id <= (SELECT c FROM c)
                            THEN 1 ELSE 2 END AS batch
                FROM events
            ),
            folded AS (
                SELECT conv_id, turn_idx, batch,
                       max(event_id) AS last_lsn
                FROM ek GROUP BY conv_id, turn_idx, batch
            ),
            lastk AS (
                SELECT conv_id, turn_idx, batch,
                       CASE WHEN event_type = 'error'
                            THEN 'DELETE' ELSE 'PATCH' END AS kind
                FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx, batch
                        ORDER BY event_id DESC
                    ) AS rn FROM ek
                ) WHERE rn = 1
            ),
            fb AS (
                SELECT f.conv_id, f.turn_idx, f.batch, f.last_lsn,
                       l.kind
                FROM folded f
                JOIN lastk l USING (conv_id, turn_idx, batch)
            ),
            b1 AS (SELECT * FROM fb WHERE batch = 1),
            b2 AS (SELECT * FROM fb WHERE batch = 2),
            -- state after batch 1 = its surviving (non-DELETE) keys
            s1 AS (
                SELECT conv_id, turn_idx FROM b1 WHERE kind = 'PATCH'
            ),
            feed1 AS (
                SELECT conv_id, turn_idx, 'INSERT' AS change_type,
                       concat('t', CAST(last_lsn AS VARCHAR)) AS text,
                       last_lsn, CAST(1 AS BIGINT) AS snapshot_id
                FROM b1 WHERE kind = 'PATCH'
            ),
            feed2 AS (
                SELECT b2.conv_id, b2.turn_idx,
                       CASE WHEN b2.kind = 'DELETE' THEN 'DELETE'
                            WHEN s1.conv_id IS NULL THEN 'INSERT'
                            ELSE 'UPDATE' END AS change_type,
                       CASE WHEN b2.kind = 'DELETE' THEN NULL
                            ELSE concat(
                                't', CAST(b2.last_lsn AS VARCHAR))
                            END AS text,
                       b2.last_lsn, CAST(2 AS BIGINT) AS snapshot_id
                FROM b2 LEFT JOIN s1
                  ON b2.conv_id = s1.conv_id
                 AND b2.turn_idx = s1.turn_idx
                WHERE NOT (b2.kind = 'DELETE' AND s1.conv_id IS NULL)
            )
            SELECT * FROM feed1 UNION ALL SELECT * FROM feed2
        """,
        "cdc_scd2": """
            WITH m AS (SELECT max(event_id) AS m FROM events),
            ek AS (
                SELECT concat('c', CAST(user_id % 50 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 6 AS INT) AS turn_idx,
                       event_id, event_type,
                       CASE WHEN event_id <=
                                 (SELECT CAST(floor(m / 3) AS BIGINT)
                                  FROM m) THEN 1
                            WHEN event_id <=
                                 (SELECT CAST(floor(m * 2 / 3)
                                              AS BIGINT) FROM m) THEN 2
                            ELSE 3 END AS batch
                FROM events
            ),
            folded AS (
                SELECT conv_id, turn_idx, batch,
                       max(event_id) AS last_lsn
                FROM ek GROUP BY conv_id, turn_idx, batch
            ),
            lastk AS (
                SELECT conv_id, turn_idx, batch,
                       CASE WHEN event_type = 'error'
                            THEN 'DELETE' ELSE 'PATCH' END AS kind
                FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx, batch
                        ORDER BY event_id DESC
                    ) AS rn FROM ek
                ) WHERE rn = 1
            ),
            fb AS (
                SELECT f.conv_id, f.turn_idx, f.batch, f.last_lsn,
                       l.kind
                FROM folded f
                JOIN lastk l USING (conv_id, turn_idx, batch)
            ),
            b1 AS (SELECT * FROM fb WHERE batch = 1),
            b2 AS (SELECT * FROM fb WHERE batch = 2),
            b3 AS (SELECT * FROM fb WHERE batch = 3),
            s1 AS (
                SELECT conv_id, turn_idx FROM b1 WHERE kind = 'PATCH'
            ),
            feed1 AS (
                SELECT conv_id, turn_idx, 'INSERT' AS change_type,
                       concat('t', CAST(last_lsn AS VARCHAR)) AS text,
                       last_lsn, CAST(1 AS BIGINT) AS snapshot_id
                FROM b1 WHERE kind = 'PATCH'
            ),
            feed2 AS (
                SELECT b2.conv_id, b2.turn_idx,
                       CASE WHEN b2.kind = 'DELETE' THEN 'DELETE'
                            WHEN s1.conv_id IS NULL THEN 'INSERT'
                            ELSE 'UPDATE' END AS change_type,
                       CASE WHEN b2.kind = 'DELETE' THEN NULL
                            ELSE concat(
                                't', CAST(b2.last_lsn AS VARCHAR))
                            END AS text,
                       b2.last_lsn, CAST(2 AS BIGINT) AS snapshot_id
                FROM b2 LEFT JOIN s1
                  ON b2.conv_id = s1.conv_id
                 AND b2.turn_idx = s1.turn_idx
                WHERE NOT (b2.kind = 'DELETE' AND s1.conv_id IS NULL)
            ),
            s2 AS (
                SELECT conv_id, turn_idx FROM (
                    SELECT conv_id, turn_idx FROM s1
                    UNION
                    SELECT conv_id, turn_idx FROM b2
                    WHERE kind = 'PATCH'
                ) u
                WHERE NOT EXISTS (
                    SELECT 1 FROM b2 d
                    WHERE d.kind = 'DELETE'
                      AND d.conv_id = u.conv_id
                      AND d.turn_idx = u.turn_idx
                )
            ),
            feed3 AS (
                SELECT b3.conv_id, b3.turn_idx,
                       CASE WHEN b3.kind = 'DELETE' THEN 'DELETE'
                            WHEN s2.conv_id IS NULL THEN 'INSERT'
                            ELSE 'UPDATE' END AS change_type,
                       CASE WHEN b3.kind = 'DELETE' THEN NULL
                            ELSE concat(
                                't', CAST(b3.last_lsn AS VARCHAR))
                            END AS text,
                       b3.last_lsn, CAST(3 AS BIGINT) AS snapshot_id
                FROM b3 LEFT JOIN s2
                  ON b3.conv_id = s2.conv_id
                 AND b3.turn_idx = s2.turn_idx
                WHERE NOT (b3.kind = 'DELETE' AND s2.conv_id IS NULL)
            ),
            feed AS (
                SELECT * FROM feed1
                UNION ALL SELECT * FROM feed2
                UNION ALL SELECT * FROM feed3
            ),
            hist AS (
                SELECT conv_id, turn_idx, change_type, text,
                       last_lsn AS valid_from_lsn,
                       snapshot_id AS valid_from_snap,
                       lead(last_lsn) OVER w AS valid_to_lsn,
                       lead(snapshot_id) OVER w AS valid_to_snap
                FROM feed
                WINDOW w AS (
                    PARTITION BY conv_id, turn_idx
                    ORDER BY snapshot_id, last_lsn
                )
            )
            SELECT conv_id, turn_idx, text,
                   valid_from_lsn, valid_from_snap,
                   valid_to_lsn, valid_to_snap,
                   (valid_to_lsn IS NULL) AS is_current
            FROM hist WHERE change_type <> 'DELETE'
        """,
        "cdc_snapshot_diff": """
            WITH c AS (
                SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS c
                FROM events
            ),
            ek AS (
                SELECT concat('c', CAST(user_id % 50 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 6 AS INT) AS turn_idx,
                       event_id, event_type,
                       CASE WHEN event_id <= (SELECT c FROM c)
                            THEN 1 ELSE 2 END AS batch
                FROM events
            ),
            folded AS (
                SELECT conv_id, turn_idx, batch,
                       max(event_id) AS last_lsn
                FROM ek GROUP BY conv_id, turn_idx, batch
            ),
            lastk AS (
                SELECT conv_id, turn_idx, batch,
                       CASE WHEN event_type = 'error'
                            THEN 'DELETE' ELSE 'PATCH' END AS kind
                FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx, batch
                        ORDER BY event_id DESC
                    ) AS rn FROM ek
                ) WHERE rn = 1
            ),
            fb AS (
                SELECT f.conv_id, f.turn_idx, f.batch, f.last_lsn,
                       l.kind
                FROM folded f
                JOIN lastk l USING (conv_id, turn_idx, batch)
            ),
            -- state at snapshot 1 / snapshot 2 (batch-2 verdict wins)
            s1 AS (
                SELECT conv_id, turn_idx, last_lsn FROM fb
                WHERE batch = 1 AND kind = 'PATCH'
            ),
            b2 AS (SELECT * FROM fb WHERE batch = 2)
            SELECT b2.conv_id, b2.turn_idx,
                   CASE WHEN b2.kind = 'DELETE' THEN 'DELETE'
                        WHEN s1.conv_id IS NULL THEN 'INSERT'
                        ELSE 'UPDATE' END AS change_type,
                   CASE WHEN b2.kind = 'DELETE' THEN NULL
                        ELSE concat('t', CAST(b2.last_lsn AS VARCHAR))
                        END AS text,
                   CASE WHEN s1.conv_id IS NULL THEN NULL
                        ELSE concat('t', CAST(s1.last_lsn AS VARCHAR))
                        END AS _pre_text
            FROM b2 LEFT JOIN s1
              ON b2.conv_id = s1.conv_id
             AND b2.turn_idx = s1.turn_idx
            WHERE NOT (b2.kind = 'DELETE' AND s1.conv_id IS NULL)
        """,
        "cdc_incremental_agg": """
            WITH c AS (
                SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS c
                FROM events
            ),
            ek AS (
                SELECT concat('c', CAST(user_id % 50 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 6 AS INT) AS turn_idx,
                       event_id, event_type,
                       CASE WHEN event_id <= (SELECT c FROM c)
                            THEN 1 ELSE 2 END AS batch
                FROM events
            ),
            folded AS (
                SELECT conv_id, turn_idx, batch,
                       max(event_id) AS last_lsn
                FROM ek GROUP BY conv_id, turn_idx, batch
            ),
            lastk AS (
                SELECT conv_id, turn_idx, batch,
                       CASE WHEN event_type = 'error'
                            THEN 'DELETE' ELSE 'PATCH' END AS kind
                FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx, batch
                        ORDER BY event_id DESC
                    ) AS rn FROM ek
                ) WHERE rn = 1
            ),
            fb AS (
                SELECT f.conv_id, f.turn_idx, f.batch, f.last_lsn,
                       l.kind
                FROM folded f
                JOIN lastk l USING (conv_id, turn_idx, batch)
            ),
            b1 AS (SELECT * FROM fb WHERE batch = 1),
            b2 AS (SELECT * FROM fb WHERE batch = 2),
            -- final state: batch-2 verdict wins, else batch-1's
            final AS (
                SELECT COALESCE(b2.conv_id, b1.conv_id) AS conv_id,
                       CASE WHEN b2.conv_id IS NOT NULL
                            THEN b2.kind ELSE b1.kind END AS kind,
                       CASE WHEN b2.conv_id IS NOT NULL
                            THEN b2.last_lsn ELSE b1.last_lsn
                            END AS last_lsn
                FROM b1 FULL OUTER JOIN b2
                  ON b1.conv_id = b2.conv_id
                 AND b1.turn_idx = b2.turn_idx
            )
            SELECT conv_id,
                   CAST(count(*) AS BIGINT) AS n_turns,
                   CAST(sum(length(concat(
                       't', CAST(last_lsn AS VARCHAR)
                   ))) AS BIGINT) AS text_chars
            FROM final WHERE kind = 'PATCH'
            GROUP BY conv_id
        """,
        "doc_zorder_key": _zorder_oracle_sql(),
        "domain_pagerank": _pagerank_oracle_sql(),
        "doc_bpe_merges": _bpe_merges_oracle_sql(_BPE_MERGES),
        "doc_bpe_tokenize": _bpe_tokenize_oracle_sql(_BPE_MERGES),
        "corpus_train_shards": _train_shards_oracle_sql(_BPE_MERGES),
        "doc_mixture_sample": _mixture_oracle_ctes() + """
            SELECT doc_id, source, n_copies, domain_quota, domain_docs
            FROM k WHERE n_copies >= 1
        """,
        "cdc_quarantine": """
            WITH ch AS (
                SELECT event_id, user_id, event_type,
                       (row_number() OVER (ORDER BY event_id) - 1) AS idx
                FROM events WHERE event_id < 4000
            ),
            good AS (
                SELECT 'u' || CAST(user_id % 40 AS VARCHAR) AS metric_id,
                       event_type, event_id, idx
                FROM ch WHERE (idx // 20) % 7 != 3
            ),
            lastc AS (
                SELECT metric_id, event_type, event_id,
                       row_number() OVER (
                           PARTITION BY metric_id ORDER BY idx DESC
                       ) AS rn
                FROM good
            ),
            state AS (
                SELECT 'state' AS kind, metric_id AS k,
                       event_type AS v, CAST(event_id AS BIGINT) AS n
                FROM lastc WHERE rn = 1 AND event_type != 'error'
            ),
            dead AS (
                SELECT 'q' AS kind, CAST(t.i AS VARCHAR) AS k,
                       'WireFormatError: varint longer than 10 bytes'
                           AS v,
                       CAST(-1 AS BIGINT) AS n
                FROM (SELECT DISTINCT idx // 20 AS i FROM ch) t
                WHERE t.i % 7 = 3
            )
            SELECT kind, k, v, n FROM state
            UNION ALL SELECT kind, k, v, n FROM dead
        """,
        "cdc_schema_widening": """
            WITH src AS (
                SELECT event_id,
                       'u' || CAST(user_id % 40 AS VARCHAR) AS metric_id,
                       event_type
                FROM events WHERE event_id < 4000),
            c AS (SELECT CAST(max(event_id) // 2 AS BIGINT) cutoff
                  FROM src),
            last AS (SELECT metric_id, max(event_id) AS last_eid
                     FROM src GROUP BY metric_id),
            fin AS (SELECT l.metric_id, s.event_type, l.last_eid
                    FROM last l JOIN src s
                      ON s.metric_id = l.metric_id
                     AND s.event_id = l.last_eid)
            SELECT f.metric_id,
                   f.event_type AS label,
                   CAST(CASE WHEN f.last_eid > (SELECT cutoff FROM c)
                             THEN f.last_eid + 7000000000
                             ELSE f.last_eid END AS BIGINT) AS n_tokens,
                   'bigint' AS col_type
            FROM fin f WHERE f.event_type <> 'error'
        """,
        "doc_mixture_summary": _mixture_oracle_ctes() + """,
            s AS (SELECT source, sum(n_copies)::BIGINT achieved
                  FROM k GROUP BY source)
            SELECT q.source, q.weight, q.quota,
                   coalesce(c.n, 0)::BIGINT AS n_docs,
                   coalesce(s.achieved, 0)::BIGINT AS achieved
            FROM q LEFT JOIN c USING (source) LEFT JOIN s USING (source)
        """,
        "event_bloom_prune": """
            WITH p AS (
                SELECT DISTINCT user_id FROM events
                WHERE event_type = 'purchase'
            ),
            pos AS (
                SELECT user_id,
                       CAST(concat('0x', substr(md5(concat(
                           CAST(user_id AS VARCHAR), ':0'
                       )), 1, 12)) AS BIGINT) % 4096 AS pp
                FROM p
                UNION ALL
                SELECT user_id,
                       CAST(concat('0x', substr(md5(concat(
                           CAST(user_id AS VARCHAR), ':1'
                       )), 1, 12)) AS BIGINT) % 4096
                FROM p
                UNION ALL
                SELECT user_id,
                       CAST(concat('0x', substr(md5(concat(
                           CAST(user_id AS VARCHAR), ':2'
                       )), 1, 12)) AS BIGINT) % 4096
                FROM p
            ),
            words AS (
                SELECT pp // 32 AS word,
                       bit_or(CAST(1 AS BIGINT)
                              << CAST(pp % 32 AS INT)) AS bits
                FROM pos GROUP BY 1
            ),
            u AS (SELECT DISTINCT user_id FROM events),
            upos AS (
                SELECT user_id, s.i,
                       CAST(concat('0x', substr(md5(concat(
                           CAST(user_id AS VARCHAR), ':',
                           CAST(s.i AS VARCHAR)
                       )), 1, 12)) AS BIGINT) % 4096 AS pp
                FROM u, UNNEST([0, 1, 2]) AS s(i)
            ),
            uhit AS (
                SELECT up.user_id,
                       min(CASE WHEN w.bits IS NOT NULL
                                AND ((w.bits >> CAST(up.pp % 32
                                     AS INT)) & 1) = 1
                                THEN 1 ELSE 0 END) AS might
                FROM upos up
                LEFT JOIN words w ON w.word = up.pp // 32
                GROUP BY 1
            )
            SELECT e.event_type,
                   CAST(sum(h.might) AS BIGINT) AS n_pass,
                   CAST(sum(CASE WHEN h.might = 1
                            AND p.user_id IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
                   CAST(sum(CASE WHEN h.might = 1
                            AND p.user_id IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_false_pos
            FROM events e
            JOIN uhit h USING (user_id)
            LEFT JOIN p ON p.user_id = e.user_id
            GROUP BY 1
        """,
        "event_quantiles": """
            WITH q AS (
                SELECT event_type,
                       quantile_cont(value, [0.5, 0.9, 0.99]) AS q
                FROM events GROUP BY 1
            )
            SELECT event_type,
                   floor(q[1] * 1000000) / 1000000 AS p50,
                   floor(q[2] * 1000000) / 1000000 AS p90,
                   floor(q[3] * 1000000) / 1000000 AS p99
            FROM q
        """,
        "event_distinct_sketch": """
            WITH h AS (
                SELECT event_type,
                       CAST(concat('0x', substr(
                           md5(CAST(user_id AS VARCHAR)), 13, 4
                       )) AS BIGINT) % 64 AS b,
                       CAST(concat('0x', substr(
                           md5(CAST(user_id AS VARCHAR)), 1, 12
                       )) AS BIGINT) AS hv
                FROM events
            ),
            pb AS (
                SELECT event_type, b, min(hv) AS m
                FROM h GROUP BY 1, 2
            ),
            g AS (
                SELECT event_type,
                       CAST(sum(m + 1) AS BIGINT)
                       + (64 - count(*)) * 281474976710656 AS s,
                       64 - count(*) AS v
                FROM pb GROUP BY 1
            ),
            ex AS (
                SELECT event_type,
                       CAST(count(DISTINCT user_id) AS BIGINT)
                           AS exact_distinct
                FROM events GROUP BY 1
            ),
            est AS (
                SELECT g.event_type,
                       floor(
                           CASE WHEN (1152921504606846976.0 / s
                                      - 64.0) < 160.0 AND v > 0
                                THEN 64.0 * ln(64.0 / v)
                                ELSE 1152921504606846976.0 / s - 64.0
                           END * 10000
                       ) / 10000 AS est_distinct,
                       ex.exact_distinct
                FROM g JOIN ex USING (event_type)
            )
            SELECT event_type, est_distinct, exact_distinct,
                   floor(abs(est_distinct - exact_distinct)
                         / exact_distinct * 10000) / 10000 AS rel_err
            FROM est
        """,
        "event_cms_counts": """
            -- replays every CMS cell and every min-probe
            WITH cells AS (
                SELECT t.d,
                       CAST(concat('0x', substr(md5(concat(
                           CAST(t.d AS VARCHAR), '|',
                           CAST(e.user_id AS VARCHAR)
                       )), 1, 12)) AS BIGINT) % 256 AS col,
                       CAST(count(*) AS BIGINT) AS n
                FROM events e, range(4) t(d)
                GROUP BY 1, 2
            ),
            ex AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
                FROM events GROUP BY 1
            ),
            top AS (
                SELECT user_id, exact_n FROM ex
                ORDER BY exact_n DESC, user_id LIMIT 20
            ),
            probe AS (
                SELECT t.user_id, r.d,
                       CAST(concat('0x', substr(md5(concat(
                           CAST(r.d AS VARCHAR), '|',
                           CAST(t.user_id AS VARCHAR)
                       )), 1, 12)) AS BIGINT) % 256 AS col
                FROM top t, range(4) r(d)
            ),
            est AS (
                SELECT p.user_id,
                       CAST(min(coalesce(c.n, 0)) AS BIGINT) AS est_n
                FROM probe p LEFT JOIN cells c
                    ON p.d = c.d AND p.col = c.col
                GROUP BY 1
            )
            SELECT t.user_id, t.exact_n, est.est_n,
                   CAST(est.est_n - t.exact_n AS BIGINT) AS overest
            FROM top t JOIN est USING (user_id)
        """,
        "doc_weighted_sample": """
            WITH k AS (
                SELECT doc_id, n_chars,
                       pow((CAST(concat('0x', substr(
                               md5(CAST(doc_id AS VARCHAR)), 1, 12
                           )) AS BIGINT) + 1.0) / 281474976710656.0,
                           1.0 / n_chars) AS rawkey
                FROM documents
            )
            SELECT doc_id, n_chars,
                   floor(rawkey * 1000000000) / 1000000000 AS wkey
            FROM k
            ORDER BY rawkey DESC, doc_id
            LIMIT 50
        """,
        "event_interval_join": """
            WITH e AS (
                SELECT epoch_us(ts) AS us, event_type FROM events
            ),
            ih AS (
                SELECT us // 3600000000 AS iid,
                       min(us) AS s, max(us) AS e
                FROM e WHERE event_type = 'error'
                GROUP BY 1 HAVING count(*) >= 3
            )
            SELECT ih.iid, e.event_type, count(*) AS n_events
            FROM e JOIN ih ON e.us BETWEEN ih.s AND ih.e
            GROUP BY 1, 2
        """,
        "event_asof_join": """
            WITH u AS (
                SELECT user_id, epoch_us(ts) AS us, event_id,
                       0 AS tag,
                       CAST(NULL AS BIGINT) AS p_id,
                       CAST(NULL AS DOUBLE) AS p_val
                FROM events WHERE event_type = 'click'
                UNION ALL
                SELECT user_id, epoch_us(ts), event_id, 1,
                       event_id, value
                FROM events WHERE event_type = 'purchase'
            ),
            f AS (
                SELECT *,
                       last_value(p_id IGNORE NULLS) OVER w AS m_id,
                       last_value(CASE WHEN tag = 1 THEN us END
                                  IGNORE NULLS) OVER w AS m_us,
                       last_value(p_val IGNORE NULLS) OVER w AS m_val
                FROM u
                WINDOW w AS (
                    PARTITION BY user_id
                    ORDER BY us, tag, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                )
            )
            SELECT event_id AS click_id, user_id, us AS click_us,
                   m_id AS purchase_id, m_us AS purchase_us,
                   m_val AS value
            FROM f WHERE tag = 0
        """,
        "event_window_agg": """
            SELECT (epoch_us(ts) // 21600000000) * 21600000000
                       AS window_start_us,
                   (epoch_us(ts) // 21600000000) * 21600000000
                       + 21600000000 AS window_end_us,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2, 3
        """,
        "event_sessionize": """
            WITH e AS (
                SELECT user_id, event_id, event_type,
                       epoch_us(ts) AS us
                FROM events
            ),
            g AS (
                SELECT *,
                       CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS new_s
                FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
            ),
            s AS (
                SELECT *, CAST(sum(new_s) OVER (
                    PARTITION BY user_id ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING
                ) AS INT) AS session_idx
                FROM g
            )
            SELECT user_id, session_idx,
                   count(*) AS n_events,
                   min(us) AS start_us,
                   max(us) AS end_us,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
            FROM s GROUP BY user_id, session_idx
        """,
        "doc_bm25_topk": """
            WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS t
                FROM documents
            ),
            base AS (
                SELECT doc_id, len(t) AS dl,
                       len(list_filter(t, x -> x = 'spark'))  AS tf_spark,
                       len(list_filter(t, x -> x = 'merge'))  AS tf_merge,
                       len(list_filter(t, x -> x = 'window')) AS tf_window
                FROM t
            ),
            stats AS (
                SELECT count(*) AS n_docs, avg(dl) AS avgdl,
                       sum(CASE WHEN tf_spark  > 0 THEN 1 ELSE 0 END) AS df_spark,
                       sum(CASE WHEN tf_merge  > 0 THEN 1 ELSE 0 END) AS df_merge,
                       sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
                FROM base
            )
            SELECT doc_id,
                   floor((
                       ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
                       * (CAST(tf_spark AS DOUBLE) * (1.2 + 1.0)
                          / (CAST(tf_spark AS DOUBLE)
                             + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                     + ln((n_docs - df_merge + 0.5) / (df_merge + 0.5) + 1.0)
                       * (CAST(tf_merge AS DOUBLE) * (1.2 + 1.0)
                          / (CAST(tf_merge AS DOUBLE)
                             + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                     + ln((n_docs - df_window + 0.5) / (df_window + 0.5) + 1.0)
                       * (CAST(tf_window AS DOUBLE) * (1.2 + 1.0)
                          / (CAST(tf_window AS DOUBLE)
                             + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                   ) * 1000) / 1000 AS bm25
            FROM base CROSS JOIN stats
            WHERE tf_spark + tf_merge + tf_window > 0
            ORDER BY bm25 DESC, doc_id
            LIMIT 100
        """,
        "doc_decontaminate": f"""
            WITH {_SHINGLE_CTE},
            dsh AS (
                SELECT doc_id, unnest(list_distinct(s)) AS shingle
                FROM sh_lists
            ),
            eval_sh AS (
                SELECT DISTINCT shingle FROM dsh WHERE doc_id % 37 = 0
            ),
            corp AS (SELECT * FROM dsh WHERE doc_id % 37 <> 0),
            sizes AS (
                SELECT doc_id, count(*) AS n_shingles
                FROM corp GROUP BY doc_id
            ),
            m AS (
                SELECT c.doc_id, c.shingle
                FROM corp c JOIN eval_sh USING (shingle)
            ),
            oksh AS (
                SELECT shingle FROM m GROUP BY shingle
                HAVING count(*) <= 200
            ),
            ov AS (
                SELECT doc_id, count(*) AS n_overlap
                FROM m JOIN oksh USING (shingle) GROUP BY doc_id
            ),
            j AS (
                SELECT s.doc_id, s.n_shingles,
                       COALESCE(o.n_overlap, 0) AS n_overlap
                FROM sizes s LEFT JOIN ov o USING (doc_id)
            ),
            fr AS (
                SELECT floor(avg(
                           CASE WHEN n_overlap
                                     / CAST(n_shingles AS DOUBLE) >= 0.5
                                THEN 1.0 ELSE 0.0 END) * 1000000)
                       / 1000000 AS flagged_frac
                FROM j
            )
            SELECT doc_id, n_shingles, n_overlap,
                   floor(n_overlap / CAST(n_shingles AS DOUBLE) * 10000)
                       / 10000 AS overlap_ratio,
                   n_overlap / CAST(n_shingles AS DOUBLE) >= 0.5
                       AS flagged,
                   flagged_frac
            FROM j CROSS JOIN fr
        """,
        "doc_span_dedup": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ),
            sizes AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
            grams AS (
                SELECT doc_id, i AS start,
                       md5(array_to_string(
                           list_slice(t, i + 1, i + 8), ' ')) AS gram_h
                FROM toks, LATERAL (
                    SELECT unnest(range(0, greatest(len(t) - 7, 0))) AS i
                )
            ),
            dup AS (
                SELECT gram_h FROM grams GROUP BY 1 HAVING count(*) >= 2
            ),
            flagged AS (
                SELECT g.doc_id, g.start
                FROM grams g JOIN dup USING (gram_h)
            ),
            cover AS (
                SELECT doc_id,
                       least(8, coalesce(
                           lead(start) OVER (PARTITION BY doc_id
                                             ORDER BY start) - start,
                           8)) AS cov
                FROM flagged
            ),
            agg AS (
                SELECT doc_id, count(*) AS n_dup_grams,
                       sum(cov) AS dup_token_cov
                FROM cover GROUP BY doc_id
            )
            SELECT s.doc_id,
                   CAST(s.n_tokens AS BIGINT) AS n_tokens,
                   CAST(COALESCE(a.n_dup_grams, 0) AS BIGINT)
                       AS n_dup_grams,
                   CAST(COALESCE(a.dup_token_cov, 0) AS BIGINT)
                       AS dup_token_cov,
                   CASE WHEN s.n_tokens > 0
                        THEN floor(COALESCE(a.dup_token_cov, 0) * 10000
                                   / s.n_tokens) / 10000
                        ELSE 0.0 END AS cov_frac
            FROM sizes s LEFT JOIN agg a USING (doc_id)
        """,
        "doc_exact_dedup": """
            SELECT md5(text) AS text_hash,
                   min(doc_id) AS canonical_doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1 HAVING count(*) >= 1
        """,
        "media_resize": """
            SELECT doc_id AS media_id,
                   4 AS out_h, 4 AS out_w, 3 AS n_channels,
                   CAST(floor(list_sum(list_transform(range(0, 48),
                        t -> CAST((doc_id + (t//12)*48 + ((t%12)//3)*6
                                   + (t%3)) % 256 AS DOUBLE))) / 48)
                        AS INT) AS mean_pixel,
                   CAST(doc_id % 256 AS INT) AS corner00,
                   CAST((doc_id + 164) % 256 AS INT) AS corner11
            FROM documents WHERE doc_id < 200
        """,
        "transcript_render": """
            WITH turns AS (
                SELECT CAST(doc_id // 5 AS BIGINT) AS conv_id,
                       CAST(doc_id % 5 AS INT) AS turn_idx,
                       CASE WHEN doc_id % 5 = 0 THEN 'system'
                            WHEN (doc_id % 5) % 2 = 1 THEN 'user'
                            ELSE 'assistant' END AS role,
                       text
                FROM documents
            )
            SELECT conv_id,
                   CAST(count(*) AS BIGINT) AS n_turns,
                   CAST(length(string_agg('<|' || role || '|>' || text,
                        chr(10) ORDER BY turn_idx)) AS INT)
                       AS rendered_chars,
                   md5(string_agg('<|' || role || '|>' || text,
                        chr(10) ORDER BY turn_idx)) AS digest
            FROM turns GROUP BY conv_id
        """,
        "transcript_boilerplate": """
            WITH bp_turns AS (
                SELECT CAST(doc_id // 6 AS BIGINT) AS conv_id,
                       CAST(doc_id % 6 AS INT) AS turn_idx,
                       CASE WHEN doc_id % 6 = 0 THEN 'system'
                            WHEN doc_id % 6 % 2 = 1 THEN 'user'
                            ELSE 'assistant' END AS role,
                       CASE WHEN (doc_id // 6) % 4 = 1
                                 AND doc_id % 6 = 2
                            THEN 'I cannot help with that request.'
                            WHEN (doc_id // 6) % 5 = 2
                                 AND doc_id % 6 = 4
                            THEN 'Sure! Here is the result.'
                            ELSE text END AS text
                FROM documents
            ),
            bp_base AS (
                SELECT md5(text) AS reply_md5, conv_id, turn_idx
                FROM bp_turns
                WHERE role = 'assistant'
                  AND text IS NOT NULL AND text != ''
            ),
            bp_stats AS (
                SELECT reply_md5,
                       count(DISTINCT conv_id) AS n_convs,
                       count(*) AS n_turns,
                       min(conv_id) AS canon_conv
                FROM bp_base GROUP BY reply_md5
            ),
            bp_canon AS (
                SELECT b.reply_md5, min(b.turn_idx) AS canon_turn
                FROM bp_base b JOIN bp_stats s
                  ON s.reply_md5 = b.reply_md5
                 AND b.conv_id = s.canon_conv
                GROUP BY b.reply_md5
            )
            SELECT s.reply_md5, s.n_convs, s.n_turns,
                   s.canon_conv, c.canon_turn
            FROM bp_stats s JOIN bp_canon c USING (reply_md5)
            WHERE s.n_convs >= 2
        """,
        "transcript_tool_flow": """
            WITH turns AS (
                SELECT CAST(floor(doc_id / 6) AS BIGINT) AS conv_id,
                       CAST(doc_id % 6 AS INT) AS turn_idx,
                       CASE WHEN CAST(floor(doc_id / 6) AS BIGINT) % 3
                                 = 1 AND doc_id % 6 = 4 THEN 'tool'
                            WHEN doc_id % 6 = 0 THEN 'system'
                            WHEN doc_id % 6 % 2 = 1 THEN 'user'
                            ELSE 'assistant' END AS role,
                       CASE WHEN CAST(floor(doc_id / 6) AS BIGINT) % 3
                                 = 1 AND doc_id % 6 = 4
                            THEN concat('t', CAST(
                                CAST(floor(doc_id / 6) AS BIGINT) % 2
                                AS VARCHAR))
                            END AS tool
                FROM documents
            ),
            sig AS (
                SELECT conv_id,
                       CAST(count(*) AS BIGINT) AS n_turns,
                       CAST(sum(CASE WHEN role = 'tool' THEN 1
                                     ELSE 0 END) AS BIGINT)
                           AS n_tool_turns,
                       md5(string_agg(
                           role || ':' || coalesce(tool, ''), '|'
                           ORDER BY turn_idx)) AS flow_sig
                FROM turns GROUP BY conv_id
            ),
            grp AS (
                SELECT flow_sig,
                       CAST(count(*) AS BIGINT) AS flow_count,
                       min(conv_id) AS canonical_conv
                FROM sig GROUP BY flow_sig
            )
            SELECT s.conv_id, s.n_turns, s.n_tool_turns, s.flow_sig,
                   g.flow_count,
                   (s.conv_id = g.canonical_conv) AS is_canonical,
                   g.canonical_conv
            FROM sig s JOIN grp g USING (flow_sig)
        """,
        "transcript_branch_paths": """
            -- replays the branched-tree synthesis, then walks every
            -- leaf to its root with a recursive CTE (the sequential
            -- mirror of the engine's pointer-doubling list ranking)
            WITH RECURSIVE t AS (
                SELECT CAST(doc_id // 8 AS BIGINT) AS conv_id,
                       CAST(doc_id % 8 AS BIGINT) AS node_id,
                       CAST(CASE CAST(doc_id % 8 AS BIGINT)
                            WHEN 1 THEN 0
                            WHEN 2 THEN 1 WHEN 3 THEN 1
                            WHEN 4 THEN 2
                            WHEN 5 THEN 4 WHEN 6 THEN 4
                            WHEN 7 THEN (
                                CASE CAST(doc_id // 8 AS BIGINT) % 3
                                WHEN 0 THEN 1 WHEN 1 THEN 5
                                ELSE 6 END)
                            END AS BIGINT) AS parent_id
                FROM documents
            ),
            leaves AS (
                SELECT conv_id, node_id FROM t
                WHERE NOT EXISTS (
                    SELECT 1 FROM t p
                    WHERE p.conv_id = t.conv_id
                      AND p.parent_id = t.node_id
                )
            ),
            walk AS (
                SELECT l.conv_id, l.node_id AS leaf_id,
                       l.node_id AS cur,
                       CAST(l.node_id AS VARCHAR) AS path,
                       1 AS depth
                FROM leaves l
                UNION ALL
                SELECT w.conv_id, w.leaf_id, t.parent_id,
                       CAST(t.parent_id AS VARCHAR) || '/' || w.path,
                       w.depth + 1
                FROM walk w JOIN t ON t.conv_id = w.conv_id
                                  AND t.node_id = w.cur
                WHERE t.parent_id IS NOT NULL
            )
            SELECT w.conv_id, w.leaf_id,
                   CAST(w.depth AS INT) AS depth, w.path
            FROM walk w JOIN t ON t.conv_id = w.conv_id
                              AND t.node_id = w.cur
            WHERE t.parent_id IS NULL
        """,
        "transcript_pref_pairs": """
            -- replays the synthesis (roles + scores), ranks
            -- assistant siblings per (conv, parent) and emits one
            -- row per rejected sibling
            WITH t AS (
                SELECT CAST(doc_id // 8 AS BIGINT) AS conv_id,
                       CAST(doc_id % 8 AS BIGINT) AS node_id,
                       CAST(CASE CAST(doc_id % 8 AS BIGINT)
                            WHEN 1 THEN 0
                            WHEN 2 THEN 1 WHEN 3 THEN 1
                            WHEN 4 THEN 2
                            WHEN 5 THEN 4 WHEN 6 THEN 4
                            WHEN 7 THEN (
                                CASE CAST(doc_id // 8 AS BIGINT) % 3
                                WHEN 0 THEN 1 WHEN 1 THEN 5
                                ELSE 6 END)
                            END AS BIGINT) AS parent_id,
                       CASE
                           WHEN doc_id % 8 = 0 THEN 'system'
                           WHEN doc_id % 8 IN (1, 4) THEN 'user'
                           WHEN doc_id % 8 = 7 THEN (
                               CASE WHEN CAST(doc_id // 8 AS BIGINT)
                                         % 3 = 0
                                    THEN 'assistant' ELSE 'user' END)
                           ELSE 'assistant' END AS role,
                       CAST((CAST(doc_id // 8 AS BIGINT) * 7
                             + CAST(doc_id % 8 AS BIGINT) * 13) % 5
                            AS BIGINT) AS score
                FROM documents
            ),
            c AS (
                SELECT conv_id, parent_id, node_id, score FROM t
                WHERE role = 'assistant' AND parent_id IS NOT NULL
            ),
            r AS (
                SELECT *,
                       row_number() OVER (
                           PARTITION BY conv_id, parent_id
                           ORDER BY score DESC, node_id ASC
                       ) AS rn,
                       count(*) OVER (
                           PARTITION BY conv_id, parent_id
                       ) AS n
                FROM c
            ),
            ch AS (
                SELECT conv_id, parent_id, node_id AS chosen_id,
                       score AS chosen_score
                FROM r WHERE rn = 1 AND n >= 2
            )
            SELECT c.conv_id, c.parent_id, ch.chosen_id,
                   c.node_id AS rejected_id, ch.chosen_score,
                   c.score AS rejected_score,
                   ch.chosen_score - c.score AS margin
            FROM c JOIN ch USING (conv_id, parent_id)
            WHERE c.node_id <> ch.chosen_id
        """,
        "transcript_tree_sft": """
            -- composes the already-proven stages: best-path walk
            -- (render + score accumulated leaf→root, so the final
            -- string is in root→leaf order), ranking, and the
            -- portable md5 split
            WITH RECURSIVE t AS (
                SELECT CAST(doc_id // 8 AS BIGINT) AS conv_id,
                       CAST(doc_id % 8 AS BIGINT) AS node_id,
                       CAST(CASE CAST(doc_id % 8 AS BIGINT)
                            WHEN 1 THEN 0
                            WHEN 2 THEN 1 WHEN 3 THEN 1
                            WHEN 4 THEN 2
                            WHEN 5 THEN 4 WHEN 6 THEN 4
                            WHEN 7 THEN (
                                CASE CAST(doc_id // 8 AS BIGINT) % 3
                                WHEN 0 THEN 1 WHEN 1 THEN 5
                                ELSE 6 END)
                            END AS BIGINT) AS parent_id,
                       CASE
                           WHEN doc_id % 8 = 0 THEN 'system'
                           WHEN doc_id % 8 IN (1, 4) THEN 'user'
                           WHEN doc_id % 8 = 7 THEN (
                               CASE WHEN CAST(doc_id // 8 AS BIGINT)
                                         % 3 = 0
                                    THEN 'assistant' ELSE 'user' END)
                           ELSE 'assistant' END AS role,
                       CAST((CAST(doc_id // 8 AS BIGINT) * 7
                             + CAST(doc_id % 8 AS BIGINT) * 13) % 5
                            AS BIGINT) AS score,
                       substr(text, 1, 30) AS text
                FROM documents
            ),
            leaves AS (
                SELECT conv_id, node_id FROM t
                WHERE NOT EXISTS (
                    SELECT 1 FROM t p
                    WHERE p.conv_id = t.conv_id
                      AND p.parent_id = t.node_id
                )
            ),
            walk AS (
                SELECT l.conv_id, l.node_id AS leaf_id,
                       l.node_id AS cur, 1 AS depth,
                       t0.score AS total,
                       '<|' || t0.role || '|>' || t0.text AS rend
                FROM leaves l
                JOIN t t0 ON t0.conv_id = l.conv_id
                         AND t0.node_id = l.node_id
                UNION ALL
                SELECT w.conv_id, w.leaf_id, t.parent_id,
                       w.depth + 1, w.total + tp.score,
                       '<|' || tp.role || '|>' || tp.text
                           || chr(10) || w.rend
                FROM walk w
                JOIN t ON t.conv_id = w.conv_id
                      AND t.node_id = w.cur
                JOIN t tp ON tp.conv_id = w.conv_id
                         AND tp.node_id = t.parent_id
                WHERE t.parent_id IS NOT NULL
            ),
            fp AS (
                SELECT w.conv_id, w.leaf_id, w.depth, w.total, w.rend
                FROM walk w JOIN t ON t.conv_id = w.conv_id
                                  AND t.node_id = w.cur
                WHERE t.parent_id IS NULL
            ),
            rk AS (
                SELECT *, row_number() OVER (
                    PARTITION BY conv_id
                    ORDER BY total DESC, leaf_id ASC
                ) AS rn
                FROM fp
            )
            SELECT conv_id, leaf_id, total AS total_score,
                   CAST(depth AS BIGINT) AS n_turns,
                   CAST(length(rend) AS INT) AS rendered_chars,
                   md5(rend) AS digest,
                   CASE WHEN CAST(CAST(concat('0x', substr(
                            md5(CAST(conv_id AS VARCHAR)), 1, 15
                        )) AS BIGINT) % 100 AS INT) < 90 THEN 'train'
                        WHEN CAST(CAST(concat('0x', substr(
                            md5(CAST(conv_id AS VARCHAR)), 1, 15
                        )) AS BIGINT) % 100 AS INT) < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM rk WHERE rn = 1
        """,
        "transcript_win_matrix": """
            -- replays the pref-pair ranking, maps siblings to their
            -- policies (id mod 3), canonicalizes each game to the
            -- unordered (min, max) pair and aggregates
            WITH t AS (
                SELECT CAST(doc_id // 8 AS BIGINT) AS conv_id,
                       CAST(doc_id % 8 AS BIGINT) AS node_id,
                       CAST(CASE CAST(doc_id % 8 AS BIGINT)
                            WHEN 1 THEN 0
                            WHEN 2 THEN 1 WHEN 3 THEN 1
                            WHEN 4 THEN 2
                            WHEN 5 THEN 4 WHEN 6 THEN 4
                            WHEN 7 THEN (
                                CASE CAST(doc_id // 8 AS BIGINT) % 3
                                WHEN 0 THEN 1 WHEN 1 THEN 5
                                ELSE 6 END)
                            END AS BIGINT) AS parent_id,
                       CASE
                           WHEN doc_id % 8 = 0 THEN 'system'
                           WHEN doc_id % 8 IN (1, 4) THEN 'user'
                           WHEN doc_id % 8 = 7 THEN (
                               CASE WHEN CAST(doc_id // 8 AS BIGINT)
                                         % 3 = 0
                                    THEN 'assistant' ELSE 'user' END)
                           ELSE 'assistant' END AS role,
                       CAST((CAST(doc_id // 8 AS BIGINT) * 7
                             + CAST(doc_id % 8 AS BIGINT) * 13) % 5
                            AS BIGINT) AS score
                FROM documents
            ),
            c AS (
                SELECT conv_id, parent_id, node_id, score FROM t
                WHERE role = 'assistant' AND parent_id IS NOT NULL
            ),
            r AS (
                SELECT *,
                       row_number() OVER (
                           PARTITION BY conv_id, parent_id
                           ORDER BY score DESC, node_id ASC
                       ) AS rn,
                       count(*) OVER (
                           PARTITION BY conv_id, parent_id
                       ) AS n
                FROM c
            ),
            ch AS (
                SELECT conv_id, parent_id, node_id AS chosen_id
                FROM r WHERE rn = 1 AND n >= 2
            ),
            games AS (
                SELECT CAST(ch.chosen_id % 3 AS INT) AS w,
                       CAST(c.node_id % 3 AS INT) AS l
                FROM c JOIN ch USING (conv_id, parent_id)
                WHERE c.node_id <> ch.chosen_id
            ),
            canon AS (
                SELECT least(w, l) AS model_a,
                       greatest(w, l) AS model_b,
                       CASE WHEN w < l THEN 1 ELSE 0 END AS a_won
                FROM games WHERE w <> l
            )
            SELECT model_a, model_b,
                   CAST(sum(a_won) AS BIGINT) AS a_wins,
                   CAST(sum(1 - a_won) AS BIGINT) AS b_wins,
                   CAST(count(*) AS BIGINT) AS n_games,
                   floor(((CAST(sum(a_won) AS DOUBLE) / count(*))
                          * 10000)) / 10000 AS a_winrate4
            FROM canon GROUP BY model_a, model_b
        """,
        "transcript_best_path": """
            -- walks every root→leaf path with a score-accumulating
            -- recursive CTE, then ranks (total DESC, leaf ASC)
            WITH RECURSIVE t AS (
                SELECT CAST(doc_id // 8 AS BIGINT) AS conv_id,
                       CAST(doc_id % 8 AS BIGINT) AS node_id,
                       CAST(CASE CAST(doc_id % 8 AS BIGINT)
                            WHEN 1 THEN 0
                            WHEN 2 THEN 1 WHEN 3 THEN 1
                            WHEN 4 THEN 2
                            WHEN 5 THEN 4 WHEN 6 THEN 4
                            WHEN 7 THEN (
                                CASE CAST(doc_id // 8 AS BIGINT) % 3
                                WHEN 0 THEN 1 WHEN 1 THEN 5
                                ELSE 6 END)
                            END AS BIGINT) AS parent_id,
                       CAST((CAST(doc_id // 8 AS BIGINT) * 7
                             + CAST(doc_id % 8 AS BIGINT) * 13) % 5
                            AS BIGINT) AS score
                FROM documents
            ),
            leaves AS (
                SELECT conv_id, node_id FROM t
                WHERE NOT EXISTS (
                    SELECT 1 FROM t p
                    WHERE p.conv_id = t.conv_id
                      AND p.parent_id = t.node_id
                )
            ),
            walk AS (
                SELECT l.conv_id, l.node_id AS leaf_id,
                       l.node_id AS cur,
                       CAST(l.node_id AS VARCHAR) AS path,
                       1 AS depth, t0.score AS total
                FROM leaves l
                JOIN t t0 ON t0.conv_id = l.conv_id
                         AND t0.node_id = l.node_id
                UNION ALL
                SELECT w.conv_id, w.leaf_id, t.parent_id,
                       CAST(t.parent_id AS VARCHAR) || '/' || w.path,
                       w.depth + 1, w.total + tp.score
                FROM walk w
                JOIN t ON t.conv_id = w.conv_id
                      AND t.node_id = w.cur
                JOIN t tp ON tp.conv_id = w.conv_id
                         AND tp.node_id = t.parent_id
                WHERE t.parent_id IS NOT NULL
            ),
            fp AS (
                SELECT w.conv_id, w.leaf_id,
                       CAST(w.depth AS INT) AS depth, w.path, w.total
                FROM walk w JOIN t ON t.conv_id = w.conv_id
                                  AND t.node_id = w.cur
                WHERE t.parent_id IS NULL
            ),
            rk AS (
                SELECT *,
                       row_number() OVER (
                           PARTITION BY conv_id
                           ORDER BY total DESC, leaf_id ASC
                       ) AS rn,
                       count(*) OVER (PARTITION BY conv_id) AS np
                FROM fp
            )
            SELECT conv_id, leaf_id, depth, path,
                   total AS total_score,
                   CAST(np AS BIGINT) AS n_paths
            FROM rk WHERE rn = 1
        """,
        "transcript_context_fit": """
            -- replays the turn synthesis and both window passes
            -- (system-token total + reverse suffix running sum)
            WITH t AS (
                SELECT CAST(doc_id // 10 AS BIGINT) AS conv_id,
                       CAST(doc_id % 10 AS INT) AS turn_idx,
                       CASE WHEN doc_id % 10 = 0 THEN 'system'
                            WHEN (doc_id % 10) % 2 = 1 THEN 'user'
                            ELSE 'assistant' END AS role,
                       CAST(len(string_split(text, ' ')) AS BIGINT)
                           AS n_tokens
                FROM documents
            ),
            w AS (
                SELECT *,
                       sum(CASE WHEN role = 'system' THEN n_tokens
                                ELSE 0 END) OVER (
                           PARTITION BY conv_id
                       ) AS sys_tokens,
                       sum(CASE WHEN role = 'system' THEN 0
                                ELSE n_tokens END) OVER (
                           PARTITION BY conv_id
                           ORDER BY turn_idx DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW
                       ) AS suffix
                FROM t
            )
            SELECT conv_id, turn_idx, role, n_tokens, sys_tokens,
                   CASE WHEN role = 'system' THEN NULL
                        ELSE suffix END AS suffix_tokens,
                   (role = 'system'
                    OR suffix <= greatest(300 - sys_tokens, 0))
                       AS kept
            FROM w
        """,
        "cdc_shard_refresh": """
            -- derives batch 3's exact CDF classification against the
            -- post-batch-2 state, the final live table, and the
            -- md5%8 shard placement of both
            WITH c AS (
                SELECT CAST(floor(max(event_id) / 3) AS BIGINT) AS c1,
                       CAST(floor(max(event_id) * 2 / 3) AS BIGINT)
                           AS c2
                FROM events
            ),
            ek AS (
                SELECT concat('c', CAST(user_id % 50 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 6 AS INT) AS turn_idx,
                       event_id, event_type,
                       CASE WHEN event_id <= (SELECT c1 FROM c) THEN 1
                            WHEN event_id <= (SELECT c2 FROM c) THEN 2
                            ELSE 3 END AS batch
                FROM events
            ),
            fb AS (
                SELECT conv_id, turn_idx, batch,
                       CASE WHEN event_type = 'error'
                            THEN 'DELETE' ELSE 'PATCH' END AS kind
                FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx, batch
                        ORDER BY event_id DESC
                    ) AS rn FROM ek
                ) WHERE rn = 1
            ),
            s12 AS (
                SELECT conv_id, turn_idx FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx
                        ORDER BY batch DESC
                    ) AS rn FROM fb WHERE batch <= 2
                ) WHERE rn = 1 AND kind = 'PATCH'
            ),
            b3 AS (SELECT * FROM fb WHERE batch = 3),
            feed3 AS (
                SELECT b3.conv_id,
                       CASE WHEN b3.kind = 'DELETE' THEN 'DELETE'
                            WHEN s12.conv_id IS NULL THEN 'INSERT'
                            ELSE 'UPDATE' END AS change_type
                FROM b3 LEFT JOIN s12
                  ON b3.conv_id = s12.conv_id
                 AND b3.turn_idx = s12.turn_idx
                WHERE NOT (b3.kind = 'DELETE' AND s12.conv_id IS NULL)
            ),
            live3 AS (
                SELECT conv_id, turn_idx FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx
                        ORDER BY batch DESC
                    ) AS rn FROM fb
                ) WHERE rn = 1 AND kind = 'PATCH'
            ),
            plan AS (
                SELECT CAST(CAST(concat(
                           '0x', substr(md5(conv_id), 1, 15)
                       ) AS BIGINT) % 8 AS INT) AS shard,
                       CAST(sum(CASE WHEN change_type = 'INSERT'
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_inserts,
                       CAST(sum(CASE WHEN change_type = 'UPDATE'
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_updates,
                       CAST(sum(CASE WHEN change_type = 'DELETE'
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_deletes
                FROM feed3 GROUP BY 1
            ),
            cur AS (
                SELECT CAST(CAST(concat(
                           '0x', substr(md5(conv_id), 1, 15)
                       ) AS BIGINT) % 8 AS INT) AS shard,
                       CAST(count(*) AS BIGINT) AS n_rows_after
                FROM live3 GROUP BY 1
            )
            SELECT p.shard, p.n_inserts, p.n_updates, p.n_deletes,
                   COALESCE(cur.n_rows_after, 0) AS n_rows_after
            FROM plan p LEFT JOIN cur USING (shard)
        """,
        "doc_pseudonymize": """
            -- replays the keyed-token construction and the in-text
            -- scrub byte-for-byte (md5 over UTF-8 is engine-portable)
            WITH a AS (
                SELECT doc_id, text,
                       'user' || lpad(CAST(doc_id % 37 AS VARCHAR),
                                      2, '0') AS author
                FROM documents
            ),
            t AS (
                SELECT doc_id, author,
                       'by ' || author || ': ' || substr(text, 1, 40)
                           AS body,
                       'subj_' || substr(
                           md5('pb3ld-demo-key|' || author), 1, 12
                       ) AS tok
                FROM a
            )
            SELECT doc_id, tok AS author_token,
                   replace(body, author, tok) AS scrubbed_body
            FROM t
        """,
        "cdc_erasure": """
            -- derives the post-two-merge live state (last event per
            -- key decides existence), the md5%4=0 erasure subjects,
            -- and the per-shard purged/remaining counts the real
            -- store must report after the erasure commit
            WITH ek AS (
                SELECT concat('c', CAST(user_id % 50 AS VARCHAR))
                           AS conv_id,
                       CAST(event_id % 6 AS INT) AS turn_idx,
                       event_id, event_type
                FROM events
            ),
            last AS (
                SELECT conv_id, turn_idx, event_type FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx
                        ORDER BY event_id DESC
                    ) AS rn FROM ek
                ) WHERE rn = 1
            ),
            live AS (
                SELECT conv_id, turn_idx FROM last
                WHERE event_type <> 'error'
            ),
            subj AS (
                SELECT DISTINCT conv_id FROM live
                WHERE CAST(CAST(concat(
                          '0x', substr(md5(conv_id), 1, 15)
                      ) AS BIGINT) % 4 AS INT) = 0
            ),
            tagged AS (
                SELECT l.conv_id, l.turn_idx,
                       (s.conv_id IS NOT NULL) AS is_subj,
                       CAST(CAST(concat(
                           '0x', substr(md5(l.conv_id), 1, 15)
                       ) AS BIGINT) % 8 AS INT) AS shard
                FROM live l LEFT JOIN subj s USING (conv_id)
            ),
            p AS (
                SELECT shard,
                       CAST(count(*) AS BIGINT) AS n_purged_rows,
                       CAST(count(DISTINCT conv_id) AS BIGINT)
                           AS n_purged_convs
                FROM tagged WHERE is_subj GROUP BY shard
            ),
            r AS (
                SELECT shard,
                       CAST(count(*) AS BIGINT) AS n_remaining_rows,
                       CAST(count(DISTINCT conv_id) AS BIGINT)
                           AS n_remaining_convs
                FROM tagged WHERE NOT is_subj GROUP BY shard
            )
            SELECT COALESCE(p.shard, r.shard) AS shard,
                   COALESCE(n_purged_rows, 0) AS n_purged_rows,
                   COALESCE(n_purged_convs, 0) AS n_purged_convs,
                   COALESCE(n_remaining_rows, 0) AS n_remaining_rows,
                   COALESCE(n_remaining_convs, 0) AS n_remaining_convs
            FROM p FULL OUTER JOIN r ON p.shard = r.shard
        """,
        "transcript_qa": """
            -- replays the defect injection, the canonical
            -- (turn_idx, role, is_empty) turn order, and every check
            WITH turns AS (
                SELECT CAST(doc_id // 6 AS BIGINT) AS conv_id,
                       CAST(CASE
                           WHEN (doc_id // 6) % 7 = 3 AND doc_id % 6 = 2
                               THEN 9
                           WHEN (doc_id // 6) % 7 = 5 AND doc_id % 6 = 4
                               THEN 3
                           ELSE doc_id % 6 END AS INT) AS i,
                       CASE
                           WHEN (doc_id // 6) % 5 = 1 AND doc_id % 6 = 4
                               THEN 'tool'
                           WHEN (doc_id // 6) % 5 = 2 AND doc_id % 6 = 3
                               THEN 'tool'
                           WHEN (doc_id // 6) % 11 = 2 AND doc_id % 6 = 3
                               THEN 'assistant'
                           WHEN doc_id % 6 = 0 THEN 'system'
                           WHEN (doc_id % 6) % 2 = 1 THEN 'user'
                           ELSE 'assistant' END AS r,
                       CASE
                           WHEN (doc_id // 6) % 13 = 7 AND doc_id % 6 = 1
                               THEN ''
                           ELSE text END AS text
                FROM documents
            ),
            c AS (
                SELECT conv_id, i, r,
                       (text IS NULL OR text = '') AS e
                FROM turns
            ),
            o AS (
                SELECT *, lag(r) OVER w AS pr,
                       row_number() OVER w AS rn
                FROM c WINDOW w AS (
                    PARTITION BY conv_id ORDER BY i, r, e
                )
            ),
            rep AS (
                SELECT conv_id,
                       CAST(count(*) AS INT) AS n_turns,
                       NOT (min(i) = 0
                            AND max(i) = count(DISTINCT i) - 1)
                           AS has_gap,
                       count(DISTINCT i) <> count(*) AS has_dup_idx,
                       CAST(sum(CASE WHEN pr IS NOT NULL AND pr = r
                                     THEN 1 ELSE 0 END)
                            + CASE WHEN max(CASE WHEN rn = 1 THEN r END)
                                       IN ('system', 'user')
                                   THEN 0 ELSE 1 END AS INT)
                           AS role_violations,
                       CAST(sum(CASE WHEN r = 'tool'
                                     AND (pr IS NULL
                                          OR pr <> 'assistant')
                                     THEN 1 ELSE 0 END) AS INT)
                           AS orphan_tools,
                       CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS INT)
                           AS empty_turns
                FROM o GROUP BY conv_id
            )
            SELECT *,
                   (NOT has_gap AND NOT has_dup_idx
                    AND role_violations = 0 AND orphan_tools = 0
                    AND empty_turns = 0) AS ok
            FROM rep
        """,
        "doc_vocab_growth": """
            -- replays first occurrences, deciles, the running sum
            WITH m AS (SELECT max(doc_id) AS mx FROM documents),
            f AS (
                SELECT t.tok, min(d.doc_id) AS first_doc
                FROM documents d,
                     unnest(list_append(
                         string_split(d.text, ' '),
                         'u' || CAST(d.doc_id // 7 AS VARCHAR)
                     )) AS t(tok)
                GROUP BY t.tok
            ),
            per AS (
                SELECT CAST(least(9, floor(
                           first_doc * 10 / ((SELECT mx FROM m) + 1)
                       )) AS INT) AS decile,
                       CAST(count(*) AS BIGINT) AS new_types
                FROM f GROUP BY 1
            )
            SELECT decile, new_types,
                   CAST(sum(new_types) OVER (
                       ORDER BY decile
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW
                   ) AS BIGINT) AS cum_types
            FROM per
        """,
        "doc_pack_chunks": """
            WITH base AS (
                SELECT doc_id, doc_id % 8 AS shard,
                       CAST(len(string_split(text, ' ')) AS INT)
                           AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT *, CAST(sum(n_tokens) OVER (
                            PARTITION BY shard ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS incl
                FROM base
            )
            SELECT doc_id, shard, n_tokens,
                   incl - n_tokens AS start_tok,
                   CAST((incl - n_tokens) // 512 AS BIGINT)
                       AS first_chunk,
                   CAST((incl - 1) // 512 AS BIGINT) AS last_chunk,
                   CAST((incl - 1) // 512
                        - (incl - n_tokens) // 512 + 1 AS BIGINT)
                       AS n_chunks
            FROM c
        """,
        "gif_frame_sample": """
            -- GIF is lossless: each frame is two vertical halves
            -- with palette indices a=(d+f)%8, b=(d+2f+1)%8 and
            -- palette (i*30, 200-i*20, i*10+3); 64+64 pixels ->
            -- mean_c = (pal_c(a) + pal_c(b)) // 2
            WITH f AS (
                SELECT doc_id, CAST(k AS INT) AS frame_idx,
                       (doc_id + k) % 8 AS a,
                       (doc_id + 2 * k + 1) % 8 AS b
                FROM documents, range(4) t(k)
                WHERE doc_id < 150
            )
            SELECT doc_id AS media_id, frame_idx,
                   CAST(16 AS INT) AS width, CAST(8 AS INT) AS height,
                   CAST(5 AS INT) AS delay_cs,
                   CAST((a * 30 + b * 30) // 2 AS INT) AS mean_r,
                   CAST((200 - a * 20 + 200 - b * 20) // 2 AS INT)
                       AS mean_g,
                   CAST((a * 10 + 3 + b * 10 + 3) // 2 AS INT) AS mean_b
            FROM f
        """,
        "audio_flac_frame_sample": """
            -- FLAC is lossless, so decoded samples equal the
            -- generated waveform exactly: v = (doc_id*13 + 7n) %
            -- 4001 - 2000; 2048 samples, blocksize 512 -> 4 frames
            WITH s AS (
                SELECT doc_id, CAST(f.k AS INT) AS frame_idx,
                       ((doc_id * 13 + 7 * (f.k * 512 + j.j)) % 4001)
                           - 2000 AS v
                FROM documents, range(4) f(k), range(512) j(j)
                WHERE doc_id < 200
            )
            SELECT doc_id AS media_id, frame_idx,
                   CAST(512 AS INT) AS n_samples,
                   CAST(1 AS INT) AS n_channels,
                   CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
                   CAST(max(v) AS INT) AS max_s,
                   CAST(min(v) AS INT) AS min_s
            FROM s GROUP BY 1, 2
        """,
        "doc_pii_scrub": """
            -- the corpus text is plain words (zero PII-shaped
            -- content, verified), so counts and the scrubbed string
            -- are derivable arithmetically: a regex that over- or
            -- under-matches on the real text fails the hash
            SELECT doc_id,
                   CAST(1 AS INT) AS n_email,
                   CAST(1 AS INT) AS n_ipv4,
                   CAST(1 AS INT) AS n_ssn,
                   CAST(1 AS INT) AS n_phone,
                   text || ' contact <EMAIL> node <IP> id <SSN>'
                        || ' call <PHONE>' AS scrubbed
            FROM documents
        """,
        "doc_domain_stats": """
            WITH d AS (
                SELECT doc_id, 'site' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example.org' AS domain FROM documents
                UNION ALL
                SELECT doc_id, 'cdn' || CAST(doc_id % 3 AS VARCHAR)
                       || '.example.net' FROM documents
            )
            SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM d GROUP BY domain
        """,
        "doc_novelty": f"""
            WITH {_SHINGLE_CTE},
            nv AS (
                SELECT doc_id, unnest(list_distinct(s)) AS sh
                FROM sh_lists
            ),
            nv_df AS (
                SELECT sh, count(*) AS df FROM nv GROUP BY sh
            )
            SELECT nv.doc_id,
                   count(*) AS n_shingles,
                   CAST(sum(CASE WHEN nv_df.df >= 2 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_shared,
                   floor(sum(CASE WHEN nv_df.df >= 2 THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE) * 1000000) / 1000000
                       AS shared_ratio6
            FROM nv JOIN nv_df USING (sh)
            GROUP BY nv.doc_id
        """,
        "doc_repetition": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ),
            g2 AS (
                SELECT doc_id, unnest(list_transform(
                    range(1, len(t)),
                    k -> t[k] || ' ' || t[k + 1])) AS g
                FROM toks
            ),
            c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
            a2 AS (
                SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2,
                       CAST(max(c) AS BIGINT) AS top2,
                       CAST(sum(c - 1) AS BIGINT) AS dup2
                FROM c2 GROUP BY 1
            ),
            g3 AS (
                SELECT doc_id, unnest(list_transform(
                    range(1, len(t) - 1),
                    k -> t[k] || ' ' || t[k + 1] || ' ' || t[k + 2])) AS g
                FROM toks
            ),
            c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
            a3 AS (
                SELECT doc_id, CAST(sum(c) AS BIGINT) AS n3,
                       CAST(sum(c - 1) AS BIGINT) AS dup3
                FROM c3 GROUP BY 1
            )
            SELECT toks.doc_id,
                   CAST(len(t) AS INT) AS n_tokens,
                   COALESCE(n2, 0) AS n_2grams,
                   COALESCE(top2, 0) AS top_2gram_count,
                   CASE WHEN n2 > 0 THEN
                        floor(top2 / CAST(n2 AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS top_2gram_frac,
                   CASE WHEN n2 > 0 THEN
                        floor(dup2 / CAST(n2 AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS dup_2gram_frac,
                   CASE WHEN n3 > 0 THEN
                        floor(dup3 / CAST(n3 AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS dup_3gram_frac
            FROM toks
            LEFT JOIN a2 ON toks.doc_id = a2.doc_id
            LEFT JOIN a3 ON toks.doc_id = a3.doc_id
        """,
        "audio_fingerprint": "WITH " + _AUDIOFP_CTE + """
            SELECT media_id, hash_hi, hash_lo FROM afp
        """,
        "audio_neardup": "WITH " + _AUDIOFP_CTE + """,
            achunks AS (
              SELECT media_id, hash_hi, hash_lo,
                     0 AS chunk_id, hash_lo % 65536 AS ck FROM afp
              UNION ALL SELECT media_id, hash_hi, hash_lo,
                     1, hash_lo // 65536 FROM afp
              UNION ALL SELECT media_id, hash_hi, hash_lo,
                     2, hash_hi % 65536 FROM afp
              UNION ALL SELECT media_id, hash_hi, hash_lo,
                     3, hash_hi // 65536 FROM afp
            ),
            aszs AS (
              SELECT chunk_id, ck, count(*) AS c
              FROM achunks GROUP BY 1, 2
            ),
            aok AS (
              SELECT ch.* FROM achunks ch
              JOIN aszs USING (chunk_id, ck) WHERE aszs.c <= 64
            )
            SELECT DISTINCT a.media_id AS doc_a, b.media_id AS doc_b,
              CAST(bit_count(xor(a.hash_hi, b.hash_hi))
                 + bit_count(xor(a.hash_lo, b.hash_lo)) AS INTEGER) AS dist
            FROM aok a JOIN aok b
              ON a.chunk_id = b.chunk_id AND a.ck = b.ck
             AND a.media_id < b.media_id
            WHERE bit_count(xor(a.hash_hi, b.hash_hi))
                + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
        """,
        "image_dhash": "WITH " + _DHASH_CTE + """
            SELECT media_id, hash_hi, hash_lo FROM dhashes
        """,
        "image_neardup": "WITH " + _DHASH_CTE + """,
            chunks AS (
              SELECT media_id, hash_hi, hash_lo,
                     0 AS chunk_id, hash_lo % 65536 AS ck FROM dhashes
              UNION ALL SELECT media_id, hash_hi, hash_lo,
                     1, hash_lo // 65536 FROM dhashes
              UNION ALL SELECT media_id, hash_hi, hash_lo,
                     2, hash_hi % 65536 FROM dhashes
              UNION ALL SELECT media_id, hash_hi, hash_lo,
                     3, hash_hi // 65536 FROM dhashes
            ),
            szs AS (
              SELECT chunk_id, ck, count(*) AS c
              FROM chunks GROUP BY 1, 2
            ),
            ok AS (
              SELECT ch.* FROM chunks ch
              JOIN szs USING (chunk_id, ck) WHERE szs.c <= 64
            )
            SELECT DISTINCT a.media_id AS doc_a, b.media_id AS doc_b,
              CAST(bit_count(xor(a.hash_hi, b.hash_hi))
                 + bit_count(xor(a.hash_lo, b.hash_lo)) AS INTEGER) AS dist
            FROM ok a JOIN ok b
              ON a.chunk_id = b.chunk_id AND a.ck = b.ck
             AND a.media_id < b.media_id
            WHERE bit_count(xor(a.hash_hi, b.hash_hi))
                + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
        """,
        "image_neardup_clusters": "WITH RECURSIVE " + _DHASH_CTE + """,
            ichunks AS (
              SELECT media_id, hash_hi, hash_lo,
                     0 AS chunk_id, hash_lo % 65536 AS ck FROM dhashes
              UNION ALL SELECT media_id, hash_hi, hash_lo,
                     1, hash_lo // 65536 FROM dhashes
              UNION ALL SELECT media_id, hash_hi, hash_lo,
                     2, hash_hi % 65536 FROM dhashes
              UNION ALL SELECT media_id, hash_hi, hash_lo,
                     3, hash_hi // 65536 FROM dhashes
            ),
            iszs AS (
              SELECT chunk_id, ck, count(*) AS c
              FROM ichunks GROUP BY 1, 2
            ),
            iok AS (
              SELECT ch.* FROM ichunks ch
              JOIN iszs USING (chunk_id, ck) WHERE iszs.c <= 64
            ),
            ipairs AS (
              SELECT DISTINCT a.media_id AS doc_a, b.media_id AS doc_b
              FROM iok a JOIN iok b
                ON a.chunk_id = b.chunk_id AND a.ck = b.ck
               AND a.media_id < b.media_id
              WHERE bit_count(xor(a.hash_hi, b.hash_hi))
                  + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
            ),
            iedges AS (
                SELECT doc_a AS a, doc_b AS b FROM ipairs
                UNION ALL
                SELECT doc_b, doc_a FROM ipairs
            ),
            ireach(src, dst) AS (
                SELECT a, b FROM iedges
                UNION
                SELECT r.src, e.b FROM ireach r JOIN iedges e
                  ON r.dst = e.a
            )
            SELECT h.media_id,
                   least(h.media_id, coalesce(min(r.dst), h.media_id))
                       AS cluster_id,
                   h.media_id = least(h.media_id,
                                      coalesce(min(r.dst), h.media_id))
                       AS keep
            FROM dhashes h LEFT JOIN ireach r ON r.src = h.media_id
            GROUP BY h.media_id
        """,
        "video_scene_cuts": """
            -- flat DC-only blocks decode exactly: frame mean =
            -- floor(mean of the four (base+{0,50,100,150})%256
            -- values) with base = doc_id*7 + (k//3)*97; 8 frames at
            -- rate 4/1 all sampled -> t = 250ms*k
            WITH f AS (
                SELECT doc_id, CAST(k AS INT) AS frame_idx,
                       doc_id * 7 + (k // 3) * 97 AS base
                FROM documents, range(8) t(k)
                WHERE doc_id < 150
            ),
            m AS (
                SELECT doc_id, frame_idx,
                       CAST(floor((
                            CAST(base % 256 AS DOUBLE)
                          + (base + 50) % 256
                          + (base + 100) % 256
                          + (base + 150) % 256) / 4) AS INT) AS mp
                FROM f
            )
            SELECT m.doc_id AS media_id, m.frame_idx,
                   CAST(m.frame_idx * 250 AS INT) AS t_ms,
                   m.mp AS mean_pixel,
                   CAST(abs(m.mp - p.mp) AS INT) AS diff,
                   (p.mp IS NULL OR abs(m.mp - p.mp) >= 10) AS is_cut
            FROM m LEFT JOIN m p
              ON p.doc_id = m.doc_id AND p.frame_idx = m.frame_idx - 1
        """,
        "video_frame_sample": """
            -- flat DC-only blocks with q=1 decode EXACTLY, so every
            -- decoded pixel is (doc_id*7 + orig*31 + block*50) % 256;
            -- 8 frames at rate 4/1, 4 sampled -> orig = 2k, t = 250ms/f
            WITH f AS (
                SELECT doc_id, CAST(k AS INT) AS frame_idx,
                       CAST(2 * k AS INT) AS orig
                FROM documents, range(4) t(k)
                WHERE doc_id < 150
            )
            SELECT doc_id AS media_id, frame_idx,
                   CAST(orig * 250 AS INT) AS t_ms,
                   CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
                   CAST(floor((
                        CAST((doc_id * 7 + orig * 31) % 256 AS DOUBLE)
                      + (doc_id * 7 + orig * 31 + 50) % 256
                      + (doc_id * 7 + orig * 31 + 100) % 256
                      + (doc_id * 7 + orig * 31 + 150) % 256) / 4)
                        AS INT) AS mean_pixel,
                   CAST((doc_id * 7 + orig * 31) % 256 AS INT) AS corner00
            FROM f
        """,
        "video_mp4_frame_sample": """
            -- flat DC-only blocks decode exactly: pixels are
            -- (doc_id*11 + orig*29 + block*40) % 256; 10 frames at
            -- timescale 1000 / delta 250, 4 sampled -> orig = k*10//4
            WITH f AS (
                SELECT doc_id, CAST(k AS INT) AS frame_idx,
                       CAST((k * 10) // 4 AS INT) AS orig
                FROM documents, range(4) t(k)
                WHERE doc_id < 150
            )
            SELECT doc_id AS media_id, frame_idx,
                   CAST(orig * 250 AS INT) AS t_ms,
                   CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
                   CAST(floor((
                        CAST((doc_id * 11 + orig * 29) % 256 AS DOUBLE)
                      + (doc_id * 11 + orig * 29 + 40) % 256
                      + (doc_id * 11 + orig * 29 + 80) % 256
                      + (doc_id * 11 + orig * 29 + 120) % 256) / 4)
                        AS INT) AS mean_pixel,
                   CAST((doc_id * 11 + orig * 29) % 256 AS INT) AS corner00
            FROM f
        """,
        "audio_frame_sample": """
            WITH f AS (
                SELECT doc_id, CAST(k AS INT) AS frame_idx,
                       least((799 * k) // 3, 720) AS s0
                FROM documents, range(4) t(k)
                WHERE doc_id < 200
            )
            SELECT doc_id AS media_id, frame_idx,
                   CAST((s0 * 1000) // 8000 AS INT) AS t_ms,
                   CAST(floor(sqrt(list_sum(list_transform(range(0, 80),
                        j -> pow(CAST((doc_id * 31 + (s0 + j) * 7) % 2001
                                      - 1000 AS DOUBLE), 2))) / 80))
                        AS INT) AS rms,
                   CAST(list_max(list_transform(range(0, 80),
                        j -> abs((doc_id * 31 + (s0 + j) * 7) % 2001
                                 - 1000))) AS INT) AS peak
            FROM f
        """,
        "doc_token_stats": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' ')))
                       AS n_distinct_tokens,
                   round(len(list_distinct(string_split(text, ' ')))
                         / CAST(len(string_split(text, ' ')) AS DOUBLE), 4)
                       AS ttr,
                   length(text) AS n_chars_actual
            FROM documents
        """,
        "doc_lm_ppl": """
            WITH ts AS (
                SELECT doc_id, string_split(text, ' ') AS l
                FROM documents
            ),
            toks AS (
                SELECT doc_id, l[i] AS w, i
                FROM ts, unnest(generate_series(1, len(l))) AS g(i)
            ),
            bg AS (
                SELECT a.doc_id, a.w AS w1, b.w AS w2
                FROM toks a
                JOIN toks b
                  ON a.doc_id = b.doc_id AND b.i = a.i + 1
            ),
            uni AS (SELECT w, count(*) AS c1 FROM toks GROUP BY w),
            v AS (
                SELECT CAST(count(*) AS DOUBLE) AS v FROM uni
            ),
            sc AS (
                SELECT g.doc_id,
                       -ln((COALESCE(c.c2, 0) + 1.0)
                           / (u.c1 + (SELECT v FROM v))) AS nll
                FROM bg g
                LEFT JOIN (
                    SELECT w1, w2, count(*) AS c2
                    FROM bg GROUP BY w1, w2
                ) c USING (w1, w2)
                JOIN uni u ON u.w = g.w1
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   floor(avg(nll) * 10000) / 10000 AS avg_nll_r
            FROM sc GROUP BY doc_id
        """,
        "doc_stratified_sample": """
            SELECT lang, doc_id, rank FROM (
                SELECT lang, doc_id,
                       CAST(row_number() OVER (
                           PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS INT) AS rank
                FROM documents
            ) WHERE rank <= 50
        """,
        "doc_incremental_dedup": """
            SELECT d.doc_id, md5(d.text) AS content_md5
            FROM documents d
            WHERE d.doc_id % 3 <> 0
              AND NOT EXISTS (
                  SELECT 1 FROM documents h
                  WHERE h.doc_id % 3 = 0
                    AND md5(h.text) = md5(d.text)
              )
        """,
    }
