"""D3 — transaction assembly and commit gating, shuffle-light.

The wire stream demarcates transactions with BEGIN/COMMIT marker
messages (``decoder/pg_pb3_ld.c:230-272``); a transaction may span
many frames (mid-txn flush at the 4 MiB target,
``pg_pb3_ld.c:417-422``) but a frame never spans a commit.  The
consumer must assign every change to a transaction and apply only
changes whose COMMIT has arrived (the reference applies callbacks at
commit time — PG's reorder buffer guarantees it producer-side; a
resumable consumer must re-check on its side of the transport).

``txn_id`` = global running count of BEGIN messages at-or-before the
change, in ``(frame_seq, offset_idx)`` order.  A naive global window
would serialize onto one task; instead we do the classic two-level
scan, which survives any frame count:

1. per-*chunk* BEGIN counts (chunk = ``frame_seq >> chunk_shift``;
   map-side partial agg, tiny shuffle) — the driver sees
   O(#frames / 2^shift) longs, never row-level data;
2. ordered prefix sum over chunk counts on the driver;
3. broadcast the chunk bases back, then a window partitioned **by
   chunk** (parallel; bounded rows per chunk since one 4 MiB frame
   holds a bounded message count) adds the intra-chunk running count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


MAX_DRIVER_CHUNKS = 4096


def _adaptive_shift(
    min_f: int, max_f: int, chunk_shift: int, cap: int = MAX_DRIVER_CHUNKS
) -> int:
    """Smallest shift ≥ ``chunk_shift`` keeping the chunk count (and
    therefore the driver-collected prefix-sum rows) ≤ ``cap`` for the
    observed frame_seq range — O(log range) iterations.

    Chunks are ``frame_seq >> shift`` on UNALIGNED values, so the
    distinct-chunk count is ``(max>>shift) - (min>>shift) + 1`` — one
    more than ``((max-min)>>shift)+1`` when the range straddles an
    extra chunk boundary; bound the real quantity so the driver
    collect is exactly capped."""
    shift = chunk_shift
    while ((max_f >> shift) - (min_f >> shift)) + 1 > cap:
        shift += 1
    return shift


def assign_txn_ids(changes: DataFrame, chunk_shift: int = 8) -> DataFrame:
    """Add ``txn_id`` (cumulative BEGIN count) to every message row.

    Falls back to ``txn_id = NULL`` for streams produced with
    ``begin_messages=false`` (pg_pb3_ld.c:127-132) — gating is then a
    no-op and every change applies.

    ``chunk_shift`` is a floor, not the operative value: the shift is
    raised adaptively so the driver never collects more than
    ``MAX_DRIVER_CHUNKS`` prefix-sum rows regardless of frame count
    (at 10^10-event batches a fixed shift of 8 would collect ~40M
    driver rows; adaptively it stays ≤4096 longs, and each chunk's
    intra-chunk window stays an independent parallel task).  This is
    the FALLBACK gating path — the hot path is the scalar
    commit-watermark gate (see ``batch_summary``)."""
    spark = changes.sparkSession
    is_begin = F.when(F.col("op") == "BEGIN", 1).otherwise(0)
    bounds = changes.agg(
        F.min("frame_seq").alias("lo"), F.max("frame_seq").alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        return changes.withColumn("txn_id", F.lit(None).cast("long"))
    chunk_shift = _adaptive_shift(
        int(bounds["lo"]), int(bounds["hi"]), chunk_shift
    )
    chunk = F.shiftright(F.col("frame_seq"), chunk_shift)
    per_chunk = (
        changes.groupBy(chunk.alias("chunk"))
        .agg(F.sum(is_begin).alias("n_begin"))
        .collect()
    )
    if not per_chunk or all(r["n_begin"] == 0 for r in per_chunk):
        return changes.withColumn("txn_id", F.lit(None).cast("long"))
    per_chunk.sort(key=lambda r: r["chunk"])
    base = 0
    rows = []
    for r in per_chunk:
        rows.append((r["chunk"], base))
        base += r["n_begin"]
    base_df = spark.createDataFrame(rows, "chunk long, txn_base long")
    w = (
        Window.partitionBy("chunk")
        .orderBy("frame_seq", "offset_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        changes.withColumn("chunk", chunk)
        .join(F.broadcast(base_df), "chunk", "left")
        .withColumn("txn_id", F.col("txn_base") + F.sum(is_begin).over(w))
        .drop("chunk", "txn_base")
    )


def batch_summary(decoded: DataFrame) -> dict:
    """One-pass batch pre-scan: commit watermark + observed schema.

    Exploits the producer's flush discipline: COMMIT always flushes
    the frame (``pg_pb3_ld.c:266-271``) and PG's reorder buffer emits
    transactions serially in commit order, so *every change message
    ordered before the last COMMIT of the batch is committed* — commit
    gating reduces to a scalar watermark instead of a txn-id join.

    Returns ``{commit_ord: (frame_seq, offset_idx, lsn) | None,
    names: [(name, oid)], max_lsn, max_frame_seq, n_commits}`` from a
    single aggregation job (schema-evolution probe rides along via
    ``explode_outer``, which keeps BEGIN/COMMIT rows as null-name
    groups).
    """
    # group by the *whole name array*: a CDC stream has only a handful
    # of distinct column-list shapes, so this aggregates 100%
    # map-side into a few groups — no explode, no per-name rows
    rows = (
        decoded.groupBy("new_names")
        .agg(
            F.max("new_oids").alias("oids"),
            F.max(
                F.when(
                    F.col("op") == "COMMIT",
                    F.struct("frame_seq", "offset_idx", "lsn"),
                )
            ).alias("cord"),
            F.sum(F.when(F.col("op") == "COMMIT", 1).otherwise(0)).alias("nc"),
            F.max("lsn").alias("max_lsn"),
            F.max("frame_seq").alias("max_f"),
        )
        .collect()
    )
    commit_ord = None
    seen: dict[str, int] = {}
    max_lsn = -1
    max_f = -1
    n_commits = 0
    for r in rows:
        for name, oid in zip(r["new_names"] or [], r["oids"] or []):
            if oid or name not in seen:
                seen[name] = max(int(oid), seen.get(name, 0))
        if r["cord"] is not None:
            co = (
                r["cord"]["frame_seq"],
                r["cord"]["offset_idx"],
                r["cord"]["lsn"],
            )
            if commit_ord is None or co > commit_ord:
                commit_ord = co
        n_commits += int(r["nc"])
        max_lsn = max(max_lsn, r["max_lsn"] if r["max_lsn"] is not None else -1)
        max_f = max(max_f, r["max_f"] if r["max_f"] is not None else -1)
    return {
        "commit_ord": commit_ord,
        "names": list(seen.items()),
        "max_lsn": max_lsn,
        "max_frame_seq": max_f,
        "n_commits": n_commits,
    }


def summary_agg_df(typed: DataFrame) -> DataFrame:
    """The (uncollected) pre-scan aggregation over typed decode output
    — exposed so the plan audit can assert its HashAggregate shape."""
    from pg_pb3_ld_spark.operators.fold import ORD_SHIFT

    is_commit = F.col("op") == "COMMIT"
    packed = F.shiftleft(F.col("frame_seq"), ORD_SHIFT) + F.col("offset_idx")
    # frame-density evidence rides along: offset_idx==0 occurs exactly
    # once per decoded frame, so counting those rows (first exploded
    # copy only) == frames delivered — the pipeline checks density
    # without a separate pre-decode action over the frames table.
    # Synthetic rows appended by the key-changing-UPDATE split reuse
    # the original ordinate and MUST NOT be counted, or a key-move at
    # offset_idx 0 double-counts its frame and trips the
    # strict_frame_order guard on in-order input.
    # Every aggregate stays fixed-width (no distinct ⇒ no expand).
    first_msg = (F.col("offset_idx") == 0) & ~F.col("_split")
    first_copy = F.col("xp").isNull() | (F.col("xp") == 0)
    return (
        typed.select(
            F.posexplode_outer(
                F.arrays_zip(
                    F.col("_x_names").alias("n"), F.col("_x_oids").alias("o")
                )
            ).alias("xp", "x"),
            "op", "lsn", "frame_seq", "offset_idx", "_split",
            "table_name",
            packed.alias("_packed"),
        )
        # (name, table) grouping: the probe must say WHICH table an
        # unknown wire column belongs to, or an untracked table's
        # columns would evolve the tracked table's schema.  Still a
        # handful of fixed-width groups ⇒ HashAggregate unchanged.
        .groupBy(
            F.col("x.n").alias("name"),
            F.when(F.col("x.n").isNull(), F.lit(None))
            .otherwise(F.col("table_name")).alias("tbl"),
        )
        .agg(
            F.max("x.o").alias("oid"),
            F.max(F.when(is_commit, F.col("_packed"))).alias("cpacked"),
            F.max(F.when(is_commit, F.col("lsn"))).alias("clsn"),
            F.sum(F.when(is_commit, 1).otherwise(0)).alias("nc"),
            F.max("lsn").alias("max_lsn"),
            F.max("frame_seq").alias("max_f"),
            F.min("frame_seq").alias("min_f"),
            F.sum(
                F.when(first_msg & first_copy, 1).otherwise(0)
            ).alias("n_frames"),
        )
    )


def batch_summary_typed(typed: DataFrame) -> dict:
    """Batch pre-scan over the TYPED decode output (single-pass plan).

    Same contract as ``batch_summary`` but reads the commit watermark
    and schema-evolution probe off ``decode_typed_changes``'s columns
    (``_x_names``/``_x_oids`` carry only the UNKNOWN wire columns, so
    the frame stream is decoded once per batch — the pipeline persists
    the typed rows and this aggregation materializes the cache).

    Plan shape: the commit ordinate is packed into ONE long and the
    probe is exploded to (name, oid) pairs, so every aggregation
    buffer is fixed-width ⇒ pure HashAggregate with map-side combine
    (no SortAggregate over the full batch).  The commit LSN rides a
    separate ``max`` — sound because commits are LSN-ordered, so the
    max-LSN commit IS the max-ord commit (transport invariant,
    tests/fuzzer/fuzzer.go:506-526; enforced by strict_frame_order).
    """
    from pg_pb3_ld_spark.operators.fold import ORD_SHIFT

    rows = summary_agg_df(typed).collect()

    # When one probe name carries several oids in a batch (a double
    # type change, or stragglers around an ALTER), the WIDEST type
    # must win — raw max(oid) would pick int4 (23) over int8 (20).
    _WIDTH_RANK = {21: 1, 23: 2, 20: 3, 700: 1, 701: 2}

    def _wider(a: int, b: int) -> int:
        ra, rb = _WIDTH_RANK.get(a), _WIDTH_RANK.get(b)
        if ra is not None and rb is not None:
            return a if ra >= rb else b
        return max(a, b)

    names: dict[str, int] = {}
    names_by_table: dict[str, dict[str, int]] = {}
    cpacked = clsn = None
    max_lsn = -1
    max_f = -1
    min_f = None
    n_commits = 0
    n_frames = 0
    for r in rows:
        if r["name"] is not None:
            oid = int(r["oid"] or 0)
            names[r["name"]] = _wider(oid, names.get(r["name"], 0))
            tn = names_by_table.setdefault(r["tbl"] or "", {})
            tn[r["name"]] = _wider(oid, tn.get(r["name"], 0))
        if r["cpacked"] is not None and (
            cpacked is None or r["cpacked"] > cpacked
        ):
            cpacked = r["cpacked"]
        if r["clsn"] is not None and (clsn is None or r["clsn"] > clsn):
            clsn = r["clsn"]
        n_commits += int(r["nc"])
        max_lsn = max(max_lsn, r["max_lsn"] if r["max_lsn"] is not None else -1)
        max_f = max(max_f, r["max_f"] if r["max_f"] is not None else -1)
        if r["min_f"] is not None and (min_f is None or r["min_f"] < min_f):
            min_f = r["min_f"]
        n_frames += int(r["n_frames"])  # first-message rows: disjoint per group
    commit_ord = None
    if cpacked is not None:
        commit_ord = (
            cpacked >> ORD_SHIFT,
            cpacked & ((1 << ORD_SHIFT) - 1),
            clsn,
        )
    return {
        "commit_ord": commit_ord,
        "names": list(names.items()),
        "names_by_table": {
            t: list(m.items()) for t, m in names_by_table.items()
        },
        "max_lsn": max_lsn,
        "max_frame_seq": max_f,
        "min_frame_seq": min_f,
        "n_frames": n_frames,
        "n_commits": n_commits,
    }


def gate_by_commit_watermark(
    decoded: DataFrame, commit_ord: tuple | None, has_commits: bool
) -> DataFrame:
    """Keep change messages at-or-before the last COMMIT (see
    ``batch_summary``).  Streams without commit markers
    (``commit_messages=false``, pg_pb3_ld.c:133-138) can't be gated —
    everything passes, matching the reference's contract that such
    consumers apply changes as they arrive.

    The watermark is delivered as data — a broadcast one-row
    ``spark.range(w, w + 1)`` renamed ``_wm`` — NOT a literal:
    Catalyst inlines literals into generated Java, so a per-batch
    literal would force a whole-stage-codegen recompile (multi-second,
    serial, on the driver) of the entire downstream project/fold/merge
    plan every micro-batch.  ``range(1).select(lit(w))`` is no better:
    FoldablePropagation carries the aliased literal into the join
    condition.  With the value in data, the fold stage's generated
    source — and its Janino cache entry — is stable across batches;
    only the one-task ``Range`` build stage inlines its bounds.

    The relation is built on the JVM: a Python-built one
    (``createDataFrame``) would start a Python task per core every
    batch, each paying pyspark's per-task import-cache reset, while
    decode is meant to be the only stage that runs Python.  The
    broadcast costs one single-task Spark job per batch.
    """
    from pg_pb3_ld_spark.operators.fold import ORD_SHIFT

    data = decoded.where(F.col("op").isin("INSERT", "UPDATE", "DELETE"))
    if not has_commits:
        return data
    if commit_ord is None:
        return data.where(F.lit(False))  # batch ends mid-transaction
    f, o, _ = commit_ord
    w = (f << ORD_SHIFT) + o
    wm = data.sparkSession.range(w, w + 1, 1, 1).withColumnRenamed(
        "id", "_wm"
    )
    packed = F.shiftleft(F.col("frame_seq"), ORD_SHIFT) + F.col("offset_idx")
    return (
        data.join(F.broadcast(wm))
        .where(packed < F.col("_wm"))
        .drop("_wm")
    )


def gate_committed(changes_with_txn: DataFrame) -> DataFrame:
    """Keep only changes belonging to committed transactions (T2).

    A COMMIT row shares the txn_id of its transaction (it follows the
    changes, before the next BEGIN).  Changes in transactions without
    a COMMIT in this batch are held back — the streaming runner keeps
    re-reading them with the next micro-batch; the reference's
    commit-time callback ordering makes an uncommitted tail only
    possible at the very end of a batch.  Streams without BEGIN
    markers (txn_id NULL) pass through ungated.
    """
    committed = (
        changes_with_txn.where(F.col("op") == "COMMIT")
        .select("txn_id")
        .distinct()
    )
    data = changes_with_txn.where(
        F.col("op").isin("INSERT", "UPDATE", "DELETE")
    )
    gated = data.where(F.col("txn_id").isNotNull()).join(
        committed, "txn_id", "left_semi"
    )
    ungated = data.where(F.col("txn_id").isNull())
    return gated.unionByName(ungated)
