"""D4 — per-key fold: last-write-wins + partial-update collapse.

Within one apply batch a key ``(conv_id, turn_idx)`` may receive many
changes.  WAL order is total per key — ``(frame_seq, offset_idx)``
carries it through the decode (the header offsets array preserves
intra-frame order, ``decoder/utils.c:161-166``; frames are emitted in
LSN order, ``tests/fuzzer/fuzzer.go:506-526``).  The fold collapses
the per-key change sequence into ONE merge action:

* last op DELETE            → kind=DELETE
* INSERT barrier in batch   → kind=REPLACE: the row is rebuilt; a
  column's value is its latest wire value at-or-after the barrier,
  columns untouched since the barrier become NULL (an INSERT carries
  the full tuple, ``fsd_populate_from_tuple`` — so this only differs
  for schema-evolution stragglers)
* only UPDATEs              → kind=PATCH: per column, latest present
  wire value; columns never present keep their target value
  (TOAST-omission semantics, ``decoder/fsd.c:163-175``)

Everything is ``max(struct(ord, …))`` aggregation — associative and
commutative, so Spark's hash aggregate does map-side partial
combining, which is also the skew story (D8): a hot key's millions of
events collapse to one partial per map task before the shuffle, and
AQE coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pg_pb3_ld_spark.pb3 import wire
from pg_pb3_ld_spark.schema import TargetSchema

# WAL order packed into ONE long: (frame_seq << SHIFT | offset_idx) is
# totally ordered and makes every fold aggregate compare a flat int64
# instead of a nested struct — the fold is the hottest shuffle.  The
# bound is enforced end-to-end: the encoder flushes at the cap and the
# decoder rejects over-long frames (wire.MAX_FRAME_MESSAGES).
ORD_SHIFT = wire.MAX_FRAME_MESSAGES_SHIFT


def _ord() -> F.Column:
    return F.shiftleft(F.col("frame_seq"), ORD_SHIFT) + F.col("offset_idx")


def fold_changes(typed: DataFrame, schema: TargetSchema) -> DataFrame:
    """Collapse typed change rows to one action per key.

    Output: key columns, ``kind`` (DELETE/REPLACE/PATCH), per value
    column ``<c>`` and ``<c>_set``, plus lineage columns ``last_lsn``,
    ``last_frame_seq``, ``n_changes``.
    """
    keys = [c.name for c in schema.key_columns]
    vals = [c.name for c in schema.value_columns]

    aggs = [
        # plain long max, not max(struct(ord, op)): ord is unique per
        # change so the max row is the same, and only the ord itself
        # is ever consumed (last_frame_seq) — the op field was dead
        # weight widening the hottest agg's buffers
        F.max(_ord()).alias("_last_ord"),
        F.max(
            F.when(
                F.col("op").isin("INSERT", "DELETE"),
                F.struct(_ord().alias("o"), F.col("op").alias("op")),
            )
        ).alias("_barrier"),
        F.max(F.struct(_ord().alias("o"), F.col("lsn").alias("lsn"))).alias("_last_lsn"),
        F.count(F.lit(1)).alias("n_changes"),
    ]
    for c in vals:
        aggs.append(
            F.max(
                F.when(
                    F.col(f"{c}_set"),
                    F.struct(_ord().alias("o"), F.col(c).alias("v")),
                )
            ).alias(f"_lv_{c}")
        )

    agg = typed.groupBy(*keys).agg(*aggs)

    barrier = F.col("_barrier")
    barrier_ord = barrier.getField("o")
    kind = (
        F.when(barrier.isNotNull() & (barrier.getField("op") == "DELETE"), "DELETE")
        .when(barrier.isNotNull(), "REPLACE")
        .otherwise("PATCH")
    )
    out_cols = [F.col(k) for k in keys] + [kind.alias("kind")]
    for c in vals:
        lv = F.col(f"_lv_{c}")
        lv_ord = lv.getField("o")
        # value counts if it's at/after the barrier (REPLACE rebuilds)
        valid = lv.isNotNull() & (
            barrier.isNull() | (lv_ord >= barrier_ord)
        )
        out_cols.append(F.when(valid, lv.getField("v")).alias(c))
        # PATCH: set only wire-present columns; REPLACE: set all
        out_cols.append(
            (valid | barrier.isNotNull()).alias(f"{c}_set")
        )
    out_cols += [
        F.col("_last_lsn").getField("lsn").alias("last_lsn"),
        F.shiftright(F.col("_last_ord"), ORD_SHIFT).alias(
            "last_frame_seq"
        ),
        F.col("n_changes"),
    ]
    return agg.select(*out_cols)
