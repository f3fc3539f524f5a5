"""Unit tests for commit gating: the batch pre-scan's commit
watermark and the gate it drives."""

from __future__ import annotations

from pyspark.sql import functions as F

from pg_pb3_ld_spark.operators.txn import (
    batch_summary_typed,
    gate_by_commit_watermark,
)

# the typed decode's shape, reduced to what the pre-scan and the gate
# read: ``_x_names``/``_x_oids`` carry only wire columns outside the
# decode schema (null when there are none)
DDL = (
    "frame_seq long, offset_idx int, lsn long, op string, "
    "table_name string, _x_names array<string>, _x_oids array<long>, "
    "_split boolean"
)


def _mk(spark, rows):
    return spark.createDataFrame(
        [
            (
                f, o, 1000 + f, op,
                None if op in ("BEGIN", "COMMIT") else "t",
                names, None if names is None else [25] * len(names),
                False,
            )
            for f, o, op, names in rows
        ],
        DDL,
    )


def test_commit_watermark_path_matches_join_path(spark):
    """The scalar watermark keeps exactly the changes of committed
    transactions and holds back the uncommitted tail."""
    df = _mk(spark, [
        (0, 0, "BEGIN", None),
        (0, 1, "INSERT", None),
        (0, 2, "COMMIT", None),
        (1, 0, "BEGIN", None),
        (1, 1, "UPDATE", ["zz"]),
        (1, 2, "INSERT", None),
        (1, 3, "COMMIT", None),
        (2, 0, "BEGIN", None),
        (2, 1, "INSERT", None),   # commit never arrives
    ])
    s = batch_summary_typed(df)
    assert s["commit_ord"] == (1, 3, 1001)
    assert s["n_commits"] == 2
    assert s["names"] == [("zz", 25)]
    assert s["names_by_table"] == {"t": [("zz", 25)]}
    assert (s["min_frame_seq"], s["max_frame_seq"], s["n_frames"]) == (0, 2, 3)
    gated = gate_by_commit_watermark(df, s["commit_ord"], has_commits=True)
    got = sorted((r["frame_seq"], r["offset_idx"]) for r in gated.collect())
    assert got == [(0, 1), (1, 1), (1, 2)]  # tail held back


def test_watermark_no_commits(spark):
    df = _mk(spark, [(0, 0, "BEGIN", None), (0, 1, "INSERT", None)])
    s = batch_summary_typed(df)
    assert s["commit_ord"] is None and s["n_commits"] == 0
    # commit markers enabled but none seen: everything pends
    assert gate_by_commit_watermark(df, None, has_commits=True).count() == 0
    # commit markers disabled: everything applies
    assert gate_by_commit_watermark(df, None, has_commits=False).count() == 1


def _plan_text(df, mode) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _reference_gate(data, commit_ord):
    """The gate as it stood with a Python-built one-row watermark."""
    from pg_pb3_ld_spark.operators.fold import ORD_SHIFT

    f, o, _ = commit_ord
    wm = data.sparkSession.createDataFrame(
        [((f << ORD_SHIFT) + o,)], "_wm long"
    )
    packed = F.shiftleft(F.col("frame_seq"), ORD_SHIFT) + F.col("offset_idx")
    return (
        data.where(F.col("op").isin("INSERT", "UPDATE", "DELETE"))
        .join(F.broadcast(wm))
        .where(packed < F.col("_wm"))
        .drop("_wm")
    )


def test_jvm_watermark_gate_matches_reference_and_keeps_fold_code(
    spark, tmpdir_path
):
    """The JVM-built watermark gates exactly like the Python-built
    one on batches that end mid-transaction, and stays data: the
    generated code downstream of the gate is identical for two
    watermarks (only the one-row ``Range`` build stage may differ)."""
    import os

    from pg_pb3_ld_spark.config import EngineConfig
    from pg_pb3_ld_spark.generator import (
        generate_stream,
        write_frames_parquet,
    )
    from pg_pb3_ld_spark.operators.decode import decode_typed_changes
    from pg_pb3_ld_spark.operators.fold import fold_changes
    from pg_pb3_ld_spark.operators.txn import batch_summary_typed
    from pg_pb3_ld_spark.pipeline import PROBE_COLS
    from pg_pb3_ld_spark.schema import transcripts_schema

    # a tiny flush target makes transactions span frames, so a cut by
    # frame_seq lands mid-transaction and leaves an uncommitted tail
    cfg = EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184", wire_message_target_size=512,
    )
    stream = generate_stream(
        seed=23, n_convs=8, max_turns=5, n_extra_txns=30, config=cfg
    )
    path = os.path.join(tmpdir_path, "frames.parquet")
    write_frames_parquet(stream, path)
    frames = spark.read.parquet(path)
    schema = transcripts_schema()
    max_f = frames.agg(F.max("frame_seq")).first()[0]

    codes = []
    for cut in (max_f // 3, 2 * max_f // 3):
        # each batch from its own files: a frame_seq filter would put
        # the cut itself into the scan stage's generated code
        cut_path = os.path.join(tmpdir_path, f"cut{cut}.parquet")
        frames.where(F.col("frame_seq") <= cut).write.parquet(cut_path)
        typed = decode_typed_changes(
            spark.read.parquet(cut_path), schema, cfg, parallelism=2,
        ).persist()
        try:
            commit_ord = batch_summary_typed(typed)["commit_ord"]
            data = typed.where(
                F.col("table_name") == schema.table
            ).drop(*PROBE_COLS, "_split")
            gated = gate_by_commit_watermark(data, commit_ord, True)
            ref = _reference_gate(data, commit_ord)
            n_changes = data.where(
                F.col("op").isin("INSERT", "UPDATE", "DELETE")
            ).count()
            n_gated = gated.count()
            assert 0 < n_gated < n_changes  # an uncommitted tail held back
            assert n_gated == ref.count()
            assert gated.exceptAll(ref).count() == 0
            assert ref.exceptAll(gated).count() == 0
            assert "ExistingRDD" not in _plan_text(gated, "formatted")

            # AQE plans stages lazily; the static plan shows them all
            aqe = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                text = _plan_text(fold_changes(gated, schema), "codegen")
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
        finally:
            typed.unpersist()
        subtrees = [
            s.split("Generated code:", 1)
            for s in text.split("== Subtree ")[1:]
        ]
        assert any("BroadcastNestedLoopJoin" in p for p, _c in subtrees)
        # every stage but the Range build stage itself (the join's
        # stage prints the Range too, below its BroadcastExchange)
        codes.append([
            c for p, c in subtrees
            if "Range (" not in p or "BroadcastExchange" in p
        ])
    assert codes[0] and codes[0] == codes[1]
