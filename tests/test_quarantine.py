"""Dead-letter quarantine for poison wire frames.

At 10^10 events one corrupt frame must not kill ingest: with
``quarantine_dir`` set, the decode retries a failing slice
frame-by-frame, diverts poison frames (error + raw bytes) to the
dead-letter parquet, counts them in metrics AND in the order-guard
frame density, and applies everything else.  Default behavior
(no quarantine_dir) stays fail-fast.
"""

import os

import pytest
from pyspark.sql import functions as F

from pg_pb3_ld_spark.config import EngineConfig
from pg_pb3_ld_spark.generator import _frames_table, encode_routed_changes
from pg_pb3_ld_spark.pb3 import wire
from pg_pb3_ld_spark.pipeline import IngestPipeline
from pg_pb3_ld_spark.schema import TargetColumn, TargetSchema
from pg_pb3_ld_spark.sinks.store import SnapshotStore

CFG = EngineConfig(
    type_oids_mode="omit_nulls", formats_mode="disabled",
    binary_oid_ranges="20-23,1184",
)
JUNK = b"\xff" * 11  # guaranteed WireFormatError (runaway varint)


def _schema():
    return TargetSchema(
        "metrics",
        [
            TargetColumn("metric_id", wire.OID_TEXT, "string", is_key=True),
            TargetColumn("label", wire.OID_TEXT, "string"),
            TargetColumn("n_tokens", wire.OID_INT4, "int"),
        ],
    )


def _changes(n=200):
    out = []
    for eid in range(n):
        out.append((
            "public", "metrics", "INSERT",
            [("metric_id", f"u{eid % 13}", wire.OID_TEXT)],
            [("label", f"l{eid % 3}", wire.OID_TEXT),
             ("n_tokens", eid, wire.OID_INT4)],
        ))
    return out


def _frames_df(spark, frames, tmpdir, name="frames.parquet"):
    import pyarrow.parquet as pq

    fp = os.path.join(str(tmpdir), name)
    pq.write_table(_frames_table(frames), fp)
    return spark.read.parquet(fp)


def _corrupt(frames, bad_seqs):
    return [
        (s, l, JUNK if s in bad_seqs else f) for s, l, f in frames
    ]


def test_poison_frames_diverted_and_rest_applied(spark, tmp_path):
    frames = _corrupt(encode_routed_changes(_changes(), CFG), {3})
    store = SnapshotStore.create(
        spark, str(tmp_path / "t"), _schema(), num_buckets=4
    )
    qdir = str(tmp_path / "q")
    pipe = IngestPipeline(spark, store, CFG, quarantine_dir=qdir)
    m = pipe.apply_frames(_frames_df(spark, frames, tmp_path), batch_id=1)
    assert m["quarantined_frames"] == 1
    assert m["applied_changes"] == 180  # one 20-change txn lost
    dead = spark.read.parquet(qdir).collect()
    assert len(dead) == 1
    assert dead[0].frame_seq == 3
    assert "WireFormatError" in dead[0]._err
    assert bytes(dead[0]._raw) == JUNK  # forensics: raw frame kept
    # state = last-write-wins over the surviving txns
    got = {r.metric_id: r.n_tokens for r in store.read_table().collect()}
    exp = {}
    for eid in range(200):
        if (eid // 20) % 7 != 3:
            exp[f"u{eid % 13}"] = eid
    assert got == {k: v for k, v in exp.items()}


def test_default_is_fail_fast(spark, tmp_path):
    frames = _corrupt(encode_routed_changes(_changes(), CFG), {3})
    store = SnapshotStore.create(
        spark, str(tmp_path / "t"), _schema(), num_buckets=4
    )
    pipe = IngestPipeline(spark, store, CFG)  # no quarantine_dir
    with pytest.raises(Exception, match="varint"):
        pipe.apply_frames(_frames_df(spark, frames, tmp_path), batch_id=1)


def test_replay_is_idempotent_and_no_duplicate_dead_letters(
    spark, tmp_path
):
    frames = _corrupt(encode_routed_changes(_changes(), CFG), {3})
    store = SnapshotStore.create(
        spark, str(tmp_path / "t"), _schema(), num_buckets=4
    )
    qdir = str(tmp_path / "q")
    pipe = IngestPipeline(spark, store, CFG, quarantine_dir=qdir)
    df = _frames_df(spark, frames, tmp_path)
    pipe.apply_frames(df, batch_id=1)
    snap1 = sorted(
        (r.metric_id, r.label, r.n_tokens)
        for r in store.read_table().collect()
    )
    m2 = pipe.apply_frames(df, batch_id=2)  # full replay, all <= hwm
    assert m2["quarantined_frames"] == 0
    assert m2["applied_keys"] == 0
    snap2 = sorted(
        (r.metric_id, r.label, r.n_tokens)
        for r in store.read_table().collect()
    )
    assert snap1 == snap2
    assert spark.read.parquet(qdir).count() == 1


def test_clean_stream_pays_nothing_but_null_columns(spark, tmp_path):
    frames = encode_routed_changes(_changes(), CFG)
    store = SnapshotStore.create(
        spark, str(tmp_path / "t"), _schema(), num_buckets=4
    )
    qdir = str(tmp_path / "q")
    pipe = IngestPipeline(spark, store, CFG, quarantine_dir=qdir)
    m = pipe.apply_frames(_frames_df(spark, frames, tmp_path), batch_id=1)
    assert m["quarantined_frames"] == 0
    assert not os.path.exists(qdir)  # nothing ever written
    assert m["applied_changes"] == 200


def test_quarantine_above_commit_watermark_is_at_least_once(
    spark, tmp_path
):
    """A poison frame that is the batch's LAST frame sits above the
    highest decodable commit: it rides the pending tail and is
    re-quarantined next batch (disclosed at-least-once; consumers key
    by frame_seq), and the final state still converges."""
    frames = encode_routed_changes(_changes(), CFG)
    last = frames[-1][0]
    bad = _corrupt(frames, {last})
    store = SnapshotStore.create(
        spark, str(tmp_path / "t"), _schema(), num_buckets=4
    )
    qdir = str(tmp_path / "q")
    pend = str(tmp_path / "pending")
    pipe = IngestPipeline(spark, store, CFG, quarantine_dir=qdir)
    m1 = pipe.apply_frames(
        _frames_df(spark, bad, tmp_path), batch_id=1, pending_out=pend
    )
    assert m1["quarantined_frames"] == 1
    assert m1["pending_frames"] == 1  # the poison frame held back
    # next batch: the pending tail replays (still poison)
    m2 = pipe.apply_frames(
        spark.read.parquet(pend), batch_id=2
    )
    assert m2["quarantined_frames"] == 1  # at-least-once delivery
    dead = spark.read.parquet(qdir).collect()
    assert sorted(r.batch_id for r in dead) == [1, 2]
    assert {r.frame_seq for r in dead} == {last}
    got = {r.metric_id: r.n_tokens for r in store.read_table().collect()}
    exp = {}
    for eid in range(200):
        if eid // 20 != last:  # the lost final txn
            exp[f"u{eid % 13}"] = eid
    assert got == exp


def test_decode_schema_unchanged_without_quarantine(spark, tmp_path):
    from pg_pb3_ld_spark.operators.decode import decode_typed_changes

    frames = encode_routed_changes(_changes(40), CFG)
    df = _frames_df(spark, frames, tmp_path)
    cols = decode_typed_changes(df, _schema(), CFG).columns
    assert "_err" not in cols and "_raw" not in cols
    qcols = decode_typed_changes(df, _schema(), CFG, quarantine=True).columns
    assert qcols[-2:] == ["_err", "_raw"]


def test_order_guard_counts_quarantined_frames(spark, tmp_path):
    """The density guard must see the poison frame as delivered —
    otherwise an in-order stream with one corrupt frame would trip
    the out-of-order error instead of quarantining."""
    frames = _corrupt(encode_routed_changes(_changes(), CFG), {3, 5})
    store = SnapshotStore.create(
        spark, str(tmp_path / "t"), _schema(), num_buckets=4
    )
    cfg = EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184", strict_frame_order=True,
    )
    pipe = IngestPipeline(
        spark, store, cfg, quarantine_dir=str(tmp_path / "q")
    )
    m = pipe.apply_frames(_frames_df(spark, frames, tmp_path), batch_id=1)
    assert m["quarantined_frames"] == 2  # and no RuntimeError raised


def test_quarantine_batch_releases_decode_cache(spark, tmp_path):
    """Dropping the dead-letter columns yields an UNCACHED projection
    of the persisted decode; the pipeline must unpersist the persisted
    frame itself, or every quarantine batch leaves its cache behind."""
    frames = _corrupt(encode_routed_changes(_changes(), CFG), {3})
    store = SnapshotStore.create(
        spark, str(tmp_path / "t"), _schema(), num_buckets=4
    )
    pipe = IngestPipeline(
        spark, store, CFG, quarantine_dir=str(tmp_path / "q")
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    m = pipe.apply_frames(_frames_df(spark, frames, tmp_path), batch_id=1)
    assert m["quarantined_frames"] == 1
    assert jsc.getPersistentRDDs().size() == before
