"""Decode is the only stage of the CDC core that starts Python workers.

Every control relation the apply path needs — the commit-gate
watermark, the hot-split ``(_bucket, _nsub)`` table, the empty base of
a store without base files, the empty change feed — is built on the
JVM.  A relation built with ``createDataFrame(<Python list>)`` starts
one Python task per core, and each pays pyspark's per-task import-cache
reset, which costs more CPU than the decode kernel of a small batch.
"""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import SparkSession, functions as F

from pg_pb3_ld_spark.config import EngineConfig
from pg_pb3_ld_spark.generator import generate_stream, write_frames_parquet
from pg_pb3_ld_spark.pipeline import IngestPipeline
from pg_pb3_ld_spark.schema import transcripts_schema
from pg_pb3_ld_spark.sinks.store import SnapshotStore


def _forbidden(*_a, **_k):
    raise AssertionError(
        "createDataFrame starts Python worker tasks outside decode"
    )


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def frames(spark, tmpdir_path):
    stream = generate_stream(
        seed=11, n_convs=8, max_turns=5, n_extra_txns=20
    )
    path = os.path.join(tmpdir_path, "frames.parquet")
    write_frames_parquet(stream, path)
    return spark.read.parquet(path)


def _cfg():
    return EngineConfig(
        type_oids_mode="omit_nulls",
        formats_mode="disabled",
        binary_oid_ranges="20-23,1184",
    )


def test_no_python_task_outside_decode(
    spark, frames, tmpdir_path, monkeypatch
):
    schema = transcripts_schema()
    mid = frames.agg(F.max("frame_seq")).first()[0] // 2
    batches = [frames.where(F.col("frame_seq") <= mid), frames]
    monkeypatch.setattr(SparkSession, "createDataFrame", _forbidden)

    # COW: the first merge lands in an empty store, and a threshold of
    # two rows makes every bucket hot, so the (_bucket, _nsub) table
    # is built on both batches
    cow = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "cow"), schema, num_buckets=4,
        hot_split_rows=2,
    )
    pipe = IngestPipeline(spark, cow, _cfg())
    for i, batch in enumerate(batches, 1):
        pipe.apply_frames(
            batch, batch_id=i,
            pending_out=os.path.join(tmpdir_path, f"pending{i}"),
        )
    assert any("_sub=" in d for d, _s, _f in os.walk(cow.root))
    assert cow.read_table().count() > 0

    # MoR: no base files until compaction
    mor = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "mor"), schema, num_buckets=4
    )
    mpipe = IngestPipeline(spark, mor, _cfg(), apply_mode="mor")
    for i, batch in enumerate(batches, 1):
        mpipe.apply_frames(batch, batch_id=i)
    assert not mor._meta["files"]
    table = mor.read_table()
    assert "ExistingRDD" not in _plan(table)
    n = table.count()
    assert n > 0
    assert mor.compact()["compacted_buckets"] > 0
    assert mor.read_table().count() == n

    empty = SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "feed"), schema, num_buckets=4,
        changelog=True,
    )
    changes = empty.read_changes()
    assert "ExistingRDD" not in _plan(changes)
    assert changes.count() == 0
    assert empty.read_table().count() == 0
