"""Snapshot-store commit protocol: manifest recovery, concurrent
commit conflicts, orphan reclaim, and failure hygiene.

1. ``_load_meta``: fallback ONLY on genuinely missing/torn meta; a
   transient OSError on an intact file must raise.  An unreadable
   meta.json for the pointed snapshot falls back to the newest
   readable ancestor, and replay converges.
2. Rename collision: a FRESH colliding snapshot dir may belong to a
   concurrent writer between its rename and its pointer swap — it
   must raise CommitConflictError, never be rmtree'd (silent loss of
   the other writer's merge); only dirs older than the commit lease
   are reclaimed as crash orphans.
3. Orphan reclaim is mutually exclusive: when two writers both judge
   the same dir dead, exactly one wins; the loser raises
   CommitConflictError and the winner's committed snapshot survives —
   including the TOCTOU where the dir goes stale→live between the
   staleness stat and the claim (mtime-incarnation re-verify).
4. A writer that fails mid-commit leaves nothing behind: no staging
   dir, no persisted frame, the pointer where it was.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter

from pg_pb3_ld_spark.config import EngineConfig
from pg_pb3_ld_spark.schema import transcripts_schema
from pg_pb3_ld_spark.sinks.store import CommitConflictError, SnapshotStore

_FOLD_DDL = (
    "conv_id string, turn_idx int, kind string, "
    "role string, role_set boolean, text string, text_set boolean, "
    "tool string, tool_set boolean, ts timestamp, ts_set boolean, "
    "last_lsn long, last_frame_seq long, n_changes long"
)


def _folded(spark, rows):
    return spark.createDataFrame(
        [
            (c, t, k, None, False, txt, txt is not None, None, False,
             None, False, lsn, lsn, 1)
            for c, t, k, txt, lsn in rows
        ],
        _FOLD_DDL,
    )


def _cfg(**kw):
    return EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184", **kw,
    )


# ------------------------------------------------------------------
# 1: meta recovery only on genuinely torn/missing meta
# ------------------------------------------------------------------

def _mk_store(spark, tmpdir_path):
    return SnapshotStore.create(
        spark, os.path.join(tmpdir_path, "t"), transcripts_schema(),
        num_buckets=2,
    )


def test_load_meta_transient_oserror_raises(
    spark, tmpdir_path, monkeypatch
):
    """A permission error on an INTACT meta.json must raise, not
    silently regress to an older snapshot.  The error is injected at
    ``open`` (a ``chmod`` does not stop root from reading)."""
    import builtins

    store = _mk_store(spark, tmpdir_path)
    meta_path = os.path.normpath(os.path.join(
        store.root, "snapshots", "000000", "meta.json"
    ))
    real_open = builtins.open

    def denying_open(file, *args, **kwargs):
        if isinstance(file, str) and os.path.normpath(file) == meta_path:
            raise PermissionError(13, "Permission denied", file)
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", denying_open)
    with pytest.raises(PermissionError):
        store._load_meta()


def test_load_meta_missing_meta_recovers_with_warning(spark, tmpdir_path):
    """A genuinely missing meta.json falls back to the newest readable
    ancestor AND warns loudly, naming the skipped snapshot."""
    store = _mk_store(spark, tmpdir_path)
    # fabricate snapshot 1 with a manifest pointing at it, then lose
    # its meta.json (torn write on a non-ordering filesystem)
    snap1 = os.path.join(store.root, "snapshots", "000001")
    os.makedirs(snap1)
    type(store)._swap_pointer(store.root, 1)
    with pytest.warns(RuntimeWarning, match=r"skipped unreadable.*\[1\]"):
        meta = store._load_meta()
    assert meta["snapshot_id"] == 0


def test_load_meta_torn_json_recovers(spark, tmpdir_path):
    store = _mk_store(spark, tmpdir_path)
    snap1 = os.path.join(store.root, "snapshots", "000001")
    os.makedirs(snap1)
    with open(os.path.join(snap1, "meta.json"), "w") as f:
        f.write('{"snapshot_id": 1, "hwm": {"l')  # torn mid-write
    type(store)._swap_pointer(store.root, 1)
    with pytest.warns(RuntimeWarning):
        meta = store._load_meta()
    assert meta["snapshot_id"] == 0


def test_store_falls_back_to_readable_ancestor(spark, tmpdir_path):
    """ADVICE #5: manifest → torn meta.json must fall back to the
    newest readable snapshot; replaying from there converges."""
    from pg_pb3_ld_spark.generator import generate_stream, write_frames_parquet
    from pg_pb3_ld_spark.pipeline import IngestPipeline

    stream = generate_stream(seed=31, n_convs=6, max_turns=4, n_extra_txns=10)
    fp = os.path.join(tmpdir_path, "frames.parquet")
    write_frames_parquet(stream, fp)
    frames = spark.read.parquet(fp)
    root = os.path.join(tmpdir_path, "table")
    store = SnapshotStore.create(spark, root, transcripts_schema(), num_buckets=4)
    pipe = IngestPipeline(spark, store, _cfg())
    n = len(stream.frames)
    pipe.apply_frames(frames.where(f"frame_seq < {n // 2}"), batch_id=1)
    good = store.snapshot_id
    pipe.apply_frames(frames, batch_id=2)
    latest = store.snapshot_id

    # tear the committed snapshot's meta (power loss on a filesystem
    # that reordered the meta write behind the pointer swap)
    meta_path = os.path.join(root, "snapshots", f"{latest:06d}", "meta.json")
    with open(meta_path, "w") as f:
        f.write('{"snapshot_id": ')  # truncated JSON

    store2 = SnapshotStore(spark, root)
    assert store2.snapshot_id == good  # fell back to the parent
    pipe2 = IngestPipeline(spark, store2, _cfg())
    pipe2.apply_frames(frames, batch_id=2)
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in store2.read_table().collect()
    }
    assert got == {k: v["text"] for k, v in stream.oracle.items()}


# ------------------------------------------------------------------
# 2: store commit concurrency
# ------------------------------------------------------------------

def test_inflight_writer_snapshot_not_destroyed(spark, tmpdir_path):
    """Writer A has renamed its snapshot into place but not yet
    swapped the pointer; writer B's colliding commit must conflict —
    NOT rmtree A's fully-written snapshot (which would silently lose
    A's merge while both writers believe they committed)."""
    root = os.path.join(tmpdir_path, "t")
    a = SnapshotStore.create(spark, root, transcripts_schema(), num_buckets=2)
    b = SnapshotStore(spark, root)  # same base snapshot

    # A commits, but "crashes"/stalls between rename and pointer swap
    orig_swap = type(a)._swap_pointer
    try:
        type(a)._swap_pointer = staticmethod(lambda root, sid: None)
        a.merge(_folded(spark, [("c0", 0, "PATCH", "from-a", 100)]),
                batch_id=1, hwm_override=(100, 0))
    finally:
        type(a)._swap_pointer = staticmethod(orig_swap)
    a_dir = os.path.join(root, "snapshots", "000001")
    assert os.path.exists(os.path.join(a_dir, "meta.json"))

    # B collides on snapshot id 1 while A is "in flight" (dir fresh)
    with pytest.raises(CommitConflictError, match="in-flight"):
        b.merge(_folded(spark, [("c1", 0, "PATCH", "from-b", 200)]),
                batch_id=2, hwm_override=(200, 1))
    # A's snapshot survived intact
    assert os.path.exists(os.path.join(a_dir, "meta.json"))

    # A finishes its pointer swap; B refreshes and retries cleanly
    SnapshotStore._swap_pointer(root, 1)
    b.refresh()
    b.merge(_folded(spark, [("c1", 0, "PATCH", "from-b", 200)]),
            batch_id=2, hwm_override=(200, 1))
    final = SnapshotStore(spark, root)
    rows = {r["conv_id"]: r["text"] for r in final.read_table().collect()}
    assert rows == {"c0": "from-a", "c1": "from-b"}


def test_stale_orphan_is_reclaimed(spark, tmpdir_path):
    """A colliding dir older than the commit lease is a crash orphan
    (pointer never swapped, no writer alive) — reclaimed so replay
    converges without manual cleanup."""
    root = os.path.join(tmpdir_path, "t")
    a = SnapshotStore.create(spark, root, transcripts_schema(), num_buckets=2)

    orig_swap = type(a)._swap_pointer
    try:
        type(a)._swap_pointer = staticmethod(lambda root, sid: None)
        a.merge(_folded(spark, [("c0", 0, "PATCH", "crashed", 100)]),
                batch_id=1, hwm_override=(100, 0))
    finally:
        type(a)._swap_pointer = staticmethod(orig_swap)
    orphan = os.path.join(root, "snapshots", "000001")
    old = os.stat(orphan).st_mtime - SnapshotStore.ORPHAN_LEASE_SEC - 5
    os.utime(orphan, (old, old))

    b = SnapshotStore(spark, root)  # opens at snapshot 0
    b.merge(_folded(spark, [("c0", 0, "PATCH", "replayed", 100)]),
            batch_id=1, hwm_override=(100, 0))
    assert b.snapshot_id == 1
    rows = {r["conv_id"]: r["text"] for r in b.read_table().collect()}
    assert rows == {"c0": "replayed"}


# ------------------------------------------------------------------
# 3: orphan reclaim mutual exclusion
# ------------------------------------------------------------------

def _orphan_at(spark, root, text, lsn):
    """Writer that crashes between rename and pointer swap → a dir at
    snapshots/000001 with no pointer."""
    a = SnapshotStore(spark, root)
    orig = type(a)._swap_pointer
    try:
        type(a)._swap_pointer = staticmethod(lambda r, s: None)
        a.merge(_folded(spark, [("c0", 0, "PATCH", text, lsn)]),
                batch_id=1, hwm_override=(lsn, 0))
    finally:
        type(a)._swap_pointer = staticmethod(orig)
    return os.path.join(root, "snapshots", "000001")


def test_reclaim_loser_conflicts_winner_survives(spark, tmpdir_path):
    """Two writers race for the same stale orphan: the one whose
    reclaim lands second must raise CommitConflictError, and the
    winner's fully-committed snapshot must survive untouched."""
    import pg_pb3_ld_spark.sinks.store as store_mod

    root = os.path.join(tmpdir_path, "t")
    SnapshotStore.create(spark, root, transcripts_schema(), num_buckets=2)
    orphan = _orphan_at(spark, root, "crashed", 100)
    old = os.stat(orphan).st_mtime - SnapshotStore.ORPHAN_LEASE_SEC - 5
    os.utime(orphan, (old, old))

    b = SnapshotStore(spark, root)  # both open at snapshot 0
    c = SnapshotStore(spark, root)

    # Interleave: while B is inside its reclaim (post-claim, at the
    # trash rmtree), C performs its ENTIRE merge — C finds the name
    # freed by B's claim, renames its stage straight in and swaps the
    # pointer.  B must then conflict on its final rename, not clobber.
    real_rmtree = shutil.rmtree
    state = {"fired": False}

    def hooked_rmtree(path, *a, **kw):
        if ".trash-" in str(path) and not state["fired"]:
            state["fired"] = True
            c.merge(_folded(spark, [("c1", 0, "PATCH", "from-c", 200)]),
                    batch_id=2, hwm_override=(200, 1))
        return real_rmtree(path, *a, **kw)

    orig = store_mod.shutil.rmtree
    store_mod.shutil.rmtree = hooked_rmtree
    try:
        with pytest.raises(CommitConflictError):
            b.merge(_folded(spark, [("c2", 0, "PATCH", "from-b", 300)]),
                    batch_id=3, hwm_override=(300, 2))
    finally:
        store_mod.shutil.rmtree = orig
    assert state["fired"]

    final = SnapshotStore(spark, root)
    assert final.snapshot_id == 1
    rows = {r["conv_id"]: r["text"] for r in final.read_table().collect()}
    assert rows == {"c1": "from-c"}  # C's merge survived intact

    # B retries per protocol and lands cleanly on top
    b.refresh()
    b.merge(_folded(spark, [("c2", 0, "PATCH", "from-b", 300)]),
            batch_id=3, hwm_override=(300, 2))
    rows = {r["conv_id"]: r["text"]
            for r in SnapshotStore(spark, root).read_table().collect()}
    assert rows == {"c1": "from-c", "c2": "from-b"}


def test_reclaim_toctou_stale_then_live_restored(spark, tmpdir_path):
    """The deeper race: B stats the orphan (stale), then — before B's
    claim-rename — another writer completes its whole reclaim + commit,
    so the name now holds a LIVE snapshot.  B's claim steals it, but
    the mtime-incarnation re-verify must detect the swap, RESTORE the
    stolen snapshot, and conflict."""
    import pg_pb3_ld_spark.sinks.store as store_mod

    root = os.path.join(tmpdir_path, "t")
    SnapshotStore.create(spark, root, transcripts_schema(), num_buckets=2)
    orphan = _orphan_at(spark, root, "crashed", 100)
    old = os.stat(orphan).st_mtime - SnapshotStore.ORPHAN_LEASE_SEC - 5
    os.utime(orphan, (old, old))

    b = SnapshotStore(spark, root)
    d = SnapshotStore(spark, root)

    # Hook the staleness stat: return the REAL (old) stat result, but
    # first let D complete its entire merge (D reclaims the orphan and
    # commits, so the name becomes a live fresh-mtime snapshot).
    real_stat = os.stat
    state = {"fired": False}

    def hooked_stat(path, *a, **kw):
        if str(path) == orphan and not state["fired"]:
            state["fired"] = True
            st = real_stat(path, *a, **kw)  # old incarnation's stat
            os.stat = real_stat  # D must see the world unhooked
            d.merge(_folded(spark, [("c1", 0, "PATCH", "from-d", 200)]),
                    batch_id=2, hwm_override=(200, 1))
            os.stat = hooked_stat
            return st
        return real_stat(path, *a, **kw)

    os.stat = hooked_stat
    try:
        with pytest.raises(CommitConflictError):
            b.merge(_folded(spark, [("c2", 0, "PATCH", "from-b", 300)]),
                    batch_id=3, hwm_override=(300, 2))
    finally:
        os.stat = real_stat
    assert state["fired"]

    # D's live snapshot was RESTORED, not destroyed
    final = SnapshotStore(spark, root)
    assert final.snapshot_id == 1
    rows = {r["conv_id"]: r["text"] for r in final.read_table().collect()}
    assert rows == {"c1": "from-d"}
    # and no stray trash dirs leak the stolen copy
    snaps = os.listdir(os.path.join(root, "snapshots"))
    assert all(".trash-" not in s for s in snaps), snaps


# ------------------------------------------------------------------
# 4: failure paths leave nothing behind
# ------------------------------------------------------------------

def _plant_misplaced(spark, store):
    """A row under a bucket dir its key does not hash to."""
    b = sorted(int(k) for k in store._meta["files"])[0]
    probe = spark.range(40).selectExpr("concat('x', id) AS conv_id")
    foreign = next(
        r["conv_id"]
        for r in probe.select(
            "conv_id", store.bucket_expr("conv_id").alias("_b")
        ).collect()
        if r["_b"] != b
    )
    pq.write_table(
        pa.table({
            "conv_id": pa.array([foreign], pa.string()),
            "turn_idx": pa.array([9], pa.int32()),
            "text": pa.array(["planted"], pa.string()),
        }),
        os.path.join(
            store.root, store._meta["files"][str(b)], "planted.parquet"
        ),
    )


@pytest.mark.parametrize(
    "writer",
    ["merge", "merge_mor", "compact", "bootstrap", "repair_misplaced"],
)
def test_failed_commit_leaves_nothing_behind(
    spark, tmpdir_path, monkeypatch, writer
):
    """The writer's parquet write lands in the stage, then raises: the
    call fails, the stage is removed, the pointer and the store stay
    at the parent snapshot, and no frame stays persisted (``merge``
    persists its source and, with a change feed, its join)."""
    root = os.path.join(tmpdir_path, "t")
    store = SnapshotStore.create(
        spark, root, transcripts_schema(), num_buckets=2, changelog=True
    )
    batch = _folded(spark, [
        ("c0", 0, "PATCH", "a", 100), ("c1", 0, "PATCH", "b", 101),
        ("c2", 1, "PATCH", "c", 102),
    ])
    later = _folded(spark, [
        ("c0", 0, "DELETE", None, 200), ("c3", 0, "PATCH", "d", 201),
    ])
    if writer != "bootstrap":
        store.merge(batch, batch_id=1)
    if writer == "compact":
        store.merge_mor(later, batch_id=2)
    if writer == "repair_misplaced":
        _plant_misplaced(spark, store)
    initial = batch.select(*[c.name for c in store.schema.columns])
    call = {
        "merge": lambda: store.merge(later, batch_id=2),
        "merge_mor": lambda: store.merge_mor(later, batch_id=2),
        "compact": store.compact,
        "bootstrap": lambda: store.bootstrap(initial, as_of=(100, 0)),
        "repair_misplaced": store.repair_misplaced,
    }[writer]
    with open(os.path.join(root, "manifest.json")) as f:
        pointer = json.load(f)
    sid = store.snapshot_id
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs().keys())

    real_parquet = DataFrameWriter.parquet

    def write_then_fail(self, path, *a, **kw):
        real_parquet(self, path, *a, **kw)
        raise OSError("disk gone mid-commit")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_fail)
    with pytest.raises(OSError, match="mid-commit"):
        call()
    monkeypatch.undo()

    assert os.listdir(os.path.join(root, "staging")) == []
    with open(os.path.join(root, "manifest.json")) as f:
        assert json.load(f) == pointer
    assert store.snapshot_id == sid
    assert SnapshotStore(spark, root).snapshot_id == sid
    assert set(jsc.getPersistentRDDs().keys()) == persisted
