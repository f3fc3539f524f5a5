"""Round-5 regression tests for the judge/advisor findings:

1. G.711 A-law polarity: the sign bit SET means POSITIVE (opposite of
   μ-law) — pinned at the LUT level in test_audio_codecs; here the
   end-to-end WAV path is checked for the asymmetry the magnitude-only
   features masked.
2. ivf_assign with a zero-norm vector: cosine() is NaN and under ANSI
   mode round(NaN).cast('long') used to throw mid-job; now the row
   lands deterministically in the lowest list.
3. Orphan reclaim is mutually exclusive: when two writers both judge
   the same dir dead, exactly one wins; the loser raises
   CommitConflictError and the winner's committed snapshot survives —
   including the TOCTOU where the dir goes stale→live between the
   staleness stat and the claim (mtime-incarnation re-verify).
"""

from __future__ import annotations

import os
import shutil

import pytest

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


# ------------------------------------------------- A-law e2e polarity


def test_alaw_wav_features_polarity(spark):
    """A constant A-law stream of byte 0xD5 (= +8) must produce a
    POSITIVE mean; 0x55 (= -8) a negative one.  rms/peak are
    magnitude-only and masked the old inversion — mean_sample is the
    polarity-sensitive check."""
    from pg_pb3_ld_spark.functions.multimodal import (
        _g711_lut, encode_wav_g711,
    )

    lut = _g711_lut("alaw")
    assert int(lut[0xD5]) == 8 and int(lut[0x55]) == -8
    pos = encode_wav_g711(8000, 1, b"\xD5" * 64, alaw=True)
    neg = encode_wav_g711(8000, 1, b"\x55" * 64, alaw=True)
    from pg_pb3_ld_spark.functions.multimodal import wav_samples

    assert wav_samples(pos)[2].mean() > 0
    assert wav_samples(neg)[2].mean() < 0


# ------------------------------------------- IVF zero-norm NaN guard


def test_ivf_assign_zero_norm_vector_no_ansi_throw(spark):
    from pg_pb3_ld_spark.functions.ann import ivf_assign

    base = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 0.0]),  # zero norm → cosine NaN
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "list_id int, embedding array<double>",
    )
    got = {r["vec_id"]: r["list_id"]
           for r in ivf_assign(base, cents).collect()}
    assert got[1] == 0 and got[2] == 1
    # NaN everywhere → sentinel key → deterministic lowest list id
    assert got[3] == 0


def test_ivf_assign_zero_norm_centroid_no_ansi_throw(spark):
    """kmeans on quantized copies can emit an all-zero centroid; every
    vector's cosine against it is NaN — assignment must neither throw
    nor prefer the dead list."""
    from pg_pb3_ld_spark.functions.ann import ivf_assign

    base = spark.createDataFrame(
        [(1, [1.0, 2.0, 0.5]), (2, [-1.0, 0.5, 0.25])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0]),
         (2, [-1.0, 1.0, 1.0])],
        "list_id int, embedding array<double>",
    )
    got = {r["vec_id"]: r["list_id"]
           for r in ivf_assign(base, cents).collect()}
    assert got[1] == 1 and got[2] == 2


# --------------------------------- orphan reclaim mutual exclusion


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
