"""Round-3 hardening tests (ADVICE.md + VERDICT.md round-2 asks).

1. Frame-density guard vs key-changing UPDATEs: the synthetic INSERT
   half appended by the key-move split reuses the original
   (frame_seq, offset_idx), so it must be excluded from the
   offset_idx==0 frame count or an in-order batch with a key-move at
   a frame boundary trips strict_frame_order (ADVICE high).
2. The demoted DELETE half must not carry the _x_* evolution probe
   (a DELETE makes no value claims — ADVICE low).
3. connected_components: pointer doubling (O(log d) rounds) converges
   on a high-diameter path graph, lineage is checkpointed, and
   exhausting max_iters without a fixpoint RAISES instead of
   returning silently split clusters (ADVICE low + VERDICT #4).
4. LSH bucket-size cap: a degenerate bucket (~30% of docs) is
   excluded from pair generation, pair counts stay bounded, and the
   dropped buckets are surfaced (VERDICT #1).

The end-to-end apply tests (key move at a frame boundary, the
pipeline seed sweep) live in ``test_pipeline.py``.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pg_pb3_ld_spark.config import EngineConfig


def _cfg(**kw):
    return EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184", **kw,
    )


# ------------------------------------------------------------------
# 1+2: key-move split rows vs frame density + probe hygiene
# ------------------------------------------------------------------

def _key_move_with_unknown_col(cfg):
    """INSERT (c0,0)/(c0,1); then an UPDATE that moves (c0,1)→(c0,7)
    AND carries an unknown 'model' column (schema-evolution probe)."""
    from pg_pb3_ld_spark.pb3 import wire
    from pg_pb3_ld_spark.pb3.encoder import (
        FieldValue, WireBatcher, encode_field_set, encode_insert,
        encode_table, encode_update,
    )
    from pg_pb3_ld_spark.pb3.pgtypes import encode_value

    td = encode_table("public", "transcripts")
    batcher = WireBatcher(cfg)

    def _fv(name, value, oid, binary=False):
        return FieldValue(
            name, encode_value(value, oid, binary), oid, is_binary=binary
        )

    batcher.begin_txn()
    for turn, text in ((0, "keep"), (1, "moves")):
        cols = [
            _fv("conv_id", "c0", wire.OID_TEXT),
            _fv("turn_idx", turn, wire.OID_INT4, True),
            _fv("role", "user", wire.OID_TEXT),
            _fv("text", text, wire.OID_TEXT),
        ]
        batcher.change(
            wire.WMSG_INSERT,
            encode_insert(td, encode_field_set(cols, cfg.type_oids_mode)),
        )
    batcher.commit_txn()
    batcher.begin_txn()
    old_key = [
        _fv("conv_id", "c0", wire.OID_TEXT),
        _fv("turn_idx", 1, wire.OID_INT4, True),
    ]
    new_vals = [
        _fv("conv_id", "c0", wire.OID_TEXT),
        _fv("turn_idx", 7, wire.OID_INT4, True),
        _fv("text", "moved", wire.OID_TEXT),
        _fv("model", "m-9", wire.OID_TEXT),  # unknown → probe
    ]
    batcher.change(
        wire.WMSG_UPDATE,
        encode_update(
            td,
            encode_field_set(old_key, cfg.type_oids_mode),
            encode_field_set(new_vals, cfg.type_oids_mode),
        ),
    )
    batcher.commit_txn()
    return [(s, lsn, fr) for s, (lsn, fr) in enumerate(batcher.frames())]


def test_split_rows_marked_and_probe_cleared(spark):
    """The split's INSERT half carries _split=true (and keeps the
    evolution probe); the demoted DELETE half carries _split=false
    AND null _x_* probe arrays."""
    import pandas as pd

    from pg_pb3_ld_spark.operators.decode import decode_typed_changes
    from pg_pb3_ld_spark.schema import transcripts_schema

    cfg = _cfg()
    frames = _key_move_with_unknown_col(cfg)
    fdf = spark.createDataFrame(
        pd.DataFrame(
            {"frame_seq": [f[0] for f in frames],
             "lsn": [f[1] for f in frames],
             "frame": [f[2] for f in frames]}
        )
    )
    typed = decode_typed_changes(fdf, transcripts_schema(), cfg).collect()
    deletes = [r for r in typed if r["op"] == "DELETE"]
    splits = [r for r in typed if r["_split"]]
    assert len(deletes) == 1 and len(splits) == 1
    assert splits[0]["op"] == "INSERT"
    # same WAL ordinate on both halves (they fold under different keys)
    assert (splits[0]["frame_seq"], splits[0]["offset_idx"]) == (
        deletes[0]["frame_seq"], deletes[0]["offset_idx"]
    )
    assert not deletes[0]["_split"]
    for xn in ("_x_names", "_x_oids", "_x_values", "_x_nulls", "_x_formats"):
        assert deletes[0][xn] is None, f"{xn} leaked onto the DELETE half"
    # the INSERT half keeps the probe — evolution must still see 'model'
    assert splits[0]["_x_names"] == ["model"]


# ------------------------------------------------------------------
# 3: connected components — high diameter, checkpoint, loud failure
# ------------------------------------------------------------------

def test_cc_high_diameter_path_graph(spark):
    """A 40-node path graph (diameter 39) must converge well inside
    max_iters=25 thanks to pointer doubling (O(log d) rounds) and
    resolve to ONE cluster labeled by the minimum node id."""
    from pg_pb3_ld_spark.functions.dedup import connected_components

    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = connected_components(edges, nodes, max_iters=25).collect()
    assert len(got) == n
    assert all(r["cluster_id"] == 0 for r in got)


def test_cc_nonconvergence_raises(spark):
    """Exhausting max_iters without a fixpoint must raise — silently
    split clusters poison every downstream survivor decision."""
    from pg_pb3_ld_spark.functions.dedup import connected_components

    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iters=2).collect()


# ------------------------------------------------------------------
# 4: LSH bucket-size cap
# ------------------------------------------------------------------

def _skewed_docs(spark, n=200, hot_every=3):
    rows = []
    for i in range(n):
        if i % hot_every == 0:
            text = "na na na na na na"  # identical → one bucket/band
        else:
            text = f"alpha{i} beta{i} gamma{i} delta{i} eps{i}"
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bucket_cap_drops_degenerate_bucket(spark):
    from pg_pb3_ld_spark.functions import dedup

    docs = _skewed_docs(spark)
    bands = dedup.minhash_bands(docs, k=4, shingle_n=3)
    cap = 10
    uncapped = dedup.lsh_candidate_pairs(bands)
    capped = dedup.lsh_candidate_pairs(bands, max_bucket_size=cap)
    n_hot = len([i for i in range(200) if i % 3 == 0])  # 67
    # uncapped: the hot bucket alone contributes n*(n-1)/2 pairs
    assert uncapped.count() >= n_hot * (n_hot - 1) // 2
    got = capped.collect()
    hot_ids = {i for i in range(200) if i % 3 == 0}
    for r in got:
        assert not (r["doc_a"] in hot_ids and r["doc_b"] in hot_ids)
    # bound: every surviving bucket yields ≤ cap*(cap-1)/2 pairs
    n_buckets = (
        bands.select("band_id", "bk").distinct().count()
    )
    assert len(got) <= n_buckets * cap * (cap - 1) // 2

    dropped = dedup.dropped_buckets(bands, ["band_id", "bk"], cap).collect()
    assert len(dropped) == 4  # one hot bucket per band
    assert all(r["bucket_size"] == n_hot for r in dropped)


def test_banded_candidates_cap(spark):
    """ANN candidate generation under a base-side bucket cap: a
    degenerate embedding bucket is excluded, normal buckets survive."""
    import numpy as np

    from pg_pb3_ld_spark.functions import ann

    rng = np.random.default_rng(5)
    rows = []
    for i in range(120):
        if i < 60:
            v = [1.0] * 64  # all-identical → same bucket in every table
        else:
            v = [float(x) for x in rng.normal(size=64)]
        rows.append((i, v))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = vecs.where(F.col("vec_id").isin(0, 100))
    capped = ann.banded_candidates(
        vecs, queries, max_bucket_size=20
    ).collect()
    # query 0 lives in the degenerate bucket: its candidates must not
    # include the 59 clones (bucket dropped in every table)
    from_hot = [r for r in capped if r["query_id"] == 0 and r["vec_id"] < 60]
    assert from_hot == []
