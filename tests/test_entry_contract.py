"""Driver-contract parity: every queries() entry must match its
oracle_sql() on DuckDB — same row count, same column names, same
values (order-insensitive) — replicating the driver's own check."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    return con


def _normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, name):
    oracle = entrymod.oracle_sql()
    if name not in oracle:
        pytest.skip("rows-only query (no SQL oracle)")
    sdf = entrymod.queries()[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [r.asDict() for r in sdf.collect()]

    con = _duck(SF_DIR)
    res = con.execute(oracle[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    got = _normalize(spark_rows, spark_cols)
    want = _normalize(duck_rows, duck_cols)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    mismatches = [
        (g, w) for g, w in zip(got, want) if g != w
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_funnel_failure_leaves_no_persisted_frame(spark, monkeypatch):
    """The corpus-build funnel's main thread raising inside its thread
    pool (a CC that fails to converge) still unpersists the frame the
    pool's decontamination thread persisted."""
    from pg_pb3_ld_spark.functions import dedup

    def _boom(*_a, **_k):
        raise RuntimeError("induced funnel failure")

    monkeypatch.setattr(dedup, "near_dup_clusters", _boom)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="induced funnel failure"):
        entrymod.q_corpus_build_funnel(spark, SF_DIR)
    assert set(jsc.getPersistentRDDs().keys()) == before
