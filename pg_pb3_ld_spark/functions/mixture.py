"""Deterministic data-mixing: domain-weighted corpus resampling.

The mixture step of an LLM pretraining pipeline (Pile/DoReMi-style):
given target domain weights and a target output size, emit a sampling
manifest that says how many times each document is used — including
*upsampling* (multiple epochs) of scarce high-weight domains.  No
counterpart in the reference (pg_pb3_ld stops at wire decode,
/root/reference/decoder/pg_pb3_ld.c); this is part of the
training-data operator family layered on the same engine.

Everything is exact-deterministic and engine-portable, following the
repo-wide discipline (md5-keyed decisions, integer arithmetic, no RNG
state, no partition dependence):

* **Apportionment** of the target size among domains is
  largest-remainder (Hamilton) over the integer weights — a pure
  function of ``(weights, total)``, i.e. driver-side configuration
  metadata, independent of the data.  ``sum(quota) == total`` always;
  ties break on lexicographically smaller domain.
* **Per-document copy count** is ``quota // n_domain`` full epochs
  plus membership in a deterministic partial epoch: doc ``d`` joins
  iff ``u(d) * n < (quota % n) * 16^15`` where ``u(d)`` is the first
  15 md5 hex chars of ``"mix:" + doc_id`` — the same portable-hash
  construction as the train/test split and the store bucket_fn.  The
  comparison runs in decimal(38,0) (u < 2^60, n up to ~2^33 at 100 TB
  → the product needs ~93 bits; bigint would overflow, the r4
  connected-components lesson).

Scale shape: ONE map-side-combining hash agg collapses the corpus to
the per-domain count table (tiny — #domains rows), which broadcasts
back onto the corpus; the manifest itself is a pure codegen
projection.  No windows, no sorts, no Python.  Achieved counts differ
from quotas only in the hash-thresholded partial epoch (binomial-
scale deviation); ``mixture_summary`` surfaces target-vs-achieved per
domain — including quota assigned to domains absent from the corpus
(achieved 0, never silent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# 16^15: the exclusive upper bound of the 15-hex-char md5 prefix
HASH_SPACE = 1 << 60
_DEC = "decimal(38,0)"


def apportion(weights: dict[str, int], total: int) -> dict[str, int]:
    """Largest-remainder apportionment of ``total`` among integer
    ``weights``.  Exact: quotas sum to ``total``; deterministic:
    remainder ties go to the lexicographically smaller domain."""
    if total < 0:
        raise ValueError("total must be >= 0")
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-empty and non-negative")
    wden = sum(weights.values())
    if wden == 0:
        raise ValueError("weights must not all be zero")
    base = {s: (total * w) // wden for s, w in weights.items()}
    rem = {s: (total * w) % wden for s, w in weights.items()}
    leftover = total - sum(base.values())
    for s in sorted(weights, key=lambda s: (-rem[s], s))[:leftover]:
        base[s] += 1
    return base


def _quota_df(spark, weights: dict[str, int], total: int,
              group_col: str) -> DataFrame:
    # one JVM row exploded from an array of literal structs:
    # createDataFrame would start a Python task per core
    quotas = apportion(weights, total)
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*[
        F.struct(
            F.lit(s).cast("string").alias(group_col),
            F.lit(weights[s]).cast("int").alias("weight"),
            F.lit(quotas[s]).cast("long").alias("quota"),
        )
        for s in sorted(weights)
    ])))


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, int],
    total: int,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sampling manifest: one row per (kept) document with its copy
    count.  Output: (id, group, n_copies>=1, domain_quota,
    domain_docs).  Domains absent from ``weights`` are dropped;
    domains in ``weights`` absent from the corpus surface in
    :func:`mixture_summary`."""
    spark = docs.sparkSession
    qdf = _quota_df(spark, weights, total, group_col)
    counts = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    # qdf is literal driver config (#domains rows) — broadcast it into
    # the counts agg too, so the dim build is shuffle-free end-to-end
    dims = F.broadcast(counts.join(F.broadcast(qdf), group_col))
    joined = docs.select(id_col, group_col).join(dims, group_col)
    quota, n = F.col("quota"), F.col("_n")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col(id_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    in_partial = (
        u.cast(_DEC) * n.cast(_DEC)
        < (quota % n).cast(_DEC) * F.lit(HASH_SPACE).cast(_DEC)
    )
    n_copies = (
        F.expr("quota div _n") + F.when(in_partial, 1).otherwise(0)
    ).cast("int")
    return (
        joined.select(
            id_col,
            group_col,
            n_copies.alias("n_copies"),
            quota.alias("domain_quota"),
            n.alias("domain_docs"),
        )
        .where(F.col("n_copies") >= 1)
    )


def mixture_summary(
    docs: DataFrame,
    weights: dict[str, int],
    total: int,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain target vs achieved: (group, weight, quota, n_docs,
    achieved).  Every weighted domain appears — a domain missing from
    the corpus shows (n_docs=0, achieved=0) rather than vanishing."""
    spark = docs.sparkSession
    qdf = _quota_df(spark, weights, total, group_col)
    counts = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    achieved = (
        mixture_sample(docs, weights, total, group_col, id_col)
        .groupBy(group_col)
        .agg(F.sum("n_copies").cast("long").alias("achieved"))
    )
    return (
        qdf.join(F.broadcast(counts), group_col, "left")
        .join(F.broadcast(achieved), group_col, "left")
        .select(
            group_col,
            "weight",
            "quota",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("achieved", F.lit(0)).cast("long").alias("achieved"),
        )
    )
