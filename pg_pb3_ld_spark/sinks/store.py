"""D5 + D6 + D7 — transactional bucketed snapshot store.

The production sink for this engine is an Iceberg table
(``MERGE INTO … ON t.conv_id=s.conv_id AND t.turn_idx=s.turn_idx``)
partitioned ``bucket(N, conv_id)``.  The sandbox has no Iceberg
runtime jar, so ``SnapshotStore`` implements the same contract with
the same mechanics Iceberg uses — copy-on-write MERGE over hash
buckets, snapshot manifests, atomic pointer swap — on plain parquet:

* data files live under ``snapshots/<id>/data/_bucket=K/``; a
  snapshot's manifest maps every bucket to a file directory, and
  **unaffected buckets are carried by reference** to the parent
  snapshot's files — a MERGE rewrites only the buckets its keys
  touch (Iceberg COW semantics; at 10^10 rows the per-batch write
  cost is proportional to touched buckets, not table size);
* the LSN high-watermark and per-bucket lineage (applied LSN range,
  row/upsert/delete counts) live **in the snapshot manifest**, so
  data + watermark + lineage commit in one atomic pointer swap
  (``os.replace``) — the exactly-once story (T4: the reference's
  fuzzer replays by dropping messages below a minimum LSN,
  ``tests/fuzzer/fuzzer.go:389-391``; our watermark generalizes that
  to crash-consistent resume);
* replaying any frame range against any snapshot is idempotent: the
  watermark filter drops already-applied frames, and the MERGE fold
  is last-write-wins per key.

Every writer (``merge``, ``merge_mor``, ``compact``, ``bootstrap``,
``repair_misplaced``) commits through one sequence, each step written
once:

1. **stage** (``_stage``) — claim the next snapshot id and a unique
   ``staging/<uuid>/`` dir, removed on every exit path;
2. **write buckets** (``_write_buckets``) — the writer's frame,
   hash-partitioned and key-sorted into ``_bucket=K`` parquet dirs;
3. **rebase the manifest** (``_rebase``) — rewritten buckets point at
   their new files, absorb their MoR deltas, get zone maps from the
   new parquet footers and new lineage rows (a MoR commit instead
   appends each bucket's delta dir and drops its zone map);
4. **fsync meta** (``_publish``) — the parent manifest plus the
   writer's field changes is written and fsynced inside the stage, so
   data + watermark + lineage travel together;
5. **rename** the stage to ``snapshots/<id>`` (``_commit_staged`` —
   the rename claims the id; collisions conflict or reclaim orphans);
6. **swap the pointer** — fsynced ``manifest.json`` via ``os.replace``.

A crash before step 6 leaves the parent snapshot current.

Merge semantics per source row kind (from the D4 fold):

=========  =============================================================
DELETE     drop the target row (``WHEN MATCHED AND op='D' THEN DELETE``)
REPLACE    full row rebuild (INSERT barrier — new values win, columns
           absent since the barrier become NULL)
PATCH      partial update: only wire-present columns overwrite target
           values (TOAST omission, ``decoder/fsd.c:163-175``); missing
           target row → upsert with absent columns NULL
=========  =============================================================
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import shutil
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from pg_pb3_ld_spark.schema import TargetColumn, TargetSchema

MANIFEST = "manifest.json"


def _snap_rel(sid: int) -> str:
    return os.path.join("snapshots", f"{sid:06d}")


def _write_meta(dir_: str, meta: dict) -> None:
    # fsync meta.json BEFORE the pointer swap publishes it: a power
    # loss right after the swap must never leave the manifest
    # pointing at a torn/empty meta.json
    with open(os.path.join(dir_, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
        f.flush()
        os.fsync(f.fileno())


def _parquet_footers(path: str):
    """Footer metadata of every parquet file under ``path`` —
    driver-side metadata reads, no Spark job."""
    import pyarrow.parquet as pq

    for dirpath, _dirs, fns in os.walk(path):
        for fn in fns:
            if fn.endswith(".parquet"):
                yield pq.ParquetFile(os.path.join(dirpath, fn)).metadata


def _zone_stats(path: str, cols: list[str]) -> dict[str, list]:
    """Per-column (min, max) over the parquet footers under ``path``.
    A column whose files lack statistics (all-null chunks, missing
    stats) gets NO entry — absent = unprunable = safe."""
    agg: dict[str, list] = {}
    ok = {c: True for c in cols}
    for md in _parquet_footers(path):
        name_to_idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        for rg in range(md.num_row_groups):
            for c in cols:
                if not ok.get(c) or c not in name_to_idx:
                    ok[c] = False
                    continue
                st = md.row_group(rg).column(name_to_idx[c]).statistics
                if (
                    st is None
                    or not st.has_min_max
                    or st.min is None
                    or st.max is None
                ):
                    ok[c] = False
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    mn = mn.decode("utf-8", "replace")
                    mx = mx.decode("utf-8", "replace")
                cur = agg.get(c)
                if cur is None:
                    agg[c] = [mn, mx]
                else:
                    cur[0] = min(cur[0], mn)
                    cur[1] = max(cur[1], mx)
    return {c: v for c, v in agg.items() if ok.get(c)}


class _Stage(NamedTuple):
    id: int   # the snapshot id this commit claims
    dir: str  # staging/<uuid>; renamed to snapshots/<id> on commit


def _empty_frame(spark: SparkSession, ddl: str) -> DataFrame:
    """Zero rows with ``ddl``'s columns and types, built on the JVM.

    The optimizer turns the always-false filter into an empty local
    relation, so the frame runs no task and empty branches fold away;
    ``createDataFrame([], ddl)`` would start a Python task per core."""
    return (
        spark.range(0)
        .select(*[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in StructType.fromDDL(ddl).fields
        ])
        .where(F.lit(False))
    )


class CommitConflictError(RuntimeError):
    """Another writer committed a snapshot since this store instance
    loaded its base — the analog of Iceberg's CommitFailedException.
    The caller's protocol is the same as Iceberg's: ``refresh()`` to
    the new base and retry the merge (idempotent via the watermark)."""


class SnapshotStore:
    # A rename collision with a dir older than this lease is treated as
    # a crashed-commit orphan and reclaimed; younger dirs are presumed
    # to belong to an in-flight concurrent writer (post-rename,
    # pre-pointer-swap) and raise CommitConflictError instead.  Real
    # commits swap the pointer within milliseconds of the rename, so
    # 30 s is ~1000× the vulnerable window while keeping post-crash
    # replay latency bounded (retry with backoff clears it).
    ORPHAN_LEASE_SEC = 30.0

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._meta = self._load_meta()

    # ------------------------------------------------------------ setup

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: TargetSchema,
        num_buckets: int = 32,
        bucket_fn: str = "xxhash64",
        hot_split_rows: int = 0,
        changelog: bool = False,
        zonemap_cols: list[str] | None = None,
    ) -> "SnapshotStore":
        """``bucket_fn``: ``"xxhash64"`` (default — fastest, JVM-side)
        or ``"md5"`` (portable: the same bucket is computable in any
        engine with md5 + hex parsing, which is what lets an external
        system — or the DuckDB lineage oracle — independently verify
        per-bucket lineage).  Persisted in the table meta; all readers
        and writers derive buckets from it.

        ``hot_split_rows`` (0 = off): COW write-amplification guard for
        hot buckets — a bucket whose merged row count exceeds this
        threshold is written as ``_bucket=K/_sub=J`` sub-dirs, with J a
        deterministic hash of the FULL key (so one hot conv_id's turns
        spread across subs).  Reads union the subs transparently
        (recursive listing under the bucket dir); the bucket function —
        and therefore lineage, pruning, and the portable md5 oracle —
        is untouched.  At 10^10 events one storm bucket otherwise
        serializes the write path behind a single task.

        ``changelog``: record a change data feed (CDF) per commit —
        each COW merge writes its resolved (key, change_type,
        post-image) rows alongside the snapshot, and MoR delta logs
        serve as their own feed; ``read_changes`` reads any snapshot
        range.  The downstream-consumption face of a CDC sink (Delta
        CDF / Iceberg changelog): consumers incrementally follow the
        table without re-diffing snapshots.

        ``zonemap_cols``: per-bucket (min, max) zone maps for these
        columns, harvested from the written parquet FOOTERS at each
        COW commit (driver metadata reads, no extra Spark pass) and
        committed in the same meta.json — data skipping on NON-key
        predicates: ``read_range(col, lo, hi)`` prunes buckets whose
        range cannot match, the hash-bucket analog of Iceberg
        manifest column stats.  Numeric/string columns only; buckets
        with outstanding MoR deltas are never pruned (stats cover the
        base files, not the delta log)."""
        if bucket_fn not in ("xxhash64", "md5"):
            raise ValueError(f"unknown bucket_fn {bucket_fn!r}")
        allowed = {
            "smallint", "int", "bigint", "float", "double", "string"
        }
        for zc in zonemap_cols or []:
            ctype = schema.column(zc).spark_type  # KeyError if absent
            if ctype not in allowed:
                raise ValueError(
                    f"zonemap col {zc!r}: type {ctype} not supported"
                )
        snap_dir = os.path.join(root, _snap_rel(0))
        os.makedirs(snap_dir, exist_ok=True)
        meta = {
            "snapshot_id": 0,
            "parent": None,
            "bucket_fn": bucket_fn,
            "table": schema.table,
            "columns": [dataclasses.asdict(c) for c in schema.columns],
            "num_buckets": num_buckets,
            "hot_split_rows": int(hot_split_rows),
            "files": {},           # bucket -> dir relpath; absent = empty
            "deltas": {},          # bucket -> ordered MoR delta dirs
            "changelog": bool(changelog),
            "zonemap_cols": list(zonemap_cols or []),
            "zonemap": {},         # bucket -> {col: [min, max]}
            "hwm": {"lsn": -1, "frame_seq": -1},
            "lineage": {},
            "committed_at": time.time(),
        }
        _write_meta(snap_dir, meta)
        cls._swap_pointer(root, 0)
        return cls(spark, root)

    @staticmethod
    def _swap_pointer(root: str, snapshot_id: int) -> None:
        tmp = os.path.join(root, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump({"snapshot": snapshot_id}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(root, MANIFEST))

    def _snapshot_meta(self, sid: int) -> dict | None:
        """Snapshot ``sid``'s manifest; None when its meta.json is
        missing or torn.  ONLY those two mean "no such snapshot": a
        transient OSError (EMFILE, EACCES, NFS hiccup) on an intact
        meta RAISES — treating it as missing would let ``_load_meta``
        regress to an older snapshot, and the next merge would then
        advance snapshot_id over a newer one and destroy committed
        state."""
        try:
            with open(
                os.path.join(self.root, _snap_rel(sid), "meta.json")
            ) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _load_meta(self) -> dict:
        with open(os.path.join(self.root, MANIFEST)) as f:
            snap = json.load(f)["snapshot"]
        # belt-and-braces recovery: meta.json is fsynced before the
        # pointer swap, but if a snapshot's meta is GENUINELY torn or
        # missing (power loss on a non-ordering filesystem, manual
        # damage), fall back to the newest earlier snapshot with a
        # readable meta rather than bricking the table — replay from
        # the older watermark is idempotent by construction.
        skipped: list[int] = []
        for sid in range(snap, -1, -1):
            meta = self._snapshot_meta(sid)
            if meta is None:
                skipped.append(sid)
                continue
            if skipped:
                import warnings

                warnings.warn(
                    f"snapshot meta recovery under {self.root!r}: "
                    f"skipped unreadable snapshot(s) {skipped}, "
                    f"recovered from snapshot {sid} — replay from its "
                    "watermark to converge",
                    RuntimeWarning,
                    stacklevel=2,
                )
            # remember the damaged pointer target: the next commit is
            # allowed to supersede it (it is NOT a concurrent writer)
            self._recovered_pointer = snap if skipped else None
            return meta
        raise RuntimeError(
            f"no readable snapshot meta under {self.root!r} "
            f"(manifest points at snapshot {snap})"
        )

    def refresh(self) -> None:
        self._meta = self._load_meta()

    # ------------------------------------------------------- properties

    @staticmethod
    def _schema_from(meta: dict) -> TargetSchema:
        return TargetSchema(
            meta["table"],
            [
                TargetColumn(
                    c["name"], c["type_oid"], c["spark_type"], c["is_key"]
                )
                for c in meta["columns"]
            ],
        )

    @property
    def schema(self) -> TargetSchema:
        return self._schema_from(self._meta)

    @property
    def num_buckets(self) -> int:
        return self._meta["num_buckets"]

    @property
    def snapshot_id(self) -> int:
        return self._meta["snapshot_id"]

    def hwm(self) -> tuple[int, int]:
        """(lsn, frame_seq) high-watermark of applied frames."""
        return (self._meta["hwm"]["lsn"], self._meta["hwm"]["frame_seq"])

    def lineage(self) -> dict:
        return self._meta["lineage"]

    # ------------------------------------------------------------- read

    def bucket_expr(self, col: str = "conv_id") -> F.Column:
        if self._meta.get("bucket_fn") == "md5":
            # portable bucket: first 15 hex chars of md5 (60 bits,
            # always non-negative) mod N — reproducible in any engine
            return F.pmod(
                F.conv(F.substring(F.md5(F.col(col)), 1, 15), 16, 10)
                .cast("long"),
                F.lit(self.num_buckets),
            ).cast("int")
        # bucket(N, conv_id) — xxhash64 is seed-stable across sessions
        return F.pmod(F.xxhash64(F.col(col)), F.lit(self.num_buckets)).cast(
            "int"
        )

    def _meta_for(self, as_of: int | None) -> dict:
        """Manifest for a time-travel read (``as_of`` = snapshot id;
        None = current).  Every commit keeps its full manifest in its
        snapshot dir, so any un-expired snapshot is readable — the
        Iceberg ``VERSION AS OF`` surface."""
        if as_of is None:
            return self._meta
        meta = self._snapshot_meta(as_of)
        if meta is None:
            raise ValueError(
                f"snapshot {as_of} does not exist (or was expired by "
                "expire_snapshots) — history() lists readable snapshots"
            )
        return meta

    def read(
        self,
        buckets: list[int] | None = None,
        as_of: int | None = None,
    ) -> DataFrame:
        """Table state (optionally bucket-pruned) + ``_bucket``.

        ``_bucket`` is recomputed from ``conv_id`` (deterministic
        xxhash64), so data files stay partition-layout-agnostic.
        Files written under different snapshots may carry different
        column sets (additive evolution); the explicit schema fills
        missing columns with NULLs.

        Buckets with outstanding MoR delta files (``merge_mor``) are
        resolved on read: base rows fold with the delta log under the
        same last-write-wins-per-column algebra the COW merge uses —
        a merge-on-read scan, Iceberg-v2 style.

        ``as_of``: read a PAST snapshot by id (time travel) — the
        state exactly as that commit published it, including its
        schema version and its outstanding deltas.
        """
        meta = self._meta_for(as_of)
        schema = self._schema_from(meta)
        files = meta["files"]
        sel = {
            int(b): path
            for b, path in files.items()
            if buckets is None or int(b) in buckets
        }
        key0 = schema.key_columns[0].name
        if not sel:
            # no base files: an empty store, or MoR before compaction
            df = _empty_frame(self.spark, schema.ddl())
        else:
            paths = [os.path.join(self.root, p) for p in sel.values()]
            df = (
                self.spark.read.schema(schema.ddl())
                # explicit dirs, no partition inference on _bucket=K names
                .option("recursiveFileLookup", "true")
                .parquet(*paths)
            )
        deltas = meta.get("deltas", {})
        dpaths = [
            os.path.join(self.root, rel)
            for b, rels in deltas.items()
            if buckets is None or int(b) in buckets
            for rel in rels
        ]
        if dpaths:
            ddf = (
                self.spark.read.schema(self._delta_ddl(schema))
                .option("recursiveFileLookup", "true")
                .parquet(*dpaths)
            )
            df = self._resolve(df, ddf, schema)
        return df.withColumn("_bucket", self.bucket_expr(key0))

    def read_table(self, as_of: int | None = None) -> DataFrame:
        return self.read(as_of=as_of).drop("_bucket")

    def prune_buckets(
        self, col: str, lo=None, hi=None, as_of: int | None = None
    ) -> list[int]:
        """Buckets that MIGHT hold rows with ``lo <= col <= hi``
        (either bound may be None = unbounded), by zone map.  A
        bucket without a zone-map entry for ``col`` — never written
        with stats, invalidated by an un-compacted MoR delta, or the
        store has no ``zonemap_cols`` — is always RETAINED: pruning
        is only ever an optimization, never a correctness filter."""
        meta = self._meta_for(as_of)
        zmap = meta.get("zonemap", {})
        out = []
        for b in sorted(int(x) for x in meta["files"]):
            ent = zmap.get(str(b), {}).get(col)
            # outstanding deltas are already invalidated at commit
            # time, but guard anyway: resolve-on-read covers them
            if ent is None or meta.get("deltas", {}).get(str(b)):
                out.append(b)
                continue
            mn, mx = ent
            if (lo is not None and mx < lo) or (
                hi is not None and mn > hi
            ):
                continue
            out.append(b)
        return out

    def read_range(
        self, col: str, lo=None, hi=None, as_of: int | None = None
    ) -> DataFrame:
        """Zone-map-pruned range read: only buckets whose stats admit
        ``lo <= col <= hi`` are opened, then the residual predicate
        applies row-level — data skipping for NON-key predicates (the
        key predicate already prunes via the bucket function).  At
        10^10 rows a timestamp range over an append-mostly stream
        touches a small fraction of buckets instead of all of them."""
        df = self.read(
            buckets=self.prune_buckets(col, lo, hi, as_of),
            as_of=as_of,
        ).drop("_bucket")
        if lo is not None:
            df = df.where(F.col(col) >= lo)
        if hi is not None:
            df = df.where(F.col(col) <= hi)
        return df

    def leaf_file_rows(self) -> dict[str, int]:
        """Rows per LEAF write-partition of the current snapshot —
        ``"K"`` for an unsplit bucket, ``"K/J"`` per sub of a
        hot-split one.  This is the write-task granularity the
        hot-split exists to bound; the bench records its spread."""
        out: dict[str, int] = {}
        for b, rel in self._meta["files"].items():
            bdir = os.path.join(self.root, rel)
            subs = [
                d for d in os.listdir(bdir) if d.startswith("_sub=")
            ]
            targets = (
                {f"{b}/{d.split('=')[1]}": os.path.join(bdir, d)
                 for d in subs}
                if subs
                else {str(b): bdir}
            )
            for leaf, path in targets.items():
                out[leaf] = sum(
                    md.num_rows for md in _parquet_footers(path)
                )
        return out

    # ------------------------------------------------------------ evolve

    def evolved_schema(
        self, observed: list[tuple[int, str]] | list[tuple[str, int]]
    ) -> TargetSchema:
        """Schema evolution from the decode probe's (name, oid) pairs:
        unseen wire columns become new columns (additive), and a known
        column arriving with a different oid WIDENS in place when the
        promotion is lossless (int2→int4→int8, float4→float8 —
        Iceberg's updateColumn rules).  Key-column type changes and
        lossy changes raise — never a silent misparse."""
        from pg_pb3_ld_spark.schema import OID_TO_SPARK, can_widen

        schema = self.schema
        for name, oid in observed:
            oid = int(oid)
            cur = next((c for c in schema.columns if c.name == name), None)
            if cur is None:
                spark_type = OID_TO_SPARK.get(oid, "string")
                schema = schema.with_column(
                    TargetColumn(name, oid, spark_type)
                )
                continue
            if oid == cur.type_oid:
                continue
            new_type = OID_TO_SPARK.get(oid)
            if new_type == cur.spark_type or (
                new_type is not None and can_widen(new_type, cur.spark_type)
            ):
                # same storage type (text↔varchar), or NARROWER values
                # arriving after a widening already happened (stragglers
                # encoded before the upstream ALTER committed): the
                # store type already holds them losslessly — keep it
                continue
            if cur.is_key:
                raise ValueError(
                    f"key column {name!r} changed type oid "
                    f"{cur.type_oid} → {oid}; key type changes require "
                    "a re-bootstrap, not in-place evolution"
                )
            if new_type is not None and can_widen(cur.spark_type, new_type):
                schema = schema.with_widened(
                    TargetColumn(name, oid, new_type)
                )
                continue
            raise ValueError(
                f"column {name!r} changed type oid {cur.type_oid} → "
                f"{oid} ({cur.spark_type} → {new_type}); only lossless "
                "widening promotions evolve in place"
            )
        return schema

    # ------------------------------------------------------------ merge

    @staticmethod
    def _batch_stats(src: DataFrame) -> tuple[list, dict]:
        """Per-bucket aggregate of a folded batch (one small Spark
        job) — drives the affected buckets, the watermark and the
        lineage of ``merge`` and ``merge_mor``.  Returns the rows and
        the phase timings dict, seeded with ``stats``."""
        t0 = time.time()
        stats = src.groupBy("_bucket").agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(
                F.when(F.col("kind") == "DELETE", 1).otherwise(0)
            ).alias("n_del"),
            F.sum("n_changes").alias("n_changes"),
            F.min("last_lsn").alias("lsn_min"),
            F.max("last_lsn").alias("lsn_max"),
            F.max("last_frame_seq").alias("frame_max"),
        ).collect()
        return stats, {"stats": time.time() - t0}

    def _batch_hwm(
        self, stats: list, hwm_override: tuple[int, int] | None
    ) -> dict:
        """The watermark after this batch: the batch's max applied
        (lsn, frame_seq) — or the caller's commit point — never below
        the current one."""
        old_lsn, old_frame = self.hwm()
        if hwm_override is not None:
            batch_lsn, batch_frame = hwm_override
        else:
            batch_lsn = max(int(r["lsn_max"]) for r in stats)
            batch_frame = max(int(r["frame_max"]) for r in stats)
        return {
            "lsn": max(old_lsn, batch_lsn),
            "frame_seq": max(old_frame, batch_frame),
        }

    @staticmethod
    def _batch_lineage(r, batch_id: int | None) -> dict:
        return {
            "last_batch": batch_id,
            "keys": int(r["n_keys"]),
            "deletes": int(r["n_del"]),
            "changes": int(r["n_changes"]),
            "lsn_range": [int(r["lsn_min"]), int(r["lsn_max"])],
        }

    @staticmethod
    def _batch_result(stats: list, phase: dict, meta: dict) -> dict:
        return {
            "merge_phase_sec": {k: round(v, 2) for k, v in phase.items()},
            "snapshot_id": meta["snapshot_id"],
            "applied_keys": int(sum(r["n_keys"] for r in stats)),
            "applied_changes": int(sum(r["n_changes"] for r in stats)),
            "deletes": int(sum(r["n_del"] for r in stats)),
            "hwm_lsn": meta["hwm"]["lsn"],
            "hwm_frame_seq": meta["hwm"]["frame_seq"],
        }

    def merge(
        self,
        folded: DataFrame,
        schema: TargetSchema | None = None,
        batch_id: int | None = None,
        hwm_override: tuple[int, int] | None = None,
    ) -> dict:
        """Apply one folded change batch as a COW MERGE; commit a new
        snapshot atomically.  Returns the batch metrics dict.

        ``schema`` may be an evolved superset of the store schema
        (D7); the new snapshot records the evolved columns.
        """
        from pyspark.sql import Observation

        schema = schema or self.schema
        keys = [c.name for c in schema.key_columns]
        vals = [c.name for c in schema.value_columns]

        src = folded.withColumn("_bucket", self.bucket_expr(keys[0]))
        src = src.persist()
        joined = None
        try:
            stats, phase = self._batch_stats(src)
            if not stats:
                return {"applied_keys": 0, "skipped": True}
            affected = sorted(int(r["_bucket"]) for r in stats)

            tgt = self.read(buckets=affected)
            # align target to (possibly evolved) schema: add missing
            # columns, and cast type-widened ones (the old snapshot's
            # parquet still holds the narrow type; the promotion is
            # lossless by construction — Catalyst elides no-op casts)
            for c in schema.columns:
                if c.name not in tgt.columns:
                    tgt = tgt.withColumn(
                        c.name, F.lit(None).cast(c.spark_type)
                    )
                else:
                    tgt = tgt.withColumn(
                        c.name, F.col(c.name).cast(c.spark_type)
                    )

            changelog = bool(self._meta.get("changelog"))
            s = src.drop("_bucket").alias("s")
            # _t_exists: a definite target-presence marker (a real
            # target row may have every value column NULL)
            t = (
                tgt.drop("_bucket")
                .withColumn("_t_exists", F.lit(True))
                .alias("t")
            )
            joined = t.join(s, on=keys, how="full_outer")
            if changelog:
                # both the merged result and the change rows derive
                # from this join — materialize it once
                joined = joined.persist()
            no_src = F.col("s.kind").isNull()
            # recompute the bucket from the (coalesced) join key
            merged_cols = [self.bucket_expr(keys[0]).alias("_bucket")]
            for k in keys:
                merged_cols.append(F.col(k))
            for c in vals:
                merged_cols.append(
                    F.when(no_src, F.col(f"t.{c}"))
                    .when(F.col("s.kind") == "REPLACE", F.col(f"s.{c}"))
                    .when(
                        F.col(f"s.{c}_set"), F.col(f"s.{c}")
                    )  # PATCH, column present on the wire
                    .otherwise(F.col(f"t.{c}"))
                    .alias(c)
                )
            result = joined.where(
                no_src | (F.col("s.kind") != "DELETE")
            ).select(*merged_cols)

            # Hot-bucket sub-splitting (write-amplification guard):
            # project each affected bucket's merged size as its last
            # known row count (lineage) plus this batch's keys; any
            # bucket over the threshold is spread across
            # ceil(projected / threshold) sub-partitions keyed by a
            # hash of the FULL key — one hot conv_id's turns split
            # across subs (a conv_id hash would keep them together).
            hot_rows = int(self._meta.get("hot_split_rows", 0) or 0)
            n_sub: dict[int, int] = {}
            for r in stats:
                b = int(r["_bucket"])
                prev = self._meta["lineage"].get(str(b), {})
                projected = int(prev.get("rows", 0)) + int(r["n_keys"])
                n_sub[b] = (
                    min(32, -(-projected // hot_rows))
                    if hot_rows > 0 and projected > hot_rows
                    else 1
                )

            with self._stage() as st:
                obs = Observation(f"merge_{st.id}")
                result = result.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows_written"),
                )
                parts, n_parts = ("_bucket",), len(affected)
                if any(v > 1 for v in n_sub.values()):
                    # The (bucket, n_sub) table rides a broadcast
                    # join, not a literal map: per-batch literals in
                    # generated code force serial Janino recompiles.
                    # It is built on the JVM (one row exploded from an
                    # array), so only its own tiny build stage carries
                    # the literals and no Python task starts.
                    nsub_df = F.broadcast(
                        self.spark.range(0, 1, 1, 1).select(
                            F.inline(F.array(*[
                                F.struct(
                                    F.lit(b).cast("int").alias("_bucket"),
                                    F.lit(n).cast("int").alias("_nsub"),
                                )
                                for b, n in sorted(n_sub.items())
                            ]))
                        )
                    )
                    key_hash = F.xxhash64(*[F.col(k) for k in keys])
                    result = (
                        result.join(nsub_df, "_bucket", "left")
                        .withColumn(
                            "_sub",
                            F.pmod(
                                key_hash,
                                F.coalesce(F.col("_nsub"), F.lit(1)),
                            ).cast("int"),
                        )
                        .drop("_nsub")
                    )
                    parts = ("_bucket", "_sub")
                    n_parts = sum(n_sub.values())

                t0 = time.time()
                written = self._write_buckets(
                    result, st, "data", n_parts, keys, parts
                )
                try:
                    rows_written = obs.get["rows_written"]
                except Exception:
                    # AQE's empty-relation propagation can eliminate
                    # the CollectMetrics node when the merged result
                    # is empty at runtime (e.g. a delete-all batch) —
                    # recount exactly from the staged footers below
                    rows_written = None
                phase["write"] = time.time() - t0

                changes_rel = None
                if changelog:
                    # change data feed: one row per key the batch
                    # actually changed — INSERT (no target), UPDATE,
                    # or DELETE (a DELETE without a target row is a
                    # no-op and emits nothing).  Post-image values;
                    # the pre-image is the parent snapshot via time
                    # travel.
                    t_exists = F.col("t._t_exists").isNotNull()
                    ctype = (
                        F.when(
                            F.col("s.kind") == "DELETE",
                            F.when(t_exists, "DELETE"),
                        )
                        .when(~t_exists, "INSERT")
                        .otherwise("UPDATE")
                    )
                    ch_cols = [F.col(k) for k in keys] + [
                        ctype.alias("change_type")
                    ]
                    for c in vals:
                        post = (
                            F.when(F.col("s.kind") == "DELETE", None)
                            .when(
                                F.col("s.kind") == "REPLACE",
                                F.col(f"s.{c}"),
                            )
                            .when(F.col(f"s.{c}_set"), F.col(f"s.{c}"))
                            .otherwise(F.col(f"t.{c}"))
                        )
                        ch_cols.append(post.alias(c))
                    # pre-images (Delta CDF's update_preimage face, as
                    # columns): the target row's values before this
                    # commit — NULL for INSERT.  Enables downstream
                    # incremental view maintenance (retract old, apply
                    # new) without a time-travel read per commit.
                    for c in vals:
                        ch_cols.append(
                            F.col(f"t.{c}").alias(f"_pre_{c}")
                        )
                    ch_cols += [
                        F.col("s.last_lsn").alias("last_lsn"),
                        F.lit(st.id).cast("bigint").alias("snapshot_id"),
                    ]
                    changes = joined.where(
                        ~no_src
                        & ~((F.col("s.kind") == "DELETE") & ~t_exists)
                    ).select(*ch_cols)
                    t0 = time.time()
                    changes.write.mode("overwrite").parquet(
                        os.path.join(st.dir, "changes")
                    )
                    changes_rel = os.path.join(
                        _snap_rel(st.id), "changes"
                    )
                    phase["changes"] = time.time() - t0

                lin = {
                    int(r["_bucket"]): self._batch_lineage(r, batch_id)
                    for r in stats
                }

                def entry(b, _prev, rows):
                    ent = {**lin[b], "rows": rows}
                    if n_sub[b] > 1:
                        ent["n_sub"] = n_sub[b]
                    return ent

                fields, bucket_rows = self._rebase(
                    st, written, affected, entry
                )
                meta = self._publish(
                    st, schema, changes_rel,
                    hwm=self._batch_hwm(stats, hwm_override), **fields,
                )
            if rows_written is None:
                rows_written = sum(bucket_rows.values())
            return {
                **self._batch_result(stats, phase, meta),
                "buckets_rewritten": len(affected),
                "rows_written": int(rows_written),
            }
        finally:
            src.unpersist()
            if joined is not None:
                joined.unpersist()

    # --------------------------------------------------- merge-on-read

    @staticmethod
    def _delta_ddl(schema: TargetSchema) -> str:
        """Explicit read schema for MoR delta files: the folded-batch
        columns plus ``_delta_seq``.  Older delta files written before
        an additive evolution lack the new columns; the explicit
        schema fills both ``<c>`` and ``<c>_set`` with NULL, and the
        resolution treats a NULL set-flag as not-present."""
        parts = [f"{c.name} {c.spark_type}" for c in schema.key_columns]
        parts.append("kind string")
        for c in schema.value_columns:
            parts.append(f"{c.name} {c.spark_type}")
            parts.append(f"{c.name}_set boolean")
        parts += [
            "last_lsn bigint",
            "last_frame_seq bigint",
            "n_changes bigint",
            "_delta_seq bigint",
        ]
        return ", ".join(parts)

    @staticmethod
    def _resolve(
        base: DataFrame, ddf: DataFrame, schema: TargetSchema
    ) -> DataFrame:
        """Fold base rows + the ordered delta log to current state.

        The algebra is the cross-batch generalization of the intra-
        batch fold (operators/fold.py): every contribution is a
        ``max(struct(seq, …))`` keyed by ``_delta_seq`` (snapshot id —
        strictly increasing, one row per key per delta at most, so the
        order is total).  A base row participates as a full-row
        barrier at seq = -1:

        * final kind DELETE           → row dropped
        * barrier = latest BASE/REPLACE/DELETE row; a column's value
          is its latest set-flagged value at-or-after the barrier
          (REPLACE rebuilds, DELETE-then-PATCH re-inserts with
          untouched columns NULL — byte-identical to replaying the
          same batches through the COW merge)

        Associative + commutative aggregates → map-side partial
        combining; the only shuffle is one hash aggregate over the
        key columns of the touched buckets."""
        keys = [c.name for c in schema.key_columns]
        vals = [c.name for c in schema.value_columns]

        base_cols = [F.col(k) for k in keys] + [F.lit("BASE").alias("kind")]
        for c in vals:
            base_cols.append(F.col(c))
            base_cols.append(F.lit(True).alias(f"{c}_set"))
        base_cols += [
            F.lit(None).cast("bigint").alias("last_lsn"),
            F.lit(None).cast("bigint").alias("last_frame_seq"),
            F.lit(None).cast("bigint").alias("n_changes"),
            F.lit(-1).cast("bigint").alias("_delta_seq"),
        ]
        union = base.select(*base_cols).unionByName(ddf)

        seq = F.col("_delta_seq")
        aggs = [
            F.max(F.struct(seq.alias("s"), F.col("kind").alias("k"))).alias(
                "_last"
            ),
            F.max(
                F.when(
                    F.col("kind").isin("BASE", "REPLACE", "DELETE"),
                    F.struct(seq.alias("s"), F.col("kind").alias("k")),
                )
            ).alias("_barrier"),
        ]
        for c in vals:
            aggs.append(
                F.max(
                    F.when(
                        F.col(f"{c}_set"),
                        F.struct(seq.alias("s"), F.col(c).alias("v")),
                    )
                ).alias(f"_lv_{c}")
            )
        agg = union.groupBy(*keys).agg(*aggs)

        barrier_s = F.col("_barrier").getField("s")
        out = [F.col(k) for k in keys]
        for c in vals:
            lv = F.col(f"_lv_{c}")
            valid = lv.isNotNull() & (
                F.col("_barrier").isNull() | (lv.getField("s") >= barrier_s)
            )
            out.append(F.when(valid, lv.getField("v")).alias(c))
        return agg.where(F.col("_last").getField("k") != "DELETE").select(
            *out
        )

    def merge_mor(
        self,
        folded: DataFrame,
        schema: TargetSchema | None = None,
        batch_id: int | None = None,
        hwm_override: tuple[int, int] | None = None,
    ) -> dict:
        """Apply one folded change batch as a MERGE-ON-READ delta
        commit: the folded rows are appended as bucket-partitioned
        delta files — no target read, no join, no base rewrite — and
        reads resolve base+deltas until ``compact()`` folds them in.

        This is the high-throughput ingest path at 10^10 events: a
        COW merge's write cost is proportional to the TOUCHED BUCKETS'
        total rows (read + join + rewrite), a MoR commit's to the
        BATCH alone.  Write amplification moves to the readers and is
        reclaimed in bulk by compaction (Iceberg v2 / Hudi MOR
        semantics).  Watermark, lineage and additive schema evolution
        are identical to ``merge`` — a stream may interleave the two
        freely (a COW merge absorbs any outstanding deltas for its
        buckets)."""
        schema = schema or self.schema
        keys = [c.name for c in schema.key_columns]
        vals = [c.name for c in schema.value_columns]

        src = folded.withColumn("_bucket", self.bucket_expr(keys[0]))
        src = src.persist()
        try:
            stats, phase = self._batch_stats(src)
            if not stats:
                return {"applied_keys": 0, "skipped": True}

            with self._stage() as st:
                out_cols = (
                    [F.col("_bucket")]
                    + [F.col(k) for k in keys]
                    + [F.col("kind")]
                )
                for c in vals:
                    out_cols += [F.col(c), F.col(f"{c}_set")]
                out_cols += [
                    F.col("last_lsn"),
                    F.col("last_frame_seq"),
                    F.col("n_changes"),
                    F.lit(st.id).cast("bigint").alias("_delta_seq"),
                ]
                t0 = time.time()
                written = self._write_buckets(
                    src.select(*out_cols), st, "delta", len(stats), keys
                )
                phase["write"] = time.time() - t0

                deltas = {
                    k: list(v)
                    for k, v in self._meta.get("deltas", {}).items()
                }
                for b, rel in written.items():
                    deltas.setdefault(str(b), []).append(
                        os.path.join(_snap_rel(st.id), rel)
                    )
                # a delta commit makes the bucket's base-file zone map
                # a lie (reads resolve base ∪ delta) — drop it: absent
                # = unprunable = safe, until compaction recomputes it
                zmap = dict(self._meta.get("zonemap", {}))
                lineage = dict(self._meta["lineage"])
                for r in stats:
                    b = str(int(r["_bucket"]))
                    zmap.pop(b, None)
                    lineage[b] = {
                        **lineage.get(b, {}),
                        **self._batch_lineage(r, batch_id),
                        "delta_files": len(deltas.get(b, [])),
                    }
                meta = self._publish(
                    st, schema,
                    hwm=self._batch_hwm(stats, hwm_override),
                    deltas=deltas, zonemap=zmap, lineage=lineage,
                )
            return {
                **self._batch_result(stats, phase, meta),
                "mode": "mor",
                "buckets_delta": len(stats),
            }
        finally:
            src.unpersist()

    def delta_state(self) -> dict[int, int]:
        """Outstanding delta files per bucket (empty = fully compacted)."""
        return {
            int(b): len(v)
            for b, v in self._meta.get("deltas", {}).items()
            if v
        }

    def compact(
        self,
        buckets: list[int] | None = None,
        min_deltas: int = 1,
    ) -> dict:
        """Fold outstanding MoR deltas into new base files for the
        selected buckets (default: every bucket with ≥ ``min_deltas``
        delta files) and commit a new snapshot with those buckets'
        delta logs cleared.  The watermark is untouched — compaction
        moves bytes, not state.

        At scale this is the background service that bounds read
        amplification: each compaction's cost is proportional to the
        compacted buckets' rows, independent of table size, and
        bucket subsets can compact in separate commits."""
        pending = self.delta_state()
        cands = sorted(
            b
            for b, n in pending.items()
            if n >= min_deltas and (buckets is None or b in buckets)
        )
        if not cands:
            return {"compacted_buckets": 0, "skipped": True}

        sid, rows = self._rewrite_resolved(
            cands, "compacted_at_snapshot", delta_files=0
        )
        return {
            "snapshot_id": sid,
            "compacted_buckets": len(cands),
            "rows_written": int(sum(rows.values())),
        }

    def _rewrite_resolved(
        self, buckets: list[int], mark: str, **lineage_fields
    ) -> tuple[int, dict[int, int]]:
        """Rewrite ``buckets`` as new base files from their RESOLVED
        state (outstanding MoR deltas folded in, then cleared) and
        commit.  The watermark is untouched — bytes move, not state.
        Each bucket's lineage keeps its batch history and gains its new
        row count, ``lineage_fields`` and ``mark`` = the new snapshot
        id.  Returns (snapshot id, rows per written bucket)."""
        resolved = self.read(buckets=buckets)
        keys = [c.name for c in self.schema.key_columns]
        with self._stage() as st:
            written = self._write_buckets(
                resolved, st, "data", len(buckets), keys
            )
            fields, rows = self._rebase(
                st, written, buckets,
                lambda _b, prev, n: {
                    **prev, "rows": n, **lineage_fields, mark: st.id
                },
            )
            self._publish(st, **fields)
        return st.id, rows

    def read_changes(
        self,
        since_snapshot: int = 0,
        until: int | None = None,
        preimages: bool = False,
    ) -> DataFrame:
        """Change data feed for snapshots in ``(since_snapshot,
        until]`` (until = current when None) — requires the store to
        have been created with ``changelog=True``.

        One row per key each commit changed:

        * COW merges emit exact ``INSERT`` / ``UPDATE`` / ``DELETE``
          classification with post-image values (a DELETE without a
          target row emits nothing);
        * MoR delta commits serve their OWN delta log as the feed:
          ``UPSERT`` / ``DELETE`` with the batch's wire-present values
          (insert-vs-update would need target resolution — the exact
          asymmetry Hudi's MOR changelog has; compact or COW-merge
          for exact classification);
        * compaction / bootstrap / expiry commits move bytes, not
          state, and emit nothing.

        Output: key columns, change_type, value columns (post-image),
        last_lsn, snapshot_id.  ``preimages=True`` adds a
        ``_pre_<col>`` column per value column — the target row's
        values before the commit (NULL for INSERT; NULL on MoR delta
        commits, which never read the target — compact or COW-merge
        for pre-images), enabling exact downstream incremental view
        maintenance (retract pre, apply post).  Without them the
        pre-image is the parent snapshot via ``read(as_of=)``."""
        if not self._meta.get("changelog"):
            raise RuntimeError(
                "change feed disabled — create the store with "
                "changelog=True"
            )
        schema = self.schema
        keys = [c.name for c in schema.key_columns]
        vals = [c.name for c in schema.value_columns]
        hi = self.snapshot_id if until is None else int(until)
        pre_ddl = (
            [f"_pre_{c.name} {c.spark_type}" for c in schema.value_columns]
            if preimages
            else []
        )
        ch_ddl = ", ".join(
            [f"{c.name} {c.spark_type}" for c in schema.key_columns]
            + ["change_type string"]
            + [f"{c.name} {c.spark_type}" for c in schema.value_columns]
            + pre_ddl
            + ["last_lsn bigint", "snapshot_id bigint"]
        )
        cow_paths: list[str] = []
        mor_paths: list[str] = []
        for sid in range(int(since_snapshot) + 1, hi + 1):
            m = self._snapshot_meta(sid)
            if m is None:
                raise ValueError(
                    f"snapshot {sid} was expired — the change feed "
                    "below the retention window is gone; checkpoint "
                    "consumers before expire_snapshots"
                )
            rel = m.get("changes_rel")
            if rel is not None:
                cow_paths.append(os.path.join(self.root, rel))
                continue
            prefix = os.path.join(_snap_rel(sid), "delta")
            mor_paths.extend(
                os.path.join(self.root, r)
                for rels in m.get("deltas", {}).values()
                for r in rels
                if r.startswith(prefix)
            )
        parts = []
        if cow_paths:
            parts.append(
                self.spark.read.schema(ch_ddl).parquet(*cow_paths)
            )
        if mor_paths:
            d = (
                self.spark.read.schema(self._delta_ddl(schema))
                .option("recursiveFileLookup", "true")
                .parquet(*mor_paths)
            )
            proj = [F.col(k) for k in keys] + [
                F.when(F.col("kind") == "DELETE", "DELETE")
                .otherwise("UPSERT")
                .alias("change_type")
            ]
            for c in vals:
                proj.append(
                    F.when(F.col(f"{c}_set"), F.col(c)).alias(c)
                )
            if preimages:
                for vc in schema.value_columns:
                    proj.append(
                        F.lit(None)
                        .cast(vc.spark_type)
                        .alias(f"_pre_{vc.name}")
                    )
            proj += [
                F.col("last_lsn"),
                F.col("_delta_seq").alias("snapshot_id"),
            ]
            parts.append(d.select(*proj))
        if not parts:
            return _empty_frame(self.spark, ch_ddl)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def diff_snapshots(
        self, since_snapshot: int = 0, until: int | None = None
    ) -> DataFrame:
        """State diff between two snapshots — the re-diff baseline the
        change feed replaces: a keyed full-outer join of
        ``read_table(as_of=since)`` vs ``read_table(as_of=until)``
        emitting one row per NET-changed key (INSERT / UPDATE /
        DELETE with post-image values and ``_pre_<col>`` pre-images;
        keys whose values are unchanged emit nothing, including
        change-and-change-back within the range).

        Works on ANY store (no ``changelog=True`` needed) and on
        expired intermediate snapshots, since only the two endpoint
        snapshots are read — the recovery path when a feed consumer
        has fallen below the retention window.  Cost is O(both
        snapshots) vs the feed's O(changes): one key-hash shuffle
        join, no Python.  ``test_changelog.py`` pins feed ≡ diff
        (netted) so either path yields the same downstream state."""
        schema = self.schema
        keys = [c.name for c in schema.key_columns]
        vals = [c.name for c in schema.value_columns]
        hi = self.snapshot_id if until is None else int(until)
        a = (
            self.read_table(as_of=since_snapshot)
            .withColumn("_a", F.lit(True))
            .alias("a")
        )
        b = (
            self.read_table(as_of=hi)
            .withColumn("_b", F.lit(True))
            .alias("b")
        )
        a_ex = F.col("a._a").isNotNull()
        b_ex = F.col("b._b").isNotNull()
        same_vals = F.lit(True)
        for c in vals:
            same_vals = same_vals & F.col(f"a.{c}").eqNullSafe(
                F.col(f"b.{c}")
            )
        ctype = (
            F.when(~a_ex, "INSERT")
            .when(~b_ex, "DELETE")
            .otherwise("UPDATE")
        )
        cols = (
            [F.col(k) for k in keys]
            + [ctype.alias("change_type")]
            + [F.col(f"b.{c}").alias(c) for c in vals]
            + [F.col(f"a.{c}").alias(f"_pre_{c}") for c in vals]
        )
        return (
            a.join(b, on=keys, how="full_outer")
            .where(~(a_ex & b_ex & same_vals))
            .select(*cols)
        )

    # --------------------------------------- bootstrap / history / GC

    def bootstrap(
        self,
        initial: DataFrame,
        as_of: tuple[int, int],
        batch_id: int | None = None,
    ) -> dict:
        """Initial-load → incremental switchover (the Debezium/DMS
        "snapshot then stream" pattern): bulk-load a consistent full
        table state and set the watermark to the snapshot's
        ``(lsn, frame_seq)`` point, so the subsequent WAL tail resumes
        exactly there — frames at-or-below the point are dropped by
        the standard replay filter, frames above apply incrementally.
        The load is one bucket-partitioned write (no join: there is
        nothing to merge into).

        Requires an EMPTY store (freshly created): bootstrapping over
        applied changes would silently discard them."""
        if (
            self.snapshot_id != 0
            or self._meta["files"]
            or any(self._meta.get("deltas", {}).values())
        ):
            raise RuntimeError(
                "bootstrap requires an empty store (snapshot 0, no "
                f"data): this store is at snapshot {self.snapshot_id}"
            )
        schema = self.schema
        keys = [c.name for c in schema.key_columns]
        src = initial.select(
            *[F.col(c.name).cast(c.spark_type) for c in schema.columns]
        ).withColumn("_bucket", self.bucket_expr(keys[0]))
        lsn, frame = int(as_of[0]), int(as_of[1])
        with self._stage() as st:
            written = self._write_buckets(
                src, st, "data", self.num_buckets, keys
            )
            fields, rows = self._rebase(
                st, written, sorted(written),
                lambda _b, _prev, n: {
                    "last_batch": batch_id,
                    "bootstrap": True,
                    "rows": n,
                    "lsn_range": [lsn, lsn],
                },
            )
            self._publish(
                st, hwm={"lsn": lsn, "frame_seq": frame}, **fields
            )
        return {
            "snapshot_id": st.id,
            "bootstrap_rows": int(sum(rows.values())),
            "hwm_lsn": lsn,
            "hwm_frame_seq": frame,
        }

    def history(self) -> list[dict]:
        """Readable (un-expired) snapshots, oldest first — the
        Iceberg ``table.history()`` surface: commit chain, watermark
        progression, and per-commit kind (bootstrap / merge / delta /
        compaction) derivable from the manifests alone."""
        out = []
        for d in sorted(os.listdir(os.path.join(self.root, "snapshots"))):
            m = self._snapshot_meta(int(d)) if d.isdigit() else None
            if m is None:
                continue
            out.append(
                {
                    "snapshot_id": m["snapshot_id"],
                    "parent": m.get("parent"),
                    "committed_at": m.get("committed_at"),
                    "hwm": m.get("hwm"),
                    "n_buckets_with_data": len(m.get("files", {})),
                    "n_delta_files": sum(
                        len(v) for v in m.get("deltas", {}).values()
                    ),
                    "is_current": m["snapshot_id"] == self.snapshot_id,
                }
            )
        return out

    def verify(self, deep: bool = False, as_of: int | None = None) -> dict:
        """Table audit: check the committed manifest against the disk
        and (``deep``) against the data itself — the maintenance
        operator an operator runs before trusting a 10^10-event table
        (Iceberg's ``verify``/Delta's ``fsck`` role).

        Shallow checks are driver-only metadata (path existence +
        parquet-footer row counts — same bounded reads the zone-map
        harvest uses; no Spark job):

        * ``missing_data`` / ``missing_delta`` — the manifest
          references a path with no parquet files;
        * ``row_count`` — footer rows != committed lineage rows
          (buckets with outstanding MoR deltas are skipped: their
          lineage reflects the base files, disclosed).

        Deep checks add two bounded Spark passes (aggregate outputs
        ≤ n_buckets rows each):

        * ``misplaced`` — rows under a bucket dir whose RECOMPUTED
          bucket differs.  ``read()`` derives ``_bucket`` from the
          key, so full scans still see such rows — but bucket-pruned
          reads (``read(buckets=...)``, ``read_range``) silently MISS
          them, which is why this must be audited;
        * ``zonemap`` — actual column min/max outside the committed
          zone map (``read_range`` could wrongly prune the bucket);
        * ``duplicate_key`` — >1 resolved row for a key (the
          last-write-wins invariant every merge maintains).

        Returns ``{"ok", "findings": [{kind, bucket, ...}], 
        "buckets", "deep"}`` — findings never raise; the caller
        decides (a maintenance job alerts, a test asserts).
        """
        meta = self._meta_for(as_of)
        schema = self._schema_from(meta)
        findings: list[dict] = []

        def _rows_under(path: str) -> int | None:
            rows = [md.num_rows for md in _parquet_footers(path)]
            return sum(rows) if rows else None

        files = meta.get("files", {})
        deltas = meta.get("deltas", {})
        lineage = meta.get("lineage", {})
        for b, rel in sorted(files.items(), key=lambda kv: int(kv[0])):
            path = os.path.join(self.root, rel)
            n = _rows_under(path)
            if n is None:
                findings.append({"kind": "missing_data", "bucket": int(b)})
                continue
            if deltas.get(str(b)):
                continue  # MoR bucket: lineage reflects base, skip
            want = int(lineage.get(str(b), {}).get("rows", -1))
            if want >= 0 and n != want:
                findings.append({
                    "kind": "row_count", "bucket": int(b),
                    "footer_rows": n, "lineage_rows": want,
                })
        for b, rels in deltas.items():
            for rel in rels:
                if _rows_under(os.path.join(self.root, rel)) is None:
                    findings.append({
                        "kind": "missing_delta", "bucket": int(b),
                        "path": rel,
                    })

        if deep and files:
            key0 = schema.key_columns[0].name
            zmap = meta.get("zonemap", {})
            zcols = sorted({c for ent in zmap.values() for c in ent})
            per_bucket = None
            for b, rel in files.items():
                part = (
                    self.spark.read.schema(schema.ddl())
                    .option("recursiveFileLookup", "true")
                    .parquet(os.path.join(self.root, rel))
                    .select(
                        F.lit(int(b)).alias("_dir"),
                        self.bucket_expr(key0).alias("_calc"),
                        *[F.col(c) for c in zcols],
                    )
                )
                per_bucket = part if per_bucket is None else (
                    per_bucket.unionByName(part)
                )
            aggs = [
                F.sum(
                    F.when(F.col("_calc") != F.col("_dir"), 1)
                    .otherwise(0)
                ).alias("_mis"),
            ]
            for c in zcols:
                aggs += [F.min(c).alias(f"_mn_{c}"),
                         F.max(c).alias(f"_mx_{c}")]
            for r in per_bucket.groupBy("_dir").agg(*aggs).collect():
                b = int(r["_dir"])
                if int(r["_mis"] or 0):
                    findings.append({
                        "kind": "misplaced", "bucket": b,
                        "n_rows": int(r["_mis"]),
                    })
                for c, (lo, hi) in (zmap.get(str(b)) or {}).items():
                    mn, mx = r[f"_mn_{c}"], r[f"_mx_{c}"]
                    if mn is not None and (mn < lo or mx > hi):
                        findings.append({
                            "kind": "zonemap", "bucket": b, "col": c,
                            "actual": [mn, mx], "committed": [lo, hi],
                        })
            keys = [c.name for c in schema.key_columns]
            dups = (
                self.read(as_of=as_of)
                .groupBy(*keys, "_bucket")
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > 1)
                .groupBy("_bucket")
                .agg(F.count(F.lit(1)).alias("_k"))
                .collect()
            )
            for r in dups:
                findings.append({
                    "kind": "duplicate_key", "bucket": int(r["_bucket"]),
                    "n_keys": int(r["_k"]),
                })

        return {
            "ok": not findings,
            "findings": findings,
            "buckets": len(files),
            "deep": bool(deep),
        }

    def repair_misplaced(self) -> dict:
        """Repair for :meth:`verify`'s ``misplaced`` finding: rewrite
        every bucket that holds (or should hold) mis-bucketed rows so
        each row sits under its DERIVED bucket dir, committed as a new
        snapshot compaction-style — bytes move, the watermark is
        untouched.

        Scope: placement only.  Full scans were already correct
        (``read()`` derives ``_bucket`` from the key); this restores
        the bucket-pruned paths (``read(buckets=...)``,
        ``read_range``) and adopts the rows into lineage/zone maps.
        ``duplicate_key`` findings are NOT adjudicated — data files
        carry no per-row LSN, so picking a winner needs a replay or
        re-bootstrap (disclosed).  Outstanding MoR deltas on touched
        buckets are folded in and cleared (the rewrite reads the
        RESOLVED state, like compaction).

        The rewrite set is transitively safe by construction: src =
        dirs holding a misplaced row, dest = those rows' derived
        buckets; every row read from src ∪ dest derives into
        src ∪ dest, so no untouched bucket can lose or gain rows.
        Cost ∝ the affected buckets' rows, independent of table size.
        """
        schema = self.schema
        key0 = schema.key_columns[0].name
        pairs = None
        for b, rel in self._meta["files"].items():
            part = (
                self.spark.read.schema(schema.ddl())
                .option("recursiveFileLookup", "true")
                .parquet(os.path.join(self.root, rel))
                .select(
                    F.lit(int(b)).alias("_dir"),
                    self.bucket_expr(key0).alias("_calc"),
                )
                .where(F.col("_calc") != int(b))
            )
            pairs = part if pairs is None else pairs.unionByName(part)
        if pairs is None:
            return {"repaired_buckets": 0, "skipped": True}
        moved = pairs.groupBy("_dir", "_calc").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
        if not moved:
            return {"repaired_buckets": 0, "skipped": True}
        affected = sorted(
            {int(r["_dir"]) for r in moved}
            | {int(r["_calc"]) for r in moved}
        )
        n_moved = int(sum(r["n"] for r in moved))
        sid, _rows = self._rewrite_resolved(affected, "repaired_at_snapshot")
        return {
            "snapshot_id": sid,
            "repaired_buckets": len(affected),
            "moved_rows": n_moved,
        }

    def rebucket(
        self,
        new_root: str,
        num_buckets: int,
        bucket_fn: str | None = None,
        hot_split_rows: int | None = None,
    ) -> "SnapshotStore":
        """Bucket-geometry migration: materialize the CURRENT resolved
        state (MoR deltas folded in) into a NEW store with a different
        bucket count / bucket function, watermark-preserving — the
        hash-bucket analog of Iceberg's partition-spec evolution,
        which a 10^10-event table eventually needs (a bucket count
        sized for year one serializes writes at year three).

        The new store bootstraps at THIS store's (lsn, frame_seq)
        watermark, so pointing the ingest pipeline at the new root
        resumes the same WAL tail exactly-once: frames at-or-below the
        point are dropped by the standard replay filter, frames above
        apply against the new geometry.  The old store remains intact
        and readable for rollback until deleted.  Cost: one full
        resolved read + one bucket-partitioned write — the same shape
        as a full compaction, run from the maintenance job that owns
        the table (not concurrently with a writer)."""
        new = SnapshotStore.create(
            self.spark,
            new_root,
            self.schema,
            num_buckets=num_buckets,
            bucket_fn=bucket_fn or self._meta.get("bucket_fn", "xxhash64"),
            hot_split_rows=(
                int(self._meta.get("hot_split_rows", 0))
                if hot_split_rows is None else int(hot_split_rows)
            ),
            changelog=bool(self._meta.get("changelog", False)),
            zonemap_cols=list(self._meta.get("zonemap_cols") or []),
        )
        new.bootstrap(self.read_table(), as_of=self.hwm())
        new.refresh()
        return new

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """GC: delete snapshot dirs that are (a) older than the
        ``keep_last`` most recent commits and (b) not referenced by
        any retained manifest's files/deltas maps.  Without expiry
        the COW chain retains every version forever — at 10^10 events
        that is unbounded storage; with it, storage is bounded by the
        live table plus ``keep_last`` versions of the touched buckets.

        Time-travel reads of expired snapshots raise; retained ones
        keep working (their manifests reference only retained data).
        Safe against in-flight readers of RETAINED snapshots by
        construction: a retained manifest's referenced paths are never
        deleted.  Run from the maintenance job that owns the table
        (like Iceberg's ``expireSnapshots``), not concurrently with a
        time-travel reader of an about-to-expire snapshot."""
        keep_last = max(1, int(keep_last))
        snap_root = os.path.join(self.root, "snapshots")
        ids = sorted(
            int(d) for d in os.listdir(snap_root) if d.isdigit()
        )
        cur = self.snapshot_id
        retained = {i for i in ids if i > cur - keep_last or i == cur}
        referenced: set[int] = set()
        for sid in retained:
            m = self._snapshot_meta(sid)
            if m is None:
                continue
            rels = list(m.get("files", {}).values()) + [
                rel
                for v in m.get("deltas", {}).values()
                for rel in v
            ]
            for rel in rels:
                parts = rel.split(os.sep)
                if len(parts) >= 2 and parts[0] == "snapshots":
                    referenced.add(int(parts[1]))
        expired = []
        for sid in ids:
            if sid in retained or sid in referenced:
                continue
            shutil.rmtree(
                os.path.join(snap_root, f"{sid:06d}"),
                ignore_errors=True,
            )
            expired.append(sid)
        return {
            "expired": expired,
            "retained": sorted(retained | referenced),
        }

    # ----------------------------------------------------- commit

    @contextlib.contextmanager
    def _stage(self):
        """Claim the next snapshot id and a UNIQUE staging dir
        (Iceberg-style): concurrent writers never collide on paths, so
        a failed or stale commit can never clobber a committed
        snapshot's files.  The id is owned only once ``_commit_staged``
        renames the dir into place; whatever is left here on exit (a
        failed or conflicted commit) is garbage and removed."""
        st = _Stage(
            self.snapshot_id + 1,
            os.path.join(self.root, "staging", uuid.uuid4().hex),
        )
        os.makedirs(st.dir)
        try:
            yield st
        finally:
            shutil.rmtree(st.dir, ignore_errors=True)

    @staticmethod
    def _write_buckets(
        df: DataFrame,
        st: _Stage,
        sub: str,
        n: int,
        keys: list[str],
        parts: tuple[str, ...] = ("_bucket",),
    ) -> dict[int, str]:
        """Write ``df`` into the stage as ``<sub>/_bucket=K[/_sub=J]``
        parquet: ``n`` write tasks hash-partitioned on ``parts``, each
        sorted by the key.  Returns ``{bucket: relpath}``, relative to
        the snapshot dir; a bucket with no rows has no entry."""
        out = os.path.join(st.dir, sub)
        (
            df.repartition(n, *[F.col(p) for p in parts])
            .sortWithinPartitions(*keys)
            .write.partitionBy(*parts)
            .mode("overwrite")
            .parquet(out)
        )
        return {
            int(d.split("=")[1]): os.path.join(sub, d)
            for d in os.listdir(out)
            if d.startswith("_bucket=")
        }

    def _rebase(
        self, st: _Stage, written: dict[int, str], buckets: list[int],
        entry,
    ) -> tuple[dict, dict[int, int]]:
        """Manifest fields of a commit that rewrote the base files of
        ``buckets``.  Each such bucket points at its new files (or
        drops out, emptied by deletes), absorbs its outstanding MoR
        deltas (the rewrite read the resolved state), gets its zone
        map from the new parquet footers, and its lineage row becomes
        ``entry(bucket, previous row, footer row count)``.  Buckets
        outside ``buckets`` are carried by reference.  Returns the
        fields and the footer row counts of the written buckets."""
        files = dict(self._meta["files"])
        deltas = {
            k: list(v) for k, v in self._meta.get("deltas", {}).items()
        }
        zmap = dict(self._meta.get("zonemap", {}))
        lineage = dict(self._meta["lineage"])
        zcols = self._meta.get("zonemap_cols") or []
        rows: dict[int, int] = {}
        for b in buckets:
            k = str(b)
            zone = {}
            if b in written:
                files[k] = os.path.join(_snap_rel(st.id), written[b])
                path = os.path.join(st.dir, written[b])
                rows[b] = sum(md.num_rows for md in _parquet_footers(path))
                zone = _zone_stats(path, zcols) if zcols else {}
            else:
                files.pop(k, None)
            deltas.pop(k, None)
            if zone:
                zmap[k] = zone
            else:
                zmap.pop(k, None)
            lineage[k] = entry(b, lineage.get(k, {}), rows.get(b, 0))
        fields = {
            "files": files, "deltas": deltas, "zonemap": zmap,
            "lineage": lineage,
        }
        return fields, rows

    def _publish(
        self,
        st: _Stage,
        schema: TargetSchema | None = None,
        changes_rel: str | None = None,
        **fields,
    ) -> dict:
        """Commit the stage as the next snapshot: its manifest is the
        parent's with ``fields`` replaced, the (possibly evolved)
        columns, and the new id, parent and commit time.  meta.json is
        fsynced INSIDE the stage, so data + watermark + lineage arrive
        together in ONE atomic rename.  Returns the manifest."""
        meta = {
            **self._meta,
            "snapshot_id": st.id,
            "parent": self.snapshot_id,
            "columns": [
                dataclasses.asdict(c)
                for c in (schema or self.schema).columns
            ],
            **fields,
            "committed_at": time.time(),
        }
        # a CDF file belongs to the commit that WROTE it; never
        # inherit the parent's (MoR deltas are their own feed)
        meta.pop("changes_rel", None)
        if changes_rel is not None:
            meta["changes_rel"] = changes_rel
        _write_meta(st.dir, meta)
        self._commit_staged(st.dir, st.id, meta)
        return meta

    def _commit_staged(self, stage_dir: str, new_id: int, meta: dict) -> None:
        """Publish a fully-staged snapshot dir (data + fsynced
        meta.json inside) as snapshot ``new_id``.

        Commit protocol (optimistic concurrency — the Iceberg
        CommitFailedException analog):

        1. the commit is valid only against the base snapshot this
           writer read from — re-check the pointer;
        2. claim the snapshot id by ATOMICALLY renaming the staging
           dir into place (rename onto a non-empty dir fails, so two
           writers can never both own an id);
        3. publish via the fsynced pointer swap.

        A rename collision is reclaimed ONLY when the dir is provably
        dead: the recovered-over damaged snapshot, or an orphan older
        than ORPHAN_LEASE_SEC.  Anything younger may be a concurrent
        writer between ITS rename and pointer swap, so the collision
        fails loudly instead.  The caller refreshes and retries
        (idempotent via the watermark)."""
        def _pointer() -> int | None:
            try:
                with open(os.path.join(self.root, MANIFEST)) as f:
                    return json.load(f)["snapshot"]
            except FileNotFoundError:
                return None

        recovered = getattr(self, "_recovered_pointer", None)
        cur = _pointer()
        if cur != self.snapshot_id and cur != recovered:
            raise CommitConflictError(
                f"concurrent commit detected: base snapshot "
                f"{self.snapshot_id} but manifest now points at "
                f"{cur} — refresh() and retry the merge"
            )
        snap_dir = os.path.join(self.root, _snap_rel(new_id))
        try:
            os.rename(stage_dir, snap_dir)
        except OSError:
            cur = _pointer()
            if (
                cur is not None and cur >= new_id
                and cur != recovered
            ):
                raise CommitConflictError(
                    f"concurrent commit detected: snapshot {new_id} "
                    f"already committed (manifest at {cur}) — "
                    "refresh() and retry the merge"
                )
            # Reclaims must be MUTUALLY EXCLUSIVE: two writers can
            # both judge the same dir dead (both saw the recovered
            # pointer, or both aged the same orphan past the lease)
            # and a bare rmtree+rename would let the second rmtree
            # delete the first writer's fully-renamed snapshot
            # before its pointer swap — one merge silently lost
            # while both report success.  Claim the name first by
            # ATOMICALLY renaming the dead dir to a unique trash
            # name (os.rename raises for the loser), then rmtree
            # the trash at leisure.
            def _reclaim(expected_mtime: float | None = None) -> None:
                trash = snap_dir + ".trash-" + uuid.uuid4().hex
                try:
                    os.rename(snap_dir, trash)
                except OSError:
                    # another writer won the claim — conflict
                    raise CommitConflictError(
                        f"snapshot dir {new_id} reclaimed by a "
                        "concurrent writer — refresh() and retry "
                        "the merge"
                    )
                if expected_mtime is not None:
                    # TOCTOU re-verify AFTER the claim: between
                    # this writer's staleness stat and its rename,
                    # another reclaimer may have completed its
                    # ENTIRE reclaim + stage-rename (+ pointer
                    # swap), making the name a LIVE snapshot — a
                    # different dir incarnation, detectable by its
                    # mtime differing from the one the staleness
                    # check saw.  Restore the stolen dir and
                    # conflict instead of destroying a committed
                    # merge.
                    try:
                        now_mtime = os.stat(trash).st_mtime
                    except OSError:
                        now_mtime = None
                    if now_mtime != expected_mtime:
                        try:
                            os.rename(trash, snap_dir)
                        except OSError:
                            pass  # name re-taken — trash kept for audit
                        raise CommitConflictError(
                            f"snapshot dir {new_id} was replaced by a "
                            "live commit during reclaim — refresh() "
                            "and retry the merge"
                        )
                shutil.rmtree(trash, ignore_errors=True)
                try:
                    os.rename(stage_dir, snap_dir)
                except OSError:
                    # a concurrent writer renamed ITS snapshot into
                    # the freed name between our rmtree and rename
                    raise CommitConflictError(
                        f"snapshot dir {new_id} claimed by a "
                        "concurrent commit during reclaim — "
                        "refresh() and retry the merge"
                    )

            if recovered is not None and cur == recovered:
                # damaged (recovered-over) snapshot: the pointer was
                # rolled back past it at open time, so the dir is
                # unreachable by every reader and owned by THIS
                # writer's recovery — safe to reclaim the name.
                _reclaim()
            else:
                # The pointer not having advanced does NOT prove the
                # colliding dir is a crashed orphan: a concurrent
                # writer sits in exactly this state between its
                # successful rename and its pointer swap — rmtree
                # here would destroy its fully-written snapshot and
                # silently lose its merge.  Only staleness can tell
                # the two apart: reclaim only if the dir predates
                # the commit lease; otherwise conflict and let the
                # caller refresh() + retry (by then the in-flight
                # writer has swapped the pointer, or a true orphan
                # has aged past the lease).
                try:
                    seen_mtime = os.stat(snap_dir).st_mtime
                    age = time.time() - seen_mtime
                except OSError:
                    age = None  # dir vanished → live racing writer
                if age is not None and age > self.ORPHAN_LEASE_SEC:
                    _reclaim(expected_mtime=seen_mtime)
                else:
                    raise CommitConflictError(
                        f"snapshot dir {new_id} already claimed by "
                        "an in-flight commit (pointer not yet "
                        "swapped) — refresh() and retry the merge"
                    )
        self._swap_pointer(self.root, new_id)
        self._meta = meta
        self._recovered_pointer = None  # damage superseded
