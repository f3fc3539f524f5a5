#!/usr/bin/env python3
"""Plan audit: dump formatted plans of the pipeline's key stages to
BENCH/EXPLAIN.md so plan regressions (lost pushdown, broken codegen,
surprise shuffles) are visible in review.

Checks asserted here:
* the hwm frame filter reaches the parquet scan (PushedFilters);
* the typed projection + fold sit inside WholeStageCodegen spans;
* the only Python node is the one ArrowEvalPython/MapInArrow decode
  (a Python-built relation, ``applySchemaToPythonRDD``, counts too);
* the merge join carries no unexpected extra shuffle.
"""

from __future__ import annotations

import io
import itertools
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HERE = os.path.dirname(os.path.abspath(__file__))


# a relation built by createDataFrame(<Python list>) scans as
# "Scan ExistingRDD" over applySchemaToPythonRDD: it starts a Python
# task per partition, so it counts as a Python stage too.  A Scan
# ExistingRDD over a JVM RDD (localCheckpoint) runs no Python.
_PY_NODES = ("EvalPython", "MapInPandas", "MapInArrow",
             "FlatMapGroupsInPandas", "AggregateInPandas",
             "applySchemaToPythonRDD")


def _has_python(plan: str) -> bool:
    """True for any node that runs Python tasks."""
    return any(n in plan for n in _PY_NODES)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from pg_pb3_ld_spark.session import build_session
    from pg_pb3_ld_spark.config import EngineConfig
    from pg_pb3_ld_spark.generator import generate_stream, write_frames_parquet
    from pg_pb3_ld_spark.operators.decode import decode_typed_changes
    from pg_pb3_ld_spark.operators.txn import (
        gate_by_commit_watermark,
        summary_agg_df,
    )
    from pg_pb3_ld_spark.operators.fold import fold_changes
    from pg_pb3_ld_spark.pipeline import PROBE_COLS
    from pg_pb3_ld_spark.schema import transcripts_schema
    from pyspark.sql import functions as F

    # AQE hides WholeStageCodegen markers in pre-execution explain
    # output; disable it here so the audit sees the final plan shape.
    # The audit's inputs are tiny parquet files standing in for large
    # tables: no size-based broadcast, so join shapes are the at-scale
    # ones (explicit broadcast hints still apply).
    spark = build_session(
        master="local[4]", shuffle_partitions=8,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    wd = tempfile.mkdtemp()
    n_inputs = itertools.count()

    def table(rows, ddl):
        """An audit input as a parquet scan, like the engine's real
        inputs; a createDataFrame relation would itself be a Python
        stage in every plan built on it."""
        path = os.path.join(wd, f"input{next(n_inputs)}.parquet")
        spark.createDataFrame(rows, ddl).write.parquet(path)
        return spark.read.parquet(path)

    stream = generate_stream(seed=5, n_convs=10, max_turns=6, n_extra_txns=20)
    fp = os.path.join(wd, "frames.parquet")
    write_frames_parquet(stream, fp)
    frames = spark.read.parquet(fp)
    cfg = EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184",
    )
    sections = []

    hwm_filtered = frames.where((F.col("lsn") > 12345) | (
        (F.col("lsn") == 12345) & (F.col("frame_seq") > 17)))
    sections.append(("hwm filter on frame scan (expect PushedFilters)",
                     plan_of(hwm_filtered)))

    # the actual hot path: single-pass fused typed decode (D1+D2) →
    # commit gate → fold, exactly as IngestPipeline composes it
    schema = transcripts_schema()
    typed = decode_typed_changes(hwm_filtered, schema, cfg, parallelism=4)
    sections.append(("batch pre-scan aggregation over typed output "
                     "(expect HashAggregate, NO SortAggregate)",
                     plan_of(summary_agg_df(typed))))
    data = typed.where(F.col("table_name") == schema.table).drop(*PROBE_COLS)
    gated = gate_by_commit_watermark(data, (10**6, 5, 10**9), True)
    folded = fold_changes(gated, schema)
    sections.append(("typed decode → gate → fold "
                     "(expect ONE Python/Arrow node, codegen elsewhere)",
                     plan_of(folded)))

    # round 4: the IVF assignment build must be a HashAggregate with
    # map-side combine — no Window/Sort over the n×n_lists scored
    # product (the r3 verdict's scale flag)
    from pg_pb3_ld_spark.functions import ann

    emb = table(
        [(i, [float(i % 7), float(i % 5), 1.0, 0.5]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = table(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "list_id int, embedding array<double>",
    )
    ivf_plan = plan_of(ann.ivf_assign(emb, cents))
    sections.append(("IVF assignment build "
                     "(expect HashAggregate, NO Window/Sort)", ivf_plan))

    # round 5: the new text/compliance operators must stay pure
    # Catalyst — zero Python nodes — and shuffle only on their
    # aggregation keys
    from pg_pb3_ld_spark.functions import textops

    docs = table(
        [(i, f"w{i % 9} x{i % 4} " * 6) for i in range(60)],
        "doc_id long, text string",
    )
    pii_plan = plan_of(textops.pii_scrub(docs))
    sections.append(("PII scrub (expect pure projection: no shuffle, "
                     "no Python, codegen)", pii_plan))
    dom_plan = plan_of(textops.domain_stats(docs))
    sections.append(("domain census (expect HashAggregates, "
                     "no Python)", dom_plan))
    rep_plan = plan_of(textops.repetition_signals(docs))
    sections.append(("repetition signals (expect hash aggs with "
                     "partial combine, no Python, no Window)", rep_plan))
    turns = table(
        [(i // 5, i % 5, "user", f"t{i}") for i in range(50)],
        "conv_id long, turn_idx int, role string, text string",
    )
    render_plan = plan_of(textops.render_chat(turns))
    sections.append(("chat rendering (expect ONE aggregation on "
                     "conv_id, no Python)", render_plan))
    pack_base = table(
        [(i, i % 4, 10 + i % 17) for i in range(60)],
        "doc_id long, shard long, n_tokens int",
    )
    pack_plan = plan_of(textops.pack_sequences(pack_base, 512))
    sections.append(("sequence packing (expect ONE shard-partitioned "
                     "Window, no global sort/exchange-single)", pack_plan))

    # round 5 (cont.): temporal/layout/retrieval operators
    from pg_pb3_ld_spark.functions.joins import asof_join, interval_join
    from pg_pb3_ld_spark.functions.layout import morton16, quantize16
    from pg_pb3_ld_spark.streaming.windows import windowed_rates

    ev = table(
        [(i, i % 7, 1000000000 + i * 900, f"t{i % 3}", float(i % 11))
         for i in range(80)],
        "event_id long, user_id long, us long, event_type string, "
        "value double",
    )
    sess_src = ev.select(
        "user_id", "event_id", "event_type", "us"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    sess_plan = plan_of(
        sess_src.withColumn(
            "_new", F.when(gap.isNull() | (gap > 1800 * 1000000), 1)
            .otherwise(0),
        )
        .withColumn("sess", F.sum("_new").over(w))
        .groupBy("user_id", "sess")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sections.append(("sessionize (expect ONE user_id exchange shared "
                     "by both Windows and the agg)", sess_plan))

    win_src = ev.select(
        F.timestamp_micros(F.col("us")).alias("ts"), "event_type",
        "value",
    )
    win_plan = plan_of(windowed_rates(win_src, window="6 hours"))
    sections.append(("event-time window agg (expect HashAggregate "
                     "with partials, no Python)", win_plan))

    clicks = ev.where("event_type = 't0'").select(
        F.col("event_id").alias("cid"), "user_id", "us"
    )
    purch = ev.where("event_type = 't1'").select(
        F.col("event_id").alias("pid"), "user_id", "us", "value"
    )
    asof_plan = plan_of(
        asof_join(clicks, purch, on=["user_id"], ts_col="us",
                  tiebreak="pid")
    )
    sections.append(("as-of join (expect ONE user_id hash exchange, "
                     "no SortMergeJoin/NestedLoop)", asof_plan))

    iv = table(
        [(1, 1000, 5000), (2, 9000, 12000)], "iid int, s long, e long"
    )
    ij_plan = plan_of(
        interval_join(ev.select("event_id", "us"), iv, "us", "s", "e",
                      bucket_width=2000)
    )
    sections.append(("interval join (expect equi hash/broadcast join "
                     "on bucket, NO BroadcastNestedLoop)", ij_plan))

    mm = table([(0, 65535)], "mn long, mx long")
    z_plan = plan_of(
        ev.join(F.broadcast(mm)).select(
            "event_id",
            morton16(
                quantize16(F.col("us"), F.col("mn"), F.col("mx")),
                F.col("user_id"),
            ).alias("zkey"),
        )
    )
    sections.append(("z-order key (expect pure codegen projection + "
                     "broadcast, no extra exchange)", z_plan))

    # round 5 (cont. 2): sketches / graph
    from pg_pb3_ld_spark.functions.graph import pagerank
    from pg_pb3_ld_spark.functions.sketches import (
        distinct_sketch,
        weighted_sample,
    )

    sk_plan = plan_of(
        distinct_sketch(
            ev.select("event_type", "user_id"), ["event_type"],
            "user_id", k=64,
        )
    )
    sections.append(("distinct sketch (expect two HashAggregates "
                     "with partials, no Python)", sk_plan))
    ws_plan = plan_of(
        weighted_sample(
            ev.select("event_id", "value"),
            F.col("value") + 1.0, "event_id", 10,
        )
    )
    sections.append(("weighted sample (expect TakeOrdered, no "
                     "global sort exchange)", ws_plan))
    pr_edges = ev.select(
        F.col("event_type").alias("src"),
        F.concat(F.lit("u"), (F.col("user_id") % 5).cast("string"))
        .alias("dst"),
    )
    pr_plan = plan_of(pagerank(pr_edges, n_iters=1))
    sections.append(("pagerank iteration (expect hash join + "
                     "HashAggregate, no Python, no Window)", pr_plan))

    # round 5 (cont. 3): BPE — the pair census must hash-aggregate
    # with map-side combine over the vocab-sized word table, and the
    # encode must be a pure codegen projection (merge chain inlined)
    from pg_pb3_ld_spark.functions import bpe

    wc = bpe.word_counts(docs)
    census = (
        wc.select(bpe.sym_expr(F.col("word")).alias("sym"), "cnt")
        .select(F.explode(bpe._pairs(F.col("sym"))).alias("pr"), "cnt")
        .groupBy("pr").agg(F.sum("cnt").alias("c"))
    )
    bpe_census_plan = plan_of(census)
    sections.append(("BPE pair census (expect HashAggregates with "
                     "partials, no Python, no Window)", bpe_census_plan))
    bpe_enc_plan = plan_of(
        docs.select("doc_id", bpe.encode_expr(
            F.col("text"), ["a b", "ab _"]).alias("enc"))
    )
    sections.append(("BPE encode via merge chain (expect pure codegen "
                     "projection: no shuffle, no Python)", bpe_enc_plan))

    # mixture manifest: corpus → one hash agg (domain counts) →
    # broadcast join back → pure projection; no window/sort/python
    from pg_pb3_ld_spark.functions import mixture

    mix_src = docs.select(
        "doc_id", F.concat(F.lit("s"), (F.col("doc_id") % 3)
                           .cast("string")).alias("source")
    )
    mix_plan = plan_of(
        mixture.mixture_sample(mix_src, {"s0": 2, "s1": 1}, 30)
    )
    sections.append(("mixture manifest (expect BroadcastHashJoin + "
                     "HashAggregate counts, no Window/Sort, "
                     "no Python)", mix_plan))

    # image near-dup: everything downstream of the fused decode+hash
    # map stage must be pure Catalyst — chunk bucket join on
    # (chunk_id, ck) with the cap agg reusing the same key, popcount
    # verify as a codegen filter, no Window, no nested loop
    from pg_pb3_ld_spark.functions import imagehash

    ih = table(
        [(i, (i * 2654435761) % (2**32), (i * 40503) % (2**32))
         for i in range(50)],
        "media_id long, hash_hi long, hash_lo long",
    )
    ih_plan = plan_of(
        imagehash.neardup_image_pairs(ih, max_hamming=3,
                                      max_bucket_size=64)
    )
    sections.append(("image near-dup pairs (expect bucketed equi-join "
                     "on (chunk_id, ck), cap agg on same key, "
                     "no Python, no Window, no NestedLoop)", ih_plan))

    # incremental near-dup: batch probes the persisted corpus band
    # index — equi joins on (band_id, bk) and the id-keyed set joins
    # only; no Python, no Window, no nested loop
    from pg_pb3_ld_spark.functions import dedup as dd

    inc_corpus = docs.where("doc_id % 3 != 0")
    inc_batch = docs.where("doc_id % 3 = 0")
    inc_plan = plan_of(
        dd.incremental_neardup(
            inc_batch,
            dd.minhash_bands(inc_corpus),
            dd.shingle_sets(inc_corpus),
        )
    )
    sections.append(("incremental near-dup vs persisted index "
                     "(expect equi joins on (band_id, bk) + id keys, "
                     "no Python, no Window, no NestedLoop)", inc_plan))

    # round 5 (cont.): SemDeDup edges + shard-export manifest
    from pg_pb3_ld_spark.functions import dedup as _dd
    from pg_pb3_ld_spark.functions import layout as _lo

    members = table(
        [(i % 3, i, [float(i % 7), 1.0, 0.5, 0.0]) for i in range(30)],
        "list_id int, vec_id long, embedding array<double>",
    )
    sd_plan = plan_of(_dd.semdedup_edges(members, 0.9))
    sections.append(("semdedup in-cell edges (expect equi join on "
                     "list_id, no NLJ, no Python, no Window)", sd_plan))
    man_plan = plan_of(_lo.shard_manifest(
        docs, "doc_id", 8, ["doc_id", "text"]))
    sections.append(("shard manifest (expect ONE HashAggregate chain "
                     "on shard, no Python, no Window)", man_plan))

    # round 5 (cont. 21): transcript QA + count-min sketch
    from pg_pb3_ld_spark.functions.sketches import cms_cells, cms_estimate
    from pg_pb3_ld_spark.functions.textops import transcript_qa

    qa_src = table(
        [(str(i % 5), i % 4, "user" if i % 2 else "assistant", "t")
         for i in range(40)],
        "conv_id string, turn_idx int, role string, text string",
    )
    qa_plan = plan_of(transcript_qa(qa_src))
    sections.append(("transcript QA (expect ONE conv_id exchange + "
                     "ObjectHashAggregate, no Window, no Python)",
                     qa_plan))
    cms = cms_cells(ev.select("user_id"), "user_id", 4, 64)
    cms_plan = plan_of(cms)
    sections.append(("count-min build (expect explode + "
                     "map-side-combining HashAggregate, no Python)",
                     cms_plan))
    cms_est_plan = plan_of(
        cms_estimate(cms, ev.select("user_id"), "user_id", 4, 64)
    )
    sections.append(("count-min probe (expect BroadcastHashJoin of "
                     "cells, no SortMergeJoin, no Python)",
                     cms_est_plan))

    # round 5: branched-transcript tree ops — the doubling rounds and
    # the leaf anti-join must be pure equi joins (no NLJ/Window), and
    # the preference-pair agg must be one max(struct) HashAggregate
    # with a co-partitioned join-back (no Window)
    from pg_pb3_ld_spark.functions.textops import (
        branch_paths,
        preference_pairs,
    )

    tree = table(
        [(c, i, i - 1 if i else None,
          "assistant" if i % 2 else "user", (c * 7 + i) % 5)
         for c in range(4) for i in range(6)],
        "conv_id long, node_id long, parent_id long, "
        "role string, score long",
    )
    bp_plan = plan_of(branch_paths(tree, max_rounds=4))
    sections.append(("branch paths (expect equi joins + LeftAnti "
                     "leaves, no NestedLoop, no Window, no Python)",
                     bp_plan))
    pp_plan = plan_of(preference_pairs(tree))
    sections.append(("preference pairs (expect max(struct) "
                     "HashAggregate + equi join-back, no Window, "
                     "no Python)", pp_plan))

    # round 5: compliance family — pseudonymization must stay a pure
    # projection; the erasure shard report is two hash aggs + one
    # tiny full-outer equi join
    from pg_pb3_ld_spark.functions.compliance import (
        pseudonymize,
        shard_invalidation,
    )

    subj_df = table(
        [(i, f"user{i % 9:02d}", f"by user{i % 9:02d}: t") for i in range(30)],
        "doc_id long, author string, body string",
    )
    pseud_plan = plan_of(
        pseudonymize(subj_df, "author", "k", text_cols=("body",))
    )
    sections.append(("pseudonymize (expect pure projection: "
                     "no Exchange, no Python)", pseud_plan))
    inval_plan = plan_of(shard_invalidation(
        subj_df.select(F.col("author").alias("conv_id")),
        subj_df.select(F.col("author").alias("conv_id")),
        "conv_id", 8,
    ))
    sections.append(("erasure shard report (expect HashAggregates + "
                     "equi full-outer join, no Window, no Python)",
                     inval_plan))

    # round 5 (final additions): preference analytics, best-trajectory
    # selection, context-window fitting, incremental export refresh
    from pg_pb3_ld_spark.functions.classifier import QUANT, hard_sigmoid
    from pg_pb3_ld_spark.functions.layout import shard_refresh_plan
    from pg_pb3_ld_spark.functions.preference import (
        _theta_expr,
        win_matrix,
    )
    from pg_pb3_ld_spark.functions.textops import best_paths, context_fit

    pref = table(
        [((i * 3) % 4, (i * 5 + 1) % 4) for i in range(40)],
        "winner_model int, loser_model int",
    ).where(F.col("winner_model") != F.col("loser_model"))
    wm_plan = plan_of(win_matrix(pref))
    sections.append(("win-rate matrix (expect ONE HashAggregate on the "
                     "canonical pair key, no Window/Sort, no Python)",
                     wm_plan))

    # one Bradley-Terry GD iteration: the scan-agg that IS the fit's
    # per-iteration cost (θ rides as literals; 2k conditional sums)
    theta0 = [0.0] * 4
    delta = _theta_expr("winner_model", theta0) - _theta_expr(
        "loser_model", theta0)
    qe = F.round((F.lit(1.0) - hard_sigmoid(delta)) * F.lit(QUANT)
                 ).cast("long")
    bt_aggs = [
        (F.sum(F.when(F.col("winner_model") == m, qe).otherwise(0))
         - F.sum(F.when(F.col("loser_model") == m, qe).otherwise(0))
         ).alias(f"g{m}")
        for m in range(4)
    ] + [F.count(F.lit(1)).alias("n")]
    bt_plan = plan_of(pref.agg(*bt_aggs))
    sections.append(("Bradley-Terry GD iteration (expect ONE "
                     "HashAggregate scan with map-side partials, no "
                     "join, no Window, no Python)", bt_plan))

    best_plan = plan_of(best_paths(tree, max_rounds=4))
    sections.append(("best-trajectory selection (expect HashAggregate "
                     "ranking + equi join-backs, no Window, no "
                     "NestedLoop, no Python)", best_plan))

    chat = table(
        [(c, i,
          "system" if i == 0 else ("user" if i % 2 else "assistant"),
          40 + 13 * i)
         for c in range(5) for i in range(7)],
        "conv_id long, turn_idx int, role string, n_tokens int",
    )
    cf_plan = plan_of(context_fit(chat, budget=200))
    sections.append(("context-window fitting (expect ONE conv_id "
                     "exchange shared by both window passes, no "
                     "Python)", cf_plan))

    refresh_changes = table(
        [(f"c{i}", ("INSERT", "UPDATE", "DELETE")[i % 3])
         for i in range(30)],
        "conv_id string, change_type string",
    )
    refresh_cur = table(
        [(f"c{i}",) for i in range(40)], "conv_id string",
    )
    srp_plan = plan_of(shard_refresh_plan(
        refresh_changes, refresh_cur, "conv_id", 8))
    sections.append(("shard refresh plan (expect two HashAggregates + "
                     "one equi join on shard, no Window, no Python)",
                     srp_plan))

    checks = {
        "win matrix: one hash agg, no window/sort-agg/python": (
            "HashAggregate" in wm_plan
            and "Window" not in wm_plan
            and "SortAggregate" not in wm_plan
            and not _has_python(wm_plan)
        ),
        "bt iteration: single scan hash agg w/ partials, no python": (
            "HashAggregate" in bt_plan
            and "partial_" in bt_plan
            and "Join" not in bt_plan
            and not _has_python(bt_plan)
        ),
        "best paths: hash-agg ranking, no window/NLJ/python": (
            "HashAggregate" in best_plan
            and "Window" not in best_plan
            and "NestedLoop" not in best_plan
            and not _has_python(best_plan)
        ),
        "context fit: ONE conv_id exchange, no python": (
            cf_plan.count("hashpartitioning(conv_id") == 1
            and not _has_python(cf_plan)
        ),
        "shard refresh: hash aggs + equi join, no window/NLJ/python": (
            "HashAggregate" in srp_plan
            and "Window" not in srp_plan
            and "NestedLoop" not in srp_plan
            and not _has_python(srp_plan)
        ),
        "pseudonymize: pure projection (no exchange, no python)": (
            "Exchange" not in pseud_plan and not _has_python(pseud_plan)
        ),
        "erasure shard report: hash aggs, no window/python/NLJ": (
            "HashAggregate" in inval_plan
            and "Window" not in inval_plan
            and "NestedLoop" not in inval_plan
            and not _has_python(inval_plan)
        ),
        "branch paths: anti-join leaves, no NLJ/window/python": (
            "LeftAnti" in bp_plan
            and "NestedLoop" not in bp_plan
            and "Window" not in bp_plan
            and not _has_python(bp_plan)
        ),
        "preference pairs: hash agg + equi join, no window/python": (
            "HashAggregate" in pp_plan
            and "Window" not in pp_plan
            and "NestedLoop" not in pp_plan
            and not _has_python(pp_plan)
        ),
        "transcript qa: one conv exchange, no window/python": (
            qa_plan.count("hashpartitioning(conv_id") == 1
            and "Window" not in qa_plan
            and not _has_python(qa_plan)
        ),
        "cms build: hash agg partials, no python": (
            "HashAggregate" in cms_plan
            and not _has_python(cms_plan)
        ),
        "cms probe: broadcast join, no SMJ/python": (
            "BroadcastHashJoin" in cms_est_plan
            and "SortMergeJoin" not in cms_est_plan
            and not _has_python(cms_est_plan)
        ),
        "semdedup edges: equi join on list_id, no NLJ/python/window": (
            "NestedLoop" not in sd_plan
            and "Window" not in sd_plan
            and not _has_python(sd_plan)
        ),
        "shard manifest: hash agg, no python/window": (
            "HashAggregate" in man_plan
            and "Window" not in man_plan
            and not _has_python(man_plan)
        ),
        "incremental neardup: equi joins only, no python/window/NLJ": (
            not _has_python(inc_plan)
            and "Window" not in inc_plan
            and "NestedLoop" not in inc_plan
        ),
        "image neardup: bucketed join, no python/window/NLJ": (
            not _has_python(ih_plan)
            and "Window" not in ih_plan
            and "NestedLoop" not in ih_plan
            and "bit_count" in ih_plan
        ),
        "distinct sketch: hash aggs, no python": (
            "HashAggregate" in sk_plan and not _has_python(sk_plan)
        ),
        "weighted sample: TakeOrdered (no global sort)": (
            "TakeOrdered" in ws_plan and not _has_python(ws_plan)
        ),
        "pagerank: no python, no window": (
            not _has_python(pr_plan) and "Window" not in pr_plan
        ),
        "bpe pair census: hash aggs with partials, no python": (
            "HashAggregate" in bpe_census_plan
            and "Window" not in bpe_census_plan
            and not _has_python(bpe_census_plan)
        ),
        "bpe encode: pure projection (no exchange, no python)": (
            "Exchange" not in bpe_enc_plan
            and not _has_python(bpe_enc_plan)
        ),
        "mixture manifest: broadcast join, no window/sort/python": (
            "BroadcastHashJoin" in mix_plan
            and "Window" not in mix_plan
            and "SortMergeJoin" not in mix_plan
            and not _has_python(mix_plan)
        ),
        "sessionize shares ONE user_id exchange": (
            sess_plan.count("hashpartitioning(user_id") == 1
            and not _has_python(sess_plan)
        ),
        "window agg: hash aggregate, no python": (
            "HashAggregate" in win_plan and not _has_python(win_plan)
        ),
        "asof join: one key exchange, no SMJ/NLJ": (
            asof_plan.count("hashpartitioning(user_id") == 1
            and "SortMergeJoin" not in asof_plan
            and "NestedLoop" not in asof_plan
            and not _has_python(asof_plan)
        ),
        "interval join: equi join on bucket, no NLJ": (
            "NestedLoop" not in ij_plan and not _has_python(ij_plan)
        ),
        "zorder key: no shuffle exchange, no python": (
            "hashpartitioning" not in z_plan
            and not _has_python(z_plan)
        ),
        "IVF assign is hash-aggregated (no window/sort)": (
            "HashAggregate" in ivf_plan
            and "Window" not in ivf_plan
            and "Sort" not in ivf_plan
        ),
        "PushedFilters with lsn/frame_seq": (
            "PushedFilters" in sections[0][1]
            and "lsn" in sections[0][1].split("PushedFilters", 1)[1][:200]
        ),
        "pre-scan is hash-aggregated (no sort)": (
            "HashAggregate" in sections[1][1]
            and "SortAggregate" not in sections[1][1]
        ),
        "single python stage": sections[2][1].count("MapInArrow") +
                               sections[2][1].count("ArrowEvalPython") +
                               sections[2][1].count("PythonMapInArrow") >= 1,
        "gate watermark built on the JVM (Range, no Python scan)": (
            not _has_python(sections[2][1].replace("MapInArrow", ""))
            and "Range" in sections[2][1]
        ),
        "whole-stage codegen present": (
            "codegen id" in sections[2][1]
            or "WholeStageCodegen" in sections[2][1]
        ),
        "partial aggregation (map-side combine)": (
            "partial_" in sections[2][1] or "HashAggregate" in sections[2][1]
        ),
        "pii scrub is a pure map (no exchange, no python)": (
            "Exchange" not in pii_plan and not _has_python(pii_plan)
        ),
        "domain census hash-aggregated, no python": (
            "HashAggregate" in dom_plan and not _has_python(dom_plan)
        ),
        "repetition signals: no python, no window": (
            not _has_python(rep_plan) and "Window" not in rep_plan
        ),
        "chat render: no python, single agg key": (
            not _has_python(render_plan)
            and "SinglePartition" not in render_plan
        ),
        "packing window is shard-partitioned (no single partition)": (
            "Window" in pack_plan
            and "SinglePartition" not in pack_plan
            and not _has_python(pack_plan)
        ),
    }

    out = ["# Plan audit (generated by BENCH/explain_audit.py)\n"]
    out.append("## Checks\n")
    for k, v in checks.items():
        out.append(f"- {'✅' if v else '❌'} {k}")
    out.append("")
    for title, plan in sections:
        out.append(f"## {title}\n\n```\n{plan}\n```\n")
    with open(os.path.join(HERE, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print({k: bool(v) for k, v in checks.items()})
    spark.stop()
    shutil.rmtree(wd, ignore_errors=True)


if __name__ == "__main__":
    main()
