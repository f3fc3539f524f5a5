"""Near-duplicate detection at training-data scale: the full
candidate → verify → cluster → survivor pipeline.

LSH candidate generation alone (what round 1 shipped) is only the
front half of a dedup: a 100 TB pipeline must also *verify* the
candidates (banding admits false positives by design) and *resolve*
clusters to a canonical survivor per duplicate group.  Shapes chosen
for scale:

* ``minhash_bands``: ONE pass computes the K-permutation signature
  (``array(mh0..mhK)``) and ``posexplode``s it into band rows —
  shingling and the K md5 min-scans run once per document (round 1's
  4-way union recomputed them per band).
* ``lsh_candidate_pairs``: self-join on the (band_id, band_key)
  bucket — candidates come from a shuffle on a short hash key, never
  an all-pairs comparison; identical subplans on both join sides let
  Spark reuse the shuffle exchange.
* ``verify_candidates``: exact Jaccard on the distinct-shingle sets
  of each candidate pair (array_intersect/array_union on broadcast-
  free sorted-merge joins keyed by doc_id).
* ``connected_components``: iterative min-label propagation over the
  verified-pair graph — each round is one shuffle join + hash agg on
  (node, label) longs; converges in O(graph diameter) rounds, with a
  monotone total-label-sum fixpoint test (labels only ever decrease).
  This is the standard large-graph CC under Spark without GraphX.
* survivors: ``keep = (doc_id == cluster_id)`` — the canonical
  member is the minimum doc_id of its component (deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pg_pb3_ld_spark.functions import textops


def minhash_bands(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 4, shingle_n: int = 3,
) -> DataFrame:
    """(id, band_id, bk) band rows — signature computed in ONE pass.

    Plan shape (round 6, byte-identical output at every step): EXPLODE
    the shingles and run md5 as a plain whole-stage-codegen expression
    (the round-2 shape computed md5 inside an interpreted higher-order
    ``transform`` behind a repartition collapse-barrier), then take
    the K slice minimums in the LONG domain: each slice is 8 chars of
    fixed-width lowercase hex, so lexicographic ``min`` over the text
    equals numeric ``min`` over its value — and ``min(long)`` buffers
    are mutable in UnsafeRow's hash map, giving a true HashAggregate
    with map-side combine, where ``min(string)`` buffers forced a
    Sort + SortAggregate pair on BOTH sides of the doc_id exchange
    (two full sorts of the exploded shingle rows per bands build).
    The hex text is rebuilt bit-identically on the way out
    (``lower(lpad(hex(v), 8, '0'))``), so ``bk`` — which declared
    queries and the DuckDB oracles consume — is unchanged.  Docs with
    zero shingles vanish in the inner explode — exactly the rows the
    old ``size(sh) > 0`` filter removed."""
    toks = textops.tokens(F.col(text_col))
    sh = textops.shingles(toks, shingle_n)
    if k > 4:
        raise ValueError("md5 yields 4 disjoint 32-bit slices (k <= 4)")
    hashed = docs.select(id_col, F.explode(sh).alias("_s")).select(
        id_col, F.md5("_s").alias("_h")
    )
    sig = (
        hashed.select(
            id_col,
            *[
                F.conv(F.substring("_h", 1 + 8 * j, 8), 16, 10)
                .cast("long")
                .alias(f"_v{j}")
                for j in range(k)
            ],
        )
        .groupBy(id_col)
        .agg(*[F.min(f"_v{j}").alias(f"_m{j}") for j in range(k)])
    )
    return sig.select(
        id_col,
        F.posexplode_outer(
            F.array(
                *[
                    F.lower(F.lpad(F.hex(F.col(f"_m{j}")), 8, "0"))
                    for j in range(k)
                ]
            )
        ).alias("band_id", "bk"),
    )


def cap_buckets(
    rows: DataFrame, bucket_keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop every row of a bucket whose member count exceeds
    ``max_bucket_size`` (standard LSH degenerate-bucket guard).

    Within-bucket pair generation is quadratic in bucket size, so ONE
    hot bucket — all short docs sharing a trivial shingle signature,
    all-zero embeddings, boilerplate pages — turns a linear candidate
    join into 10¹³ pairs at crawl scale.  Capping is the standard fix:
    a bucket that large carries no discriminating information anyway
    (its members collide on *every* hash, i.e. the band key degenerated);
    near-dups inside it are still reachable through their other bands.

    The size count is a map-side-combining hash agg on the SAME key
    the pair self-join shuffles on, so the exchange is reused —
    capping costs one cheap agg, not an extra full shuffle.

    Use :func:`dropped_buckets` with the same arguments to see what
    was excluded (never drop silently at scale — the operator reports).
    """
    if max_bucket_size is None:
        return rows
    ok = (
        rows.groupBy(*bucket_keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .where(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )
    return rows.join(ok, bucket_keys)


def dropped_buckets(
    rows: DataFrame, bucket_keys: list[str], max_bucket_size: int
) -> DataFrame:
    """(bucket_keys..., bucket_size) for buckets excluded by the cap —
    the surfaced record of what :func:`cap_buckets` dropped."""
    return (
        rows.groupBy(*bucket_keys)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .where(F.col("bucket_size") > max_bucket_size)
    )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) from shared buckets.

    ``max_bucket_size``: skip buckets larger than this (see
    :func:`cap_buckets`) — REQUIRED at crawl scale; a degenerate
    bucket makes the self-join quadratic."""
    bands = cap_buckets(bands, ["band_id", "bk"], max_bucket_size)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def shingle_sets(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, shs) distinct-shingle arrays (docs long enough to shingle)."""
    sh = textops.shingles(textops.tokens(F.col(text_col)), shingle_n)
    return docs.select(
        id_col, F.array_distinct(sh).alias("shs")
    ).where(F.size(sh) > 0)


def verify_candidates(
    pairs: DataFrame, sets: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard per candidate pair: (doc_a, doc_b, jaccard)."""
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("shs").alias("sa"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("shs").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            (inter / union).alias("jaccard"),
        )
    )


def connected_components(
    edges: DataFrame, nodes: DataFrame, id_col: str = "doc_id",
    max_iters: int = 25, checkpoint_every: int = 5,
) -> DataFrame:
    """Min-label propagation with pointer doubling: (id, cluster_id)
    with cluster_id = the minimum node id of the component.
    ``edges``: (doc_a, doc_b); ``nodes``: one column ``id_col``
    listing every node (singletons keep their own id).

    Scale posture:

    * **pointer doubling** — each round also propagates label→label
      (``min(label, label-of-label)``), so convergence is O(log d)
      rounds, not O(d): a 10M-hop duplicate chain resolves in ~24
      rounds instead of 10M.  Each round stays a shuffle join + hash
      agg over (node, label) longs.
    * **lineage truncation** — ``localCheckpoint`` every
      ``checkpoint_every`` rounds; without it the plan nests one join
      per round and the planner/driver stack becomes the bottleneck
      long before the data does.
    * **loud non-convergence** — if the loop exhausts ``max_iters``
      without reaching the fixpoint, RAISE instead of returning
      silently split clusters (with doubling this needs diameter
      > 2^max_iters, i.e. never in practice).
    """
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    ).persist()
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).persist()
    try:
        # Edgeless graph: every node is trivially its own component —
        # skip the propagation loop outright (2+ rounds of join + agg
        # + fixpoint probe that provably change nothing).  The probe
        # is one cheap scan of the persisted sym cache (isEmpty stops
        # at the first row for non-empty graphs; partitions it leaves
        # unmaterialized are filled by round 0's join as before).  A
        # high-threshold dedup pass over a clean corpus hits this at
        # any scale.  One row per node, like the loop's per-round
        # groupBy(node): duplicate ids in ``nodes`` collapse here too.
        if sym.isEmpty():
            return labels.groupBy("node").agg(
                F.min("label").alias("cluster_id")
            ).withColumnRenamed("node", id_col)
        prev_sum = None
        converged = False
        for it in range(max_iters):
            prop = (
                labels.join(sym, labels["node"] == sym["src"])
                .select(F.col("dst").alias("node"), "label")
            )
            cand = labels.unionByName(prop)
            if it >= 3:
                # pointer doubling: node's label jumps to its label's
                # label.  Deferred to round 4+ (round 3+ until r6):
                # typical dedup graphs (star-shaped duplicate
                # clusters) reach the fixpoint in ≤2 label-changing
                # rounds and spend one more round DETECTING it via
                # the sum test — measured: the old `it >= 2` made
                # that detection round ~2.5× dearer for nothing, on
                # every CC query.  A deep chain still converges in
                # O(log d) rounds once doubling engages, one round
                # later.
                lab2 = (
                    labels.alias("l1")
                    .join(
                        labels.alias("l2"),
                        F.col("l1.label") == F.col("l2.node"),
                    )
                    .select(
                        F.col("l1.node").alias("node"),
                        F.col("l2.label").alias("label"),
                    )
                )
                cand = cand.unionByName(lab2)
            new_labels = (
                cand
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            if checkpoint_every and (it + 1) % checkpoint_every == 0:
                new_labels = new_labels.localCheckpoint(eager=False)
            new_labels = new_labels.persist()
            # Fixpoint test: labels decrease monotonically, so an
            # unchanged TOTAL ⇒ no label changed.  The sum runs in
            # decimal(38,0): int64 labels at crawl scale (10^10 nodes
            # × ids up to 2^63 ≈ 10^29 total) overflow a bigint sum —
            # under Spark 4's default ANSI mode that THROWS mid-loop,
            # and with ANSI off a wrap collision could silently declare
            # a false fixpoint (split clusters).  decimal(38,0) holds
            # ~10^38, four orders of magnitude of headroom, and the agg
            # stays one map-side-combining action per round.
            row = new_labels.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            ).collect()[0]
            if row["n"] == 0:
                # empty graph: zero nodes is trivially converged (the
                # null-sum rounds would otherwise never satisfy the
                # equality test and the loop would exhaust max_iters)
                old = labels
                labels = new_labels
                old.unpersist()
                converged = True
                break
            s = row["s"]
            old = labels
            labels = new_labels
            old.unpersist()
            if prev_sum is not None and s == prev_sum:
                converged = True
                break
            prev_sum = s
        if not converged and max_iters > 1:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} "
                "rounds — with pointer doubling this means component "
                f"diameter > 2^{max_iters}; raise max_iters"
            )
        return labels.select(
            F.col("node").alias(id_col), F.col("label").alias("cluster_id")
        )
    finally:
        sym.unpersist()


def embedding_neardup_clusters(
    vecs: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding",
    threshold: float = 0.9, n_tables: int = 8, bits: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup resolution: sign-LSH bucket
    candidates (within-bucket pairs, never all-pairs) → exact cosine
    verification at ``threshold`` → connected components →
    (vec_id, cluster_id, keep).  The embedding-space twin of
    ``near_dup_clusters`` — catches paraphrase-level duplicates that
    shingle Jaccard misses.  ``max_bucket_size`` guards the
    within-bucket pair join against degenerate buckets (all-zero /
    near-duplicate embedding clusters — see :func:`cap_buckets`)."""
    from pg_pb3_ld_spark.functions import ann

    buckets = ann.sign_buckets(vecs, id_col, emb_col, n_tables, bits)
    buckets = cap_buckets(buckets, ["table_id", "bucket"], max_bucket_size)
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    nv = vecs.select(
        id_col, emb_col, ann.norm(F.col(emb_col)).alias("_nrm")
    )
    ea = nv.select(
        F.col(id_col).alias("doc_a"), F.col(emb_col).alias("_ea"),
        F.col("_nrm").alias("_na"),
    )
    eb = nv.select(
        F.col(id_col).alias("doc_b"), F.col(emb_col).alias("_eb"),
        F.col("_nrm").alias("_nb"),
    )
    edges = (
        pairs.join(ea, "doc_a").join(eb, "doc_b")
        .where(
            ann.cosine_pre(
                F.col("_ea"), F.col("_eb"), F.col("_na"), F.col("_nb")
            ) >= threshold
        )
        .select("doc_a", "doc_b")
    )
    comp = connected_components(edges, vecs.select(id_col), id_col)
    return comp.select(
        id_col, "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("keep"),
    )


def near_dup_clusters(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 4, shingle_n: int = 3, threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup resolution: (doc_id, cluster_id, keep) for EVERY
    document — singletons (incl. too-short docs) are their own
    cluster; ``keep`` marks the canonical survivor."""
    bands = minhash_bands(docs, text_col, id_col, k, shingle_n)
    pairs = lsh_candidate_pairs(bands, id_col, max_bucket_size)
    sets = shingle_sets(docs, text_col, id_col, shingle_n)
    edges = verify_candidates(pairs, sets, id_col).where(
        F.col("jaccard") >= threshold
    )
    comp = connected_components(edges, docs.select(id_col), id_col)
    return comp.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("keep"),
    )


def incremental_neardup(
    new_docs: DataFrame,
    index_bands: DataFrame,
    corpus_sets: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup matches of an ingest batch against an accumulated
    corpus WITHOUT re-processing the corpus — the steady-state shape
    of crawl dedup at 100 TB (the full-corpus pass runs once; every
    subsequent batch dedups against the persisted index).

    Inputs:
      * ``new_docs`` — the batch (id, text), small relative to the
        corpus by definition;
      * ``index_bands`` — the PERSISTED (id, band_id, bk) MinHash band
        index of the corpus (:func:`minhash_bands` output written at
        corpus-build time; appending each accepted batch's bands keeps
        it current) — the corpus text is never re-shingled;
      * ``corpus_sets`` — (id, shs) distinct-shingle sets for exact
        verification (:func:`shingle_sets`; persisted alongside the
        index, or fetched for just the candidate ids — the candidate
        set is batch-sized, not corpus-sized).

    Returns (doc_new, doc_match, jaccard, from_batch): every verified
    match of a batch doc against corpus ∪ batch (batch-internal dups
    carry ``from_batch = true``).  Only buckets a NEW doc lands in are
    ever joined, so the corpus-side work is proportional to colliding
    rows, not corpus size; the cap guards degenerate buckets exactly
    as in :func:`lsh_candidate_pairs` (union-wide sizes, so a bucket
    hot in history stays capped for the batch).
    """
    nb = minhash_bands(new_docs, text_col, id_col, k, shingle_n).withColumn(
        "_new", F.lit(True)
    )
    ib = index_bands.select(id_col, "band_id", "bk").withColumn(
        "_new", F.lit(False)
    )
    capped = cap_buckets(
        ib.unionByName(nb), ["band_id", "bk"], max_bucket_size
    )
    a = capped.where(F.col("_new")).alias("a")
    b = capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_new"),
            F.col(f"b.{id_col}").alias("doc_match"),
            F.col("b._new").alias("from_batch"),
        )
        .distinct()
    )
    batch_sets = shingle_sets(new_docs, text_col, id_col, shingle_n)
    # the sa side joins on doc_new, and every doc_new is a BATCH doc
    # (the candidate join's a-side is filtered to _new) — so sa needs
    # only the batch's sets, not corpus ∪ batch: one corpus-wide
    # shingle pass instead of two, and a batch-sized build side for
    # the verify join.  Ids are unique across corpus ∪ batch (the
    # store/index contract the tests and the declared query satisfy),
    # so the restriction drops no rows and changes no multiplicity.
    sets = corpus_sets.unionByName(batch_sets)
    sa = batch_sets.select(
        F.col(id_col).alias("doc_new"), F.col("shs").alias("sa")
    )
    sb = sets.select(
        F.col(id_col).alias("doc_match"), F.col("shs").alias("sb")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        cand.join(sa, "doc_new")
        .join(sb, "doc_match")
        .select(
            "doc_new",
            "doc_match",
            (inter / union).alias("jaccard"),
            "from_batch",
        )
        .where(F.col("jaccard") >= threshold)
    )


def _distinct_shingles(
    docs: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, _shs: distinct word-shingle array) with the module's plan
    discipline (own projection + collapse barrier; empty docs out)."""
    sh = textops.shingles(textops.tokens(F.col(text_col)), shingle_n)
    return (
        docs.select(id_col, F.array_distinct(sh).alias("_shs"))
        .where(F.size("_shs") > 0)
        .repartition(F.col(id_col))
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose distinct
    word-``shingle_n``-gram overlap with ANY eval/benchmark document
    meets ``threshold`` (overlap ratio = matched distinct shingles /
    the doc's distinct shingles).  The training-data staple: eval
    questions that leak into the corpus inflate benchmark scores.

    Scale shape (same bucketed-join discipline as
    :func:`lsh_candidate_pairs` — never all-pairs):

    * the eval side collapses to DISTINCT shingles and is BROADCAST —
      an eval suite is small by definition (~10^5-10^6 shingles; for a
      pathologically large one, swap the broadcast for a join bucketed
      on the shingle hash);
    * the corpus side is a per-doc map (tokenize → distinct shingles)
      + one explode; the only shuffles key on MATCHED rows, bounded by
      eval_size × ``max_shingle_docs``;
    * ``max_shingle_docs`` caps an eval shingle's corpus
      doc-frequency: a shingle matching more corpus docs than the cap
      is boilerplate ("in conclusion ..."), carries no contamination
      signal, and would concentrate the match join on one hot key —
      capped matches only LOWER ratios (conservative), and
      :func:`decontaminate_dropped` surfaces exactly what was excluded
      (never silent).

    Returns (id, n_shingles, n_overlap, overlap_ratio, flagged).
    """
    corpus_sh = _distinct_shingles(corpus, id_col, text_col, shingle_n)
    sizes = corpus_sh.select(id_col, F.size("_shs").alias("n_shingles"))
    ex = corpus_sh.select(
        id_col, F.posexplode_outer("_shs").alias("_i", "shingle")
    ).drop("_i")
    eval_sh = (
        _distinct_shingles(eval_docs, id_col, text_col, shingle_n)
        .select(F.explode("_shs").alias("shingle"))
        .distinct()
    )
    matched = ex.join(F.broadcast(eval_sh), "shingle")
    if max_shingle_docs is not None:
        ok = (
            matched.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= max_shingle_docs)
            .drop("_n")
        )
        matched = matched.join(F.broadcast(ok), "shingle")
    per_doc = matched.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    out = (
        sizes.join(per_doc, id_col, "left")
        .fillna({"n_overlap": 0})
    )
    ratio = F.col("n_overlap") / F.col("n_shingles")
    return out.select(
        id_col,
        "n_shingles",
        "n_overlap",
        # floor, not round: half-up vs half-even differs across engines
        (F.floor(ratio * 10000) / 10000).alias("overlap_ratio"),
        (ratio >= F.lit(threshold)).alias("flagged"),
    )


def decontaminate_bloom(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    n_bits: int = 8192,
    k: int = 3,
) -> DataFrame:
    """SHUFFLE-FREE decontamination — the 100-TB fast path.

    :func:`decontaminate` joins the corpus's exploded shingles against
    the broadcast eval set: correct, but the corpus side still
    explodes (|corpus| × shingles rows) and aggregates back per doc —
    two wide stages.  This variant removes ALL of it: the eval
    shingles collapse into a fixed-size Bloom bitset
    (:mod:`pg_pb3_ld_spark.functions.bloom` — n_bits/32 bigint words,
    collected once, bounded BY CONSTRUCTION), and each corpus doc
    counts its matching shingles with a PURE per-row expression over
    its distinct-shingle array — no explode, no join, no shuffle, no
    aggregation; the 100-TB scan is map-only and pipelines with any
    co-resident per-doc operator.

    The trade is one-sided and conservative: Bloom false positives
    can only INFLATE ``n_overlap_bloom`` (by ≈(1−e^{−k·n/m})^k per
    probe — size ``n_bits`` to the eval suite), never deflate it, so
    a contaminated doc is never missed; a handful of clean docs may
    be over-flagged.  Exact counts for the flagged subset (tiny) can
    be re-derived with :func:`decontaminate` if needed.

    Returns (id, n_shingles, n_overlap_bloom, overlap_ratio, flagged).
    """
    from pg_pb3_ld_spark.functions.bloom import (
        bloom_build,
        bloom_might_contain,
        bloom_words,
    )

    eval_sh = (
        _distinct_shingles(eval_docs, id_col, text_col, shingle_n)
        .select(F.explode("_shs").alias("shingle"))
        .distinct()
    )
    words = bloom_words(bloom_build(eval_sh, "shingle", n_bits, k), n_bits)
    sh = textops.shingles(textops.tokens(F.col(text_col)), shingle_n)
    docs = corpus.select(
        id_col, F.array_distinct(sh).alias("_shs")
    ).where(F.size("_shs") > 0)
    hits = F.size(
        F.filter(
            F.col("_shs"),
            lambda s: bloom_might_contain(s, words, n_bits, k),
        )
    )
    out = docs.select(
        id_col,
        F.size("_shs").alias("n_shingles"),
        hits.alias("n_overlap_bloom"),
    )
    ratio = F.col("n_overlap_bloom") / F.col("n_shingles")
    return out.select(
        id_col,
        "n_shingles",
        "n_overlap_bloom",
        (F.floor(ratio * 10000) / 10000).alias("overlap_ratio"),
        (ratio >= F.lit(threshold)).alias("flagged"),
    )


def decontaminate_dropped(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_shingle_docs: int = 1000,
) -> DataFrame:
    """(shingle, corpus_doc_count) for eval shingles excluded by
    :func:`decontaminate`'s cap — the surfaced drop record."""
    ex = _distinct_shingles(corpus, id_col, text_col, shingle_n).select(
        id_col, F.posexplode_outer("_shs").alias("_i", "shingle")
    ).drop("_i")
    eval_sh = (
        _distinct_shingles(eval_docs, id_col, text_col, shingle_n)
        .select(F.explode("_shs").alias("shingle"))
        .distinct()
    )
    return (
        ex.join(F.broadcast(eval_sh), "shingle")
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("corpus_doc_count"))
        .where(F.col("corpus_doc_count") > max_shingle_docs)
    )


def span_dedup(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring span duplication (the suffix-array dedup of
    "Deduplicating Training Data Makes Language Models Better" (Lee
    et al., 2022), re-expressed Spark-first): flag every token
    position that starts a ``gram_len``-token span whose exact text
    occurs ≥ ``min_count`` times across the WHOLE corpus (cross-doc
    AND within-doc repeats — matching suffix-array semantics, where
    any repeated substring counts), and report per doc how many
    tokens are covered by the union of those spans.

    Scale shape — a suffix array over 100 TB is not buildable, but
    the fixed-length-probe formulation is three map-side-combining
    shuffles, each linear in corpus tokens:

    * gram generation is a per-row array op (``shingles`` + one
      posexplode) — no shuffle;
    * the occurrence count groups by the gram's md5 — HashAggregate
      with map-side combine; a boilerplate mega-gram collapses to ONE
      row per partition before the shuffle, so hot grams cannot skew
      it and no cap is needed (unlike candidate-pair joins, the join
      back fans out each (doc, start) row exactly once);
    * coverage unions fixed-length intervals per doc: a window keyed
      on (doc, start) over FLAGGED rows only — ``min(gram_len,
      next_start − start)`` — so the final shuffle carries just the
      duplicated positions.

    Returns (id, n_tokens, n_dup_grams, dup_token_cov, cov_frac).
    """
    from pyspark.sql.window import Window

    base = corpus.select(
        F.col(id_col), textops.tokens(F.col(text_col)).alias("_t")
    ).select(
        id_col,
        F.size("_t").alias("n_tokens"),
        textops.shingles(F.col("_t"), gram_len).alias("_g"),
    )
    sizes = base.select(id_col, "n_tokens")
    ex = (
        base.select(id_col, F.posexplode_outer("_g").alias("start", "_gram"))
        .where(F.col("_gram").isNotNull())
        .select(id_col, "start", F.md5("_gram").alias("gram_h"))
    )
    dup_grams = (
        ex.groupBy("gram_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("gram_h")
    )
    flagged = ex.join(dup_grams, "gram_h").select(id_col, "start")
    w = Window.partitionBy(id_col).orderBy("start")
    cov = (
        flagged.withColumn("_nxt", F.lead("start").over(w))
        .select(
            id_col,
            F.least(
                F.lit(gram_len),
                F.coalesce(
                    F.col("_nxt") - F.col("start"), F.lit(gram_len)
                ),
            ).alias("_cov"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.sum("_cov").alias("dup_token_cov"),
        )
    )
    out = sizes.join(cov, id_col, "left").fillna(
        {"n_dup_grams": 0, "dup_token_cov": 0}
    )
    frac = F.when(
        F.col("n_tokens") > 0,
        # floor, not round: half-up vs half-even differs across engines
        F.floor(F.col("dup_token_cov") * 10000 / F.col("n_tokens")) / 10000,
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_dup_grams").cast("long").alias("n_dup_grams"),
        F.col("dup_token_cov").cast("long").alias("dup_token_cov"),
        frac.alias("cov_frac"),
    )


def semdedup_dropped(
    vecs: DataFrame, init_centroids: DataFrame, n_iters: int = 2,
    id_col: str = "vec_id", emb_col: str = "embedding",
    quant: int = 1000, max_cluster_size: int | None = None,
) -> DataFrame:
    """(list_id, bucket_size) for k-means cells excluded from
    :func:`semdedup_clusters`'s pair join by ``max_cluster_size`` —
    the surfaced drop report (never drop silently at scale; the
    SemDeDup face of :func:`dropped_buckets`)."""
    from pg_pb3_ld_spark.functions import ann

    # share ONE persisted quantized copy between the fit and the
    # assignment (the fit used to quantize the corpus again
    # internally), then materialize the tiny (≤ n_lists rows) report
    # eagerly so the cache never outlives the call — the lazy shape
    # re-ran quantize + assign from scratch in the consumer anyway
    qv = ann.quantize_vectors(vecs, id_col, emb_col, quant).persist()
    try:
        cents = ann.kmeans_centroids(
            vecs, init_centroids, n_iters, id_col, emb_col, quant,
            quantized_base=qv,
        )
        asg = ann.ivf_assign(qv, cents, id_col, emb_col)
        return dropped_buckets(
            asg, ["list_id"], max_cluster_size
        ).localCheckpoint(eager=True)
    finally:
        qv.unpersist()


def semdedup_edges(
    members: DataFrame, threshold: float,
    id_col: str = "vec_id", emb_col: str = "embedding",
) -> DataFrame:
    """Within-cell duplicate edges for :func:`semdedup_clusters`:
    equi self-join on ``list_id`` (never all-pairs; cap the members
    first with :func:`cap_buckets`), cosine verify at ``threshold``.
    Exposed separately so the plan audit pins the join shape."""
    from pg_pb3_ld_spark.functions import ann

    # per-member norms below the pair join (ann.norm: the cosine's
    # dominant interpreted folds run once per member, not per pair)
    keyed = members.select(
        F.col("list_id"), F.col(id_col), F.col(emb_col),
        ann.norm(F.col(emb_col)).alias("_nrm"),
    )
    a = keyed.select(
        F.col("list_id"),
        F.col(id_col).alias("_ia"), F.col(emb_col).alias("_qa"),
        F.col("_nrm").alias("_na"),
    )
    b = keyed.select(
        F.col("list_id"),
        F.col(id_col).alias("_ib"), F.col(emb_col).alias("_qb"),
        F.col("_nrm").alias("_nb"),
    )
    return (
        a.join(b, ["list_id"])
        .where(F.col("_ia") < F.col("_ib"))
        .where(
            ann.cosine_pre(
                F.col("_qa"), F.col("_qb"), F.col("_na"), F.col("_nb")
            ) >= threshold
        )
        .select(
            F.col("_ia").alias("doc_a"), F.col("_ib").alias("doc_b")
        )
    )


def semdedup_clusters(
    vecs: DataFrame, init_centroids: DataFrame, n_iters: int = 2,
    threshold: float = 0.9, id_col: str = "vec_id",
    emb_col: str = "embedding", quant: int = 1000,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    k-means partitions the embedding space, candidate pairs come only
    from WITHIN a cluster, and each duplicate group keeps its member
    least similar to the cluster centroid (the paper's
    diversity-preserving survivor rule) → (id, list_id, cluster_id,
    keep) for every vector.

    The k-means front end is what separates this from
    :func:`embedding_neardup_clusters`'s sign-LSH: on *clustered*
    corpora (real embeddings, unlike random hyperplane buckets) the
    coarse quantizer concentrates true duplicates into the same cell
    with far fewer tables, and the cluster structure is reusable (the
    same fit serves IVF search).  Scale shape:

    * the fit is :func:`~pg_pb3_ld_spark.functions.ann.kmeans_centroids`
      — integer-quantized, order-independent, trainable on a sample;
    * assignment is :func:`~pg_pb3_ld_spark.functions.ann.ivf_assign`'s
      broadcast + packed-bigint hash-agg argmax (no shuffle of the
      corpus, no window);
    * within-cluster pairs are a self-join on ``list_id``, guarded by
      :func:`cap_buckets` (``max_cluster_size``) — one degenerate
      cell must not go quadratic; drops are queryable via
      :func:`dropped_buckets` on the same keys;
    * the survivor rule needs no window either: per-component
      ``min(centroid-cos key)`` then ``min(id)`` among minimal-key
      rows — two map-side-combining hash aggs, valid for any id range
      (a packed key would cap ids at 2^21);
    * centroid-cos keys quantize at 2^-40 like ``ivf_assign`` (exact
      integer-derived ratios on both engines → oracle-exact), with
      the same NULL/NaN → -2.0 sentinel for zero-norm vectors.

    No reference counterpart (johto/pg_pb3_ld is a CDC decoder); this
    is part of the training-data toolkit layered on the same engine.
    """
    from pg_pb3_ld_spark.functions import ann

    # ONE quantized copy serves the fit, the assignment, the pair
    # join and the survivor key: the fit used to build (and cache) its
    # own identical quantize_vectors frame internally — a duplicate
    # corpus pass plus a duplicate cache of the same bigint arrays
    qv = ann.quantize_vectors(vecs, id_col, emb_col, quant).persist()
    asg = None
    joined = None
    try:
        cents = ann.kmeans_centroids(
            vecs, init_centroids, n_iters, id_col, emb_col, quant,
            quantized_base=qv,
        )
        asg = ann.ivf_assign(qv, cents, id_col, emb_col).persist()
        # (id, list, qv) consumed by BOTH the capped pair join and the
        # survivor key below — cache the join instead of running it
        # twice over the two parent caches
        joined = asg.join(qv, id_col).persist()
        members = cap_buckets(joined, ["list_id"], max_cluster_size)
        edges = semdedup_edges(members, threshold, id_col, emb_col)
        comp = connected_components(edges, vecs.select(id_col), id_col)

        # centroid-similarity key for the survivor rule, over the
        # UNCAPPED assignment (capping only guards the pair join;
        # capped-out vectors are singleton components and keep
        # themselves).
        cbr = F.broadcast(
            cents.select(
                "list_id", F.col(emb_col).alias("_c"),
                ann.norm(F.col(emb_col)).alias("_cnm"),
            )
        )
        cs = ann.cosine_pre(
            F.col(emb_col), F.col("_c"),
            ann.norm(F.col(emb_col)), F.col("_cnm"),
        )
        ck = (
            F.round(
                F.coalesce(F.nanvl(cs, F.lit(-2.0)), F.lit(-2.0))
                * F.lit(float(1 << 40))
            ).cast("long")
        )
        # materialize (id, list, key, component) ONCE before the
        # finally block unpersists qv/asg: the returned plan is lazy,
        # and without this cut every consumer of `keyed` (min-key agg,
        # survivor agg, final join) would re-run the whole quantize +
        # fit + assignment chain from scratch — measured 258 s vs
        # ~6 s at sf0.1.  localCheckpoint truncates the lineage, so
        # the result no longer references the persisted parents.
        keyed = (
            joined.join(cbr, "list_id")
            .select(id_col, "list_id", ck.alias("_ck"))
            .join(comp, id_col)
            .localCheckpoint(eager=True)
        )
        mink = keyed.groupBy("cluster_id").agg(F.min("_ck").alias("_mk"))
        surv = (
            keyed.join(mink, "cluster_id")
            .where(F.col("_ck") == F.col("_mk"))
            .groupBy("cluster_id")
            .agg(F.min(id_col).alias("_surv"))
        )
        return (
            keyed.join(surv, "cluster_id")
            .select(
                id_col, "list_id", "cluster_id",
                (F.col(id_col) == F.col("_surv")).alias("keep"),
            )
        )
    finally:
        qv.unpersist()
        if asg is not None:
            asg.unpersist()
        if joined is not None:
            joined.unpersist()


def split_leakage(
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
    train_label: str = "train",
) -> DataFrame:
    """Split-leakage audit — the eval-hygiene check *internal* to a
    corpus that :func:`decontaminate` (external eval set) cannot do:
    verified near-duplicate pairs that STRADDLE the train/eval split.
    A test document whose near-dup lives in train silently leaks the
    eval into training; at 10^10 documents a handful of leaked pairs
    is invisible unless audited explicitly.

    ``pairs``: verified near-dup pairs ``(doc_a, doc_b, jaccard)``
    (from :func:`lsh_candidate_pairs` → :func:`verify_candidates`,
    already thresholded — same capped-LSH discipline, never
    all-pairs).  ``splits``: ``(id_col, split_col)`` assignment (the
    portable md5 split keeps it engine-replayable).

    Output: one row per eval-side document with at least one verified
    near-dup in train — ``(eval_doc, eval_split, n_train_neardups,
    train_doc, best_jaccard6)`` where ``train_doc`` is the best
    leaking partner (max Jaccard, ties to the lowest train doc id —
    the SortAggregate-proof two-pass hash-agg ranking, no window) and
    ``best_jaccard6`` floors to 1e-6 for stable cross-engine hashing.
    Train↔train pairs are ordinary dedup work, eval↔eval pairs leak
    nothing into training; both are excluded.
    """
    sa = splits.select(
        F.col(id_col).alias("doc_a"), F.col(split_col).alias("_sa")
    )
    sb = splits.select(
        F.col(id_col).alias("doc_b"), F.col(split_col).alias("_sb")
    )
    j = pairs.join(sa, "doc_a").join(sb, "doc_b")
    a_is_train = F.col("_sa") == train_label
    b_is_train = F.col("_sb") == train_label
    oriented = j.where(a_is_train != b_is_train).select(
        F.when(a_is_train, F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("eval_doc"),
        F.when(a_is_train, F.col("_sb"))
        .otherwise(F.col("_sa"))
        .alias("eval_split"),
        F.when(a_is_train, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("train_doc"),
        "jaccard",
    ).persist()  # consumed twice (tally agg + partner pick); without
    # the cache the whole candidate+verify chain evaluates twice.
    # Bounded: only verified pairs that STRADDLE the split survive.
    best = oriented.groupBy("eval_doc", "eval_split").agg(
        F.count(F.lit(1)).alias("n_train_neardups"),
        F.max("jaccard").alias("_mj"),
    )
    partner = (
        oriented.join(
            best.select("eval_doc", "_mj"), "eval_doc"
        )
        .where(F.col("jaccard") == F.col("_mj"))
        .groupBy("eval_doc")
        .agg(F.min("train_doc").alias("train_doc"))
    )
    return best.join(partner, "eval_doc").select(
        "eval_doc",
        "eval_split",
        "n_train_neardups",
        "train_doc",
        (F.floor(F.col("_mj") * 1000000) / 1000000).alias(
            "best_jaccard6"
        ),
    )
