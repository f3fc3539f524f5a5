"""Near-dup dedup pipeline tests (LSH → verify → cluster → keep).

Synthetic corpus with planted duplicate groups: exact copies, one-word
edits (high Jaccard), and unrelated documents — asserts the full
resolution output (cluster membership + canonical survivor), not just
candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pg_pb3_ld_spark.functions import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the afternoon sun"
)


def _corpus(spark):
    rows = [
        (0, BASE),                                   # cluster {0,1,2}
        (1, BASE),                                   # exact copy
        (2, BASE.replace("lazy", "sleepy")),          # near-dup
        (3, "completely different text about spark shuffles and "
            "arrow batches flowing through the decode pipeline"),
        (4, "completely different text about spark shuffles and "
            "arrow batches flowing through the decode pipeline"),  # {3,4}
        (5, "short doc"),                             # too short to shingle
        (6, "one more unrelated document mentioning watermarks "
            "checkpoints lineage and idempotent merge semantics"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dup_clusters_end_to_end(spark):
    docs = _corpus(spark)
    out = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup.near_dup_clusters(docs, threshold=0.5).collect()
    }
    assert len(out) == 7  # every doc present, incl. unshingleable #5
    assert out[0] == (0, True)
    assert out[1] == (0, False)
    assert out[2] == (0, False)   # one-word edit joins the cluster
    assert out[3] == (3, True)
    assert out[4] == (3, False)
    assert out[5] == (5, True)    # singleton
    assert out[6] == (6, True)


def test_verify_kills_false_positive_candidates(spark):
    """A band collision is only a CANDIDATE — verification must drop
    pairs whose true Jaccard is below threshold."""
    docs = _corpus(spark)
    bands = dedup.minhash_bands(docs)
    pairs = dedup.lsh_candidate_pairs(bands)
    sets = dedup.shingle_sets(docs)
    verified = dedup.verify_candidates(pairs, sets)
    rows = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in verified.collect()}
    # exact copies have jaccard 1.0
    assert rows.get((0, 1)) == 1.0
    assert rows.get((3, 4)) == 1.0
    # the one-word edit is high but < 1
    j = rows.get((0, 2)) or rows.get((1, 2))
    assert j is not None and 0.5 <= j < 1.0
    # every verified pair's jaccard is a valid ratio
    assert all(0.0 <= v <= 1.0 for v in rows.values())


def test_connected_components_chain(spark):
    """Transitivity: a-b and b-c edges put a,b,c in one cluster even
    if a-c never collided."""
    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(10,), (20,), (30,), (40,), (50,), (60,)], "doc_id long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(edges, nodes).collect()
    }
    assert got == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40, 60: 60}


def test_connected_components_edgeless_duplicate_nodes(spark):
    """With no edges, duplicate node ids still give one row per id,
    as they do when the graph has edges."""
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    nodes = spark.createDataFrame(
        [(10,), (10,), (20,), (30,), (30,), (30,)], "doc_id long"
    )
    got = sorted(
        map(tuple, dedup.connected_components(edges, nodes).collect())
    )
    assert got == [(10, 10), (20, 20), (30, 30)]


def test_minhash_bands_shape(spark):
    docs = _corpus(spark)
    bands = dedup.minhash_bands(docs, k=4)
    rows = bands.collect()
    # 6 shingle-able docs × 4 bands
    assert len(rows) == 24
    assert {r["band_id"] for r in rows} == {0, 1, 2, 3}
    # identical docs share every band key
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["band_id"]] = r["bk"]
    assert by_doc[0] == by_doc[1]
    # band keys are 8-hex-char md5 slices
    assert all(len(r["bk"]) == 8 for r in rows)


# ------------------------------------------------- decontamination


def _decon_docs(spark):
    corpus = spark.createDataFrame(
        [
            # exact copy of eval doc 100 → ratio 1.0
            (1, "alpha beta gamma delta epsilon"),
            # half-overlap: shares 'alpha beta gamma' shingle only
            (2, "alpha beta gamma zeta eta"),
            # no overlap
            (3, "one two three four five"),
            # too short for a 3-gram → excluded entirely
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    return corpus, eval_docs


def test_decontaminate_flags_and_ratios(spark):
    from pg_pb3_ld_spark.functions.dedup import decontaminate

    corpus, eval_docs = _decon_docs(spark)
    rows = {
        r["doc_id"]: r
        for r in decontaminate(corpus, eval_docs, threshold=0.5).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1]["overlap_ratio"] == 1.0 and rows[1]["flagged"]
    # doc 2: 3 shingles, 1 matched ('alpha beta gamma') → 0.3333
    assert rows[2]["n_shingles"] == 3 and rows[2]["n_overlap"] == 1
    assert abs(rows[2]["overlap_ratio"] - 0.3333) < 1e-9
    assert not rows[2]["flagged"]
    assert rows[3]["n_overlap"] == 0 and not rows[3]["flagged"]


def test_decontaminate_cap_drops_boilerplate_and_surfaces_it(spark):
    from pg_pb3_ld_spark.functions.dedup import (
        decontaminate, decontaminate_dropped,
    )

    # 'in conclusion thanks' appears in EVERY corpus doc (boilerplate)
    # and in the eval set; the real leak is doc 1 (a full eval copy)
    corpus = spark.createDataFrame(
        [(1, "secret eval question in conclusion thanks")]
        + [(i, f"unique{i} token{i} word{i} in conclusion thanks")
           for i in range(2, 6)],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "secret eval question in conclusion thanks")],
        "doc_id long, text string",
    )
    capped = {
        r["doc_id"]: r
        for r in decontaminate(
            corpus, eval_docs, threshold=0.4, max_shingle_docs=2
        ).collect()
    }
    # 'in conclusion thanks' hits all 5 docs > cap 2 → dropped; doc
    # 1's three genuine shingles survive (3/4 = 0.75 ≥ 0.4)
    assert capped[1]["flagged"] and capped[1]["n_overlap"] == 3
    assert all(
        not capped[i]["flagged"] and capped[i]["n_overlap"] == 0
        for i in (2, 3, 4, 5)
    )
    dropped = {
        r["shingle"]: r["corpus_doc_count"]
        for r in decontaminate_dropped(
            corpus, eval_docs, max_shingle_docs=2
        ).collect()
    }
    assert dropped, "cap must surface what it excluded"
    assert all(v > 2 for v in dropped.values())


# ----- repetition signals (Gopher-style, round 5) -------------------


def test_repetition_signals_hand_computed(spark):
    from pg_pb3_ld_spark.functions.textops import repetition_signals

    # "a b a b a b": 2-grams = [a b, b a, a b, b a, a b] -> n2=5,
    # top=3 (a b), dup = (3-1)+(2-1) = 3
    # 3-grams = [a b a, b a b, a b a, b a b] -> n3=4, dup=2
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z w"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(docs).collect()}
    r1 = out[1]
    assert (r1.n_tokens, r1.n_2grams, r1.top_2gram_count) == (6, 5, 3)
    assert r1.top_2gram_frac == 0.6
    assert r1.dup_2gram_frac == 0.6
    assert r1.dup_3gram_frac == 0.5
    r2 = out[2]  # all grams distinct
    assert (r2.n_2grams, r2.top_2gram_count) == (3, 1)
    assert r2.dup_2gram_frac == 0.0 and r2.dup_3gram_frac == 0.0
    r3 = out[3]  # single token: no grams at all
    assert (r3.n_tokens, r3.n_2grams, r3.top_2gram_count) == (1, 0, 0)
    assert r3.top_2gram_frac == 0.0


# ----- PII scrub + domain census (round 5) --------------------------


def test_pii_scrub_hand_cases(spark):
    from pg_pb3_ld_spark.functions.textops import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e.org twice"),
            (2, "host 192.168.0.1 ssn 123-45-6789 tel 555-123-4567"),
            (3, "clean text no pii 1234 5.5"),
            (4, "dot phone 555.123.4567 edge"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_scrub(docs).collect()}
    r1 = out[1]
    assert (r1.n_email, r1.n_ipv4, r1.n_ssn, r1.n_phone) == (2, 0, 0, 0)
    assert r1.scrubbed == "mail <EMAIL> and <EMAIL> twice"
    r2 = out[2]
    assert (r2.n_email, r2.n_ipv4, r2.n_ssn, r2.n_phone) == (0, 1, 1, 1)
    assert r2.scrubbed == "host <IP> ssn <SSN> tel <PHONE>"
    r3 = out[3]
    assert (r3.n_email, r3.n_ipv4, r3.n_ssn, r3.n_phone) == (0, 0, 0, 0)
    assert r3.scrubbed == "clean text no pii 1234 5.5"
    assert out[4].scrubbed == "dot phone <PHONE> edge"


def test_domain_stats_counts_urls_and_docs(spark):
    from pg_pb3_ld_spark.functions.textops import domain_stats

    docs = spark.createDataFrame(
        [
            (1, "see https://a.org/x and https://a.org/y plus http://b.net/"),
            (2, "only https://a.org/z here"),
            (3, "no urls at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.domain: r for r in domain_stats(docs).collect()}
    assert set(out) == {"a.org", "b.net"}
    assert (out["a.org"].n_urls, out["a.org"].n_docs) == (3, 2)
    assert (out["b.net"].n_urls, out["b.net"].n_docs) == (1, 1)


# ----- chat rendering + sequence packing (round 5) ------------------


def test_render_chat_order_and_digest(spark):
    import hashlib

    from pg_pb3_ld_spark.functions.textops import render_chat

    # turns arrive out of order; rendering must sort by turn_idx
    turns = spark.createDataFrame(
        [
            (1, 2, "assistant", "fine"),
            (1, 0, "system", "be nice"),
            (1, 1, "user", "how are you"),
            (2, 0, "system", "solo"),
        ],
        "conv_id long, turn_idx int, role string, text string",
    )
    out = {r.conv_id: r for r in render_chat(turns).collect()}
    expect1 = "<|system|>be nice\n<|user|>how are you\n<|assistant|>fine"
    assert out[1].n_turns == 3
    assert out[1].rendered_chars == len(expect1)
    assert out[1].digest == hashlib.md5(expect1.encode()).hexdigest()
    expect2 = "<|system|>solo"
    assert out[2].digest == hashlib.md5(expect2.encode()).hexdigest()


def test_pack_sequences_chunk_spans(spark):
    from pg_pb3_ld_spark.functions.textops import pack_sequences

    # one shard, budget 10: docs of 4,8,10,3 tokens laid head-to-tail
    # offsets 0,4,12,22 -> chunks [0,0],[0,1],[1,2],[2,2]
    base = spark.createDataFrame(
        [(0, 0, 4), (1, 0, 8), (2, 0, 10), (3, 0, 3), (10, 1, 25)],
        "doc_id long, shard long, n_tokens int",
    )
    out = {r.doc_id: r for r in pack_sequences(base, budget=10).collect()}
    assert (out[0].start_tok, out[0].first_chunk, out[0].last_chunk) == \
        (0, 0, 0)
    assert (out[1].start_tok, out[1].first_chunk, out[1].last_chunk) == \
        (4, 0, 1)
    assert (out[2].start_tok, out[2].first_chunk, out[2].last_chunk) == \
        (12, 1, 2)
    assert (out[3].start_tok, out[3].first_chunk, out[3].last_chunk) == \
        (22, 2, 2)
    assert out[3].n_chunks == 1
    # a doc larger than the budget spans ceil(25/10)=3 chunks
    assert (out[10].first_chunk, out[10].last_chunk, out[10].n_chunks) == \
        (0, 2, 3)


def test_span_dedup_coverage_semantics(spark):
    """Hand-built corpus with known duplicated spans (gram_len=3):

    * docs 0 and 1 share the exact run "a b c d" → grams (a b c) and
      (b c d) duplicated; overlapping starts 0,1 union to 4 covered
      tokens in each doc;
    * doc 2 repeats "x y z" twice WITHIN itself separated by a unique
      token → suffix-array semantics counts it (2 starts, gap 4 > 3
      → 6 covered tokens);
    * doc 3 is all-unique → zero coverage;
    * doc 4 is shorter than the gram → no grams, zero coverage.
    """
    from pg_pb3_ld_spark.functions.dedup import span_dedup

    rows = [
        (0, "a b c d p q r"),
        (1, "u v a b c d w"),
        (2, "x y z m x y z"),
        (3, "one two three four five"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in span_dedup(df, gram_len=3).collect()}
    assert out[0].n_tokens == 7 and out[1].n_tokens == 7
    assert out[0].n_dup_grams == 2 and out[1].n_dup_grams == 2
    # starts 0,1 (doc 0) / 2,3 (doc 1): min(3, 1) + 3 = 4 tokens
    assert out[0].dup_token_cov == 4 and out[1].dup_token_cov == 4
    assert abs(out[0].cov_frac - 0.5714) < 1e-9
    assert out[2].n_dup_grams == 2 and out[2].dup_token_cov == 6
    assert out[3].n_dup_grams == 0 and out[3].dup_token_cov == 0
    assert out[3].cov_frac == 0.0
    assert out[4].n_tokens == 2 and out[4].dup_token_cov == 0


# ---------------------------------------------------------------- #
# split-leakage audit                                              #
# ---------------------------------------------------------------- #


def _leak_fixture(spark):
    """Verified pairs + split assignment with every leakage class:
    train↔test leak, train↔val leak, train↔train (dedup work, not
    leakage), test↔val (no train side), and a tie between two train
    partners of one test doc."""
    pairs = spark.createDataFrame(
        [
            (1, 10, 0.9),   # train 1  ↔ test 10   → leak
            (2, 11, 0.7),   # train 2  ↔ val 11    → leak
            (1, 2, 0.95),   # train    ↔ train     → excluded
            (10, 11, 0.8),  # test     ↔ val       → excluded
            (3, 10, 0.9),   # train 3  ↔ test 10   → ties with pair 1
            (4, 10, 0.6),   # train 4  ↔ test 10   → third partner
        ],
        "doc_a long, doc_b long, jaccard double",
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "train"), (4, "train"),
         (10, "test"), (11, "val")],
        "doc_id long, split string",
    )
    return pairs, splits


def test_split_leakage_orients_counts_and_ranks(spark):
    pairs, splits = _leak_fixture(spark)
    out = {r["eval_doc"]: r
           for r in dedup.split_leakage(pairs, splits).collect()}
    assert set(out) == {10, 11}
    t = out[10]
    assert t["eval_split"] == "test"
    assert t["n_train_neardups"] == 3
    # 0.9 tie between train partners 1 and 3 → lowest id wins
    assert t["train_doc"] == 1
    assert abs(t["best_jaccard6"] - 0.9) < 1e-9
    v = out[11]
    assert (v["eval_split"], v["n_train_neardups"], v["train_doc"]) == (
        "val", 1, 2)


def test_split_leakage_no_train_side_no_rows(spark):
    pairs = spark.createDataFrame(
        [(10, 11, 0.9)], "doc_a long, doc_b long, jaccard double")
    splits = spark.createDataFrame(
        [(10, "test"), (11, "val")], "doc_id long, split string")
    assert dedup.split_leakage(pairs, splits).collect() == []


def test_split_leakage_partition_invariance_and_plan(spark):
    import io
    from contextlib import redirect_stdout

    pairs, splits = _leak_fixture(spark)
    base = sorted(map(tuple,
                      dedup.split_leakage(pairs, splits).collect()))
    shuf = sorted(map(tuple, dedup.split_leakage(
        pairs.repartition(5), splits.repartition(3)).collect()))
    assert base == shuf
    buf = io.StringIO()
    with redirect_stdout(buf):
        dedup.split_leakage(pairs, splits).explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_cross_doc_novelty_hand_computed(spark):
    from pg_pb3_ld_spark.functions import textops

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # shingles: "a b c", "b c d"
            (2, "a b c x"),        # shingles: "a b c", "b c x"
            (3, "p q r s"),        # unique shingles
            (4, "a b"),            # too short → absent
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r
           for r in textops.cross_doc_novelty(docs).collect()}
    assert set(out) == {1, 2, 3}
    # "a b c" occurs in docs 1 and 2 → shared; the others are unique
    assert (out[1]["n_shingles"], out[1]["n_shared"]) == (2, 1)
    assert abs(out[1]["shared_ratio6"] - 0.5) < 1e-9
    assert (out[2]["n_shingles"], out[2]["n_shared"]) == (2, 1)
    assert (out[3]["n_shingles"], out[3]["n_shared"]) == (2, 0)
    assert out[3]["shared_ratio6"] == 0.0


def test_cross_doc_novelty_within_doc_repeat_not_shared(spark):
    """A shingle repeated WITHIN one document only is not
    cross-document sharing (distinct shingles per doc)."""
    from pg_pb3_ld_spark.functions import textops

    docs = spark.createDataFrame(
        [(1, "x y z x y z x y z"), (2, "m n o p")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r
           for r in textops.cross_doc_novelty(docs).collect()}
    assert out[1]["n_shared"] == 0
    assert out[2]["n_shared"] == 0


def test_cross_doc_novelty_partition_invariance(spark):
    from pg_pb3_ld_spark.functions import textops

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} common trigram here w{i}") for i in range(20)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, textops.cross_doc_novelty(docs).collect()))
    b = sorted(map(tuple, textops.cross_doc_novelty(
        docs.repartition(7)).collect()))
    assert a == b


# ---------------------------------------------------------------- #
# templated-reply (boilerplate) detection                          #
# ---------------------------------------------------------------- #


def _reply_turns(spark):
    return spark.createDataFrame(
        [
            # canned reply in convs 1, 2, 3 (twice in conv 2)
            (1, 2, "assistant", "Sorry, no."),
            (2, 2, "assistant", "Sorry, no."),
            (2, 4, "assistant", "Sorry, no."),
            (3, 4, "assistant", "Sorry, no."),
            # unique assistant replies
            (1, 4, "assistant", "unique a"),
            (3, 2, "assistant", "unique b"),
            # same text on a USER turn must not join the cluster
            (4, 1, "user", "Sorry, no."),
            # within-ONE-conv repeat only → below min_convs
            (5, 2, "assistant", "twice here"),
            (5, 4, "assistant", "twice here"),
            # empty text excluded
            (6, 2, "assistant", ""),
            (7, 2, "assistant", ""),
        ],
        "conv_id long, turn_idx int, role string, text string",
    )


def test_boilerplate_replies_cluster_counts_and_canon(spark):
    from pg_pb3_ld_spark.functions.textops import boilerplate_replies

    out = boilerplate_replies(_reply_turns(spark)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_convs"], r["n_turns"]) == (3, 4)
    # canonical exemplar: lowest conv (1), lowest turn there (2)
    assert (r["canon_conv"], r["canon_turn"]) == (1, 2)


def test_boilerplate_replies_min_convs_threshold(spark):
    from pg_pb3_ld_spark.functions.textops import boilerplate_replies

    # min_convs=1 also surfaces unique replies and the within-conv
    # repeat, never the empty texts or the user turn
    out = boilerplate_replies(_reply_turns(spark), min_convs=1)
    rows = out.collect()
    assert len(rows) == 4  # canned, unique a, unique b, twice-here
    twice = [r for r in rows if r["n_turns"] == 2 and r["n_convs"] == 1]
    assert len(twice) == 1 and twice[0]["canon_conv"] == 5


def test_boilerplate_replies_partition_invariance_plan(spark):
    import io
    from contextlib import redirect_stdout

    from pg_pb3_ld_spark.functions.textops import boilerplate_replies

    turns = _reply_turns(spark)
    a = sorted(map(tuple, boilerplate_replies(turns).collect()))
    b = sorted(map(tuple, boilerplate_replies(
        turns.repartition(5)).collect()))
    assert a == b
    buf = io.StringIO()
    with redirect_stdout(buf):
        boilerplate_replies(turns).explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "SortAggregate" not in plan
