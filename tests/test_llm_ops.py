"""Algorithmic checks for the dedup / similarity families that the
DuckDB oracle cannot express (approximate, hash-dependent operators).

Run at sf0.001 (500 docs / 500 vectors); the measured ground truth:
28 planted near-dup pairs at jaccard ≥ 0.8 (actual values ≥ 0.889)."""

from __future__ import annotations

import pytest

from hgn_spark.registry import load_all
from tests.conftest import SF_SMOKE

SPECS = load_all()


@pytest.fixture(scope="module")
def exact_pairs(spark):
    # The registered row carries whole-corpus + incremental branches
    # (r8 merge); the whole-corpus pair set is the 'all' branch.
    df = SPECS["dedup_ngram_jaccard_pairs"].fn(spark, SF_SMOKE)
    return {(r["d1"], r["d2"]) for r in df.collect() if r["op"] == "all"}


def test_exact_jaccard_finds_planted_dups(exact_pairs):
    assert len(exact_pairs) == 28


def test_minhash_lsh_subset_and_recall(spark, exact_pairs):
    from hgn_spark.operators.dedup import minhash_lsh_pairs

    got = {
        (r["d1"], r["d2"])
        for r in minhash_lsh_pairs(spark, SF_SMOKE).collect()
    }
    # Verified pairs can only be a subset of the exact-jaccard pairs...
    assert got <= exact_pairs
    # ...and the 4x4 sketch should catch nearly all of them (p≈0.99 at
    # j=0.89; 26/28 observed).
    assert len(got) / len(exact_pairs) >= 0.8


def test_minhash_candidates_much_smaller_than_n_squared(spark):
    """The LSH property that matters at 100 TB: candidate pairs ≪ n²."""
    from pyspark.sql import functions as F

    from hgn_spark.operators import dedup

    n_docs = 500
    sh = dedup._shingle_index(spark, SF_SMOKE)
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(p), F.col("s"))).alias(f"mh{p}")
            for p in range(dedup.NUM_PERM)
        ]
    )
    rows = dedup.NUM_PERM // dedup.BANDS
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"mh{b * rows + r}") for r in range(rows)]
                        ).alias("bh"),
                    )
                    for b in range(dedup.BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")
    left = bands.select(F.col("doc_id").alias("d1"), "band", "bh")
    right = bands.select(F.col("doc_id").alias("d2"), F.col("band").alias("b2"), F.col("bh").alias("bh2"))
    n_cands = (
        left.join(
            right,
            (F.col("band") == F.col("b2"))
            & (F.col("bh") == F.col("bh2"))
            & (F.col("d1") < F.col("d2")),
        )
        .select("d1", "d2")
        .distinct()
        .count()
    )
    assert n_cands < n_docs * (n_docs - 1) / 2 * 0.01  # <1% of all pairs


def test_minhash_signature_matches_aggregate_form(spark):
    """The scan-side array-fold signature must equal the groupBy(min)
    formulation it replaced (same permutation hashes, same minima)."""
    from pyspark.sql import functions as F

    from hgn_spark.operators import dedup

    sets_ = dedup._doc_shingle_sets(spark, SF_SMOKE)
    new = {
        r["doc_id"]: tuple(r[f"mh{p}"] for p in range(dedup.NUM_PERM))
        for r in sets_.filter(F.col("sz") > 0)
        .select(
            "doc_id",
            *[dedup._perm_min(p).alias(f"mh{p}") for p in range(dedup.NUM_PERM)],
        )
        .collect()
    }
    sh = dedup._hashed_shingle_index(spark, SF_SMOKE)
    old = {
        r["doc_id"]: tuple(r[f"mh{p}"] for p in range(dedup.NUM_PERM))
        for r in sh.groupBy("doc_id")
        .agg(
            *[
                F.min(
                    ((F.col("h") % F.lit(dedup._MINHASH_P)) * F.lit(a) + F.lit(b))
                    % F.lit(dedup._MINHASH_P)
                ).alias(f"mh{p}")
                for p, (a, b) in enumerate(dedup._PERM_CONSTS)
            ]
        )
        .collect()
    }
    assert new == old


def test_simhash_signature_matches_posexplode_form(spark):
    """The bit-packed lane-fold signature must equal the posexplode +
    two-shuffle formulation it replaced, bit for bit."""
    from pyspark.sql import functions as F

    from hgn_spark.operators import dedup

    sets_ = dedup._doc_shingle_sets(spark, SF_SMOKE)
    hi = dedup.SIMHASH_BITS - 1
    new = {
        r["doc_id"]: r["sig"]
        for r in sets_.filter(F.col("sz") > 0)
        .select(
            "doc_id",
            F.expr(
                f"aggregate(sequence(0, {hi}), CAST(0 AS BIGINT), (acc, i) -> acc + "
                "IF(2 * size(filter(hs, h -> (shiftright(h, i) & 1) = 1)) > sz, "
                "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
            ).alias("sig"),
        )
        .collect()
    }
    h = dedup._hashed_shingle_index(spark, SF_SMOKE)
    bits = h.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {hi}), "
                "i -> IF((shiftright(h, i) & 1) = 1, 1, -1))"
            )
        ).alias("bit", "pm"),
    )
    per_bit = bits.groupBy("doc_id", "bit").agg(F.sum("pm").alias("s"))
    old = {
        r["doc_id"]: r["sig"]
        for r in per_bit.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
                ).otherwise(F.lit(0).cast("long"))
            ).alias("sig")
        )
        .collect()
    }
    assert new == old


def test_simhash_no_false_positives(spark, exact_pairs):
    from hgn_spark.operators.dedup import dedup_simhash_pairs

    got = {
        (r["d1"], r["d2"])
        for r in dedup_simhash_pairs(spark, SF_SMOKE).collect()
    }
    # hamming ≤ 3 on shingle-simhash is strictly tighter than jaccard 0.8:
    # everything it finds is a real near-dup (17/28 observed).
    assert got <= exact_pairs
    assert len(got) >= 10


def test_exact_dedup_incremental(spark):
    rows = SPECS["dedup_exact_incremental"].fn(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    by_op = {}
    for r in rows:
        by_op.setdefault(r["op"], []).append(r)
    for r in by_op.get("dup_group", []):
        assert r["a"] > 1          # group size
        assert r["b"] >= 0         # canonical survivor
    # Incremental invariants: every batch doc lands in exactly one class,
    # and a kept doc's fingerprint appears exactly once among kept rows.
    batch_ids = [r["a"] for op in ("dup_vs_corpus", "dup_in_batch", "kept")
                 for r in by_op.get(op, [])]
    assert len(batch_ids) == len(set(batch_ids))
    assert all(i % 5 == 4 for i in batch_ids)
    kept_fps = [r["fp_bag"] for r in by_op.get("kept", [])]
    assert len(kept_fps) == len(set(kept_fps))


def test_embedding_dim_matches(spark):
    """EMB_DIM is compiled into both the Spark SRP pipeline and the
    DuckDB oracle's inlined hyperplanes; a corpus dim change must fail
    here, loudly, not as a silent plane mismatch."""
    from pyspark.sql import functions as F

    from hgn_spark.catalog import load_table
    from hgn_spark.operators.dedup import EMB_DIM

    dims = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select(F.size("embedding").alias("d"))
        .distinct()
        .collect()
    )
    assert [r["d"] for r in dims] == [EMB_DIM]


def test_embedding_neardup_subset_of_bruteforce(spark):
    from pyspark.sql import functions as F

    from hgn_spark.catalog import load_table
    from hgn_spark.operators.dedup import EMB_COS_THRES
    from hgn_spark.operators.similarity import cosine

    from hgn_spark.operators.dedup import dedup_embedding_neardup_pairs

    got = {
        (r["v1"], r["v2"])
        for r in dedup_embedding_neardup_pairs(spark, SF_SMOKE).collect()
    }
    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = emb.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"))
    b = emb.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
    brute = {
        (r["v1"], r["v2"])
        for r in a.join(b, F.col("v1") < F.col("v2"))
        .withColumn("cos", cosine(F.col("e1"), F.col("e2")))
        .filter(F.col("cos") >= EMB_COS_THRES)
        .select("v1", "v2")
        .collect()
    }
    assert got <= brute
    assert len(got) > 0  # SRP recall at cosine≈0.4 is low by design, not zero


def test_ivf_recall_vs_bruteforce(spark):
    rows = SPECS["simsearch_topk_cosine"].fn(spark, SF_SMOKE).collect()
    bf = {(r["q_id"], r["vec_id"]) for r in rows if r["variant"] == "exact"}
    ivf = {(r["q_id"], r["vec_id"]) for r in rows if r["variant"] == "seed"}
    assert len(bf) == 50  # 10 queries × top-5
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.8  # 0.96 observed with 20 lists / 3 probes


def test_ivf_kmeans_recall_vs_bruteforce(spark):
    """The Lloyd-trained variant keeps the recall floor. On this
    isotropic corpus it measures 0.92 (vs 0.96 for stride seeds at the
    same probed candidate count) — the expected no-cluster-structure
    outcome, see simsearch_ivf_kmeans_topk's docstring."""
    rows = SPECS["simsearch_topk_cosine"].fn(spark, SF_SMOKE).collect()
    bf = {(r["q_id"], r["vec_id"]) for r in rows if r["variant"] == "exact"}
    ivf = {(r["q_id"], r["vec_id"]) for r in rows if r["variant"] == "kmeans"}
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.8  # 0.92 observed with 20 lists / 3 probes


def test_lloyd_avg_matches_pinned_fold(spark):
    """The production avg() Lloyd path equals the oracle-replay pinned
    fold at the 6-decimal centroid rounding (VERDICT r5 #4): same
    cluster ids, same centroid arrays — so swapping the bounded-state
    path in changes nothing downstream."""
    from hgn_spark.operators.similarity import (
        CENTROID_STRIDE,
        _lloyd_refine_pinned,
        lloyd_refine,
        load_embeddings,
    )
    from pyspark.sql import functions as F

    emb = load_embeddings(spark, SF_SMOKE)
    seeds = emb.filter(F.col("vec_id") % CENTROID_STRIDE == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent_e"),
        F.col("nrm").alias("cent_n"),
    )
    prod = {r["cent_id"]: r["cent_e"] for r in lloyd_refine(emb, seeds).collect()}
    pinned = {
        r["cent_id"]: r["cent_e"]
        for r in _lloyd_refine_pinned(emb, seeds).collect()
    }
    assert set(prod) == set(pinned)
    for cid in prod:
        assert prod[cid] == pinned[cid], cid


def test_neardup_incremental_matches_full_pair_split(spark):
    """The batch-vs-corpus incremental near-dup equals the full
    (oracle-checked) pair query restricted and re-oriented by the
    batch split: vs_corpus = pairs with exactly one batch member
    (batch doc as d1), in_batch = pairs with both members in the
    batch — same jaccard values."""
    from hgn_spark.operators.dedup import (
        dedup_ngram_jaccard_pairs,
        neardup_incremental,
    )

    full = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup_ngram_jaccard_pairs(spark, SF_SMOKE).collect()
    }
    from hgn_spark.operators.dedup import INC_BATCH_MOD, INC_BATCH_REM

    is_b = lambda d: d % INC_BATCH_MOD == INC_BATCH_REM  # noqa: E731
    want_vs, want_in = {}, {}
    for (x, y), j in full.items():
        if is_b(x) and is_b(y):
            want_in[(x, y)] = j
        elif is_b(x):
            want_vs[(x, y)] = j
        elif is_b(y):
            want_vs[(y, x)] = j
    got = neardup_incremental(spark, SF_SMOKE).collect()
    got_vs = {(r["d1"], r["d2"]): r["jaccard"] for r in got if r["op"] == "vs_corpus"}
    got_in = {(r["d1"], r["d2"]): r["jaccard"] for r in got if r["op"] == "in_batch"}
    assert got_vs == want_vs
    assert got_in == want_in
    # every batch doc flagged vs_corpus is genuinely from the batch;
    # its counterpart genuinely from the corpus
    assert all(is_b(d1) and not is_b(d2) for d1, d2 in got_vs)
    # the df-capped route keeps recall at a sane cap on this corpus
    capped = neardup_incremental(spark, SF_SMOKE, df_cap=50).collect()
    assert {(r["op"], r["d1"], r["d2"]) for r in capped} == {
        (r["op"], r["d1"], r["d2"]) for r in got
    }


def test_df_cap_preserves_high_jaccard_pairs(spark):
    """The hot-shingle cap must not lose any jaccard>=0.8 pair: planted
    near-dups share dozens of shingles, so even an aggressive cap keeps
    at least one rare shared shingle per true pair."""
    from hgn_spark.operators.dedup import ngram_jaccard_pairs_capped

    from pyspark.sql import functions as F

    from hgn_spark.operators.dedup import _hashed_shingle_index

    base = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in SPECS["dedup_ngram_jaccard_pairs"].fn(spark, SF_SMOKE).collect()
        if r["op"] == "all"
    }
    # df_cap=4 is above the corpus p99 shingle frequency but below its
    # max (9), so the cap genuinely fires (candidate pairs shrink) yet
    # every verified pair survives.
    capped = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in ngram_jaccard_pairs_capped(spark, SF_SMOKE, df_cap=4).collect()
    }
    assert capped == base
    assert len(base) > 0

    sh = _hashed_shingle_index(spark, SF_SMOKE)
    hot = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 4)
        .select("h")
    )
    assert hot.count() > 0, "df_cap=4 never fired — raise the bar"


def test_srp_adaptive_branch_differs_from_pinned(spark):
    """The `srp_adaptive` branch must use a genuinely different (wider)
    signature than the pinned 16-bit `srp` branch at the test sf —
    identical pair sets at every sf would mean the adaptive formula
    never re-buckets anything and the branch proves nothing."""
    from hgn_spark.operators.dedup import SRP_BITS, srp_adaptive_bits
    from hgn_spark.operators.similarity import load_embeddings

    n = load_embeddings(spark, SF_SMOKE).count()
    assert srp_adaptive_bits(n) > SRP_BITS

    rows = SPECS["dedup_minhash_lsh_pairs"].fn(spark, SF_SMOKE).collect()
    srp = {(r["a"], r["b"]) for r in rows if r["method"] == "srp"}
    ada = {(r["a"], r["b"]) for r in rows if r["method"] == "srp_adaptive"}
    assert ada != srp, "wider signature re-bucketed nothing at this sf"
    assert len(ada) > 0


def test_srp_fused_multi_matches_standalone(spark):
    """The registered row's fused multi-width SRP pass must reproduce
    the standalone per-width pipelines exactly — the fusion is a
    physical optimization (shared signature scan / bucket join /
    verify), never a semantic change."""
    from hgn_spark.operators.dedup import (
        SRP_BITS,
        _srp_pairs_multi,
        dedup_embedding_neardup_pairs,
        dedup_embedding_neardup_pairs_adaptive,
        dedup_embedding_neardup_pairs_recall,
        srp_recall_bands,
    )

    fused = _srp_pairs_multi(
        spark,
        SF_SMOKE,
        [
            ("srp", SRP_BITS),
            ("srp_adaptive", 18),
            # the r12 multi-band config shape: (label, n_bits, n_bands)
            ("srp_recall", *srp_recall_bands(500)),
        ],
    ).collect()
    got_srp = {(r["v1"], r["v2"], r["cosine"]) for r in fused if r["label"] == "srp"}
    got_ada = {
        (r["v1"], r["v2"], r["cosine"]) for r in fused if r["label"] == "srp_adaptive"
    }
    got_rec = {
        (r["v1"], r["v2"], r["cosine"]) for r in fused if r["label"] == "srp_recall"
    }
    want_srp = {
        (r["v1"], r["v2"], r["cosine"])
        for r in dedup_embedding_neardup_pairs(spark, SF_SMOKE).collect()
    }
    want_ada = {
        (r["v1"], r["v2"], r["cosine"])
        for r in dedup_embedding_neardup_pairs_adaptive(spark, SF_SMOKE).collect()
    }
    want_rec = {
        (r["v1"], r["v2"], r["cosine"])
        for r in dedup_embedding_neardup_pairs_recall(spark, SF_SMOKE).collect()
    }
    assert got_srp == want_srp
    assert got_ada == want_ada
    assert got_rec == want_rec
    assert len(got_rec) > 0


def test_cap_branch_strict_subset_of_all(spark):
    """The driver row's `cap` branch (pinned CAP_DF) must be a STRICT
    subset of 'all': equal sets would mean the pinned cap never gates a
    candidate and the branch proves nothing (VERDICT r8 #1 — the cap
    was chosen so real pairs drop at every test sf)."""
    rows = SPECS["dedup_ngram_jaccard_pairs"].fn(spark, SF_SMOKE).collect()
    all_ = {(r["d1"], r["d2"], r["jaccard"]) for r in rows if r["op"] == "all"}
    cap = {(r["d1"], r["d2"], r["jaccard"]) for r in rows if r["op"] == "cap"}
    assert cap < all_, "cap branch must drop at least one pair yet stay a subset"
    assert len(cap) > 0, "cap branch empty — CAP_DF too aggressive at this sf"


# ---------------------------------------------------------------------------
# Sampling / packing / canonical-group properties (beyond oracle parity)
# ---------------------------------------------------------------------------


def test_stratified_sample_rates_and_k(spark):
    from hgn_spark.operators.sampling import (
        DEFAULT_RATE_HEX,
        RATE_HEX,
        STRATUM_K,
        sample_stratified_hash,
    )
    from hgn_spark.catalog import load_table

    out = sample_stratified_hash(spark, SF_SMOKE).toPandas()
    totals = (
        load_table(spark, SF_SMOKE, "documents")
        .groupBy("lang")
        .count()
        .toPandas()
        .set_index("lang")["count"]
    )
    rate = out[out["op"] == "rate_sample"].groupby("lang").size()
    for lang, n_total in totals.items():
        expected = int(RATE_HEX.get(lang, DEFAULT_RATE_HEX)[0:2], 16) / 256.0
        got = rate.get(lang, 0) / n_total
        # md5 is uniform; with ~50-100 docs per stratum allow a wide but
        # meaningful band around the configured rate.
        assert abs(got - expected) < 0.35, (lang, got, expected)
    bk = out[out["op"] == "stratum_bottom_k"].groupby("lang").size()
    for lang, n_total in totals.items():
        assert bk.get(lang, 0) == min(STRATUM_K, n_total), lang
    # Determinism: the sample is a pure function of the ids.
    again = sample_stratified_hash(spark, SF_SMOKE).toPandas()
    key = ["op", "doc_id"]
    assert sorted(map(tuple, out[key].values.tolist())) == sorted(
        map(tuple, again[key].values.tolist())
    )


def test_pack_token_chunks_contiguous(spark):
    from hgn_spark.operators.text import CTX_LEN, N_SHARDS, pack_token_chunks

    out = pack_token_chunks(spark, SF_SMOKE).toPandas()
    assert set(out["shard"]) <= set(range(N_SHARDS))
    assert (out["chunk_offset"] < CTX_LEN).all()
    assert (out["chunk_offset"] >= 0).all()
    for _, grp in out.sort_values(["shard", "doc_id"]).groupby("shard"):
        starts = grp["tok_start"].tolist()
        toks = grp["n_tokens"].tolist()
        # Head-to-tail stream: each doc starts where the previous ended.
        assert starts[0] == 0
        for i in range(1, len(starts)):
            assert starts[i] == starts[i - 1] + toks[i - 1]
        # chunk bookkeeping is consistent with the stream offset
        assert (grp["chunk_id"] == grp["tok_start"] // CTX_LEN).all()


def test_canonical_groups_partition_the_pairs(spark):
    from hgn_spark.operators.dedup import (
        dedup_canonical_groups,
        dedup_ngram_jaccard_pairs,
    )

    groups = dedup_canonical_groups(spark, SF_SMOKE).toPandas()
    pairs = dedup_ngram_jaccard_pairs(spark, SF_SMOKE).toPandas()
    gid = dict(zip(groups["doc_id"], groups["group_id"]))
    # Every near-dup pair lands in one group.
    for d1, d2 in zip(pairs["d1"], pairs["d2"]):
        assert gid[d1] == gid[d2], (d1, d2)
    # Exactly one canonical doc per group, and it's the min id.
    per_group = groups.groupby("group_id")
    assert (per_group["is_canonical"].sum() == 1).all()
    assert (per_group["doc_id"].min() == per_group["group_id"].first()).all()
    # group_size is the member count.
    assert (per_group.size() == per_group["group_size"].first()).all()


def test_decontamination_excludes_benchmark_and_bounds(spark):
    """Benchmark-slice docs never appear as contaminated; every output
    row has >= 1 overlap and a fraction in (0, 1]."""
    from hgn_spark.operators.text import DECON_BENCH_MOD

    rows = SPECS["decontaminate_ngram_overlap"].fn(spark, SF_SMOKE).collect()
    assert rows, "smoke corpus has planted near-dups of benchmark docs"
    for r in rows:
        assert r["doc_id"] % DECON_BENCH_MOD != 0
        assert 1 <= r["n_overlap"] <= r["n_grams"]
        assert 0 < r["overlap_frac"] <= 1


def test_decontamination_flags_neardups_of_benchmark(spark, exact_pairs):
    """A doc in a planted near-dup pair with a benchmark doc shares long
    spans with it, so 7-gram decontamination must flag it."""
    from hgn_spark.operators.text import DECON_BENCH_MOD

    expected = set()
    for d1, d2 in exact_pairs:
        if d1 % DECON_BENCH_MOD == 0 and d2 % DECON_BENCH_MOD != 0:
            expected.add(d2)
        if d2 % DECON_BENCH_MOD == 0 and d1 % DECON_BENCH_MOD != 0:
            expected.add(d1)
    flagged = {
        r["doc_id"]
        for r in SPECS["decontaminate_ngram_overlap"].fn(spark, SF_SMOKE).collect()
    }
    assert expected <= flagged


def test_quantize_int8_code_range_and_error_bound(spark):
    """Codes stay in the int8 range; per-vector MSE obeys the
    worst-case bound for max-abs scaling ((scale/127/2)^2 per dim)."""
    rows = SPECS["embedding_quantize_int8"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 500
    for r in rows:
        assert -127 <= r["code_min"] <= r["code_max"] <= 127
        bound = (r["scale"] / 127.0 / 2.0) ** 2
        assert r["mse"] <= bound * 1.001 + 1e-12


def test_redact_pii_patterns(spark):
    from pyspark.sql import functions as F

    from hgn_spark.operators.text import redact_pii

    rows = [
        ("contact bob.smith+x@corp.example.org now", "contact <EMAIL> now"),
        ("server 192.168.100.200 port 8080", "server <IP> port 8080"),
        ("card 4111111111111111 exp 12/30", "card <NUMBER> exp 12/30"),
        ("id 123456 stays, 1234567 goes", "id 123456 stays, <NUMBER> goes"),
        ("plain text untouched", "plain text untouched"),
    ]
    df = spark.createDataFrame([(a,) for a, _ in rows], ["text"])
    got = [r[0] for r in df.select(redact_pii("text")).collect()]
    assert got == [e for _, e in rows]


def _mixture_rates_oracle(df, group_col, target_weights):
    """Pure-Python remix planner — the oracle for
    mixture_thresholds_frame. This WAS hgn_spark's collect-based
    mixture_rates through r10; deleted from the library per VERDICT
    r10 (zero .collect() outside 1-row loop control) and kept here as
    the reference arithmetic the distributed planner must match
    bit-for-bit."""
    from pyspark.sql import functions as F

    counts = {
        r["g"]: r["n"]
        for r in df.groupBy(F.col(group_col).alias("g")).count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    w_total = sum(target_weights.get(g, 0.0) for g in counts)
    if w_total <= 0:
        raise ValueError("target_weights assigns no mass to any observed group")
    binding_total = min(
        counts[g] / (target_weights[g] / w_total)
        for g in counts
        if target_weights.get(g, 0) > 0
    )
    return {
        g: min(1.0, (target_weights.get(g, 0.0) / w_total) * binding_total / n)
        for g, n in counts.items()
    }


def test_mixture_rates_reshape_corpus(spark):
    """mixture_rates + apply_mixture_sample: the binding group keeps
    rate 1.0, realized group shares land near the target mix, and the
    sample is deterministic across invocations."""
    from hgn_spark.operators.sampling import apply_mixture_sample

    docs = SPECS["text_profile"].fn(spark, SF_SMOKE)  # any per-doc frame
    base = docs.selectExpr("doc_id", "pred_lang AS lang")
    rates = _mixture_rates_oracle(base, "lang", {"en": 1.0, "es": 1.0, "de": 1.0,
                                                 "fr": 1.0, "zh": 1.0})
    assert max(rates.values()) == 1.0  # binding group undersampled, kept whole
    out = apply_mixture_sample(base, "doc_id", "lang", rates)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(__import__("pyspark").sql.functions.count("*")
                                   .alias("n")).collect()}
    # equal-weight target: every realized group size should be within
    # hash-uniformity noise of the smallest group's size
    lo, hi = min(got.values()), max(got.values())
    assert hi <= lo * 1.5 + 10
    # determinism: same ids both times
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in
                  apply_mixture_sample(base, "doc_id", "lang", rates).collect())
    assert ids1 == ids2


def test_mixture_thresholds_frame_matches_dict_planner(spark):
    """The fully-distributed planner (mixture_thresholds_frame, the
    registered row's path since r9) must produce bit-identical
    thresholds to the dict-returning mixture_rates +
    apply_mixture_sample pair — both mirror the oracle's expression
    tree, so any drift between the two APIs is a bug."""
    from hgn_spark.operators.sampling import (
        MIX_WEIGHTS,
        mixture_thresholds_frame,
    )

    docs = SPECS["text_profile"].fn(spark, SF_SMOKE)
    base = docs.selectExpr("doc_id", "pred_lang AS lang")
    rates = _mixture_rates_oracle(base, "lang", MIX_WEIGHTS)
    expected = {
        g: ("g" if r >= 1.0
            else format(min(int(r * 2**32), 2**32 - 1), "08x"))
        for g, r in rates.items()
    }
    got = {r["g"]: r["t"]
           for r in mixture_thresholds_frame(base, "lang", MIX_WEIGHTS).collect()}
    assert got == expected


def test_clear_session_caches_drops_and_rebuilds(spark):
    """clear_session_caches empties every session memo and the next
    call rebuilds an equivalent materialization (bench relies on this
    between suite passes)."""
    from hgn_spark.graph import queries as gq
    from hgn_spark.operators import dedup
    from hgn_spark.registry import clear_session_caches

    before = dedup._doc_shingle_sets(spark, SF_SMOKE).count()
    gq.derived_edges(spark, SF_SMOKE).count()
    assert dedup._doc_shingle_sets._frames and gq.derived_edges._frames
    clear_session_caches()
    assert not dedup._doc_shingle_sets._frames
    assert not dedup.dedup_ngram_jaccard_pairs._frames
    assert not gq.derived_edges._frames
    assert dedup._doc_shingle_sets(spark, SF_SMOKE).count() == before


def test_session_memo_structural_clearing(spark):
    """A SessionMemo defined anywhere — with no hand-enumeration inside
    clear_session_caches — is cleared and its checkpoint blocks
    released: the invariant is structural, a new memoized builder is
    covered by being a memo. Also pins that a second call in the same
    session returns the memoized frame with the count its checkpoint
    job computed."""
    import time

    from hgn_spark import checkpoint as cp
    from hgn_spark.checkpoint import SessionMemo, persistent_rdd_ids
    from hgn_spark.registry import clear_session_caches

    builds = []

    @SessionMemo
    def frame(spark, sf_dir):
        builds.append(sf_dir)
        return spark.range(100).selectExpr("id", "id * 2 AS v")

    try:
        clear_session_caches(blocking=True)
        before = persistent_rdd_ids(spark)
        df, n = frame.counted(spark, "k")
        assert n == 100 and frame(spark, "k") is df and builds == ["k"]
        ids = persistent_rdd_ids(spark) - before
        assert ids, "the memo's checkpoint must persist its blocks"
        clear_session_caches()
        assert not frame._frames
        # blocking=False unpersist is async-completing but the ids must
        # leave the persistent map promptly; poll briefly.
        for _ in range(50):
            if not (ids & persistent_rdd_ids(spark)):
                break
            time.sleep(0.1)
        assert not (ids & persistent_rdd_ids(spark))
        assert frame(spark, "k").count() == 100 and builds == ["k", "k"]
    finally:
        cp._MEMOS.remove(frame)
        clear_session_caches(blocking=True)


def test_emb_count_rides_on_the_embeddings_checkpoint(spark):
    """emb_count reads the row count the embeddings checkpoint job
    already computed: once load_embeddings has run in a cleared
    session, the count submits no Spark job (counted by job group, not
    by diffing global job ids)."""
    from hgn_spark.operators.similarity import emb_count, load_embeddings
    from hgn_spark.registry import clear_session_caches

    clear_session_caches(blocking=True)
    emb = load_embeddings(spark, SF_SMOKE)
    sc = spark.sparkContext
    group = "test_emb_count_rides_on_the_embeddings_checkpoint"
    sc.setJobGroup(group, "emb_count after load_embeddings")
    try:
        n = emb_count(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert n == emb.count() > 0


def test_mixture_rates_drops_unweighted_groups(spark):
    """A group observed in the corpus but absent from the target mix
    gets rate 0 (dropped), not a KeyError; an all-zero mix raises."""
    import pytest as _pytest

    from hgn_spark.operators.sampling import apply_mixture_sample

    base = spark.createDataFrame(
        [(i, "a" if i % 2 else "junk") for i in range(100)], ["doc_id", "g"]
    )
    rates = _mixture_rates_oracle(base, "g", {"a": 1.0})
    assert rates["a"] == 1.0 and rates["junk"] == 0.0
    out = apply_mixture_sample(base, "doc_id", "g", rates)
    assert out.filter("g = 'junk'").count() == 0
    assert out.filter("g = 'a'").count() == 50
    with _pytest.raises(ValueError):
        _mixture_rates_oracle(base, "g", {"nope": 1.0})


def test_heavy_hitters_exact_topk_zipf(spark):
    """Sample-then-verify heavy hitters returns the EXACT top-k (same
    set, same exact counts, same tie-break) as a full groupBy on a
    Zipf-distributed key stream — the operator's actual setting (the
    candidate sample only bounds the shuffle, never the answer, when
    true heavy keys exist; on near-uniform data no sampling scheme can
    rank, which is why the docstring scopes it to heavy-hitter
    distributions)."""
    from pyspark.sql import functions as F

    from hgn_spark.operators.relational import heavy_hitters

    rows = []
    rid = 0
    for i in range(1, 201):  # key_i appears ~2000/i times
        for _ in range(2000 // i):
            rows.append((rid, f"key_{i:03d}"))
            rid += 1
    df = spark.createDataFrame(rows, "row_id long, k string")
    got = [
        (r["value"], r["n"])
        for r in heavy_hitters(df, "k", k=10, id_cols=["row_id"]).collect()
    ]
    want = [
        (r["k"], r["n"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("k"))
        .limit(10)
        .collect()
    ]
    assert got == want
    assert got[0] == ("key_001", 2000)
    # deterministic repeat
    assert got == [
        (r["value"], r["n"])
        for r in heavy_hitters(df, "k", k=10, id_cols=["row_id"]).collect()
    ]
    # the all-columns fallback works too (row_id makes rows distinct)
    assert got == [
        (r["value"], r["n"]) for r in heavy_hitters(df, "k", k=10).collect()
    ]
    # a key-only frame is the guaranteed all-or-none sampling regime —
    # refused loudly instead of silently dropping heavy keys
    import pytest as _pytest

    with _pytest.raises(ValueError, match="all-or-none"):
        heavy_hitters(df.select("k"), "k", k=10)
    # key column named 'value' must not make the pass-2 join ambiguous
    renamed = df.withColumnRenamed("k", "value")
    got_v = [
        (r["value"], r["n"])
        for r in heavy_hitters(renamed, "value", k=10, id_cols=["row_id"]).collect()
    ]
    assert got_v == got


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_event_streams = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # user
        st.integers(min_value=0, max_value=20_000),  # seconds offset
    ),
    min_size=1,
    max_size=30,
    unique=True,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=_event_streams)
def test_sessionize_matches_pure_python(spark, rows):
    """The lag + running-sum sessionizer agrees with a pure-Python
    sessionizer on arbitrary per-user event streams (30-min gap,
    boundary-inclusive: a gap of exactly gap_us stays in-session)."""
    import datetime as dt

    from hgn_spark.operators.relational import sessionize

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, u, base + dt.timedelta(seconds=s)) for i, (u, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: (r["user_id"], r["session_id"])
        for r in sessionize(df, "user_id", "ts", ["event_id"], gap_us=1_800_000_000)
        .collect()
    }
    # pure-Python reference
    want = {}
    by_user: dict[int, list[tuple[int, int]]] = {}
    for i, (u, s) in enumerate(rows):
        by_user.setdefault(u, []).append((s, i))
    for u, evs in by_user.items():
        evs.sort()
        sid = 0
        prev = None
        for s, i in evs:
            if prev is None or (s - prev) * 1_000_000 > 1_800_000_000:
                sid += 1
            want[i] = (u, sid)
            prev = s
    assert got == want


def test_props_variant_extract_matches_json_paths(spark):
    """The VARIANT path (parse once, variant_get per field) extracts
    the same values as per-path get_json_object over events.props, and
    the inferred variant schema names the k field."""
    from pyspark.sql import functions as F

    from hgn_spark.catalog import load_table
    from hgn_spark.operators.relational import props_variant_extract

    got = {
        r["event_id"]: (r["k"], r["props_schema"])
        for r in props_variant_extract(spark, SF_SMOKE).collect()
    }
    want = {
        r["event_id"]: r["k"]
        for r in load_table(spark, SF_SMOKE, "events")
        .select(
            "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
        )
        .collect()
    }
    assert {i: k for i, (k, _) in got.items()} == want
    assert all("k" in sch for _, sch in got.values() if sch is not None)


def test_mixture_repeat_upsamples_deterministically(spark):
    """Upsampling mixture application: rate 2.5 yields ~2.5x copies
    (exactly 2 or 3 per row, deterministic per id), rate <= 1
    reproduces apply_mixture_sample membership, rate 0 drops, and
    copy_idx enumerates repeats."""
    from hgn_spark.operators.sampling import (
        apply_mixture_repeat,
        apply_mixture_sample,
    )

    base = spark.createDataFrame(
        [(i, "hq" if i % 3 == 0 else ("lq" if i % 3 == 1 else "junk"))
         for i in range(3000)],
        ["doc_id", "g"],
    )
    rates = {"hq": 2.5, "lq": 0.5, "junk": 0.0}
    out = apply_mixture_repeat(base, "doc_id", "g", rates).collect()
    by_doc: dict[int, list[int]] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy_idx"])
    assert all(r["g"] != "junk" for r in out)
    hq_counts = [len(v) for d, v in by_doc.items() if d % 3 == 0]
    assert set(hq_counts) <= {2, 3}
    avg = sum(hq_counts) / len(hq_counts)
    assert abs(avg - 2.5) < 0.1
    # copy_idx enumerates 0..n-1
    for copies in by_doc.values():
        assert sorted(copies) == list(range(len(copies)))
    # rate <= 1 branch matches apply_mixture_sample membership
    lq_repeat = {d for d in by_doc if d % 3 == 1}
    lq_sample = {
        r["doc_id"]
        for r in apply_mixture_sample(
            base.filter("g = 'lq'"), "doc_id", "g", {"lq": 0.5}
        ).collect()
    }
    assert lq_repeat == lq_sample
    # deterministic repeat
    again = apply_mixture_repeat(base, "doc_id", "g", rates).collect()
    assert {(r["doc_id"], r["copy_idx"]) for r in again} == {
        (r["doc_id"], r["copy_idx"]) for r in out
    }


def test_assign_splits_deterministic_disjoint_stable(spark):
    """Split assignment is a pure function of the row's own id:
    disjoint + exhaustive, proportions near the weights, repeatable,
    and STABLE under corpus growth (existing docs never flip split
    when new docs arrive — the property randomSplit lacks)."""
    import pytest as _pytest

    from hgn_spark.operators.sampling import assign_splits

    base = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    splits = {"train": 8.0, "val": 1.0, "test": 1.0}
    got = {
        r["doc_id"]: r["split"]
        for r in assign_splits(base, "doc_id", splits).collect()
    }
    assert len(got) == 2000  # exhaustive, one split per doc
    from collections import Counter

    c = Counter(got.values())
    assert set(c) == {"train", "val", "test"}
    assert abs(c["train"] / 2000 - 0.8) < 0.05
    assert abs(c["val"] / 2000 - 0.1) < 0.03
    assert abs(c["test"] / 2000 - 0.1) < 0.03
    # repeatable
    again = {
        r["doc_id"]: r["split"]
        for r in assign_splits(base, "doc_id", splits).collect()
    }
    assert again == got
    # stable under growth: assignments on a 10x corpus agree on the
    # original ids
    grown = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    g2 = {
        r["doc_id"]: r["split"]
        for r in assign_splits(grown, "doc_id", splits).collect()
    }
    assert all(g2[i] == got[i] for i in got)
    with _pytest.raises(ValueError):
        assign_splits(base, "doc_id", {})
    with _pytest.raises(ValueError):
        assign_splits(base, "doc_id", {"train": 1.0, "val": 0.0})


def test_lsh_topk_recall_and_candidate_bound(spark):
    """LSH-bucketed ANN: recall floor on the no-structure smoke corpus
    (documented as far below trained IVF — the data-independence
    tradeoff) and the probe volume stays a small corpus fraction."""
    from pyspark.sql import functions as F

    from hgn_spark.operators.similarity import (
        LSH_BITS,
        simsearch_exact_topk,
        simsearch_lsh_topk,
    )

    bf = {
        (r["q_id"], r["vec_id"])
        for r in simsearch_exact_topk(spark, SF_SMOKE).collect()
    }
    lsh_df = simsearch_lsh_topk(spark, SF_SMOKE)
    lsh = {(r["q_id"], r["vec_id"]) for r in lsh_df.collect()}
    assert len(lsh) == len(bf)  # full top-k emitted for every query
    assert len(bf & lsh) / len(bf) >= 0.1  # smoke floor; 0.36 at sf0.01
    # rank column well-formed: exactly ranks 1..k per query
    ranks = (
        lsh_df.groupBy("q_id").agg(F.collect_set("rank").alias("r")).collect()
    )
    assert all(sorted(row["r"]) == [1, 2, 3, 4, 5] for row in ranks)
    # the multiprobe knob is live: probing <=2-bit flips widens the
    # candidate set, so recall must not drop vs the 1-bit default
    lsh2 = {
        (r["q_id"], r["vec_id"])
        for r in simsearch_lsh_topk(spark, SF_SMOKE, multiprobe=2).collect()
    }
    assert len(bf & lsh2) >= len(bf & lsh)


def test_tfidf_topterms_invariants(spark):
    """TF-IDF top-terms: rank shape, idf-zero law (a term in every
    document scores exactly 0), and score monotonicity vs rank."""
    from pyspark.sql import functions as F

    from hgn_spark.catalog import load_table
    from hgn_spark.operators.text import TFIDF_TOPK, tokens

    out = SPECS["text_tfidf_topterms"].fn(spark, SF_SMOKE)
    rows = out.collect()
    assert rows, "no scored documents"
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    docs_with_terms = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.size(tokens("text")) > 0)
        .count()
    )
    # every doc with >=1 token gets ranks 1..min(k, n_distinct_terms)
    assert len(by_doc) == docs_with_terms
    for doc_rows in by_doc.values():
        got = sorted(r["rank"] for r in doc_rows)
        assert got == list(range(1, len(got) + 1))
        assert len(got) <= TFIDF_TOPK
        # scores non-increasing in rank
        by_rank = sorted(doc_rows, key=lambda r: r["rank"])
        scores = [r["tfidf"] for r in by_rank]
        assert all(a >= b for a, b in zip(scores, scores[1:]))
    # idf-zero law: df == n_docs forces tfidf == 0 exactly
    for r in rows:
        if r["df"] == n_docs:
            assert r["tfidf"] == 0.0
        assert r["df"] <= n_docs


def test_corpus_source_report_invariants(spark):
    """Report-card slices partition the corpus: doc counts sum to the
    table size, dup counts are consistent, rates live in [0, 1]."""
    from hgn_spark.catalog import load_table

    out = SPECS["corpus_source_report"].fn(spark, SF_SMOKE).collect()
    n_total = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r["n_docs"] for r in out) == n_total
    for r in out:
        assert r["n_exact_dups"] == r["n_docs"] - r["n_unique_texts"]
        assert 0 <= r["n_exact_dups"] < r["n_docs"] or r["n_exact_dups"] == 0
        assert 0.0 <= r["quality_rate"] <= 1.0
        assert r["total_tokens"] >= r["n_docs"] * 0 and r["avg_doc_tokens"] >= 0


def test_sketch_accuracy_bounds(spark):
    """HLL++ distinct counts land within ~3x the default 5% rsd;
    the percentile sketch at accuracy 10000 is near-exact on these
    cardinalities; exact values match a direct computation."""
    rows = {r["metric"]: r for r in SPECS["sketch_accuracy_report"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == {
        "events_distinct_users",
        "events_p95_value",
        "lineitem_distinct_parts",
        "lineitem_median_price",
    }
    for m in ("events_distinct_users", "lineitem_distinct_parts"):
        assert rows[m]["rel_err"] <= 0.15, (m, rows[m])
    for m in ("events_p95_value", "lineitem_median_price"):
        assert rows[m]["rel_err"] <= 0.02, (m, rows[m])
    # rel_err semantics: defined (never NaN) whenever exact is nonzero;
    # 0.0 requires approx == exact when exact is 0; null is reserved
    # for the genuinely undefined exact=0 ≠ approx case (not hit on
    # this data — every exact here is nonzero, so all rel_err defined).
    import math

    for m, r in rows.items():
        assert r["exact"] != 0, (m, r)
        assert r["rel_err"] is not None and not math.isnan(r["rel_err"]), (m, r)

    from pyspark.sql import functions as F

    from hgn_spark.catalog import load_table

    exact = load_table(spark, SF_SMOKE, "events").agg(
        F.countDistinct("user_id")
    ).first()[0]
    assert rows["events_distinct_users"]["exact"] == float(exact)


def test_bracketed_exact_percentile_matches_percentile_builtin(spark):
    """r15 (VERDICT r14 #5): the bracket-and-sort exact percentile must
    be BIT-identical to Spark's percentile() — same p·(n-1) position,
    same neighbor interpolation in double, same null semantics — on the
    real tables and on adversarial shapes (tiny n under the full-sort
    fallback, heavy ties, all-equal, single row, all-null/empty)."""
    from pyspark.sql import functions as F

    from hgn_spark.catalog import load_table
    from hgn_spark.operators.relational import _agg_with_exact_percentile

    def check(df, col, p):
        want = df.agg(F.expr(f"percentile({col}, {p!r})")).first()[0]
        got = _agg_with_exact_percentile(
            df, col, p, [F.count(F.lit(1)).alias("n_rows")],
            exact_name="ex", approx_name="ap",
        ).first()["ex"]
        assert got == want or (got is None and want is None), (col, p, got, want)

    for p in (0.5, 0.95):
        check(load_table(spark, SF_SMOKE, "events"), "value", p)
    check(load_table(spark, SF_SMOKE, "lineitem"), "l_extendedprice", 0.5)
    # Adversarial shapes (all under the small-n full-sort fallback,
    # which is itself the exactness claim for n < _PCTL_SMALL_N).
    ties = spark.range(100).selectExpr("CAST(id % 7 AS DOUBLE) AS v")
    check(ties, "v", 0.95)
    check(spark.range(1).selectExpr("CAST(42 AS DOUBLE) AS v"), "v", 0.5)
    check(spark.range(50).selectExpr("CAST(3.5 AS DOUBLE) AS v"), "v", 0.25)
    check(
        spark.range(10).selectExpr("CAST(NULL AS DOUBLE) AS v"), "v", 0.5
    )
    # And one above the fallback so the bracket path itself is hit.
    big = spark.range(5000).selectExpr(
        "CAST(pmod(hash(id), 977) AS DOUBLE) / 3.0 AS v"
    )
    for p in (0.5, 0.95, 0.999):
        check(big, "v", p)


def test_pipeline_curation_end_to_end(spark):
    """Full curation pipeline: stage counts shrink monotonically, the
    curated set carries no exact duplicates, no benchmark-slice docs,
    no contaminated docs, and the run is deterministic."""
    from pyspark.sql import functions as F

    from hgn_spark.operators.text import DECON_BENCH_MOD
    from hgn_spark.pipeline import curate_corpus

    report = {
        r["stage"]: r["n_docs"]
        for r in SPECS["pipeline_curation_report"].fn(spark, SF_SMOKE).collect()
    }
    # Every stage reports (ADVICE r5): 0-7 plus token total, and the
    # full chain is monotonically non-increasing.
    chain = [
        "0_input",
        "1_quality_gated",
        "2_pii_scrubbed",
        "3_exact_deduped",
        "4_neardup_deduped",
        "5_decontaminated",
        "6_sampled",
        "7_curated_packed",
    ]
    assert set(report) == set(chain) | {"8_total_tokens"}
    for a, b in zip(chain, chain[1:]):
        assert report[a] >= report[b], (a, b, report)
    assert report["7_curated_packed"] > 0
    assert report["8_total_tokens"] > 0
    # The flag-based one-pass report must agree with the actual stage
    # frames (pins the shared-predicate refactor: a drift between the
    # report's flags and the pipeline's filters fails here).
    from hgn_spark.pipeline import curate_corpus_stages

    for name, df in curate_corpus_stages(spark, SF_SMOKE).items():
        assert report[name] == df.count(), name

    cur = curate_corpus(spark, SF_SMOKE)
    rows = cur.collect()
    assert len(rows) == report["7_curated_packed"]
    # no exact dups among curated clean_text
    texts = [r["clean_text"] for r in rows]
    assert len(texts) == len(set(texts))
    # benchmark slice excluded
    assert all(r["doc_id"] % DECON_BENCH_MOD != 0 for r in rows)
    # packing invariants per shard: offsets strictly increase by n_tokens
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["doc_id"])):
        prev = by_shard.get(r["shard"], 0)
        assert r["tok_start"] == prev
        by_shard[r["shard"]] = prev + r["n_tokens"]
    # deterministic repeat
    again = {r["doc_id"]: r["tok_start"] for r in curate_corpus(spark, SF_SMOKE).collect()}
    assert again == {r["doc_id"]: r["tok_start"] for r in rows}


def test_pipeline_df_cap_keeps_recall(spark):
    """The df-capped near-dup route (hot-key guard, VERDICT r5 #5)
    survives the pipeline: with a sane cap the curated doc set is
    identical to the uncapped run — near-dup pairs share many shingles,
    so capping only mega-buckets loses no recall on this corpus."""
    from hgn_spark.pipeline import curate_corpus

    uncapped = {r["doc_id"] for r in curate_corpus(spark, SF_SMOKE).collect()}
    capped = {
        r["doc_id"]
        for r in curate_corpus(spark, SF_SMOKE, df_cap=50).collect()
    }
    assert capped == uncapped


def test_pipeline_writes_partitioned_corpus(spark, tmp_path):
    """Curated corpus round-trips through the format-generic sink with
    a hive-style shard layout — the pipeline's production exit."""
    from hgn_spark.pipeline import curate_corpus
    from hgn_spark.sources.sinks import read_table, write_table

    cur = curate_corpus(spark, SF_SMOKE).select(
        "doc_id", "clean_text", "n_tokens", "shard", "chunk_id"
    )
    path = str(tmp_path / "curated")
    write_table(cur, path, fmt="parquet", partition_cols=["shard"])
    back = read_table(spark, path, fmt="parquet")
    assert back.count() == cur.count()
    import os
    assert any(d.startswith("shard=") for d in os.listdir(path))


def test_chunk_documents_coverage_and_overlap(spark):
    """Sliding-window chunking invariants: chunk 0 starts at 0;
    consecutive starts step by exactly CHUNK_STRIDE; every non-final
    chunk is full-size; the final chunk reaches the document's last
    token; total distinct covered positions == n_tokens (no gaps, no
    boundary crossing)."""
    from pyspark.sql import functions as F

    from hgn_spark.operators.text import CHUNK_SIZE, CHUNK_STRIDE, chunk_documents, tokens
    from hgn_spark.catalog import load_table

    chunks = chunk_documents(spark, SF_SMOKE).collect()
    n_tok = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", F.size(tokens("text")).alias("n"))
        .collect()
    }
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {d for d, n in n_tok.items() if n > 0}
    for doc, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        n = n_tok[doc]
        assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
        covered = set()
        for i, r in enumerate(rows):
            assert r["tok_start"] == i * CHUNK_STRIDE
            want = min(CHUNK_SIZE, n - r["tok_start"])
            assert r["n_tokens"] == want
            if i < len(rows) - 1:
                assert r["n_tokens"] == CHUNK_SIZE
            covered |= set(range(r["tok_start"], r["tok_start"] + r["n_tokens"]))
        assert covered == set(range(n))  # gapless, never past the end


def test_semantic_dedup_matches_bruteforce_rule(spark):
    """dedup_semantic_clusters == the top-2 drop rule replayed in
    Python over the same assignment (SEMANTIC_MULTI_ASSIGN=2, the r14
    default): each vector belongs to its two nearest sqrt(n)-stride
    cells; v is dropped iff some u < v shares ANY cell with v at
    cosine >= EMB_COS_THRES; the reported cent_id is the rank-1 cell;
    the globally lowest id is always kept."""
    import numpy as np

    import math

    from hgn_spark.catalog import load_table
    from hgn_spark.operators.dedup import (
        EMB_COS_THRES,
        SEMANTIC_MULTI_ASSIGN,
        dedup_semantic_clusters,
    )

    got = {
        r["vec_id"]: (r["cent_id"], r["kept"])
        for r in dedup_semantic_clusters(spark, SF_SMOKE).collect()
    }
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }
    # replay: top-m nearest sqrt(n)-stride seeds by 6dp-rounded cosine,
    # cent_id tie-break
    stride = math.ceil(math.sqrt(len(emb)))
    seeds = {v: e for v, e in emb.items() if v % stride == 0}
    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)
    cells: dict[int, list[int]] = {}  # vec_id -> its top-m cent_ids
    clusters: dict[int, list[int]] = {}  # cent_id -> member vec_ids
    for v, e in emb.items():
        ranked = sorted((-cos(e, se), cid) for cid, se in seeds.items())
        topm = [cid for _, cid in ranked[:SEMANTIC_MULTI_ASSIGN]]
        assert got[v][0] == topm[0], f"primary assignment diverges for {v}"
        cells[v] = topm
        for cid in topm:
            clusters.setdefault(cid, []).append(v)
    assert got[min(emb)][1], "globally lowest id must be kept"
    n_dropped = 0
    for v in emb:
        mates = {
            u for cid in cells[v] for u in clusters[cid] if u < v
        }
        want_drop = any(cos(emb[u], emb[v]) >= EMB_COS_THRES for u in mates)
        assert got[v][1] == (not want_drop), f"drop rule diverges for {v}"
        n_dropped += int(want_drop)
    assert len(got) == len(emb)


def test_scan_io_pushdown_and_branch_equality(spark):
    """The widened scan row (r9): the base 'parquet' branch must still
    push projection + predicates to the scan (4-column ReadSchema,
    both filters in PushedFilters), and every IO branch — CSV round
    trip, durable checkpoint, append+dedupe accumulator, temp-view
    SQL — must reproduce the identical row set (losslessness is the
    whole claim)."""
    rows = SPECS["scan_projection_pushdown"].fn(spark, SF_SMOKE).collect()
    by_io: dict[str, set] = {}
    for r in rows:
        by_io.setdefault(r["io"], set()).add(
            (r["l_orderkey"], r["l_linenumber"], r["price"])
        )
    assert set(by_io) == {
        "parquet", "csv_roundtrip", "checkpoint_reload", "append_dedupe",
        "sql_view", "jdbc_roundtrip", "config_driven", "csv_partitioned",
        "pandas_roundtrip",
    }
    base = by_io["parquet"]
    assert len(base) > 0
    for io, got in by_io.items():
        if io == "csv_partitioned":
            # the pruned branch emits exactly the l_linenumber=1 slice
            assert got == {t for t in base if t[1] == 1}
            assert 0 < len(got) < len(base)
            continue
        if io == "pandas_roundtrip":
            # the capped-hatch branch emits exactly the mod-29 subset
            # (under the cap, so the hatch's limit() is a no-op)
            assert got == {t for t in base if t[0] % 29 == 0}
            assert 0 < len(got) < len(base)
            continue
        assert got == base, f"branch {io} diverged from the parquet scan"

    from hgn_spark.catalog import load_table
    from pyspark.sql import functions as F

    plan = (
        load_table(spark, SF_SMOKE, "lineitem")
        .filter((F.col("l_shipdate") < "1997-01-01") & (F.col("l_quantity") > 45))
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]
    assert "l_quantity" in plan.split("PushedFilters")[1][:200]

    # The partitioned-CSV read must PRUNE to the one requested hive
    # partition — PartitionFilters on l_linenumber, not a full read
    # plus post-filter.
    import tempfile

    small = (
        load_table(spark, SF_SMOKE, "lineitem")
        .limit(200)
        .select("l_orderkey", F.round("l_extendedprice", 2).alias("price"),
                "l_linenumber")
    )
    d = tempfile.mkdtemp(prefix="hgn_part_prune_")
    small.write.mode("overwrite").partitionBy("l_linenumber").option(
        "header", True
    ).csv(d)
    pruned = (
        spark.read.schema("l_orderkey bigint, price double, l_linenumber bigint")
        .option("header", True)
        .csv(d)
        .filter(F.col("l_linenumber") == 1)
    )
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan
    seg = pplan.split("PartitionFilters")[1][:160]
    assert "l_linenumber" in seg


def test_vocab_top_pairs_plans_take_ordered(spark):
    """The global top-k cut must plan as TakeOrderedAndProject
    (per-partition heaps); a full sort or a single-partition window
    over the whole distinct-pair set is the 100 TB anti-shape."""
    from hgn_spark.operators.text import text_vocab_top_pairs

    plan = (
        text_vocab_top_pairs(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_srp_bucket_cap_bounds_candidates(spark):
    """bucket_cap skips mega-buckets before the pair join: capped
    output is a subset of the uncapped pairs, a huge cap changes
    nothing, and a cap of 1 kills every candidate (no bucket with 2+
    members survives, so no pairs can form)."""
    from hgn_spark.operators.dedup import dedup_embedding_neardup_pairs

    base = {
        (r["v1"], r["v2"])
        for r in dedup_embedding_neardup_pairs(spark, SF_SMOKE).collect()
    }
    huge = {
        (r["v1"], r["v2"])
        for r in dedup_embedding_neardup_pairs(
            spark, SF_SMOKE, bucket_cap=10**9
        ).collect()
    }
    assert huge == base
    one = dedup_embedding_neardup_pairs(spark, SF_SMOKE, bucket_cap=1).count()
    assert one == 0
    mid = {
        (r["v1"], r["v2"])
        for r in dedup_embedding_neardup_pairs(
            spark, SF_SMOKE, bucket_cap=5
        ).collect()
    }
    assert mid <= base


def test_chunk_documents_plans_zero_exchange(spark):
    """Chunking must stay entirely scan-side: tokenize + sequence/slice
    HOFs + one explode, NO Exchange — the property that makes it
    embarrassingly partition-parallel at 100 TB."""
    from hgn_spark.operators.text import chunk_documents

    plan = (
        chunk_documents(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_loose_checkpoints_released_on_clear(spark):
    """Result/intermediate frames with no owning cache (k-core's final
    labels, the argmax assignments, modularity's canonical edges) park
    their checkpoint block ids in the loose store, and
    clear_session_caches releases them — without this every bench pass
    leaks one orphan generation per such query (r7 review #2)."""
    from hgn_spark.checkpoint import _LOOSE_BLOCK_IDS, persistent_rdd_ids
    from hgn_spark.registry import clear_session_caches
    from hgn_spark.operators.dedup import dedup_semantic_clusters

    clear_session_caches()
    dedup_semantic_clusters(spark, SF_SMOKE).count()
    parked = set().union(*_LOOSE_BLOCK_IDS.values()) if _LOOSE_BLOCK_IDS else set()
    assert parked, "the materialized assignment must park its block ids"
    assert parked <= persistent_rdd_ids(spark)
    clear_session_caches()
    assert not any(_LOOSE_BLOCK_IDS.values())
    assert not (parked & persistent_rdd_ids(spark)), (
        "loose checkpoint blocks must be unpersisted by the clear"
    )


def test_stale_context_block_ids_dropped_without_release(spark):
    """Ids parked under a DIFFERENT applicationId are dropped, never
    unpersisted: a stopped-and-recreated SparkContext restarts RDD ids
    at 0, so releasing stale ids would kill live lineage-truncated
    blocks owned by unrelated code (ADVICE r7). Simulated by parking a
    LIVE block's id under a foreign app key and asserting the clear
    leaves the block persisted."""
    import time

    from hgn_spark import checkpoint as cp
    from hgn_spark.checkpoint import (
        CheckpointJanitor,
        persistent_rdd_ids,
        release_rdds,
    )
    from hgn_spark.registry import clear_session_caches

    clear_session_caches()
    # A live block no store owns: checkpointed by a janitor and taken
    # out of its hands, so only the finally below releases it.
    jan = CheckpointJanitor(spark)
    df = jan.checkpoint(spark.range(64).selectExpr("id"))
    ids = jan._detach(df)
    assert ids and ids <= persistent_rdd_ids(spark)
    cp._LOOSE_BLOCK_IDS["application_from_a_previous_context"] = set(ids)
    try:
        clear_session_caches()
        assert not cp._LOOSE_BLOCK_IDS  # entry dropped...
        # ...but the aliased live block must still be persisted (poll:
        # a wrongful unpersist(blocking=False) completes async).
        time.sleep(0.3)
        assert ids <= persistent_rdd_ids(spark), (
            "stale-context ids must not be released against the "
            "current context"
        )
        assert df.count() == 64
    finally:
        release_rdds(spark, ids)


def test_ivf_adaptive_and_lsh_adaptive_branches(spark):
    """The r10 scale-mitigation branches (100x-probe findings):

    - `ivf_adaptive` must genuinely re-derive centroids (sqrt-n
      stride != the pinned stride at this sf, and the top-k set
      diverges from `seed`). Its recall floor is intentionally modest:
      the pinned-stride variant's 0.96 here is partly an artifact —
      every query (vec_id % 50) is itself a centroid (% 25), so its
      own inverted list is its neighborhood; the sqrt-n stride (23 at
      n=500) removes that coincidence and leaves honest isotropic-
      corpus IVF recall (~0.38 at 3/22 lists probed).
    - `lsh_adaptive` narrows to 3 bits at n=500 (occupancy-targeted),
      diverging from the 5-bit `lsh` branch; wider buckets probe MORE
      of the corpus, so its recall must be >= the fixed branch's.
    """
    from hgn_spark.operators.similarity import (
        CENTROID_STRIDE,
        LSH_BITS,
        ivf_adaptive_stride,
        load_embeddings,
        lsh_adaptive_bits,
    )

    n = load_embeddings(spark, SF_SMOKE).count()
    assert ivf_adaptive_stride(n) != CENTROID_STRIDE
    assert lsh_adaptive_bits(n) < LSH_BITS

    rows = SPECS["simsearch_topk_cosine"].fn(spark, SF_SMOKE).collect()
    by: dict[str, set] = {}
    for r in rows:
        by.setdefault(r["variant"], set()).add((r["q_id"], r["vec_id"]))
    bf = by["exact"]
    assert by["ivf_adaptive"] != by["seed"]
    assert by["lsh_adaptive"] != by["lsh"]
    assert len(bf & by["ivf_adaptive"]) / len(bf) >= 0.2
    assert (
        len(bf & by["lsh_adaptive"]) / len(bf)
        >= len(bf & by["lsh"]) / len(bf)
    )
    # every branch returns a full top-k ranking per query
    for v, got in by.items():
        assert len(got) == len(bf), v


def test_ivf_calibrated_nprobe_meets_target(spark):
    """r13 (VERDICT r12 #1): the production IVF branches size nprobe
    from the measured recall curve of the built index. On the
    isotropic smoke corpus the dial must come back LARGE (the honest
    'IVF buys little here' answer — the r12 sweep measured fixed
    nprobe=3 at ~0.38 recall on this index), and the branch recall
    against the exact baseline must then actually meet the target
    minus sampling slack."""
    from hgn_spark.operators.similarity import (
        CAL_TARGET_PCT,
        NPROBE,
        _ivf_seed_frames_adaptive,
        ivf_adaptive_stride,
        ivf_calibrate_nprobe,
        load_embeddings,
    )

    n = load_embeddings(spark, SF_SMOKE).count()
    emb, cents, assign = _ivf_seed_frames_adaptive(spark, SF_SMOKE, n=n)
    np_c = ivf_calibrate_nprobe(emb, cents, assign, n)
    nlist = cents.count()
    assert 1 <= np_c <= nlist
    # non-vacuous: the isotropic corpus needs far more than the old
    # pinned literal (observed 15 of 22 lists at n=500)
    assert np_c > NPROBE

    rows = SPECS["simsearch_topk_cosine"].fn(spark, SF_SMOKE).collect()
    by: dict[str, set] = {}
    for r in rows:
        by.setdefault(r["variant"], set()).add((r["q_id"], r["vec_id"]))
    bf = by["exact"]
    # target is 90%; allow sampling slack (64-query calibration set vs
    # the 10 standing queries measured here)
    assert len(bf & by["ivf_adaptive"]) / len(bf) >= CAL_TARGET_PCT / 100 - 0.15
    assert len(bf & by["ivf_linear"]) / len(bf) >= CAL_TARGET_PCT / 100 - 0.15


def test_ivf_calibrated_production_helper(spark):
    """simsearch_ivf_calibrated_topk — the deployment callable (avg
    Lloyd + calibrated nprobe) — returns a full top-k per standing
    query and records its operating point."""
    from hgn_spark.operators.similarity import (
        TOP_K,
        simsearch_ivf_calibrated_topk,
    )

    info: dict = {}
    got = simsearch_ivf_calibrated_topk(spark, SF_SMOKE, info=info).collect()
    qs = {r["q_id"] for r in got}
    assert len(got) == TOP_K * len(qs)
    assert info["nprobe"] >= 1 and info["n"] > 0


def test_lsh_adaptive_bits_integer_exact():
    """The occupancy-targeted width must equal ceil(log2(n/target))
    wherever libm agrees with exact math, INCLUDING exact power-of-two
    boundaries (the formula is pure integer bit_length, so there is no
    last-ulp hazard by construction)."""
    import math

    from hgn_spark.operators.similarity import (
        LSH_MAX_BITS,
        LSH_TARGET_BUCKET,
        lsh_adaptive_bits,
    )

    for n in list(range(65, 5000, 7)) + [2**k for k in range(7, 22)] + [
        64 * 2**k for k in range(1, 14)
    ]:
        want = max(
            1, min(LSH_MAX_BITS, math.ceil(math.log2(n / LSH_TARGET_BUCKET)))
        )
        assert lsh_adaptive_bits(n) == want, n
    # clamps
    assert lsh_adaptive_bits(1) == 1
    assert lsh_adaptive_bits(10**9) == LSH_MAX_BITS


def test_simhash_bucket_cap_subset_and_nonvacuous(spark):
    """The chunk-bucket cap gates candidate generation only: every
    capped pair appears in the uncapped result with the SAME hamming
    (verify is unchanged), and at the pinned SIMHASH_CAP the capped
    set is strictly smaller but non-empty at this sf — the branch
    demonstrably drops mega-bucket candidates rather than vacuously
    reproducing the uncapped result."""
    from hgn_spark.operators.dedup import SIMHASH_CAP, dedup_simhash_pairs

    full = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in dedup_simhash_pairs(spark, SF_SMOKE).collect()
    }
    capped = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in dedup_simhash_pairs(
            spark, SF_SMOKE, bucket_cap=SIMHASH_CAP
        ).collect()
    }
    assert set(capped) < set(full)
    assert len(capped) > 0
    for k, h in capped.items():
        assert full[k] == h


def test_simhash_combo_scheme_identical_to_chunk(spark):
    """The Manku combination bucketing (scheme='combo', r11 production
    path) must return EXACTLY the chunk scheme's verified pairs: both
    candidate sets are supersets of every hamming <= 3 pair by
    pigeonhole (>= 1 clean 12-bit chunk of 4, resp. >= 1 clean 3-of-6
    8-bit-chunk combination), and the bit_count(xor) verify is shared —
    so the keying is a physical choice, never a semantic one. This is
    the theorem the driver hash re-proves per sf via the shared
    oracle; here it is pinned directly, pair for pair, hamming for
    hamming."""
    from hgn_spark.operators.dedup import dedup_simhash_pairs

    chunk = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in dedup_simhash_pairs(spark, SF_SMOKE).collect()
    }
    combo = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in dedup_simhash_pairs(spark, SF_SMOKE, scheme="combo").collect()
    }
    assert combo == chunk
    assert len(combo) > 0


def test_lsh_topk_fused_multi_matches_standalone(spark):
    """The registered row's fused multi-width LSH pass must reproduce
    the standalone per-width pipelines exactly — a physical
    optimization (shared projections / probe join / re-rank), never a
    semantic change (the `_srp_pairs_multi` contract, ANN edition)."""
    from hgn_spark.operators.similarity import (
        _lsh_topk_multi,
        simsearch_lsh_topk,
    )

    fused = _lsh_topk_multi(spark, SF_SMOKE, [("a", 5), ("b", 3)]).collect()
    for label, bits in (("a", 5), ("b", 3)):
        got = sorted(
            (r["q_id"], r["vec_id"], r["score"], r["rank"])
            for r in fused
            if r["label"] == label
        )
        want = sorted(
            tuple(r)
            for r in simsearch_lsh_topk(spark, SF_SMOKE, n_bits=bits).collect()
        )
        assert got == want, label
        assert len(got) > 0


def test_jaccard_dispatch_rule_benign_corpus(spark):
    """VERDICT r11 what's-wrong #2: on a benign df distribution the
    cap is a provable no-op, so the auto entry point must take the
    exact path (which is also the faster one — the capped twin costs
    +70% at 30x, PROBE_recall_r11). sf0.001's max shingle df is 9,
    under PRODUCTION_CAP_DF=16; cache identity proves the exact path
    ran (the capped path builds a fresh frame)."""
    from pyspark.sql import functions as F

    from hgn_spark.operators.dedup import (
        PRODUCTION_CAP_DF,
        _hashed_shingle_index,
        choose_jaccard_path,
        dedup_ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
    )

    max_df = (
        _hashed_shingle_index(spark, SF_SMOKE)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df"))
        .first()[0]
    )
    assert 0 < max_df <= PRODUCTION_CAP_DF
    assert choose_jaccard_path(max_df) == "exact"
    auto = ngram_jaccard_pairs_auto(spark, SF_SMOKE)
    assert auto is dedup_ngram_jaccard_pairs(spark, SF_SMOKE)


def test_jaccard_dispatch_rule_adversarial_corpus(spark, tmp_path):
    """The other corpus shape: every shared shingle hotter than the
    cap (20 identical boilerplate docs) — the dispatch must choose the
    capped path, whose bounded candidate generation drops the
    mega-bucket entirely (0 pairs) while the exact twin would verify
    all C(20,2)=190. That divergence is what proves the dispatch
    actually switched paths, not just that both happen to agree."""
    from pyspark.sql import functions as F

    from hgn_spark.operators.dedup import (
        PRODUCTION_CAP_DF,
        _hashed_shingle_index,
        choose_jaccard_path,
        dedup_ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler, "en", "web", len(boiler)) for i in range(20)] + [
        (100 + i, f"unique document number {i} with dist{i} words w{i}a w{i}b",
         "en", "web", 40)
        for i in range(10)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path / "adversarial")
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    max_df = (
        _hashed_shingle_index(spark, sf_dir)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df"))
        .first()[0]
    )
    assert max_df == 20 > PRODUCTION_CAP_DF
    assert choose_jaccard_path(max_df) == "capped"
    assert ngram_jaccard_pairs_auto(spark, sf_dir).count() == 0
    assert dedup_ngram_jaccard_pairs(spark, sf_dir).count() == 190


def test_srp_recall_bands_sizing_and_parity(spark):
    """The recall-targeted SRP sizing (VERDICT r11 #1): width tracks
    ceil(log2 n) (per-band occupancy constant), band count solves the
    amplification equation for the target, and the wrapper reproduces
    the directly-parameterized pipeline exactly."""
    import math

    from hgn_spark.operators.dedup import (
        dedup_embedding_neardup_pairs,
        dedup_embedding_neardup_pairs_recall,
        srp_recall_bands,
    )

    for n in (500, 2030, 60900):
        n_bits, n_bands = srp_recall_bands(n)
        w = n_bits // n_bands
        assert w == max(2, (n - 1).bit_length())
        p = 1.0 - math.acos(0.9) / math.pi
        # the chosen band count actually meets the design recall
        assert 1.0 - (1.0 - p**w) ** n_bands >= 0.95
        # and one band fewer would not (b is minimal, not padded)
        assert 1.0 - (1.0 - p**w) ** (n_bands - 1) < 0.95
    got = sorted(
        tuple(r)
        for r in dedup_embedding_neardup_pairs_recall(spark, SF_SMOKE).collect()
    )
    n_bits, n_bands = srp_recall_bands(500)
    want = sorted(
        tuple(r)
        for r in dedup_embedding_neardup_pairs(
            spark, SF_SMOKE, n_bits=n_bits, n_bands=n_bands
        ).collect()
    )
    assert got == want


def test_minhash_recall_sized_superset_of_pinned(spark, exact_pairs):
    """The recall-sized sketch (24 perms / 6 bands) extends the SAME
    md5 permutation sequence, so its first 4 bands are the pinned
    sketch's 4 bands verbatim — its verified pairs are a SUPERSET of
    the pinned branch's and still a subset of exact-jaccard truth
    (more bands only ever add candidates; the verify is exact)."""
    from hgn_spark.operators.dedup import minhash_lsh_pairs, minhash_recall_perms

    pinned = {
        (r["d1"], r["d2"])
        for r in minhash_lsh_pairs(spark, SF_SMOKE).collect()
    }
    num_perm, bands = minhash_recall_perms()
    sized = {
        (r["d1"], r["d2"])
        for r in minhash_lsh_pairs(
            spark, SF_SMOKE, num_perm=num_perm, bands=bands
        ).collect()
    }
    assert pinned <= sized <= exact_pairs
    assert len(sized) / len(exact_pairs) >= 0.9


def test_sorted_run_stats_matches_counter(spark):
    """The scan-side run-length fold that replaced the repetition
    block's explode + groupBy (r14) must agree with a Counter-based
    reference on (top, dup, nd) for every array shape the operator
    feeds it: all-equal, all-distinct, mixed multiplicities, and the
    2-element minimum the n >= 2 guard admits."""
    from collections import Counter

    from pyspark.sql import functions as F

    from hgn_spark.operators.text import _sorted_run_stats

    cases = [
        ["a", "a", "a", "a"],
        ["a", "b", "c", "d"],
        ["b", "a", "b", "c", "b", "a"],
        ["x", "y"],
        ["y", "y"],
        ["tok"] * 1 + ["other"] * 7 + ["third"] * 2,
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i int, l array<string>")
    got = {
        r["i"]: (r["s"]["top"], r["s"]["dup"], r["s"]["nd"])
        for r in df.select("i", _sorted_run_stats(F.col("l")).alias("s")).collect()
    }
    for i, c in enumerate(cases):
        cnt = Counter(c)
        top = max(cnt.values())
        dup = sum(v for v in cnt.values() if v > 1)
        nd = len(cnt)
        assert got[i] == (top, dup, nd), (i, c, got[i], (top, dup, nd))


def test_minhash_nested_matches_standalone_arms(spark):
    """r15 (VERDICT r14 #3): the nested one-pipeline form must emit
    exactly the standalone pinned sketch's pairs under in_inner=true
    and exactly the standalone recall-sized sketch's pairs overall,
    with identical jaccard scores."""
    from hgn_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_nested,
        minhash_recall_perms,
    )

    nested = {
        (r["d1"], r["d2"]): (r["jaccard"], r["in_inner"])
        for r in minhash_lsh_pairs_nested(spark, SF_SMOKE).collect()
    }
    pinned = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in minhash_lsh_pairs(spark, SF_SMOKE).collect()
    }
    np_, nb = minhash_recall_perms()
    recall = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            spark, SF_SMOKE, num_perm=np_, bands=nb
        ).collect()
    }
    assert {k: v for k, (v, _) in nested.items()} == recall
    assert {k: v for k, (v, f) in nested.items() if f} == pinned


def test_minhash_nested_rejects_non_prefix_sizing(spark):
    import pytest as _pytest

    from hgn_spark.operators.dedup import minhash_lsh_pairs_nested

    with _pytest.raises(ValueError, match="band-prefix"):
        minhash_lsh_pairs_nested(spark, SF_SMOKE, inner=(16, 4), outer=(24, 8))
