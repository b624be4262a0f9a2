"""Semantic tests for the training-data pipeline operators: do the dedup
operators actually FIND the planted duplicates, does LSH agree with brute
force inside buckets, does the multimodal plumbing round-trip bytes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pg2parquet_spark.operators import dedup, multimodal, similarity
from pg2parquet_spark.tables import table
from tests.conftest import SF_RECALL


def test_exact_dedup_finds_planted_copies(spark, sf_dir):
    out = dedup.dedup_exact(spark, sf_dir).collect()
    # every doc_id % 5 == 0 got a case/whitespace-mutated copy → 100 groups of 2
    assert len(out) == 100
    assert all(r.n_copies == 2 for r in out)
    assert all(r.representative < 1000000 for r in out)  # original wins as rep


def test_jaccard_finds_planted_near_dups(spark, sf_dir):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in
             dedup.dedup_ngram_jaccard(spark, sf_dir).collect()}
    # originals only (docs % 35 == 0 also produce copy↔copy triangle pairs)
    exact = [(a, b) for (a, b) in pairs if a < 1000000 and b == a + 1000000]
    near = [(a, b) for (a, b) in pairs if a < 1000000 and b == a + 2000000]
    assert len(exact) == 100 and all(pairs[p] == 1.0 for p in exact)
    assert len(near) == 72  # doc_id % 7 == 0 → 72 docs in 0..499
    assert all(0.6 <= pairs[p] < 1.0 for p in near)


def test_minhash_lsh_finds_exact_copies(spark, sf_dir):
    rows = dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    cand = {(r.doc_a, r.doc_b): r.est_jaccard for r in rows}
    # identical shingle sets → identical signatures → all 4 bands collide
    exact = [(a, b) for (a, b) in cand if a < 1000000 and b == a + 1000000]
    assert len(exact) == 100
    assert all(cand[p] == 1.0 for p in exact)
    # any candidate collided on ≥1 band ⇒ ≥2 of 8 hashes match
    assert all(v >= 0.25 for v in cand.values())


def test_simhash_copies_share_signature(spark, sf_dir):
    sigs = {r.doc_id: r.sig_value for r in dedup.dedup_simhash(spark, sf_dir).collect()}
    for doc in range(0, 500, 5):
        assert sigs[doc] == sigs[doc + 1000000]  # same normalized tokens
    # near-dup signatures are close in hamming distance
    import random

    def hamming(a, b):
        return bin(a ^ b).count("1")

    dists = [hamming(sigs[d], sigs[d + 2000000]) for d in range(0, 500, 7)]
    assert sum(dists) / len(dists) <= 8  # 5 appended tokens barely move 32 bits


def test_lsh_topk_subset_of_brute_force_bucketmates(spark, sf_dir):
    """Within a bucket, LSH ranking must equal brute-force ranking filtered
    to that bucket (determinism + correctness of the re-rank)."""
    brute = {
        (r.q_id, r.c_id): r.cos_sim
        for r in similarity.ann_cosine_topk(spark, sf_dir).collect()
    }
    lsh = similarity.ann_lsh_bucketed(spark, sf_dir).collect()
    assert len(lsh) > 0
    emb = table(spark, sf_dir, "embeddings")
    buckets = {
        r.vec_id: r.bucket
        for r in emb.select(
            "vec_id",
            F.expr(similarity.bucket_sql("embedding", similarity.EMB_DIM, True)).alias("bucket"),
        ).collect()
    }
    for r in lsh:
        assert buckets[r.q_id] == buckets[r.c_id] == r.bucket
        # if the pair also appears in the brute-force top-5, the cosine must agree bit-exactly
        if (r.q_id, r.c_id) in brute:
            assert brute[(r.q_id, r.c_id)] == r.cos_sim


def test_multimodal_roundtrip_and_stubs(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    with_img = multimodal.attach_fake_image(docs)
    meta = {r.doc_id: r for r in multimodal.decode_image_meta(with_img).collect()}
    src = {r.doc_id: r for r in docs.collect()}
    for doc_id, r in list(meta.items())[:20]:
        assert r.width == 64 + src[doc_id].n_chars % 512
        assert r.height == 64 + (src[doc_id].n_chars * 7) % 512
        assert r.n_bytes >= 8
    feats = multimodal.extract_fake_features(with_img).limit(5).collect()
    assert all(len(r.features) == 8 for r in feats)
    assert all(0 <= v < 1 for r in feats for v in r.features)
    # the real-codec path: standards-conformant PNG bytes in, decoded
    # PIXELS verified (vendored codec — no PIL in this container)
    decoded = {
        r.doc_id: r
        for r in multimodal.decode_real_image(
            multimodal.attach_real_png(docs.limit(20))
        ).collect()
    }
    for doc_id, r in decoded.items():
        w, h = 2 + doc_id % 6, 2 + (doc_id * 3) % 5
        assert (r.width, r.height, r.channels) == (w, h, 3)
        assert r.n_pixel_bytes == w * h * 3
        assert r.pixel_sum == sum((doc_id * 31 + i) % 256 for i in range(w * h * 3))


def test_dedup_leaves_no_persistent_rdds(spark, sf_dir):
    """Persist hygiene: the Jaccard and MinHash queries must not leave cached
    partitions behind — a long-lived session running many dedup jobs would
    otherwise accumulate executor storage until LRU eviction. (The shared
    shingle/signature subtrees are deduplicated by ReusedExchange inside one
    plan, not by session-lifetime caches.)"""
    before = dedup._persistent_rdd_ids(spark.sparkContext)
    dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    leaked = dedup._persistent_rdd_ids(spark.sparkContext) - before
    assert leaked == set(), f"dedup queries leaked cached RDDs: {leaked}"


def test_cluster_components_long_chain(spark):
    """Adversarial diameter: a 64-node path graph converges WITHIN the round
    bound only because of pointer doubling (plain min-label propagation moves
    one hop per round and would need 63). 12 rounds > log2(63)+slack."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    labels = dedup.connected_components(edges, max_rounds=12).collect()
    assert len(labels) == 64
    assert all(r.comp == 0 for r in labels)  # one component, min-id label

    # and two disjoint chains stay separate components
    edges2 = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(100 + i, 101 + i) for i in range(30)],
        "doc_a long, doc_b long",
    )
    labels2 = {r.id: r.comp for r in dedup.connected_components(edges2, max_rounds=12).collect()}
    assert all(labels2[i] == 0 for i in range(31))
    assert all(labels2[100 + i] == 100 for i in range(31))


def test_cluster_components_strict_raises_without_doubling_budget(spark):
    """strict=True must refuse to return unconverged labels (max_rounds=1
    cannot finish a 64-node chain)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup.connected_components(edges, max_rounds=1)


def test_embedding_lsh_recall(spark, sf_dir):
    """The LSH variant's recall vs the exact all-pairs contract is MEASURED,
    not asserted in a comment: with 4 tables x 4 planes and Hamming-1
    multi-probe the fixture corpus shows ~0.9 recall at the 0.4 decision
    boundary and ZERO false positives (candidates are re-scored exactly).
    A plane/table/probe change that tanks recall fails here."""
    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_exact(spark, sf_dir).collect()
    }
    got = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_lsh(spark, sf_dir).collect()
    }
    assert set(got) <= set(exact)  # exact re-score → no false positives
    assert all(exact[p] == got[p] for p in got)  # bit-identical scores
    recall = len(got) / len(exact)
    # measured 0.86-0.88 on the fixture corpus (r4); the floor leaves head
    # room for plane-hash jitter but fails on any real recall regression
    assert recall >= 0.80, f"LSH recall collapsed: measured {recall:.3f} < 0.80 floor"


@pytest.mark.slowtier
def test_recall_tier_dominates_primary_and_stays_exact(spark, sf_dir):
    """dedup_embedding_cosine_lsh_recall (r9): the OR-construction tier must
    (a) emit a SUPERSET of the primary's survivor pairs — structural claim:
    tables 0-3 share the primary's offsets, the full-ball mask list extends
    the 48-mask prefix, cap 256 ⊇ cap 64, gate off ⊇ gated — and (b) stay
    inside the exact arm's pair set with bit-identical scores (same Arrow
    re-score tail). Recall therefore dominates the primary's by
    construction; assert all three containments on the fixture corpus."""
    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_exact(spark, sf_dir).collect()
    }
    primary = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_lsh(spark, sf_dir).collect()
    }
    tier = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_lsh_recall(spark, sf_dir).collect()
    }
    assert set(primary) <= set(tier), "recall tier lost primary pairs"
    assert set(tier) <= set(exact), "recall tier emitted a false positive"
    assert all(exact[p] == tier[p] for p in tier)  # bit-identical scores


@pytest.mark.skipif(
    not os.path.isdir(SF_RECALL),
    reason="sf0.1 corpus absent (r8 ADVICE: fail as a skip, not an error)",
)
@pytest.mark.slowtier
def test_recall_tier_superset_at_sf01(spark):
    """Same superset claim at sf0.1, where bits=6 makes the candidacy cap
    and the full H<=2 ball ACTIVE (the fixture corpus runs the inert 4-bit
    band) — the containment must survive the capped/gated code paths."""
    primary = {
        (r.a_id, r.b_id)
        for r in dedup.dedup_embedding_cosine_lsh(spark, SF_RECALL).collect()
    }
    tier = {
        (r.a_id, r.b_id)
        for r in dedup.dedup_embedding_cosine_lsh_recall(spark, SF_RECALL).collect()
    }
    assert primary <= tier, f"lost {len(primary - tier)} primary pairs at sf0.1"
    # at 6 bits the tier's extra tables+masks must actually ADD pairs on a
    # corpus this size unless the primary is already at full recall
    assert len(tier) >= len(primary)


@pytest.mark.skipif(
    not os.path.isdir(SF_RECALL),
    reason="sf0.1 corpus absent (r8 ADVICE: fail as a skip, not an error)",
)
@pytest.mark.slowtier
def test_ann_recall_floors_at_sf01(spark):
    """r7 verdict task #4: ann_recall_eval REPORTS recall@3 per method but
    nothing failed when an index change tanked recall. Assert measured
    floors at sf0.1 (committed r7/r8 values − tolerance) plus the ordering
    the extra hash table is supposed to buy:

      measured at sf0.1: ivf_probe 0.4333, lsh_multitable 0.3167,
      lsh_bucketed 0.175 (micro recall = Σhits/Σexact over 40 queries).

    A deliberate nerf fails this by construction: degrading the multi-table
    union to one table IS the lsh_bucketed row (0.175 < the 0.28 multitable
    floor), and any plane-family/probe edit that drops a method below its
    committed value − tolerance trips its floor. Floors use micro recall
    (exact integer sums, one final division) so the gate is stable against
    per-query jitter."""
    rows = (
        similarity.ann_recall_eval(spark, SF_RECALL)
        .groupBy("method")
        .agg(
            F.sum("n_hits").alias("h"),
            F.sum("n_exact").alias("e"),
        )
        .collect()
    )
    micro = {r.method: r.h / r.e for r in rows}
    floors = {"ivf_probe": 0.40, "lsh_multitable": 0.28, "lsh_bucketed": 0.15}
    for method, floor in floors.items():
        assert micro[method] >= floor, (
            f"{method} recall@3 collapsed: {micro[method]:.3f} < {floor} floor"
        )
    # each extra hash table must BUY recall, not just cost a join
    assert micro["lsh_multitable"] > micro["lsh_bucketed"], micro


def test_embedding_lsh_adaptive_equals_fixed_below_first_threshold(spark, sf_dir):
    """At n ≤ 750 the primary (adaptive) variant's masked 14-bit keys reduce
    to the fixed variant's 4-bit keys and the probe set is the same
    Hamming-1 ball, so the two must be candidate-for-candidate identical:
    equal pair sets, bit-identical scores."""
    base = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_lsh_fixed(spark, sf_dir).collect()
    }
    adap = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_lsh(spark, sf_dir).collect()
    }
    assert adap == base


def test_adaptive_probe_mask_policy():
    """Width → probe policy: Hamming-1 ball at 4-5 bits (the fixed-variant
    equivalence contract), then own bucket + 1-flips + lexicographic 2-flips
    truncated to the fixed _ADAPT_PROBE_BUDGET. Every mask below 2^bits, no
    duplicates, 1-flips always all present (they carry the most recall per
    probe) — a policy edit that silently drops probes fails here."""
    from math import comb

    budget = dedup._ADAPT_PROBE_BUDGET
    for b in range(4, dedup._ADAPT_MAX_BITS + 1):
        ms = dedup._adapt_probe_masks(b)
        full = 1 + comb(b, 1) + (comb(b, 2) if b >= 6 else 0)
        assert len(ms) == len(set(ms)) == min(full, budget)
        assert all(0 <= m < (1 << b) for m in ms)
        # own bucket first, then every single-bit flip, never truncated away
        assert ms[0] == 0 and set(ms[1 : b + 1]) == {1 << j for j in range(b)}


def test_adaptive_coupling_check_fails_loudly():
    """Widening the threshold chain without moving _ADAPT_MAX_BITS (or vice
    versa) must raise at import-time check, not silently emit a bits value
    the masks CASE has no arm for (r6 ADVICE: the ELSE-less CASE would have
    NULLed the probe masks and zeroed recall in both engines — the ELSE now
    raises, and this check catches the drift even earlier)."""
    import pytest

    orig = dedup._ADAPT_BITS_THRESHOLDS
    try:
        dedup._ADAPT_BITS_THRESHOLDS = orig + (max(orig) * 2,)
        with pytest.raises(AssertionError, match="coupling broken"):
            dedup._check_adapt_coupling()
        dedup._ADAPT_BITS_THRESHOLDS = orig[:-1] + (orig[0],)
        with pytest.raises(AssertionError, match="strictly increasing"):
            dedup._check_adapt_coupling()
    finally:
        dedup._ADAPT_BITS_THRESHOLDS = orig
    dedup._check_adapt_coupling()  # restored constants are coherent


def test_adaptive_bits_chain_is_engine_portable(spark):
    """The bit-width CASE chain must evaluate identically in DuckDB and Spark
    at every threshold boundary — the exact reason it is an integer CASE, not
    a log2 whose half-ulp could flip a CEIL."""
    import duckdb

    expr = dedup._adapt_bits_case("n")
    probes = sorted(
        {1, 10**9}
        | {t for t in dedup._ADAPT_BITS_THRESHOLDS}
        | {t + 1 for t in dedup._ADAPT_BITS_THRESHOLDS}
    )
    ref = {n: 4 + sum(n > t for t in dedup._ADAPT_BITS_THRESHOLDS) for n in probes}
    con = duckdb.connect()
    for n in probes:
        got = con.execute(
            f"SELECT {expr} FROM (SELECT CAST({n} AS BIGINT) AS n)"
        ).fetchone()[0]
        assert got == ref[n], f"duckdb bits({n}) = {got} != {ref[n]}"
    df = spark.createDataFrame([(n,) for n in probes], "n long").select(
        "n", F.expr(expr).alias("b")
    )
    assert {r.n: r.b for r in df.collect()} == ref


def test_ivf_pairs_are_exact_subset_with_floor(spark, sf_dir):
    """dedup_embedding_ivf (the data-adaptive third tier): output must be a
    subset of the exact arm with bit-identical scores (shared Arrow re-score
    tail → no false positives possible), and fixture recall must hold a
    floor. The fixture corpus is ISOTROPIC — no cluster structure for the
    centroids to adapt to — so this floor is the tier's worst case, not its
    pitch (measured 0.576 at sf0.001, 0.525 at sf0.01; the clustered-corpus
    story lives in the scaleprobe rows)."""
    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_exact(spark, sf_dir).collect()
    }
    got = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_ivf(spark, sf_dir).collect()
    }
    assert set(got) <= set(exact)
    assert all(exact[p] == got[p] for p in got)
    recall = len(got) / len(exact)
    assert recall >= 0.45, f"IVF fixture recall collapsed: {recall:.3f} < 0.45"


def test_ivf_assignment_invariants(spark, sf_dir):
    """Every vector is assigned to exactly nprobe distinct cells (k ≥ nprobe
    on any fixture-size corpus), and the cell audit's totals are consistent
    with the raw assignment: sum of cell sizes = nprobe·N, max_cell matches,
    cap inert on the isotropic fixture (no oversized cells, nothing
    dropped)."""
    n = table(spark, sf_dir, "embeddings").count()
    asg, _ = dedup._ivf_kernel(spark, sf_dir, dedup._IVF_NPROBE)
    per_vec = asg.groupBy("vec_id").count().collect()
    assert all(r["count"] == dedup._IVF_NPROBE for r in per_vec)
    assert len(per_vec) == n
    distinct_cells = asg.select("vec_id", "cid").distinct().count()
    assert distinct_cells == dedup._IVF_NPROBE * n  # cells per vector distinct
    audit = dedup.dedup_embedding_ivf_cell_audit(spark, sf_dir).collect()[0]
    sizes = asg.groupBy("cid").count().collect()
    assert audit.n_cells == len(sizes)
    assert audit.max_cell == max(r["count"] for r in sizes)
    assert audit.n_oversized == 0 and audit.n_dropped_members == 0
    assert audit.k == 8 * (
        1 << sum(n > t for t in dedup._IVF_K_THRESHOLDS)
    )


def test_ivf_probe4_dominates_primary_arm_and_stays_exact(spark, sf_dir):
    """The nprobe=4 recall arm must (a) contain the nprobe=2 arm's survivor
    pairs on the fixture corpus — top-2 cells ⊆ top-4 cells and both caps
    are inert here (cells ≤ ~90 vs caps 192/384), so candidate containment
    is structural — and (b) stay inside the exact arm with bit-identical
    scores (shared re-score tail)."""
    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_exact(spark, sf_dir).collect()
    }
    p2 = {
        (r.a_id, r.b_id)
        for r in dedup.dedup_embedding_ivf(spark, sf_dir).collect()
    }
    p4 = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_ivf_probe4(spark, sf_dir).collect()
    }
    assert p2 <= set(p4)
    assert set(p4) <= set(exact)
    assert all(exact[p] == p4[p] for p in p4)


def test_ivf_arrow_assignment_matches_declarative(spark, sf_dir):
    """The Arrow assignment kernel (dimension-ordered numpy accumulation +
    argmax-and-mask top-nprobe) must produce EXACTLY the declarative
    crossJoin+WindowGroupLimit assignment, row for row — same dots (the
    fold order is preserved, never a BLAS matmul) and same tie-break
    (argmax takes the first maximal column, i.e. the lowest cid, like
    ORDER BY cd DESC, cid). This is the contract that lets the registered
    query run the kernel while the DuckDB oracle runs the SQL window."""
    arrow, _ = dedup._ivf_kernel(spark, sf_dir, dedup._IVF_NPROBE)
    decl = dedup._ivf_assignments(spark, sf_dir)
    a = {(r.vec_id, r.cid) for r in arrow.collect()}
    d = {(r.vec_id, r.cid) for r in decl.collect()}
    assert a == d


def test_ivf_mt4_pairs_exact_subset_and_dominates_probe4(spark, sf_dir):
    """The multi-table asymmetric arm (r10 recall-floor arm): (a) subset of
    the exact arm with bit-identical scores (shared Arrow re-score tail —
    no false positives possible); (b) its fixture recall must dominate the
    symmetric probe4 arm it was built to supersede (asym catch and
    symmetric catch are different set properties, so this is an empirical
    canary, not a structural containment), and hold an absolute floor on
    the isotropic fixture — the arm's worst case, like the other tiers'
    floors."""
    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_exact(spark, sf_dir).collect()
    }
    mt4 = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_ivf_mt4(spark, sf_dir).collect()
    }
    assert set(mt4) <= set(exact)
    assert all(exact[p] == mt4[p] for p in mt4)
    p4 = {
        (r.a_id, r.b_id)
        for r in dedup.dedup_embedding_ivf_probe4(spark, sf_dir).collect()
    }
    recall = len(mt4) / len(exact)
    recall_p4 = len(p4) / len(exact)
    assert recall >= recall_p4, (
        f"mt4 fixture recall {recall:.3f} below symmetric probe4 "
        f"{recall_p4:.3f} — the recall-floor arm regressed below the arm "
        "it was built to supersede"
    )
    assert recall >= 0.5, f"mt4 fixture recall collapsed: {recall:.3f}"


def test_ivf_ranked_assignment_matches_declarative(spark, sf_dir):
    """Ranked twin of test_ivf_arrow_assignment_matches_declarative at
    the mt4 arm's dials (nprobe=8, a non-default centroid pool): the
    kernel's argmax-pass index must equal the window's ROW_NUMBER rank,
    row for row — the contract that lets the registered mt4 query run the
    kernel while the DuckDB oracle ranks with the SQL window."""
    arrow, _ = dedup._ivf_kernel(spark, sf_dir, 8, seed_rems=(1,))
    decl = dedup._ivf_assignments(spark, sf_dir, nprobe=8, seed_rem=1)
    a = {(r.vec_id, r.cid, r.pr) for r in arrow.collect()}
    d = {(r.vec_id, r.cid, r.pr) for r in decl.collect()}
    assert a == d


def test_ivf_multi_assignment_matches_singles(spark, sf_dir):
    """The kernel's fused one-corpus-scan pass over several centroid
    tables must produce, for each table, EXACTLY its single-table ranked
    assignment (which is itself pinned to the declarative window and the
    SQL oracle) — the contract that lets mt4 scan the corpus once for all
    4 tables."""
    multi, _ = dedup._ivf_kernel(
        spark, sf_dir, dedup._IVFMT_NPROBE, dedup._IVFMT_REMS
    )
    got = {(r.tbl, r.vec_id, r.cid, r.pr) for r in multi.collect()}
    want = set()
    for rem in dedup._IVFMT_REMS:
        single, _ = dedup._ivf_kernel(
            spark, sf_dir, dedup._IVFMT_NPROBE, seed_rems=(rem,)
        )
        want |= {(rem, r.vec_id, r.cid, r.pr) for r in single.collect()}
    assert got == want


def test_ivf_kernel_empty_centroid_sample_degrades_empty(spark, tmp_path):
    """r9 ADVICE: a corpus with NO vec_id ≡ SEED_REM (mod SEED_MOD) yields
    an empty centroid sample (kk=0); the Arrow kernel must degrade to an
    empty assignment exactly like the declarative path and the SQL oracle
    — not crash in np.concatenate on an empty list."""
    d = str(tmp_path / "noseed")
    os.makedirs(d)
    mod, rem = dedup._IVF_SEED_MOD, dedup._IVF_SEED_REM
    ids = [i for i in range(1, 200) if i % mod != rem][:40]
    rows = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(64)]) for i in ids]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(f"{d}/embeddings.parquet")
    kernel, _ = dedup._ivf_kernel(spark, d, dedup._IVF_NPROBE)
    decl = dedup._ivf_assignments(spark, d)
    assert kernel.count() == 0
    assert decl.count() == 0


def test_block_scorer_pairings(spark):
    """The grouped block scorer's three pairings on one hand-built group
    of unit vectors (every cosine here clears the 0.4 threshold): "ne"
    never pairs a vector that is both home and prober with itself and
    emits (min, max); "directed" keeps (prober, member) = (new, old)
    orientation even when new > old; "lt" emits only a < b, and a
    prober-only row never receives."""
    e1, e2, e3 = [1.0, 0.0], [0.8, 0.6], [0.6, 0.8]

    def pairs(rows, pairing):
        df = spark.createDataFrame(
            [(0, *r) for r in rows],
            "g int, vec_id long, embedding array<double>, member int",
        )
        return {
            (r.a_id, r.b_id): r.cos_sim
            for r in dedup._score_blocks(df, ("g",), pairing).collect()
        }

    # vector 1 is home (member) and prober at once; its self-dot is 1.0
    ne = pairs([(1, e1, 1), (1, e1, 0), (2, e2, 0), (3, e3, 1)], "ne")
    assert ne == {
        (1, 3): pytest.approx(0.6),
        (1, 2): pytest.approx(0.8),
        (2, 3): pytest.approx(0.96),
    }
    directed = pairs([(3, e3, 0), (1, e1, 1), (2, e2, 1)], "directed")
    assert directed == {(3, 1): pytest.approx(0.6), (3, 2): pytest.approx(0.96)}
    lt = pairs(
        [(0, e1, 0), (1, e1, 1), (2, e2, 1), (3, e3, 1), (5, e3, 0)], "lt"
    )
    assert set(lt) == {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}
    assert all(a < b for a, b in lt)


def test_ivf_occupancy_band_holds_at_every_edge():
    """The corpus-adaptive k dial must keep expected cell occupancy n/k in
    the designed (23.4, 46.9] band at BOTH sides of every threshold —
    including the r11 extensions past 384k (768000/1536000/3072000), which
    exist precisely so multi-hundred-k corpora don't leave the band and go
    quadratic on in-cell pair mass (r10 VERDICT #3). Above the last
    threshold the band necessarily opens upward; assert the first exit
    point is exactly 2x the last threshold (one full doubling of headroom
    past the largest dialed corpus)."""
    from pg2parquet_spark.operators import dedup

    def k_of(n):
        return dedup._IVF_K_BASE * (
            1 << sum(n > t for t in dedup._IVF_K_THRESHOLDS)
        )

    for t in dedup._IVF_K_THRESHOLDS:
        # at the threshold: top of the band (46.875 = 375/8)
        assert t / k_of(t) <= 375 / 8, (t, k_of(t))
        # just past it k doubles: bottom of the band
        assert (t + 1) / k_of(t + 1) > 375 / 16, (t, k_of(t + 1))
    last = dedup._IVF_K_THRESHOLDS[-1]
    assert last == 3072000  # r11: three decades past the r10 16384-cell cap
    # band holds until one doubling past the last threshold
    assert (2 * last) / k_of(2 * last) <= 375 / 8


def test_ivf_k_chain_is_engine_portable(spark):
    """The k CASE chain must evaluate identically in DuckDB and Spark at
    every threshold boundary — same contract as the LSH bits chain."""
    import duckdb

    expr = dedup._ivf_k_case("n")
    probes = sorted(
        {1, 10**9}
        | set(dedup._IVF_K_THRESHOLDS)
        | {t + 1 for t in dedup._IVF_K_THRESHOLDS}
    )
    ref = {
        n: dedup._IVF_K_BASE * (1 << sum(n > t for t in dedup._IVF_K_THRESHOLDS))
        for n in probes
    }
    con = duckdb.connect()
    for n in probes:
        got = con.execute(
            f"SELECT {expr} FROM (SELECT CAST({n} AS BIGINT) AS n)"
        ).fetchone()[0]
        assert got == ref[n], f"duckdb k({n}) = {got} != {ref[n]}"
    df = spark.createDataFrame([(n,) for n in probes], "n long").select(
        "n", F.expr(expr).alias("k")
    )
    assert {r.n: r.k for r in df.collect()} == ref


def test_ivf_coupling_check_fails_loudly():
    """Breaking the threshold-doubling lockstep or sparsifying the centroid
    sample below the k dial must raise at import-time check — a silent
    undershoot would quietly coarsen cells (fewer than k centroids found)
    instead of failing."""
    import pytest

    orig_t = dedup._IVF_K_THRESHOLDS
    orig_m = dedup._IVF_SEED_MOD
    try:
        dedup._IVF_K_THRESHOLDS = orig_t[:-1] + (orig_t[-1] * 3,)
        with pytest.raises(AssertionError, match="lockstep"):
            dedup._check_ivf_coupling()
        dedup._IVF_K_THRESHOLDS = orig_t
        dedup._IVF_SEED_MOD = orig_t[0]  # absurdly sparse sample
        with pytest.raises(AssertionError, match="sample too sparse"):
            dedup._check_ivf_coupling()
    finally:
        dedup._IVF_K_THRESHOLDS = orig_t
        dedup._IVF_SEED_MOD = orig_m
    dedup._check_ivf_coupling()


def test_hll_linear_counting_branch(spark, tmp_path):
    """sketch_hll_corrected must actually TAKE the linear-counting branch on
    a low-cardinality corpus (many empty registers) and land closer to the
    exact count than the raw estimator, whose low-fill bias is the reason
    the branch exists."""
    from pg2parquet_spark.operators import sketch

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta tok{i % 6}") for i in range(40)],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    row = sketch.sketch_hll_corrected(spark, str(tmp_path)).collect()[0]
    assert row.exact_distinct == 10  # alpha..delta + tok0..tok5
    assert row.empty_registers > 0
    assert row.hll_est_x1000 != row.raw_est_x1000  # correction applied
    err_corr = abs(row.hll_est_x1000 / 1000 - row.exact_distinct)
    err_raw = abs(row.raw_est_x1000 / 1000 - row.exact_distinct)
    assert err_corr < err_raw
    assert err_corr / row.exact_distinct < 0.35  # within LC's expected error


def test_decontaminate_semantics(spark, sf_dir):
    """Contamination flags only non-benchmark docs, ratios are sane, and a
    PLANTED contamination (a training doc sharing a benchmark doc's exact
    text) is caught — checked on a synthetic corpus where ground truth is
    constructed, plus shape invariants on the fixture corpus."""
    from pg2parquet_spark.operators import curation

    rows = curation.pipeline_decontaminate(spark, sf_dir).collect()
    assert all(r.doc_id % 97 != 0 for r in rows)
    assert all(0 < r.overlap_ratio <= 1.0 for r in rows)
    assert all(r.n_overlap <= r.n_shingles for r in rows)


def test_decontaminate_catches_planted_copy(spark, tmp_path):
    from pg2parquet_spark.operators import curation

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(0, bench_text)]                      # benchmark doc (0 % 97 == 0)
        + [(i, f"noise{i} filler words only here nothing shared number {i}")
           for i in range(1, 9)]
        + [(9, bench_text)],                   # planted contaminated doc
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in
           curation.pipeline_decontaminate(spark, str(tmp_path)).collect()}
    assert set(out) == {9}  # exactly the planted copy, none of the noise
    assert out[9].overlap_ratio == 1.0


def test_sequence_pack_invariants(spark, sf_dir):
    """Every doc lands in exactly one sequence; per-bucket seq_ids are
    contiguous from 0; every sequence's token occupancy stays under
    budget + one straddling doc."""
    from pg2parquet_spark.operators import curation
    from pg2parquet_spark.tables import table as load_table

    rows = curation.pipeline_sequence_pack(spark, sf_dir).collect()
    n_docs_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs_total
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r.seq_id)
    for bucket, seqs in by_bucket.items():
        assert sorted(seqs) == list(range(len(seqs))), f"bucket {bucket} has gaps"


def test_stream_late_data_actually_drops_rows(spark, sf_dir):
    """The oracle equality proves late rows are EXCLUDED; this pins that they
    were excluded by the watermark DROP path (numRowsDroppedByWatermark > 0),
    not by accident of batch composition. Guards the 3-batch replay design:
    Spark filters late rows against the previous batch's eviction watermark,
    so a 2-batch replay would silently admit every late row."""
    import glob as g
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pg2parquet_spark.tables import table

    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts")).collect()[0][0]
    newest = F.col("ts") > F.lit(mx) - F.expr("INTERVAL 1 HOUR")
    late = (F.col("event_id") % 7 == 0) & (
        F.col("ts") < F.lit(mx) - F.expr("INTERVAL 2 HOURS")
    )
    n_late = ev.filter(late).count()
    assert n_late > 0  # fixture must actually contain withheld rows
    sd = tempfile.mkdtemp(prefix="late_test_")
    st = tempfile.mkdtemp(prefix="late_test_stage_")
    for i, part in ((1, ev.filter(~newest & ~late)), (2, ev.filter(newest)), (3, ev.filter(late))):
        d = f"{st}/b{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = f"{sd}/batch{i}.parquet"
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], dst)
        os.utime(dst, (1000 * i, 1000 * i))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sd)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName("late_drop_t").start()
    try:
        q.processAllAvailable()
        dropped = sum(
            (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
            for p in q.recentProgress
        )
    finally:
        q.stop()
    assert dropped == n_late


def test_zorder_layout_clusters_both_dimensions(spark, sf_dir):
    """The clustering claim, measured: after a Z-order write, each file's
    min-max span is narrow in BOTH dimensions; a time-sorted layout is
    narrow in time but spans (nearly) the whole user domain per file —
    which is exactly why its row-group stats can't prune user predicates."""
    import glob
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pg2parquet_spark.operators.layout import write_zordered, zorder16
    from pg2parquet_spark.tables import table

    ev = table(spark, sf_dir, "events")
    # the sf0.001 fixture has only ~15 users: spread them across the 8-bit
    # domain (x17) so per-file spans actually measure layout, not fixture size
    staged = ev.select(
        ((F.col("user_id") * 17) % 256).cast("int").alias("x8"),
        ((F.dayofmonth("ts") * 24 + F.hour("ts")) % 256).cast("int").alias("y8"),
    )

    def spans(path):
        per_file = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            t = pq.read_table(f, columns=["x8", "y8"])
            x, y = t.column("x8").to_pylist(), t.column("y8").to_pylist()
            per_file.append((max(x) - min(x), max(y) - min(y)))
        return per_file

    zdir = tempfile.mkdtemp(prefix="ztest_") + "/z"
    write_zordered(staged.withColumn("z", zorder16(F.col("x8"), F.col("y8"))), zdir, F.col("z"), 4)
    tdir = tempfile.mkdtemp(prefix="ztest_") + "/t"
    (staged.repartitionByRange(4, F.col("y8")).sortWithinPartitions("y8")
     .write.mode("overwrite").parquet(tdir))

    z_spans, t_spans = spans(zdir), spans(tdir)
    assert len(z_spans) == len(t_spans) == 4
    # time-sorted: every file spans ~the full user range
    avg_t_x = sum(s[0] for s in t_spans) / 4
    # z-order: user span per file must be materially narrower
    avg_z_x = sum(s[0] for s in z_spans) / 4
    assert avg_z_x < 0.75 * avg_t_x, (z_spans, t_spans)
    # ... while still bounding the time span (not a plain user sort either:
    # each z file covers at most ~half the hour domain, not all of it)
    assert max(s[1] for s in z_spans) <= 160, z_spans


def test_semantic_dedup_keeps_one_representative_per_neighborhood(spark, sf_dir):
    from pg2parquet_spark.operators import curation

    rows = curation.pipeline_semantic_dedup(spark, sf_dir).collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    # every cell keeps at least its lowest-id member, and the lowest-id
    # member is never dropped (it has no lower-id neighbor)
    for cell, members in by_cell.items():
        lowest = min(members, key=lambda r: r.vec_id)
        assert lowest.kept == 1
        assert any(r.kept == 1 for r in members)


def test_bm25_scores_rank_matching_docs_first(spark, sf_dir):
    from pg2parquet_spark.operators import quality

    rows = quality.text_bm25_topk(spark, sf_dir).collect()
    assert 0 < len(rows) <= quality.BM25_TOP_K
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    # every returned doc matches at least one query term
    for r in rows:
        assert sum(r[f"tf_{t}"] for t in quality.BM25_QUERY) > 0


def test_ann_arrow_kernel_matches_expression_variant(spark, sf_dir):
    # the two brute-force variants promise the same contract AND the same
    # bits: the numpy kernel folds over dims in the expression fold's order
    from pg2parquet_spark.operators import similarity

    a = {(r.q_id, r.c_id): (r.cos_sim, r.rank)
         for r in similarity.ann_cosine_topk(spark, sf_dir).collect()}
    b = {(r.q_id, r.c_id): (r.cos_sim, r.rank)
         for r in similarity.ann_cosine_topk_arrow(spark, sf_dir).collect()}
    assert a == b


def test_cdc_chunking_resync_property(spark):
    # THE content-defined property: inserting one token early in a document
    # only moves boundaries inside the chunk it lands in — later boundary
    # positions (relative to the doc end) re-synchronize. Fixed-stride
    # chunking shifts every later boundary by one.
    import hashlib

    mod = 16

    def boundaries(toks):
        cuts = [0]
        for i in range(1, len(toks)):
            h = int(hashlib.md5(toks[i - 1].encode()).hexdigest()[:8], 16)
            if h % mod == 0:
                cuts.append(i)
        cuts.append(len(toks))
        return cuts

    toks = [f"w{(i * 7) % 23}" for i in range(200)]
    base = boundaries(toks)
    mutated = toks[:3] + ["inserted"] + toks[3:]
    mut = boundaries(mutated)
    # all boundaries after the insertion point appear again, shifted by
    # exactly 1 — the suffix of the cut sets re-synchronizes
    base_after = [b for b in base if b > 3]
    mut_after = [b - 1 for b in mut if b > 4]
    assert base_after == mut_after


def test_quantile_hist_within_bin_width_of_exact(spark, sf_dir):
    import duckdb

    from pg2parquet_spark.operators import sketch

    rows = {r.q: r.est_edge for r in sketch.sketch_quantile_hist(spark, sf_dir).collect()}
    con = duckdb.connect()
    exact = con.execute(
        f"SELECT quantile_cont(value, [0.50, 0.90, 0.99]) FROM '{sf_dir}/events.parquet'"
    ).fetchone()[0]
    for q, ex in zip((50, 90, 99), exact):
        assert abs(rows[q] - ex) <= 0.5 + 1e-9, (q, rows[q], ex)


def test_semantic_dedup_kept_set_is_sound(spark, sf_dir):
    # soundness: within a cell, no two KEPT vectors are >= the threshold —
    # the representative set is an independent set of the similarity graph
    import numpy as np

    from pg2parquet_spark.operators import curation
    from pg2parquet_spark.tables import table as _table

    labels = {r.vec_id: (r.cell, r.kept)
              for r in curation.pipeline_semantic_dedup(spark, sf_dir).collect()}
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in _table(spark, sf_dir, "embeddings").collect()}
    by_cell = {}
    for vid, (cell, kept) in labels.items():
        if kept:
            by_cell.setdefault(cell, []).append(vid)
    for cell, kept_ids in by_cell.items():
        for i, a in enumerate(kept_ids):
            for b in kept_ids[i + 1:]:
                assert float(vecs[a] @ vecs[b]) < curation.SEMDEDUP_COS + 1e-9


def test_resample_grid_is_contiguous_and_ffilled(spark, sf_dir):
    from pg2parquet_spark.operators import relational

    rows = relational.q_events_resample_ffill(spark, sf_dir).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r.h)
        # every hour between min and max present exactly once
        hours = [r.h for r in rs]
        assert len(hours) == len(set(hours))
        deltas = {(b - a).total_seconds() for a, b in zip(hours, hours[1:])}
        assert deltas == {3600.0}, f"gap in hourly grid for {et}"
        # ffill: no NULL means after the first row, zero-count hours exist
        # at sf0.001 (sparse), and their mean equals the previous hour's
        assert all(r.avg_value_ffill is not None for r in rs)
        prev = None
        for r in rs:
            if r.n_events == 0 and prev is not None:
                assert r.avg_value_ffill == prev
            prev = r.avg_value_ffill


def test_global_rank_matches_naive_sort(spark, sf_dir):
    from pg2parquet_spark.operators import relational
    from pg2parquet_spark.tables import table as load

    got = {
        r.doc_id: r.global_rank
        for r in relational.q_global_rank_histogram(spark, sf_dir).collect()
    }
    naive = [
        r.doc_id
        for r in load(spark, sf_dir, "documents")
        .orderBy("n_chars", "doc_id")
        .collect()
    ]
    assert got == {doc: i + 1 for i, doc in enumerate(naive)}


def test_kmv_estimates_within_sketch_error(spark, sf_dir):
    from pg2parquet_spark.operators import sketch as sk
    from pg2parquet_spark.tables import table as load

    row = sk.sketch_kmv_intersection(spark, sf_dir).collect()[0]
    ev = load(spark, sf_dir, "events")
    a = {r.user_id for r in ev.filter("event_type = 'click'").select("user_id").distinct().collect()}
    b = {r.user_id for r in ev.filter("event_type = 'purchase'").select("user_id").distinct().collect()}
    true_union, true_inter = len(a | b), len(a & b)
    # KMV standard error ~ 1/sqrt(k-1) ≈ 13% at k=64; allow 3 sigma
    assert abs(row.est_union - true_union) <= max(3, 0.4 * true_union)
    assert abs(row.est_intersection - true_inter) <= max(5, 0.5 * true_inter)


def test_pagerank_rank_tracks_degree(spark, sf_dir):
    """More distinct customers → more incoming contribution mass: the top-
    degree supplier must outrank the bottom-degree one."""
    from pg2parquet_spark.operators import graph
    from pg2parquet_spark.tables import table as load

    pr = {r.suppkey: r.pr_q for r in graph.graph_pagerank_suppliers(spark, sf_dir).collect()}
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    deg = {
        r.l_suppkey: r.d
        for r in orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("d"))
        .collect()
    }
    hi = max(deg, key=lambda k: (deg[k], -k))
    lo = min(deg, key=lambda k: (deg[k], k))
    if deg[hi] > deg[lo]:
        assert pr[hi] > pr[lo]
    # every rank holds at least the teleport mass
    assert all(v >= int(0.15 * (1 << 30)) for v in pr.values())


def test_filter_funnel_is_monotone(spark, sf_dir):
    from pg2parquet_spark.operators import curation

    rows = sorted(
        curation.pipeline_filter_funnel(spark, sf_dir).collect(),
        key=lambda r: r.stage_idx,
    )
    counts = [r.surviving for r in rows]
    assert counts[0] > 0
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts


def test_kmeans_partition_is_total_and_consistent(spark, sf_dir):
    """Structural invariants of the fixed-iteration Lloyd output: every
    vector assigned exactly once, cluster ids come from the deterministic
    seed set, n_members is consistent with the actual partition, and the
    run is reproducible (same assignment on a second invocation)."""
    from pg2parquet_spark.operators import similarity as sim
    from pg2parquet_spark.tables import table as load

    rows = sim.ml_kmeans_fixed(spark, sf_dir).collect()
    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vecs
    assert len({r.vec_id for r in rows}) == n_vecs
    seeds = {
        r.vec_id
        for r in load(spark, sf_dir, "embeddings")
        .filter(sim.CENTROID_FILTER)
        .orderBy("vec_id")
        .limit(sim._N_CENTROIDS)
        .collect()
    }
    assert {r.cid for r in rows} <= seeds
    import collections

    sizes = collections.Counter(r.cid for r in rows)
    assert all(r.n_members == sizes[r.cid] for r in rows)
    again = {(r.vec_id, r.cid) for r in sim.ml_kmeans_fixed(spark, sf_dir).collect()}
    assert again == {(r.vec_id, r.cid) for r in rows}


def test_url_canonical_groups_match_construction(spark, sf_dir):
    """Canonical groups must be exactly the (source, doc_id % 50) classes
    with >= 2 members, with min doc_id as representative."""
    from pg2parquet_spark.operators import dedup as dd
    from pg2parquet_spark.tables import table as load

    import collections

    docs = load(spark, sf_dir, "documents").select("doc_id", "source").collect()
    classes = collections.defaultdict(list)
    for r in docs:
        classes[(r.source, r.doc_id % 50)].append(r.doc_id)
    want = {
        (f"https://{src}.example.com/{res}", len(ids), min(ids))
        for (src, res), ids in classes.items()
        if len(ids) >= 2
    }
    got = {
        (r.canonical_url, r.n_docs, r.representative)
        for r in dd.dedup_url_canonical(spark, sf_dir).collect()
    }
    assert got == want


def test_gdpr_cascade_counts_are_consistent(spark, sf_dir):
    from pg2parquet_spark.operators import curation
    from pg2parquet_spark.tables import table as load

    rows = {r.entity: r.n_affected for r in curation.pipeline_gdpr_cascade(spark, sf_dir).collect()}
    cust = {r.c_custkey for r in load(spark, sf_dir, "customer").collect() if r.c_custkey % 97 == 0}
    orders = [r for r in load(spark, sf_dir, "orders").collect() if r.o_custkey in cust]
    okeys = {r.o_orderkey for r in orders}
    nli = sum(1 for r in load(spark, sf_dir, "lineitem").collect() if r.l_orderkey in okeys)
    assert rows == {"customer": len(cust), "orders": len(orders), "lineitem": nli}


def test_image_phash_matches_pixel_formula(spark, sf_dir):
    """The decoded-pixel aHash must equal the hash computed straight from
    the deterministic pixel generator — proving codec round-trip AND hash."""
    from pg2parquet_spark.operators import multimodal as mm

    got = {r.doc_id: (r.width, r.height, r.phash)
           for r in mm.multimodal_image_phash(spark, sf_dir).collect()}
    for d in list(got)[:25]:
        w, h = 2 + d % 6, 2 + (d * 3) % 5
        px = [(d * 31 + i) % 256 for i in range(w * h * 3)]
        gray = [(px[3 * j] + px[3 * j + 1] + px[3 * j + 2]) // 3 for j in range(w * h)]
        mn = sum(gray) // (w * h)
        ph = sum(1 << j for j, g in enumerate(gray) if g >= mn)
        assert got[d] == (w, h, ph)


def test_sliding_windows_triple_count_events(spark, sf_dir):
    """15-min window / 5-min slide ⇒ every event is counted in exactly 3
    windows: total windowed events == 3 × click events."""
    from pg2parquet_spark.operators import relational
    from pg2parquet_spark.tables import table as load

    rows = relational.q_events_sliding_windows(spark, sf_dir).collect()
    n_clicks = load(spark, sf_dir, "events").filter("event_type = 'click'").count()
    assert sum(r.n_events for r in rows) == 3 * n_clicks
    # window starts are 5-minute aligned
    assert all(r.win_start.minute % 5 == 0 and r.win_start.second == 0 for r in rows)


def test_schema_evolution_preserves_all_rows(spark, sf_dir):
    from pg2parquet_spark import export_queries as eq
    from pg2parquet_spark.tables import table as load

    row = eq.source_schema_evolution(spark, sf_dir).collect()[0]
    orders = load(spark, sf_dir, "orders")
    assert row.n_rows == orders.count()
    assert row.n_with_price == orders.filter("o_orderkey % 2 = 1").count()


@pytest.mark.parametrize("variant", ["builtin", "pandas"])
def test_user_event_features_match_python(spark, sf_dir, variant):
    from pg2parquet_spark.operators import features as ft
    from pg2parquet_spark.tables import table as load

    fn = (
        ft.ml_user_event_features
        if variant == "builtin"
        else ft.ml_user_event_features_pandas
    )
    got = {r.user_id: (r.n_events, r.min_gap_us, r.max_gap_us, r.mean_gap_us)
           for r in fn(spark, sf_dir).collect()}
    rows = load(spark, sf_dir, "events").select("user_id", "event_id", "ts").collect()
    import collections
    seq = collections.defaultdict(list)
    for r in rows:
        us = int(r.ts.timestamp() * 1_000_000) if hasattr(r.ts, "timestamp") else int(r.ts)
        seq[r.user_id].append((us, r.event_id))
    for uid, evs in seq.items():
        evs.sort()
        gaps = [b[0] - a[0] for a, b in zip(evs, evs[1:])]
        if not gaps:
            assert uid not in got
            continue
        assert got[uid] == (len(evs), min(gaps), max(gaps), sum(gaps) // len(gaps)), uid


def test_power_iteration_matches_numpy_integer_replica(spark, sf_dir):
    """Replicate the exact integer algorithm in numpy — the Spark plan must
    reproduce it bit-for-bit, and the direction must correlate with the true
    top eigenvector of the Gram matrix."""
    import numpy as np

    from pg2parquet_spark.operators import similarity as sim
    from pg2parquet_spark.tables import table as load

    got = {r.dim: r.v_q for r in sim.ml_power_iteration_pc1(spark, sf_dir).collect()}
    A = np.array(
        [list(r.embedding) for r in load(spark, sf_dir, "embeddings").orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    Q = np.floor(A * sim._PI_EQ).astype(np.int64)
    v = np.ones(Q.shape[1], dtype=np.int64)
    for _ in range(2):
        s = Q @ v
        t = Q.T @ s
        m = np.abs(t).max()
        d = max(m // sim._PI_VS, 1)
        # engines truncate integer division toward zero; numpy // floors
        v = np.sign(t) * (np.abs(t) // d)
    assert got == {d: int(v[d]) for d in range(len(v))}
    # power iteration monotonically improves the Rayleigh quotient on a PSD
    # Gram matrix; with a near-isotropic random corpus the top eigenvector
    # is weakly separated (2 iterations ≠ convergence), so monotone
    # improvement over the start vector is the honest invariant.
    G = A.T @ A

    def rayleigh(x):
        x = x.astype(np.float64)
        return (x @ G @ x) / (x @ x)

    assert rayleigh(v) > rayleigh(np.ones(G.shape[0]))


def test_weighted_sample_tracks_weight_mass(spark, sf_dir):
    from pg2parquet_spark.operators import curation

    rows = curation.pipeline_weighted_sample(spark, sf_dir).collect()
    M = 1 << 20
    for r in rows:
        assert 0 <= r.n_kept <= r.n_in
        expected = r.weight_mass / M
        # deterministic hash sampling: kept count within ~4 sigma of the
        # weight mass it implements (binomial-ish noise on small groups)
        import math

        sigma = math.sqrt(max(expected, 1.0))
        assert abs(r.n_kept - expected) <= max(6.0, 4 * sigma), (r.source, r.n_kept, expected)


def test_near_dup_eval_counts_are_consistent(spark, sf_dir):
    from pg2parquet_spark.operators import dedup as dd

    r = dd.pipeline_near_dup_eval(spark, sf_dir).collect()[0]
    n_exact = dd.dedup_ngram_jaccard(spark, sf_dir).count()
    n_pred = dd.dedup_minhash_lsh(spark, sf_dir).filter("matching_hashes >= 4").count()
    assert r.tp + r.fn == n_exact
    assert r.tp + r.fp == n_pred
    assert 0 <= r.precision_ <= 1 and 0 <= r.recall_ <= 1
    # the planted exact copies have identical signatures → they must all be
    # found: recall floor well above chance
    assert r.recall_ >= 0.9


@pytest.mark.slowtier
def test_minhash_bucket_cap_bounds_mega_bucket(spark, tmp_path):
    """Adversarial mega-bucket: 150 byte-identical boilerplate docs (kept
    below the stop-shingle df threshold by 2000 unique fillers) share every
    band bucket. Uncapped, that is one ~180-element collect_list array and
    C(180,2)=16110 pairs exploding from a single row per band — the crawl-
    scale failure mode. With _BUCKET_CAP=64 the planted group must emit
    exactly C(64,2)=2016 pairs (the first 64 members by doc_id, identical
    in all 4 bands), and the audit query must report the dropped membership
    per band exactly."""
    import pandas as pd

    from pg2parquet_spark.operators import dedup as dd

    n_dup, n_fill = 150, 2000
    boiler = " ".join(f"tmpl{i % 13} tok{i}" for i in range(30))
    rows = [(i, boiler) for i in range(n_dup)]
    # 12 SHORT fillers (9 tokens) at ids ≡ 0 (mod 7): their zz-suffix near
    # copies share only 2 of 7 eight-token spans (< the 0.5 substring gate)
    # and are not exact dups, so they survive the scorecard cascade to the
    # near-dup verdict — the population that must flip to _capped below
    short_js = [
        j
        for j in range(n_fill)
        if (10_000 + j) % 7 == 0 and (10_000 + j) % 5 != 0
    ][:12]
    for j in range(n_fill):
        if j in short_js:
            rows.append((10_000 + j, " ".join(f"s{j}x{k}" for k in range(9))))
        else:
            rows.append((10_000 + j, " ".join(f"u{j}x{k}" for k in range(30))))
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)

    # planted members: the 150 base docs, their 30 exact (uppercase)
    # augmented copies (normalize to the same text), AND their 22 near
    # copies (the appended zz-suffix shingles never win a min lane) — all
    # land in the same bucket in every band: 202 members, > _BUCKET_CAP
    planted = (
        set(range(n_dup))
        | {1_000_000 + i for i in range(0, n_dup, 5)}
        | {2_000_000 + i for i in range(0, n_dup, 7)}
    )
    mega = len(planted)
    assert mega == 202

    audit = {r.band_idx: r for r in dd.dedup_minhash_bucket_audit(spark, sf).collect()}
    assert set(audit) == {0, 1, 2, 3}
    for r in audit.values():
        assert r.max_bucket == mega, r
        assert r.n_oversized >= 1, r
        assert r.n_dropped_members >= mega - dd._BUCKET_CAP, r

    pairs = dd.dedup_minhash_lsh(spark, sf).collect()
    planted_pairs = [
        p for p in pairs if p.doc_a in planted and p.doc_b in planted
    ]
    cap = dd._BUCKET_CAP
    assert len(planted_pairs) == cap * (cap - 1) // 2, len(planted_pairs)
    # identical docs: every kept pair is a full signature match
    assert all(p.matching_hashes == 8 for p in planted_pairs)
    # kept members are the first 64 by doc_id — all from the base id range
    member_ids = {p.doc_a for p in planted_pairs} | {p.doc_b for p in planted_pairs}
    assert member_ids == set(range(cap))

    # r7: the scorecard CONSUMES the audit — with n_dropped_members > 0 the
    # near-dup review channel is incomplete and every near-dup verdict must
    # flip to 'review_near_dup_capped' (no plain 'review_near_dup' row),
    # in BOTH engines
    import duckdb

    from pg2parquet_spark.registry import load_all

    card = {r.verdict: r.n_docs for r in dd.pipeline_dedup_scorecard(spark, sf).collect()}
    assert "review_near_dup" not in card, card
    assert card.get("review_near_dup_capped", 0) > 0, card
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = dict(
        con.execute(load_all()["pipeline_dedup_scorecard"].oracle).fetchall()
    )
    assert card == want, (card, want)


def test_scorecard_uncapped_fixture_keeps_plain_near_dup_verdict(spark, sf_dir):
    """On the fixture corpus no bucket exceeds the cap (max bucket ~3), so
    the audit reports zero drops and the scorecard must emit the PLAIN
    review_near_dup verdict — the capped flip is reserved for genuinely
    lossy runs."""
    from pg2parquet_spark.operators import dedup as dd

    card = {r.verdict: r.n_docs for r in dd.pipeline_dedup_scorecard(spark, sf_dir).collect()}
    assert "review_near_dup_capped" not in card, card
    assert card.get("review_near_dup", 0) > 0, card


def test_substring_cut_invariants(spark, sf_dir):
    """Cut accounting must balance, fully-cut docs must hash to md5(''),
    and every doc with a planted exact copy (identical token sequence, so
    every 8-token span is cross-doc shared) must be cut to nothing."""
    import hashlib

    rows = {r.doc_id: r for r in dedup.pipeline_substring_cut(spark, sf_dir).collect()}
    empty = hashlib.md5(b"").hexdigest()
    for r in rows.values():
        assert r.n_kept == r.n_tokens - r.n_removed
        assert 0 <= r.n_removed <= r.n_tokens
        if r.n_removed == r.n_tokens:
            assert r.kept_hash == empty
    fully = [d for d in range(0, 500, 5) if rows[d].n_tokens >= 8]
    assert fully
    assert all(rows[d].n_removed == rows[d].n_tokens for d in fully)


def test_dedup_keep_best_prefers_higher_quality_copy(spark, sf_dir):
    """Quality-priority representative: the planted uppercase copy carries
    two extra raw chars (trailing spaces survive only pre-normalization),
    so it must win every exact-dup group — the exact OPPOSITE pick of
    dedup_exact's min-id representative, proving the selection knob works."""
    from pg2parquet_spark.operators import curation

    rows = curation.pipeline_dedup_keep_best(spark, sf_dir).collect()
    assert len(rows) == 100
    assert all(r.n_copies == 2 for r in rows)
    assert all(r.kept_doc >= 1_000_000 for r in rows)


def test_source_overlap_matrix_shape(spark, sf_dir):
    from pg2parquet_spark.operators import curation

    rows = curation.pipeline_source_overlap(spark, sf_dir).collect()
    assert rows
    assert all(r.source_a < r.source_b for r in rows)
    assert all(0 < r.jaccard < 1 for r in rows)
    assert all(r.n_shared >= 1 for r in rows)


def test_cluster_safe_split_no_leakage_and_total(spark, sf_dir):
    """The split must cover every augmented doc exactly once, leak zero
    candidate pairs across the boundary (whole clusters move together),
    and send roughly 1/10 of clusters to test."""
    rows = {r.split: r for r in dedup.pipeline_cluster_safe_split(spark, sf_dir).collect()}
    assert set(rows) == {"train", "test"}
    assert all(r.leaked_pairs == 0 for r in rows.values())
    total = sum(r.n_docs for r in rows.values())
    assert total == dedup.augmented_documents(spark, sf_dir, widen=False).count()
    tc = rows["test"].n_clusters
    nc = tc + rows["train"].n_clusters
    assert 0.03 < tc / nc < 0.25, (tc, nc)


def test_stream_state_partition_scope_restores_session_conf(spark, sf_dir):
    """Streaming queries size their stateful-operator partitions to state
    volume (8), not the session's CPU-count default — and must restore the
    session conf afterward, even across the try/finally stop path."""
    from pg2parquet_spark.streaming import queries as sq

    old = spark.conf.get("spark.sql.shuffle.partitions")
    sq.stream_events_hourly(spark, sf_dir).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_events_stream_reads_a_nanos_corpus(spark, tmp_path):
    """A corpus whose events.ts is parquet TIMESTAMP(NANOS) streams through
    the nanos-as-long branch of tables.events_ts: the stream's ts are the
    same instants as the batch table's, and as the nanos written, to the µs."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg2parquet_spark.streaming import queries as sq

    base = dt.datetime(2024, 3, 10, 23, 59, 59, tzinfo=dt.timezone.utc)
    nanos = [int(base.timestamp()) * 10**9 + k * 60_123_456_000 for k in range(-2, 3)]
    nanos.append(-86_400_000_001_000)  # before 1970, with a µs component
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(nanos)), pa.int64()),
        "ts": pa.array(nanos, pa.timestamp("ns")),
    }), str(tmp_path / "events.parquet"))
    sf = str(tmp_path)
    got = sq._run_stream(sq._events_stream(spark, sf), "nanos_probe", "append")
    assert dict(got.dtypes)["ts"] == "timestamp"
    stream = {r.event_id: r.us for r in got.select("event_id", F.unix_micros("ts").alias("us")).collect()}
    batch = table(spark, sf, "events").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    assert stream == {r.event_id: r.us for r in batch.collect()}
    assert stream == {i: ns // 1000 for i, ns in enumerate(nanos)}


def test_hll_rollup_merge_consistency(spark, sf_dir):
    """Register-merge property: the 'ALL' row must equal the estimate from
    scratch over all events (cell-wise MAX commutes with union), and every
    per-day estimate must be positive."""
    from pg2parquet_spark.operators import sketch as sk
    from pg2parquet_spark.tables import table as load

    rows = {r.day: r.hll_est_x1000 for r in sk.sketch_hll_rollup_merge(spark, sf_dir).collect()}
    assert "ALL" in rows and len(rows) > 2
    assert all(v > 0 for v in rows.values())
    # direct re-computation over the undayed stream must equal the merged row
    ev = load(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    hashed = ev.select(
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % sk.HLL_M).cast("int").alias("bucket"),
        F.substring(h, 9, 16).alias("w_hex"),
    )
    ranks = hashed.select(
        "bucket", F.expr("trim(LEADING '0' FROM w_hex)").alias("ltrimmed")
    ).select(
        "bucket",
        F.least(
            F.lit(sk.HLL_CAP),
            F.lit(4) * (F.lit(16) - F.length("ltrimmed")) + F.expr(sk._EXTRA_CASE) + F.lit(1),
        ).alias("rank"),
    )
    regs = ranks.groupBy("bucket").agg(F.max("rank").alias("rmax"))
    harm = regs.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {sk.HLL_CAP} - rmax)")).alias("filled"),
        F.count(F.lit(1)).alias("nb"),
    ).select(
        F.expr(
            f"({sk.HLL_NUM} * CAST(1000 AS BIGINT)) div "
            f"(filled + ({sk.HLL_M} - nb) * shiftleft(CAST(1 AS BIGINT), {sk.HLL_CAP}))"
        ).cast("bigint").alias("est")
    ).collect()[0]
    assert harm.est == rows["ALL"]


def test_trade_triangles_oriented_and_unique(spark, sf_dir):
    from pg2parquet_spark.operators import graph as g

    tri = [(r.nation_a, r.nation_b, r.nation_c) for r in g.graph_trade_triangles(spark, sf_dir).collect()]
    assert tri
    assert all(a < b < c for a, b, c in tri)  # oriented: each triangle once
    assert len(tri) == len(set(tri))


def test_quota_sample_exact_quota_and_determinism(spark, sf_dir):
    from pg2parquet_spark.operators import curation

    a = {r.source: r for r in curation.pipeline_quota_sample(spark, sf_dir).collect()}
    b = {r.source: r.kept_ids_hash for r in curation.pipeline_quota_sample(spark, sf_dir).collect()}
    assert all(r.n_kept == curation._QUOTA_K for r in a.values())
    assert all(r.worst_kept_chars <= r.best_kept_chars for r in a.values())
    # the kept SET is reproducible run to run (deterministic tie-break)
    assert {s: r.kept_ids_hash for s, r in a.items()} == b


def test_scene_cuts_bounds(spark, sf_dir):
    from pg2parquet_spark.operators import multimodal as mm

    rows = mm.multimodal_scene_cuts(spark, sf_dir).collect()
    assert len(rows) == 500
    assert all(10 <= r.n_frames < 30 for r in rows)
    assert all(0 <= r.n_cuts <= r.n_frames - 1 for r in rows)
    # md5-derived intensities: cuts exist somewhere in the corpus
    assert sum(r.n_cuts for r in rows) > 0


def test_multibatch_fixture_delivers_multiple_batches(spark, sf_dir):
    """The foreachBatch fixture must actually deliver MULTIPLE micro-batches
    covering every event exactly once — otherwise the partials-merge query
    degenerates to a single-batch no-op test."""
    from pg2parquet_spark.streaming import queries as sq
    from pg2parquet_spark.tables import table as load

    ev = sq._events_stream_multibatch(spark, sf_dir)
    seen = []

    def count_batch(df, bid):
        seen.append((bid, df.count()))

    sq._run_stream(ev, foreach_batch=count_batch)
    assert len(seen) >= 2, seen
    assert sum(n for _, n in seen) == load(spark, sf_dir, "events").count()
    # residue-hash collisions can leave one of the 3 files empty; the fixture
    # contract is >= 2 NON-EMPTY batches
    assert sum(1 for _, n in seen if n > 0) >= 2, seen


def test_dedup_scorecard_cascade(spark, sf_dir):
    """Verdicts partition the augmented corpus; the 100 planted exact
    copies are always the non-representative member of their group, so
    exactly 100 docs land in drop_exact_dup (cascade priority: exact
    beats substring beats near-dup)."""
    rows = {r.verdict: r.n_docs for r in dedup.pipeline_dedup_scorecard(spark, sf_dir).collect()}
    assert sum(rows.values()) == dedup.augmented_documents(spark, sf_dir, widen=False).count()
    assert rows.get("drop_exact_dup") == 100
    assert rows.get("keep", 0) > 0
    assert rows.get("drop_substring", 0) > 0


def test_contrastive_pairs_balance_and_purity(spark, sf_dir):
    """Negatives must exist for (almost) every positive anchor, and no
    negative may secretly be a near-dup positive (the anti-join purity)."""
    from pg2parquet_spark.operators import curation

    rows = {r.label: r for r in curation.pipeline_contrastive_pairs(spark, sf_dir).collect()}
    assert set(rows) == {0, 1}
    assert rows[1].n_pairs > 0 and rows[0].n_pairs > 0
    # one deterministic negative per anchor, minus self/collision drops
    assert rows[0].n_pairs <= rows[1].n_anchors
    assert rows[0].n_pairs >= int(0.9 * rows[1].n_anchors)


def test_histogram_partitions_all_rows(spark, sf_dir):
    from pg2parquet_spark.operators import relational as rel
    from pg2parquet_spark.tables import table as load

    rows = rel.q_histogram_numeric(spark, sf_dir).collect()
    li = load(spark, sf_dir, "lineitem")
    assert 1 <= len(rows) <= rel._HIST_BUCKETS
    assert sum(r.n_rows for r in rows) == li.count()
    assert all(0 <= r.bucket < rel._HIST_BUCKETS for r in rows)
    # bucket lower edges are strictly increasing with the bucket id
    srt = sorted(rows, key=lambda r: r.bucket)
    assert all(a.lo_cents < b.lo_cents for a, b in zip(srt, srt[1:]))


def test_epoch_shuffle_orders_differ_and_are_stable(spark, sf_dir):
    from pg2parquet_spark.operators import curation

    a = {r.epoch: r.head_order_hash for r in curation.pipeline_epoch_shuffle(spark, sf_dir).collect()}
    b = {r.epoch: r.head_order_hash for r in curation.pipeline_epoch_shuffle(spark, sf_dir).collect()}
    assert len(a) == curation._EPOCHS
    # every epoch's order is distinct (hash-salted by epoch) ...
    assert len(set(a.values())) == curation._EPOCHS
    # ... and exactly reproducible run to run (the resumability property)
    assert a == b


def test_rrf_hybrid_fuses_both_legs(spark, sf_dir):
    """Every query gets exactly top-K fused rows; a candidate present in both
    legs outscores the same ranks taken singly; rank payloads are consistent
    with the integer RRF score recomputed in-test."""
    from pg2parquet_spark.operators import quality

    rows = quality.text_rrf_hybrid(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert len(by_q) == 10  # doc_id % 50 = 0 over the 500-doc fixture corpus
    for q, rs in by_q.items():
        assert len(rs) == quality._RRF_TOP_K
        for r in rs:
            want = 0
            if r.lex_rank is not None:
                assert 1 <= r.lex_rank <= quality._RRF_LEG_TOP
                want += quality._RRF_SCALE // (quality._RRF_K + r.lex_rank)
            if r.emb_rank is not None:
                assert 1 <= r.emb_rank <= quality._RRF_LEG_TOP
                want += quality._RRF_SCALE // (quality._RRF_K + r.emb_rank)
            assert r.rrf_score == want and want > 0
            assert r.cand_id != r.q_id
    # fusion actually mixes: some returned row carries BOTH leg ranks
    assert any(r.lex_rank is not None and r.emb_rank is not None for r in rows)


def test_tv_drift_bounds_and_totals(spark, sf_dir):
    """TV numerator obeys 0 <= tv_num <= 2*tot_a*tot_b (TV in [0,1]); totals
    per type sum to the corpus count; the drift flag is exactly the integer
    comparison re-derived in-test."""
    from pg2parquet_spark.operators import quality
    from pg2parquet_spark.tables import table as load

    rows = quality.quality_tv_drift(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    assert sum(r.tot_a + r.tot_b for r in rows) == ev.count()
    for r in rows:
        assert 0 <= r.tv_num <= 2 * r.tot_a * r.tot_b
        one_sided = (r.tot_a == 0) != (r.tot_b == 0)
        assert r.drifted == ((r.tv_num * 5 > r.tot_a * r.tot_b) or one_sided)
        assert r.n_bins >= 1


def test_containment_finds_planted_snippet_inclusions(spark, sf_dir):
    """The suffix-extended planted copies (doc+2000000 = doc text + 5 new
    tokens) must appear as (original ⊂ copy) containment pairs, with the
    original on the small side; containment respects its threshold and the
    sizes are strictly ordered."""
    rows = dedup.dedup_containment_ngrams(spark, sf_dir).collect()
    pairs = {(r.doc_small, r.doc_large): r for r in rows}
    # docs % 7 == 0 got a ' zz0..zz4'-suffixed copy; 0 % 35 overlaps the
    # upper-cased copy family but original⊂suffix-copy still holds for all
    planted = [p for p in pairs if p[1] == p[0] + 2000000]
    assert len(planted) >= 70  # 72 planted at the fixture corpus size
    for r in rows:
        assert r.n_small < r.n_large
        assert 10 * r.common >= 9 * r.n_small
        assert r.containment == r.common / r.n_small


def test_supplier_similarity_topk_shape_and_symmetry(spark, sf_dir):
    """Exactly <=K partners per supplier, ranks contiguous from 1, Jaccard
    consistent with inter/union, and the measure is symmetric: if b is a's
    partner with (i,u), then the directed edge a->b and b->a (when present)
    carry identical inter/union."""
    from pg2parquet_spark.operators import graph

    rows = graph.graph_supplier_similarity(spark, sf_dir).collect()
    by_s = {}
    for r in rows:
        by_s.setdefault(r.suppkey, []).append(r)
    assert by_s, "no suppliers ranked"
    seen = {}
    for s, rs in by_s.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(rs) <= graph._NSIM_TOP_K
        for r in rs:
            assert r.jaccard == r.inter_cnt / r.union_cnt
            assert 0 < r.inter_cnt <= r.union_cnt
            seen[(r.suppkey, r.partner)] = (r.inter_cnt, r.union_cnt)
    for (a, b), iu in seen.items():
        if (b, a) in seen:
            assert seen[(b, a)] == iu


def test_supplier_similarity_cap_bounds_mega_customer(spark, tmp_path):
    """Adversarial buy-everything customer (the MinHash mega-bucket fixture
    pattern reapplied to the bipartite graph): customer 1 orders from 1100
    suppliers. Uncapped, that one key emits C(1100,2) ≈ 604k pairs from a
    single customer; with _NSIM_CUST_CAP=256 the capped plan must (a) still
    match the DuckDB oracle exactly — the cap is part of the CONTRACT, both
    engines apply it — (b) pair at most C(256,2) suppliers through any one
    customer, and (c) never rank a supplier reachable only through the
    capped-out tail (ids > 256 here, kept ordering is by suppkey)."""
    import duckdb
    import pandas as pd

    from pg2parquet_spark.operators import graph
    from pg2parquet_spark.registry import load_all

    mega, cap = 1100, graph._NSIM_CUST_CAP
    orders, lineitem = [], []
    # customer 1 → suppliers 1..1100, one order per supplier
    for k in range(1, mega + 1):
        orders.append((k, 1))
        lineitem.append((k, k))
    # normal customers 2..9 → overlapping supplier sets inside the kept range
    ok = mega + 1
    for c in range(2, 10):
        for s in range(1, 6 + (c % 3)):
            orders.append((ok, c))
            lineitem.append((ok, s))
            ok += 1
    pd.DataFrame(orders, columns=["o_orderkey", "o_custkey"]).to_parquet(
        str(tmp_path / "orders.parquet")
    )
    pd.DataFrame(lineitem, columns=["l_orderkey", "l_suppkey"]).to_parquet(
        str(tmp_path / "lineitem.parquet")
    )
    sf = str(tmp_path)

    rows = graph.graph_supplier_similarity(spark, sf).collect()
    got = {(r.suppkey, r.rank, r.partner, r.inter_cnt, r.union_cnt, r.jaccard)
           for r in rows}
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = load_all()["graph_supplier_similarity"].oracle
    want = set(map(tuple, con.execute(oracle).fetchall()))
    assert got == want, f"capped output diverged: {len(got)} vs {len(want)} rows"

    # suppliers reachable ONLY via the mega customer's capped-out tail must
    # not appear anywhere — the cap dropped them from pair candidacy
    tail = set(range(cap + 1, mega + 1))
    ranked = {r.suppkey for r in rows} | {r.partner for r in rows}
    assert not (ranked & tail), sorted(ranked & tail)[:5]
    # the mega customer contributes at most C(cap,2) distinct pairs: every
    # surviving (a,b) co-purchase pair lies inside the kept 1..cap window
    # or comes from the small customers (suppliers 1..8)
    for r in rows:
        assert r.suppkey <= cap and r.partner <= cap


def test_stream_left_outer_join_watermark_buffering(spark, sf_dir):
    """The outer join's null-side rows follow the watermark eviction rule:
    total expired-unmatched equals the batch-side recomputation, and at
    least one unmatched click near stream end stays buffered (NOT emitted) —
    the property that distinguishes a watermarked outer join from a batch
    outer join."""
    from pg2parquet_spark.streaming import queries as sq
    from pg2parquet_spark.tables import table as load

    rows = sq.stream_left_outer_join(spark, sf_dir).collect()
    got_expired = sum(r.n_expired_unmatched for r in rows)
    ev = load(spark, sf_dir, "events")
    c = ev.filter("event_type = 'click'").select("user_id", F.col("ts").alias("cts"))
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    m = (
        c.join(
            p,
            (F.col("pu") == F.col("user_id"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
            "left_outer",
        )
        .groupBy("user_id", "cts")
        .agg(F.count("pts").alias("n"))
    )
    wm_row = (
        c.agg(F.max("cts").alias("mc"))
        .crossJoin(p.agg(F.max("pts").alias("mp")))
        .selectExpr("least(mc, mp) - INTERVAL 1 HOUR AS w")
        .collect()[0]
    )
    unmatched = m.filter("n = 0")
    expired = unmatched.filter(
        F.col("cts") + F.expr("INTERVAL 30 MINUTES") < F.lit(wm_row.w)
    ).count()
    still_buffered = unmatched.count() - expired
    assert got_expired == expired
    assert still_buffered >= 1  # the tail click(s) the watermark protects


def test_attribution_last_touch_semantics(spark, sf_dir):
    """Row per purchase; attributed rows point at the LATEST click <= 7 days
    back (cross-checked per user against raw events); same-microsecond
    click/purchase pairs attribute (click sorts first)."""
    from pg2parquet_spark.operators import relational as rel

    rows = rel.q_events_attribution(spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events").collect()
    purchases = [e for e in ev if e.event_type == "purchase"]
    clicks = {}
    for e in ev:
        if e.event_type == "click":
            clicks.setdefault(e.user_id, []).append(e)
    assert len(rows) == len(purchases)
    by_pid = {r.purchase_event_id: r for r in rows}
    ev_by_id = {e.event_id: e for e in ev}
    for p in purchases:
        r = by_pid[p.event_id]
        cand = [
            c
            for c in clicks.get(p.user_id, [])
            if (c.ts, 0, c.event_id) <= (p.ts, 1, p.event_id)
        ]
        last = max(cand, key=lambda c: (c.ts, c.event_id), default=None)
        window_us = rel._ATTR_WINDOW_US
        if last is not None and (p.ts - last.ts).total_seconds() * 1e6 <= window_us:
            assert r.attributed and r.click_event_id == last.event_id
            assert r.gap_seconds == int((p.ts - last.ts).total_seconds())
            assert ev_by_id[r.click_event_id].ts <= p.ts
        else:
            assert not r.attributed and r.click_event_id is None


def test_markov_transitions_are_a_stochastic_matrix(spark, sf_dir):
    """Rows of the transition matrix sum to 1 per prev_type (within exact
    rational arithmetic: sum of n equals row_total), transitions count
    exactly n_events - n_users orderable steps, and every probability is
    n/row_total."""
    from pg2parquet_spark.operators import relational as rel
    from pg2parquet_spark.tables import table as load

    rows = rel.q_events_markov_transitions(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n for r in rows) == n_events - n_users
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r.prev_type, []).append(r)
        assert r.p == r.n / r.row_total
    for prev, rs in by_prev.items():
        assert sum(r.n for r in rs) == rs[0].row_total


def test_feature_hash_collision_audit_accounts_for_vocabulary(spark, sf_dir):
    """Top buckets are sorted by collision count; token mass and distinct
    counts are consistent with the raw vocabulary; buckets stay inside the
    2^k space."""
    from pg2parquet_spark.operators import quality
    from pg2parquet_spark.operators.text import tokens as toks
    from pg2parquet_spark.tables import table as load

    rows = quality.ml_feature_hash_collisions(spark, sf_dir).collect()
    assert len(rows) == quality._FHASH_TOP
    counts = [r.n_tokens for r in rows]
    assert counts == sorted(counts, reverse=True)
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(toks(F.col("text"))).alias("t")).distinct().count()
    )
    for r in rows:
        assert 0 <= r.bucket < (1 << quality._FHASH_BITS)
        assert 1 <= r.n_tokens <= vocab
        assert r.total_mass >= r.n_tokens


def test_bootstrap_ci_brackets_point_estimate(spark, sf_dir):
    """The Poisson-bootstrap CI must bracket the exact mean, be ordered, and
    be plausibly tight (width well under the mean for a 6000-row fixture);
    replicate count and row count are pinned."""
    from pg2parquet_spark.operators import quality
    from pg2parquet_spark.tables import table as load

    r = quality.quality_bootstrap_ci(spark, sf_dir).collect()[0]
    li = load(spark, sf_dir, "lineitem")
    assert r.n_rows == li.count()
    assert r.n_replicates == quality._BOOT_B
    assert r.ci_lo_cents < r.point_mean_cents < r.ci_hi_cents
    # relative width sanity: sigma/mean is O(1) for prices, so the CI of the
    # MEAN at n >= 600 rows is a few percent of the mean, not 100%
    width = r.ci_hi_cents - r.ci_lo_cents
    assert 0 < width < 0.5 * r.point_mean_cents
    # determinism: second run bit-identical
    r2 = quality.quality_bootstrap_ci(spark, sf_dir).collect()[0]
    assert (r.ci_lo_cents, r.ci_hi_cents) == (r2.ci_lo_cents, r2.ci_hi_cents)


def test_bootstrap_weight_grammar_equivalence():
    """The Spark side's codegen-lean weight spelling must equal the oracle's
    spelled-out grammar for every possible digest prefix: (a) the integer of
    the first 3 LOWERCASE hex nibbles compares to a threshold t exactly as
    the digest string compares to format(t, '03x') (lowercase hex orders
    lexicographically as its numeric value: '0'..'9' < 'a'..'f' in ASCII);
    (b) the ascending-threshold CASE chain equals the sum of >= indicators.
    Exhaustive over all 4096 3-nibble prefixes (the full u domain), with a
    longer-digest suffix to exercise the prefix-vs-full-string compare."""
    from pg2parquet_spark.operators.quality import _BOOT_THRESH

    hex3 = {t: format(t, "03x") for t in _BOOT_THRESH}
    for u in range(4096):
        digest = format(u, "03x") + "0123456789abcdef0123456789abc"  # 32 chars
        assert int(digest[:3], 16) == u
        # oracle grammar: first threshold the nibble-int is under, else 5
        case_val = len(_BOOT_THRESH)
        for k, t in enumerate(_BOOT_THRESH):
            if u < t:
                case_val = k
                break
        indic_val = sum(1 for t in _BOOT_THRESH if digest >= hex3[t])
        assert case_val == indic_val, (u, digest)


def test_tv_drift_flags_one_sided_epoch_as_drifted(spark, tmp_path):
    """A type that exists only before (or only after) the split is MAXIMAL
    drift and must be flagged even though the integer numerator is 0."""
    from datetime import datetime

    from pg2parquet_spark.operators import quality

    rows = [
        # 'dead_feed': only before the split
        (1, datetime(2024, 1, 2), 1, "dead_feed", 10.0, "{}"),
        (2, datetime(2024, 1, 3), 2, "dead_feed", 12.0, "{}"),
        # 'new_feed': only after the split
        (3, datetime(2024, 1, 20), 1, "new_feed", 5.0, "{}"),
        # 'steady': same distribution both sides → not drifted
        (4, datetime(2024, 1, 2), 3, "steady", 7.0, "{}"),
        (5, datetime(2024, 1, 20), 3, "steady", 7.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sfX")
    df.write.parquet(f"{d}/events.parquet")
    got = {r.event_type: r for r in quality.quality_tv_drift(spark, d).collect()}
    assert got["dead_feed"].drifted and got["dead_feed"].tot_b == 0
    assert got["new_feed"].drifted and got["new_feed"].tot_a == 0
    assert not got["steady"].drifted


def test_plane_family_is_distinct():
    """r5 review finding: the original LSH weight family ((37i+101j)%13)-6
    had period 13 in the plane id, so the whole multi-table design drew from
    only 13 distinct hyperplanes (offset 300 shared 9/10 planes with offset
    0) and the union-recall independence math was silently invalid. The
    shipped double-mod family must yield pairwise-distinct weight vectors
    for EVERY plane id any hash table uses at max width — and plane ids
    congruent mod 13 must no longer coincide."""
    from pg2parquet_spark.operators import dedup, similarity as sim

    # the recall tier's 8-table family is a superset of the primary's 4
    # offsets — checking the union covers both operators' independence math
    assert dedup._EMB_LSH_OFFSETS == dedup._EMB_RECALL_OFFSETS[: len(dedup._EMB_LSH_OFFSETS)]
    used = [
        j + off
        for off in dedup._EMB_RECALL_OFFSETS
        for j in range(dedup._ADAPT_MAX_BITS)
    ]
    vecs = {j: sim.plane_dot_sql("e", j, sim.EMB_DIM, False) for j in used}
    assert len(set(vecs.values())) == len(used), "hash tables share hyperplanes"
    # the old family's defect, pinned: j and j+13 were identical
    assert sim.plane_dot_sql("e", 0, sim.EMB_DIM, False) != sim.plane_dot_sql(
        "e", 13, sim.EMB_DIM, False
    )


def test_adaptive_lsh_five_bit_branch_matches_oracle(spark, tmp_path):
    """No fixture SF lands in the 751-1500 row band, so the 5-bit masked-key
    path (and its Hamming-1-only probe policy) would otherwise ship
    untested: build a 900-vector corpus, run the adaptive query AND its
    DuckDB oracle on the same directory, and require exact agreement plus
    recall >= the family floor vs in-test brute force."""
    import duckdb
    import numpy as np

    rng_free_vectors = []
    dim = similarity.EMB_DIM
    for vid in range(900):
        # deterministic unit vectors with planted near-dup pairs: vid%90==0
        # gets a slightly perturbed twin at vid+10000... keep ids < 10000
        raw = np.array(
            [(((vid * 131 + i * 17) % 997) - 498) / 498.0 for i in range(dim)]
        )
        rng_free_vectors.append((vid, (raw / np.linalg.norm(raw)).tolist()))
    df = spark.createDataFrame(
        [(v, e, 0) for v, e in rng_free_vectors],
        "vec_id long, embedding array<float>, label int",
    )
    d = str(tmp_path / "sf5bit")
    # one part file, matching the driver's sf-dir layout: DuckDB evaluates
    # the oracle's ~600-term key expressions per 28-row scan chunk on a
    # 32-file glob (measured 17 s + a multi-GB balloon that OOMs next to
    # the JVM vs 1.7 s consolidated)
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    got = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_lsh(spark, d).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet/*.parquet'"
    )
    want = {
        (r[0], r[1]): r[2] for r in con.execute(dedup._adapt_oracle_sql()).fetchall()
    }
    assert got == want, (
        f"5-bit path diverged from oracle: {len(got)} vs {len(want)} pairs"
    )
    # brute-force recall floor over the float32-rounded corpus (what parquet
    # stores — float64 inputs would shift dots at the threshold boundary)
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in spark.read.parquet(f"{d}/embeddings.parquet").collect()}
    ids = sorted(emb)
    X = np.stack([emb[i] for i in ids])
    S = X @ X.T
    iu = np.triu_indices(len(ids), 1)
    thresh = dedup._EMB_COS_THRESHOLD
    exact = {(ids[a], ids[b]) for a, b in zip(*iu) if S[a, b] >= thresh}
    if exact:
        recall = len(set(got) & exact) / len(exact)
        # measured 0.697 on this corpus: the lattice construction masses its
        # pairs AT the 0.4 decision boundary (worst case for sign-LSH, where
        # per-plane agreement is lowest) — the floor is set to catch a
        # COLLAPSE (plane/probe regression → ~0.4), not boundary-mass noise
        assert recall >= 0.60, f"5-bit recall collapsed: {recall:.3f}"


def test_cluster_purity_consistent_with_kmeans_partition(spark, sf_dir):
    """Purity rows must describe exactly the k-means partition: same cluster
    ids and sizes as ml_kmeans_fixed, majority counts consistent (recomputed
    in-test from the assignment + labels), purity = majority/size."""
    from collections import Counter

    from pg2parquet_spark.operators import similarity as sim
    from pg2parquet_spark.tables import table as load

    purity = {r.cid: r for r in sim.ml_cluster_purity(spark, sf_dir).collect()}
    assign = sim.ml_kmeans_fixed(spark, sf_dir).collect()
    labels = {
        r.vec_id: r.label for r in load(spark, sf_dir, "embeddings").collect()
    }
    by_cid = {}
    for r in assign:
        by_cid.setdefault(r.cid, []).append(labels[r.vec_id])
    assert set(purity) == set(by_cid)
    for cid, labs in by_cid.items():
        p = purity[cid]
        assert p.n_members == len(labs)
        counts = Counter(labs)
        best_n = max(counts.values())
        best_lab = min(l for l, n in counts.items() if n == best_n)
        assert (p.majority_label, p.majority_n) == (best_lab, best_n)
        assert p.purity == best_n / len(labs)
        assert 0 < p.purity <= 1


_MEGA_N_TOTAL, _MEGA_N = 1600, 300  # 1600 > 1500 -> bits = 6, caps live


def _write_mega_corpus(spark, tmp_path) -> str:
    """Adversarial mega-cluster fixture (the MinHash mega-bucket pattern
    reapplied to embeddings): 300 of 1600 vectors are tiny deterministic
    perturbations of one base vector — perturb magnitude 1e-4, so the sign
    pattern (and every bucket key) is identical across the cluster and
    cosine stays ~1. Written as ONE part file (DuckDB's evaluation of the
    ~600-term key expressions is pathological over a multi-file glob)."""
    import numpy as np

    dim = similarity.EMB_DIM
    base = np.array([(((7 * i + 3) % 101) - 50) / 50.0 for i in range(dim)])
    base /= np.linalg.norm(base)
    vecs = []
    for vid in range(_MEGA_N):
        pert = np.array(
            [((vid * 131 + i * 17) % 7 - 3) * 1e-4 for i in range(dim)]
        )
        v = base + pert
        vecs.append((vid, (v / np.linalg.norm(v)).tolist(), 0))
    for vid in range(_MEGA_N, _MEGA_N_TOTAL):
        raw = np.array(
            [(((vid * 257 + i * 29) % 1009) - 504) / 504.0 for i in range(dim)]
        )
        vecs.append((vid, (raw / np.linalg.norm(raw)).tolist(), 1))
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "sfmega")
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    return d


@pytest.mark.slowtier
def test_embedding_lsh_cap_bounds_mega_cluster(spark, tmp_path):
    """Uncapped, the mega bucket alone emits C(300,2) ≈ 45k pairs per
    table; with _EMB_BUCKET_CAP=64 the capped plan must (a) still match
    the DuckDB oracle exactly — the cap is part of the CONTRACT, both
    engines apply it — (b) actually drop members, which the bucket audit
    must report (and the audit must match ITS oracle), and (c) emit no
    pair whose BOTH endpoints sit past the per-bucket candidacy window in
    every table."""
    import duckdb

    n_mega = _MEGA_N
    d = _write_mega_corpus(spark, tmp_path)

    got = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.dedup_embedding_cosine_lsh(spark, d).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet/*.parquet'"
    )
    want = {
        (r[0], r[1]): r[2] for r in con.execute(dedup._adapt_oracle_sql()).fetchall()
    }
    assert got == want, f"capped output diverged: {len(got)} vs {len(want)} pairs"

    # the cap must be LIVE here: every hash table sees the >=300-member
    # bucket, so each reports >= 300 - 64 dropped members — and the audit
    # agrees with its own oracle
    audit = {
        r.table_idx: r
        for r in dedup.dedup_embedding_bucket_audit(spark, d).collect()
    }
    audit_want = {
        r[0]: r for r in con.execute(dedup._emb_audit_oracle_sql()).fetchall()
    }
    assert set(audit) == set(audit_want)
    for t, r in audit.items():
        assert (r.table_idx, r.n_buckets, r.max_bucket, r.n_oversized,
                r.n_dropped_members) == tuple(audit_want[t])
        assert r.max_bucket >= n_mega
        assert r.n_dropped_members >= n_mega - dedup._EMB_BUCKET_CAP

    # no pair may join two capped-out members: the mega-cluster's candidacy
    # window is its first 64 vec_ids per bucket, identical in all tables
    # (identical keys), so pairs with BOTH ids in the capped-out tail
    # (>= 64 within the mega cluster) must be absent
    tail_pairs = [
        p for p in got
        if p[0] >= dedup._EMB_BUCKET_CAP and p[1] < n_mega
    ]
    assert not tail_pairs, f"{len(tail_pairs)} pairs between capped-out members"


@pytest.mark.slowtier
def test_embedding_incremental_matches_oracle_on_mega_cluster(spark, tmp_path):
    """The incremental ingest on the adversarial corpus: the new-batch
    slice (vec_id % 17 = 5) contains mega-cluster members, so the corpus-
    side candidacy cap and the corpus-occupancy probe gate are both live.
    Must (a) match the DuckDB oracle exactly, (b) report only cross-split
    pairs (new ids on the left, corpus ids on the right — the corpus is
    never self-joined), and (c) find a corpus near-dup for every new
    mega-cluster member inside the candidacy window (recall sanity: their
    cosine to the window members is ~1)."""
    import duckdb

    d = _write_mega_corpus(spark, tmp_path)
    rows = dedup.dedup_embedding_incremental(spark, d).collect()
    got = {(r.new_id, r.old_id): r.cos_sim for r in rows}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet/*.parquet'"
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(dedup._emb_inc_oracle_sql()).fetchall()
    }
    assert got == want, f"incremental diverged: {len(got)} vs {len(want)} pairs"

    assert got, "adversarial corpus must produce cross-split near-dups"
    for new_id, old_id in got:
        assert new_id % 17 == 5, f"left id {new_id} not in the batch slice"
        assert old_id % 17 != 5, f"right id {old_id} not in the corpus"

    # every new mega-cluster member must match at least one corpus member:
    # the first 64 corpus rows of the mega bucket are in the candidacy
    # window and cosine within the cluster is ~1 >= the 0.4 threshold
    new_mega = {v for v in range(_MEGA_N) if v % 17 == 5}
    matched = {n for n, _ in got}
    assert new_mega <= matched, f"unmatched new mega members: {new_mega - matched}"


def test_recall_audit_model_matches_independent_math():
    """The host-side recall-ceiling table must equal an independently-coded
    evaluation of P(collide in >=1 probed bucket of >=1 table), and the
    verdict must flip exactly where the ceiling crosses the 0.8 target:
    'ok' at the fixture widths (<=8 bits), 'degraded' at the scale widths
    (>=9 bits) for the 0.4 contract threshold."""
    import math

    from pg2parquet_spark.operators.dedup import (
        _ADAPT_MAX_BITS,
        _EMB_LSH_OFFSETS,
        _adapt_probe_masks,
        _adapt_recall_model,
    )

    model = {(b, c): (nm, r) for b, nm, c, r in _adapt_recall_model()}
    for b in range(4, _ADAPT_MAX_BITS + 1):
        masks = _adapt_probe_masks(b)
        for c in (0.4, 0.9):
            p = 1.0 - math.acos(c) / math.pi
            # independent formulation: sum per-mask exact flip-pattern probs
            p1 = sum(
                p ** (b - bin(m).count("1")) * (1 - p) ** bin(m).count("1")
                for m in masks
            )
            want = 1.0 - (1.0 - p1) ** len(_EMB_LSH_OFFSETS)
            nm, got = model[(b, c)]
            assert nm == len(masks)
            assert abs(got - want) < 1e-6, (b, c, got, want)
    # the honesty property this audit exists for: the ceiling at the 0.4
    # contract threshold is high at fixture widths and COLLAPSES at scale
    assert model[(6, 0.4)][1] >= 0.95
    assert model[(11, 0.4)][1] < 0.5
    assert model[(14, 0.4)][1] < 0.15
    # recall tier (8 tables, full H<=2 ball): same independent math, and
    # its ceiling must dominate the primary's at EVERY (bits, cos) point —
    # the OR-construction monotonicity the tier exists to buy
    from pg2parquet_spark.operators.dedup import (
        _EMB_RECALL_OFFSETS,
        _EMB_RECALL_PROBE_BUDGET,
    )

    tier = {
        (b, c): (nm, r)
        for b, nm, c, r in _adapt_recall_model(
            len(_EMB_RECALL_OFFSETS), _EMB_RECALL_PROBE_BUDGET
        )
    }
    for b in range(4, _ADAPT_MAX_BITS + 1):
        masks = _adapt_probe_masks(b, _EMB_RECALL_PROBE_BUDGET)
        # full-ball budget must never truncate
        want_n = 1 + b + (b * (b - 1) // 2 if b >= 6 else 0)
        assert len(masks) == want_n, (b, len(masks), want_n)
        for c in (0.4, 0.9):
            p = 1.0 - math.acos(c) / math.pi
            p1 = sum(
                p ** (b - bin(m).count("1")) * (1 - p) ** bin(m).count("1")
                for m in masks
            )
            want = 1.0 - (1.0 - p1) ** len(_EMB_RECALL_OFFSETS)
            nm, got = tier[(b, c)]
            assert nm == len(masks)
            assert abs(got - want) < 1e-6, (b, c, got, want)
            assert got >= model[(b, c)][1] - 1e-12, (b, c)
    # the tier's headline numbers (registered docstrings carry these)
    assert tier[(11, 0.4)][1] > 0.7
    assert tier[(14, 0.4)][1] > 0.4


def test_recall_audit_rows_and_verdict(spark):
    from pg2parquet_spark.operators.dedup import dedup_embedding_lsh_recall_audit

    rows = dedup_embedding_lsh_recall_audit(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 5  # one per reference cosine level
    by_cos = {r.cos_level: r for r in rows}
    # sf0.01 (500 vectors) -> 4 bits: every level's ceiling is healthy
    assert all(r.verdict == "ok" for r in rows)
    assert by_cos[0.4].bits == 4 and by_cos[0.4].n_tables == 4
    assert by_cos[0.9].recall_ceiling > by_cos[0.4].recall_ceiling
