"""Dedup-stack tests with planted duplicates/near-duplicates."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipelines_spark.operators.dedup import (
    exact_duplicates,
    hamming_distance,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_signatures,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the rain taps gently on the glass"
)
NEAR = BASE.replace("gently", "softly")  # one-word edit → near-dup
FAR = (
    "completely different content about distributed query engines and "
    "columnar shuffle services running on large compute clusters"
)


def _docs(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, FAR), (3, BASE)],
        "doc_id long, text string",
    )


def test_exact_duplicates(spark):
    out = {r["keeper_id"]: r["dup_cnt"] for r in exact_duplicates(_docs(spark)).collect()}
    assert out[0] == 2      # docs 0 and 3 identical
    assert out[1] == 1 and out[2] == 1


def test_minhash_signature_identical_docs_equal(spark):
    sigs = {r["doc_id"]: r["minhash"] for r in minhash_signatures(_docs(spark)).collect()}
    assert sigs[0] == sigs[3]
    assert sigs[0] != sigs[2]


def test_minhash_finds_planted_near_dup(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_near_duplicates(_docs(spark), jaccard_threshold=0.5).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.5
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_minhash_degenerate_bucket_guard(spark):
    """r10 (found by the 10× corpus probe): corpus-wide boilerplate can
    pin many docs' band minima to identical values, and one bucket of B
    docs costs B²/2 candidate pairs. The guard must raise BEFORE the
    join — and stay silent on healthy corpora."""
    import pytest

    # 12 docs sharing the same text -> every band bucket holds all 12
    degenerate = spark.createDataFrame(
        [(i, "the same boilerplate footer text everywhere") for i in range(12)],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="max_bucket"):
        minhash_near_duplicates(
            degenerate, jaccard_threshold=0.5, max_bucket=5
        ).count()
    # healthy corpus: guarded result == unguarded result
    guarded = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_duplicates(
            _docs(spark), jaccard_threshold=0.5, max_bucket=5
        ).collect()
    }
    unguarded = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_duplicates(
            _docs(spark), jaccard_threshold=0.5, max_bucket=None
        ).collect()
    }
    assert guarded == unguarded and guarded

    # incremental path: batch-side guard fires on a degenerate batch
    from data_pipelines_spark.operators.dedup import (
        incremental_near_duplicates,
        minhash_signatures,
    )

    store_sigs = minhash_signatures(_docs(spark))
    with pytest.raises(Exception, match="max_bucket"):
        pairs, _ = incremental_near_duplicates(
            degenerate.withColumn("doc_id", F.col("doc_id") + 100),
            store_sigs,
            jaccard_threshold=0.5,
            max_bucket=5,
        )
        pairs.count()


def test_ngram_jaccard_exact_verification(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert pairs[(0, 3)] == 1.0
    assert 0.5 <= pairs[(0, 1)] < 1.0


def test_simhash_hamming_orders_similarity(spark):
    sigs = simhash_signatures(_docs(spark))
    a = sigs.alias("a")
    b = sigs.alias("b")
    d = (
        a.crossJoin(b)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("ham"),
        )
        .collect()
    )
    ham = {(r["da"], r["db"]): r["ham"] for r in d}
    assert ham[(0, 3)] == 0                 # identical docs
    assert ham[(0, 1)] < ham[(0, 2)]        # near-dup closer than far doc
    assert ham[(0, 1)] < 16


def test_duplicate_clusters_and_survivors(spark):
    """Transitive closure: a~b, b~c ⇒ {a,b,c} one cluster with min-id
    keeper; isolated docs are their own singleton clusters."""
    from data_pipelines_spark.operators.dedup import (
        dedup_survivors,
        duplicate_clusters,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (0, 4)], "doc_a long, doc_b long"
    )
    clusters = duplicate_clusters(docs, pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 0, 5: 1}
    survivors = sorted(r["doc_id"] for r in dedup_survivors(docs, clusters).collect())
    assert survivors == [0, 1, 2]


def test_full_dedup_pipeline_end_to_end(spark):
    """minhash pairs → clusters → survivors over planted duplicates."""
    from data_pipelines_spark.operators.dedup import (
        dedup_survivors,
        duplicate_clusters,
        minhash_near_duplicates,
    )

    docs = _docs(spark)  # 0 == 3 exact, 1 near-dup of both, 2 distinct
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    clusters = duplicate_clusters(docs, pairs)
    survivors = sorted(r["doc_id"] for r in dedup_survivors(docs, clusters).collect())
    assert survivors == [0, 2]  # 1 and 3 collapse into cluster 0


def test_fast_and_portable_verified_pair_sets_agree(spark):
    """The invariant the minhash_near_dup_pairs oracle rests on: after
    exact verification AT the decision threshold, the fast
    (OPH/xxhash64) and portable (md5) pipelines emit the IDENTICAL
    pair set. The raw candidate sets may legitimately differ at larger
    corpus sizes (each sketch produces its own borderline
    overestimates on unrelated docs — observed at sf0.1), which is
    exactly why the entry thresholds on the exact value."""
    from data_pipelines_spark.operators.dedup import (
        minhash_near_duplicates,
        verify_pairs_exact,
    )
    from data_pipelines_spark.sources.tables import load_table

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = load_table(spark, sf_dir, "documents")
        verified = []
        for portable in (False, True):
            cand = minhash_near_duplicates(
                docs, jaccard_threshold=0.5, portable=portable
            )
            verified.append(
                {
                    (r.doc_a, r.doc_b, r.exact_jaccard)
                    for r in verify_pairs_exact(
                        docs, cand, broadcast_pairs=True, min_jaccard=0.5
                    ).collect()
                }
            )
        assert verified[0] == verified[1], sf_dir
        assert verified[0]  # non-empty: the corpus plants near-duplicates


def test_verify_pairs_exact_values(spark):
    from data_pipelines_spark.operators.dedup import verify_pairs_exact

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij"), (3, "zzzzzzzzzz")],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], ["doc_a", "doc_b"])
    out = {(r.doc_a, r.doc_b): r.exact_jaccard
           for r in verify_pairs_exact(docs, pairs).collect()}
    assert out[(1, 2)] == 1.0   # identical texts
    assert out[(1, 3)] == 0.0   # disjoint shingles
    kept = verify_pairs_exact(docs, pairs, min_jaccard=0.5).collect()
    assert [(r.doc_a, r.doc_b) for r in kept] == [(1, 2)]


def test_oph_requires_power_of_two_hashes(spark):
    import pytest as _pytest

    from data_pipelines_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])
    # 0 and 1 pass the bit test, but one bucket needs a zero-bit rank
    # shift: forcing a 1-bit shift read bucket 0 only and silently
    # dropped the odd-hashed shingles.
    for n in (48, 0, 1):
        with _pytest.raises(ValueError, match="power of two"):
            minhash_signatures(docs, num_hashes=n)


def test_incremental_near_duplicates_matches_full_run(spark):
    """Incremental batch-vs-store detection must find exactly the
    full-corpus pairs that touch the new batch (same est values), and
    never emit corpus-corpus pairs."""
    from data_pipelines_spark.operators.dedup import incremental_near_duplicates

    corpus = spark.createDataFrame(
        [(0, BASE), (1, FAR), (2, BASE + " extra trailing words here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        # 10: near-dup of corpus 0; 11/12: near-dups of each other;
        # 13: unique
        [(10, NEAR), (11, FAR), (12, FAR.replace("large", "huge")),
         (13, "entirely novel text with no relatives in any corpus at all")],
        "doc_id long, text string",
    )
    store = minhash_signatures(corpus)
    pairs, new_sigs = incremental_near_duplicates(
        batch, store, jaccard_threshold=0.5
    )
    got = {
        frozenset((r["doc_a"], r["doc_b"])): r["est_jaccard"]
        for r in pairs.collect()
    }

    full = minhash_near_duplicates(
        corpus.unionByName(batch), jaccard_threshold=0.5
    )
    new_ids = {10, 11, 12, 13}
    want = {
        frozenset((r["doc_a"], r["doc_b"])): r["est_jaccard"]
        for r in full.collect()
        if r["doc_a"] in new_ids or r["doc_b"] in new_ids
    }
    assert got == want
    assert want, "fixture must plant at least one cross and one intra pair"
    assert any(p & {0, 1, 2} for p in got), "cross batch-corpus pair expected"
    assert frozenset((11, 12)) in got, "intra-batch pair expected"
    # doc_a is always from the batch
    assert all(r["doc_a"] in new_ids for r in pairs.collect())
    # returned signatures are the batch's signatures
    sig_rows = {r["doc_id"]: r["minhash"] for r in new_sigs.collect()}
    direct = {r["doc_id"]: r["minhash"] for r in minhash_signatures(batch).collect()}
    assert sig_rows == direct


def test_duplicate_clusters_nonconvergence_guard(spark):
    """A chain component longer than max_iterations is the silent-split
    hazard: min-label propagation moves the min one hop per round, so a
    25-node path needs 24 rounds. With a smaller bound the default must
    RAISE (labels would be a split of the true cluster);
    on_max_iterations='return' hands back the partial labels; a
    sufficient bound converges to one cluster."""
    import pytest as _pytest

    from data_pipelines_spark.operators.dedup import duplicate_clusters

    # 13-node path: 12 propagation rounds to converge — still far past
    # the max_iterations=5 bound below, so the contract triple
    # (raise / partial-split / converge) is exercised identically to a
    # longer chain at half the iteration wall time.
    n = 13
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(n)], "doc_id long, text string"
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(docs, chain, max_iterations=5)

    partial = duplicate_clusters(
        docs, chain, max_iterations=5, on_max_iterations="return"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in partial.collect()}
    assert len(set(got.values())) > 1  # demonstrably split — why we raise

    full = duplicate_clusters(docs, chain, max_iterations=n)
    assert {r["cluster_id"] for r in full.collect()} == {0}

    with _pytest.raises(ValueError, match="on_max_iterations"):
        duplicate_clusters(docs, chain, on_max_iterations="warn")
    with _pytest.raises(ValueError, match="max_iterations"):
        duplicate_clusters(docs, chain, max_iterations=0)


def test_exact_duplicates_quality_keeper(spark):
    """quality_col switches keeper policy to best-copy-wins (ties to
    the smallest id), and stays partition-invariant."""
    docs = spark.createDataFrame(
        [
            (1, "same text", 0.2),
            (2, "same text", 0.9),   # highest quality -> keeper
            (3, "same text", 0.9),   # tie loses to smaller id
            (4, "other", 0.1),
            (5, None, 0.5),          # NULL quality never beats a real score
            (6, None, None),
        ],
        "doc_id long, text string, q double",
    )
    docs = docs.na.fill({"text": ""}).selectExpr(
        "doc_id", "concat('t', text) AS text", "q"
    )
    for parts in (1, 4):
        out = {
            r["keeper_id"]: r["dup_cnt"]
            for r in exact_duplicates(
                docs.repartition(parts), quality_col="q"
            ).collect()
        }
        assert out == {2: 3, 4: 1, 5: 2}
    # default policy unchanged: min id
    out = {r["keeper_id"] for r in exact_duplicates(docs).collect()}
    assert out == {1, 4, 5}


def test_exact_duplicates_policies_single_pass_matches_two_calls(spark):
    """The fused one-pass form must agree bitwise with the two
    separate exact_duplicates calls, and its plan must contain exactly
    ONE shuffle (vs two scans + two shuffles for the pair)."""
    from pyspark.sql import functions as F

    from data_pipelines_spark.operators.dedup import (
        exact_duplicates,
        exact_duplicates_policies,
    )
    from data_pipelines_spark.plans.audit import plan_string

    docs = spark.createDataFrame(
        [
            (1, "aaa", 5.0), (2, "aaa", 9.0), (3, "aaa", None),
            (4, "bbb", 1.0), (5, "ccc", None), (6, "ccc", None),
        ],
        "doc_id long, text string, q double",
    )
    fused = {
        r.text_md5: (r.dup_cnt, r.keeper_min_id, r.keeper_best_id)
        for r in exact_duplicates_policies(docs, quality_col="q").collect()
    }
    mins = {r.text_md5: r.keeper_id for r in exact_duplicates(docs).collect()}
    bests = {
        r.text_md5: r.keeper_id
        for r in exact_duplicates(docs, quality_col="q").collect()
    }
    assert set(fused) == set(mins) == set(bests)
    for h, (_cnt, kmin, kbest) in fused.items():
        assert kmin == mins[h]
        assert kbest == bests[h]

    plan = plan_string(exact_duplicates_policies(docs, quality_col="q"))
    assert plan.count("Exchange") == 1


def test_signature_run_head_extraction_matches_per_bucket_minima(spark):
    """r15: the one-pass rotate-sort-run-head signature build is
    bit-identical to the per-bucket filter+min formulation (the r14
    shape), including empty/short/NULL texts where buckets densify."""
    from pyspark.sql import functions as F

    from data_pipelines_spark.functions.text import let
    from data_pipelines_spark.operators.dedup import (
        char_shingles,
        minhash_signatures,
    )

    num_hashes, shift, k = 64, 6, 5

    def old_build(hs):
        def bucket_min(i):
            return F.array_min(
                F.transform(
                    F.filter(hs, lambda h: F.pmod(h, F.lit(num_hashes)) == i),
                    lambda h: F.shiftrightunsigned(h, shift),
                )
            )

        raw = F.array(*[bucket_min(i) for i in range(num_hashes)])

        def densify(arr):
            gmin = F.array_min(arr)
            return F.transform(
                arr,
                lambda x, i: F.coalesce(
                    x,
                    F.pmod(
                        gmin + (i + 1).cast("long") * 2654435761,
                        F.lit(1 << 61),
                    ),
                ),
            )

        return let(raw, densify)

    rows = [(i, f"document {i} text body with shared words {i % 7}")
            for i in range(40)]
    rows += [(100, ""), (101, "ab"), (102, "abcd"), (103, "abcde"),
             (104, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hashes = F.transform(
        char_shingles(F.col("text"), k), lambda s: F.xxhash64(s)
    )
    old = docs.select(
        F.col("doc_id"), let(hashes, old_build).alias("m_old")
    )
    joined = minhash_signatures(docs, shingle_k=k).join(old, "doc_id")
    bad = joined.where(
        ~F.col("minhash").eqNullSafe(F.col("m_old"))
    ).count()
    assert bad == 0
