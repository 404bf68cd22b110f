"""Dedup operators: idempotence, determinism, fingerprint collapse, and
LSH recall against the exact-Jaccard ground truth (SURVEY §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_deduplication_spark.operators.dedup import (
    dedup_exact,
    dedup_fingerprint,
    dedup_keep_first,
    minhash_candidate_pairs,
    minhash_dedup,
    simhash_dedup,
    with_surrogate_id,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank!"),  # ~= 1
    (3, "The QUICK  brown fox jumps over the lazy dog near the river bank"),  # ≡ 1 after normalize
    (4, "spark engines shuffle data between executors during wide transformations"),
    (5, "spark engines shuffle data between executors during wide transformation stages"),  # ~= 4
    (6, "completely unrelated content about cooking pasta with fresh tomatoes"),
    (7, "completely unrelated content about cooking pasta with fresh tomatoes"),  # == 6
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_dedup_exact_idempotent(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    once = dedup_exact(part, ["p_name"])
    twice = dedup_exact(once, ["p_name"])
    assert once.count() == twice.count() == part.select("p_name").distinct().count()


def test_dedup_keep_first_deterministic(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    a = dedup_keep_first(part, ["p_name"], ["p_partkey"]).collect()
    b = dedup_keep_first(part, ["p_name"], ["p_partkey"]).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))
    # keeps the MIN partkey per name
    mins = {r.p_name: r.p_partkey
            for r in part.groupBy("p_name").agg(F.min("p_partkey").alias("p_partkey")).collect()}
    for r in a:
        assert r.p_partkey == mins[r.p_name]


def test_fingerprint_exact_semantics(spark):
    out = dedup_fingerprint(_docs(spark), "text", "doc_id")
    kept = sorted(r.doc_id for r in out.collect())
    # docs 1,2,3 normalize identically → one survivor (min id = 1);
    # 6,7 identical → survivor 6; 4,5 differ (extra word) → both kept.
    assert kept == [1, 4, 5, 6]


def test_minhash_recall_vs_exact_jaccard(spark):
    docs = _docs(spark)
    threshold = 0.7
    # exact ground truth on word-3-gram jaccard
    from pyspark_deduplication_spark.functions.text import tokenize, word_ngrams_of

    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    sh = toks.select("doc_id", word_ngrams_of(F.col("t"), 3).alias("g"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = (F.size(F.array_intersect("a.g", "b.g")).cast("double")
           / F.size(F.array_union("a.g", "b.g")).cast("double"))
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
                jac.alias("j")).filter(F.col("j") >= threshold).collect()
    }
    found = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs, "text", "doc_id", 64, 16, 3)
        .filter(F.col("jaccard_sim") >= threshold).collect()
    }
    assert truth, "fixture must contain true near-dups"
    # verified candidates are exact-Jaccard-checked, so no false positives:
    assert found <= truth
    # recall: 16 bands x 4 rows at j>=0.7 catches essentially everything
    assert len(found) >= len(truth) * 0.9


def test_minhash_signature_slots_are_independent(spark):
    """Regression: ``F.transform`` dispatches on lambda arity — a
    two-parameter lambda is called as (element, array_index), which
    overrode the per-slot seed and collapsed all 64 signature slots to
    one position-salted hash (zero LSH amplification). Distinct slot
    values prove 64 genuinely different hash functions."""
    from pyspark_deduplication_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"])
    sig = minhash_signatures(docs, "text", "doc_id", 64, 3).collect()[0].signature
    assert len(sig) == 64
    # 64 independent mins over 8 shingle hashes: near-zero collision mass
    assert len(set(sig)) > 48


def test_minhash_dedup_removes_near_dups(spark):
    kept = sorted(r.doc_id for r in
                  minhash_dedup(_docs(spark), threshold=0.7).select("doc_id").collect())
    # cluster {1,2,3} → keep 1; {4,5} → keep 4 (if caught); {6,7} → keep 6
    assert 1 in kept and 6 in kept
    assert 2 not in kept and 3 not in kept and 7 not in kept


def test_simhash_identical_docs_collapse(spark):
    kept = sorted(r.doc_id for r in
                  simhash_dedup(_docs(spark), max_hamming=3).select("doc_id").collect())
    assert 7 not in kept  # exact clone of 6
    assert 1 in kept


def test_surrogate_id_unique_and_deterministic(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = with_surrogate_id(cust, "id")
    assert out.select("id").distinct().count() == cust.count()
    det = with_surrogate_id(cust.select("c_name"), "id",
                            deterministic_order=["c_name"])
    rows = det.orderBy("id").collect()
    assert [r.id for r in rows] == list(range(1, len(rows) + 1))
    assert rows == sorted(rows, key=lambda r: r.c_name)


def test_surrogate_id_scalable_matches_window(spark, sf_dir):
    from pyspark_deduplication_spark.plans.inspect import explain_str

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_name")
    w = with_surrogate_id(cust, "id", deterministic_order=["c_name"])
    z = with_surrogate_id(cust, "id", deterministic_order=["c_name"],
                          scalable=True)
    assert sorted((r.id, r.c_name) for r in w.collect()) == \
        sorted((r.id, r.c_name) for r in z.collect())
    # JVM-side contract: no row ever round-trips through Python workers;
    # exactly ONE data-sized shuffle (the range repartition), which the
    # offset branch READS BACK via exchange reuse — the reuse is the
    # correctness pin: two independent range shuffles would re-sample
    # boundaries with different RDD-id seeds and could disagree on
    # partition membership between offset derivation and id stamping
    plan = explain_str(z)
    assert "PythonRDD" not in plan and "BatchEvalPython" not in plan, plan
    assert "Scan ExistingRDD" not in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    # the corpus is scanned and range-shuffled exactly once; the offset
    # branch reads that same shuffle back (ReusedExchange) — remaining
    # exchanges operate on the ≤ n_parts aggregate rows only
    assert final.count("Scan parquet") == 1, plan
    assert "ReusedExchange" in final, plan


def test_keep_first_is_partial_aggregate(spark, sf_dir):
    """The deterministic dedup must compile to a hash aggregate with
    map-side partial merge, NOT a window sort (scale contract)."""
    from pyspark_deduplication_spark.plans.inspect import explain_str

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    plan = explain_str(dedup_keep_first(part, ["p_name"], ["p_partkey"]))
    assert "partial_min_by" in plan or "partial_min" in plan
    assert "Window" not in plan


def test_minhash_bucket_size_guard(spark):
    """A corpus of identical docs creates one mega-bucket; the guard must
    suppress the m² pair blowup while regular near-dups still link."""
    boiler = [(i, "exactly the same boilerplate text repeated many times "
                  "over and over in this synthetic corpus") for i in range(20)]
    # long near-dup pair (1 word changed over ~30 tokens → jaccard ≈ 0.9,
    # so P(no band collision) ≈ 4e-8 — statistically safe to assert)
    base = ("spark engines shuffle data between executors during wide "
            "transformations while the scheduler assigns tasks to slots "
            "and the adaptive planner rewrites joins at runtime based on "
            "observed partition statistics from the previous stage")
    near_dups = [(100, base), (101, base.replace("observed", "measured"))]
    docs = spark.createDataFrame(boiler + near_dups,
                                 "doc_id long, text string")
    unguarded = minhash_candidate_pairs(docs, "text", "doc_id").count()
    guarded = minhash_candidate_pairs(docs, "text", "doc_id",
                                      max_bucket_size=5).count()
    assert unguarded >= 190          # 20 boilerplate docs → C(20,2) pairs
    assert guarded < unguarded       # mega-bucket suppressed
    # the non-boilerplate near-dup pair (4,5) survives via its own buckets
    got = {(r.id_a, r.id_b)
           for r in minhash_candidate_pairs(docs, "text", "doc_id",
                                            max_bucket_size=5)
           .filter(F.col("jaccard_sim") >= 0.5).collect()}
    assert (100, 101) in got


def test_minhash_bucket_guard_bounds_candidates_at_1k(spark):
    """The m²-suppression promise at scale (VERDICT r03 item 7): 1,000
    byte-identical docs would alone produce C(1000,2) = 499,500 candidate
    pairs; with the guard the whole run must stay bounded by the
    non-degenerate population while recall on the genuine near-dup pairs
    stays perfect."""
    import random

    mega = [(1000 + i, "identical boilerplate body that lands every band "
                       "in one mega bucket for all member documents")
            for i in range(1000)]
    rng = random.Random(3)
    vocab = [f"w{j}" for j in range(400)]
    pairs, docs = [], []
    for p in range(5):
        words = rng.sample(vocab, 30)
        base = " ".join(words)
        twin = " ".join(words[:-1] + [f"tail{p}"])
        docs += [(2 * p, base), (2 * p + 1, twin)]
        pairs.append((2 * p, 2 * p + 1))
    df = spark.createDataFrame(mega + docs, "doc_id long, text string")
    got = minhash_candidate_pairs(df, "text", "doc_id",
                                  max_bucket_size=50).collect()
    ids = {(r.id_a, r.id_b) for r in got}
    # no pair survives with BOTH ends inside the mega-cluster
    assert not any(a >= 1000 and b >= 1000 for a, b in ids)
    # bounded: orders of magnitude under the 499,500-pair blowup
    assert len(got) < 100, len(got)
    # recall 1.0 on the genuine near-dup pairs (jaccard ≈ 28/32 each)
    high = {(r.id_a, r.id_b) for r in got if r.jaccard_sim >= 0.5}
    assert set(pairs) <= high, set(pairs) - high


def test_merge_upsert_semantics(spark):
    from pyspark_deduplication_spark.operators.dedup import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, v string, x int")
    changes = spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], "id long, v string, x int")
    out = {r.id: (r.v, r.x) for r in merge_upsert(base, changes, ["id"]).collect()}
    assert out == {1: ("a", 10), 2: ("B", 99), 3: ("c", 30), 4: ("d", 40)}


def test_incremental_dedup_cross_and_intra_batch(spark):
    from pyspark_deduplication_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "existing document about spark")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "Existing   document about SPARK!"),   # dup of corpus (normalized)
         (11, "a genuinely new document"),
         (12, "a genuinely new document"),           # intra-batch dup of 11
         (13, "another new one")],
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in incremental_dedup(batch, corpus).collect())
    assert kept == [11, 13]


def test_incremental_minhash_drops_corpus_near_dups(spark):
    """A batch doc near-duplicating a corpus doc is dropped; an
    unrelated batch doc survives; batch-internal near-dups collapse to
    one survivor."""
    from pyspark.sql import functions as F

    from pyspark_deduplication_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from the warm windowsill every single day")
    corpus = spark.createDataFrame([(0, base)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1, base + " indeed"),                      # near-dup of corpus
         (2, "completely different text about spark shuffles and "
             "partitions and the adaptive query execution engine"),
         (3, "completely different text about spark shuffles and "
             "partitions and the adaptive query engine today")],  # ~dup of 2
        ["doc_id", "text"],
    )
    kept = incremental_minhash_dedup(batch, corpus, threshold=0.5,
                                     num_hashes=64, bands=32)
    ids = sorted(r.doc_id for r in kept.select("doc_id").collect())
    assert 1 not in ids          # killed by the corpus
    assert 2 in ids              # fresh content survives
    assert ids.count(3) == 0 or 3 not in ids  # batch-internal dup collapsed
    assert ids == [2]


def test_incremental_minhash_matches_bruteforce_cross_jaccard(spark, sf_dir):
    """LSH probing must not KEEP a batch doc the exact cross-corpus
    Jaccard would drop (no false negatives at high similarity within
    banding recall), and never drops a doc with zero exact match."""
    from pyspark.sql import functions as F

    from pyspark_deduplication_spark.functions.similarity import jaccard
    from pyspark_deduplication_spark.functions.text import tokenize, word_ngrams_of
    from pyspark_deduplication_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    kept = set(r.doc_id for r in incremental_minhash_dedup(
        batch, corpus, threshold=0.7).select("doc_id").collect())

    sh = lambda df: (df.select("doc_id", tokenize(F.col("text")).alias("t"))
                     .select("doc_id", word_ngrams_of(F.col("t"), 3).alias("g")))
    exact_dups = set(
        r.doc_id
        for r in sh(batch).alias("b").crossJoin(sh(corpus).alias("c"))
        .filter(jaccard(F.col("b.g"), F.col("c.g")) >= 0.7)
        .select(F.col("b.doc_id").alias("doc_id")).distinct().collect()
    )
    # every exact cross-corpus dup was dropped (64/16 banding at 0.7 has
    # ~full recall at this similarity; any miss is a real defect)
    assert not (kept & exact_dups)


def test_incremental_minhash_candidate_bound_at_1k_clones(spark):
    """Corpus-side skew guard for incremental MinHash (the SemDeDup
    incremental guard's text twin): 1,000 byte-identical corpus docs
    share every band bucket; unguarded, each probing batch row joins
    all 1,000 — every ingest batch, forever. Guarded, the clones
    collapse to ONE banded representative and per-bucket caps bound
    the join; the drop/keep decisions are unchanged (identical shingle
    sets have identical Jaccard against any batch doc)."""
    from pyspark_deduplication_spark.operators.dedup import (
        incremental_minhash_candidates,
        incremental_minhash_dedup,
        minhash_signatures,
    )

    clone_text = "the quick brown fox jumps over the lazy dog again and again"
    corpus_rows = [(1000 + i, clone_text) for i in range(1000)]
    corpus_rows += [(i, f"unrelated document number {i} with words "
                        f"alpha{i} beta{i} gamma{i} delta{i}")
                    for i in range(20)]
    batch_rows = [
        (5000, clone_text + " extra"),                      # near the clone
        (5001, "completely novel content zeta eta theta iota kappa"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    new_sigs = minhash_signatures(batch, "text", "doc_id")
    corpus_sigs = minhash_signatures(corpus, "text", "doc_id")
    unguarded = incremental_minhash_candidates(
        new_sigs, corpus_sigs).count()
    guarded = incremental_minhash_candidates(
        new_sigs, corpus_sigs, max_bucket_size=50).count()
    assert unguarded >= 1000, unguarded
    assert guarded <= 50 * 2, guarded  # ≤ reps per bucket × batch rows

    got = sorted(r.doc_id for r in incremental_minhash_dedup(
        batch, corpus, threshold=0.7, max_bucket_size=50).collect())
    assert got == [5001], got


def test_incremental_minhash_with_persisted_signature_index(spark):
    """The production shape (build_semantic_dedup_index's text twin):
    sign + collapse the corpus ONCE (`build_minhash_index`), reuse the
    persisted table across ingest batches — results identical to the
    inline path, corpus argument untouched when the index is given."""
    from pyspark_deduplication_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_dedup,
    )

    clone_text = "the same boilerplate paragraph repeated across mirrors"
    corpus_rows = [(1000 + i, clone_text) for i in range(50)]
    corpus_rows += [(i, f"distinct corpus doc {i} covering topic{i} "
                        f"with body text alpha{i} beta{i}")
                    for i in range(10)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    idx = build_minhash_index(corpus).localCheckpoint()
    # collapsed: the 50 clones keep one representative
    assert idx.count() == 11

    batch = spark.createDataFrame(
        [(900, clone_text + " extra words"),
         (901, "wholly new material about tokenizer vocabularies")],
        "doc_id long, text string")
    inline = sorted(r.doc_id for r in incremental_minhash_dedup(
        batch, corpus, threshold=0.6, max_bucket_size=40).collect())
    prebuilt = sorted(r.doc_id for r in incremental_minhash_dedup(
        batch, corpus.limit(0), threshold=0.6, max_bucket_size=40,
        corpus_sigs=idx).collect())
    assert inline == prebuilt == [901], (inline, prebuilt)


def test_lsh_recall_ladder_monotone_and_complete_on_planted(spark, tmp_path):
    """The band-ladder recall report: recall is nondecreasing in the
    band count, candidate volume nondecreasing too, and 16 bands
    recover every planted near-identical pair (J ≈ 0.9+, where the
    16-band collision probability is ~1)."""
    import pyspark.sql.functions as F

    from pyspark_deduplication_spark.queries import lsh_recall_report

    rows = []
    for g in range(12):
        base = " ".join(f"g{g}w{i}" for i in range(30))
        toks = base.split()
        toks[15] = toks[15] + "x"
        rows.append((2 * g, base))
        rows.append((2 * g + 1, " ".join(toks)))   # J ≈ 0.8 partner
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")

    out = {r.bands: r for r in lsh_recall_report(spark, sf).collect()}
    assert list(sorted(out)) == [4, 8, 16]
    assert out[16].n_truth == 12
    assert out[4].recall <= out[8].recall <= out[16].recall
    assert out[4].n_candidates <= out[8].n_candidates \
        <= out[16].n_candidates
    assert out[16].recall == 1.0


def test_weighted_minhash_estimator_tracks_weighted_jaccard(spark):
    """ICWS accuracy contract: slot-collision rate estimates the exact
    GENERALIZED Jaccard Σmin(tf)/Σmax(tf). Planted corpus: B repeats
    A's boilerplate 5× (weighted J ≈ 0.16 — prototype exact 0.1600,
    est 0.1523 at H=256), an identical clone (J = 1 → identical
    signatures, deterministic), and a disjoint doc (J = 0 → zero
    collisions, the −1 sentinel never matches a real slot). Pin
    |est − exact| ≤ 0.07 (3σ at H=256 is 0.069). Also pins
    partitioning independence — the streams are hash-seeded."""
    import numpy as np

    from pyspark_deduplication_spark.operators.dedup import (
        weighted_minhash_signatures,
    )

    a = ("the quick brown fox jumps over the lazy dog near the river "
         "bank today")
    b = " ".join([a] * 5) + " completely different suffix text goes here now"
    c = "unrelated content about astronomy and telescopes in the mountains"
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c), (3, a)], "doc_id long, text string")
    sigs = {r.doc_id: (np.asarray(r.whashes), np.asarray(r.signature))
            for r in weighted_minhash_signatures(
                df, num_hashes=256).collect()}

    def exact_wj(x, y):
        ga, ca = np.unique(x, return_counts=True)
        gb, cb = np.unique(y, return_counts=True)
        _, ia, ib = np.intersect1d(ga, gb, assume_unique=True,
                                   return_indices=True)
        mins = np.minimum(ca[ia], cb[ib]).sum()
        return mins / (ca.sum() + cb.sum() - mins)

    wa, sa = sigs[0]
    wb, sb = sigs[1]
    exact = exact_wj(wa, wb)
    assert 0.1 < exact < 0.25, exact            # repetition, not set, Jaccard
    assert abs((sa == sb).mean() - exact) <= 0.07
    assert (sigs[0][1] == sigs[3][1]).all()     # clone: identical signature
    assert (sigs[0][1] == sigs[2][1]).sum() == 0  # disjoint: no collisions

    repart = {r.doc_id: np.asarray(r.signature)
              for r in weighted_minhash_signatures(
                  df.repartition(7), num_hashes=256).collect()}
    for k in sigs:
        assert (sigs[k][1] == repart[k]).all()


def test_weighted_minhash_separates_repetition_where_set_jaccard_cannot(spark):
    """The operator's reason to exist: A = one boilerplate paragraph,
    B = the same paragraph 50× — their SHINGLE SETS are identical
    (set Jaccard 1.0, `minhash_dedup` merges them) but their weighted
    Jaccard is ~1/50, so `weighted_minhash_dedup` at threshold 0.5
    keeps both. A true clone pair still collapses on the weighted
    path."""
    from pyspark_deduplication_spark.functions.similarity import jaccard
    from pyspark_deduplication_spark.functions.text import (
        tokenize,
        word_ngrams_of,
    )
    from pyspark_deduplication_spark.operators.dedup import (
        weighted_minhash_dedup,
    )

    para = ("subscribe to our newsletter for updates about products and "
            "services offered by the site")
    df = spark.createDataFrame(
        [(1, para), (2, " ".join([para] * 50)), (3, para)],
        "doc_id long, text string")

    sets = df.select(
        "doc_id", word_ngrams_of(tokenize(F.col("text")), 3).alias("g"))
    a = sets.filter("doc_id = 1").select(F.col("g").alias("ga"))
    b = sets.filter("doc_id = 2").select(F.col("g").alias("gb"))
    set_j = a.crossJoin(b).select(
        jaccard(F.col("ga"), F.col("gb")).alias("j")).first()["j"]
    # set semantics are nearly blind to the 50× repetition: only the
    # junction shingles differ, so A and B sit ABOVE the usual 0.8
    # set-Jaccard dedup threshold (minhash_dedup would merge them)
    assert set_j >= 0.85, set_j

    kept = sorted(r.doc_id for r in
                  weighted_minhash_dedup(df, threshold=0.5).collect())
    assert kept == [1, 2]                        # repeat survives, clone dies


def test_weighted_minhash_banding_finds_planted_high_wj_pairs(spark):
    """Banding recall on the weighted path: planted pairs with
    weighted J ≥ 0.85 (per-doc token tweaks on a repeated-paragraph
    base) must all surface from 64/16 banding (collision prob
    1−(1−s⁴)¹⁶ ≥ 0.9998 at s = 0.85) with their exact Σmin/Σmax
    verified scores; strangers stay absent."""
    from pyspark_deduplication_spark.operators.dedup import (
        weighted_minhash_candidate_pairs,
    )

    rows = []
    for i in range(6):
        # pair (10i, 10i+1): same group-private 3×-repeated vocabulary,
        # one trailing token differs — weighted J ≈ 0.9 within the
        # pair, 0 across groups (vocabularies are disjoint)
        base = " ".join(f"w{i}x{j}" for j in range(30))
        rep = " ".join([base] * 3)
        rows.append((10 * i, rep + f" epsilon{i}"))
        rows.append((10 * i + 1, rep + f" delta{i}"))
    for i in range(20):
        rows.append((1000 + i, f"completely unrelated filler number {i} "
                     f"with its own distinct vocabulary token{i}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {(r.id_a, r.id_b): r.weighted_jaccard_sim
             for r in weighted_minhash_candidate_pairs(
                 df, num_hashes=64, bands=16).collect()}
    for i in range(6):
        key = (10 * i, 10 * i + 1)
        assert key in pairs, key
        assert pairs[key] >= 0.85, (key, pairs[key])
    # filler docs share boilerplate (WJ ≈ 0.38) so SOME surface as
    # candidates — correct LSH behavior; the exact verify score keeps
    # every one below the dedup threshold, and no cross-group planted
    # pair appears at all (vocabularies are disjoint)
    for (a, b), wj in pairs.items():
        if a >= 1000 or b >= 1000:
            assert wj < 0.5, ((a, b), wj)
        else:
            assert b == a + 1, (a, b)


def test_incremental_weighted_minhash_and_persisted_index(spark):
    """The weighted twin of the incremental MinHash contract: a batch
    doc weighted-similar to the corpus drops; a doc sharing the
    corpus doc's SHINGLE SET but not its weight profile (the 40×
    repetition) survives — the set-based incremental path would drop
    it; batch-internal weighted dups collapse to one survivor; fresh
    content passes. The persisted ``build_weighted_minhash_index``
    path must agree with inline signing exactly (multiset clone
    collapse is lossless)."""
    from pyspark_deduplication_spark.operators.dedup import (
        build_weighted_minhash_index,
        incremental_weighted_minhash_dedup,
    )

    para = ("training corpora need careful deduplication before any "
            "model sees them at scale")
    corpus = spark.createDataFrame(
        [(1, para), (2, "some other corpus document about compilers "
                        "and optimization passes entirely")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, para + " ok"),                 # weighted near-dup of 1 → drop
         (101, " ".join([para] * 40)),        # same shingle SET, weights
                                              # differ 40× → must SURVIVE
         (102, "genuinely fresh content about marine biology and reefs "
               "with unique words"),
         (103, "genuinely fresh content about marine biology and reefs "
               "with unique wordz"),           # weighted dup of 102 in-batch
         ],
        "doc_id long, text string")

    kept = sorted(r.doc_id for r in incremental_weighted_minhash_dedup(
        batch, corpus, threshold=0.6).collect())
    assert 100 not in kept
    assert 101 in kept, kept
    assert len([k for k in kept if k in (102, 103)]) == 1, kept

    idx = build_weighted_minhash_index(corpus).localCheckpoint()
    kept_idx = sorted(r.doc_id for r in incremental_weighted_minhash_dedup(
        batch, corpus, threshold=0.6, corpus_sigs=idx,
        max_bucket_size=64).collect())
    assert kept_idx == kept, (kept_idx, kept)


def test_incremental_dedup_does_not_evict_caller_owned_index(spark):
    """Caller-owned lifecycle: a persisted train-once index passed via
    ``corpus_sigs`` must still be cached after the ingest call — Spark
    caching is not reference-counted, so an internal unpersist() would
    silently force every later batch to re-materialize the index."""
    from pyspark.storagelevel import StorageLevel

    from pyspark_deduplication_spark.operators.dedup import (
        build_minhash_index,
        build_weighted_minhash_index,
        incremental_minhash_dedup,
        incremental_weighted_minhash_dedup,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} with shared filler text")
         for i in range(8)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, "a wholly new document about lunar geology")],
        "doc_id long, text string")

    for build, ingest in (
        (build_minhash_index, incremental_minhash_dedup),
        (build_weighted_minhash_index, incremental_weighted_minhash_dedup),
    ):
        idx = build(corpus).persist(StorageLevel.MEMORY_AND_DISK)
        idx.count()
        ingest(batch, corpus.limit(0), threshold=0.6,
               corpus_sigs=idx).collect()
        assert idx.storageLevel.useMemory, (
            f"{ingest.__name__} evicted the caller's persisted index")
        idx.unpersist()


def test_weighted_lsh_recall_ladder_monotone_on_planted(spark, tmp_path):
    """The weighted recall ladder (shared rung scorer): on a corpus
    with planted weighted-J ≥ 0.85 pairs, recall and candidate volume
    are monotone in the band count and the 16-band rung recovers every
    planted pair (collision prob ≥ 0.9998 at s = 0.85)."""
    from pyspark_deduplication_spark.queries import (
        _band_recall_ladder,
    )
    from pyspark_deduplication_spark.operators.dedup import (
        weighted_minhash_signatures,
    )

    rows = []
    for i in range(8):
        base = " ".join(f"v{i}q{j}" for j in range(30))
        rep = " ".join([base] * 3)
        rows.append((2 * i, rep + f" left{i}"))
        rows.append((2 * i + 1, rep + f" right{i}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = weighted_minhash_signatures(df, num_hashes=64).localCheckpoint()
    truth = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(8)], "id_a long, id_b long")
    out = {r.bands: r for r in
           _band_recall_ladder(sigs, truth, "doc_id", 64,
                               (4, 8, 16)).collect()}
    assert out[16].n_truth == 8
    assert out[4].recall <= out[8].recall <= out[16].recall
    assert out[4].n_candidates <= out[8].n_candidates \
        <= out[16].n_candidates
    assert out[16].recall == 1.0


def test_weighted_jaccard_kernel_matches_relational_spelling(spark):
    """The two exact-verify spellings of generalized Jaccard must agree
    bit-for-bit: the Arrow kernel (`weighted_jaccard_of`, row-local on
    hashed multisets) and the relational tf-table join
    (`weighted_jaccard_pairs_exact`'s shape — explode → tf → gram
    equi-join → Σmin / sizes). Both run over the same docs with the
    identical 6dp round."""
    from pyspark_deduplication_spark.functions.text import (
        tokenize,
        word_ngrams_all_of,
    )
    from pyspark_deduplication_spark.operators.dedup import (
        weighted_jaccard_of,
    )

    rows = [(0, "a b c a b c a b"), (1, "a b c d e f a b"),
            (2, "a b c a b c a b x"), (3, "q r s t u v w")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    grams = df.select(
        "doc_id",
        F.explode(word_ngrams_all_of(tokenize(F.col("text")), 3))
        .alias("gram"))
    tf = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    sizes = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    a = tf.select(F.col("doc_id").alias("id_a"), "gram",
                  F.col("c").alias("ca"))
    b = tf.select(F.col("doc_id").alias("id_b"), "gram",
                  F.col("c").alias("cb"))
    inter = (a.join(b, ["gram"]).filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.sum(F.least("ca", "cb")).alias("m")))
    na = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("n").alias("nb"))
    relational = {
        (r.id_a, r.id_b): r.j
        for r in inter.join(na, "id_a").join(nb, "id_b").select(
            "id_a", "id_b",
            F.round(F.col("m").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("m"))
                    .cast("double"), 6).alias("j")).collect()
    }

    hashed = df.select(
        "doc_id",
        F.transform(word_ngrams_all_of(tokenize(F.col("text")), 3),
                    lambda g: F.xxhash64(F.lit(7), g)).alias("wh"))
    wa = hashed.select(F.col("doc_id").alias("id_a"),
                       F.col("wh").alias("wh_a"))
    wb = hashed.select(F.col("doc_id").alias("id_b"),
                       F.col("wh").alias("wh_b"))
    kernel = {
        (r.id_a, r.id_b): r.j
        for r in wa.crossJoin(wb).filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(weighted_jaccard_of(
                    F.col("wh_a"), F.col("wh_b")), 6).alias("j"))
        .collect()
    }
    for k, v in relational.items():
        assert kernel[k] == v, (k, kernel[k], v)
    # pairs absent from the relational set share no gram: kernel says 0
    for k, v in kernel.items():
        if k not in relational:
            assert v == 0.0, (k, v)


def _cache_rdds(spark) -> int:
    """Persistent RDDs that are ``persist()`` caches. Local checkpoints
    register in the same map and stay there for as long as the frame
    that checkpointed them lives, so they are not counted."""
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs() \
        .values().iterator()
    n = 0
    while rdds.hasNext():
        n += not rdds.next().isLocallyCheckpointed()
    return n


@pytest.mark.parametrize("with_index", [False, True],
                         ids=["derived_corpus", "caller_index"])
@pytest.mark.parametrize("op", [
    "incremental_minhash_dedup", "incremental_weighted_minhash_dedup",
    "incremental_fused_dedup", "incremental_fused_match_pairs"])
def test_corpus_probe_releases_only_its_own_caches(spark, op, with_index):
    """Every caller of the shared corpus probe leaves the session with
    exactly the caches it found: the signatures it persisted are
    released, and a caller-persisted index is still cached afterwards
    (caching is not reference-counted, so releasing it would make every
    later batch re-materialize the index)."""
    from pyspark.storagelevel import StorageLevel

    from pyspark_deduplication_spark.operators import dedup, fused
    from pyspark_deduplication_spark.operators.knn import (
        build_semantic_dedup_index,
    )

    schema = "doc_id long, text string, embedding array<float>"
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} with shared filler text",
          [float(i), 1.0]) for i in range(8)], schema)
    batch = spark.createDataFrame(
        [(100, "a wholly new document about lunar geology", [50.0, -3.0]),
         (101, "corpus document number 3 with shared filler text",
          [3.0, 1.0])], schema)

    def persisted(build):
        idx = build(corpus).persist(StorageLevel.MEMORY_AND_DISK)
        idx.count()
        return idx

    indexes = []
    if op.startswith("incremental_fused"):
        kw = {"n_cells": 2, "weighted_threshold": 0.6}
        if with_index:
            indexes = [persisted(dedup.build_minhash_index),
                       persisted(dedup.build_weighted_minhash_index)]
            kw.update(minhash_index=indexes[0], weighted_index=indexes[1],
                      semantic_index=build_semantic_dedup_index(
                          corpus.select("doc_id", "embedding"), n_cells=2,
                          vec_id="doc_id"))
        module, corpus_arg = fused, None if with_index else corpus
    else:
        kw = {"threshold": 0.6}
        if with_index:
            build = (dedup.build_weighted_minhash_index if "weighted" in op
                     else dedup.build_minhash_index)
            indexes = [persisted(build)]
            kw["corpus_sigs"] = indexes[0]
        module, corpus_arg = dedup, corpus

    before = _cache_rdds(spark)
    getattr(module, op)(batch, corpus_arg, **kw).collect()
    assert _cache_rdds(spark) == before, f"{op} left a cache behind"
    for idx in indexes:
        assert idx.storageLevel.useMemory, (
            f"{op} evicted the caller's persisted index")
        idx.unpersist()
