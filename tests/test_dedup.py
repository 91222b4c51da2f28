"""Dedup operators on a planted corpus with known duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_assignment_2_spark.operators.dedup import (
    content_key, dedup_exact, minhash_near_dups, ngram_jaccard_pairs,
    simhash, simhash_near_dups, tokenset_key)

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
    (3, "dog lazy the over jumps fox brown quick the"),        # reorder of 1
    (4, "the quick brown fox jumps over the lazy cat"),        # near dup of 1
    (5, "completely different words about spark engines here"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["n_copies"]
           for r in dedup_exact(docs, content_key("text")).collect()}
    assert out["1"] == 2 and "2" not in out          # 2 collapsed into 1
    assert out["3"] == 1 and out["4"] == 1 and out["5"] == 1


def test_tokenset_dedup_catches_reorder(docs):
    out = {r["doc_id"]: r["n_copies"]
           for r in dedup_exact(docs, tokenset_key("text")).collect()}
    assert out["1"] == 3                              # 1, 2, and reordered 3
    assert "2" not in out and "3" not in out


def test_minhash_finds_exact_and_near(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in minhash_near_dups(docs, threshold=0.5).collect()}
    assert pairs[("1", "2")] == 1.0
    assert pairs[("1", "3")] == 1.0                   # same token set
    assert ("1", "4") in pairs and pairs[("1", "4")] > 0.7
    assert all("5" not in p for p in pairs)


def test_tokenless_docs_never_pair(spark):
    """Docs with no tokens have no MinHash signature in the LSH oracle,
    so they pair with nothing (not with each other at Jaccard 1.0) and
    each is its own cluster."""
    from big_data_assignment_2_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame(
        CORPUS[:2] + [(11, "!!!"), (12, "..."), (15, "")],
        "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in minhash_near_dups(docs, threshold=0.5).collect()}
    assert pairs == {("1", "2"): 1.0}
    rows = {r["doc_id"]: (r["cluster_rep"], r["is_survivor"])
            for r in near_dup_clusters(docs, threshold=0.5).collect()}
    assert rows == {"1": ("1", True), "2": ("1", False),
                    "11": ("11", True), "12": ("12", True),
                    "15": ("15", True)}


def test_minhash_near_dups_is_one_plan(spark, docs, job_count):
    """One pass is one lazy plan: at most 6 Spark jobs (two shuffles, a
    broadcast and the result; the persisted multi-branch design ran 25
    on this fixture), and nothing is left in the cache manager by the
    pairs or the clusters."""
    from big_data_assignment_2_spark.operators.dedup import near_dup_clusters

    cache = spark._jsparkSession.sharedState().cacheManager()
    minhash_near_dups(docs, threshold=0.5).collect()   # first-call effects
    spark.catalog.clearCache()                         # count a cold pass
    assert job_count("minhash_pass", lambda: minhash_near_dups(
        docs, threshold=0.5).collect()) <= 6
    assert cache.isEmpty()
    near_dup_clusters(docs, threshold=0.5).collect()
    assert cache.isEmpty()


def test_minhash_near_dups_equals_public_steps_on_hot_bucket(spark):
    """The collapsed one-plan pipeline returns exactly what the public
    steps compose to, on a corpus whose near-duplicates all share band
    buckets: 60 distinct 200-token sets, each the base set with one
    token replaced, plus an exact and a reordered copy of the first."""
    from big_data_assignment_2_spark.operators.dedup import (
        doc_tokensets, jaccard_verify, lsh_band_keys, lsh_candidate_pairs,
        minhash_signatures)

    base = [f"w{i}" for i in range(200)]
    texts = [" ".join(base[:i] + [f"x{i}"] + base[i + 1:])
             for i in range(60)]
    corpus = list(enumerate(texts, start=1)) + [
        (61, texts[0]), (62, " ".join(reversed(texts[0].split()))),
        (63, "unrelated words about a different topic")]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    toks = doc_tokensets(docs)
    for thr in (0.5, 0.9):
        got = {tuple(r) for r in minhash_near_dups(docs, thr).collect()}
        want = {tuple(r) for r in jaccard_verify(lsh_candidate_pairs(
            lsh_band_keys(minhash_signatures(toks))), toks, thr).collect()}
        assert got == want, f"threshold {thr}"
        assert ("1", "61", 1.0) in got and len(got) > 1000


def test_ngram_jaccard_order_sensitive(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()}
    assert pairs[("1", "2")] == 1.0
    assert ("1", "3") not in pairs                    # reorder kills 3-grams
    assert ("1", "4") in pairs and pairs[("1", "4")] < 1.0


def test_simhash_identical_and_near(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sigs["1"] == sigs["2"]
    # SimHash is a tf-weighted bag-of-words signature: reorder ≡ identical.
    assert sigs["1"] == sigs["3"]
    assert 0 <= sigs["1"] < (1 << 60)
    # One swapped token perturbs some bits but far fewer than a different doc.
    ham = lambda a, b: bin(sigs[a] ^ sigs[b]).count("1")
    assert 0 < ham("1", "4") < ham("1", "5")
    near = {(r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_near_dups(docs, max_hamming=10).collect()}
    assert near[("1", "2")] == 0 and near[("1", "3")] == 0
    # Band pigeonhole guarantee: every pair within Hamming ≤ 3 is found.
    for (a, b), h in near.items():
        assert h <= 10


def test_simhash_and_lsh_pairs_leave_nothing_cached(spark, docs):
    """The skew-safe self-join behind ``simhash_near_dups`` and
    ``lsh_candidate_pairs`` persists nothing, and its join sides share
    one exchange of the input."""
    from big_data_assignment_2_spark.operators.dedup import (
        doc_tokensets, lsh_band_keys, lsh_candidate_pairs,
        minhash_signatures)

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    simhash_near_dups(docs).collect()
    pairs = lsh_candidate_pairs(lsh_band_keys(minhash_signatures(
        doc_tokensets(docs))))
    assert {tuple(r) for r in pairs.collect()} >= {("1", "2"), ("1", "3")}
    assert cache.isEmpty()
    assert "ReusedExchange" in \
        pairs._jdf.queryExecution().executedPlan().toString()


def test_winnowing_substring_guarantee(spark):
    from big_data_assignment_2_spark.operators.dedup import (
        winnow_fingerprints, winnow_overlap_pairs)

    shared_run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame([
        (1, f"intro words here {shared_run} closing remarks"),
        (2, f"totally other opening {shared_run} and different tail words"),
        (3, "no overlap at all in this quite separate document text"),
    ], "doc_id long, text string")
    fp = winnow_fingerprints(docs, n=3, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    # any shared token run >= window+n-1 (6) tokens must share a fingerprint
    assert by_doc["1"] & by_doc["2"]
    assert not (by_doc["1"] & by_doc["3"])
    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared"]
             for r in winnow_overlap_pairs(docs, min_shared=1).collect()}
    assert ("1", "2") in pairs and ("1", "3") not in pairs


def test_connected_components(spark):
    from big_data_assignment_2_spark.operators.dedup import connected_components

    # two chains + an isolated node: {1-2-3}, {10-11}, {99}
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "a long, b long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)],
                                  "id long")
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}
    # Both execution paths of the hybrid must agree: driver union-find
    # (small-graph default) and the distributed min-label loop (forced by
    # a zero local threshold).
    for local_max in (2_000_000, 0):
        comp = {r["id"]: r["component"]
                for r in connected_components(
                    edges, nodes, local_max_edges=local_max).collect()}
        assert comp == expected, f"local_max_edges={local_max}"


def test_connected_components_long_chain_distributed(spark):
    """O(log diameter) pointer jumping must close a 33-node chain within
    max_iter=20 on the distributed path."""
    from big_data_assignment_2_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(32)],
                                  "a long, b long")
    nodes = spark.createDataFrame([(i,) for i in range(33)], "id long")
    comp = {r["id"]: r["component"]
            for r in connected_components(edges, nodes,
                                          local_max_edges=0).collect()}
    assert comp == {i: 0 for i in range(33)}


def test_near_dup_clusters_survivors(spark):
    from big_data_assignment_2_spark.operators.dedup import near_dup_clusters

    out = near_dup_clusters(
        spark.createDataFrame(CORPUS, "doc_id long, text string"),
        threshold=0.5).collect()
    rows = {r["doc_id"]: (r["cluster_rep"], r["is_survivor"]) for r in out}
    # docs 1,2,3,4 form one near-dup cluster; 5 is alone
    assert rows["1"] == ("1", True)
    assert rows["2"] == ("1", False)
    assert rows["3"] == ("1", False)
    assert rows["4"] == ("1", False)
    assert rows["5"] == ("5", True)


def test_inrow_minhash_signatures_match_exploded(spark, sf_dir):
    """The round-4 in-row signature path (array_min over per-row hash
    arrays) must be value-identical to the exploded 16-min-agg formulation
    on the real corpus, including dropping token-less docs."""
    from pyspark.sql import functions as F

    from big_data_assignment_2_spark.functions.text import tokenize
    from big_data_assignment_2_spark.operators.dedup import (
        doc_tokensets, minhash_signatures, minhash_signatures_from_arrays)
    from big_data_assignment_2_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    # one token-less doc exercises the empty-array drop parity
    docs = docs.unionByName(
        spark.createDataFrame([(999999, "", "en", "syn", 0)], docs.schema))
    exploded = minhash_signatures(doc_tokensets(docs))
    arrays = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.sort_array(F.array_distinct(tokenize("text"))).alias("__toks"))
    inrow = minhash_signatures_from_arrays(arrays)
    a = {r["doc_id"]: tuple(r[f"sig{i}"] for i in range(16))
         for r in exploded.collect()}
    b = {r["doc_id"]: tuple(r[f"sig{i}"] for i in range(16))
         for r in inrow.collect()}
    assert a == b
    assert "999999" not in b


def _naive_jaccard_pairs(corpus, threshold):
    """All-pairs thresholded token-set Jaccard, rounded like the engine."""
    import re
    sets = {str(i): set(re.findall(r"\w+", t.lower())) for i, t in corpus}
    out = set()
    ids = sorted(sets, key=int)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            j = round(inter / union, 6) if union else 0.0
            if j >= threshold:
                out.add((a, b, j))
    return out


def test_prefix_jaccard_equals_naive_all_pairs(spark):
    """PPJoin prefix filtering is LOSSLESS: output must equal the naive
    all-pairs thresholded join, including pairs whose shared tokens are
    common (prefix = rare tokens is a filter on candidates, never on
    results)."""
    from big_data_assignment_2_spark.operators.dedup import \
        prefix_jaccard_pairs

    corpus = CORPUS + [
        (6, "the quick brown fox jumps over the lazy dog today"),  # J=9/10
        (7, "quick brown fox jumps over lazy dog"),                # subset
        (8, "alpha beta gamma delta epsilon"),
        (9, "alpha beta gamma delta zeta"),                        # J=4/6
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    for t in (0.5, 0.75, 0.9):
        got = {(r["doc_a"], r["doc_b"], r["jaccard"])
               for r in prefix_jaccard_pairs(docs, threshold=t).collect()}
        assert got == _naive_jaccard_pairs(corpus, t), f"threshold {t}"


def test_prefix_jaccard_exactness_beats_lsh_banding(spark):
    """The exact path must catch qualifying pairs regardless of band
    luck: identical-token-set docs (J=1.0) and a one-token swap at the
    0.5 bar both appear."""
    from big_data_assignment_2_spark.operators.dedup import \
        prefix_jaccard_pairs

    corpus = [(1, "x y z w"), (2, "w z y x"), (3, "x y z q")]
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in prefix_jaccard_pairs(
               spark.createDataFrame(corpus, "doc_id long, text string"),
               threshold=0.5).collect()}
    assert got[("1", "2")] == 1.0
    assert got[("1", "3")] == got[("2", "3")] == 0.6


def test_containment_asymmetric_subset_detection(spark):
    """Containment catches the short-doc-quoted-in-long-doc case that
    Jaccard dilutes, is asymmetric, and equals the naive all-ordered-
    pairs computation."""
    import re

    from big_data_assignment_2_spark.operators.dedup import containment_pairs

    corpus = [
        (1, "alpha beta gamma"),                                   # subset of 2
        (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (3, "alpha beta kappa"),                                   # 2/3 in 2
        (4, "completely unrelated words here"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {(r["doc_sub"], r["doc_sup"]): r["containment"]
           for r in containment_pairs(docs, threshold=0.6).collect()}

    sets = {str(i): set(re.findall(r"\w+", t.lower())) for i, t in corpus}
    want = {}
    for a in sets:
        for b in sets:
            if a == b or not sets[a] & sets[b]:
                continue
            c = round(len(sets[a] & sets[b]) / len(sets[a]), 6)
            if c >= 0.6:
                want[(a, b)] = c
    assert got == want
    assert got[("1", "2")] == 1.0          # full subset
    assert ("2", "1") not in got           # asymmetric: 3/9 < 0.6
    assert got[("3", "2")] == 0.666667
