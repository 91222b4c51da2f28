"""Similarity search: planted vectors with known nearest neighbors."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from big_data_assignment_2_spark.operators.similarity import (
    brute_force_topk, lsh_bucket, lsh_topk, as_double)


def _vec(angle: float, scale: float = 1.0) -> list[float]:
    """Unit-ish vector in a 4-dim space, direction controlled by angle."""
    return [scale * math.cos(angle), scale * math.sin(angle),
            scale * 0.1, scale * 0.2]


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, _vec(0.00)),           # query
        (1, _vec(0.01)),           # nearest (tiny angle)
        (2, _vec(0.30)),
        (3, _vec(1.50)),
        (4, _vec(3.00)),           # nearly opposite
        (5, _vec(0.00, 5.0)),      # same direction, bigger magnitude → cos 1
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_bruteforce_ranking(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = brute_force_topk(vectors, q, k=5).collect()
    order = [r["neighbor_id"] for r in out]
    assert order[0] == 5                   # cosine invariant to magnitude
    assert order[1] == 1
    assert order[-1] == 4
    sims = [r["cos_sim"] for r in out]
    assert sims == sorted(sims, reverse=True)
    assert abs(sims[0] - 1.0) < 1e-6


def test_lsh_same_direction_same_bucket(spark, vectors):
    b = vectors.select("vec_id",
                       lsh_bucket(as_double("embedding")).alias("bucket")).collect()
    buckets = {r["vec_id"]: r["bucket"] for r in b}
    assert buckets[0] == buckets[5]        # colinear vectors: identical signs
    assert all(0 <= v < 256 for v in buckets.values())


def test_lsh_topk_finds_colinear(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = lsh_topk(vectors, q, k=3, probe_hamming=1).collect()
    assert out and out[0]["neighbor_id"] == 5


def test_kmeans_assign_deterministic_and_nearest(spark, sf_dir):
    """Lloyd assignment: ids in range, deterministic across invocations,
    and every vector sits with its nearest final-iteration centroid
    (recomputed independently with numpy)."""
    import numpy as np

    from big_data_assignment_2_spark.operators.similarity import kmeans_assign
    from big_data_assignment_2_spark.sources.io import load_table

    em = load_table(spark, sf_dir, "embeddings")
    a1 = {r["vec_id"]: r["list_id"]
          for r in kmeans_assign(em, k=4, iters=2).collect()}
    a2 = {r["vec_id"]: r["list_id"]
          for r in kmeans_assign(em, k=4, iters=2).collect()}
    assert a1 == a2
    assert set(a1.values()) <= set(range(4))
    assert len(a1) == em.count()

    # independent replay: same init, same rounded-mean updates
    rows = sorted(em.collect(), key=lambda r: r["vec_id"])
    x = np.array([[float(v) for v in r["embedding"]] for r in rows])
    ids = [r["vec_id"] for r in rows]
    cent = x[:4].copy()
    for _ in range(2):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        new = cent.copy()
        for c in range(4):
            m = assign == c
            if m.any():
                new[c] = np.round(x[m].mean(axis=0), 6)
        cent = new
    d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    want = {i: int(a) for i, a in zip(ids, d.argmin(axis=1))}
    assert a1 == want


def test_tfidf_topk_planted_similarity(spark):
    """Docs with shared rare terms rank above docs sharing only common
    terms; self excluded; ranks contiguous."""
    from big_data_assignment_2_spark.operators.similarity import \
        tfidf_cosine_topk

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma epsilon"),   # 3 shared rare-ish terms with 0
        (2, "alpha zeta eta theta"),       # 1 shared term with 0
        (3, "iota kappa lambda mu"),       # no shared terms with 0
        (4, "common common common words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_cosine_topk(docs, k=4, n_queries=1).collect()
    mine = sorted((r for r in out if r["query_id"] == "0"),
                  key=lambda r: r["rank"])
    assert mine, "query 0 must have neighbors"
    assert all(r["neighbor_id"] != "0" for r in mine)
    assert [r["rank"] for r in mine] == list(range(1, len(mine) + 1))
    assert mine[0]["neighbor_id"] == "1"
    ids = [r["neighbor_id"] for r in mine]
    assert "3" not in ids  # no shared term -> no candidate pair at all


def test_pq_topk_exact_on_prototype_corpus(spark):
    """On a corpus whose vectors ARE the codebook prototypes (8 distinct
    vectors, each duplicated), Lloyd converges to the prototypes exactly,
    so ADC distance == true squared distance and PQ top-k must equal the
    brute-force ranking (neighbor_id tiebreak)."""
    from big_data_assignment_2_spark.operators.similarity import pq_topk

    protos = [[(j + 1) * 0.25] * 64 for j in range(8)]
    rows = [(i, protos[i % 8]) for i in range(16)]
    em = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = (em.filter("vec_id < 2")
         .selectExpr("vec_id AS query_id", "embedding"))
    got = pq_topk(em, q, k=5, m=4, ks=8, iters=1).collect()

    import itertools
    want = {}
    for qid in (0, 1):
        qv = protos[qid]
        scored = sorted(
            ((round(sum((qv[d] - v[d]) ** 2 for d in range(64)), 6), i)
             for i, v in rows if i != qid))
        want[qid] = [(i, d, r + 1)
                     for r, (d, i) in enumerate(itertools.islice(scored, 5))]
    got_by_q = {}
    for r in got:
        got_by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["adc_dist"], r["rank"]))
    for qid in (0, 1):
        assert sorted(got_by_q[qid], key=lambda t: t[2]) == want[qid]


def test_pq_codes_bounded_and_rank_contiguous(spark, sf_dir):
    """On real embeddings: every rank list is exactly 1..k per query and
    ADC distances are non-decreasing with rank."""
    from big_data_assignment_2_spark.operators.similarity import pq_topk
    from big_data_assignment_2_spark.sources.io import load_table

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter("vec_id < 2").selectExpr("vec_id AS query_id", "embedding")
    out = pq_topk(em, q, k=4, m=4, ks=8, iters=1).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1}
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3, 4]
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)


def test_ivfpq_degenerate_residuals_reduce_to_coarse_distance(spark):
    """On a corpus whose vectors ARE the coarse centroids (8 prototypes,
    duplicated), every residual is zero, so ADC(q, x) must equal the
    squared distance from q to x's list centroid — a closed form the
    test recomputes; also checks candidates come only from the nprobe
    nearest lists."""
    from big_data_assignment_2_spark.operators.similarity import ivfpq_topk

    protos = [[(j + 1) * 0.25] * 64 for j in range(8)]
    rows = [(i, protos[i % 8]) for i in range(16)]
    em = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = em.filter("vec_id < 1").selectExpr("vec_id AS query_id", "embedding")
    got = ivfpq_topk(em, q, k=16, n_centroids=8, coarse_iters=1,
                     nprobe=2, m=4, ks=8, pq_iters=1).collect()

    qv = protos[0]

    def d2(j):
        return round(sum((qv[d] - protos[j][d]) ** 2 for d in range(64)), 6)

    # nprobe=2 nearest lists to q: list 0 (d=0) and list 1.
    expect_lists = {0, 1}
    members = [i for i in range(16) if i % 8 in expect_lists and i != 0]
    assert {r["neighbor_id"] for r in got} == set(members)
    for r in got:
        assert r["adc_dist"] == d2(r["neighbor_id"] % 8)


def test_pq_paths_leave_nothing_cached(spark, sf_dir):
    """``pq_topk`` and ``ivfpq_topk`` persist the corpus only while
    training: once the codebooks are on the driver the relations are
    unpersisted, so a collected result leaves the cache manager empty."""
    from big_data_assignment_2_spark.operators.similarity import (
        ivfpq_topk, pq_topk)
    from big_data_assignment_2_spark.sources.io import load_table

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter("vec_id < 2").selectExpr("vec_id AS query_id", "embedding")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert len(pq_topk(em, q, k=4, m=4, ks=8, iters=1).collect()) == 8
    assert cache.isEmpty()
    assert len(ivfpq_topk(em, q, k=4, n_centroids=4, m=4, ks=8).collect()) == 8
    assert cache.isEmpty()


def test_sq8_zero_vector_reconstructs_finite(spark):
    """Zero-vector guard (r14 advice): an all-zero embedding must
    dequantize to exactly zeros (not NULL/NaN from a 0 divisor), and a
    normal vector's reconstruction is unaffected by the tiny floor."""
    from big_data_assignment_2_spark.operators.similarity import (
        sq8_dequantized)

    em = spark.createDataFrame(
        [(0, [0.0] * 64), (1, [1.27] * 64)],
        "vec_id long, embedding array<double>")
    rows = {r["vec_id"]: r["embedding"]
            for r in sq8_dequantized(em).collect()}
    assert rows[0] == [0.0] * 64
    assert all(x is not None and abs(x - 1.27) < 0.01 for x in rows[1])
