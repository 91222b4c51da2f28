"""Banded sign-LSH near-dup: planted-pair recall, no false positives after
verification, and the width knob actually prunes candidates.

The scale claim under test (see banded_lsh_candidate_pairs docstring):
random-collision rate is bands * 2^-r, recall for per-plane agreement p is
1 - (1 - p^r)^b — so recall of TRUE near-dups (p ~ 1) survives widths that
prune nearly all random pairs.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_assignment_2_spark.operators.similarity import (
    banded_lsh_candidate_pairs, cosine_near_dups_banded,
    cosine_near_dups_scaled, plane_weight_value)
from big_data_assignment_2_spark.sources.io import load_table


def test_band_width_grows_with_log_corpus():
    from big_data_assignment_2_spark.operators.similarity import band_width_for
    r1 = band_width_for(2_000)
    r10 = band_width_for(20_000)
    r1e9 = band_width_for(1_000_000_000)
    # 10x corpus -> ~log2(10) ~ 3-4 more planes; monotone, bounded sanely.
    assert 2 <= r1 < r10 < r1e9 <= 40
    assert 3 <= r10 - r1 <= 4


@pytest.fixture(scope="module")
def planted(spark, sf_dir):
    """Embeddings plus, for each vector, a planted near-dup (one component
    nudged by 1%): cosine(v, v') ~ 0.9999, per-plane agreement ~ 1."""
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = em.count()
    dup = em.select(
        (F.col("vec_id") + n).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x * F.lit(1.01)).otherwise(x)
        ).cast("array<float>").alias("embedding"))
    return em.unionByName(dup).cache(), n


def test_planted_recall_high_at_pruning_width(planted):
    vectors, n = planted
    # r=8 prunes ~ (1 - 2^-8)-worth of random pairs per band, yet each
    # planted pair (p ~ 1) should still collide in some band.
    pairs = cosine_near_dups_banded(vectors, threshold=0.99,
                                    rows_per_band=8, bands=4)
    found = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    planted_pairs = {(i, i + n) for i in range(n)}
    recall = len(found & planted_pairs) / n
    assert recall >= 0.95, f"recall {recall} over {n} planted pairs"


def test_no_false_positives_after_verification(planted):
    vectors, n = planted
    # Thresholded output must be a SUBSET of exact all-pairs >= threshold:
    # LSH only prunes candidates; the verification cosine is exact.
    out = cosine_near_dups_banded(vectors, threshold=0.99,
                                  rows_per_band=4, bands=2)
    a = vectors.select(F.col("vec_id").alias("ia"),
                       F.col("embedding").cast("array<double>").alias("va"))
    b = vectors.select(F.col("vec_id").alias("ib"),
                       F.col("embedding").cast("array<double>").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, x: acc + x * x))
    exact = (a.join(b, F.col("ia") < F.col("ib"))
             .select("ia", "ib",
                     (dot / (nrm(F.col("va")) * nrm(F.col("vb")))).alias("cos"))
             .filter(F.col("cos") >= 0.989))  # slack for 6-dp rounding
    exact_pairs = {(r["ia"], r["ib"]) for r in exact.collect()}
    for r in out.collect():
        assert (r["vec_a"], r["vec_b"]) in exact_pairs


def test_width_prunes_candidates_band_join_dedups(planted):
    vectors, n = planted
    wide = banded_lsh_candidate_pairs(vectors, rows_per_band=8, bands=2)
    narrow = banded_lsh_candidate_pairs(vectors, rows_per_band=2, bands=2)
    n_wide, n_narrow = wide.count(), narrow.count()
    # The width knob: r=8 must admit far fewer candidates than r=2
    # (expected ratio ~ 2^-6 on random pairs).
    assert n_wide < n_narrow / 4
    # Pairs are emitted once even when they collide in several bands.
    assert wide.select("vec_a", "vec_b").distinct().count() == n_wide
    assert wide.filter(F.col("vec_a") >= F.col("vec_b")).count() == 0


# --- golden rows of the banded pair pass ---------------------------------

GOLDEN_DIM, GOLDEN_R, GOLDEN_B = 32, 2, 3


def _golden_vectors():
    """1,500 vectors sharing one bucket in every band (1.12M pairs in one
    group: more than one 2^20-pair kernel step), 60 others (colliding in
    one or several bands), 6 near-copies of those, two zero vectors (the
    same bucket in every band), a null embedding and two 5-d (ragged)
    near-copies.  Ids are shuffled so the id order crosses the rows."""
    rng = np.random.default_rng(20261018)
    W = np.array([[plane_weight_value(p, d) for d in range(GOLDEN_DIM)]
                  for p in range(GOLDEN_R * GOLDEN_B)])
    X = rng.standard_normal((200_000, GOLDEN_DIM))
    bits = (X @ W.T >= 0).astype(int)
    bk = np.stack([bits[:, j * GOLDEN_R] + 2 * bits[:, j * GOLDEN_R + 1]
                   for j in range(GOLDEN_B)], axis=1)
    is_hot = (bk == [1, 2, 1]).all(axis=1)
    hot = X[is_hot][:1500]
    rest = X[(bk != 3).all(axis=1) & ~is_hot][:60]
    w3 = X[(bk[:, 0] != 3) & (bk[:, 1] == 3) & (bk[:, 2] != 3)][:1]
    copies = rest[:6] + 1e-3 * rng.standard_normal((6, GOLDEN_DIM))
    vecs = [v.tolist() for v in np.vstack([hot, rest, w3, copies])]
    vecs += [[0.0] * GOLDEN_DIM, [0.0] * GOLDEN_DIM, None]
    short = rng.standard_normal(5)
    vecs += [short.tolist(), (short + 1e-3 * rng.standard_normal(5)).tolist()]
    ids = rng.permutation(len(vecs)) * 3 + 10
    return [(int(i), v) for i, v in zip(ids, vecs)]


@pytest.fixture(scope="module")
def golden(spark):
    rows = _golden_vectors()
    zeros = [i for i, v in rows if v is not None and not any(v)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, tuple(sorted(zeros))


def test_banded_candidates_match_recorded_rows(golden):
    """Digest of the 1,194,900 candidate rows as recorded from the
    per-bucket ``applyInPandas`` + ``distinct`` implementation: every
    pair once, however many bands it collides in, and the same cosines.
    Null and zero vectors score null (NaN crosses Arrow as null)."""
    df, (z1, z2) = golden
    cand = banded_lsh_candidate_pairs(df, rows_per_band=GOLDEN_R,
                                      bands=GOLDEN_B)
    digest = cand.agg(
        F.count("*"), F.sum(F.hash("vec_a", "vec_b", "cos_sim").cast("long")),
        F.sum(F.col("cos_sim").isNull().cast("int")),
        F.sum(F.isnan("cos_sim").cast("int"))).first()
    assert tuple(digest) == (1194900, -564957831008, 95, 0)
    zero_pair = cand.filter((F.col("vec_a") == z1) & (F.col("vec_b") == z2))
    assert [r["cos_sim"] for r in zero_pair.collect()] == [None]


def test_banded_near_dups_match_recorded_rows(golden):
    df, _ = golden
    rows = sorted(tuple(r) for r in cosine_near_dups_banded(
        df, threshold=0.9, rows_per_band=GOLDEN_R, bands=GOLDEN_B).collect())
    assert not any(c is None or math.isnan(c) for _, _, c in rows)
    # 6 near-copies + the ragged 5-d pair; recorded from the
    # per-bucket applyInPandas + distinct implementation
    assert rows == [(925, 4570, 1.0), (1453, 2269, 1.0),
                    (1684, 2161, 0.999999), (1861, 4207, 1.0),
                    (1966, 4237, 0.999999), (2092, 2842, 1.0),
                    (2464, 3463, 1.0)]


def test_repeated_id_never_self_pairs(spark):
    """vec_a < vec_b strictly, as in the DuckDB oracle: two rows with
    id 1 used to score as the pair (1, 1, 1.0)."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [1.0, 2.0]), (2, [1.0, 2.1])],
        "vec_id long, embedding array<double>")
    rows = banded_lsh_candidate_pairs(df, rows_per_band=2, bands=2).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in rows} == {(1, 2)}


def test_scaled_pass_is_two_python_maps(spark, sf_dir, job_count):
    """One cold ``cosine_near_dups_scaled`` pass: two ``mapInPandas``
    passes around one exchange — no per-bucket group apply, no
    aggregate (``distinct``) over the pair rows — in at most 5 jobs (the
    per-bucket ``applyInPandas`` version ran 7), and on a one-file input
    smaller than an Arrow batch every stage runs one task."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "10000")  # the default; the bound assumes it
    try:
        df = cosine_near_dups_scaled(
            load_table(spark, sf_dir, "embeddings"), threshold=0.4)
        n_jobs = job_count("banded_scaled_pass", df.collect)
    finally:
        spark.conf.set(key, saved)
    assert n_jobs <= 5
    sc = spark.sparkContext
    stages = [sc.statusTracker().getStageInfo(s)
              for j in sc.statusTracker().getJobIdsForGroup(
                  "banded_scaled_pass")
              for s in sc.statusTracker().getJobInfo(j).stageIds]
    assert all(s.numTasks == 1 for s in stages if s is not None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "FlatMapGroupsInPandas" not in final
    assert "Aggregate" not in final
    assert final.count("MapInPandas") == 2
