"""Salted join / two-phase agg / skew-safe self pairs must be
result-identical to the plain ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_assignment_2_spark.operators.skew import (salted_join,
                                                        skew_safe_self_pairs,
                                                        two_phase_agg)


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of fact rows share one hot key.
    fact = spark.createDataFrame(
        [(1 if i % 10 else i % 50, i, float(i)) for i in range(5000)],
        "k long, id long, v double")
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(50)],
                                "k long, label string")
    return fact, dim


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_join_identical(skewed):
    fact, dim = skewed
    plain = fact.join(dim, "k")
    salted = salted_join(fact, dim, "k", salt=8)
    assert _rows(salted.select(*plain.columns)) == _rows(plain)


def test_salted_left_join_identical(spark, skewed):
    fact, dim = skewed
    missing = fact.withColumn("k", F.col("k") + 1000)  # no dim match
    plain = missing.join(dim, "k", "left")
    salted = salted_join(missing, dim, "k", salt=8, how="left")
    assert _rows(salted.select(*plain.columns)) == _rows(plain)


def test_self_pairs_hot_key_identical(spark):
    """Planted hot key (300 of 400 rows in one bucket): the salted path
    must produce exactly the plain self-join's pair multiset, and the
    salt must actually engage (bounded per-task bucket size)."""
    rows = [("hot", i) for i in range(300)] + \
           [(f"k{i % 20}", 1000 + i) for i in range(100)]
    df = spark.createDataFrame(rows, "key string, doc_id long")

    plain = (df.alias("a").join(df.alias("b"), "key")
             .select(F.col("a.doc_id").alias("doc_id_a"),
                     F.col("b.doc_id").alias("doc_id_b")))
    safe = skew_safe_self_pairs(df, ["key"], ["doc_id"],
                                hot_threshold=50, salt=8,
                                detect_fraction=1.0)
    assert _rows(safe) == _rows(plain)

    # The hot branch exists in the plan (union of cold + salted hot).
    plan = safe._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan

    # Salting bounds the left-side rows per (key, salt) task to ~1/salt.
    salted_left = (df.filter(F.col("key") == "hot")
                   .withColumn("__salt",
                               F.pmod(F.xxhash64(F.col("doc_id")), F.lit(8))
                               .cast("int"))
                   .groupBy("__salt").count())
    counts = [r["count"] for r in salted_left.collect()]
    assert len(counts) == 8 and max(counts) < 300 / 8 * 2


def test_self_pairs_hot_side_is_salted_before_it_is_exploded(spark):
    """Nothing is cached, yet each branch reads its input once: both cold
    sides reuse one exchange on the key, both hot sides reuse one exchange
    on (key, salt), and the hot rows reach the ×salt explode through that
    exchange, never through an exchange on the key alone (which would put
    a whole hot bucket in one task)."""
    rows = [("hot", i) for i in range(300)] + \
           [(f"k{i % 20}", 1000 + i) for i in range(100)]
    df = spark.createDataFrame(rows, "key string, doc_id long")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    safe = skew_safe_self_pairs(df, ["key"], ["doc_id"],
                                hot_threshold=50, salt=8,
                                detect_fraction=1.0)
    assert len(safe.collect()) == 300 * 300 + 20 * 5 * 5
    assert cache.isEmpty()

    plan = safe._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0].splitlines()
    assert sum("ReusedExchange" in line for line in final) == 2, plan
    gen = next(i for i, line in enumerate(final) if "Generate explode" in line)
    feed = next(line for line in final[gen + 1:] if "Exchange" in line)
    assert "hashpartitioning(key#" in feed and "__salt#" in feed, plan


def test_self_pairs_no_hot_keys_pure_cold(spark):
    """Below threshold nothing is salted; result identical to plain and
    the plan degrades to the single self-join (no Union branch)."""
    df = spark.createDataFrame([(f"k{i % 5}", i) for i in range(50)],
                               "key string, doc_id long")
    plain = (df.alias("a").join(df.alias("b"), "key")
             .select(F.col("a.doc_id").alias("doc_id_a"),
                     F.col("b.doc_id").alias("doc_id_b")))
    safe = skew_safe_self_pairs(df, ["key"], ["doc_id"], hot_threshold=100,
                                detect_fraction=1.0)
    assert _rows(safe) == _rows(plain)
    plan = safe._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan


def test_self_pairs_sampled_detection_identical(spark):
    """Default sampled detection: routing may differ run to run but the
    pair multiset never does (hot key is far above threshold, so the
    sample finds it reliably here)."""
    rows = [("hot", i) for i in range(2000)] + \
           [(f"k{i % 10}", 10_000 + i) for i in range(200)]
    df = spark.createDataFrame(rows, "key string, doc_id long")
    plain = (df.alias("a").join(df.alias("b"), "key")
             .select(F.col("a.doc_id").alias("doc_id_a"),
                     F.col("b.doc_id").alias("doc_id_b")))
    safe = skew_safe_self_pairs(df, ["key"], ["doc_id"],
                                hot_threshold=100, salt=4,
                                detect_fraction=0.2)
    assert _rows(safe) == _rows(plain)


def test_two_phase_agg_exact(skewed):
    fact, _ = skewed
    plain = fact.groupBy("k").agg(
        F.sum("v").alias("sv"), F.count("id").alias("n"),
        F.min("v").alias("mn"), F.max("v").alias("mx"))
    salted = two_phase_agg(fact, "k", {
        "sv": ("v", "sum"), "n": ("id", "count"),
        "mn": ("v", "min"), "mx": ("v", "max")}, salt=8)
    a = {r["k"]: (round(r["sv"], 6), r["n"], r["mn"], r["mx"])
         for r in plain.collect()}
    b = {r["k"]: (round(r["sv"], 6), r["n"], r["mn"], r["mx"])
         for r in salted.collect()}
    assert a == b


def test_aqe_splits_planted_skew(spark):
    """skew_aqe_join's companion assert: AQE really splits the planted hot
    partition at runtime.  Three preconditions, all load-bearing (see
    q_aqe_skew_join's docstring): the dim is CHECKPOINTED so both SMJ
    children are bare shuffle stages (an agg child makes the split
    unsound and the rule never matches), the fact rows carry an
    incompressible md5 payload kept alive through the join by max() (a
    constant-key/sequential-id partition lz4-compresses below any
    threshold), and the fact side has 8 map tasks (the split is by
    map-index ranges).  After execution the final adaptive plan must
    carry the skew=true marker, and the result must be the plain
    join's."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n = 400_000
        left = spark.range(0, n, 1, 8).select(
            F.when(F.col("id") % 10 < 8, F.lit(0)).otherwise(F.col("id"))
            .alias("k"), "id",
            F.md5(F.encode(F.col("id").cast("string"), "utf-8"))
            .alias("payload"))
        dim = (left.select("k").distinct()
               .select("k", (F.col("k") % 7).alias("label"))
               .localCheckpoint(eager=True))
        out = (left.join(dim, "k").groupBy("label")
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.max("payload").alias("max_payload")))
        rows = {r["label"]: r["n_rows"] for r in out.collect()}
        # every left row matches exactly one dim row
        assert sum(rows.values()) == n
        assert rows[0] >= int(0.8 * n)   # the hot key lands on label 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))


def test_bloom_runtime_filter_result_parity(spark, sf_dir):
    """The injected runtime Bloom filter (asserted inside the query — it
    RAISES if might_contain is absent) must be result-invisible vs the
    plain join."""
    from pyspark.sql import functions as F

    from big_data_assignment_2_spark.plans.skew_queries import \
        q_bloom_runtime_filter
    from big_data_assignment_2_spark.sources.io import load_table

    got = {(r["o_orderpriority"], r["n_items"], r["sum_qty"])
           for r in q_bloom_runtime_filter(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    o = (load_table(spark, sf_dir, "orders")
         .filter((F.col("o_orderpriority") == "1-URGENT")
                 & (F.col("o_orderdate") < F.lit("1995-06-01"))))
    plain = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("l_quantity").cast("bigint")).alias("s")))
    want = {(r["o_orderpriority"], r["n"], r["s"]) for r in plain.collect()}
    assert got == want and len(got) >= 1
