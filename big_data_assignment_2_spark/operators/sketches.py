"""KMV / theta-style distinct-count sketches with set algebra.

The Datasketches theta sketch family (union / intersection / difference on
cardinality sketches) is the 100 TB way to answer "how many customers are
in BOTH cohorts" without shuffling the distinct values themselves: each
shard retains only its k smallest hashes, partial sketches merge
associatively (k-min of k-mins == global k-min), and set operations happen
on the ~k-entry sketches, not the data.

Unlike HLL (`rel_hll_sketch_union`, whose estimates are engine-specific so
its oracle can only bound the error), KMV over a *deterministic arithmetic
hash* is exactly reproducible in ANSI SQL: h(x) = (a*x + b) mod p with
bigint arithmetic gives bit-identical sketches — and therefore bit-identical
ESTIMATES — in Spark and DuckDB.  The oracle parity is exact, not a
tolerance boolean.

Scale shape: phase 1 computes a per-(group, input-partition) k-min over a
``collect_set`` bounded by the partition's distinct values, phase 2 merges
the <=k-entry partials per group.  No global sort, no window over the full
distinct set; the shuffle carries at most k hashes per (group, partition).

Estimator (standard KMV, Bar-Yossef et al. 2002): with theta = the k-th
smallest hash (or p when fewer than k distinct values survive), every
retained hash is < theta and est = retained * p / theta — which degrades to
the EXACT count when the sketch holds the whole set (theta = p).
Intersection uses the theta-sketch rule: theta = min(theta_a, theta_b),
candidates = common hashes < theta, est = |candidates| * p / theta.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import drop_zip_finders

# Mersenne prime 2^31 - 1.  The hash reduces x mod p BEFORE multiplying:
# |x % p| < 2^31 and a < 2^31, so (x % p) * a stays under 2^62 for EVERY
# int64 input — no silent wrap in non-ANSI Spark, no HUGEINT promotion in
# DuckDB, and the result is algebraically identical to (a*x + b) mod p
# (both engines give the remainder the dividend's sign, and the two
# dividends always share a sign, so the representatives match too).
KMV_P = 2_147_483_647
KMV_A = 1_103_515_245  # classic LCG multiplier; any odd a works
KMV_B = 12_345
KMV_K = 128


def kmv_hash(col: Column) -> Column:
    """((x mod p) * a + b) mod p as BIGINT — overflow-free for all int64
    inputs and identical in Spark and ANSI SQL (see module constants)."""
    return ((col.cast("bigint") % F.lit(KMV_P)) * F.lit(KMV_A)
            + F.lit(KMV_B)) % F.lit(KMV_P)


def kmv_hash_sql(expr: str) -> str:
    """The SQL twin of :func:`kmv_hash` (same literals, same order)."""
    return (f"((CAST({expr} AS BIGINT) % {KMV_P}) * {KMV_A}"
            f" + {KMV_B}) % {KMV_P}")


def kmv_sketch(df: DataFrame, group_col: str, value_col: str,
               k: int = KMV_K) -> DataFrame:
    """Per-group KMV sketch: ascending array of the k smallest distinct
    hashes of ``value_col``.  Two-phase mergeable build — phase 1 holds at
    most one partial per (group, partition) and each partial is <= k
    entries, so the phase-2 shuffle is O(k * partitions), never O(distinct).
    """
    per_part = (
        df.select(F.col(group_col).alias("g"),
                  kmv_hash(F.col(value_col)).alias("h"))
        .withColumn("pid", F.spark_partition_id())
        .groupBy("g", "pid")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k)
             .alias("part_kmin")))
    return (per_part.groupBy("g")
            .agg(F.slice(
                F.array_distinct(
                    F.array_sort(F.flatten(F.collect_list("part_kmin")))),
                1, k).alias("kmin")))


def kmv_theta(kmin: Column, k: int = KMV_K) -> Column:
    """Sketch threshold: the k-th smallest hash, or p for an exact sketch."""
    return F.when(F.size(kmin) < k, F.lit(KMV_P).cast("bigint")) \
            .otherwise(F.element_at(kmin, k).cast("bigint"))


def kmv_estimate(kmin: Column, k: int = KMV_K) -> Column:
    """Uniform KMV estimator: retained(< theta) * p / theta.

    Exact-count degeneration: theta = p keeps every entry and the ratio
    collapses to the retained count.
    """
    theta = kmv_theta(kmin, k)
    retained = F.size(F.filter(kmin, lambda x: x < theta))
    return retained.cast("double") * F.lit(float(KMV_P)) \
        / theta.cast("double")


def kmv_merge(kmin_arrays: Column, k: int = KMV_K) -> Column:
    """Union of sketches: k smallest distinct hashes across the arrays.
    ``kmin_arrays`` is an array<array<bigint>> (e.g. collect_list of kmin).
    """
    return F.slice(
        F.array_distinct(F.array_sort(F.flatten(kmin_arrays))), 1, k)


def kmv_intersect_estimate(kmin_a: Column, kmin_b: Column,
                           k: int = KMV_K) -> Column:
    """Theta-sketch intersection estimate between two sketches."""
    theta = F.least(kmv_theta(kmin_a, k), kmv_theta(kmin_b, k))
    common = F.filter(F.array_intersect(kmin_a, kmin_b),
                      lambda x: x < theta)
    return F.size(common).cast("double") * F.lit(float(KMV_P)) \
        / theta.cast("double")


def misra_gries_candidates(df: DataFrame, key_col: str,
                           k: int) -> DataFrame:
    """Pass 1 of the two-pass exact heavy-hitter shape: per input
    partition, a bounded Misra-Gries summary with ``k`` counters
    (Misra & Gries 1982; batched merge rule from Agarwal et al.,
    "Mergeable Summaries", PODS'12) emits at most ``k`` candidate keys —
    O(k) state per partition regardless of how many distinct keys stream
    through, and a shuffle of at most k × partitions rows instead of
    every distinct key.

    Batched variant (vectorized, no per-row Python): value_counts per
    Arrow batch, merge into the counter map, and when the map exceeds k
    subtract the (k+1)-th largest counter from ALL and drop non-positive
    — each such event removes at least (k+1)·d mass, so the total
    undercount of any key is at most n_p/(k+1).

    GUARANTEE (the reason pass 2 can be exact): any key with partition
    frequency > n_p/(k+1) keeps a positive counter, and any key with
    GLOBAL frequency > n/(k+1) must exceed that local threshold in at
    least one partition (else summing the per-partition bounds
    contradicts the global count) — so the union of per-partition
    candidates is LOSSLESS for the global threshold.
    """
    from collections import Counter
    from typing import Iterator

    import pandas as pd

    def mg(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        drop_zip_finders()
        counters: Counter = Counter()
        for pdf in batches:
            counters.update(pdf[key_col].value_counts().to_dict())
            if len(counters) > k:
                d = sorted(counters.values(), reverse=True)[k]
                counters = Counter({key: c - d
                                    for key, c in counters.items()
                                    if c - d > 0})
        yield pd.DataFrame({key_col: list(counters.keys())})

    return df.select(key_col).mapInPandas(mg, f"{key_col} string")


def heavy_hitters_exact(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """EXACT heavy hitters — every key with frequency strictly above
    n/(k+1) and nothing else — without ever shuffling the full distinct
    key space (the 100 TB shape: a vocabulary- or URL-frequency scan
    where distinct keys dwarf executor memory budgets you'd want for a
    plain groupBy's hash tables).

    Pass 1 (:func:`misra_gries_candidates`) streams each partition
    through k bounded counters and ships only ≤ k candidates per
    partition.  Pass 2 semi-joins the stream against the broadcast
    candidate set and exact-counts candidates only, so the aggregate
    shuffle carries ≤ candidates × partitions partial rows.  The
    threshold compare is pure integer arithmetic (freq·(k+1) > n) —
    bit-identical in any engine.  Returns (key, freq) for the true
    heavy hitters; deterministic and lossless by the pigeonhole
    argument in pass 1's docstring.
    """
    cand = misra_gries_candidates(df, key_col, k).distinct()
    total = df.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    return (df.join(F.broadcast(cand), key_col)
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("freq"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("freq") * F.lit(k + 1) > F.col("__n"))
            .select(key_col, "freq"))
