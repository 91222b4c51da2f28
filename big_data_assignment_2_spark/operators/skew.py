"""Skew mitigation (100 TB concern: one hot key serializes a whole stage).

First line of defense is AQE skew-join splitting (on in session.py) — it
splits oversized partitions at runtime with no code change.  These manual
tools cover what AQE can't:

- ``salted_join``: AQE only splits SORT-MERGE join partitions; when the
  build side must replicate (e.g. a medium dimension too big to broadcast
  but with a hot fact key), salt the fact side with ``hash(row) % S`` and
  replicate the dimension S ways — the hot key fans out over S tasks.
- ``two_phase_agg``: aggregation skew isn't handled by AQE at all.  A
  partial agg on (key, salt) spreads the hot key over S reducers, then the
  tiny (key, salt) partials collapse in a second exact agg.  For algebraic
  aggregates (sum/count/min/max) this is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(fact: DataFrame, dim: DataFrame, on: str, salt: int = 16,
                how: str = "inner") -> DataFrame:
    """Equi-join with the fact side salted and the dim side replicated
    ``salt`` ways.  Result is identical to ``fact.join(dim, on, how)``
    for inner/left joins."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    f = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]),
                         F.lit(salt)).cast("int"))
    d = dim.withColumn("__salt", F.explode(F.array(
        *[F.lit(i) for i in range(salt)])))
    out = f.join(d, [on, "__salt"], how)
    return out.drop("__salt")


def skew_safe_self_pairs(df: DataFrame, keys: list[str], payload: list[str],
                         hot_threshold: int = 4096, salt: int = 16,
                         detect_fraction: float = 0.05,
                         max_hot_keys: int = 128, seed: int = 7) -> DataFrame:
    """Self equi-join on ``keys`` producing all ordered row pairs per key
    bucket, with HOT buckets salted — the candidate-pair join shape of
    every LSH/shingle/fingerprint dedup stage, made safe against a single
    hot key (stop-shingle, degenerate band) serializing a stage at scale.

    Result-identical to ``df ⋈ df on keys``.  Hot keys are DETECTED on a
    ``detect_fraction`` sample (a key is hot when its sampled count
    exceeds hot_threshold × fraction) and collected to the driver — a
    bounded list (≤ max_hot_keys), like broadcasting IVF centroids.
    Detection affects only ROUTING: a borderline key classified either
    way joins correctly, so sampling never changes the result.  With no
    hot keys (the common case) the function degrades to the plain
    self-join — zero extra join stages, just the cheap sampled count.

    For hot keys the left side is hashed into ``salt`` sub-keys and the
    right side replicated ``salt`` ways, so one S-row bucket becomes
    ``salt`` tasks of ~S/salt × S instead of one S×S task.  (AQE skew
    splitting only rescues sort-merge joins; this also covers the
    broadcast/shuffled-hash shapes these joins usually take.  Keys hotter
    than the max_hot_keys cap simply stay unsplit — still correct.)

    Returns columns ``<c>_a``/``<c>_b`` for each payload column.

    Nothing is cached.  The detection job computes the input's lineage
    once.  With no hot keys the pair plan computes it once more: both join
    sides read one ``repartition(*keys)`` exchange, which the join's own
    distribution requirement accepts, so Spark reuses it for both sides.
    With hot keys the cold and hot branches read the lineage once each
    (Spark pushes their filters below any shared exchange): both cold
    sides reuse one exchange on ``keys``, and both hot sides reuse one
    exchange on ``(keys, __salt)``, which spreads a hot bucket's rows over
    ``salt`` tasks before the ×salt explode and already is the salted
    join's partitioning on the left side.
    """
    kcol = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
    frac = min(max(detect_fraction, 0.0), 1.0)
    sampled = df.sample(fraction=frac, seed=seed) if frac < 1.0 else df
    hot_list = [
        r["__k"] for r in
        (sampled.groupBy(kcol.alias("__k"))
         .agg(F.count(F.lit(1)).alias("__kn"))
         .filter(F.col("__kn") > hot_threshold * frac)
         .orderBy(F.desc("__kn")).limit(max_hot_keys)
         .collect())
    ]

    def _side(d: DataFrame, suffix: str, *extra: str) -> DataFrame:
        return d.select(*keys, *[F.col(c).alias(f"{c}_{suffix}")
                                 for c in payload], *extra)

    def _pairs(d: DataFrame) -> DataFrame:
        d = d.repartition(*keys)
        return _side(d, "a").join(_side(d, "b"), keys)

    out_cols = [f"{c}_a" for c in payload] + [f"{c}_b" for c in payload]
    if not hot_list:
        return _pairs(df).select(*out_cols)

    cold_pairs = _pairs(df.filter(~kcol.isin(hot_list)))
    # coalesce makes the salt non-nullable, so the join infers no
    # isnotnull filter that would make the two hot sides' exchanges differ
    hot = (df.filter(kcol.isin(hot_list))
           .withColumn("__salt", F.coalesce(F.pmod(
               F.xxhash64(*[F.col(c) for c in payload]),
               F.lit(salt)).cast("int"), F.lit(0)))
           .repartition(*keys, "__salt"))
    hot_a = _side(hot, "a", "__salt")
    hot_b = _side(hot, "b").withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    hot_pairs = hot_a.join(hot_b, keys + ["__salt"]).drop("__salt")
    return cold_pairs.select(*out_cols).unionByName(hot_pairs.select(*out_cols))


def two_phase_agg(df: DataFrame, key: str, aggs: dict[str, tuple[str, str]],
                  salt: int = 16) -> DataFrame:
    """Skew-safe exact aggregation for algebraic functions.

    ``aggs`` maps output column → (input column, fn) with fn in
    sum/count/min/max.  Phase 1 aggregates on (key, salt); phase 2 merges
    the ≤``salt`` partials per key (count merges via sum).
    """
    merge_fn = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    for out_col, (_, fn) in aggs.items():
        if fn not in merge_fn:
            raise ValueError(f"{fn} is not algebraic-mergeable")
    salted = df.withColumn("__salt", F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt)).cast("int"))
    phase1 = salted.groupBy(key, "__salt").agg(*[
        getattr(F, fn)(col).alias(out_col)
        for out_col, (col, fn) in aggs.items()])
    phase2 = phase1.groupBy(key).agg(*[
        getattr(F, merge_fn[fn])(out_col).alias(out_col)
        for out_col, (_, fn) in aggs.items()])
    return phase2
