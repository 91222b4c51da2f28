"""The Python ``round(x, 6)`` helpers agree with Spark's ``F.round(x, 6)``."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from big_data_assignment_2_spark.functions.rounding import (
    spark_round6, spark_round6_array)

# Doubles just below a decimal half-unit tie: Spark rounds their decimal
# string HALF_UP, the floor form floor(x*1e6 + 0.5)/1e6 rounds them down.
NEAR_TIES = [0.0001245, 0.0002445, 0.6953125, 1.0000005, 2.5e-7, 0.5e-6,
             123.4567895, 0.1234565]


def test_round6_matches_spark_round(spark):
    rng = random.Random(6)
    xs = NEAR_TIES + [rng.uniform(-2, 2) for _ in range(200)] + \
        [rng.randint(-10 ** 7, 10 ** 7) / 1e7 + 5e-7 for _ in range(200)] + \
        [0.0, 1e7 + 0.0000005, float("nan")]
    xs += [-x for x in xs]
    rows = spark.createDataFrame([(i, x) for i, x in enumerate(xs)],
                                 "i int, x double") \
        .select("i", F.round("x", 6).alias("r")).orderBy("i").collect()
    want = [r["r"] for r in rows]
    vec = spark_round6_array(xs).tolist()
    for x, w, v in zip(xs, want, vec):
        s = spark_round6(x)
        if x != x:
            assert s != s and v != v
            continue
        assert s == w and v == w, (x, w, s, v)
    # the floor form this helper replaced disagrees on these values
    assert spark_round6(0.0001245) == 0.000125
    assert spark_round6(-0.0002445) == -0.000245
    assert int(0.0001245 * 1e6 + 0.5) == 124
