"""Spark-exact ``round(x, 6)`` for Python code that must agree with Spark.

Spark's ``Round`` on a double is HALF_UP over the double's decimal string
(Scala ``BigDecimal(d)`` goes through ``Double.toString``), so
``round(0.0001245, 6)`` is 0.000125 although the double lies just below
the tie.  The floor form ``floor(x * 1e6 + 0.5) / 1e6`` gives 0.000124
there, and Python's ``round`` is half-to-even.  Grouped-map and driver
code that rounds a value Spark would round in-plan uses these helpers.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_QUANT = Decimal("0.000001")


def spark_round6(x: float) -> float:
    """Spark's ``round(x, 6)`` for one double; NaN and ±inf pass through."""
    x = float(x)
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(_QUANT, rounding=ROUND_HALF_UP))


def spark_round6_array(x) -> np.ndarray:
    """Vectorised :func:`spark_round6`: the numpy half-away-from-zero floor
    form, with only the values within ~1e-9 of a half-unit tie (or too
    large for the scaled form to be exact) recomputed exactly."""
    x = np.asarray(x, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        s = x * 1e6
        out = np.where(x >= 0, np.floor(s + 0.5), np.ceil(s - 0.5)) / 1e6
        redo = np.isfinite(x) & (
            (np.abs(np.abs(s - np.trunc(s)) - 0.5) < 1e-3)
            | (np.abs(x) >= 1e6))
    for i in np.flatnonzero(redo):
        out.flat[i] = spark_round6(x.flat[i])
    return out
