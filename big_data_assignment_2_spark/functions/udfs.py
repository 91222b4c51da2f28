"""Python UDF surface (SURVEY.md §2.9).

The reference's Python hooks — one scalar UDF (U1, `prepare_data.py:27`),
a foreach writer (U2), RDD lambdas (U3), and six stdin/stdout MapReduce
scripts (U4) — are all replaced by native expressions elsewhere in this
package.  What remains here is the ONE sanctioned pattern for when Python
is genuinely required (a Python-only library, e.g. a tokenizer or model):
an Arrow-vectorized ``pandas_udf``.  Batch transfer via Arrow + columnar
numpy work is 10-100× faster than a row-at-a-time ``F.udf``; still ~10×
slower than staying in the JVM — which is why nothing in the hot paths
uses it.

``shannon_entropy`` is the demonstration (a real quality signal for
training-data filtering): chars → counts → -Σ p·log2 p, vectorized with
numpy over each Arrow batch.

Every function that runs inside a Python worker calls
:func:`drop_zip_finders` as its first statement (see there for why);
``tests/test_udfs.py`` walks the package and fails on one that does not.
"""

from __future__ import annotations

import sys
import zipimport

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from .rounding import spark_round6_array


def drop_zip_finders() -> None:
    """Delete every cached ``zipimporter`` from ``sys.path_importer_cache``.

    PySpark (4.1.2) starts every Python task with
    ``importlib.invalidate_caches()``, and on Python 3.11 each cached
    ``zipimporter`` then re-reads its archive's whole central directory.
    A worker imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``,
    so it holds 16 of them (pyspark.zip and 11 of its sub-packages at
    1,328 entries each, the py4j zip, a 5,359-entry Spark jar): about
    0.15 CPU-s per task, whatever the task carries.  Spark reuses
    workers, so calling this first in every worker-side function leaves
    the next task on the same worker nothing to re-read.

    Safe: modules already loaded keep their own loaders, and
    ``PathFinder`` rebuilds a finder for any later import that needs one
    (from zipimport's directory cache, without re-reading the archive).
    Must be a call in the function body, not a decorator:
    ``applyInPandas`` reads the function's own signature to decide
    whether to pass the group key."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


@pandas_udf(DoubleType())
def shannon_entropy(texts: pd.Series) -> pd.Series:
    """Character-level Shannon entropy (bits/char), 0.0 for empty text."""
    drop_zip_finders()
    import math
    from collections import Counter

    def one(t: str | None) -> float:
        if not t:
            return 0.0
        counts = Counter(t)
        n = len(t)
        return round(-sum((c / n) * math.log2(c / n) for c in counts.values()), 6)

    return texts.map(one)


def minmax_scale_by_group(df, group_col: str, value_col: str,
                          out_col: str = "scaled"):
    """Grouped-map Arrow surface (``applyInPandas``): per-group min-max
    normalization of ``value_col``, rounded 6 dp (constant groups → 0.0).

    This exists to put the grouped-map plumbing itself under a hard
    cross-engine correctness row — the shuffle-by-group + whole-group
    pandas batch shape a Python-only per-group model (a scorer, a
    calibrator) would use.  For THIS particular computation the native
    form (group agg + broadcast join, as the SQL oracle is written) is
    the 100-TB path: a grouped map materializes every group in one
    executor's memory, so few-valued group keys make hot tasks.
    """
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    schema = f"{fields}, {out_col} double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        lo, hi = pdf[value_col].min(), pdf[value_col].max()
        if hi == lo:
            pdf[out_col] = 0.0
        else:
            x = (pdf[value_col] - lo) / float(hi - lo)
            # Spark's round(x, 6); np.round is half-to-even
            pdf[out_col] = spark_round6_array(x.to_numpy())
        return pdf

    return df.groupBy(group_col).applyInPandas(fn, schema)
