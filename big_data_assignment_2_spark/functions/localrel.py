"""Tiny driver-side relations and maps as pure-JVM literals (r17).

``spark.createDataFrame(rows)`` builds a PYTHON-backed RDD relation with
``defaultParallelism`` slices: every scan of it launches a wave of
Python-worker rounds (measured ~0.4-0.7 s per scan on local[32] vs
~0.1 s for an inline-literal relation), paid per consumer.  For SMALL,
plan-time-known row sets the right shape is a literal array of structs
exploded on a 1-row range: all-JVM, one partition, no Python workers,
codegen-friendly, and trivially broadcastable.

Each ``Column`` the driver builds is a py4j round trip (~80-135 µs of
CPU); built value by value, a literal costs ~36-44 per value (~0.15 s
of driver CPU for a 40-row query-term relation, ~24 s for 5,000
tombstone ids).
:func:`json_literal` sends the whole value as ONE JSON string that Spark
parses (``from_json``, FAILFAST: a value that does not fit its type
raises instead of becoming NULL) and constant-folds: a constant number
of py4j calls, and the optimized plan holds a plain literal,
bit-identical to the ``F.lit`` form (``-0.0``, subnormals, ``NaN``,
``±inf``).

Same rows and types as ``createDataFrame(rows, schema)``.  Use ONLY for
bounded row sets (query terms, centroids, tombstone ids, cursors) —
never for data that scales with the corpus.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DataType, DoubleType, FloatType,
                               StructField, StructType)


def _parse_type(t: DataType) -> DataType:
    """``t`` with FLOAT parsed as DOUBLE (cast down after, as F.lit)."""
    if isinstance(t, FloatType):
        return DoubleType()
    if isinstance(t, ArrayType):
        return ArrayType(_parse_type(t.elementType))
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _parse_type(f.dataType))
                           for f in t.fields])
    return t


def json_literal(value, ddl: str | DataType) -> Column:
    """``value`` as ONE literal of type ``ddl`` (e.g.
    ``"map<string,bigint>"``), in a constant number of py4j calls.
    Raises on a value JSON cannot encode (here) or that does not fit
    ``ddl`` (when Spark folds or evaluates it)."""
    t = DataType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    p = _parse_type(t)
    col = F.from_json(F.lit(json.dumps(value)), p, {"mode": "FAILFAST"})
    return col if p == t else col.cast(t)


def inline_rows(spark: SparkSession, rows: list[tuple],
                schema: str) -> DataFrame:
    """A small relation as ONE literal inline table (no Python RDD).

    ``schema`` is a DDL string like ``"term string"`` or
    ``"query_id string, term string"``; each value is cast to its
    declared type, so the result's columns match
    ``createDataFrame(rows, schema)``.
    """
    st = StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], schema)
    # Arity guard (r18 advice): zip() would silently truncate a
    # wrong-arity row where createDataFrame raises — fail loudly instead
    # of handing a buggy caller wrong data.  Input is bounded by
    # contract, so the per-row check is free.
    for i, row in enumerate(rows):
        if len(row) != len(st.fields):
            raise ValueError(
                f"inline_rows: row {i} has {len(row)} values for "
                f"{len(st.fields)}-field schema {schema!r}")
    return spark.range(1).select(F.inline(json_literal(
        [dict(zip(st.names, row)) for row in rows], ArrayType(st))))
