"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet,
compare row count + column names + order-insensitive values.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")


def normalize(rows, columns):
    """Column-name-sorted, order-insensitive, float-rounded row multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = 0.0 if (not math.isnan(v) and v == 0.0) else (
                    float("nan") if math.isnan(v) else round(v, 6))
            if isinstance(v, (list, tuple)):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


_INTEGRAL_SPARK = {"tinyint", "smallint", "int", "bigint", "byte", "short",
                   "integer", "long"}


def dtype_parity_problems(sdf, con, sql):
    """Driver-emulating type check (VERDICT r15 #2).

    The driver fetches the oracle via pandas ``fetchdf()``, which is
    type-lossy: DuckDB HUGEINT (the result type of sum(BIGINT)) and
    DECIMAL both materialize as float64, so an integer-valued oracle can
    hash as ``10195100.0`` against Spark's ``10195100`` and flip the
    driver's type-sensitive value hash even though values are equal.
    ``fetchall()`` (used below for value comparison) hides this by
    returning Python ints — so we check through the lossy path and
    fail when a Spark-integral column comes back floating with no NULLs
    (NULL-bearing int columns are float64 in pandas regardless of the
    declared type; the driver tolerates those, so we do too).

    Cost control (r16 advice): a plan-only ``DESCRIBE`` probe reads the
    DECLARED result types without executing the oracle a second time —
    only when a Spark-integral column is declared HUGEINT / DECIMAL /
    floating (the only types that can fetch as NaN-free float64) do we
    pay the ``fetchdf()`` re-execution to apply the NULL exemption
    exactly as the driver sees it.  A clean oracle (all 243 today) never
    re-executes.
    """
    problems = []
    spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema}
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    hazards = [row[0] for row in desc
               if spark_types.get(row[0]) in _INTEGRAL_SPARK
               and str(row[1]).upper().startswith(
                   ("HUGEINT", "UHUGEINT", "DECIMAL", "DOUBLE", "FLOAT",
                    "REAL"))]
    if not hazards:
        return problems
    odf = con.execute(sql).fetchdf()
    for col in hazards:
        stype = spark_types.get(col)
        if str(odf[col].dtype).startswith("float"):
            if not odf[col].isna().any():
                problems.append(
                    f"oracle column '{col}' fetches as {odf[col].dtype} but "
                    f"Spark type is {stype} (NaN-free) — likely HUGEINT from "
                    f"sum(BIGINT) or a DECIMAL projection; wrap in an outer "
                    f"CAST(... AS BIGINT)")
    return problems


def jvm_memory_bytes(spec: str) -> int:
    """A JVM memory size such as ``8g``, ``512m`` or ``2048`` (MiB, as
    ``spark.driver.memory`` reads a bare number) in bytes."""
    spec = spec.strip().lower().rstrip("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if spec and spec[-1] in units:
        return int(float(spec[:-1]) * units[spec[-1]])
    return int(spec) << 20


def duckdb_memory_limit_mb(phys_bytes: int | None = None,
                           driver_memory: str | None = None) -> int:
    """DuckDB's cap for the oracle replays, in MiB: half of the physical
    RAM the Spark driver's heap (``SPARK_DRIVER_MEMORY``, as
    ``session.get_spark`` sets it) leaves.  The other half covers the
    JVM's off-heap memory, this Python process and the OS, so an oracle
    larger than the cap spills to ``temp_directory`` instead of growing
    the process until the kernel kills it.  At least 1 GiB."""
    import os

    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    free = phys_bytes - jvm_memory_bytes(driver_memory)
    return max(1024, free // 2 >> 20)


def main() -> int:
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from big_data_assignment_2_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    import os
    # Heavy oracle replays (the sf1 PPJoin candidate join peaks far above
    # RAM) must SPILL, not OOM-kill the process: cap DuckDB below what
    # the machine has left beside the Spark driver's heap and give it a
    # temp dir.
    con.execute(f"SET memory_limit='{duckdb_memory_limit_mb()}MiB'")
    con.execute("SET temp_directory='/tmp/duckdb_check_spill'")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        # Driver testdata are single files; Spark-written tables (e.g. the
        # make_sf1.py scale set) are directories of part files.
        path = f"{sf_dir}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pattern}'")

    qs, oracles = queries(), oracle_sql()
    failures = []
    n_run = n_compared = n_ok = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        n_compared += 1
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            try:
                problems.extend(dtype_parity_problems(sdf, con, oracles[name]))
            except Exception as e:  # noqa: BLE001
                problems.append(f"dtype-parity fetchdf error: {e}")
        if not problems:
            a, b = normalize(srows, scols), normalize(orows, ocols)
            if a != b:
                diff = next((i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y)
                problems.append(f"values differ, first at sorted idx {diff[0]}: "
                                f"spark={diff[1]} duck={diff[2]}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            n_ok += 1
            print(f"ok    {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
    spark.stop()
    print(f"\nok={n_ok} oracle-compared={n_compared} run={n_run} "
          f"registered={len(qs)} failures={len(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
