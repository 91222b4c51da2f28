"""Shared persisted-store lifecycle mechanics (r13, VERDICT r12 #7):
the append-only tombstone log, read-time masking, and atomic-swap
compaction that the three persisted indexes — BM25 (``persist``),
IVF+PQ (``persist``), fingerprint store (``dedup``) — previously each
hand-rolled.  Behavior is pinned by the three pre-existing test files
(test_index_tombstones / test_ivfpq_persist / test_store_tombstones)
and the lifecycle gate rows.

Concurrency contract (all stores): compaction runs in a MAINTENANCE
WINDOW (no concurrent probes/appends).  Each swap is two sequential
renames — a probe landing between them sees no directory at all
(fail-loud, never silently wrong); a true atomic directory exchange
does not exist portably across Spark's filesystems (HDFS/S3A have no
RENAME_EXCHANGE), so the window requirement is documented rather than
half-hidden.  All renames/deletes go through Hadoop's FileSystem API —
the same abstraction as the parquet writes — so every store works on
any Spark-supported URI, not just local POSIX.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the session's Hadoop conf —
    resolves the correct filesystem for any URI scheme Spark can write
    (file://, hdfs://, s3a://...), unlike ``os.rename``."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def hadoop_rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, hsrc = hadoop_fs(spark, src)
    hdst = hadoop_fs(spark, dst)[1]
    if not fs.rename(hsrc, hdst):
        raise IOError(f"rename failed: {src} -> {dst}")


def hadoop_delete(spark: SparkSession, path: str) -> None:
    """Fail-loud like :func:`hadoop_rename` (r14 advice): a false return
    from ``fs.delete`` with the path still present means an old store
    directory or a drop-after-compaction tombstone log silently survived
    — surface it instead of letting the next probe read stale state.
    (``delete`` on an already-absent path returns false too; that case
    is the intended no-op, hence the existence re-check.)"""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.delete(hpath, True) and fs.exists(hpath):
        raise IOError(f"delete failed: {path}")


def append_tombstones(spark: SparkSession, base_path: str, ids,
                      col: str, id_type: str) -> None:
    """Append ids to the store's ``tombstones/`` log — a pure
    partition append, never read-modify-write (concurrent daily deletes
    compose).  ``ids``: a DataFrame whose FIRST column is the id, or a
    Python iterable; cast to ``id_type``, stored under ``col``."""
    if isinstance(ids, DataFrame):
        tomb = ids.select(F.col(ids.columns[0]).cast(id_type).alias(col))
    else:
        from ..functions.localrel import inline_rows

        caster = str if id_type == "string" else int
        tomb = inline_rows(spark, [(caster(i),) for i in ids],
                           f"{col} {id_type}")
    tomb.write.mode("append").parquet(f"{base_path}/tombstones")


def tombstone_log(spark: SparkSession, base_path: str, col: str,
                  id_type: str):
    """The store's tombstone log as written — one row per logged id,
    repeats included — or None if no delete was ever issued (Hadoop-FS
    existence check).  Enough for semi/anti joins, which ignore repeated
    ids.  ``col``/``id_type`` are what :func:`append_tombstones` wrote;
    the declared schema spares a footer-inference job per read."""
    path = f"{base_path}/tombstones"
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    return spark.read.schema(f"{col} {id_type}").parquet(path)


def read_tombstones(spark: SparkSession, base_path: str, col: str,
                    id_type: str):
    """:func:`tombstone_log` as a distinct 1-column DataFrame, or None."""
    log = tombstone_log(spark, base_path, col, id_type)
    return None if log is None else log.distinct()


def mask_tombstones(df: DataFrame, tomb, id_col: str) -> DataFrame:
    """Read-time masking: anti-join the tombstone set (tiny,
    broadcast-friendly) out of a store relation; no-op if None."""
    if tomb is None:
        return df
    return df.join(tomb.toDF(id_col), id_col, "left_anti")


def atomic_rewrite(spark: SparkSession, base_path: str, rel: str,
                   df: DataFrame, partition_col: str | None = None) -> None:
    """Compaction's swap: write ``df`` to a temp sibling of
    ``{base_path}/{rel}``, rename live aside, rename temp in, delete
    old.  No coalesce(1): relations are corpus-sized at 100 TB, so the
    plan's shuffle partitioning stands (AQE coalesces small outputs)."""
    import uuid

    path = f"{base_path}/{rel}"
    tmp = f"{base_path}/{rel}_compact_{uuid.uuid4().hex[:8]}"
    w = df.write.mode("overwrite")
    if partition_col:
        w = w.partitionBy(partition_col)
    w.parquet(tmp)
    old = f"{base_path}/{rel}_old_{uuid.uuid4().hex[:8]}"
    hadoop_rename(spark, path, old)
    hadoop_rename(spark, tmp, path)
    hadoop_delete(spark, old)


def drop_tombstones(spark: SparkSession, base_path: str) -> None:
    """Drop the tombstone log after a successful physical rewrite."""
    hadoop_delete(spark, f"{base_path}/tombstones")
