"""Hadoop-path table maintenance: one path→``FileSystem`` lookup and
small-file compaction.

The runner (``runner.py``) is the only table writer; this module holds the
storage helpers it and the maintenance queries share.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``'s scheme — local file://, hdfs://,
    s3a://, … all resolve through the same API, so metadata I/O works
    wherever the tables live (a driver-local ``os.listdir`` would silently
    see nothing on a remote store)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def compact_parquet(spark: SparkSession, path: str, *,
                    target_mb: int = 128,
                    min_files_to_compact: int = 4) -> dict:
    """Rewrite a parquet directory's many small files into ~``target_mb``
    files — the maintenance half of the north rule's "adaptive coalesce of
    small HTML files".

    Read-side adaptivity (AQE coalesce + ``maxPartitionBytes``) already
    makes small files *queryable* at full speed, but every later consumer
    re-pays listing + footer overhead; compaction pays it once. This is the
    parquet-dir analog of Iceberg's ``rewrite_data_files`` action (which an
    Iceberg deployment should call instead — snapshot-safe, no reader
    disruption). Plan: one scan → AQE-planned exchange-free coalesce to
    ceil(bytes / target) output files → atomic-ish directory swap via
    rename (single-writer maintenance window assumed, like any non-Iceberg
    parquet rewrite).

    Returns {files_before, files_after, bytes} (no-op dict when the
    directory is already compact).
    """
    import math

    fs, jpath = hadoop_fs(spark, path)
    # siblings of `path`: the rewrite lands at tmp, the live data parks at
    # old for the swap
    jtmp, jold = jpath.suffix("._compact_tmp"), jpath.suffix("._compact_old")
    # crash recovery: a previous compaction killed between its two renames
    # leaves the data parked at ._compact_old and nothing at `path` —
    # restore it before anything else (and clear any stale tmp)
    if fs.exists(jold) and not fs.exists(jpath):
        if not fs.rename(jold, jpath):
            raise IOError(
                f"compact: orphaned {path}._compact_old cannot be restored")
    fs.delete(jtmp, True)
    files = [f for f in fs.listStatus(jpath)
             if f.getPath().getName().endswith(".parquet")]
    total = sum(f.getLen() for f in files)
    if len(files) < min_files_to_compact:
        return {"files_before": len(files), "files_after": len(files),
                "bytes": total, "compacted": False}
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    (df.coalesce(n_out).write.mode("overwrite").parquet(jtmp.toString()))
    fs.delete(jold, True)
    if not fs.rename(jpath, jold):
        fs.delete(jtmp, True)
        raise IOError(f"compact: cannot stage {path}")
    try:
        swapped = fs.rename(jtmp, jpath)
    except Exception:
        swapped = False
    if not swapped:
        fs.rename(jold, jpath)  # roll back
        fs.delete(jtmp, True)
        raise IOError(f"compact: cannot swap in {jtmp}")
    fs.delete(jold, True)
    after = len([f for f in fs.listStatus(jpath)
                 if f.getPath().getName().endswith(".parquet")])
    return {"files_before": len(files), "files_after": after,
            "bytes": total, "compacted": True}
