"""Resumable runs: checkpointed lineage + per-partition metrics + DLQ.

Spark translation of the reference's production patterns
(``docs/guides/production-patterns.md``): the checkpoint manager's per-doc
status store (:135-250) becomes a **lineage table** keyed
``(run_id, partition_id)``; ``get_pending_documents`` (:243-249) becomes a
left-anti join of input buckets against completed lineage; the progress
tracker (:619-686) becomes a **metrics table**; the DLQ (:480-608) an
**errors table**; idempotent export (:841-858) a deterministic
overwrite-per-bucket directory layout; re-queuing exhausted-retry documents
(:594-607) becomes :func:`reprocess_errors`.

Why buckets, not physical partition ids: lineage must survive re-planning.
``partition_id = pmod(xxhash64(url, salt), n_buckets)`` is a pure function of
the data, so a resumed run computes the same pending set whatever the cluster
size — this is what makes "resume at 4N executors what N executors started"
work. Salting the hash also defuses domain skew (north rule): urls from one
huge domain spread uniformly over buckets.

Durability model (100 TB story): the BUCKET is the commit unit. Each wave
processes a chunk of pending buckets and commits them with **dynamic
partition overwrite** (``partitionBy(partition_id)`` +
``partitionOverwriteMode=dynamic`` — the parquet analog of Iceberg's
overwrite-by-partition), then appends lineage. A crash mid-wave re-runs that
wave's buckets and each bucket OVERWRITES its own directory — re-runs can
never orphan or double-count a bucket's rows, *even when the resumed run
groups pending buckets into different waves* (wave composition is a
scheduling choice, not a storage key). Extraction is deterministic per
document, so a re-committed bucket is byte-identical.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .sparkjob import DEFAULT_SALT, EXTRACTED_SCHEMA, extract_df, split_errors
from .tableio import hadoop_fs

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("status", T.StringType()),
    T.StructField("completed_at", T.TimestampType()),
])

METRICS_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("docs_processed", T.LongType()),
    T.StructField("bytes_extracted", T.LongType()),
    T.StructField("parse_failures", T.LongType()),
])

ERRORS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
    T.StructField("stage", T.StringType()),
    T.StructField("html_bytes", T.LongType()),
    T.StructField("partition_id", T.IntegerType()),
])


@dataclass
class RunPaths:
    root: str

    def extracted(self, run_id: str) -> str:
        return os.path.join(self.root, "extracted", f"run_id={run_id}")

    def errors(self, run_id: str) -> str:
        return os.path.join(self.root, "errors", f"run_id={run_id}")

    def metrics(self, run_id: str) -> str:
        return os.path.join(self.root, "metrics", f"run_id={run_id}")

    def retry_extracted(self, run_id: str, attempt: int) -> str:
        return os.path.join(self.root, "retries", f"run_id={run_id}",
                            f"attempt={attempt:05d}", "extracted")

    def retry_errors(self, run_id: str, attempt: int) -> str:
        return os.path.join(self.root, "retries", f"run_id={run_id}",
                            f"attempt={attempt:05d}", "errors")

    def lineage(self) -> str:
        return os.path.join(self.root, "lineage")


def bucket_col(salt: int = DEFAULT_SALT, n_buckets: int = 64):
    """The deterministic lineage bucket for a url."""
    return F.pmod(F.xxhash64(F.col("url"), F.lit(salt)), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, paths: RunPaths, run_id: str) -> DataFrame:
    """Lineage rows for this run (empty DF if no lineage yet).

    Only a missing lineage dir means "nothing completed"; a failing read of
    an existing one propagates instead of silently re-running every bucket.
    """
    fs, lineage = hadoop_fs(spark, paths.lineage())
    if not fs.exists(lineage):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    df = spark.read.schema(LINEAGE_SCHEMA).parquet(paths.lineage())
    return df.filter((F.col("run_id") == run_id) & (F.col("status") == "completed"))


def _manifest_path(root: str, run_id: str) -> str:
    return os.path.join(root, "runs", f"{run_id}.json")


def _load_manifest(spark: SparkSession, root: str, run_id: str) -> dict | None:
    import json

    fs, p = hadoop_fs(spark, _manifest_path(root, run_id))
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(data)


def _save_manifest(spark: SparkSession, root: str, run_id: str,
                   n_buckets: int, salt: int) -> None:
    import json

    fs, p = hadoop_fs(spark, _manifest_path(root, run_id))
    stream = fs.create(p, True)  # create() makes parent dirs on every scheme
    try:
        stream.write(bytearray(json.dumps(
            {"run_id": run_id, "n_buckets": n_buckets, "salt": salt}).encode()))
    finally:
        stream.close()


def _write_by_bucket(df: DataFrame, path: str) -> None:
    """Commit rows bucket-per-directory with dynamic partition overwrite —
    only the buckets present in ``df`` are replaced; other buckets' dirs are
    untouched (Iceberg overwrite-by-partition analog)."""
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("partition_id")
       .parquet(path))


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    run_id: str,
    *,
    n_buckets: int | None = None,
    waves: int = 1,
    salt: int | None = None,
    link_density_max: float = 0.5,
    min_chars_linked: int = 25,
) -> dict:
    """The resumable job (reference entry point §3.3). Returns run stats.

    Plan per wave::

        scan → filter(bucket ∈ pending_wave)     # partition-pruning analog
             → repartition(xxhash64(url, DEFAULT_SALT))  # extract_df's spread
             → mapInArrow(extract)                # fused stage
             → dynamic-overwrite bucket dirs      # idempotent commit
               (all rows; DLQ + metrics derived)
             → append lineage
    """
    # Resume safety: the bucketing (n_buckets, salt) is part of a run's
    # identity — lineage interpreted under a different bucketing would
    # silently re-process completed work. A per-run manifest pins it: a
    # resume inherits the stored values; an explicitly conflicting value
    # raises instead of corrupting the run. (Iceberg deployments would keep
    # this in a runs table.)
    manifest = _load_manifest(spark, root, run_id)
    if manifest is not None:
        for name, given in (("n_buckets", n_buckets), ("salt", salt)):
            if given is not None and given != manifest[name]:
                raise ValueError(
                    f"run_id {run_id!r} was started with {name}="
                    f"{manifest[name]}; resuming with {name}={given} would "
                    f"corrupt lineage — pass the original value or omit it")
        n_buckets = manifest["n_buckets"]
        salt = manifest["salt"]
    else:
        n_buckets = 64 if n_buckets is None else n_buckets
        salt = DEFAULT_SALT if salt is None else salt
        _save_manifest(spark, root, run_id, n_buckets, salt)

    paths = RunPaths(root)
    bcol = bucket_col(salt, n_buckets)
    pages_b = pages.withColumn("partition_id", bcol)

    done = completed_buckets(spark, paths, run_id)
    done_ids = sorted(r.partition_id for r in done.select("partition_id").distinct().collect())
    pending = sorted(set(range(n_buckets)) - set(done_ids))
    stats = {"run_id": run_id, "n_buckets": n_buckets,
             "completed_before": len(done_ids), "pending": len(pending), "waves": 0}
    if not pending:
        return stats

    # wave layout is a scheduling choice only (bucket dirs are the commit
    # unit): wave w gets every waves-th pending bucket
    waves = max(1, min(waves, len(pending)))
    wave_buckets = [pending[w::waves] for w in range(waves)]

    for buckets in wave_buckets:
        subset = pages_b.filter(F.col("partition_id").isin(buckets))
        # the bucket flows through the UDF (no back-join): extract_batches
        # passes an input partition_id column straight to the output.
        # extract_df's salted url-hash repartition spreads the wave over
        # every core whatever its bucket count; the write's
        # partitionBy(partition_id) still lands one dir per bucket, so the
        # bucket stays the commit unit and re-runs stay idempotent.
        # Extraction executes exactly ONCE per wave: all rows (ok + failed)
        # are committed in one write; the DLQ view and metrics are derived
        # from the committed files (cheap column-pruned scans), never by
        # recomputing the UDF.
        extracted = extract_df(subset, link_density_max=link_density_max,
                               min_chars_linked=min_chars_linked)
        _write_by_bucket(extracted, paths.extracted(run_id))

        # explicit schema: skips inference AND keeps an all-empty wave (only
        # _SUCCESS in the dir) readable instead of raising
        committed = (spark.read.schema(EXTRACTED_SCHEMA)
                     .parquet(paths.extracted(run_id))
                     .filter(F.col("partition_id").isin(buckets)))  # dir-pruned
        _, errs = split_errors(committed)
        _write_by_bucket(errs, paths.errors(run_id))

        is_ok = F.col("status") == "ok"
        metrics = (
            committed.groupBy("partition_id")
            .agg(
                F.count("*").cast("long").alias("docs_processed"),
                F.coalesce(F.sum(F.when(is_ok, F.octet_length("text"))), F.lit(0))
                    .cast("long").alias("bytes_extracted"),
                F.count(F.when(~is_ok, 1)).cast("long").alias("parse_failures"),
            )
            .select(F.lit(run_id).alias("run_id"), "docs_processed",
                    "bytes_extracted", "parse_failures", "partition_id")
        )
        _write_by_bucket(metrics, paths.metrics(run_id))

        lineage = spark.createDataFrame(
            [(run_id, int(b), "completed") for b in buckets],
            "run_id string, partition_id int, status string",
        ).withColumn("completed_at", F.current_timestamp())
        lineage.write.mode("append").parquet(paths.lineage())
        stats["waves"] += 1

    return stats


def _committed_retry_attempts(spark: SparkSession, root: str,
                              run_id: str) -> list[int]:
    """Retry attempts whose errors write COMMITTED (the attempt's marker).

    The marker is the _SUCCESS file, not the directory: Spark creates the
    output dir at job setup, so a crash mid-write leaves the dir (with only
    _temporary inside) — counting that as committed would anti-join the
    attempt's input keys out of the DLQ while contributing no error rows,
    permanently dropping still-failing documents.

    Listing goes through the Hadoop FileSystem for ``root``'s scheme, so
    attempt discovery works when the output root is HDFS/S3A, not only a
    driver-local path.
    """
    fs, base = hadoop_fs(spark, os.path.join(root, "retries", f"run_id={run_id}"))
    if not fs.exists(base):
        return []
    out = []
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("attempt=")):
            continue
        marker = spark._jvm.org.apache.hadoop.fs.Path(
            st.getPath(), "errors/_SUCCESS")
        if fs.exists(marker) and fs.getFileStatus(marker).isFile():
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def load_extracted(spark: SparkSession, root: str, run_id: str,
                   include_failures: bool = False) -> DataFrame:
    """The run's committed rows; ok rows only unless include_failures.

    (The extracted bucket dirs hold every processed row — ok and failed — so
    extraction executes once; the errors dirs are a derived DLQ view.)
    A (url, warc_ts) has at most ONE ok row across buckets + retry attempts:
    buckets partition rows, and a reprocess attempt's input is the current
    DLQ, which excludes already-recovered rows. With ``include_failures`` a
    row that failed in several attempts appears once per attempt.
    """
    paths = RunPaths(root)
    df = spark.read.schema(EXTRACTED_SCHEMA).parquet(paths.extracted(run_id))
    for k in _committed_retry_attempts(spark, root, run_id):
        df = df.unionByName(spark.read.schema(EXTRACTED_SCHEMA)
                            .parquet(paths.retry_extracted(run_id, k)))
    return df if include_failures else df.filter(F.col("status") == "ok")


def load_errors(spark: SparkSession, root: str, run_id: str) -> DataFrame:
    """The live DLQ: rows whose LATEST attempt failed.

    Bucket error rows superseded by a reprocess attempt (recovered OR
    re-failed) are replaced by that attempt's outcome: fold over committed
    retry attempts, anti-joining each attempt's input keys and unioning its
    still-failing rows. Attempt counts are tiny (1-3), so the fold is a
    couple of anti-joins, not an iterative plan blowup.
    """
    paths = RunPaths(root)
    # a clean run may have committed no error dirs at all — that's the ONLY
    # case that maps to an empty DLQ; real read failures (corrupt file,
    # FS fault) must propagate, not report a falsely-clean run
    fs, errdir = hadoop_fs(spark, paths.errors(run_id))
    if fs.exists(errdir) and fs.getFileStatus(errdir).isDirectory():
        errs = spark.read.schema(ERRORS_SCHEMA).parquet(paths.errors(run_id))
    else:
        errs = spark.createDataFrame([], ERRORS_SCHEMA)
    errs = errs.select([f.name for f in ERRORS_SCHEMA.fields])
    for k in _committed_retry_attempts(spark, root, run_id):
        # keyed (url, warc_ts): recrawls legitimately repeat a url
        reprocessed = (spark.read.schema(EXTRACTED_SCHEMA)
                       .parquet(paths.retry_extracted(run_id, k))
                       .select("url", "warc_ts").distinct())
        retry_errs = (spark.read.schema(ERRORS_SCHEMA)
                      .parquet(paths.retry_errors(run_id, k))
                      .select([f.name for f in ERRORS_SCHEMA.fields]))
        errs = (errs.join(reprocessed, ["url", "warc_ts"], "left_anti")
                    .unionByName(retry_errs))
    return errs


def load_metrics(spark: SparkSession, root: str, run_id: str) -> DataFrame:
    df = spark.read.schema(METRICS_SCHEMA).parquet(RunPaths(root).metrics(run_id))
    return df.filter(F.col("run_id") == run_id) \
             .select([f.name for f in METRICS_SCHEMA.fields])


# ~1M (url, warc_ts) keys ≈ low hundreds of MB broadcast — past this, let
# AQE plan the semi-join from actual sizes instead of forcing a driver
# collect of the whole DLQ
_BROADCAST_DLQ_MAX_KEYS = 1_000_000


def reprocess_errors(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    run_id: str,
    *,
    link_density_max: float = 0.5,
    min_chars_linked: int = 25,
) -> dict:
    """Re-drive the DLQ through extraction (reference production-patterns
    ``docs/guides/production-patterns.md:594-607``: exhausted-retry documents
    are re-queued once the transient cause clears).

    Input is the *current* DLQ (recovered rows are never reprocessed twice);
    output is an attempt-keyed overwrite directory pair, so the attempt is as
    idempotent as a wave: attempt number = count of committed attempts, and a
    crash mid-attempt re-runs and overwrites the same attempt.
    """
    manifest = _load_manifest(spark, root, run_id)
    if manifest is None:
        raise ValueError(f"unknown run_id {run_id!r}: no manifest under {root}")
    paths = RunPaths(root)
    attempt = len(_committed_retry_attempts(spark, root, run_id))

    dlq_keys = (load_errors(spark, root, run_id)
                .select("url", "warc_ts").distinct())
    n_dlq = dlq_keys.count()
    if n_dlq == 0:
        return {"run_id": run_id, "attempt": attempt, "reprocessed": 0,
                "recovered": 0, "still_failing": 0}
    # The DLQ key set is usually tiny next to a 100-TB pages side, so
    # broadcasting it lets the semi-join avoid shuffling pages — but a
    # SYSTEMATIC failure (the very case reprocess exists for) can put
    # millions of keys in the DLQ, and a forced broadcast would collect
    # them all to the driver. Gate the hint on the already-computed count
    # and fall back to AQE's size-based planning above it.
    keys = (F.broadcast(dlq_keys) if n_dlq <= _BROADCAST_DLQ_MAX_KEYS
            else dlq_keys)
    subset = (
        pages.join(keys, ["url", "warc_ts"], "left_semi")
        .withColumn("partition_id",
                    bucket_col(manifest["salt"], manifest["n_buckets"]))
    )
    extracted = extract_df(subset, repartition=False,
                           link_density_max=link_density_max,
                           min_chars_linked=min_chars_linked)
    extracted.write.mode("overwrite").parquet(paths.retry_extracted(run_id, attempt))

    committed = spark.read.schema(EXTRACTED_SCHEMA).parquet(
        paths.retry_extracted(run_id, attempt))
    _, still_failing = split_errors(committed)
    # the errors dir write is the attempt's commit marker — last
    still_failing.write.mode("overwrite").parquet(paths.retry_errors(run_id, attempt))

    n_in = committed.count()
    n_fail = spark.read.schema(ERRORS_SCHEMA).parquet(
        paths.retry_errors(run_id, attempt)).count()
    return {"run_id": run_id, "attempt": attempt,
            "reprocessed": n_in, "recovered": n_in - n_fail,
            "still_failing": n_fail}
