"""Structured Streaming extension: continuous extraction over arriving crawls.

The reference is strictly batch (both orchestrators consume finite lists —
``runners/extraction/extraction_orchestrator.py:211-232``), so streaming is
an *extension point*, not parity (SURVEY.md §1.4). It exists because the
engine's one-stage design makes it free: ``mapInArrow`` works identically
under ``readStream``, so the same fused parse→clean→segment UDF serves both
modes — micro-batches of newly landed WARC-derived parquet become extracted
rows with exactly-once sink semantics via checkpointing.

Shape::

    readStream(parquet, schema pinned)         # new files = new micro-batch
      → extract_df(..., repartition=False)     # same fused UDF, no shuffle
      → writeStream(parquet, checkpoint)       # exactly-once, append-only

``trigger(availableNow=True)`` turns the same pipeline into an incremental
batch catch-up run — the streaming twin of the lineage/resume path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, types as T

from .sparkjob import extract_df

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming source over a landing directory of web-pages parquet files."""
    r = (spark.readStream.schema(PAGES_SCHEMA)
         # landing areas often contain writer-job subdirectories; pick up
         # part files at any depth
         .option("recursiveFileLookup", "true"))
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_dir)


def extract_stream(pages_stream: DataFrame) -> DataFrame:
    """The extraction transform, streaming-safe (stateless, no shuffle)."""
    return extract_df(pages_stream, repartition=False)


def _start_parquet_sink(df: DataFrame, output_dir: str, checkpoint_dir: str,
                        *, available_now: bool = False,
                        trigger_interval: str | None = None):
    """Append ``df`` to a checkpointed parquet sink and start the query —
    the one sink every ``start_*_stream`` shares."""
    w = (df.writeStream.format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append"))
    if available_now:
        w = w.trigger(availableNow=True)
    elif trigger_interval:
        w = w.trigger(processingTime=trigger_interval)
    return w.start()


def windowed_metrics(extracted_stream: DataFrame, *, window: str = "1 hour",
                     watermark: str = "2 hours") -> DataFrame:
    """Stateful branch: per-(crawl-window, status) doc counts + bytes.

    Event time is ``warc_ts`` (the crawl timestamp), so late-arriving WARC
    segments update the right window until the watermark closes it — the
    streaming analog of the batch metrics table (runner.py). Output mode
    for the sink should be ``append`` (finalized windows only).
    """
    from pyspark.sql import functions as F

    return (
        extracted_stream
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("status"))
        .agg(F.count("*").alias("docs"),
             F.sum(F.octet_length("text")).alias("bytes_extracted"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "status", "docs", "bytes_extracted")
    )


def start_metrics_stream(spark: SparkSession, input_dir: str, output_dir: str,
                         checkpoint_dir: str, *, window: str = "1 hour",
                         watermark: str = "2 hours",
                         available_now: bool = False):
    """Source → extract → watermarked windowed aggregation → parquet sink."""
    m = windowed_metrics(extract_stream(read_pages_stream(spark, input_dir)),
                         window=window, watermark=watermark)
    return _start_parquet_sink(m, output_dir, checkpoint_dir,
                               available_now=available_now)


def session_metrics(extracted_stream: DataFrame, *, key: str = "url",
                    gap: str = "30 minutes",
                    watermark: str = "2 hours") -> DataFrame:
    """Streaming SESSION windows: per-key activity bursts separated by
    ``gap`` of event-time silence (recrawl bursts per url, user sessions on
    an events stream) — the streaming twin of relops.sessionize (q42).

    ``session_window`` keeps per-(key, open-session) state that MERGES when
    late rows bridge two open sessions; the watermark both bounds that state
    and finalizes sessions for append output. State is one window struct per
    open session per key — bounded by the active-key set within the
    watermark horizon, independent of total stream length.
    """
    from pyspark.sql import functions as F

    return (
        extracted_stream
        .withWatermark("warc_ts", watermark)
        .groupBy(F.session_window("warc_ts", gap).alias("s"), F.col(key))
        .agg(F.count("*").alias("docs"),
             F.sum(F.octet_length("text")).alias("bytes_extracted"))
        .select(F.col("s.start").alias("session_start"),
                F.col("s.end").alias("session_end"),
                F.col(key), "docs", "bytes_extracted")
    )


def start_session_stream(spark: SparkSession, input_dir: str, output_dir: str,
                         checkpoint_dir: str, *, key: str = "url",
                         gap: str = "30 minutes", watermark: str = "2 hours",
                         available_now: bool = False):
    """Source → extract → watermarked session windows → parquet sink."""
    m = session_metrics(extract_stream(read_pages_stream(spark, input_dir)),
                        key=key, gap=gap, watermark=watermark)
    return _start_parquet_sink(m, output_dir, checkpoint_dir,
                               available_now=available_now)


DEDUP_OUT_SCHEMA = T.StructType([
    T.StructField("content_key", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("text", T.StringType()),
])

_DEDUP_STATE_SCHEMA = T.StructType([T.StructField("seen", T.LongType())])

_DURATION_UNITS_MS = {
    "ms": 1, "millisecond": 1, "milliseconds": 1,
    "s": 1000, "second": 1000, "seconds": 1000,
    "m": 60_000, "minute": 60_000, "minutes": 60_000,
    "h": 3_600_000, "hour": 3_600_000, "hours": 3_600_000,
    "d": 86_400_000, "day": 86_400_000, "days": 86_400_000,
}


def _duration_ms(d: str | int) -> int:
    """'30 days' / '2 seconds' / 1500 → milliseconds (pyspark GroupState
    setTimeoutDuration only accepts int ms, unlike the Scala API)."""
    if isinstance(d, int):
        return d
    parts = d.strip().split()
    if len(parts) != 2 or not parts[0].lstrip("-").isdigit():
        raise ValueError(f"unparseable duration {d!r}: use e.g. '30 days' or ms int")
    n, unit = int(parts[0]), parts[1].lower()
    if unit not in _DURATION_UNITS_MS:
        raise ValueError(f"unknown duration unit {unit!r} in {d!r}")
    ms = n * _DURATION_UNITS_MS[unit]
    if ms <= 0:
        raise ValueError(f"TTL must be positive, got {d!r}")
    return ms


def dedup_stream(extracted_stream: DataFrame, *, text_col: str = "text",
                 ttl: str | int | None = None) -> DataFrame:
    """Custom stateful operator: streaming exact-dedup across micro-batches
    (``applyInPandasWithState``).

    The streaming twin of :func:`webextract.dedup.best_copy`: the
    FIRST document carrying a given normalized-content fingerprint passes,
    every later duplicate (same batch or any later micro-batch — recrawls,
    mirrors) is dropped. Grouping key is ``xxhash64(normalized text)``, so
    the shuffle carries the 8-byte key rather than the text, and the state
    per key is one long ("seen" count — kept as a count, not a bool, so the
    operator can also report duplicate multiplicity if extended).

    ``ttl`` bounds the state (processing-time timeout: a duration string
    like ``"30 days"`` or milliseconds). Size it to the recrawl horizon —
    a key idle for longer than ``ttl`` is EVICTED, so a recrawl arriving
    after the horizon re-admits the content (by design: at 10^12-doc scale
    unbounded seen-state is the one thing that kills the operator; a
    re-admitted stale page is a benign duplicate downstream dedup catches
    in batch). ``ttl=None`` keeps the exact lifetime semantics for finite
    backfills. A key's clock resets whenever the key receives data, so hot
    (frequently recrawled) content never expires while it's still being
    deduped. At scale run this with the RocksDB state store; state is
    O(keys seen within the horizon), 8+8 bytes each, hash-partitioned
    across executors.

    Within one batch the survivor is the (warc_ts, url)-minimum for
    determinism; across batches, arrival order wins (that IS the streaming
    semantic).
    """
    import pandas as pd  # noqa: F401 — used by the worker-side closure
    from pyspark.sql import functions as F

    ttl_ms = None if ttl is None else _duration_ms(ttl)
    from .dedup import _norm_text  # ONE normalization for every fingerprint

    norm = _norm_text(text_col)
    keyed = extracted_stream.select(
        F.xxhash64(norm).alias("content_key"),
        "url", "warc_ts", F.col(text_col).alias("text"))

    def first_only(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            # idle past the recrawl horizon: evict (the two-sided contract —
            # test_stream_dedup_ttl — pins both eviction and re-admission)
            state.remove()
            return
        seen = state.get[0] if state.exists else 0
        batch = [pdf for pdf in pdfs if len(pdf)]
        emit = None
        if batch:
            allb = pd.concat(batch, ignore_index=True) if len(batch) > 1 else batch[0]
            if seen == 0:
                first = allb.sort_values(["warc_ts", "url"]).iloc[[0]]
                emit = first
            seen += len(allb)
            state.update((int(seen),))
            if ttl_ms is not None:  # re-arm per key-activity (after update —
                state.setTimeoutDuration(ttl_ms)  # timeouts need defined state
        if emit is not None:
            yield emit

    return keyed.groupBy("content_key").applyInPandasWithState(
        first_only,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout" if ttl is None else "ProcessingTimeTimeout",
    )


#: session conf → the RocksDB state store (spills seen-key state to local
#: disk instead of executor heap — the 10^12-key deployment setting; ships
#: with Spark 4, no extra jar)
ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming."
                    "state.RocksDBStateStoreProvider")


def use_rocksdb_state_store(spark: SparkSession) -> None:
    """Switch stateful streaming to RocksDB-backed state (set BEFORE a query
    starts; checkpointed queries pin their provider at first start)."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   ROCKSDB_PROVIDER)


def start_dedup_stream(spark: SparkSession, input_dir: str, output_dir: str,
                       checkpoint_dir: str, *, available_now: bool = False,
                       max_files_per_trigger: int | None = None,
                       ttl: str | int | None = None,
                       trigger_interval: str | None = None):
    """Source → extract → stateful first-occurrence dedup → parquet sink.

    Restarting with the same checkpoint restores the seen-key state, so a
    duplicate arriving in a LATER run is still dropped (exactly-once dedup
    across the stream's whole lifetime — or across the ``ttl`` recrawl
    horizon when one is set; see :func:`dedup_stream`).

    ``ttl`` requires a continuous trigger: with ProcessingTimeTimeout, the
    stateful operator always schedules another (zero-data) micro-batch to
    sweep expired keys, so an ``available_now`` run would NEVER terminate —
    the combination is refused instead of hanging. Finite catch-up runs
    keep ``ttl=None``; the TTL is for the long-running crawl stream, where
    the continuous trigger's idle batches are exactly what fires evictions.
    Pair a TTL with ``trigger_interval`` (e.g. ``"30 seconds"``) in
    production so those cleanup batches tick at a bounded rate instead of
    hot-looping, and with :func:`use_rocksdb_state_store` so seen-key state
    lives on executor local disk rather than heap.
    """
    if ttl is not None and available_now:
        raise ValueError(
            "ttl with available_now never terminates (ProcessingTimeTimeout "
            "schedules endless state-cleanup batches); run the TTL'd stream "
            "with a continuous trigger, or drop ttl for a finite catch-up")
    extracted = extract_stream(
        read_pages_stream(spark, input_dir, max_files_per_trigger))
    deduped = dedup_stream(extracted.filter("status = 'ok'"), ttl=ttl)
    return _start_parquet_sink(deduped, output_dir, checkpoint_dir,
                               available_now=available_now,
                               trigger_interval=trigger_interval)


def start_extraction_stream(spark: SparkSession, input_dir: str, output_dir: str,
                            checkpoint_dir: str, *, available_now: bool = False,
                            max_files_per_trigger: int | None = None):
    """Wire source → extract → sink; returns the StreamingQuery.

    ``available_now=True`` processes everything currently in ``input_dir``
    then stops — incremental catch-up mode.
    """
    extracted = extract_stream(
        read_pages_stream(spark, input_dir, max_files_per_trigger))
    return _start_parquet_sink(extracted, output_dir, checkpoint_dir,
                               available_now=available_now)
