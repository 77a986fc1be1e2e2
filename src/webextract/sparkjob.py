"""The Spark extraction job: one fused Arrow-batched stage, scale-first.

Plan shape (SURVEY.md §3.1 translation of the reference's
``ExtractionOrchestrator.run``, ``extraction_orchestrator.py:211-242``)::

    scan(web_pages)                       # parquet/Iceberg; pruned columns
      → [salted repartition on url hash]  # defuse domain skew (north rule)
      → mapInArrow(extract_batches)       # fused parse→clean→segment,
                                          #   per-row failure capture
      → write (ok rows / error rows)

Scale notes
-----------
- ONE ``mapInArrow`` stage: html bytes cross the JVM↔Python Arrow boundary
  exactly once (the reference fuses read∘convert the same way in ``_ingest``,
  ``extraction_orchestrator.py:130-149``).
- The repartition hashes ``xxhash64(url, salt)``: url is effectively unique,
  so partitions are uniform even when one domain dominates the crawl
  (domain skew).
- No per-row Python UDFs anywhere; the per-document loop lives *inside* the
  batch function over an Arrow record batch (input hint's accepted reading).
  No pandas frame on either side: the pass-through columns go back as the
  input's Arrow arrays and the output batch is built in Arrow directly.
- Per-row failure isolation: the batch fn never throws for a document;
  ``status``/``error`` columns carry the outcome
  (reference semantic ``extraction_orchestrator.py:232-242``).
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .extract import extract_document

# Output schema (FIXTURES.md §3) + content_type/partition_id diagnostics.
SPAN_TYPE = T.ArrayType(
    T.StructType([
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
        T.StructField("kind", T.StringType()),
    ])
)

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("lang", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("spans", SPAN_TYPE),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("html_bytes", T.LongType()),
    T.StructField("partition_id", T.IntegerType()),
])
_EXTRACTED_ARROW = to_arrow_schema(EXTRACTED_SCHEMA)

# Salt for the url-hash repartition (and runner.bucket_col's default); a
# fixed literal keeps runs deterministic while still decorrelating from any
# upstream url-hash layout.
DEFAULT_SALT = 0x5EED


def extract_batches(batches: Iterator[pa.RecordBatch],
                    link_density_max: float = 0.5,
                    min_chars_linked: int = 25) -> Iterator[pa.RecordBatch]:
    """The mapInArrow body: vectorized over Arrow batches, per-document
    loop inside the batch, extractor thresholds passed to every document.

    ``url``/``warc_ts``/``lang`` (and an input ``partition_id``) pass
    through as the input's Arrow columns; the other columns are built from
    Python lists straight into the output ``pa.RecordBatch``.

    Runs on executors; must import nothing driver-local. TaskContext gives the
    physical partition id for the metrics/lineage tables.
    """
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    for batch in batches:
        if not isinstance(batch, pa.RecordBatch):
            # perfbench/kernel.py times this body on a pandas frame
            batch = pa.RecordBatch.from_pandas(batch, preserve_index=False)
        raws = [raw or b"" for raw in batch.column("html").to_pylist()]
        res = [extract_document(raw, link_density_max=link_density_max,
                                min_chars_linked=min_chars_linked)
               for raw in raws]
        # lineage bucket passthrough: if the input already carries a
        # data-keyed partition_id (runner.bucket_col), keep it; else report
        # the physical partition id.
        pid_col = (batch.column("partition_id")
                   if "partition_id" in batch.schema.names
                   else [pid] * len(raws))
        # from_arrays converts every column to the schema's Arrow type: each
        # row's (start, end, kind) tuples become one list<struct> value, and
        # a bigint partition_id is narrowed to int (the JVM reads only the
        # declared types; a value out of int range raises)
        yield pa.RecordBatch.from_arrays([
            batch.column("url"), batch.column("warc_ts"), batch.column("lang"),
            [r.text for r in res], [r.spans for r in res],
            [r.status for r in res], [r.error for r in res],
            [r.content_type for r in res], [r.n_blocks for r in res],
            [len(raw) for raw in raws], pid_col,
        ], schema=_EXTRACTED_ARROW)


def extract_df(pages: DataFrame, *, repartition: bool = True,
               link_density_max: float = 0.5,
               min_chars_linked: int = 25) -> DataFrame:
    """web_pages DataFrame → extracted DataFrame (lazy; no action here).

    ``repartition=True`` spreads the rows over the session's
    ``defaultParallelism`` tasks by ``xxhash64(url, DEFAULT_SALT)``, whatever
    the input's file layout; the resumable runner's waves use the same rule.

    Repartition guidance (measured — BENCH/DECOMPOSE.md): for SPLITTABLE
    columnar sources (parquet/Iceberg) prefer ``repartition=False`` — scan
    splits (maxPartitionBytes) already bound per-task bytes and extraction
    cost is row-wise, so domain clustering cannot skew a task; the job is
    then ONE stage and Python workers are busy from t=0 (the shuffle's
    JVM-only map stage otherwise stalls every worker: ~40% wall at 32
    cores). Keep the salted url-hash shuffle for UNSPLITTABLE or
    pathologically-laid-out sources (gzip WARC dumps, giant single files,
    one-domain-per-file layouts) where splits can't bound per-task work —
    5.07x on a domain-clustered layout (BENCH/SKEW.md).
    """
    cols = ["url", "warc_ts", "lang", "html"]  # column pruning to the scan
    if "partition_id" in pages.columns:
        cols.append("partition_id")  # lineage bucket passthrough
    df = pages.select(*cols)
    if repartition:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism,
                            F.xxhash64(F.col("url"), F.lit(DEFAULT_SALT)))
    # the thresholds ride the pickled partial to executors (the Spark analog
    # of the reference's PipelineContext passed to every stage); the copied
    # __name__ keeps "extract_batches" as the UDF's name in physical plans
    fn = functools.update_wrapper(
        functools.partial(extract_batches, link_density_max=link_density_max,
                          min_chars_linked=min_chars_linked),
        extract_batches)
    return df.mapInArrow(fn, schema=EXTRACTED_SCHEMA)


def split_errors(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """ok rows vs DLQ rows (reference DLQ pattern,
    ``docs/guides/production-patterns.md:480-608``)."""
    ok = extracted.filter(F.col("status") == "ok")
    errs = extracted.filter(F.col("status") != "ok").select(
        "url", "warc_ts", "status", "error",
        # stage-tagged DLQ (reference production-patterns.md:480-608)
        F.split("error", ":").getItem(0).alias("stage"),
        "html_bytes", "partition_id",
    )
    return ok, errs
