"""End-to-end Spark extraction job tests (FIXTURES.md §6 checks 1, 2, 4)."""

import datetime

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from webextract.corpus import make_pdf
from webextract.extract import extract_document
from webextract.sparkjob import (EXTRACTED_SCHEMA, extract_batches,
                                 extract_df, split_errors)


@pytest.fixture(scope="module")
def extracted(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/web_pages.parquet")
    df = extract_df(pages).cache()
    df.count()
    return df


def test_row_count_preserved(spark, corpus_dir, extracted):
    n_in = spark.read.parquet(f"{corpus_dir}/web_pages.parquet").count()
    assert extracted.count() == n_in


def test_byte_identity_through_spark(spark, corpus_dir, extracted):
    """Every ok row matches truth byte-for-byte, including spans."""
    truth = spark.read.parquet(f"{corpus_dir}/truth.parquet")
    ok = extracted.filter(F.col("status") == "ok")
    # recrawls: any crawl of a url must produce the same expected text,
    # so the join is on url alone.
    joined = ok.join(truth, "url", "inner")
    n_ok = ok.count()
    assert joined.count() == n_ok  # every ok row has a truth row
    mismatch_text = joined.filter(
        ~(F.col("text") == F.col("expected_text"))
    ).count()
    assert mismatch_text == 0
    mismatch_spans = joined.filter(
        ~(F.col("spans") == F.col("expected_spans"))
        & F.col("expected_spans").isNotNull()
    ).count()
    assert mismatch_spans == 0


def test_failure_isolation(spark, corpus_dir, extracted):
    """Planted failures land in the DLQ; good rows are unaffected
    (reference semantic extraction_orchestrator.py:232-242)."""
    truth = spark.read.parquet(f"{corpus_dir}/truth.parquet")
    planted = truth.filter(F.col("expected_text").isNull())
    n_planted = planted.count()
    assert n_planted > 0
    ok, errs = split_errors(extracted)
    # every planted url is in the error split, with a status + message
    err_join = errs.join(planted, "url", "inner")
    assert err_join.count() == n_planted
    assert errs.filter(F.col("status") == "ok").count() == 0
    assert (
        errs.filter(F.col("status") == "parse_error")
        .filter(F.col("error").isNull()).count() == 0
    )
    # and no planted url leaked into the ok split
    assert ok.join(planted, "url", "left_semi").count() == 0


def test_determinism_two_runs(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/web_pages.parquet")
    # different partitionings of the same input
    a = extract_df(pages.repartition(4), repartition=False)
    b = extract_df(pages.repartition(7), repartition=False)
    cols = ["url", "warc_ts", "text", "status"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_partition_id_populated(extracted):
    pids = extracted.select("partition_id").distinct().collect()
    assert all(r.partition_id >= 0 for r in pids)
    assert len(pids) > 1  # actually distributed over partitions


def test_no_repartition_path(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/web_pages.parquet")
    df = extract_df(pages, repartition=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow: scan → mapInArrow, no shuffle
    assert df.filter(F.col("status") == "ok").count() > 0


def test_extract_batches_builds_arrow_rows_without_spark():
    """The mapInArrow body, fed hand-built batches: every output row equals
    extract_document's result (spans included), the pass-through columns
    come back unchanged, and the batch has EXTRACTED_SCHEMA's Arrow types.
    A zero-span row before a multi-span row pins the spans offsets."""
    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    multi = (b"<html><body><h1>A heading of some length</h1><p>A first "
             b"paragraph with enough ordinary words to be kept here.</p><p>"
             b"A second paragraph that also carries plenty of words.</p>"
             b"</body></html>")
    htmls = [None, b"", make_pdf(["Page one text.", "Page two text."],
                                 n_pages=2),
             b"<html><body><nav>menu</nav></body></html>", multi]
    n = len(htmls)
    base = {"url": [f"u{i}" for i in range(n)], "warc_ts": [ts] * n,
            "lang": ["en", None, "de", "en", "fr"], "html": htmls}
    with_pid = pa.RecordBatch.from_pydict(
        {**base, "partition_id": pa.array(range(10, 10 + n), pa.int64())})
    without_pid = pa.RecordBatch.from_pydict(base)
    outs = list(extract_batches(iter([with_pid, without_pid])))
    assert len(outs) == 2
    for out, pids in zip(outs, (list(range(10, 10 + n)), [-1] * n)):
        assert out.schema == to_arrow_schema(EXTRACTED_SCHEMA)
        for i, row in enumerate(out.to_pylist()):
            raw = htmls[i] or b""
            res = extract_document(raw)
            assert row == {
                "url": base["url"][i], "warc_ts": ts, "lang": base["lang"][i],
                "text": res.text,
                "spans": [{"start": s, "end": e, "kind": k}
                          for s, e, k in res.spans],
                "status": res.status, "error": res.error,
                "content_type": res.content_type, "n_blocks": res.n_blocks,
                "html_bytes": len(raw), "partition_id": pids[i]}
    rows = outs[0].to_pylist()
    assert [r["status"] for r in rows] == ["empty", "empty", "ok", "ok", "ok"]
    assert rows[2]["content_type"] == "pdf" and len(rows[2]["spans"]) == 2
    assert rows[3]["spans"] == [] and len(rows[4]["spans"]) == 3


def test_bigint_partition_id_passes_through(spark):
    """A bigint partition_id input is narrowed to the schema's int, not
    rejected by the JVM side of the Arrow boundary."""
    pages = spark.createDataFrame(
        [("u1", datetime.datetime(2024, 1, 1), "en", b"<p>hello there</p>", 7),
         ("u2", datetime.datetime(2024, 1, 2), "en", None, 3)],
        "url string, warc_ts timestamp, lang string, html binary, "
        "partition_id bigint")
    got = {r.url: r for r in extract_df(pages, repartition=False).collect()}
    assert got["u1"].partition_id == 7 and got["u1"].text == "hello there"
    assert got["u2"].partition_id == 3 and got["u2"].status == "empty"


def test_column_pruning_reaches_scan(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/web_pages.parquet")
    df = extract_df(pages, repartition=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the full-page `text` column must NOT be read by the scan
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" in read_schema and "text" not in read_schema.split("ReadSchema")[1]
