"""Streaming-extension and skew-handling tests (SURVEY.md M3 + extension)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from webextract.corpus import write_corpus_parquet
from webextract.sparkjob import extract_df
from webextract.streaming import start_extraction_stream


def test_streaming_incremental_extraction(spark, tmp_path):
    """Files landing between runs are picked up exactly once (checkpointed)."""
    land = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(land)

    # batch 1 lands
    d1 = str(tmp_path / "gen1")
    write_corpus_parquet(d1, 80, seed=1)
    shutil.copy(f"{d1}/web_pages.parquet", f"{land}/b1.parquet")
    q = start_extraction_stream(spark, land, out, ckpt, available_now=True)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    in1 = spark.read.parquet(f"{land}/b1.parquet").count()
    assert n1 == in1

    # batch 2 lands; catch-up processes ONLY the new file
    d2 = str(tmp_path / "gen2")
    write_corpus_parquet(d2, 60, seed=2)
    shutil.copy(f"{d2}/web_pages.parquet", f"{land}/b2.parquet")
    q = start_extraction_stream(spark, land, out, ckpt, available_now=True)
    q.awaitTermination(120)
    n2 = spark.read.parquet(out).count()
    in2 = spark.read.parquet(f"{land}/b2.parquet").count()
    assert n2 == in1 + in2  # no reprocessing of b1

    # extracted rows match the batch path byte-for-byte
    stream_rows = spark.read.parquet(out).select("url", "text", "status")
    batch_rows = extract_df(
        spark.read.parquet(f"{land}/b1.parquet").unionByName(
            spark.read.parquet(f"{land}/b2.parquet")),
        repartition=False,
    ).select("url", "text", "status")
    assert stream_rows.exceptAll(batch_rows).count() == 0
    assert batch_rows.exceptAll(stream_rows).count() == 0


@pytest.mark.parametrize("skew", [True])
def test_salted_repartition_balances_domain_skew(spark, tmp_path, skew):
    """80%-one-domain corpus: after the salted url-hash repartition, no
    partition holds more than ~2x the mean row count (north-rule skew story).
    Without salting by full url (e.g. partitioning by domain), the hot domain
    would pin 80% of rows on one partition."""
    d = str(tmp_path / "skewcorpus")
    write_corpus_parquet(d, 800, seed=5, skew=skew)
    pages = spark.read.parquet(f"{d}/web_pages.parquet")

    # sanity: the corpus is actually skewed by domain
    dom = pages.withColumn("domain", F.regexp_extract("url", r"https://([^/]+)/", 1))
    top = dom.groupBy("domain").count().orderBy(F.desc("count")).first()
    assert top["count"] > 0.7 * pages.count()

    n_part = spark.sparkContext.defaultParallelism
    ex = extract_df(pages)
    counts = [r["count"] for r in
              ex.groupBy("partition_id").count().collect()]
    assert len(counts) == n_part
    mean = sum(counts) / len(counts)
    assert max(counts) < 2.0 * mean, f"unbalanced partitions: {sorted(counts)}"
