"""Resume/lineage/metrics tests (FIXTURES.md §6 checks 3-4) + evaluation."""

import pytest
from pyspark.sql import functions as F

from webextract.evaluate import evaluate, per_doc_metrics
from webextract.runner import (
    RunPaths,
    bucket_col,
    completed_buckets,
    load_errors,
    load_extracted,
    load_metrics,
    run_extraction,
)

N_BUCKETS = 16


@pytest.fixture(scope="module")
def pages(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/web_pages.parquet")


def test_clean_run_metrics_invariants(spark, pages, tmp_path):
    root = str(tmp_path / "clean")
    stats = run_extraction(spark, pages, root, "run1", n_buckets=N_BUCKETS, waves=1)
    assert stats["pending"] == N_BUCKETS
    n_in = pages.count()
    n_ok = load_extracted(spark, root, "run1").count()
    n_err = load_errors(spark, root, "run1").count()
    assert n_ok + n_err == n_in
    m = load_metrics(spark, root, "run1")
    agg = m.agg(
        F.sum("docs_processed").alias("d"), F.sum("parse_failures").alias("f")
    ).first()
    assert agg.d == n_in           # FIXTURES §4 invariant
    assert agg.f == n_err


def test_rerun_is_noop(spark, pages, tmp_path):
    root = str(tmp_path / "noop")
    run_extraction(spark, pages, root, "run1", n_buckets=N_BUCKETS)
    before = load_extracted(spark, root, "run1").count()
    stats2 = run_extraction(spark, pages, root, "run1", n_buckets=N_BUCKETS)
    assert stats2["pending"] == 0 and stats2["waves"] == 0
    assert load_extracted(spark, root, "run1").count() == before


def test_completed_buckets_probes_for_lineage(spark, tmp_path, monkeypatch):
    """A fresh root has no lineage dir: completed_buckets answers from a
    FileSystem existence probe, not from a failing parquet read (which
    printed a Java stack trace and read every other failure as "nothing
    completed"). Once lineage exists, it is read."""
    from pyspark.sql.readwriter import DataFrameReader

    read = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read.extend(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    paths = RunPaths(str(tmp_path / "fresh"))
    assert completed_buckets(spark, paths, "run1").count() == 0
    assert paths.lineage() not in read

    spark.createDataFrame(
        [("run1", 3, "completed")],
        "run_id string, partition_id int, status string",
    ).withColumn("completed_at", F.current_timestamp()) \
     .write.parquet(paths.lineage())
    assert [r.partition_id for r in
            completed_buckets(spark, paths, "run1").collect()] == [3]
    assert paths.lineage() in read


def test_resume_processes_only_pending(spark, pages, tmp_path):
    """Pre-seed lineage with half the buckets completed → only the other half
    is processed; union with a clean run of the seeded half equals a clean
    full run (FIXTURES §6.3)."""
    root = str(tmp_path / "resume")
    paths = RunPaths(root)
    seeded = list(range(0, N_BUCKETS, 2))
    spark.createDataFrame(
        [("runR", b, "completed") for b in seeded],
        "run_id string, partition_id int, status string",
    ).withColumn("completed_at", F.current_timestamp()) \
     .write.mode("overwrite").parquet(paths.lineage())

    stats = run_extraction(spark, pages, root, "runR", n_buckets=N_BUCKETS, waves=2)
    assert stats["completed_before"] == len(seeded)
    assert stats["pending"] == N_BUCKETS - len(seeded)

    out = load_extracted(spark, root, "runR")
    got_buckets = {r.partition_id for r in out.select("partition_id").distinct().collect()}
    assert got_buckets.isdisjoint(set(seeded))

    # resumed half == the corresponding subset of a clean full run
    clean_root = str(tmp_path / "resume_clean")
    run_extraction(spark, pages, clean_root, "runC", n_buckets=N_BUCKETS)
    clean = load_extracted(spark, clean_root, "runC").filter(
        ~F.col("partition_id").isin(seeded)
    )
    cols = ["url", "warc_ts", "text", "status", "partition_id"]
    assert out.select(cols).exceptAll(clean.select(cols)).count() == 0
    assert clean.select(cols).exceptAll(out.select(cols)).count() == 0


def test_waves_equal_single_shot(spark, pages, tmp_path):
    r1 = str(tmp_path / "w1")
    r4 = str(tmp_path / "w4")
    run_extraction(spark, pages, r1, "run1", n_buckets=N_BUCKETS, waves=1)
    run_extraction(spark, pages, r4, "run1", n_buckets=N_BUCKETS, waves=4)
    cols = ["url", "warc_ts", "text", "partition_id"]
    a = load_extracted(spark, r1, "run1").select(cols)
    b = load_extracted(spark, r4, "run1").select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_wave_plan_spreads_skewed_buckets(spark, tmp_path, monkeypatch):
    """Each wave is one salted url-hash Exchange feeding one MapInArrow, and
    on an 80%-one-domain corpus every task of a wave holds under 2x the mean
    row count. The wave's buckets share pmod(xxhash64(url, salt), 4), so this
    also shows the Exchange's own hash does not fold them onto one task."""
    import webextract.runner as runner
    from webextract.corpus import write_corpus_parquet
    from webextract.sparkjob import extract_df

    d = str(tmp_path / "skewcorpus")
    write_corpus_parquet(d, 800, seed=5, skew=True)
    skewed = spark.read.parquet(f"{d}/web_pages.parquet")
    waves = []

    def capture(df, **kw):
        waves.append(extract_df(df, **kw))
        return waves[-1]

    monkeypatch.setattr(runner, "extract_df", capture)
    stats = run_extraction(spark, skewed, str(tmp_path / "run"), "run1",
                           n_buckets=N_BUCKETS, waves=4)
    assert stats["waves"] == 4 and len(waves) == 4

    n_tasks = spark.sparkContext.defaultParallelism
    for ex in waves:
        plan = ex._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "Exchange hashpartitioning(xxhash64(url#" in plan, plan
        assert plan.count("MapInArrow") == 1, plan
        counts = [r["count"] for r in
                  ex.groupBy(F.spark_partition_id()).count().collect()]
        assert len(counts) == n_tasks
        mean = sum(counts) / len(counts)
        assert max(counts) < 2.0 * mean, f"unbalanced tasks: {sorted(counts)}"


def test_bucket_is_data_keyed(spark, pages):
    """Same bucket for a url regardless of partitioning/cluster size."""
    a = pages.withColumn("b", bucket_col(n_buckets=N_BUCKETS)).select("url", "b")
    b = (pages.repartition(3).withColumn("b", bucket_col(n_buckets=N_BUCKETS))
         .select("url", "b"))
    assert a.exceptAll(b).count() == 0


def test_evaluation_pipeline(spark, corpus_dir, pages):
    from webextract.sparkjob import extract_df

    truth = spark.read.parquet(f"{corpus_dir}/truth.parquet")
    extracted = extract_df(pages)
    long_df, summary = evaluate(extracted, truth)
    s = {r.metric_name: r for r in summary.collect()}
    assert set(s) == {"exact_match", "len_ratio_ok", "similarity", "span_count_match"}
    # ok rows are byte-identical by construction → all metrics perfect on them
    ok_only = per_doc_metrics(extracted.filter(F.col("status") == "ok"), truth)
    agg = ok_only.agg(F.avg("exact_match").alias("em"),
                      F.avg("similarity").alias("sim"),
                      F.avg("span_count_match").alias("sc")).first()
    assert agg.em == 1.0 and agg.sim == 1.0 and agg.sc == 1.0
    # long form carries descriptions
    assert long_df.filter(F.col("description").isNull()).count() == 0


def test_eval_broadcast_plan(spark, corpus_dir, pages):
    from webextract.sparkjob import extract_df

    truth = spark.read.parquet(f"{corpus_dir}/truth.parquet")
    wide = per_doc_metrics(extract_df(pages, repartition=False), truth)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # truth side broadcast, no shuffle join
