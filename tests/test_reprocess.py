"""DLQ reprocess tests (reference production-patterns.md:594-607: re-queue
exhausted-retry documents once the transient cause clears) + config
threading through the runner/evaluator."""

import pytest
from pyspark.sql import functions as F

from webextract.runner import (
    load_errors,
    load_extracted,
    load_metrics,
    reprocess_errors,
    run_extraction,
)

N_BUCKETS = 16

GOOD_HTML = (b"<html><body><article><p>Recovered content after the transient "
             b"fetch failure cleared. This paragraph is real main content "
             b"with plenty of plain text.</p></article></body></html>")


@pytest.fixture(scope="module")
def pages(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/web_pages.parquet")


def test_reprocess_recovers_transient_failures(spark, pages, tmp_path):
    root = str(tmp_path / "rp")
    run_extraction(spark, pages, root, "run1", n_buckets=N_BUCKETS)
    dlq = load_errors(spark, root, "run1")
    failed_urls = [r.url for r in dlq.select("url").distinct().collect()]
    assert failed_urls, "corpus plants failures; DLQ must be non-empty"
    n_ok_before = load_extracted(spark, root, "run1").count()

    # the transient cause clears: the input table now has good bytes for the
    # previously failing urls (e.g. a re-fetch fixed a truncated response)
    fixed = pages.withColumn(
        "html",
        F.when(F.col("url").isin(failed_urls), F.lit(GOOD_HTML))
         .otherwise(F.col("html")))

    stats = reprocess_errors(spark, fixed, root, "run1")
    assert stats["attempt"] == 0
    assert stats["reprocessed"] == len(failed_urls)
    assert stats["recovered"] == len(failed_urls)
    assert stats["still_failing"] == 0

    # recovered rows LEAVE the DLQ and join the extracted set exactly once
    assert load_errors(spark, root, "run1").count() == 0
    after = load_extracted(spark, root, "run1")
    assert after.count() == n_ok_before + len(failed_urls)
    # identity is (url, warc_ts): recrawls legitimately repeat a url
    assert after.groupBy("url", "warc_ts").count().filter("count > 1").count() == 0
    recovered = after.filter(F.col("url").isin(failed_urls))
    assert recovered.count() == len(failed_urls)
    assert recovered.filter(F.col("status") != "ok").count() == 0


def test_reprocess_partial_recovery_and_second_attempt(spark, pages, tmp_path):
    root = str(tmp_path / "rp2")
    run_extraction(spark, pages, root, "run1", n_buckets=N_BUCKETS)
    failed_urls = sorted(
        r.url for r in load_errors(spark, root, "run1").select("url").distinct().collect())
    fix_now, fix_later = failed_urls[::2], failed_urls[1::2]
    assert fix_now and fix_later

    fixed1 = pages.withColumn(
        "html", F.when(F.col("url").isin(fix_now), F.lit(GOOD_HTML))
                 .otherwise(F.col("html")))
    s1 = reprocess_errors(spark, fixed1, root, "run1")
    assert s1["recovered"] == len(fix_now)
    assert s1["still_failing"] == len(fix_later)
    # DLQ now holds exactly the still-broken urls (attempt outcome replaces
    # the wave rows; recovered urls are gone)
    dlq = {r.url for r in load_errors(spark, root, "run1").collect()}
    assert dlq == set(fix_later)

    # second attempt only reprocesses the remaining DLQ
    fixed2 = pages.withColumn(
        "html", F.when(F.col("url").isin(failed_urls), F.lit(GOOD_HTML))
                 .otherwise(F.col("html")))
    s2 = reprocess_errors(spark, fixed2, root, "run1")
    assert s2["attempt"] == 1
    assert s2["reprocessed"] == len(fix_later)
    assert s2["recovered"] == len(fix_later)
    assert load_errors(spark, root, "run1").count() == 0
    # every url appears exactly once in the ok set
    ok = load_extracted(spark, root, "run1")
    assert ok.count() == pages.count()
    assert ok.groupBy("url", "warc_ts").count().filter("count > 1").count() == 0


def test_reprocess_semi_join_broadcasts_dlq_keys(spark, pages, tmp_path):
    """VERDICT round 2 #5: the pages ⋈ dlq_keys left-semi must broadcast the
    (tiny) DLQ key set — a 100-TB pages side must never shuffle for it."""
    from webextract.runner import bucket_col, load_errors

    root = str(tmp_path / "bc")
    run_extraction(spark, pages, root, "run1", n_buckets=N_BUCKETS)
    dlq_keys = load_errors(spark, root, "run1").select("url", "warc_ts").distinct()
    # the exact join reprocess_errors builds (pre-extraction slice of it)
    subset = (pages.join(F.broadcast(dlq_keys), ["url", "warc_ts"], "left_semi")
              .withColumn("partition_id", bucket_col(0, N_BUCKETS)))
    plan = subset._jdf.queryExecution().executedPlan().toString()
    # the join itself is a broadcast semi-join building the DLQ side — the
    # big (pages) side feeds it straight from the scan; the only exchange in
    # the plan is the tiny DLQ distinct's own aggregate
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "BuildRight" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_reprocess_unknown_run_raises(spark, pages, tmp_path):
    with pytest.raises(ValueError, match="no manifest"):
        reprocess_errors(spark, pages, str(tmp_path / "nope"), "ghost")


def test_metrics_wave_overwrite_is_idempotent(spark, pages, tmp_path):
    """A wave whose bucket tables were committed but whose lineage append
    crashed re-runs on resume and OVERWRITES its buckets — the extracted,
    errors and metrics tables must neither double-count (the round-1 append
    bug) nor drop rows."""
    import os
    import shutil

    root = str(tmp_path / "idem")
    run_extraction(spark, pages, root, "run1", n_buckets=N_BUCKETS, waves=2)
    m_clean = load_metrics(spark, root, "run1").agg(
        F.sum("docs_processed").alias("d")).first().d
    n_err_clean = load_errors(spark, root, "run1").count()

    # simulate the crash window: drop the SECOND wave's lineage rows, keeping
    # its metrics dir — the resumed run must redo that wave idempotently
    lineage_dir = os.path.join(root, "lineage")
    lin = spark.read.parquet(lineage_dir)
    waves = sorted(r.partition_id for r in lin.select("partition_id").collect())
    keep = waves[: len(waves) // 2]
    kept = lin.filter(F.col("partition_id").isin(keep)).collect()
    shutil.rmtree(lineage_dir)
    spark.createDataFrame(kept, lin.schema).write.parquet(lineage_dir)

    run_extraction(spark, pages, root, "run1", n_buckets=N_BUCKETS, waves=2)
    m_after = load_metrics(spark, root, "run1").agg(
        F.sum("docs_processed").alias("d")).first().d
    assert m_after == m_clean == pages.count()
    assert (load_extracted(spark, root, "run1", include_failures=True).count()
            == pages.count())
    assert load_errors(spark, root, "run1").count() == n_err_clean


def test_extractor_thresholds_thread_through_runner(spark, pages, tmp_path):
    """run_extraction must honor ExtractorConfig thresholds (ADVICE: config
    fields were validated but never applied)."""
    strict = str(tmp_path / "strict")
    loose = str(tmp_path / "loose")
    run_extraction(spark, pages, strict, "run1", n_buckets=N_BUCKETS,
                   link_density_max=0.01, min_chars_linked=10_000)
    run_extraction(spark, pages, loose, "run1", n_buckets=N_BUCKETS,
                   link_density_max=0.99, min_chars_linked=0)
    b_strict = load_extracted(spark, strict, "run1").agg(
        F.sum(F.octet_length("text"))).first()[0]
    b_loose = load_extracted(spark, loose, "run1").agg(
        F.sum(F.octet_length("text"))).first()[0]
    # loose thresholds keep link-heavy blocks that strict ones drop
    assert b_loose > b_strict


def test_evaluation_config_selects_metrics(spark, corpus_dir, pages):
    from webextract.evaluate import evaluate, per_doc_metrics
    from webextract.sparkjob import extract_df

    truth = spark.read.parquet(f"{corpus_dir}/truth.parquet")
    extracted = extract_df(pages.limit(50), repartition=False)
    wide = per_doc_metrics(extracted, truth,
                           metrics=["exact_match", "similarity"])
    assert wide.columns == ["url", "status", "exact_match", "similarity"]
    long_df, summary = evaluate(extracted, truth,
                                metrics=["exact_match", "similarity"],
                                len_tolerance=0.5)
    names = {r.metric_name for r in summary.collect()}
    assert names == {"exact_match", "similarity"}
    # exactly 2 metric rows per evaluated doc row (recrawled urls evaluate
    # once per crawl, so count per ROW, not per url)
    n_docs = wide.count()
    assert long_df.count() == 2 * n_docs
    assert long_df.select("metric_name").distinct().count() == 2
    with pytest.raises(ValueError, match="unknown metrics"):
        per_doc_metrics(extracted, truth, metrics=["nope"])


def test_len_tolerance_is_applied(spark):
    from webextract.evaluate import per_doc_metrics

    extracted = spark.createDataFrame(
        [("u1", "x" * 110, [], "ok")],
        "url string, text string, spans array<struct<start:long,end:long,kind:string>>, status string")
    truth = spark.createDataFrame(
        [("u1", "x" * 100, None)],
        "url string, expected_text string, expected_spans array<struct<start:long,end:long,kind:string>>")
    tight = per_doc_metrics(extracted, truth, len_tolerance=0.02).first()
    wide = per_doc_metrics(extracted, truth, len_tolerance=0.2).first()
    assert tight.len_ratio_ok == 0.0 and wide.len_ratio_ok == 1.0


def test_null_expected_text_scores_null_on_every_metric(spark):
    """Planted-failure rows (no ground truth) must not inflate any metric:
    all metrics NULL, one shared denominator (the ADVICE similarity=1.0 bug)."""
    from webextract.evaluate import per_doc_metrics

    extracted = spark.createDataFrame(
        [("u1", "", [], "parse_error"), ("u2", "hello", [], "ok")],
        "url string, text string, spans array<struct<start:long,end:long,kind:string>>, status string")
    truth = spark.createDataFrame(
        [("u1", None, None), ("u2", "hello", None)],
        "url string, expected_text string, expected_spans array<struct<start:long,end:long,kind:string>>")
    rows = {r.url: r for r in per_doc_metrics(extracted, truth).collect()}
    for m in ("exact_match", "len_ratio_ok", "similarity", "span_count_match"):
        assert rows["u1"][m] is None, m
    assert rows["u2"].exact_match == 1.0 and rows["u2"].similarity == 1.0


def test_empty_waves_commit_cleanly(spark, tmp_path):
    """A wave whose buckets hold zero input rows must still commit (lineage
    marks the empty buckets done; reads of the run stay valid)."""
    root = str(tmp_path / "empty")
    empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string")
    stats = run_extraction(spark, empty, root, "run1", n_buckets=4, waves=2)
    assert stats["waves"] == 2 and stats["pending"] == 4
    assert load_extracted(spark, root, "run1").count() == 0
    assert load_errors(spark, root, "run1").count() == 0
    assert load_metrics(spark, root, "run1").count() == 0
    # rerun is a no-op: all buckets are in lineage
    stats2 = run_extraction(spark, empty, root, "run1", n_buckets=4, waves=2)
    assert stats2["pending"] == 0 and stats2["waves"] == 0


def test_uncommitted_retry_attempt_is_ignored(spark, pages, tmp_path):
    """Code-review finding: a crash DURING the retry errors write leaves the
    dir without _SUCCESS — that attempt must NOT count as committed, or its
    input keys would be anti-joined out of the DLQ with no replacement rows
    (silently dropping still-failing docs)."""
    import os

    from webextract.runner import RunPaths, _committed_retry_attempts

    root = str(tmp_path / "crash")
    run_extraction(spark, pages, root, "run1", n_buckets=N_BUCKETS)
    n_dlq = load_errors(spark, root, "run1").count()
    assert n_dlq > 0

    # simulate the crash window: retry extracted committed, errors dir
    # created but not committed (no _SUCCESS)
    paths = RunPaths(root)
    ok_rows = load_extracted(spark, root, "run1").limit(0)
    ok_rows.write.mode("overwrite").parquet(paths.retry_extracted("run1", 0))
    os.makedirs(os.path.join(paths.retry_errors("run1", 0), "_temporary"))

    assert _committed_retry_attempts(spark, root, "run1") == []
    assert load_errors(spark, root, "run1").count() == n_dlq  # DLQ intact
    # and the re-run targets the SAME attempt number
    fixed = pages.withColumn("html", F.lit(GOOD_HTML))
    stats = reprocess_errors(spark, fixed, root, "run1")
    assert stats["attempt"] == 0 and stats["recovered"] == n_dlq
