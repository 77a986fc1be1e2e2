"""The workloads: what one pass runs, and how its output is checked.

Each workload drives webextract only through public functions. ``run_pass``
is the timed unit (called back to back by ``run.py``); ``check`` runs once,
untimed, after the timed passes and returns (attempted, failed, counts);
``extras`` adds the untimed per-layer measurements of a traced run.
``span`` is the harness tracer: every public call sits inside one.
"""

from __future__ import annotations

import glob
import os
import time

import inputs

RUN_ID = "bench"
CURATE_RATES = {"en": 500, "es": 800}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _doc_verdicts(got, truth):
    """Rows and wrong rows of an extraction output, judged against the
    planted case (failures must carry their status) and the expected text
    (ok rows must be byte-identical); plus status / content-type counts."""
    from pyspark.sql import functions as F

    case = F.col("case")
    want = (F.when(case == "fail_empty", "empty")
            .when(case.isin("fail_truncated", "fail_garbage"), "parse_error")
            .otherwise("ok"))
    wrong = ((F.col("status") != want)
             | ((F.col("status") == "ok")
                & ~F.col("text").eqNullSafe(F.col("expected_text"))))
    rows = (got.join(truth.select("url", "case", "expected_text"), "url", "left")
            .groupBy("status", "content_type")
            .agg(F.count("*").alias("n"), F.sum(wrong.cast("int")).alias("bad"))
            .collect())
    counts: dict[str, int] = {}
    for r in rows:
        for key in (f"extract.status.{r['status']}",
                    f"extract.content_type.{r['content_type']}"):
            counts[key] = counts.get(key, 0) + r["n"]
    return sum(r["n"] for r in rows), sum(r["bad"] or 0 for r in rows), counts


class Extract:
    """scan → extract_df(repartition=False) → noop sink."""

    name = "extract"
    python_workers = True

    def conf(self, inp, cores):
        """One equal scan split per core. The program's 128 MiB default
        leaves this small corpus in cores + 1 uneven tasks, the last of
        which runs alone."""
        size = os.path.getsize(inp["pages"])
        return {"spark.sql.files.maxPartitionBytes": str(size // cores + 1)}

    def touch(self, spark, inp):
        spark.read.parquet(inp["pages"]).count()

    def run_pass(self, spark, inp, span, state):
        from webextract.sparkjob import extract_df

        with span("sparkjob.extract_df"):
            _noop(extract_df(spark.read.parquet(inp["pages"]),
                             repartition=False))

    def check(self, spark, inp, state):
        from webextract.sparkjob import extract_df

        got = extract_df(spark.read.parquet(inp["pages"]), repartition=False)
        return _doc_verdicts(got, spark.read.parquet(inp["truth"]))

    def extras(self, spark, inp, state):
        """Kernel layer split, and one resumable run over the small resume
        corpus (the runner and evaluation layers). Returns (metrics,
        attempted, failed) of the resume checks."""
        import kernel

        m = kernel.kernel_layers(inp["pages"])
        flow, attempted, failed = resume_flow(
            spark, inp["resume"], os.path.join(state["run_dir"], "resume"))
        m.update(flow)
        return m, attempted, failed


# ---------------------------------------------------------------------------
# the resumable runner: waves → crash → resume → no-op resume → reprocess →
# evaluate, into a fresh root
# ---------------------------------------------------------------------------

def _lineage_files(root: str) -> list[str]:
    return sorted(glob.glob(os.path.join(root, "lineage", "*.parquet")))


def _lineage_buckets(files: list[str]) -> set[int]:
    import pyarrow.parquet as pq

    out: set[int] = set()
    for p in files:
        out.update(pq.read_table(p, columns=["partition_id"])
                   .column("partition_id").to_pylist())
    return out


def _crash_last_wave(root: str) -> set[int]:
    """Simulate a crash before the last wave's lineage commit: delete the
    lineage files holding the last wave's buckets. Returns those buckets."""
    waves = inputs.RESUME_WAVES
    last = set(range(inputs.RESUME_BUCKETS)[waves - 1::waves])
    removed: set[int] = set()
    for p in _lineage_files(root):
        ids = _lineage_buckets([p])
        if ids and ids <= last:
            os.remove(p)
            removed |= ids
    return removed


def resume_flow(spark, inp, root):
    """Returns (per-layer metrics, attempted, failed): the flow's step
    times, the buckets it redid and what it stored, checked for byte
    identity, planted statuses and exactly-the-crashed buckets redone."""
    from pyspark.sql import functions as F

    from webextract import runner
    from webextract.evaluate import evaluate

    pc = time.perf_counter
    pages = spark.read.parquet(inp["pages"])
    truth = spark.read.parquet(inp["truth"])
    t0 = pc()
    runner.run_extraction(spark, pages, root, RUN_ID,
                          n_buckets=inputs.RESUME_BUCKETS,
                          waves=inputs.RESUME_WAVES)
    t1 = pc()
    removed = _crash_last_wave(root)
    before = set(_lineage_files(root))
    t2 = pc()
    st = runner.run_extraction(spark, pages, root, RUN_ID)
    t3 = pc()
    redone = _lineage_buckets([p for p in _lineage_files(root)
                               if p not in before])
    t4 = pc()
    runner.run_extraction(spark, pages, root, RUN_ID)
    t5 = pc()
    runner.reprocess_errors(spark, pages, root, RUN_ID)
    t6 = pc()
    _, roll = evaluate(runner.load_extracted(spark, root, RUN_ID), truth)
    means = {r["metric_name"]: r["mean_value"] for r in roll.collect()}
    t7 = pc()
    files = [p for p in glob.glob(os.path.join(root, "**"), recursive=True)
             if os.path.isfile(p)]
    stored = sum(os.path.getsize(p) for p in files)
    m = {
        "runner.run_s": t1 - t0, "runner.resume_s": t3 - t2,
        "runner.noop_resume_s": t5 - t4, "runner.reprocess_s": t6 - t5,
        "evaluate.s": t7 - t6,
        "evaluate.exact_match_mean": means.get("exact_match", 0.0),
        "runner.redone_buckets": len(redone),
        "runner.files_written": len(files), "runner.bytes_written": stored,
        "stored_bytes_ratio": stored / inp["html_bytes"],
    }
    ok = runner.load_extracted(spark, root, RUN_ID).select(
        "url", "status", "text", "content_type")
    dlq = runner.load_errors(spark, root, RUN_ID).select(
        "url", "status", F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("content_type"))
    attempted, failed, _ = _doc_verdicts(ok.unionByName(dlq), truth)
    failed += abs(inp["rows"] - attempted)
    failed += int(not removed or redone != removed
                  or st["pending"] != len(removed))
    return m, attempted + 1, failed


class Curate:
    """Pre-extracted text with planted duplicates → pipeline.curate → noop."""

    name = "curate"
    python_workers = False  # every curate stage runs in the JVM

    def conf(self, inp, cores):
        return {}

    def touch(self, spark, inp):
        spark.read.parquet(inp["pages"]).count()

    def run_pass(self, spark, inp, span, state):
        from webextract.pipeline import curate

        with span("pipeline.curate"):
            out, report = curate(spark.read.parquet(inp["pages"]),
                                 lang_rates=CURATE_RATES)
            _noop(out)
        out.unpersist()
        state.setdefault("reports", []).append(report)

    def check(self, spark, inp, state):
        """Every pass's stage report equals the first, and its recrawl and
        exact-duplicate drops equal the planted numbers."""
        planted = inp["planted"]
        failed = 0
        for rep in state["reports"]:
            failed += int(
                rep != state["reports"][0]
                or rep["input"] != inp["rows"] - planted["not_ok"]
                or rep["input"] - rep["after_latest_crawl"] != planted["recrawls"]
                or rep["after_gates"] - rep["after_exact_dedup"]
                != planted["exact_dups"])
        counts = {"pipeline.rows." + k: v
                  for k, v in state["reports"][0].items()}
        return len(state["reports"]), failed, counts

    def extras(self, spark, inp, state):
        """Candidate vs verified pairs of the near-dup stage's LSH, over the
        distinct latest texts (what reaches that stage), with the
        parameters pipeline.curate uses."""
        from pyspark.sql import functions as F

        from webextract.dedup import minhash_lsh_pairs

        docs = (spark.read.parquet(inp["pages"]).filter(F.col("status") == "ok")
                .groupBy("text").agg(F.min("url").alias("url")))
        cand = minhash_lsh_pairs(docs, n=2, verify_tau=None).count()
        ver = minhash_lsh_pairs(docs, n=2).count()
        return ({"dedup.lsh_candidates": cand, "dedup.lsh_verified": ver,
                 "dedup.lsh_precision": ver / cand if cand else 0.0}, 0, 0)


WORKLOADS = {w.name: w for w in (Extract(), Curate())}
