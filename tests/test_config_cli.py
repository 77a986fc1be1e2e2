"""Config loader + threshold-wiring tests (reference test_config_loader.py analog)."""

import pytest

from webextract.config import (
    ExtractorConfig,
    OrchestratorConfig,
    PipelineConfig,
    load_pipeline_config,
)
from webextract.extract import extract_document


def test_defaults():
    cfg = PipelineConfig()
    assert cfg.extractor.link_density_max == 0.5
    assert cfg.orchestrator.n_buckets == 64


def test_yaml_roundtrip(tmp_path):
    (tmp_path / "extractor.yaml").write_text("link_density_max: 0.7\n")
    (tmp_path / "orchestrator.yaml").write_text("n_buckets: 16\nwaves: 4\n")
    cfg = load_pipeline_config(str(tmp_path))
    assert cfg.extractor.link_density_max == 0.7
    assert cfg.orchestrator.n_buckets == 16
    assert cfg.orchestrator.waves == 4
    assert cfg.evaluation.len_tolerance == 0.02  # absent file → defaults


def test_empty_file_gives_defaults(tmp_path):
    (tmp_path / "extractor.yaml").write_text("")
    cfg = load_pipeline_config(str(tmp_path))
    assert cfg.extractor == ExtractorConfig()


def test_missing_file_raises_when_required(tmp_path):
    with pytest.raises(FileNotFoundError):
        load_pipeline_config(str(tmp_path), require_all=True)


def test_unknown_key_raises(tmp_path):
    (tmp_path / "orchestrator.yaml").write_text("max_workers: 4\n")  # reference knob, not ours
    with pytest.raises(Exception):
        load_pipeline_config(str(tmp_path))


def test_validation_bounds():
    with pytest.raises(Exception):
        ExtractorConfig(link_density_max=1.5)
    with pytest.raises(Exception):
        OrchestratorConfig(n_buckets=0)


def test_cli_config_dir_leaves_max_partition_bytes_unset(tmp_path, monkeypatch):
    """An orchestrator.yaml sets no scan-split size: without
    --max-partition-mb the CLI's session leaves maxPartitionBytes to
    spark-submit --conf (a conf set at session build overrides it)."""
    import webextract.session
    from webextract.cli import main

    class Sentinel(Exception):
        pass

    seen = {}

    def fake_get_spark(*args, extra=None, **kw):
        seen["extra"] = extra
        raise Sentinel

    monkeypatch.setattr(webextract.session, "get_spark", fake_get_spark)
    (tmp_path / "orchestrator.yaml").write_text("")
    argv = ["extract", "--config-dir", str(tmp_path),
            "--input", str(tmp_path / "pages.parquet"),
            "--output-root", str(tmp_path / "out"), "--run-id", "r1"]
    with pytest.raises(Sentinel):
        main(argv)
    assert "extra" in seen
    assert not any("maxPartitionBytes" in k for k in (seen["extra"] or {}))
    # the flag still pins it
    with pytest.raises(Sentinel):
        main(["--max-partition-mb", "64"] + argv)
    assert seen["extra"] == {"spark.sql.files.maxPartitionBytes":
                             str(64 * 1024 * 1024)}


def test_cli_config_dir_resume_inherits_manifest(spark, corpus_dir, tmp_path,
                                                monkeypatch, capsys):
    """A run started with --n-buckets 8 resumes with a --config-dir whose
    orchestrator.yaml leaves n_buckets out: the manifest's 8 is inherited,
    not overridden by the model default. An explicit conflicting value in
    the YAML still raises."""
    import json

    import webextract.session
    from webextract.cli import main

    monkeypatch.setattr(webextract.session, "get_spark", lambda *a, **k: spark)
    argv = ["extract", "--input", f"{corpus_dir}/web_pages.parquet",
            "--output-root", str(tmp_path / "out"), "--run-id", "r1"]
    assert main(argv + ["--n-buckets", "8"]) == 0
    cfg = tmp_path / "cfg"
    cfg.mkdir()
    (cfg / "orchestrator.yaml").write_text("")
    capsys.readouterr()
    assert main(argv + ["--config-dir", str(cfg)]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_buckets"] == 8 and stats["pending"] == 0

    (cfg / "orchestrator.yaml").write_text("n_buckets: 16\n")
    with pytest.raises(ValueError, match="would corrupt lineage"):
        main(argv + ["--config-dir", str(cfg)])


def test_thresholds_change_extraction():
    """A link-bearing paragraph under the default threshold survives, but is
    dropped when the run configures a stricter link-density cap."""
    html = (b"<html><body><p>Plain long paragraph with one "
            b'<a href="/x">link word</a> inside and lots of other text.</p>'
            b"</body></html>")
    assert extract_document(html).text != ""
    assert extract_document(html, link_density_max=0.05).text == ""


def test_thresholds_reach_executors(spark):
    """extract_df ships its thresholds into the mapInArrow body: under a
    strict link-density cap the executors drop the planted link-bearing
    paragraph and keep the plain one, exactly as extract_document does."""
    import datetime

    from webextract.sparkjob import extract_df

    plain = "A plain paragraph that carries enough ordinary words to be kept."
    html = (f"<html><body><p>{plain}</p><p>Plain long paragraph with one "
            '<a href="/x">link word</a> inside and lots of other text.</p>'
            "</body></html>").encode()
    pages = spark.createDataFrame(
        [("u1", datetime.datetime(2024, 1, 1), "en", html)],
        "url string, warc_ts timestamp, lang string, html binary")
    loose = extract_df(pages, repartition=False).first()
    strict_df = extract_df(pages, repartition=False, link_density_max=0.05)
    # one Arrow-native stage, and the bound thresholds keep the body's name
    # in the physical plan
    plan = strict_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    assert "extract_batches(" in plan
    strict = strict_df.first()
    assert "link word" in loose.text
    assert strict.status == "ok" and strict.text == plain
    assert strict.text == extract_document(html, link_density_max=0.05).text


def test_cli_curate_end_to_end(spark, tmp_path, capsys):
    import json

    from webextract.cli import main
    from webextract.corpus import write_corpus_parquet
    from webextract.sparkjob import extract_df, split_errors

    gen = str(tmp_path / "gen")
    write_corpus_parquet(gen, 120, seed=21)
    pages = spark.read.parquet(f"{gen}/web_pages.parquet")
    ok, _ = split_errors(extract_df(pages, repartition=False))
    src = str(tmp_path / "extracted")
    ok.write.parquet(src)
    out = str(tmp_path / "curated")
    rc = main(["curate", "--input", src, "--output", out,
               "--lang-rates", '{"en": 500}'])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    stages = rep["stages"]
    assert list(stages) == ["input", "after_latest_crawl", "after_gates",
                            "after_exact_dedup", "after_near_dedup", "final"]
    vals = list(stages.values())
    assert all(a >= b for a, b in zip(vals, vals[1:])) and vals[-1] > 0
    assert spark.read.parquet(out).count() == stages["final"]


def test_cli_prep_end_to_end(spark, tmp_path, capsys):
    import json

    from webextract.cli import main

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(30)), f"s{i % 3}")
         for i in range(24)],
        "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(99, " ".join(f"w3_{j}" for j in range(30)), "b")],
        "doc_id long, text string, source string")
    src, bpath, out = (str(tmp_path / d) for d in ("docs", "bench", "packed"))
    docs.write.parquet(src)
    bench.write.parquet(bpath)
    rc = main(["prep", "--input", src, "--bench", bpath, "--output", out,
               "--capacity", "32", "--shards", "4"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    stages = rep["stages"]
    assert list(stages) == ["input", "after_decontamination",
                            "after_rebalance", "packed"]
    assert stages["packed"] == stages["after_rebalance"]
    # doc 3 shares every 5-gram with the bench doc (same w3_* stream)
    assert stages["after_decontamination"] == stages["input"] - 1
    packed = spark.read.parquet(out)
    assert packed.count() == stages["after_rebalance"] > 0
    assert set(packed.columns) == {"doc_id", "source", "tokens", "shard",
                                   "offset", "first_chunk", "last_chunk",
                                   "n_chunks"}
