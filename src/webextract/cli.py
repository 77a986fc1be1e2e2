"""spark-submit entrypoint: ``python -m webextract.cli <cmd> ...``.

Deployment shape per the north rule: ``spark-submit --py-files
webextract.zip -m webextract.cli`` on a real cluster; locally the module
builds its own session. Subcommands mirror the reference's two orchestrators
(extract / evaluate, reference ``runners/``) plus corpus synthesis.

Examples::

    python -m webextract.cli synth   --out /tmp/corpus --docs 10000
    python -m webextract.cli extract --input /tmp/corpus/web_pages.parquet \
        --output-root /tmp/out --run-id run1 --waves 4
    python -m webextract.cli evaluate --extracted-root /tmp/out --run-id run1 \
        --truth /tmp/corpus/truth.parquet --report /tmp/out/eval
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .session import get_spark

    # pinned only when --max-partition-mb is given: a conf set while building
    # the session would override the operator's spark-submit --conf
    mb = args.scan_split_mb
    return get_spark(app=f"webextract-{args.cmd}",
                     master=args.master,
                     extra={"spark.sql.files.maxPartitionBytes":
                            str(mb * 1024 * 1024)}
                     if mb else None)


def cmd_synth(args) -> int:
    from .corpus import write_corpus_parquet

    p, t = write_corpus_parquet(args.out, args.docs, seed=args.seed,
                                skew=args.skew, content_scale=args.content_scale)
    print(json.dumps({"web_pages": p, "truth": t, "docs": args.docs}))
    return 0


def cmd_extract(args) -> int:
    from .config import ExtractorConfig, load_pipeline_config
    from .runner import run_extraction

    cfg = load_pipeline_config(args.config_dir) if args.config_dir else None
    ext = cfg.extractor if cfg else ExtractorConfig()
    # only the orchestrator fields the YAML sets: a model default would
    # conflict with the bucketing a resumed run's manifest pinned
    orch = cfg.orchestrator.model_dump(exclude_unset=True) if cfg else {}
    spark = _spark(args)
    if args.input_format == "warc":
        from .warc import read_warc

        pages = read_warc(spark, args.input)
    else:
        pages = spark.read.parquet(args.input)
    stats = run_extraction(
        spark, pages, args.output_root, args.run_id,
        # None → inherit the run manifest on resume (or runner defaults)
        n_buckets=args.n_buckets or orch.get("n_buckets"),
        waves=args.waves or orch.get("waves", 1),
        salt=orch.get("salt"),
        link_density_max=ext.link_density_max,
        min_chars_linked=ext.min_chars_linked,
    )
    print(json.dumps(stats))
    return 0


def cmd_reprocess(args) -> int:
    """Re-drive the run's DLQ through extraction (transient-failure recovery)."""
    from .config import ExtractorConfig, load_pipeline_config
    from .runner import reprocess_errors

    cfg = load_pipeline_config(args.config_dir) if args.config_dir else None
    ext = cfg.extractor if cfg else ExtractorConfig()
    spark = _spark(args)
    pages = spark.read.parquet(args.input)
    stats = reprocess_errors(spark, pages, args.output_root, args.run_id,
                             link_density_max=ext.link_density_max,
                             min_chars_linked=ext.min_chars_linked)
    print(json.dumps(stats))
    return 0


def cmd_evaluate(args) -> int:
    from .config import EvaluationConfig, load_pipeline_config
    from .evaluate import evaluate
    from .runner import load_extracted

    cfg = load_pipeline_config(args.config_dir) if args.config_dir else None
    ev = cfg.evaluation if cfg else EvaluationConfig()
    spark = _spark(args)
    extracted = load_extracted(spark, args.extracted_root, args.run_id)
    truth = spark.read.parquet(args.truth)
    long_df, summary = evaluate(extracted, truth, metrics=ev.metrics,
                                len_tolerance=ev.len_tolerance)
    long_df.write.mode("overwrite").parquet(f"{args.report}/metrics")
    summary.write.mode("overwrite").parquet(f"{args.report}/summary")
    rows = {r.metric_name: round(r.mean_value, 6) for r in summary.collect()}
    print(json.dumps({"run_id": args.run_id, "mean_metrics": rows}))
    return 0


def cmd_curate(args) -> int:
    """Run the composed curation recipe (webextract.pipeline.curate) over a
    finished extraction run (--run-id) or a standalone extracted parquet."""
    from .pipeline import curate

    spark = _spark(args)
    if args.run_id:
        from .runner import load_extracted

        inp = load_extracted(spark, args.input, args.run_id)
    else:
        inp = spark.read.parquet(args.input)
    rates = json.loads(args.lang_rates) if args.lang_rates else None
    out, report = curate(inp, lang_rates=rates,
                         default_permille=args.default_permille,
                         near_dup=not args.no_near_dup)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"output": args.output, "stages": report}))
    return 0


def cmd_prep(args) -> int:
    """Run the composed pretraining-data prep recipe
    (webextract.pipeline.pretrain_prep): decontaminate against a benchmark
    parquet, temperature-rebalance sources, pack into training chunks."""
    from .pipeline import pretrain_prep

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.bench)
    out, report = pretrain_prep(
        docs, bench, capacity=args.capacity, shards=args.shards,
        gram_n=args.gram_n, text_col=args.text_col, id_col=args.id_col,
        source_col=args.source_col)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"output": args.output, "stages": report}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="webextract")
    ap.add_argument("--master", default=None)
    ap.add_argument("--max-partition-mb", type=int, default=None,
                    dest="scan_split_mb")
    sub = ap.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth", help="materialize the synthetic corpus")
    s.add_argument("--out", required=True)
    s.add_argument("--docs", type=int, default=1000)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--skew", action="store_true")
    s.add_argument("--content-scale", type=int, default=1)

    e = sub.add_parser("extract", help="run the resumable extraction job")
    e.add_argument("--input", required=True)
    e.add_argument("--input-format", choices=("parquet", "warc"),
                   default="parquet",
                   help="warc: read WARC(.gz) archives (webextract.warc)")
    e.add_argument("--output-root", required=True)
    e.add_argument("--run-id", required=True)
    e.add_argument("--config-dir", default=None)
    e.add_argument("--n-buckets", type=int, default=None)
    e.add_argument("--waves", type=int, default=None)

    r = sub.add_parser("reprocess", help="re-drive the run's DLQ through extraction")
    r.add_argument("--input", required=True)
    r.add_argument("--output-root", required=True)
    r.add_argument("--run-id", required=True)
    r.add_argument("--config-dir", default=None)

    c = sub.add_parser(
        "curate", help="run the composed curation recipe over extracted rows")
    c.add_argument("--input", required=True,
                   help="extraction output root (with --run-id) or a parquet "
                        "path of extracted rows")
    c.add_argument("--run-id", default=None)
    c.add_argument("--output", required=True)
    c.add_argument("--lang-rates", default=None,
                   help='JSON permille rates per lang, e.g. \'{"en": 400}\'')
    c.add_argument("--default-permille", type=int, default=1000)
    c.add_argument("--no-near-dup", action="store_true")

    p = sub.add_parser(
        "prep", help="decontaminate + rebalance + pack for pretraining")
    p.add_argument("--input", required=True, help="curated docs parquet")
    p.add_argument("--bench", required=True,
                   help="benchmark/eval-set parquet (same text column)")
    p.add_argument("--output", required=True)
    p.add_argument("--capacity", type=int, default=2048)
    p.add_argument("--shards", type=int, default=64)
    p.add_argument("--gram-n", type=int, default=5)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--source-col", default="source")

    v = sub.add_parser("evaluate", help="evaluate a finished run against truth")
    v.add_argument("--extracted-root", required=True)
    v.add_argument("--run-id", required=True)
    v.add_argument("--truth", required=True)
    v.add_argument("--report", required=True)
    v.add_argument("--config-dir", default=None)

    args = ap.parse_args(argv)
    return {"synth": cmd_synth, "extract": cmd_extract,
            "reprocess": cmd_reprocess, "evaluate": cmd_evaluate,
            "curate": cmd_curate, "prep": cmd_prep}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
