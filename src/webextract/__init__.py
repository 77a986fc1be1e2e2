"""webextract — a PySpark-native main-content extraction engine.

A from-scratch reimplementation (NOT a port) of the capabilities of the
reference framework ``artefactory-uk/document-extraction-tools``
(/root/reference): its five-stage extraction algebra
``list_files -> read -> convert -> extract -> export`` plus the evaluation
branch, re-expressed as columnar Spark DataFrame transforms over a
Common-Crawl-style table ``(url, warc_ts, html, text, lang)``.

Layout
------
- :mod:`webextract.textnorm`   — canonical whitespace/entity normalization (the spec
  both generator and extractor share, so byte-identity is well-defined).
- :mod:`webextract.fasthtml`   — single-scan HTML → text blocks (the reference's
  Converter stage, cf. reference ``base/converter/base_converter.py:53-70``).
- :mod:`webextract.htmlblocks` — stdlib ``html.parser`` block builder: the
  fast path's per-document fallback and byte-identity oracle.
- :mod:`webextract.heuristics` — trafilatura/readability-style boilerplate scoring
  (text density, link density, tag/class blocklists) — the Extractor stage,
  cf. reference ``base/extractor/base_extractor.py:56-75``.
- :mod:`webextract.extract`    — fused parse→clean→segment per document; per-row
  failure capture (reference semantic
  ``runners/extraction/extraction_orchestrator.py:232-242``).
- :mod:`webextract.pdftext`    — minimal stdlib PDF text extraction (FlateDecode +
  Tj/TJ operators) behind the same interface.
- :mod:`webextract.corpus`     — deterministic synthetic web-pages corpus with
  ground truth known by construction (FIXTURES.md).
- :mod:`webextract.sparkjob`   — the Spark job: salted repartition + one
  ``mapInArrow`` over Arrow batches (no per-row Python UDFs).
- :mod:`webextract.runner`     — run_id / lineage / metrics / resume
  (reference pattern ``docs/guides/production-patterns.md:135-608``).
- :mod:`webextract.evaluate`   — truth join + metric columns + rollup
  (reference ``runners/evaluation/evaluation_orchestrator.py:234-269``).
- :mod:`webextract.analysis`   — text analytics (lang-id, quality, tokens).
- :mod:`webextract.dedup`      — exact / n-gram Jaccard / MinHash-LSH / SimHash.
- :mod:`webextract.sim`        — embedding cosine similarity / ANN top-k (LSH + IVF).
- :mod:`webextract.multimodal` — binary media columns: probe/features/frames
  (decode stubbed; Spark plumbing real and tested).
- :mod:`webextract.streaming`  — Structured Streaming twin of the batch job.
- :mod:`webextract.queries`    — oracle-checked query registry (driver gate).
- :mod:`webextract.session`    — SparkSession factory (+ --py-files zip).
- :mod:`webextract.config`     — YAML-per-component Pydantic configs.
- :mod:`webextract.tableio`    — Hadoop path → FileSystem lookup + compaction.
- :mod:`webextract.cli`        — spark-submit entrypoint (synth/extract/evaluate).
"""

__version__ = "0.1.0"
