"""The composed training-data curation pipeline: the end-to-end recipe a
user of the engine actually runs over a crawl, assembled from the operator
library — every stage is the library call, not a reimplementation.

    pages ──extract──► extracted(ok)
          ──quality gate──► q-kept           (analysis.quality_filter_columns)
          ──repetition gate──► r-kept        (analysis.repetition_keep_expr)
          ──PII scrub──► scrubbed            (analysis.pii_redact_columns)
          ──exact dedup──► canonical only    (dedup.best_copy)
          ──near-dup clusters──► one per cluster
                                             (dedup.minhash_lsh_pairs +
                                              dedup.connected_components)
          ──stratified sample──► final mix   (sampling.stratified_sample)

Scale shape: the three gates and the scrub FUSE into the projection over
the extraction output (single stage); exact dedup shuffles once on the
8-byte content hash; the near-dup stage is banded LSH + Hash-Min label
propagation (pair-linear, never quadratic); the sample is a zero-shuffle
hash gate. A stage report (rows in/out per stage) is returned alongside
the result so pipeline runs are auditable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import (HASH_FNS, _norm_text, best_copy, connected_components,
                    minhash_lsh_pairs, observed, shingles)

# curate's report keys, in stage order
_STAGES = ("input", "after_latest_crawl", "after_gates", "after_exact_dedup",
           "after_near_dedup", "final")


def curate(pages: DataFrame, *, lang_rates: dict[str, int] | None = None,
           default_permille: int = 1000, dedup_hash: str = "xxhash64",
           near_dup: bool = True, quality: dict | None = None,
           text_col: str = "text", id_col: str = "url",
           lang_col: str = "lang") -> tuple[DataFrame, dict[str, int]]:
    """Run the full curation recipe over EXTRACTED rows (status == 'ok').

    ``quality`` overrides quality_filter_columns kwargs (the stopword-
    ratio gate defaults OFF — it presumes one language's stopword list).

    Returns (curated DataFrame, per-stage row counts). Stage boundaries
    are local checkpoints that count their rows in the same job
    (:func:`webextract.dedup.observed`), so the audit counts and the
    downstream stages read the materialized stage, not a recomputation of
    everything upstream (measured 8x on the test corpus). Spark's
    ContextCleaner frees them once unreachable (no ``unpersist()``); like
    connected_components' rounds, they trade lineage for speed.
    """
    from .analysis import (pii_redact_columns, quality_filter_columns,
                           repetition_keep_expr)
    from .sampling import stratified_sample

    from pyspark.sql import Window

    report: dict[str, int] = {}
    # `df` is the one live stage: reassigning it drops the superseded one
    df = pages.filter(F.col("status") == "ok") if "status" in pages.columns \
        else pages
    # checkpoint the input boundary FIRST: the latest-crawl window and every
    # later stage otherwise each re-run the full upstream plan (extraction
    # scan + parse) from scratch. Each boundary's tuple runs the checkpoint
    # job before it reads the count that job observed.
    df, obs = observed(df)
    df, report["input"] = df.localCheckpoint(eager=True), obs.get["n"]

    # --- recrawl resolution: latest successful crawl per url -------------
    # recrawls REPEAT the id (same url, new warc_ts) — every downstream
    # id-keyed step assumes id uniqueness, so resolve first
    # (row_number over (id ORDER BY ts desc)). Tie-break equal timestamps by
    # md5(text) DESC: deterministic across runs/engines (a bare ts order
    # would let Spark pick an arbitrary copy, making downstream dedup
    # membership non-reproducible)
    latest = None
    if "warc_ts" in df.columns:
        w = Window.partitionBy(id_col).orderBy(
            F.desc("warc_ts"), F.desc(F.md5(F.col(text_col))))
        df, latest = observed(df.withColumn("_rn", F.row_number().over(w))
                                .filter(F.col("_rn") == 1).drop("_rn"))

    # --- gates + scrub: one fused projection over the scan ---------------
    # stopword-ratio gate OFF by default: it presumes one language's
    # stopword list; multilingual corpora route per-language lists or
    # disable it (override via quality={"stop_ratio_denom": 50, ...})
    qkw: dict = {"stop_ratio_denom": None}
    qkw.update(quality or {})
    _, _, _, q_keep = quality_filter_columns(text_col, **qkw)
    t = F.trim(F.col(text_col))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"\s+"))
    # the repetition gate is a LET-BOUND expression (analysis.
    # repetition_keep_expr): the token array binds once per row inside the
    # gate itself, so CollapseProject cannot inline the split() into every
    # per-gram array access — without the binding, HOF lambdas (which
    # never codegen) re-split the text O(n_grams) times per row
    # interpreted (measured 21x on this stage; the r3 stopword bug one
    # level deeper). No extra cache needed: the gate evaluates in the same
    # projection as the quality gate and the PII scrub.
    r_keep = repetition_keep_expr(toks)
    _, red = pii_redact_columns(text_col)
    df, obs = observed(df.filter(q_keep.cast("boolean"))
                         .filter(r_keep.cast("boolean"))
                         .withColumn(text_col, red))
    df, report["after_gates"] = df.localCheckpoint(eager=True), obs.get["n"]
    if latest is not None:  # observed by the gates job, not a job of its own
        report["after_latest_crawl"] = latest.get["n"]

    # --- exact dedup: keep the best copy per content group ---------------
    df, obs = observed(df.join(
        best_copy(df, text_col=text_col, id_col=id_col, hash_fn=dedup_hash)
        .filter(F.col("is_kept") == 1).select(id_col), id_col, "left_semi"))
    df, report["after_exact_dedup"] = df.localCheckpoint(eager=True), obs.get["n"]

    # --- near-dup clusters: BEST copy per MinHash-LSH component ----------
    if near_dup:
        # connected_components labels are numeric; string ids (urls) are
        # keyed by xxhash64 (deterministic; a 2^-64 collision would merely
        # merge two clusters). The surviving member per cluster is the
        # HIGHEST-QUALITY one (longest normalized text, min id tie-break) —
        # same "keep the best copy" semantics as the exact-dedup stage, not
        # an arbitrary min-hash representative.
        pairs = minhash_lsh_pairs(df, text_col=text_col, id_col=id_col, n=2,
                                  hash_fn=dedup_hash)
        # one job builds and counts the pair set: over the checkpointed
        # stage all four signature reads share one exchange, and CC gets
        # the pairs already built
        pairs, obs = observed(pairs.select(F.xxhash64("id_a").alias("id_a"),
                                           F.xxhash64("id_b").alias("id_b")))
        pairs = pairs.localCheckpoint(eager=True)
        if obs.get["n"] > 0:
            cc = connected_components(
                pairs,
                vertices=df.select(F.xxhash64(F.col(id_col)).alias("hid")),
                id_col="hid")
            labeled = (df.withColumn("_hid", F.xxhash64(F.col(id_col)))
                         .withColumn("_q", F.length(_norm_text(text_col)))
                         .join(cc.select(F.col("id").alias("_hid"),
                                         "cluster_id"), "_hid"))
            reps = labeled.groupBy("cluster_id").agg(
                F.min_by(id_col, F.struct((-F.col("_q")).alias("nq"),
                                          F.col(id_col))).alias("_rep"))
            df, obs = observed(df.join(
                reps.select(F.col("_rep").alias(id_col)), id_col, "left_semi"))
            df, report["after_near_dedup"] = df.localCheckpoint(eager=True), obs.get["n"]
        else:  # no candidate pairs: stage is a pass-through
            report["after_near_dedup"] = report["after_exact_dedup"]

    # --- language-stratified sample --------------------------------------
    if lang_rates:
        df, obs = observed(stratified_sample(
            df, key_col=id_col, strata_col=lang_col, rates=lang_rates,
            default_permille=default_permille, bucket_out=None))
        df, report["final"] = df.localCheckpoint(eager=True), obs.get["n"]
    else:
        report["final"] = report.get("after_near_dedup",
                                     report["after_exact_dedup"])
    return df, {k: report[k] for k in _STAGES if k in report}


def _rebalance(clean: DataFrame, *, hash_fn: str = "md5_60") -> DataFrame:
    """pretrain_prep's temperature-rebalance stage, returned LAZILY so its
    plan is inspectable (tests/test_pipeline.py asserts the rate table
    broadcasts and nothing degenerates to CartesianProduct). ``clean``
    needs (id, source, n_tokens); keeps every column.

    Per-source token mass m_i gets weight w_i = isqrt(m_i); keep rate =
    min(1000, (w_i * sum_m * 1000) div (sum_w * m_i)) permille, gated by
    hash_bucket(id) — deterministic, never upsamples."""
    from .sampling import hash_bucket

    mass = clean.groupBy("source").agg(F.sum("n_tokens").alias("m"))
    tot = mass.agg(F.sum("m").alias("sum_m"),
                   F.sum(F.floor(F.sqrt("m")).cast("long")).alias("sum_w"))
    # the rate product is computed in decimal(38,0): w * sum_m * 1000
    # wraps int64 already at a ~4e10-token corpus (w ~ sqrt(m) ~ 2e5 times
    # sum_m ~ 5e10 times 1000), far below pretraining scale — a silent
    # wrap would turn the rate negative and drop the source entirely
    rate_expr = ("CAST((CAST(w AS DECIMAL(38,0)) * sum_m * 1000) div "
                 "(CAST(sum_w AS DECIMAL(38,0)) * m) AS BIGINT)")
    rates = (mass.crossJoin(F.broadcast(tot))
             .withColumn("w", F.floor(F.sqrt("m")).cast("long"))
             .withColumn(
                 "rate",
                 F.when(F.col("m") == 0, F.lit(1000)).otherwise(
                     F.least(F.lit(1000).cast("long"), F.expr(rate_expr)))
                 .cast("int"))
             .select("source", "rate"))
    return (clean.join(F.broadcast(rates), "source")
            .filter(hash_bucket("id", buckets=1000, hash_fn=hash_fn)
                    < F.col("rate")))


def pretrain_prep(docs: DataFrame, bench: DataFrame, *,
                  capacity: int = 2048, shards: int = 32, gram_n: int = 5,
                  text_col: str = "text", id_col: str = "doc_id",
                  source_col: str = "source",
                  hash_fn: str = "md5_60") -> tuple[DataFrame, dict[str, int]]:
    """The composed pretraining-data prep recipe: curated docs →
    benchmark decontamination → temperature-rebalanced source mix →
    sequence packing. The second end-to-end recipe (after :func:`curate`):
    everything between a curated corpus and a pretraining dataloader,
    assembled from the operator library — every stage is the library call.

        docs ──decontaminate──► clean      (q60's gram-overlap drop vs
                                            ``bench``'s hashed n-gram index)
             ──rebalance──► mixed          (:func:`_rebalance`'s alpha=0.5
                                            temperature quotas → per-source
                                            hash gate)
             ──pack──► chunk assignment    (sampling.pack_sequences)

    Rebalancing: per-source token mass m_i gets weight w_i = isqrt(m_i);
    the keep rate is ``min(1000, (w_i * sum_m * 1000) div (sum_w * m_i))``
    permille — sources above their temperature share are hash-downsampled,
    sources at/below keep everything (this recipe never upsamples).
    Zero-token sources keep rate 1000 (nothing to rebalance). All integer
    arithmetic; the gate is the hash_bucket(id) rule, so membership is
    deterministic and stable under corpus growth.

    Scale shape: the benchmark gram index is hashed 60-bit keys and
    BROADCASTS (eval sets are tiny vs the corpus); the rate table is
    |sources| rows and broadcasts; packing is the q65 hash-sharded
    running sum (no global window). One corpus-sized shuffle total (the
    per-doc gram dedup inside decontamination) before the packing
    exchange on the shard key.

    Returns (packed assignment: one row per surviving doc with
    (id, source, tokens, shard, offset, first_chunk, last_chunk,
    n_chunks), per-stage report). Stage boundaries are :func:`curate`'s
    observed local checkpoints (no ``unpersist()``).
    """
    from .analysis import token_count
    from .sampling import pack_sequences

    report: dict[str, int] = {}
    fn, _ = HASH_FNS[hash_fn]

    # r6: materialize only the SMALL columns (id, source, n_tokens ≈ 24
    # B/row) — caching the token ARRAYS cost more in serialization + memory
    # than one lazy re-split for the gram stage saves (measured: base
    # materialization 3.0 s -> ~1 s at sf1.0; the decon stage re-derives
    # tokens from the text in the same scan that builds its grams).
    base, obs = observed(docs.select(
        F.col(id_col).alias("id"), F.col(source_col).alias("source"),
        token_count(text_col).cast("long").alias("n_tokens")))
    base, report["input"] = base.localCheckpoint(eager=True), obs.get["n"]

    # --- decontamination: drop docs sharing any n-gram with the bench ----
    def _grams(d):
        return (shingles(d, text_col, id_col, n=gram_n, distinct=False)
                .select("id", fn(F.col("shingle")).alias("gh")).distinct())

    bench_idx = _grams(bench).select("gh").distinct()
    hits = (_grams(docs).join(F.broadcast(bench_idx), "gh")
            .select("id").distinct())
    clean, obs = observed(base.join(hits, "id", "left_anti"))
    clean, report["after_decontamination"] = (
        clean.localCheckpoint(eager=True), obs.get["n"])

    # --- temperature rebalance: alpha=0.5 quota per source ---------------
    mixed, obs = observed(_rebalance(clean, hash_fn=hash_fn))
    mixed, report["after_rebalance"] = (
        mixed.localCheckpoint(eager=True), obs.get["n"])

    # --- sequence packing -------------------------------------------------
    packed = pack_sequences(mixed.select("id", "n_tokens"), id_col="id",
                            tokens_col="n_tokens", capacity=capacity,
                            shards=shards, hash_fn=hash_fn)
    out, obs = observed(
        mixed.select("id", "source").join(packed, "id")
        .select(F.col("id").alias(id_col), "source", "tokens", "shard",
                "offset", "first_chunk", "last_chunk", "n_chunks"))
    out, report["packed"] = out.localCheckpoint(eager=True), obs.get["n"]
    return out, report
