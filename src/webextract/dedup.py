"""Deduplication operators for web-scale training-data pipelines.

Four tiers, all pure DataFrame/SQL-function pipelines (JVM-side, no Python
UDFs — the hashing is ``xxhash64``/bit arithmetic inside whole-stage
codegen):

- :func:`best_copy`             — exact dedup: hash-groupBy
                                  canonicalization, keeping the best copy.
- :func:`jaccard_pairs`         — exact n-gram set-similarity join
                                  (quadratic per shared gram; small/medium).
- :func:`minhash_lsh_pairs`     — MinHash signatures + banded LSH: candidate
                                  generation cost is linear in corpus size;
                                  the scale path for 10^12 docs.
- :func:`simhash_buckets`       — 64-bit SimHash fingerprints + band keys for
                                  Hamming-distance blocking.

MinHash math: for each of ``num_perm`` permutations ``h_i(x) = xxhash64(x, i)``,
the signature keeps ``min_x h_i(x)`` over the doc's shingle set; banded LSH
groups ``num_perm = bands × rows_per_band`` values so two docs collide in some
band with probability ``1 - (1 - j^r)^b`` (j = true Jaccard). With 16 bands ×
4 rows, j=0.8 collides with p≈0.9996, j=0.3 with p≈0.12 — the standard
near-dup operating point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window as W, functions as F

# ---------------------------------------------------------------------------
# shingling (shared by jaccard + minhash + simhash)
# ---------------------------------------------------------------------------


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "url",
             n: int = 3, distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per doc: (id, shingle).

    ``distinct=True`` (set semantics) costs a full shuffle OF THE SHINGLE
    STRINGS — required where duplicates change the result (Jaccard
    intersection counts, SimHash bit sums). Pass ``distinct=False`` for
    consumers whose aggregate is duplicate-insensitive (MinHash: a repeated
    shingle cannot change a MIN), which turns the whole pipeline into
    explode → map-side-combined aggregation with no exchange before the
    per-doc groupBy.
    """
    toks = (
        df.filter(F.length(F.trim(text_col)) > 0)
        .select(F.col(id_col).alias("id"), F.split(F.trim(text_col), r"\s+").alias("t"))
        .filter(F.size("t") >= n)
    )
    # let-bound gram building (analysis.gram_array): the token array
    # evaluates ONCE per row — without the binding, CollapseProject inlines
    # the split() into every per-gram access and the text re-splits
    # interpreted per element (HOF lambdas don't codegen; measured 2x on
    # shingle gen, 21x on denser lambdas)
    from .analysis import gram_array

    out = toks.select(
        "id", F.explode(gram_array(F.col("t"), n)).alias("shingle"))
    return out.distinct() if distinct else out


def jaccard_pairs(df: DataFrame, *, text_col: str = "text", id_col: str = "url",
                  n: int = 3, tau: float = 0.8, max_df: int = 1000) -> DataFrame:
    """Exact n-gram Jaccard similarity join with stop-gram pruning.

    ``max_df`` drops shingles occurring in more than that many docs — the
    standard guard against quadratic blowup on boilerplate-common grams.
    """
    g = shingles(df, text_col, id_col, n)
    sizes = g.groupBy("id").agg(F.count("*").alias("n_sh"))
    gdf = g.groupBy("shingle").agg(F.count("*").alias("df_"))
    gf = g.join(gdf.filter(F.col("df_") <= max_df).select("shingle"), "shingle")
    a = gf.select(F.col("id").alias("id_a"), "shingle")
    b = gf.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count("*").alias("intersection"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("intersection") / (F.col("na") + F.col("nb") - F.col("intersection"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .filter(jac >= tau)
        .select("id_a", "id_b", "intersection", jac.alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# hash functions (parameterize MinHash/SimHash)
# ---------------------------------------------------------------------------
#
# "xxhash64": the production path — multi-arg JVM hash, 64 bits, fastest.
# "md5_60":  a portable 60-bit hash (top 15 hex digits of md5) that DuckDB
#            reproduces exactly (('0x'||substr(md5(x),1,15))::UBIGINT), making
#            MinHash/SimHash oracle-checkable end-to-end. 15 hex digits keep
#            the value positive in a signed 64-bit long on both engines.


def _xx64(col, seed: int | None = None):
    return F.xxhash64(col) if seed is None else F.xxhash64(col, F.lit(seed))


def _md5_60(col, seed: int | None = None):
    s = col if seed is None else F.concat(col, F.lit(f"|{seed}"))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


#: name -> (hash column fn, hash width in bits)
HASH_FNS = {"xxhash64": (_xx64, 64), "md5_60": (_md5_60, 60)}

MD5_60_SQL = "(('0x' || substr(md5({x}), 1, 15))::UBIGINT::BIGINT)"


def _band_bucket(hash_fn: str, bidx: Column, cols: list):
    """Bucket key for one LSH band: hash of (band index, band's hash slice)."""
    if hash_fn == "xxhash64":
        return F.xxhash64(bidx, *cols)  # multi-arg: no string build
    fn, _ = HASH_FNS[hash_fn]
    return fn(F.concat_ws("|", bidx, *cols))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Universal-hash permutation family for the portable (md5_60) MinHash mode:
# ONE md5 per shingle, then num_perm multiply-add permutations
# h_i = (a_i * b + c_i) mod P over b = md5_60(shingle) mod 2^30 — the
# classical (a*x+b) mod p construction. Bounds: a_i,b < 2^30 so a_i*b < 2^60
# and the sum < 2^61 — exact in signed 64-bit on BOTH engines (DuckDB BIGINT
# multiplication raises on overflow rather than wrapping, so staying under
# 2^63 is load-bearing). 64 md5s/shingle would be ~5x slower (measured).
MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime)
_BASE_MOD = 1 << 30


def minhash_perm_consts(num_perm: int, seed: int = 0xC0FFEE) -> list[tuple[int, int]]:
    import random

    r = random.Random(seed)
    return [(r.randrange(1, _BASE_MOD) | 1, r.randrange(_BASE_MOD))
            for _ in range(num_perm)]


def minhash_signatures(df: DataFrame, *, text_col: str = "text",
                       id_col: str = "url", n: int = 3,
                       num_perm: int = 64,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """(id, sig: array<long>) — num_perm column-wise minima of permuted
    hashes. One aggregation over the shingle table, all JVM-side.

    xxhash64 mode seeds the hash per permutation (multi-arg JVM hash, cheap);
    md5_60 mode hashes each shingle ONCE and derives the permutations with
    the (a*x+b) mod p family above, so the portable mode costs ~one md5 per
    shingle instead of num_perm of them.

    The shingle stream is NOT deduplicated: a repeated shingle cannot change
    any of the MINs, so the signature over the multiset equals the signature
    over the set — and skipping the distinct removes the only exchange that
    carries shingle STRINGS (the plan becomes explode → map-side-combined
    min-aggregation; the per-doc groupBy shuffles 65 longs per doc).
    """
    fn, _ = HASH_FNS[hash_fn]
    g = shingles(df, text_col, id_col, n, distinct=False)
    # the num_perm minima are ONE parsed SQL expression: built as Column
    # objects they cost ~27 py4j round trips each (~1.7k per signature
    # table, a third of a second of driver time per call); same plan
    if hash_fn == "md5_60":
        g = g.select("id", (fn(F.col("shingle")) % F.lit(_BASE_MOD)).alias("b"))
        mins = [f"min(({a} * b + {c}) % {MINHASH_P})"
                for a, c in minhash_perm_consts(num_perm)]
    else:
        mins = [f"min(xxhash64(shingle, {i}))" for i in range(num_perm)]
    return g.groupBy("id").agg(F.expr(f"array({', '.join(mins)})").alias("sig"))


def minhash_lsh_pairs(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "url", n: int = 3, num_perm: int = 64,
                      bands: int = 16, verify_tau: float | None = 0.8,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Candidate pairs via banded LSH; optionally verified with signature
    similarity (fraction of matching minhashes ≈ Jaccard estimate).

    Scale shape: explode to ``bands`` rows per doc, hash each band slice to a
    bucket key, self-join per bucket — candidates are only docs sharing a
    band bucket, never the full cross product. The candidate dedup shuffles
    bare ``(id_a, id_b)`` pairs ONLY (≈16 bytes/row); the 64-long signature
    arrays are re-joined per unique doc id afterwards for verification —
    never carried through the band-collision distinct. The signature table
    is read four times; give it a local checkpoint, not a ``persist()``ed
    frame, so all four reads share one signature exchange (:func:`observed`).
    """
    assert num_perm % bands == 0
    rows_per_band = num_perm // bands
    sig = minhash_signatures(df, text_col=text_col, id_col=id_col, n=n,
                             num_perm=num_perm, hash_fn=hash_fn)
    # one lambda over the band index builds every band key (bands x
    # rows_per_band Column element accesses cost ~1.9k py4j round trips);
    # the keys are the same values
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bidx: _band_bucket(
            hash_fn, bidx,
            [F.col("sig")[bidx * rows_per_band + r] for r in range(rows_per_band)]))
    banded = sig.select("id", F.explode(band_keys).alias("bucket"))
    a = banded.select(F.col("id").alias("id_a"), "bucket")
    b = banded.select(F.col("id").alias("id_b"), "bucket")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda v: v))
        / F.lit(num_perm)
    ).alias("est_jaccard")
    out = cand.join(sa, "id_a").join(sb, "id_b").select("id_a", "id_b", est)
    if verify_tau is not None:
        out = out.filter(F.col("est_jaccard") >= verify_tau)
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, *, text_col: str = "text", id_col: str = "url",
            n: int = 2, bands: int = 4,
            hash_fn: str = "xxhash64") -> DataFrame:
    """(id, simhash: long, band0..band{k}) — SimHash fingerprint + Hamming
    bands (64-bit with xxhash64; 60-bit with the portable md5_60 hash).

    SimHash bit b is 1 iff the majority of the doc's shingle hashes have bit
    b set. Two docs within Hamming distance < bands share at least one exact
    band (pigeonhole), so equality on any band column blocks candidates.
    Implemented as `bits` conditional sums over the shingle table — heavy but
    entirely JVM-side; band keys are bit-slices of the final fingerprint.
    """
    fn, bits = HASH_FNS[hash_fn]
    assert bits % bands == 0, f"bands={bands} must divide hash width {bits}"
    g = shingles(df, text_col, id_col, n)
    h = g.select("id", fn(F.col("shingle")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = h.groupBy("id").agg(*bit_sums, F.count("*").alias("n_sh"))
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseXOR(term)  # disjoint bits: XOR == OR
    out = agg.select("id", fp.alias("simhash"), "n_sh")
    width = bits // bands
    mask = (1 << width) - 1
    for k in range(bands):
        out = out.withColumn(
            f"band{k}",
            F.shiftright(F.col("simhash"), k * width).bitwiseAND(F.lit(mask)),
        )
    return out


def simhash_pairs(df: DataFrame, *, text_col: str = "text", id_col: str = "url",
                  n: int = 2, bands: int = 4, max_hamming: int = 3,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs: band-equality blocking, exact Hamming verification.

    The blocking union/distinct carries bare id pairs; fingerprints are
    re-joined per unique doc for the Hamming check (same shuffle-slimming
    shape as :func:`minhash_lsh_pairs`).
    """
    s = simhash(df, text_col=text_col, id_col=id_col, n=n, bands=bands,
                hash_fn=hash_fn)
    pairs = None
    for k in range(bands):
        a = s.select(F.col("id").alias("id_a"), F.col(f"band{k}").alias("bk"))
        b = s.select(F.col("id").alias("id_b"), F.col(f"band{k}").alias("bk"))
        p = a.join(b, "bk").filter(F.col("id_a") < F.col("id_b")) \
             .select("id_a", "id_b")
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.distinct()
    ha = s.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"))
    hb = s.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        pairs.join(ha, "id_a").join(hb, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# cross-crawl incremental dedup
# ---------------------------------------------------------------------------


def _norm_text(text_col):
    """THE content normalization every fingerprint producer shares
    (best_copy, fingerprint_index, streaming.dedup_stream) — change it in
    one place or not at all."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def fingerprint_index(df: DataFrame, *, text_col: str = "text",
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Distinct normalized-content fingerprints — the historical index a
    long-running crawl maintains (append each batch's survivors to it).
    At scale this table is bucketed by text_hash so incremental anti-joins
    against it are co-located."""
    fn, _ = HASH_FNS[hash_fn]
    return df.select(fn(_norm_text(text_col)).alias("text_hash")).distinct()


def dedup_against_index(df: DataFrame, index: DataFrame, *,
                        text_col: str = "text", id_col: str = "url",
                        hash_fn: str = "xxhash64") -> DataFrame:
    """Cross-crawl incremental dedup: drop rows whose fingerprint already
    exists in ``index``, then dedup within the batch (min id wins).

    The production shape for "dedupe today's crawl against everything ever
    kept": both the anti-join and the within-batch group key on the 8-byte
    hash, so at 100 TB the shuffle carries fingerprints, never text, and a
    text_hash-bucketed index makes the anti-join shuffle-free on the index
    side. Returns ``(id, text_hash)`` survivors — the rows to append to the
    corpus AND to the index.
    """
    fn, _ = HASH_FNS[hash_fn]
    keyed = df.select(F.col(id_col).alias("id"),
                      fn(_norm_text(text_col)).alias("text_hash"))
    fresh = keyed.join(index.select("text_hash"), "text_hash", "left_anti")
    return (fresh.groupBy("text_hash").agg(F.min("id").alias("id"))
                 .select(F.col("id").alias(id_col), "text_hash"))


# ---------------------------------------------------------------------------
# stage boundaries: observed local checkpoints
# ---------------------------------------------------------------------------


def observed(df: DataFrame, *aggs: Column) -> tuple[DataFrame, Observation]:
    """``df`` with ``aggs`` (default: the row count, as ``n``) attached as
    observed metrics — the package's one stage-boundary idiom:

        df, obs = observed(df)
        df, n = df.localCheckpoint(eager=True), obs.get["n"]

    The eager checkpoint is the boundary's ONE job: it materializes the
    stage and fills ``obs`` (reading ``obs.get`` before it blocks forever).
    The caller runs it, so the job's call site is the boundary's own line.
    A local checkpoint, unlike a ``persist()``ed frame, lets AQE reuse
    equal exchanges above it, and Spark's ContextCleaner frees it once
    unreachable. It cuts lineage, as in :func:`connected_components`.
    """
    obs = Observation()
    return df.observe(obs, *(aggs or [F.count(F.lit(1)).alias("n")])), obs


# ---------------------------------------------------------------------------
# cluster assignment: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame, *, src: str = "id_a",
                         dst: str = "id_b", vertices: DataFrame | None = None,
                         id_col: str = "id",
                         max_iter: int = 25) -> DataFrame:
    """Cluster id per vertex = min vertex id reachable in the pair graph
    (Hash-Min label propagation) — the step that turns near-dup PAIRS into
    dedup GROUPS so one canonical document survives per cluster, even when
    similarity is non-transitive (a~b, b~c, a!~c still collapses to one
    cluster; reference parity: document-level dedup semantics of
    document_extraction_tools' exporter, extended to near-dup groups).

    Algorithm: every vertex starts labeled with itself; each round every
    vertex takes the min of its own label and its neighbors' labels; stop
    when a round changes nothing. Rounds = graph diameter. Each round is ONE
    shuffle keyed on the (8-byte) vertex id, moving |E| label messages —
    never text, never signatures. LSH near-dup components are quasi-cliques
    (diameter 2-3), so this converges in 2-3 rounds at any corpus size; for
    adversarial long-chain graphs use :func:`connected_components_star`
    (large-star/small-star contraction, O(log^2 n) rounds, same per-round
    shuffle shape). If the round budget runs out this function RAISES
    rather than returning silently-unconverged labels.
    The driver holds only the convergence counter; labels stay distributed
    (localCheckpoint per round cuts lineage — on a cluster use
    ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()``).

    Returns ``(id, cluster_id)`` for every vertex (singletons map to
    themselves when ``vertices`` is given; otherwise only endpoints).
    Ids must be NUMERIC (they are cast to long; the exact decimal label-sum
    convergence check depends on it) — key string ids by ``xxhash64`` first
    (webextract.pipeline.curate does).
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    if vertices is None:
        vertices = sym.select(F.col("a").alias(id_col)).distinct()
    labels = vertices.select(F.col(id_col).cast("long").alias("id"),
                             F.col(id_col).cast("long").alias("label"))
    sym = sym.select(F.col("a").cast("long"), F.col("b").cast("long"))
    # r6: pre-partition the (reused-every-round) edge set by the join key
    # BEFORE checkpointing — localCheckpoint preserves partitioning, so no
    # round re-shuffles the edges; only the per-round label groupBy moves
    # data (guide §2.4: operations keyed the same way share one exchange)
    sym = sym.repartition("a").localCheckpoint(eager=True)
    # labels only ever DECREASE, so their exact sum (decimal — no long
    # overflow, no float fuzz) is a strictly decreasing progress measure:
    # an unchanged sum IS the fixpoint. Observed by each round's checkpoint
    # job, so a round is one job (an empty vertex set sums to None twice)
    label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    labels, obs = observed(labels, label_sum)
    labels = labels.localCheckpoint(eager=True)
    prev_sum = obs.get["s"]
    converged = False
    # max_iter bounds label-CHANGING rounds; the +1 grants the no-change
    # verification round, so a graph whose diameter is exactly max_iter
    # converges instead of spuriously raising
    for _ in range(max_iter + 1):
        msgs = (sym.join(labels.withColumnRenamed("id", "a"), "a")
                   .select(F.col("b").alias("id"), "label"))
        labels, obs = observed(
            labels.unionByName(msgs)
            .groupBy("id").agg(F.min("label").alias("label")), label_sum)
        labels = labels.localCheckpoint(eager=True)
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # returning unconverged labels would silently split clusters —
        # fail LOUDLY instead (reference parity: a failing stage surfaces,
        # it never corrupts output; extraction_orchestrator.py:232-242)
        raise RuntimeError(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            f"rounds — the pair graph's diameter exceeds the round budget "
            f"(adversarial chain graph?). Raise max_iter, or use "
            f"connected_components_star (large-star/small-star, O(log^2 n) "
            f"rounds) for long-chain graphs.")
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def connected_components_star(edges: DataFrame, *, src: str = "id_a",
                              dst: str = "id_b",
                              vertices: DataFrame | None = None,
                              id_col: str = "id",
                              max_iter: int = 40) -> DataFrame:
    """Connected components via alternating large-star / small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the long-chain-safe variant of
    :func:`connected_components`.

    Hash-Min needs diameter rounds (fine for quasi-clique LSH components,
    pathological for chains); star contraction converges in O(log^2 n)
    rounds on ANY graph with the same per-round shuffle shape (one groupBy
    keyed on an 8-byte vertex id, messages are (long, long) pairs):

    - large-star: every node connects its LARGER neighbors to its minimum
      neighborhood member (min over N(u) ∪ {u});
    - small-star: every node connects its smaller-or-equal neighbors and
      itself to that minimum.

    The edge set monotonically contracts toward star graphs centered on
    each component's minimum id; a round that changes nothing is the
    fixpoint (checked by exact decimal endpoint-sum + count signature —
    equal signature on the SAME cardinality only happens at the fixpoint
    because endpoint sums strictly decrease while edges churn). Ids must be
    numeric, like :func:`connected_components`.
    """
    # the fixpoint signature, observed by each round's checkpoint job
    sig = (F.count(F.lit(1)).alias("n"),
           F.sum(F.col("hi").cast("decimal(38,0)")).alias("sh"),
           F.sum(F.col("lo").cast("decimal(38,0)")).alias("sl"))
    e, obs = observed(
        edges.select(F.col(src).cast("long").alias("x"),
                     F.col(dst).cast("long").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("hi"),
                F.least("x", "y").alias("lo"))
        .distinct(), *sig)
    e = e.localCheckpoint(eager=True)
    prev = obs.get
    converged = False
    for _ in range(max_iter + 1):  # +1: the no-change verification round
        # r6 plan shape: each star phase keys ALL its operations on one
        # explicit repartition — the min-aggregate, the join back, and the
        # dedup all satisfy their distribution from the same exchange
        # (ReusedExchange), so a round moves data twice (once per phase)
        # instead of ~5 times. HashPartitioning on a PREFIX of the distinct
        # keys still satisfies the dedup's clustering requirement.
        # --- large-star ---------------------------------------------------
        nbr = (e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
            .repartition("u"))
        m = nbr.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        large = (nbr.join(m, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
                 .filter(F.col("hi") != F.col("lo")))
        e1 = large.repartition("hi").distinct()
        # --- small-star (edges already directed hi > lo) ------------------
        mm = e1.groupBy("hi").agg(F.min("lo").alias("m"))
        j = e1.join(mm, "hi")
        small = (j.select(F.col("lo").alias("x"), F.col("m").alias("y"))
                 .union(j.select(F.col("hi").alias("x"),
                                 F.col("m").alias("y")))
                 .filter(F.col("x") != F.col("y"))
                 .select(F.greatest("x", "y").alias("hi"),
                         F.least("x", "y").alias("lo")))
        e, obs = observed(small.repartition("hi").distinct(), *sig)
        e = e.localCheckpoint(eager=True)
        cur = obs.get
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star: no fixpoint after "
            f"max_iter={max_iter} rounds (O(log^2 n) expected — is the "
            f"input astronomically large, or max_iter tiny?)")
    # at the fixpoint every edge points (member -> component minimum)
    labels = e.select(F.col("hi").alias("id"), F.col("lo").alias("label")) \
              .groupBy("id").agg(F.min("label").alias("label"))
    if vertices is not None:
        vs = vertices.select(F.col(id_col).cast("long").alias("id"))
        labels = (vs.join(labels, "id", "left")
                    .select("id", F.coalesce("label", "id").alias("label")))
    else:
        # component minima label themselves
        mins = e.select(F.col("lo").alias("id")).distinct() \
                .join(labels.select("id"), "id", "left_anti") \
                .select("id", F.col("id").alias("label"))
        labels = labels.unionByName(mins)
    return labels.select("id", F.col("label").alias("cluster_id"))


def strip_common_paragraphs(paras: DataFrame, *, id_col: str = "url",
                            start_col: str = "start", para_col: str = "p",
                            max_df: int = 5,
                            hash_fn: str = "xxhash64") -> DataFrame:
    """Paragraph/line-level boilerplate removal — the CCNet-style
    within-corpus LINE dedup that document-level dedup cannot do: cookie
    banners, copyright footers, and nav crumbs survive extraction on some
    layouts and repeat across thousands of documents; any paragraph whose
    document frequency exceeds ``max_df`` is struck from EVERY document,
    then each document's text is rebuilt from its surviving paragraphs in
    span order.

    Input: one row per (document, paragraph) — e.g. the extraction output's
    spans exploded with ``substring(text, start+1, end-start)``. Output:
    ``(id, clean_text, n_kept, n_removed)``; a document whose every
    paragraph was boilerplate still appears (empty text).

    Scale shape: the document-frequency table groups on the paragraph HASH
    (8-byte with xxhash64 — the shuffle carries hashes and ids, never
    paragraph text twice), the join back is hash-keyed, and the rebuild is
    one groupBy(id) with an array_sort — deterministic under any partial
    aggregation order. ``max_df`` plays the same stop-gram role as
    jaccard_pairs' pruning: the df table is tiny (distinct paragraphs with
    df > 1 are rare) so Spark broadcasts it.
    """
    fn, _ = HASH_FNS[hash_fn]
    h = fn(F.col(para_col))
    dfc = (paras.select(h.alias("_h"), F.col(id_col).alias("_i"))
           .groupBy("_h").agg(F.count_distinct("_i").alias("_d")))
    kept = (paras.withColumn("_h", h)
            .join(dfc.filter(F.col("_d") > max_df).select("_h"),
                  "_h", "left_anti"))
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col(start_col).alias("s"),
                             F.col(para_col).alias("p")))),
                lambda x: x["p"]),
            "\n\n").alias("clean_text"),
        F.count("*").alias("n_kept"))
    tot = paras.groupBy(id_col).agg(F.count("*").alias("n_all"))
    nk = F.coalesce("n_kept", F.lit(0))
    return (tot.join(agg, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    nk.cast("long").alias("n_kept"),
                    (F.col("n_all") - nk).cast("long").alias("n_removed")))


def best_copy(df: DataFrame, *, text_col: str = "text",
              id_col: str = "url", quality_col: str | None = None,
              hash_fn: str = "xxhash64") -> DataFrame:
    """Exact dedup: one canonical row per normalized-content group, chosen
    by QUALITY (highest ``quality_col``, smallest id as the tie-break) —
    "keep the best copy" when the same document arrives from multiple
    crawls/sources at different fidelity. Without ``quality_col`` the rank
    is the normalized length, which is equal inside a group, so the
    smallest id is kept (plain min-id canonicalization, q31).

    One shuffle on the content hash: grouping on the 8-byte
    ``hash(norm_text)`` instead of the full string is what makes the
    exchange key bounded at 100 TB. ``hash_fn`` picks "xxhash64" (the
    production path) or "md5_60" (the portable hash DuckDB reproduces —
    q31's oracle checks this exact plan end-to-end). The canonical choice
    is a ``min_by`` over the (-quality, id) struct — an AGGREGATE with
    map-side partial combine, not a per-group sort: each map task forwards
    one candidate per (hash) key.
    ``quality_col`` must be numeric (it is negated for the ordering); the
    id may be ANY orderable type — string urls included (negating the id
    instead would ANSI-crash on strings).
    """
    fn, _ = HASH_FNS[hash_fn]
    q = F.col(quality_col) if quality_col else F.length(_norm_text(text_col))
    keyed = df.select(F.col(id_col).alias("id"), q.alias("q"),
                      fn(_norm_text(text_col)).alias("text_hash"))
    canon = keyed.groupBy("text_hash").agg(
        F.min_by("id", F.struct((-F.col("q")).alias("nq"), F.col("id")))
         .alias("canonical_id"),
        F.count("*").alias("group_size"))
    return (keyed.join(canon, "text_hash")
            .select(F.col("id").alias(id_col), "text_hash", "canonical_id",
                    (F.col("id") == F.col("canonical_id")).cast("int")
                    .alias("is_kept"), "group_size"))


def dup_substring_spans(df: DataFrame, *, k: int = 8, text_col: str = "text",
                        id_col: str = "doc_id",
                        hash_fn: str = "xxhash64") -> DataFrame:
    """Duplicated-substring coverage (the ExactSubstr surrogate, Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"):
    per document, how many of its tokens sit inside a ``k``-token run that
    occurs at least twice anywhere in the corpus.

    The paper builds a corpus suffix array; the distributed surrogate marks
    every position whose k-gram hash repeats (>= 2 occurrences corpus-wide,
    within-doc repeats included), then merges the per-doc [start, start+k)
    intervals with one gaps-and-islands window. Returns one row per
    non-empty doc: (id, n_tokens, covered_tokens, dup_permille) where
    ``dup_permille = covered * 1000 div n_tokens``.

    Scale shape: the only corpus-sized shuffle aggregates 8-byte gram
    hashes (the text never shuffles); repeated grams come back as a
    semi-join of the (hash, position) stream; the interval-merge window
    partitions BY DOC over only the duplicated positions — bounded by doc
    length, usually a small fraction of it. int64 gram-hash collisions
    over-mark ~1 position per 4e9 distinct grams (acceptable for a
    permille-scale curation signal; the paper's suffix array is exact).
    """
    fn, _ = HASH_FNS[hash_fn]
    toks = (
        df.filter(F.length(F.trim(text_col)) > 0)
        .select(F.col(id_col).alias("id"),
                F.split(F.trim(text_col), r"\s+").alias("t"))
        .select("id", F.size("t").alias("n_tokens"), "t")
    )
    # let-binding (see shingles): bind the token array once so the split
    # isn't inlined into every per-gram array access
    gram_str = F.expr(
        f"transform(array(t), tt -> transform(sequence(0, size(tt) - {k}), i -> "
        f"concat_ws('_', {', '.join(f'tt[i+{j}]' for j in range(k))})))[0]")
    grams = (
        toks.filter(F.col("n_tokens") >= k)
        .select("id", F.posexplode(gram_str).alias("start", "g"))
        .select("id", "start", fn(F.col("g")).alias("gh"))
    )
    # r6: repeated-gram positions via a whole-partition window count over
    # gh instead of aggregate + semi-join — the join form evaluated the
    # gram build + hash TWICE (once per consumer; the optimizer pushes a
    # left-semi join below any explicit repartition, so the exchange can't
    # be shared) and broadcast the duplicated-gram set, which grows with
    # corpus duplication. One evaluation, one shuffle keyed on the 8-byte
    # gh (never gram strings), no broadcast.
    pos = (grams
           .withColumn("_c", F.count("*").over(W.partitionBy("gh")))
           .filter(F.col("_c") >= 2).select("id", "start"))

    w_prev = (W.partitionBy("id").orderBy("start")
              .rowsBetween(W.unboundedPreceding, -1))
    w_run = (W.partitionBy("id").orderBy("start")
             .rowsBetween(W.unboundedPreceding, 0))
    islands = (
        pos.withColumn("end", F.col("start") + k)
        .withColumn("prev_max_end", F.max("end").over(w_prev))
        .withColumn("new_island",
                    (F.col("prev_max_end").isNull()
                     | (F.col("start") > F.col("prev_max_end"))).cast("int"))
        .withColumn("island", F.sum("new_island").over(w_run))
        .groupBy("id", "island")
        .agg((F.max("end") - F.min("start")).alias("covered"))
        .groupBy("id")
        .agg(F.sum("covered").alias("covered_tokens"))
    )
    return (
        toks.select("id", "n_tokens")
        .join(islands, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long")
            .alias("covered_tokens"),
            F.expr("coalesce(covered_tokens, 0) * 1000 div n_tokens")
            .cast("long").alias("dup_permille"),
        )
    )
