"""Dedup + similarity-search tests with planted duplicates and clusters."""

import random

import pytest
from pyspark.sql import functions as F

from webextract.dedup import (
    best_copy,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from webextract.sim import (
    _hyperplane,
    ann_topk,
    cosine_topk,
    cosine_vs_query_exact,
    ivf_assign_pandas_exact,
    ivf_topk,
    kmeans_centroids,
    lsh_bucket_pandas,
    pairwise_near,
)

SF_DIR = "/root/testdata/sf0.001"
NAN = float("nan")


# ---------------------------------------------------------------------------
# All-JVM sequential-fold reference forms. Each float op has an identical
# DuckDB form (list_dot_product), so these are what the oracle SQL mirrors;
# the vectorized kernels in webextract.sim are pinned bit-identical to them.
# ---------------------------------------------------------------------------


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.sqrt(_dot(a, a))


def _lit_vec(vec):
    return F.array(*[F.lit(float(x)).cast("double") for x in vec])


def _dot_lit(vec_col: str, vals):
    """Sequential-fold dot product against a literal vector."""
    arr = ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in vals)
    return F.expr(
        f"aggregate(zip_with({vec_col}, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def lsh_bucket_col(vec_col: str, dim: int, n_planes: int = 8, seed: int = 7):
    """Sign-of-projection bit code: bucket = Σ (dot(v, p_i) > 0) << i."""
    code = None
    for p in range(n_planes):
        proj = _dot_lit(vec_col, _hyperplane(p, dim, seed))
        bit = F.when(proj > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, p)
        code = term if code is None else code.bitwiseXOR(term)
    return code


def ivf_assign_expr(centroids, vec_col: str = "embedding"):
    """IVF cell assignment via sequential folds + a first-max CASE chain
    (ties → lowest cell index); the twin of the oracle SQL's
    ``_centroid_case_sql``. NULL folds fall through to cell C-1."""
    d = [_dot_lit(vec_col, c) for c in centroids]
    chain = None
    for i in range(len(d) - 1):
        rest = d[i + 1:]
        best_rest = rest[0] if len(rest) == 1 else F.greatest(*rest)
        cond = d[i] >= best_rest
        chain = F.when(cond, i) if chain is None else chain.when(cond, i)
    if chain is None:  # single centroid
        return F.lit(0).cast("int")
    return chain.otherwise(len(d) - 1).cast("int")


def _ivf_topk_fold_reference(df, query_vec, *, k, nprobe, centroids,
                             vec_col="embedding", id_col="vec_id"):
    """ivf_topk's served path as the all-JVM plan the q26 oracle mirrors."""
    qv = [float(x) for x in query_vec]
    dots = []
    for i, c in enumerate(centroids):
        s = 0.0
        for x, y in zip(c, qv):
            s += float(x) * y
        dots.append((s, i))
    probes = [i for _, i in sorted(dots, key=lambda t: (-t[0], t[1]))[:nprobe]]
    cand = (df.withColumn("cell", ivf_assign_expr(centroids, vec_col))
            .filter(F.col("cell").isin(probes)))
    scored = cand.withColumn("qv", _lit_vec(query_vec)).withColumn(
        "cosine", _dot(vec_col, "qv") / (_norm(vec_col) * _norm("qv")))
    return (scored.select(id_col, "cell", "cosine")
            .orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k))


@pytest.fixture(scope="module")
def docs(spark):
    """Synthetic doc table with planted exact and near duplicates."""
    r = random.Random("dedup-fixture")
    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu "
             "xi omicron pi rho sigma tau upsilon phi chi psi omega").split()
    rows = []
    originals = []
    for i in range(60):
        text = " ".join(r.choice(words) for _ in range(80))
        originals.append(text)
        rows.append((f"doc{i:03d}", text))
    # exact duplicates: docs 100..104 copy docs 0..4
    for i in range(5):
        rows.append((f"dup{i:03d}", originals[i]))
    # near duplicates: docs 200..204 = docs 10..14 with 3 words changed
    for i in range(5):
        toks = originals[10 + i].split()
        for k in (7, 23, 61):
            toks[k] = "REPLACED"
        rows.append((f"near{i:03d}", " ".join(toks)))
    # single-word edits (SimHash-tier near dups): docs 20..24 with 1 change
    for i in range(5):
        toks = originals[20 + i].split()
        toks[7] = "REPLACED"
        rows.append((f"sim{i:03d}", " ".join(toks)))
    return spark.createDataFrame(rows, "url string, text string")


def test_exact_duplicates(docs):
    """best_copy without a quality column is plain exact dedup: each
    planted copy points at its min-id original."""
    out = best_copy(docs).cache()
    dups = {r.url: r.canonical_id for r in out.filter("is_kept = 0").collect()}
    assert set(dups) == {f"dup{i:03d}" for i in range(5)}
    for i in range(5):
        assert dups[f"dup{i:03d}"] == f"doc{i:03d}"
    assert out.filter("is_kept = 1").count() == 70


def test_jaccard_pairs_finds_planted(docs):
    pairs = {(r.id_a, r.id_b) for r in
             jaccard_pairs(docs, tau=0.7, max_df=10_000).collect()}
    for i in range(5):
        assert (f"doc{i:03d}", f"dup{i:03d}") in pairs           # exact copies
    for i in range(5):
        assert (f"doc{10+i:03d}", f"near{i:03d}") in pairs       # near dups
    for i in range(5):
        assert (f"doc{20+i:03d}", f"sim{i:03d}") in pairs        # 1-word edits
    # unrelated random docs must not pair at tau=0.7
    assert len(pairs) == 15


def test_minhash_lsh_recall_and_estimate(docs):
    exact = {(r.id_a, r.id_b): r.jaccard for r in
             jaccard_pairs(docs, tau=0.7, max_df=10_000).collect()}
    got = {(r.id_a, r.id_b): r.est_jaccard for r in
           minhash_lsh_pairs(docs, num_perm=64, bands=16, verify_tau=0.5).collect()}
    for pair, true_j in exact.items():
        assert pair in got, f"LSH missed high-jaccard pair {pair} (j={true_j})"
        assert abs(got[pair] - true_j) < 0.25  # 64-perm estimator tolerance
    # no wild false positives after verification
    for pair, est in got.items():
        assert est >= 0.5


def test_minhash_on_driver_documents(spark):
    """The testdata documents table has planted near-dups (jaccard≈0.99);
    MinHash-LSH must recover every pair that exact Jaccard finds at τ=0.8."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = {(r.id_a, r.id_b) for r in
             jaccard_pairs(d, text_col="text", id_col="doc_id",
                           n=2, tau=0.8, max_df=50).collect()}
    assert exact, "expected planted near-dup pairs in documents"
    got = {(r.id_a, r.id_b) for r in
           minhash_lsh_pairs(d, text_col="text", id_col="doc_id",
                             n=2, num_perm=64, bands=16, verify_tau=0.7).collect()}
    assert exact <= got


def test_simhash_pairs(docs):
    """16 4-bit bands guarantee a shared band up to hamming 15 (pigeonhole);
    1-word edits land well inside a 10-bit budget on these 80-token docs."""
    got = {(r.id_a, r.id_b): r.hamming for r in
           simhash_pairs(docs, n=2, bands=16, max_hamming=10).collect()}
    for i in range(5):  # exact copies: identical fingerprint
        assert got.get((f"doc{i:03d}", f"dup{i:03d}")) == 0
    for i in range(5):  # single-word edits: within the hamming budget
        assert (f"doc{20+i:03d}", f"sim{i:03d}") in got


@pytest.fixture(scope="module")
def clustered_embeddings(spark):
    """5 clusters of 20 vectors each, tight noise — ANN ground truth known."""
    r = random.Random("sim-fixture")
    dim = 32
    centers = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(5)]
    rows = []
    for c, center in enumerate(centers):
        for i in range(20):
            vec = [x + r.gauss(0, 0.05) for x in center]
            rows.append((c * 100 + i, c, vec))
    return spark.createDataFrame(rows, "vec_id int, cluster int, embedding array<double>"), centers


def test_cosine_topk_exact(clustered_embeddings):
    df, centers = clustered_embeddings
    top = cosine_topk(df, centers[2], k=20).collect()
    assert len(top) == 20
    assert all(200 <= r.vec_id < 300 for r in top)  # all from cluster 2
    assert all(r.cosine > 0.9 for r in top)


def test_ann_topk_matches_exact_on_clusters(clustered_embeddings):
    df, centers = clustered_embeddings
    exact = [r.vec_id for r in cosine_topk(df, centers[1], k=10).collect()]
    approx = [r.vec_id for r in ann_topk(df, centers[1], k=10, n_planes=6,
                                         probe_hamming=2).collect()]
    # tight clusters: multi-probe LSH must recover most of the exact set
    assert len(set(exact) & set(approx)) >= 8


def test_ivf_topk_matches_exact_on_clusters(clustered_embeddings):
    df, centers = clustered_embeddings
    exact = [r.vec_id for r in cosine_topk(df, centers[3], k=10).collect()]
    approx = [r.vec_id for r in ivf_topk(df, centers[3], k=10, n_centroids=8,
                                         nprobe=2, n_iter=3).collect()]
    # a k-means cell on tight clusters must contain the whole exact set
    assert len(set(exact) & set(approx)) >= 9
    # probed cells only: every result came from at most nprobe distinct cells
    cells = {r.cell for r in ivf_topk(df, centers[3], k=10, n_centroids=8,
                                      nprobe=2, n_iter=3).collect()}
    assert len(cells) <= 2


def test_kmeans_centroids_deterministic(clustered_embeddings):
    df, _ = clustered_embeddings
    a = kmeans_centroids(df, n_centroids=5, n_iter=2, id_col="vec_id")
    b = kmeans_centroids(df, n_centroids=5, n_iter=2, id_col="vec_id")
    assert a == b  # bit-identical across runs (fixed init + iteration count)
    assert len(a) == 5 and len(a[0]) == 32


def test_pairwise_near_with_blocking(clustered_embeddings):
    df, _ = clustered_embeddings
    pairs = pairwise_near(df, tau=0.95, block_col="cluster")
    rows = pairs.collect()
    assert rows
    # same-cluster pairs only (blocking respected) and symmetric-free
    for r in rows:
        assert r.id_a // 100 == r.id_b // 100
        assert r.id_a < r.id_b


def test_embeddings_table_topk(spark):
    """Smoke the similarity path on the driver's embeddings table."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(x) for x in e.filter("vec_id = 0").first().embedding]
    top = cosine_topk(e, q, k=5).collect()
    assert top[0].vec_id == 0 and abs(top[0].cosine - 1.0) < 1e-9


def test_minhash_candidate_exchange_carries_no_signatures(spark):
    """VERDICT round 1 #6: the band-collision distinct must shuffle bare
    (id_a, id_b) pairs — the 64-long signature arrays are re-joined after,
    never carried through the candidate exchange."""
    from webextract.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(f"u{i}", "alpha beta gamma delta epsilon " * 5) for i in range(8)],
        "url string, text string")
    out = minhash_lsh_pairs(df, n=2, num_perm=64, bands=16, verify_tau=None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the distinct's aggregate keys are exactly the id pair, no sig columns
    key_lines = [ln for ln in plan.splitlines()
                 if "HashAggregate(keys=[id_a" in ln]
    assert key_lines, "expected a distinct aggregate on (id_a, id_b)"
    assert all("sig" not in ln for ln in key_lines), key_lines


def test_simhash_pair_blocking_carries_no_fingerprints(spark):
    from webextract.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(f"u{i}", "alpha beta gamma delta epsilon " * 5) for i in range(8)],
        "url string, text string")
    out = simhash_pairs(df, n=2, bands=4, max_hamming=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    key_lines = [ln for ln in plan.splitlines()
                 if "HashAggregate(keys=[id_a" in ln]
    assert key_lines, "expected a distinct aggregate on (id_a, id_b)"
    assert all(" ha" not in ln and " hb" not in ln for ln in key_lines), key_lines


def test_md5_minhash_mode_finds_planted_pairs(spark):
    """The portable md5_60 universal-hash mode finds the same planted
    near-dups as the xxhash64 production mode on the driver documents."""
    from webextract.dedup import minhash_lsh_pairs

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    kw = dict(text_col="text", id_col="doc_id", n=2, num_perm=64, bands=16,
              verify_tau=0.7)
    xx = {(r.id_a, r.id_b) for r in
          minhash_lsh_pairs(d, hash_fn="xxhash64", **kw).collect()}
    md = {(r.id_a, r.id_b) for r in
          minhash_lsh_pairs(d, hash_fn="md5_60", **kw).collect()}
    # both modes recover the planted 25 near-dup pairs (allow 1-2 est noise)
    assert len(xx & md) >= 23


def test_exact_duplicates_md5_mode_matches_xxhash(docs):
    """The portable (oracle) hash and the production hash induce the same
    duplicate groups — same normalization, different fingerprint."""
    cols = ("url", "canonical_id", "is_kept", "group_size")
    xx = {tuple(getattr(r, c) for c in cols)
          for r in best_copy(docs, hash_fn="xxhash64").collect()}
    md = {tuple(getattr(r, c) for c in cols)
          for r in best_copy(docs, hash_fn="md5_60").collect()}
    assert xx == md


def test_exact_dedup_hashed_plan_exchanges_hash_key(spark):
    """VERDICT round 2 #4: the production exact-dedup plan (q31) must shuffle
    on the 8-byte text_hash — the raw text column never appears as an
    exchange key."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = best_copy(d, text_col="text", id_col="doc_id", hash_fn="md5_60")
    plan = out._jdf.queryExecution().executedPlan().toString()
    ex_lines = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex_lines, "expected at least one hash exchange (groupBy + join)"
    for ln in ex_lines:
        assert "text_hash#" in ln, f"exchange not keyed on text_hash: {ln}"
        assert "text#" not in ln, f"raw text used as a shuffle key: {ln}"


@pytest.mark.parametrize("n", [2, 3])
def test_minhash_twin_hash_paths_equal_candidates(docs, n):
    """VERDICT round 2 #7: the md5_60 (oracle-checked) and xxhash64
    (production) MinHash paths must find the IDENTICAL verified candidate
    set at tau=0.7 on the planted-duplicate fixture — pinning that the
    universal-hash permutation family and the per-seed xxhash family are
    interchangeable estimators, not two subtly different operators."""
    kw = dict(n=n, num_perm=64, bands=16, verify_tau=0.7)
    xx = {(r.id_a, r.id_b) for r in
          minhash_lsh_pairs(docs, hash_fn="xxhash64", **kw).collect()}
    md = {(r.id_a, r.id_b) for r in
          minhash_lsh_pairs(docs, hash_fn="md5_60", **kw).collect()}
    assert xx == md
    planted = {(f"doc{i:03d}", f"dup{i:03d}") for i in range(5)}
    assert planted <= xx


def test_ivf_served_fold_matches_pandas_assign(spark):
    """The all-JVM fold plan (what q26's oracle SQL mirrors) and ivf_topk's
    pandas-UDF kernels agree on ids, cells and unrounded cosines for the
    served snapshot centroids."""
    from webextract.ivf_snapshot import IVF_CENTROIDS_SF001

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(x) for x in e.filter("vec_id = 0").first().embedding]
    kw = dict(k=20, nprobe=3, centroids=IVF_CENTROIDS_SF001)
    fold = [tuple(r) for r in _ivf_topk_fold_reference(e, q, **kw).collect()]
    pnd = [tuple(r) for r in ivf_topk(e, q, **kw).collect()]
    assert fold == pnd
    assert len(fold) == 20
    assert len({c for _, c, _ in fold}) <= 3  # probed cells only


def test_ivf_assign_expr_first_max_tiebreak(spark):
    """Equal-score cells resolve to the LOWEST index (np.argmax semantics)
    in the fold reference and the kernel — the CASE chain's arm order is
    load-bearing for oracle parity."""
    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id int, embedding array<double>")
    cents = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]  # 0 and 1 tie exactly
    got = df.select(ivf_assign_expr(cents).alias("a"),
                    ivf_assign_pandas_exact(cents).alias("b")).first()
    assert (got.a, got.b) == (0, 0)


def test_dedup_against_index(docs, spark):
    """Cross-crawl incremental dedup: fingerprints already in the index are
    dropped; within-batch dups collapse to the min id; fresh content passes."""
    from webextract.dedup import dedup_against_index, fingerprint_index

    # index = the original 60 docs; new batch = 5 exact dups of docs 0..4
    # (must ALL drop), one in-batch duplicated fresh doc, one fresh doc
    prior = docs.filter(F.col("url").rlike("^doc"))
    idx = fingerprint_index(prior)
    new = spark.createDataFrame(
        [(r.url, r.text) for r in docs.filter(F.col("url").rlike("^dup")).collect()]
        + [("newA1", "genuinely fresh content one"),
           ("newA2", "genuinely  fresh content one"),   # ws-normalized dup
           ("newB", "another fresh document entirely")],
        "url string, text string")
    got = {r.url for r in dedup_against_index(new, idx).collect()}
    assert got == {"newA1", "newB"}  # dups vs index dropped; min-id in-batch


def test_dedup_against_index_twin_hash_paths(docs, spark):
    from webextract.dedup import dedup_against_index, fingerprint_index

    prior = docs.filter(F.col("url").rlike("^doc"))
    new = docs.filter(~F.col("url").rlike("^doc"))
    out = {}
    for hf in ("xxhash64", "md5_60"):
        idx = fingerprint_index(prior, hash_fn=hf)
        out[hf] = {r.url for r in
                   dedup_against_index(new, idx, hash_fn=hf).collect()}
    assert out["xxhash64"] == out["md5_60"]


def test_minhash_signatures_have_single_id_exchange(spark):
    """MinHash is duplicate-insensitive (a repeated shingle can't change a
    MIN), so the signature plan must NOT pay the shingle-string distinct:
    exactly one exchange, keyed on the 8-byte doc id, with the min-agg
    map-side combined before it."""
    from webextract.dedup import minhash_signatures

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig = minhash_signatures(d, text_col="text", id_col="doc_id", n=2,
                             hash_fn="md5_60")
    plan = sig._jdf.queryExecution().executedPlan().toString()
    ex = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(ex) == 1, ex
    assert "hashpartitioning(id#" in ex[0], ex[0]
    assert "shingle" not in ex[0], ex[0]


def test_best_copy_keeps_highest_quality(spark):
    d = spark.createDataFrame(
        [(1, "same content here", 10), (2, "same  content\nhere", 30),
         (3, "same content here", 30), (4, "unique", 5)],
        "doc_id long, text string, q long")
    got = {r["doc_id"]: r.asDict()
           for r in best_copy(d, text_col="text", id_col="doc_id",
                              quality_col="q").collect()}
    # docs 1-3 normalize to the same content; 2 and 3 tie on q=30 → min id 2
    assert got[1]["canonical_id"] == 2 and got[1]["is_kept"] == 0
    assert got[2]["is_kept"] == 1 and got[3]["is_kept"] == 0
    assert got[1]["group_size"] == 3
    assert got[4]["is_kept"] == 1 and got[4]["group_size"] == 1


def test_best_copy_string_ids(spark):
    # string ids must work (no numeric negation of the id in the tie-break)
    d = spark.createDataFrame(
        [("http://a/x", "same thing", 5), ("http://a/y", "same thing", 9),
         ("http://a/z", "same thing", 9)],
        "url string, text string, q long")
    got = {r["url"]: r.asDict()
           for r in best_copy(d, text_col="text", id_col="url",
                              quality_col="q").collect()}
    # q=9 tie between /y and /z → lexicographically smallest id wins
    assert got["http://a/x"]["canonical_id"] == "http://a/y"
    assert got["http://a/y"]["is_kept"] == 1
    assert got["http://a/z"]["is_kept"] == 0


def test_cc_hashmin_raises_loudly_on_chain_budget(spark):
    import pytest

    from webextract.dedup import connected_components

    # a 30-node chain has diameter 29: 3 hash-min rounds CANNOT converge —
    # the engine must refuse to return silently-unconverged labels
    edges = spark.createDataFrame([(i, i + 1) for i in range(29)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, max_iter=3)


def test_cc_star_matches_hashmin_and_handles_chains(spark):
    import random

    from webextract.dedup import connected_components, connected_components_star

    # long chain: star converges in O(log^2 n) rounds where hash-min needs 59
    chain = spark.createDataFrame([(i, i + 1) for i in range(59)],
                                  "id_a long, id_b long")
    star = {(r["id"], r["cluster_id"])
            for r in connected_components_star(chain, max_iter=10).collect()}
    assert star == {(i, 0) for i in range(60)}

    # random graphs: star == hash-min (with a generous round budget) exactly
    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(25)]
        edges = [e for e in edges if e[0] != e[1]]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
        a = {(r["id"], r["cluster_id"]) for r in
             connected_components(df, vertices=verts, max_iter=50).collect()}
        b = {(r["id"], r["cluster_id"]) for r in
             connected_components_star(df, vertices=verts,
                                       max_iter=30).collect()}
        assert a == b, (trial, sorted(a - b)[:5], sorted(b - a)[:5])


def test_observed_count_equals_count(spark):
    from webextract.dedup import observed

    # the last two are empty, the last one provably so to the optimizer:
    # the observation must still be filled, or ``obs.get`` would block
    for df in (spark.range(37).filter(F.col("id") % 3 == 0),
               spark.createDataFrame([], "id long"),
               spark.range(10).filter(F.lit(False))):
        got, obs = observed(df)
        got = got.localCheckpoint(eager=True)
        assert obs.get["n"] == df.count() == got.count()


def test_cc_over_empty_vertex_set_converges(spark):
    from webextract.dedup import (connected_components,
                                  connected_components_star, observed)

    empty = spark.createDataFrame([], "id_a long, id_b long")
    verts = spark.createDataFrame([], "id long")
    # the label sum of an empty set is NULL before AND after the round, so
    # the one round max_iter=0 grants must read as the fixpoint
    summed, obs = observed(
        verts, F.sum(F.col("id").cast("decimal(38,0)")).alias("s"))
    summed.localCheckpoint(eager=True)
    assert obs.get["s"] is None
    assert connected_components(empty, vertices=verts, max_iter=0).collect() == []
    assert connected_components_star(empty, vertices=verts,
                                     max_iter=0).collect() == []


def test_minhash_signatures_aggregate_once_over_checkpoint(spark):
    """Over a local checkpoint (curate's stage boundary) the four reads of
    the signature table share ONE signature exchange; over a persist()ed
    frame AQE plans each cache scan as its own query stage and nothing is
    reused, so the 64-hash aggregate runs four times."""
    base = " ".join(f"w{i}" for i in range(40))
    rows = ([(f"u{i}", f"{base} extra{i % 3}") for i in range(12)]
            + [(f"v{i}", f"other doc {i} " * 5) for i in range(6)])
    df = spark.createDataFrame(rows, "url string, text string")
    pairs = minhash_lsh_pairs(df.localCheckpoint(eager=True), n=2)
    assert pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    lines = final.splitlines()
    sig_exchanges = [ln for ln, nxt in zip(lines, lines[1:])
                     if "Exchange hashpartitioning" in ln
                     and "partial_min(" in nxt]
    assert len(sig_exchanges) == 1, final
    assert sum("ReusedExchange" in ln for ln in lines) >= 3, final


def test_strip_common_paragraphs(spark):
    from webextract.dedup import strip_common_paragraphs

    boiler = "Copyright example.com all rights reserved"
    rows = []
    for i in range(8):
        rows.append((f"u{i}", 0, f"unique body paragraph {i} alpha"))
        rows.append((f"u{i}", 40, f"second unique bit {i} beta"))
        rows.append((f"u{i}", 80, boiler))          # df = 8 > max_df
    rows.append(("u9", 0, boiler))                  # doc that is ALL boilerplate
    paras = spark.createDataFrame(rows, "url string, start long, p string")
    out = {r["url"]: r for r in strip_common_paragraphs(
        paras, max_df=5).collect()}
    assert len(out) == 9
    for i in range(8):
        r = out[f"u{i}"]
        assert r["clean_text"] == (f"unique body paragraph {i} alpha\n\n"
                                   f"second unique bit {i} beta")
        assert r["n_kept"] == 2 and r["n_removed"] == 1
    assert out["u9"]["clean_text"] == "" and out["u9"]["n_removed"] == 1
    # order is span order even when input rows arrive shuffled
    sh = spark.createDataFrame(
        [("x", 50, "middle"), ("x", 99, "tail"), ("x", 0, "head")],
        "url string, start long, p string")
    got = strip_common_paragraphs(sh, max_df=5).collect()[0]
    assert got["clean_text"] == "head\n\nmiddle\n\ntail"


def test_cc_converges_when_diameter_equals_max_iter(spark):
    import pytest

    from webextract.dedup import connected_components

    # chain 0-1-2-3-4-5: diameter 5 needs 5 label-changing rounds; max_iter
    # bounds CHANGING rounds, with one extra verification round granted —
    # so max_iter=5 converges and max_iter=4 raises
    edges = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                  "id_a long, id_b long")
    got = {(r["id"], r["cluster_id"])
           for r in connected_components(edges, max_iter=5).collect()}
    assert got == {(i, 0) for i in range(6)}
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, max_iter=4)


# ---------------------------------------------------------------------------
# r6 kernel equivalence: the vectorized pairwise_near / assignment kernels
# must be BIT-identical to the r5 SQL join + sequential-fold plans
# ---------------------------------------------------------------------------


def _pairwise_near_sql_reference(df, *, tau, block_col, id_col="vec_id",
                                 vec_col="embedding"):
    """The r5 implementation (self-join on the block key + interpreted
    aggregate/zip_with fold), kept verbatim as the equivalence reference."""
    v = df.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("blk"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("e"),
    ).withColumn("nrm", _norm("e"))
    a = v.select(F.col("id").alias("id_a"), F.col("blk"),
                 F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = v.select(F.col("id").alias("id_b"), F.col("blk"),
                 F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    cos = _dot("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= tau)
        .distinct()
    )


def test_pairwise_near_kernel_bit_identical_to_sql_join(spark):
    """Random float32 vectors over a few blocks: the numpy kernel's pair set
    AND unrounded cosine doubles must equal the SQL join+fold's exactly."""
    r = random.Random("r6-kernel")
    rows = [(i, i % 5, [r.gauss(0, 1) for _ in range(17)])
            for i in range(120)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")
    for tau in (0.0, 0.2, 0.5):
        new = {(x.id_a, x.id_b, x.cosine)
               for x in pairwise_near(df, tau=tau,
                                      block_col="label").collect()}
        ref = {(x.id_a, x.id_b, x.cosine)
               for x in _pairwise_near_sql_reference(
                   df, tau=tau, block_col="label").collect()}
        assert new == ref and new  # exact doubles, non-empty


def test_pairwise_near_kernel_threshold_boundary_exact(spark):
    """tau set to an EXACT pair cosine: the >= must include the boundary
    pair, proving the kernel recomputes with the same fold (a BLAS-only
    cosine would differ in the last ulp and flip the comparison)."""
    r = random.Random("r6-boundary")
    rows = [(i, 0, [r.gauss(0, 1) for _ in range(33)]) for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")
    some = sorted(
        (x.cosine, x.id_a, x.id_b)
        for x in pairwise_near(df, tau=-2.0, block_col="label").collect())
    tau, ia, ib = some[len(some) // 2]  # a mid-distribution exact cosine
    got = {(x.id_a, x.id_b)
           for x in pairwise_near(df, tau=tau, block_col="label").collect()}
    ref = {(x.id_a, x.id_b)
           for x in _pairwise_near_sql_reference(
               df, tau=tau, block_col="label").collect()}
    assert (ia, ib) in got
    assert got == ref


def test_pairwise_near_kernel_edge_rows_match_sql(spark):
    """NULL vectors, NULL elements, NaN data, empty arrays, ragged lengths,
    NULL block keys, duplicate ids: the kernel must reproduce the SQL join's edge semantics
    (none of these rows ever emits a pair, except that a NaN cosine passes
    ``>= tau``; same-length clean rows still do)."""
    rows = [
        (1, 0, [1.0, 2.0, 3.0]),
        (1, 0, [1.0, 2.0, 3.0]),     # duplicate id: no (1, 1) self-pair
        (2, 0, [1.0, 2.0, 3.0]),     # pairs with 1
        (3, 0, None),                # NULL vector: no pairs
        (4, 0, []),                  # zero norm: NULL cosine, no pairs
        (5, 0, [1.0, 2.0]),          # ragged: NULL fold vs len-3 rows
        (6, 0, [1.0, 2.0]),          # ...but pairs with 5
        (7, None, [1.0, 2.0, 3.0]),  # NULL block never joins
        (8, 1, [0.5, 0.5, 0.5]),     # lone row in its block
        (9, 0, [1.0, None, 3.0]),    # NULL element: NULL fold, no pairs
        (10, 0, [NAN, 1.0, 1.0]),    # NaN data: NaN cosine passes >= tau
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")
    new = {(x.id_a, x.id_b, repr(x.cosine))
           for x in pairwise_near(df, tau=0.9, block_col="label").collect()}
    ref = {(x.id_a, x.id_b, repr(x.cosine))
           for x in _pairwise_near_sql_reference(
               df, tau=0.9, block_col="label").collect()}
    assert new == ref
    assert {(a, b) for a, b, _ in new} == {(1, 2), (5, 6), (1, 10), (2, 10)}


def test_pairwise_near_inferred_dim_skips_null_and_empty_vectors(spark):
    """LSH blocking with ``dim`` inferred: a NULL or empty leading vector
    must not be taken as the dimension, and a frame with no usable vector
    gives the empty pair set."""
    schema = "vec_id long, embedding array<float>"
    v = [1.0, 2.0, 3.0]
    df = spark.createDataFrame([(1, None), (2, []), (3, v), (4, v)], schema)
    got = {(x.id_a, x.id_b) for x in pairwise_near(df, tau=0.9).collect()}
    assert got == {(3, 4)}
    assert got == {(x.id_a, x.id_b)
                   for x in pairwise_near(df, tau=0.9, dim=3).collect()}
    for rows in ([], [(1, None), (2, [])]):
        out = pairwise_near(spark.createDataFrame(rows, schema), tau=0.9)
        assert out.collect() == []
        assert out.columns == ["id_a", "id_b", "cosine"]


def test_ivf_assign_pandas_exact_matches_fold_expr(spark):
    """Vectorized IVF assignment == the CASE-chain fold expression on
    random data, exact ties (first-max), and NULL/ragged/NULL-element
    vectors."""
    r = random.Random("r6-assign")
    cents = [[r.gauss(0, 1) for _ in range(9)] for _ in range(6)]
    # normalize like ivf_snapshot does
    cents = [[x / (sum(y * y for y in c) ** 0.5) for x in c] for c in cents]
    rows = [(i, [r.gauss(0, 1) for _ in range(9)]) for i in range(200)]
    rows += [(900, cents[2][:]),          # exact centroid hit
             (901, None),                 # NULL vector → otherwise(C-1)
             (902, [1.0, 2.0]),           # ragged → otherwise(C-1)
             (903, [0.0] * 9),            # all-zero → all dots 0.0 → cell 0
             (904, [1.0, None, 3.0] + [0.5] * 6),  # NULL element → C-1
             (905, [NAN] * 9)]            # NaN data: NaN >= NaN → cell 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = df.select(
        "vec_id",
        ivf_assign_expr(cents).alias("a"),
        ivf_assign_pandas_exact(cents).alias("b")).collect()
    assert all(x.a == x.b for x in got)
    assert {x.b for x in got if x.vec_id in (901, 902, 904)} == {len(cents) - 1}


def test_lsh_bucket_pandas_matches_sql_fold(spark):
    r = random.Random("r6-lsh")
    dim = 21
    rows = [(i, [r.gauss(0, 1) for _ in range(dim)]) for i in range(300)]
    rows += [(900, [1.0, None, 3.0] + [-1.0] * (dim - 3)),  # NULL element
             (901, [NAN] + [-1.0] * (dim - 1))]  # NaN data: NaN > 0 holds
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = df.select(
        lsh_bucket_col("embedding", dim, 6, 7).alias("a"),
        lsh_bucket_pandas("embedding", dim, 6, 7).alias("b")).collect()
    assert all(x.a == x.b for x in got)


def test_ivf_topk_exact_assign_matches_fold(spark):
    """ivf_topk (vectorized kernels) must return the identical rows — ids,
    cells, and unrounded cosine doubles — as the all-JVM fold plan the
    oracle SQL mirrors."""
    r = random.Random("r6-ivf-exact")
    cents = [[r.gauss(0, 1) for _ in range(8)] for _ in range(5)]
    cents = [[x / (sum(y * y for y in c) ** 0.5) for x in c] for c in cents]
    rows = [(i, [r.gauss(0, 1) for _ in range(8)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[3][1]
    a = _ivf_topk_fold_reference(df, q, k=25, nprobe=2,
                                 centroids=cents).collect()
    b = ivf_topk(df, q, k=25, nprobe=2, centroids=cents).collect()
    assert [tuple(x) for x in a] == [tuple(x) for x in b]


def test_cosine_vs_query_exact_matches_fold_expr(spark):
    r = random.Random("r6-cosq")
    rows = [(i, [r.gauss(0, 1) for _ in range(11)]) for i in range(200)]
    rows += [(900, None), (901, []), (902, [1.0, 2.0]),  # NULL/zero/ragged
             (903, [1.0, None, 3.0] + [0.5] * 8),        # NULL element
             (904, [NAN] + [0.5] * 10)]                   # NaN data → NaN
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]
    ref = (df.withColumn("qv", _lit_vec(q))
           .withColumn("e", F.expr(
               "transform(embedding, x -> CAST(x AS DOUBLE))"))
           .select("vec_id",
                   (_dot("e", "qv") / (_norm("e") * _norm("qv")))
                   .alias("c")))
    got = df.select("vec_id", cosine_vs_query_exact(q).alias("c"))
    a = {(x.vec_id, repr(x.c)) for x in ref.collect()}
    b = {(x.vec_id, repr(x.c)) for x in got.collect()}
    assert a == b
    assert {(i, "None") for i in (900, 901, 902, 903)} | {(904, "nan")} <= b
