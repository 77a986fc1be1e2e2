"""Tests for the round-3 corpus operators: connected-components cluster
assignment, deterministic stratified sampling, repetition signals, and
top-k vocabulary."""

from pyspark.sql import functions as F

from webextract.analysis import repetition_df, top_terms
from webextract.dedup import connected_components
from webextract.sampling import hash_sample, stratified_sample


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------


def _cc(spark, edges, vertices=None):
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    v = (spark.createDataFrame([(x,) for x in vertices], "id long")
         if vertices is not None else None)
    out = connected_components(e, vertices=v, id_col="id")
    return {r["id"]: r["cluster_id"] for r in out.collect()}


def test_cc_chain_collapses_to_min(spark):
    # a–b, b–c, c–d: diameter 3, needs >1 propagation round
    got = _cc(spark, [(2, 3), (3, 4), (4, 5)])
    assert got == {2: 2, 3: 2, 4: 2, 5: 2}


def test_cc_two_components_and_singleton(spark):
    got = _cc(spark, [(10, 11), (20, 21), (21, 22)], vertices=range(10, 31))
    assert got[10] == got[11] == 10
    assert got[20] == got[21] == got[22] == 20
    singles = {v: c for v, c in got.items() if v not in (10, 11, 20, 21, 22)}
    assert all(v == c for v, c in singles.items()) and len(got) == 21


def test_cc_non_transitive_pairs_merge(spark):
    # a~b and b~c without a~c still form one dedup group
    got = _cc(spark, [(1, 2), (2, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------


def _docs(spark, n=400):
    rows = [(i, ["en", "de", "zh"][i % 3]) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_hash_sample_deterministic_and_engine_stable(spark):
    d = _docs(spark)
    a = {r["doc_id"] for r in hash_sample(d, key_col="doc_id",
                                          permille=250).collect()}
    b = {r["doc_id"] for r in hash_sample(d, key_col="doc_id",
                                          permille=250).collect()}
    assert a == b and 0 < len(a) < 400


def test_stratified_rates_and_growth_stability(spark):
    rates = {"en": 100, "zh": 1000}
    small, big = _docs(spark, 200), _docs(spark, 400)
    kept_small = {r["doc_id"] for r in stratified_sample(
        small, key_col="doc_id", strata_col="lang", rates=rates,
        default_permille=500).collect()}
    kept_big = stratified_sample(big, key_col="doc_id", strata_col="lang",
                                 rates=rates, default_permille=500)
    rows = kept_big.collect()
    # per-row gate respected
    for r in rows:
        limit = rates.get(r["lang"], 500)
        assert r["bucket"] < limit
    # zh stratum kept in full
    n_zh = sum(1 for i in range(400) if i % 3 == 2)
    assert sum(1 for r in rows if r["lang"] == "zh") == n_zh
    # membership is stable under corpus growth: the small corpus's sample is
    # exactly the big sample restricted to the small corpus's ids
    big_ids = {r["doc_id"] for r in rows if r["doc_id"] < 200}
    assert kept_small == big_ids


def test_xxhash_production_path(spark):
    d = _docs(spark)
    kept = hash_sample(d, key_col="doc_id", permille=500, hash_fn="xxhash64")
    n = kept.count()
    assert 120 < n < 280  # ~50% of 400, loose binomial bounds


# ---------------------------------------------------------------------------
# repetition signals
# ---------------------------------------------------------------------------


def test_repetition_hand_computed(spark):
    d = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w"), (3, ""), (4, "solo"),
         (5, "spam spam spam spam spam spam spam spam spam spam")],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_df(d).collect()}
    # doc 1: 2-grams [a_a, a_a, a_b] → 1 dup; 3-grams [a_a_a, a_a_b] → 0
    assert got[1]["dup_2gram"] == 1 and got[1]["dup_2gram_frac"] == 0.333333
    assert got[1]["dup_3gram"] == 0 and got[1]["keep_repetition"] == 1
    # doc 2: no repetition at all
    assert got[2]["dup_2gram"] == 0 and got[2]["keep_repetition"] == 1
    # empty + sub-n docs: zero signals, kept
    assert got[3]["n_tokens"] == 0 and got[3]["keep_repetition"] == 1
    assert got[4]["n_tokens"] == 1 and got[4]["dup_2gram_frac"] == 0.0
    # doc 5: 10×"spam" → 9 bigrams all equal (8 dups), 8 trigrams (7 dups)
    assert got[5]["dup_2gram"] == 8 and got[5]["dup_3gram"] == 7
    assert got[5]["keep_repetition"] == 0  # 7/8 > 0.3 → reject


def test_repetition_zero_shuffle_plan(spark):
    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = repetition_df(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# top-k vocabulary
# ---------------------------------------------------------------------------


def test_top_terms_counts_and_tiebreak(spark):
    d = spark.createDataFrame(
        [(1, "b a a", "s1"), (2, "b c", "s1"), (3, "z z", "s2")],
        "doc_id long, text string, source string")
    rows = top_terms(d, group_col="source", k=2).collect()
    got = {(r["source"], r["rnk"]): (r["term"], r["n"]) for r in rows}
    # s1: a=2, b=2 → tie broken by term asc
    assert got[("s1", 1)] == ("a", 2)
    assert got[("s1", 2)] == ("b", 2)
    assert got[("s2", 1)] == ("z", 2)
    assert len(rows) == 3  # s2 has only one term


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def test_pii_redaction_counts_and_scrub(spark):
    from pyspark.sql import functions as F

    from webextract.analysis import pii_redact_columns

    d = spark.createDataFrame(
        [(1, "mail a.b+c@sub.example.org and x@y.io or call 212-555-0101"),
         (2, "no pii here"),
         (3, "half@match@nope 123-45-6789")],
        "doc_id long, text string")
    counts, red = pii_redact_columns("text")
    got = {r["doc_id"]: r.asDict() for r in
           d.select(F.col("doc_id"), *counts, red.alias("text_redacted")).collect()}
    assert got[1]["n_email"] == 2 and got[1]["n_phone"] == 1
    assert got[1]["text_redacted"] == "mail <EMAIL> and <EMAIL> or call <PHONE>"
    assert got[2]["n_email"] == 0 and got[2]["text_redacted"] == "no pii here"
    # 'half@match@nope': 'match@nope' has no dot-TLD tail → no email match;
    # 123-45-6789 is an SSN shape, not the phone rule
    assert got[3]["n_email"] == 0 and got[3]["n_phone"] == 0


def test_per_group_cap_binds_and_deterministic(spark):
    from webextract.sampling import per_group_cap

    rows = [(i, "s1" if i < 40 else "s2") for i in range(50)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    a = per_group_cap(d, group_col="source", key_col="doc_id", cap=10)
    got = a.collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
        assert 1 <= r["rk"] <= 10
    assert len(by_src["s1"]) == 10    # cap binds on the big group
    assert len(by_src["s2"]) == 10
    b = {(r["source"], r["doc_id"])
         for r in per_group_cap(d, group_col="source", key_col="doc_id",
                                cap=10).collect()}
    assert {(r["source"], r["doc_id"]) for r in got} == b  # reproducible


# ---------------------------------------------------------------------------
# KMV distinct-count sketch
# ---------------------------------------------------------------------------


def test_kmv_exact_below_k_and_estimate_above(spark):
    from webextract.analysis import kmv_distinct

    rows = ([(i, "small") for i in range(10)] +          # 10 distinct < k
            [(1000 + (i % 500), "big") for i in range(2000)])  # 500 distinct
    d = spark.createDataFrame(rows, "key long, grp string")
    got = {r["grp"]: r.asDict()
           for r in kmv_distinct(d, group_col="grp", key="key", k=64,
                                 include_exact=True).collect()}
    assert got["small"]["n_exact"] == 10
    assert got["small"]["k_used"] == 10 and got["small"]["est"] == 10.0
    assert got["big"]["n_exact"] == 500 and got["big"]["k_used"] == 64
    # KMV with k=64: relative std err ~ 1/sqrt(k-2) ≈ 13%; assert 3 sigma
    assert 300 < got["big"]["est"] < 750


def test_count_min_overestimates_and_is_exactish_for_heavy_keys(spark):
    from webextract.analysis import count_min_estimates

    rows = [("hot",)] * 500 + [(f"t{i}",) for i in range(200)]
    d = spark.createDataFrame(rows, "term string")
    probes = spark.createDataFrame(
        [("hot",), ("t0",), ("absent",)], "term string")
    got = {r["term"]: r["est"]
           for r in count_min_estimates(d, key_col="term", probes=probes,
                                        d=4, w=256).collect()}
    # CMS never underestimates; with 700 items in 256 cells the heavy key
    # collides with at most a few singletons
    assert 500 <= got["hot"] <= 520
    assert 1 <= got["t0"] <= 30
    assert 0 <= got["absent"] <= 30  # absent key: only collision mass


def test_kmv_sketch_only_plan_has_no_exact_branch(spark):
    from webextract.analysis import kmv_distinct

    d = spark.createDataFrame([(i, "g") for i in range(100)],
                              "key long, grp string")
    out = kmv_distinct(d, group_col="grp", key="key", k=8)
    assert "n_exact" not in out.columns
    # sketch-only: one distinct agg + WindowGroupLimit topk + final agg;
    # no join back to a full distinct count
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_bottomk_quantiles_matches_bruteforce(spark):
    import hashlib

    from webextract.analysis import bottomk_quantiles

    def md5_60(s):
        return int(hashlib.md5(str(s).encode()).hexdigest()[:15], 16)

    rows = [("g1" if i % 3 else "g2", i, float((i * 37) % 1000))
            for i in range(400)]
    df = spark.createDataFrame(rows, "grp string, rid long, v double")
    k, perms = 32, (500, 900, 990)
    got = {r["grp"]: r for r in bottomk_quantiles(
        df, group_col="grp", value_col="v", id_col="rid",
        k=k, permilles=perms).collect()}

    from collections import defaultdict
    by_g = defaultdict(list)
    for g, rid, v in rows:
        by_g[g].append((rid, v))
    for g, members in by_g.items():
        sample = sorted(members, key=lambda m: (md5_60(m[0]), m[0]))[:k]
        vals = sorted((v, rid) for rid, v in sample)
        n = len(vals)
        assert got[g]["n_sample"] == n
        for p in perms:
            want = vals[((n - 1) * p) // 1000][0]
            assert got[g][f"p{p}"] == want, (g, p)
    # mergeability: bottom-k of the union == bottom-k of merged samples
    a = sorted((m for m in by_g["g1"]), key=lambda m: (md5_60(m[0]), m[0]))[:k]
    b = sorted((m for m in by_g["g2"]), key=lambda m: (md5_60(m[0]), m[0]))[:k]
    union_all = sorted(by_g["g1"] + by_g["g2"],
                       key=lambda m: (md5_60(m[0]), m[0]))[:k]
    merged = sorted(a + b, key=lambda m: (md5_60(m[0]), m[0]))[:k]
    assert union_all == merged


def test_pack_sequences_matches_bruteforce(spark):
    import hashlib
    from collections import defaultdict

    from webextract.sampling import pack_sequences

    def md5_60(s):
        return int(hashlib.md5(str(s).encode()).hexdigest()[:15], 16)

    cap, shards = 100, 4
    rows = [(i, [0, 30, 70, 100, 130, 260][i % 6]) for i in range(60)]
    df = spark.createDataFrame(rows, "rid long, toks long")
    got = {r["rid"]: r for r in pack_sequences(
        df, id_col="rid", tokens_col="toks",
        capacity=cap, shards=shards).collect()}

    streams = defaultdict(list)
    for rid, toks in rows:
        streams[md5_60(rid) % shards].append((md5_60(rid), rid, toks))
    for shard, docs in streams.items():
        off = 0
        for _h, rid, toks in sorted(docs):
            r = got[rid]
            first = off // cap
            last = (off + toks - 1) // cap if toks > 0 else first
            n_chunks = (last - first + 1) if toks > 0 else 0
            assert (r["shard"], r["offset"], r["first_chunk"],
                    r["last_chunk"], r["n_chunks"]) == (
                shard, off, first, last, n_chunks), rid
            off += toks
    # a 260-token doc in a 100-token context spans >= 3 chunks
    assert any(r["n_chunks"] >= 3 for r in got.values())


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    from webextract.analysis import bloom_bits, bloom_probe

    rows = [(i, f"member document {i}") for i in range(200)] + \
           [(1000 + i, f"outside document {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "rid long, k string")
    members = df.filter("rid < 1000")
    bits = bloom_bits(members, key="k", m=4096, d=5)
    probed = {r["rid"]: r["maybe_present"] for r in bloom_probe(
        df, bits, id_col="rid", key="k", m=4096, d=5).collect()}
    # NEVER a false negative
    assert all(probed[i] == 1 for i in range(200))
    # false positives bounded: 200*5 set bits of 4096 → fp ~ (0.22)^5 ≈ 5e-4
    fps = sum(probed[1000 + i] for i in range(200))
    assert fps <= 5, fps


def test_passage_chunks_boundaries(spark):
    from webextract.sampling import passage_chunks

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "short one"), (3, "   ")],
        "doc_id long, text string")
    rows = sorted(
        ((r.doc_id, r.passage, r.start_tok, r.end_tok, r.p_tokens,
          r.passage_text)
         for r in passage_chunks(df, window=4, stride=3).collect()))
    # doc 1 (10 tokens, w=4, s=3): starts 0,3,6,9 -> lengths 4,4,4,1
    doc1 = [r for r in rows if r[0] == 1]
    assert [(r[2], r[4]) for r in doc1] == [(0, 4), (3, 4), (6, 4), (9, 1)]
    assert doc1[0][5] == "t0 t1 t2 t3" and doc1[-1][5] == "t9"
    # overlap: passage 1 starts inside passage 0
    assert doc1[1][2] < doc1[0][3]
    # doc 2 (2 tokens): one partial window
    assert [r[1:5] for r in rows if r[0] == 2] == [(0, 0, 2, 2)]
    # blank doc emits nothing
    assert not [r for r in rows if r[0] == 3]


def test_no_split_inlining_into_lambdas(spark):
    """Guard against the CollapseProject + HOF-lambda blowup: the optimized
    plan of each gram-building operator must evaluate split() a bounded
    number of times — an inlined plan shows one split per array access
    inside the lambda body (q58's 21x gates regression)."""
    from webextract.analysis import repetition_df, winnow_fingerprints
    from webextract.dedup import dup_substring_spans, shingles

    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string")
    for name, d, cap in [
        ("shingles", shingles(df, "text", "doc_id", 3), 3),
        ("winnow", winnow_fingerprints(df, k=3, window=4), 3),
        ("repetition", repetition_df(df), 3),
        # substr references its token relation from two subtrees (grams +
        # the final join-back), each evaluating split once per row — the
        # INLINED form would show one split per tt[i+j] access (~10+)
        ("substr", dup_substring_spans(df, k=8), 6),
    ]:
        plan = d._jdf.queryExecution().optimizedPlan().toString()
        n = plan.count("split(")
        assert n <= cap, (
            f"{name}: {n} split() occurrences in the optimized plan — "
            f"the token array is being inlined into lambda bodies again")
