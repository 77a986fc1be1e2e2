"""Distributed BPE training (webextract.bpe): merge semantics vs the
classic greedy array merge, determinism, and end-to-end merge learning;
bpe_apply differential-tested against the nested-replace reference."""

import random

from pyspark.sql import functions as F

from webextract.bpe import SEP, _doc_rep, bpe_apply, bpe_train, merge_expr


def _bpe_apply_nested(docs, merges, *, text_col="text", id_col="doc_id"):
    """Reference encoder: every merge in training order as merge_expr's
    anchored double replace over the whole-document symbol string
    (bpe._doc_rep) — 2 x len(merges) nested ``replace`` calls in one
    projection, the form q78's oracle replays in DuckDB. It cannot build
    past ~1k merges; bpe.bpe_apply must match it byte for byte."""
    rep_sql = "rep"
    for pair in merges:
        rep_sql = merge_expr(pair, rep_sql)
    return (
        docs.filter(F.length(F.trim(text_col)) > 0)
        .select(F.col(id_col), _doc_rep(text_col).alias("rep"),
                F.size(F.split(F.trim(text_col), r"\s+")).alias("n_words"))
        .select(id_col, F.col("n_words").cast("long").alias("n_words"),
                (F.size(F.split(F.expr(rep_sql), SEP)) - 2)
                .cast("long").alias("n_tokens"))
    )


def _greedy(syms, a, b):
    """The classic BPE within-word merge: left-to-right, non-overlapping."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _anchored_pass(syms, a, b):
    """One anchored string-replace pass: a match whose leading anchor the
    previous match consumed is skipped (bpe.py module docstring)."""
    out, i, just_merged = [], 0, False
    while i < len(syms):
        if (i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b
                and not just_merged):
            out.append(a + b)
            i += 2
            just_merged = True
        else:
            out.append(syms[i])
            i += 1
            just_merged = False
    return out


def _merge_ref(syms, a, b):
    """Pure-python mirror of the engine's double-pass anchored replace —
    equal to _greedy for every left != right pair; for self-pairs in odd
    runs >= 5 the pairing positions differ (documented variant)."""
    return _anchored_pass(_anchored_pass(syms, a, b), a, b)


def _ref_train(words: dict[str, int], n: int):
    reps = {w: list(w) + ["</w>"] for w in words}
    merges = []
    for step in range(n):
        pc: dict[tuple, int] = {}
        for w, c in words.items():
            s = reps[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + c
        if not pc:
            break
        (a, b), c = min(pc.items(),
                        key=lambda kv: (-kv[1], kv[0][0] + SEP + kv[0][1]))
        merges.append((step, a, b, a + b, c))
        for w in reps:
            reps[w] = _merge_ref(reps[w], a, b)
    return merges


def test_double_pass_replace_matches_reference(spark):
    """The anchored double replace == the _merge_ref mirror on every case,
    and == the CLASSIC greedy merge for all left != right pairs (the
    self-pair odd-run >= 5 divergence is pinned separately)."""
    cases = [
        (["a", "b", "a", "b"], "a", "b"),
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a", "a"], "a", "a"),      # odd self-run >= 5
        (["a", "a", "a", "a", "a", "a", "a"], "a", "a"),
        (["x", "a", "b", "y"], "a", "b"),
        (["xa", "b", "a", "bx"], "a", "b"),   # fake boundaries
        (["ab", "b", "ab", "b"], "ab", "b"),
        (["a", "b", "b", "a", "b"], "a", "b"),
        (["a"], "a", "b"),
        (["it's", "a\\b", "it's", "a\\b"], "it's", "a\\b"),  # literal escapes
    ]
    rows = [(i, SEP + SEP.join(s) + SEP) for i, (s, _, _) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i int, rep string")
    for idx, (syms, a, b) in enumerate(cases):
        got = (df.filter(F.col("i") == idx)
               .select(F.expr(merge_expr(a + SEP + b)).alias("rep"))
               .first().rep)
        want = SEP + SEP.join(_merge_ref(syms, a, b)) + SEP
        assert got == want, (syms, a, b, got, want)
        if a != b:
            assert _merge_ref(syms, a, b) == _greedy(syms, a, b)


def test_self_pair_odd_run_divergence_is_pinned(spark):
    """Documented variant semantics: merging (a,a) over an odd run of 5
    pairs positions (1,2) and (4,5) — classic greedy pairs (1,2),(3,4).
    Same merge COUNT, different remainder position (bpe.py docstring)."""
    df = spark.createDataFrame(
        [(1, SEP + SEP.join(["a"] * 5) + SEP)], "i int, rep string")
    got = df.select(F.expr(merge_expr("a" + SEP + "a")).alias("r")).first().r
    assert got == SEP + SEP.join(["aa", "a", "aa"]) + SEP
    assert _greedy(["a"] * 5, "a", "a") == ["aa", "aa", "a"]  # != ours
    assert _merge_ref(["a"] * 5, "a", "a") == ["aa", "a", "aa"]


def test_double_pass_replace_random_differential(spark):
    rnd = random.Random(11)
    rows, expect = [], []
    for i in range(60):
        syms = [rnd.choice(["a", "b", "ab", "c"]) for _ in
                range(rnd.randrange(1, 12))]
        rows.append((i, SEP + SEP.join(syms) + SEP))
        expect.append(SEP + SEP.join(_greedy(syms, "a", "b")) + SEP)
    df = spark.createDataFrame(rows, "i int, rep string")
    got = {r.i: r.rep for r in
           df.select("i", F.expr(merge_expr("a" + SEP + "b"))
             .alias("rep")).collect()}
    for i, want in enumerate(expect):
        assert got[i] == want


def test_bpe_train_matches_python_reference(spark):
    rnd = random.Random(3)
    alphabet = "abcde"
    docs = []
    for i in range(30):
        words = ["".join(rnd.choice(alphabet)
                         for _ in range(rnd.randrange(1, 6)))
                 for _ in range(rnd.randrange(3, 12))]
        docs.append((i, " ".join(words)))
    wc: dict[str, int] = {}
    for _, t in docs:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    want = _ref_train(wc, 5)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [(r.step, r.left, r.right, r.merged, r.pair_count)
           for r in bpe_train(df, n_merges=5)
           .orderBy("step").collect()]
    assert got == want


def test_bpe_train_is_deterministic(spark):
    df = spark.createDataFrame(
        [(i, "low lower lowest new newer newest") for i in range(5)],
        "doc_id long, text string")
    a = [tuple(r) for r in bpe_train(df, n_merges=4).orderBy("step").collect()]
    b = [tuple(r) for r in bpe_train(df, n_merges=4).orderBy("step").collect()]
    assert a == b and len(a) == 4
    # the classic example learns 'lowe'-family merges from shared stems
    assert all(r[4] > 0 for r in a)


def test_bpe_train_stops_when_fully_merged(spark):
    df = spark.createDataFrame([(1, "ab ab ab")], "doc_id long, text string")
    out = bpe_train(df, n_merges=50).collect()
    # 'a b </w>' has 2 pairs -> 2 merges collapse the word to one symbol
    assert len(out) == 2


def test_bpe_apply_matches_reference_tokenization(spark):
    docs = [(1, "low lower low"), (2, "newest new"), (3, "ab abab")]
    wc: dict[str, int] = {}
    for _, t in docs:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    merges = _ref_train(wc, 4)
    pairs = [a + SEP + b for _, a, b, _, _ in merges]

    # python reference: apply the merges per word, count symbols + </w>
    def ref_count(text):
        n = 0
        for w in text.split():
            s = list(w) + ["</w>"]
            for _, a, b, _, _ in merges:
                s = _merge_ref(s, a, b)
            n += len(s)
        return n

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.n_tokens)
           for r in bpe_apply(df, pairs).collect()}
    for i, t in docs:
        assert got[i] == (len(t.split()), ref_count(t)), (i, t, got[i])
    nested = {r.doc_id: (r.n_words, r.n_tokens)
              for r in _bpe_apply_nested(df, pairs).collect()}
    assert got == nested


def test_bpe_apply_zero_merges_counts_chars_plus_markers(spark):
    df = spark.createDataFrame([(1, "ab c")], "doc_id long, text string")
    r = bpe_apply(df, []).first()
    assert (r.n_words, r.n_tokens) == (2, 2 + 1 + 1 + 1)  # a,b,</w>,c,</w>


def test_bpe_apply_batch_matches_nested_replace(spark):
    """bpe_apply is byte-identical to the nested-replace reference on a
    corpus that hits every documented edge: multi-space/tab runs (Java-\\s split
    parity), self-pair odd runs (two-pass pairing), backslashes/quotes
    (literal escaping), repeated words (the memo cache), and words where
    later merges create new adjacencies (the rank floor)."""
    docs = [
        (1, "low lower low lowest"),
        (2, "aaaaa aaaa aaa haha hahaha"),
        (3, "a\tb  c\nd"),                 # tab/newline/double-space
        (4, "it's a\\b it's a\\b"),        # escaping hazards
        (5, "ababab abab ab"),
        (6, "newest new newer"),
        (7, "zzz"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = [r.left + SEP + r.right
              for r in bpe_train(df, n_merges=12).orderBy("step").collect()]
    a = {r.doc_id: (r.n_words, r.n_tokens)
         for r in _bpe_apply_nested(df, merges).collect()}
    b = {r.doc_id: (r.n_words, r.n_tokens)
         for r in bpe_apply(df, merges).collect()}
    assert a == b and len(a) == len(docs)


def test_bpe_apply_batch_random_differential(spark):
    rnd = random.Random(29)
    docs = []
    for i in range(40):
        words = ["".join(rnd.choice("aabbc") for _ in
                         range(rnd.randrange(1, 9)))
                 for _ in range(rnd.randrange(1, 10))]
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = [r.left + SEP + r.right
              for r in bpe_train(df, n_merges=10).orderBy("step").collect()]
    a = sorted(tuple(r) for r in _bpe_apply_nested(df, merges).collect())
    b = sorted(tuple(r) for r in bpe_apply(df, merges).collect())
    assert a == b


def test_bpe_apply_batch_holds_at_production_merge_count(spark):
    """The scale claim: 30k merges through bpe_apply. Absent pairs cost
    O(1) (rank-dict miss), so padding the trained list with 30k
    never-occurring merges must not change output — and the nested-replace
    reference could not even BUILD a 60k-deep replace expression."""
    df = spark.createDataFrame(
        [(1, "low lower lowest low"), (2, "newest new")],
        "doc_id long, text string")
    real = [r.left + SEP + r.right
            for r in bpe_train(df, n_merges=6).orderBy("step").collect()]
    # symbols like 'pad17x' are never formed from single chars without a
    # chain of merges creating them, so these pairs never match
    padded = real + [f"pad{i}x{SEP}pad{i}y" for i in range(30_000)]
    want = sorted(tuple(r) for r in _bpe_apply_nested(df, real).collect())
    got = sorted(tuple(r) for r in bpe_apply(df, padded).collect())
    assert got == want


def test_bpe_train_batched_semantics_pinned(spark):
    """batch_k>1 is the documented frequency-snapshot variant: within a
    batch all pairs come from one snapshot and are symbol-disjoint. Pin
    determinism + the disjointness invariant + that the classic example
    still learns the 'low/new' stem merges."""
    df = spark.createDataFrame(
        [(i, "low lower lowest new newer newest") for i in range(5)],
        "doc_id long, text string")
    a = [tuple(r) for r in bpe_train(df, n_merges=8, batch_k=4)
         .orderBy("step").collect()]
    b = [tuple(r) for r in bpe_train(df, n_merges=8, batch_k=4)
         .orderBy("step").collect()]
    assert a == b and len(a) == 8
    assert all(r[4] > 0 for r in a)


def test_bpe_apply_batch_plan_is_single_arrow_stage(spark):
    """Plan guard for bpe_apply (q78): parquet-free here, but the shape
    must be scan -> projection -> ONE MapInPandas with ZERO exchanges (the
    whole point of the batch encoder is per-partition tokenization with a
    broadcast merge list), and the merge list itself must ride the
    broadcast — never appear inlined in the plan."""
    df = spark.createDataFrame(
        [(i, "low lower lowest") for i in range(10)],
        "doc_id long, text string")
    merges = ["l" + SEP + "o", "lo" + SEP + "w"]
    out = bpe_apply(df, merges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan
    assert "lo" + SEP not in plan, "merge list inlined into the plan"
