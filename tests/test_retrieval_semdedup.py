"""Round-4 operators: BM25 retrieval, SemDeDup, duplicated-substring spans.

Semantic assertions beyond the DuckDB oracle (q67/q68/q71): planted
fixtures with hand-derivable answers, brute-force differentials, and the
plan-shape invariants that matter at scale.
"""

from pyspark.sql import functions as F

from webextract.dedup import dup_substring_spans
from webextract.retrieval import bm25_topk, postings
from webextract.sim import semdedup


# ---------------------------------------------------------------- BM25

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_rewards_tf_and_rarity(spark):
    d = _docs(spark, [
        (1, "cat cat cat dog bird fish mouse horse"),   # heavy on 'cat'
        (2, "cat dog bird fish mouse horse zebra lion"),  # one 'cat'
        (3, "dog bird fish mouse horse zebra lion wolf"),  # no 'cat'
        (4, "rare cat dog bird fish mouse horse zebra"),  # 'rare' only here
    ])
    out = bm25_topk(d, {1: ["cat"], 2: ["rare", "dog"]}, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    q1 = sorted(by_q[1], key=lambda r: r.rank)
    # doc 3 has no 'cat': absent; doc 1 (tf=3) outranks single-tf docs
    assert [r.doc_id for r in q1][0] == 1
    assert 3 not in {r.doc_id for r in q1}
    # 'rare' (df=1) dominates 'dog' (df=4): doc 4 wins query 2
    q2 = sorted(by_q[2], key=lambda r: r.rank)
    assert q2[0].doc_id == 4


def test_bm25_length_normalization_prefers_short_doc(spark):
    long_tail = " ".join(f"w{i}" for i in range(60))
    d = _docs(spark, [
        (1, "cat dog"),                 # short doc containing the term
        (2, "cat dog " + long_tail),    # same tf, much longer
    ])
    out = bm25_topk(d, {1: ["cat"]}, k=2).collect()
    top = min(out, key=lambda r: r.rank)
    assert top.doc_id == 1, "equal tf: shorter doc must rank first"


def test_bm25_rank_ties_break_by_doc_id(spark):
    d = _docs(spark, [(i, "same text here") for i in range(1, 6)])
    out = bm25_topk(d, {1: ["same"]}, k=5).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [1, 2, 3, 4, 5]


def test_postings_vocab_filter_precedes_aggregate(spark):
    d = _docs(spark, [(1, "a b a c"), (2, "b b d")])
    rows = {(r.w, r.doc_id): r.tf
            for r in postings(d, vocab=["a", "b"]).collect()}
    assert rows == {("a", 1): 2, ("b", 1): 1, ("b", 2): 2}


def test_bm25_plan_has_no_cartesian_or_global_sort(spark):
    d = _docs(spark, [(i, f"w{i % 7} cat dog") for i in range(40)])
    plan = bm25_topk(d, {1: ["cat"]}, k=3)._jdf.queryExecution() \
        .executedPlan().toString()
    # no partition-replicating cartesian; the only Cross is the broadcast
    # of the 1-row (n_docs, avgdl) stats relation
    assert "CartesianProduct" not in plan
    # qterms + df are broadcast, never shuffled
    assert plan.count("BroadcastHashJoin") >= 2
    # top-k per query: WindowGroupLimit pushes the rank cut into the
    # shuffle instead of sorting the full scored set globally
    assert "WindowGroupLimit" in plan


# ------------------------------------------------------------ SemDeDup

def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semdedup_drops_near_duplicates_keeps_min_id(spark):
    # two tight neighborhoods + one isolate; 2-dim unit-ish vectors
    d = _vecs(spark, [
        (1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.998, -0.01]),
        (10, [0.0, 1.0]), (11, [0.01, 0.999]),
        (20, [-1.0, -1.0]),
    ])
    cents = [[1.0, 0.0], [0.0, 1.0], [-0.7071, -0.7071]]
    out = {r.vec_id: r for r in
           semdedup(d, tau=0.99, centroids=cents).collect()}
    assert out[1].kept == 1 and out[2].kept == 0 and out[3].kept == 0
    assert out[10].kept == 1 and out[11].kept == 0
    assert out[20].kept == 1
    assert out[1].cluster == 0 and out[10].cluster == 1 and out[20].cluster == 2


def test_semdedup_cluster_blocking_blinds_cross_cluster_pairs(spark):
    # identical vectors forced into different clusters by centroid choice
    # are NOT compared — the documented approximation of cluster blocking
    d = _vecs(spark, [(1, [1.0, 0.001]), (2, [1.0, -0.001])])
    cents = [[0.9, 0.1], [0.9, -0.1]]
    out = {r.vec_id: r.kept for r in
           semdedup(d, tau=0.9, centroids=cents).collect()}
    assert out == {1: 1, 2: 1}


def test_semdedup_component_mode_keeps_one_per_duplicate_group(spark):
    """Paper semantics: groups = connected components of the above-tau
    graph; exactly the group min survives. Star graph edges (1,3),(2,3)
    (cos(1,2) < tau) is the case where the two rules DIVERGE: minid keeps
    {1,2}, component collapses the whole group to {1}."""
    d = _vecs(spark, [
        (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7071, 0.7071]),
        (9, [-1.0, -1.0]),  # isolate: kept in both modes
    ])
    cents = [[0.5, 0.5]]  # one cluster — blocking out of the picture
    minid = {r.vec_id: r.kept for r in
             semdedup(d, tau=0.7, centroids=cents).collect()}
    comp = {r.vec_id: r.kept for r in
            semdedup(d, tau=0.7, centroids=cents,
                     mode="component").collect()}
    assert minid == {1: 1, 2: 1, 3: 0, 9: 1}
    assert comp == {1: 1, 2: 0, 3: 0, 9: 1}


def test_semdedup_component_mode_chain_keeps_group_min_only(spark):
    # chain 1-2, 2-3 with cos(1,3) >= tau impossible here: vectors at
    # 0deg, 40deg, 80deg with tau = cos(45deg) — adjacent pairs qualify,
    # the ends do not. Both modes keep only the group min (id 1); the
    # component mode additionally GUARANTEES 3's kept representative is
    # reachable through its group.
    import math
    rows = [(i + 1, [math.cos(math.radians(40 * i)),
                     math.sin(math.radians(40 * i))]) for i in range(3)]
    d = _vecs(spark, rows)
    comp = semdedup(d, tau=math.cos(math.radians(45)),
                    centroids=[[1.0, 0.0]], mode="component").collect()
    assert {r.vec_id: r.kept for r in comp} == {1: 1, 2: 0, 3: 0}


def test_semdedup_component_rejects_non_integral_ids(spark):
    """The CC label arithmetic casts ids to long; a string id would become
    all-NULL join keys and silently dedup NOTHING. component mode must
    refuse loudly; minid mode keeps working on the same orderable ids."""
    import pytest

    d = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0]), ("z", [0.0, 1.0])],
        "vec_id string, embedding array<float>")
    cents = [[1.0, 0.0]]
    minid = {r.vec_id: r.kept for r in
             semdedup(d, tau=0.9, centroids=cents).collect()}
    assert minid == {"a": 1, "b": 0, "z": 1}
    with pytest.raises(TypeError, match="integral"):
        semdedup(d, tau=0.9, centroids=cents, mode="component")


def test_semdedup_component_auto_falls_back_to_star_on_chain(spark):
    """A similarity chain deeper than the Hash-Min budget must fall back to
    star contraction and still keep exactly the group min."""
    import math

    rows = [(i + 1, [math.cos(math.radians(40 * i)),
                     math.sin(math.radians(40 * i))]) for i in range(3)]
    d = _vecs(spark, rows)
    tau, cents = math.cos(math.radians(45)), [[1.0, 0.0]]
    comp = semdedup(d, tau=tau, centroids=cents, mode="component",
                    cc_max_iter=1).collect()
    assert {r.vec_id: r.kept for r in comp} == {1: 1, 2: 0, 3: 0}


def test_semdedup_rejects_unknown_mode(spark):
    d = _vecs(spark, [(1, [1.0, 0.0])])
    try:
        semdedup(d, tau=0.9, centroids=[[1.0, 0.0]], mode="nope")
    except ValueError as e:
        assert "mode" in str(e)
    else:
        raise AssertionError("unknown mode must raise")


def test_semdedup_trains_deterministic_centroids_when_none_given(spark):
    d = _vecs(spark, [(i, [float(i % 5) + 1.0, float((i * 3) % 7) + 1.0])
                      for i in range(30)])
    a = sorted((r.vec_id, r.cluster, r.kept) for r in
               semdedup(d, tau=0.999, n_centroids=3, n_iter=1).collect())
    b = sorted((r.vec_id, r.cluster, r.kept) for r in
               semdedup(d, tau=0.999, n_centroids=3, n_iter=1).collect())
    assert a == b and len(a) == 30


# ------------------------------------------- duplicated-substring spans

def test_dup_substring_spans_marks_planted_overlap(spark):
    shared = " ".join(f"s{i}" for i in range(10))  # 10-token shared run
    rows = [
        (1, shared + " " + " ".join(f"a{i}" for i in range(10))),
        (2, " ".join(f"b{i}" for i in range(5)) + " " + shared),
        (3, " ".join(f"c{i}" for i in range(20))),  # unique text
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dup_substring_spans(d, k=8).collect()}
    # the shared run is 10 tokens: positions 0..2 start duplicated 8-grams
    # in doc 1 -> covered interval [0, 10) = 10 tokens
    assert out[1].covered_tokens == 10 and out[1].n_tokens == 20
    assert out[1].dup_permille == 500
    assert out[2].covered_tokens == 10 and out[2].n_tokens == 15
    assert out[3].covered_tokens == 0 and out[3].dup_permille == 0


def test_dup_substring_spans_merges_overlapping_islands(spark):
    # within-doc repeat: the same 8-gram occurs twice in one doc -> both
    # occurrences marked, intervals merged per island
    run = " ".join(f"r{i}" for i in range(8))
    filler = " ".join(f"f{i}" for i in range(8))
    d = spark.createDataFrame(
        [(1, run + " " + filler + " " + run)], "doc_id long, text string")
    out = dup_substring_spans(d, k=8).collect()[0]
    assert out.n_tokens == 24
    assert out.covered_tokens == 16  # two disjoint 8-token islands


def test_dup_substring_spans_brute_force_differential(spark):
    import hashlib
    import random

    rnd = random.Random(7)
    docs = []
    for i in range(12):
        toks = [f"t{rnd.randrange(6)}" for _ in range(rnd.randrange(5, 30))]
        docs.append((i, " ".join(toks)))
    k = 8

    # python reference
    grams = {}
    for i, text in docs:
        t = text.split()
        for s in range(len(t) - k + 1):
            g = "_".join(t[s:s + k])
            grams.setdefault(g, []).append((i, s))
    expected = {}
    for i, text in docs:
        t = text.split()
        marked = sorted(s for g, occ in grams.items() if len(occ) >= 2
                        for d_, s in occ if d_ == i)
        covered, end = 0, -1
        for s in marked:
            lo, hi = max(s, end), s + k
            if hi > lo:
                covered += hi - lo
            end = max(end, hi)
        expected[i] = (len(t), covered, covered * 1000 // len(t))

    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.covered_tokens, r.dup_permille)
           for r in dup_substring_spans(d, k=k).collect()}
    assert got == expected


def test_semdedup_component_mode_random_matches_union_find(spark):
    """Seeded-random differential for the r5 component mode: kept/dropped
    must equal union-find over the above-tau pair graph computed in pure
    Python with the SAME sequential fold arithmetic (dot and norm are
    left-to-right IEEE sums in both engines, so the cosine compare is
    bit-identical — no epsilon needed). Pins BOTH paper guarantees on
    messy inputs: exactly the component min survives per duplicate group,
    and edges never cross clusters."""
    import math
    import random

    from webextract.sim import semdedup as _sd

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def norm(a):
        s = 0.0
        for x in a:
            s += x * x
        return math.sqrt(s)

    for seed in (21, 22):
        rng = random.Random(seed)
        rows, i = [], 0
        for _ in range(12):
            base = [rng.uniform(-1.0, 1.0) for _ in range(4)]
            for _ in range(rng.randrange(1, 4)):  # jittered clones
                rows.append((i, [x + rng.uniform(-0.1, 0.1) for x in base]))
                i += 1
        d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r["vec_id"]: (r["cluster"], r["kept"]) for r in
               _sd(d, tau=0.98, centroids=cents, mode="component").collect()}

        # first-max argmax over dot == ivf_assign_pandas_exact
        def assign(v):
            best, bi = None, 0
            for ci, c in enumerate(cents):
                dv = dot(v, c)
                if best is None or dv > best:
                    best, bi = dv, ci
            return bi

        vecs = dict(rows)
        clus = {k: assign(v) for k, v in rows}
        parent = {k: k for k in vecs}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        ids = sorted(vecs)
        for a in ids:
            for b in ids:
                if a < b and clus[a] == clus[b]:
                    cos = dot(vecs[a], vecs[b]) / (norm(vecs[a]) * norm(vecs[b]))
                    if cos >= 0.98:
                        ra, rb = find(a), find(b)
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
        comp_min = {}
        for x in ids:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        want = {x: (clus[x], 1 if comp_min[find(x)] == x else 0) for x in ids}
        assert got == want, seed


def test_bm25_random_differential_vs_integer_reference(spark):
    """Seeded-random differential: bm25_topk vs a pure-Python replay of the
    integer surrogate (every op is exact int arithmetic — `div` == Python
    `//` on the nonnegative operands here — so the comparison is ==, no
    tolerance). Pins corpus stats, df, the scaled idf/tf pipeline, set
    semantics for duplicate query terms, and the (score desc, id asc)
    top-k on random worlds."""
    import random

    K1_X10, B_X1000, IDF_SCALE, TF_SCALE = 12, 750, 1_000_000, 10_000
    vocab = [f"w{j}" for j in range(8)]

    for seed in (31, 32):
        rng = random.Random(seed)
        docs = [(i, " ".join(rng.choice(vocab)
                             for _ in range(rng.randrange(1, 13))))
                for i in range(20)]
        queries = {qid: [rng.choice(vocab)
                         for _ in range(rng.randrange(1, 4))]
                   for qid in range(3)}
        d = _docs(spark, docs)
        got = [(r["query_id"], r["rank"], r["doc_id"], r["score"])
               for r in bm25_topk(d, queries, k=5)
               .orderBy("query_id", "rank").collect()]

        toks = {i: t.split() for i, t in docs}
        dl = {i: len(ts) for i, ts in toks.items()}
        n_docs = len(docs)
        avgdl = sum(dl.values()) // n_docs
        tf = {}
        for i, ts in toks.items():
            for w in ts:
                tf[(w, i)] = tf.get((w, i), 0) + 1
        df = {}
        for (w, _i) in tf:
            df[w] = df.get(w, 0) + 1
        want = []
        for qid in sorted(queries):
            scores = {}
            for w in set(queries[qid]):
                for i in toks:
                    t = tf.get((w, i))
                    if not t:
                        continue
                    lf1000 = 250 + (B_X1000 * dl[i]) // avgdl
                    k10000 = K1_X10 * lf1000
                    idf_s = ((n_docs - df[w]) * IDF_SCALE) // (df[w] + 1)
                    tf_s = (t * TF_SCALE * IDF_SCALE) // (t * TF_SCALE + k10000)
                    scores[i] = scores.get(i, 0) + (idf_s * tf_s) // IDF_SCALE
            ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
            want += [(qid, r + 1, i, s) for r, (i, s) in enumerate(ranked)]
        assert got == want, seed
