"""Distributed BPE tokenizer training (Sennrich et al. 2016) as a
DataFrame loop — the tokenizer-building step of a pretraining pipeline,
run where the corpus lives instead of sampling it down to one machine.

Algorithm (exactly the classic one):

1. ONE corpus-sized aggregate builds the word-frequency table — after
   this, everything operates on the |vocab| relation (bounded: ~1e7
   distinct words at web scale), never the corpus. This is also how
   single-machine BPE trainers work (a word-count dict); the distributed
   win is that step 1 and the per-iteration pair counts parallelize.
2. Each word is a SEP-delimited symbol string with SEP on BOTH ends:
   ``|l|o|w|</w>|`` — the anchors make substring search equal whole-symbol
   search.
3. ``n_merges`` times: count adjacent symbol pairs weighted by word
   frequency (one |vocab|-sized aggregate), pick the most frequent pair
   (tie-break: lexicographically smallest — a total order, so the merge
   sequence is a pure function of the corpus on any engine or cluster
   layout), and merge it in every word.

The merge primitive and its exact semantics
-------------------------------------------
``replace(rep, '|a|b|', '|ab|')`` substitutes non-overlapping occurrences
left-to-right on BOTH engines (verified: Spark and DuckDB agree on
``'a|a|a|' -> 'aa|a|'``). The both-sided anchors guarantee whole-symbol
matches (``|a|bx|`` never matches ``|a|b|``), but one pass misses an
occurrence whose leading anchor the previous match consumed
(``|a|b|a|b|`` -> ``|ab|a|b|``); a second identical pass merges those
survivors (``-> |ab|ab|``), and a merged symbol can never create a fresh
``(a, b)`` adjacency (its neighbors see ``ab``, not ``b``).

For every pair with ``left != right`` the two passes reproduce the
classic greedy array merge exactly (consecutive occurrences are disjoint,
so greedy takes them all and so do the passes). For SELF-pairs
(``left == right``) in an abutting run of odd length >= 5 the PAIRING
POSITIONS differ from classic greedy: ``a a a a a`` + merge(a,a) yields
``aa a aa`` here (pass 1 pairs (1,2) and (4,5)) where classic greedy
yields ``aa aa a`` — the same number of merges, a different remainder
position, which can steer later merge choices on corpora with long
single-symbol runs ("aaaaa", "hahahaha"). This variant is DETERMINISTIC,
engine-exact, and pinned by tests against a pure-python mirror of the
two-pass semantics (`tests/test_bpe.py::_merge_ref`, with the divergence
case asserted explicitly); the q77 oracle replays it bit-for-bit in
DuckDB.

Driver state per iteration: ONE (pair, count) row. The vocab table is
re-persisted each iteration (previous cache released), so an iteration
costs one |vocab| scan — independent of corpus size.

SEP is U+001F (unit separator): it cannot appear in whitespace-split
tokens of a corpus that survives extraction (control characters are
stripped upstream); a corpus that could contain it must remap first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SEP = "\x1f"
END_WORD = "</w>"


def word_counts(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(word, cnt) — the ONLY corpus-sized step of BPE training."""
    return (
        docs.filter(F.length(F.trim(text_col)) > 0)
        .select(F.explode(F.split(F.trim(text_col), r"\s+")).alias("word"))
        .groupBy("word").agg(F.count("*").alias("cnt"))
    )


def _initial_rep():
    """word → '|c|h|a|r|</w>|' (SEP-anchored symbol string)."""
    return F.concat(
        F.lit(SEP),
        F.array_join(F.split(F.col("word"), ""), SEP),
        F.lit(SEP + END_WORD + SEP))


def _symbols():
    """rep → its symbol array (the split's leading/trailing empties from
    the anchors stripped)."""
    return F.expr(
        f"slice(split(rep, '{SEP}'), 2, size(split(rep, '{SEP}')) - 2)")


def _pair_counts(reps: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the vocab relation, weighted by word
    frequency. ``pair`` is 'a<SEP>b' (the anchored search string minus its
    outer anchors)."""
    # let-bound pair building (analysis.gram_array with SEP as the joiner):
    # binds the symbol array once so the rep string isn't re-split per pair
    # element after CollapseProject
    from .analysis import gram_array

    return (
        reps.select("cnt", _symbols().alias("s"))
        .filter(F.size("s") >= 2)
        .select("cnt",
                F.explode(gram_array(F.col("s"), 2, sep=SEP)).alias("pair"))
        .groupBy("pair").agg(F.sum("cnt").alias("c"))
    )


def _sql_str(s: str) -> str:
    """Spark SQL expression for a literal that may contain SEP (rendered
    as a char(31) call so generated SQL stays printable). Backslashes must
    be escaped FIRST: Spark string literals treat ``\\`` as an escape
    char, so a learned symbol containing one (Windows paths, LaTeX,
    escaped JSON — ordinary web text) would otherwise generate an
    unparseable or silently corrupted literal mid-training."""
    def lit(p: str) -> str:
        return "'" + p.replace("\\", "\\\\").replace("'", "\\'") + "'"
    parts = [lit(p) for p in s.split(SEP)]
    return ("concat(" + ", char(31), ".join(parts) + ")"
            if len(parts) > 1 else parts[0])


def merge_expr(pair: str, rep_col: str = "rep") -> str:
    """The double-pass anchored replace as a SQL string (Spark side).
    The q77 oracle re-generates the same double replace in DuckDB from its
    best_i rows — any change to the pass count or anchoring here must land
    there in lockstep (the parity contract, like dedup.MD5_60_SQL's)."""
    left, right = pair.split(SEP)
    search = _sql_str(SEP + left + SEP + right + SEP)
    repl = _sql_str(SEP + left + right + SEP)
    one = f"replace({rep_col}, {search}, {repl})"
    return f"replace({one}, {search}, {repl})"


def bpe_train(docs: DataFrame, *, n_merges: int, batch_k: int = 1,
              text_col: str = "text") -> DataFrame:
    """Train ``n_merges`` BPE merges over the corpus; returns the ordered
    merge table (step, left, right, merged, pair_count) — the tokenizer
    artifact a dataloader consumes.

    Each |vocab| scan selects up to ``batch_k`` symbol-DISJOINT pairs from
    one frequency snapshot (descending count, lexicographic tie-break) and
    applies them all before the next scan — cutting driver round-trips from
    ``n_merges`` to ~``n_merges / batch_k``, the standard distributed-BPE
    batching. ``batch_k=1`` is classic greedy BPE: the top pair of an
    empty batch is always disjoint.

    SEMANTICS for ``batch_k > 1`` (deterministic variant, pinned by tests):
    disjointness makes the batched applications commute and keeps every
    selected pair's own count exact (merging (a,b) only perturbs counts of
    pairs containing a or b), so each batch equals sequentially applying
    its members in snapshot order. The sequence can diverge from classic
    only when a merge's NEWLY CREATED pair (x, ab) outranks a later batch
    member — classic greedy would take (x, ab) next, the batch has already
    committed; the documented throughput/fidelity trade every distributed
    trainer makes. step = global merge index in applied order; pair_count
    = the snapshot count.
    """
    spark = docs.sparkSession
    reps = (word_counts(docs, text_col=text_col)
            .select("cnt", _initial_rep().alias("rep"))
            .persist())
    reps.count()
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        while len(merges) < n_merges:
            want = min(batch_k, n_merges - len(merges))
            # over-fetch: disjointness filtering drops some of the top rows
            top = (_pair_counts(reps)
                   .orderBy(F.col("c").desc(), F.col("pair"))
                   .limit(want * 4 + 8).collect())
            if not top:
                break
            used: set[str] = set()
            picked: list[tuple[str, int]] = []
            for row in top:
                left, right = row["pair"].split(SEP)
                fused = left + right
                # a batch member must not share a symbol with any earlier
                # member (count independence) NOR with its fused output
                # (a later member matching the new symbol would see stale
                # counts)
                if used & {left, right, fused}:
                    continue
                picked.append((row["pair"], int(row["c"])))
                used |= {left, right, fused}
                if len(picked) == want:
                    break
            rep_sql = "rep"
            for pair, c in picked:
                left, right = pair.split(SEP)
                merges.append((len(merges), left, right, left + right, c))
                rep_sql = merge_expr(pair, rep_sql)
            # localCheckpoint (eager) materializes AND truncates lineage:
            # with plain persist the logical plan still nests one replace
            # layer per round, and by a few hundred merges the driver dies
            # in plan-tree stringification (measured: JVM heap OOM in
            # generateTreeString at ~1k merges). Blocks are |vocab|-sized;
            # superseded ones are freed by the ContextCleaner.
            nxt = (reps.select("cnt", F.expr(rep_sql).alias("rep"))
                   .localCheckpoint(eager=True))
            reps.unpersist()
            reps = nxt
    finally:
        reps.unpersist()
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, "
                "pair_count long")


def _doc_rep(text_col: str):
    """Whole-document anchored symbol string: each word's chars + END_WORD,
    all SEP-delimited: '|a|b|</w>|c|</w>|'.

    Applying word-level merges to the doc-level string is safe: a learned
    pair's LEFT component can never end with END_WORD (word-final symbols
    have no right neighbor during training, so no such pair is ever
    learned), hence no learned merge can match across a word boundary.
    """
    piece = F.expr(
        f"transform(split(trim({text_col}), '\\\\s+'), "
        f"w -> concat(array_join(split(w, ''), '{SEP}'), "
        f"'{SEP}', '{END_WORD}'))")
    return F.concat(F.lit(SEP), F.array_join(piece, SEP), F.lit(SEP))


def bpe_apply(docs: DataFrame, merges: list[str], *,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Tokenize with a trained merge list (ordered pair strings 'a<SEP>b',
    e.g. from :func:`bpe_train`'s left/right columns) and count symbols.
    Returns (id, n_words, n_tokens) where n_tokens counts post-merge BPE
    symbols (END_WORD markers included, matching what a dataloader feeds).

    One mapInPandas stage, no shuffle: the merge list ships once per
    executor (broadcast), each UNIQUE word is tokenized with the standard
    min-rank merge loop (HuggingFace-style encode) and memoized per task.
    Cost per word is O(applied_merges x len), independent of merge-list
    length, so production vocab sizes (30k-100k merges) hold; the Zipfian
    word cache makes the common case a dict hit. (Applying the merges as
    2 x n_merges nested ``replace`` calls in one projection — the form the
    q78 oracle replays in DuckDB — cannot even build past ~1k merges.)

    BYTE-IDENTICAL to applying every merge in training order as
    :func:`merge_expr`'s anchored double replace over :func:`_doc_rep`
    (differential-tested against that nested-replace form in
    tests/test_bpe.py, and q78's oracle replays it): the per-word min-rank
    loop with a monotone rank floor replays the in-order sequence exactly —

    - merges never match across word boundaries (:func:`_doc_rep`), so
      per-word application == whole-document application;
    - each applied merge uses the same TWO-PASS left-to-right
      non-overlapping array merge as ``merge_expr`` (self-pair runs pair
      up identically);
    - picking the minimum present rank >= floor equals trying every merge
      in order: a merge can only create pairs containing its own fused
      symbol, so a pair below the current minimum can never (re)appear
      (the floor guards the string-collision corner where two distinct
      merges fuse to equal strings).

    Rows whose trimmed text is empty are dropped.
    """
    from pyspark.sql import types as T

    parts = []
    for pair in merges:
        left, right = pair.split(SEP)
        parts.append((left, right))
    spark = docs.sparkSession
    b_parts = spark.sparkContext.broadcast(parts)
    id_type = docs.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("n_words", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
    ])
    src = (docs.filter(F.length(F.trim(text_col)) > 0)
           .select(F.col(id_col), F.col(text_col).alias("_bpe_text")))

    def _tokenize(batches):
        import re

        import pandas as pd

        merge_list = b_parts.value
        rank = {p: i for i, p in enumerate(merge_list)}
        # Java \s (Spark's split regex) is exactly this class — Python \s
        # would also split on unicode spaces and silently diverge
        ws = re.compile("[ \t\n\x0b\f\r]+")
        cache: dict[str, int] = {}

        def word_n_tokens(word: str) -> int:
            hit = cache.get(word)
            if hit is not None:
                return hit
            # split('', w) yields [''] for the empty word on the SQL side
            syms = (list(word) if word else [""]) + [END_WORD]
            floor = 0
            while True:
                best = -1
                n = len(syms)
                for i in range(n - 1):
                    r = rank.get((syms[i], syms[i + 1]), -1)
                    if r >= floor and (best < 0 or r < best):
                        best = r
                if best < 0:
                    break
                left, right = merge_list[best]
                fused = left + right
                for _ in range(2):  # merge_expr's double pass
                    # ANCHORED pass, not plain greedy: a string-replace
                    # match consumes its trailing SEP, so the next match
                    # cannot start at the immediately following symbol
                    # (just_merged skip) — self-pair runs pair up as
                    # |aa|a|aa|, matching merge_expr exactly
                    out = []
                    i, n, just_merged = 0, len(syms), False
                    while i < n:
                        if (i + 1 < n and not just_merged
                                and syms[i] == left
                                and syms[i + 1] == right):
                            out.append(fused)
                            i += 2
                            just_merged = True
                        else:
                            out.append(syms[i])
                            i += 1
                            just_merged = False
                    syms = out
                floor = best + 1
            cache[word] = len(syms)
            return len(syms)

        for pdf in batches:
            ids, n_words, n_tokens = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf["_bpe_text"]):
                # trim() strips 0x20 only; mirror exactly
                words = ws.split(text.strip(" "))
                ids.append(doc_id)
                n_words.append(len(words))
                n_tokens.append(sum(word_n_tokens(w) for w in words))
            yield pd.DataFrame(
                {id_col: ids, "n_words": n_words, "n_tokens": n_tokens})

    return src.mapInPandas(_tokenize, schema=out_schema)
