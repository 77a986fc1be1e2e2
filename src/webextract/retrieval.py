"""Inverted-index retrieval: postings, document stats, and BM25-style
ranked search as DataFrame plans.

The reference pipeline ends at extraction/evaluation; a training-data
engine additionally needs corpus *search* — "which documents match these
query terms" — for curation audits (inspecting what a filter kept),
decontamination review, and targeted sampling. This module builds the
classic IR structures as plain DataFrames:

- :func:`postings` — the inverted index: one row per (term, doc, tf).
  At 10^12-doc scale this is written bucketed by term so per-term lookups
  are partition-local; here it is an in-plan aggregate.
- :func:`doc_lengths` / :func:`avg_doc_length` — the length normalization
  statistics BM25 needs.
- :func:`bm25_topk` — multi-query ranked retrieval with an INTEGER-EXACT
  BM25 surrogate: no float log/division anywhere, so a DuckDB oracle
  agrees bit-for-bit.

Integer BM25 surrogate
----------------------
True BM25 per (query term t, doc d):

    idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

with idf(t) = ln((N - df + .5)/(df + .5)). Both factors are replaced by
monotone integer twins computed with ``div`` (== DuckDB ``//`` on
non-negatives):

    idf_s  = ((N - df) * 1_000_000) div (df + 1)          # anti-monotone in df
    lf1000 = 250 + (750 * dl) div avgdl                   # 1-b=.25, b=.75, x1000
    k10000 = 12 * lf1000                                  # k1=1.2, x10000
    tf_s   = (tf * 10_000 * 1_000_000) div (tf * 10_000 + k10000)
    score  = sum over query terms of idf_s * tf_s div 1_000_000

Every op is monotone the same direction as its float original, so rankings
agree with classic BM25 on anything but near-ties — and the score itself is
reproducible to the bit across engines and partitionings (float BM25 is
not: sum order varies with the shuffle). Overflow envelope: the product
``idf_s * tf_s`` reaches ~2.5e19 > 2^63 already at N ≈ 5e7 docs with a
df=1 term (idf_s ≈ N/2 × 1e6, tf_s → 1e6), so the per-term contribution is
computed in **decimal(38,0)** from the start — never a raw int64 product;
the summed long score stays safe until ~10^12 docs × many-term queries,
where the final sum moves to decimal too (shape unchanged).

Plan shape (the part that must survive 100 TB):
- token explode → hash-agg tf with map-side combine (the ONLY corpus-sized
  shuffle; it carries (term, doc_id, tf, dl) — the doc length RIDES the
  postings aggregate as one extra int, so there is no separate
  corpus-sized doc-lengths join anywhere in the query path);
- query vocabulary is a literal/broadcast filter applied BEFORE the tf
  aggregate, so the shuffle carries only matching terms — for a k-term
  query set that is a tiny fraction of the token stream;
- df is a vocabulary-sized aggregate and (N, avgdl) a 1-row aggregate,
  both broadcast back;
- per-query top-k is a WindowGroupLimit (rank pushed into the shuffle),
  never a global sort.

Reference parity: the reference has no search surface; this extends it
(SURVEY.md training-data operators). Evaluation-harness anchor for "find
the docs my pipeline kept": reference evaluation flow
``evaluation_orchestrator.py`` (process-all → inspect) — retrieval is the
inspect half at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

K1_X10 = 12        # k1 = 1.2
B_X1000 = 750      # b = 0.75
IDF_SCALE = 1_000_000
TF_SCALE = 10_000


def tokens(docs: DataFrame, *, id_col: str = "doc_id",
           text_col: str = "text") -> DataFrame:
    """One row per token occurrence: (id, w). Empty docs dropped."""
    return (
        docs.filter(F.length(F.trim(text_col)) > 0)
        .select(F.col(id_col),
                F.explode(F.split(F.trim(text_col), r"\s+")).alias("w"))
    )


def doc_lengths(docs: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, dl) — whitespace token count per non-empty doc."""
    return (
        docs.filter(F.length(F.trim(text_col)) > 0)
        .select(F.col(id_col),
                F.size(F.split(F.trim(text_col), r"\s+")).alias("dl"))
    )


def postings(docs: DataFrame, *, id_col: str = "doc_id",
             text_col: str = "text",
             vocab: list[str] | None = None,
             with_dl: bool = False) -> DataFrame:
    """The inverted index: (w, id, tf). Pass ``vocab`` to restrict to a
    term set BEFORE the aggregate (query-time path: the shuffle then
    carries only those terms). ``with_dl=True`` carries the doc length
    through the same aggregate (one extra int per shuffle row) so scoring
    never needs a separate corpus-sized doc-lengths join."""
    base = (docs.filter(F.length(F.trim(text_col)) > 0)
            .select(F.col(id_col),
                    F.split(F.trim(text_col), r"\s+").alias("_t")))
    t = base.select(id_col, F.size("_t").alias("dl"),
                    F.explode("_t").alias("w"))
    if vocab is not None:
        t = t.filter(F.col("w").isin(list(vocab)))
    aggs = [F.count("*").alias("tf")]
    if with_dl:
        aggs.append(F.max("dl").alias("dl"))
    return t.groupBy("w", id_col).agg(*aggs)


def bm25_topk(docs: DataFrame, queries: dict[int, list[str]], *, k: int = 10,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Ranked retrieval: for each query id, the top-``k`` docs by the
    integer BM25 surrogate (ties broken by ascending doc id).

    Returns (query_id, rank, doc_id-named-as-id_col, score).
    """
    vocab = sorted({w for ws in queries.values() for w in ws})
    post = postings(docs, id_col=id_col, text_col=text_col, vocab=vocab,
                    with_dl=True)

    # corpus stats: N and avgdl (one tiny aggregate, broadcast back)
    stats = doc_lengths(docs, id_col=id_col, text_col=text_col).agg(
        F.count("*").alias("n_docs"),
        F.expr("sum(dl) div count(*)").alias("avgdl"))
    # df per query term (vocabulary-sized)
    df_t = post.groupBy("w").agg(F.count("*").alias("df"))

    # query terms as a literal exploded relation (query_id, w); duplicate
    # terms within one query collapse (set semantics, standard BM25)
    qrows = sorted({(qid, w) for qid, ws in queries.items() for w in ws})
    arr = F.array(*[
        F.struct(F.lit(qid).cast("int").alias("query_id"),
                 F.lit(w).alias("w"))
        for qid, w in qrows
    ])
    qterms = (docs.sparkSession.range(1).select(F.explode(arr).alias("q"))
              .select("q.query_id", "q.w"))

    scored = (
        post
        .join(F.broadcast(qterms), "w")
        .join(F.broadcast(df_t), "w")
        .crossJoin(F.broadcast(stats))
        .withColumn("lf1000",
                    F.expr(f"250 + ({B_X1000} * dl) div avgdl"))
        .withColumn("k10000", F.expr(f"{K1_X10} * lf1000"))
        .withColumn("idf_s",
                    F.expr(f"((n_docs - df) * {IDF_SCALE}) div (df + 1)"))
        .withColumn("tf_s",
                    F.expr(f"(tf * {TF_SCALE} * {IDF_SCALE}) div "
                           f"(tf * {TF_SCALE} + k10000)"))
        # decimal(38,0) product: idf_s * tf_s wraps int64 at N ~ 5e7 docs
        # with a rare term (module docstring), so the contribution is
        # never a raw long product
        .withColumn("contrib",
                    F.expr(f"CAST((CAST(idf_s AS DECIMAL(38,0)) * tf_s) "
                           f"div {IDF_SCALE} AS BIGINT)"))
        .groupBy("query_id", id_col)
        .agg(F.sum("contrib").cast("long").alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                id_col, "score")
    )
