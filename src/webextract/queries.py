"""Driver-checkable query registry: Spark DataFrame impl + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2.2 (the relational
surface of the engine) or one training-data-pipeline operation (dedup,
similarity, text analytics) over the driver's testdata tables. The Spark side
is written DataFrame-first; the oracle is independent ANSI SQL for DuckDB.

Portability rules that make value-hash comparison exact:
- money aggregates are computed in DECIMAL (exact) and only cast to double
  at the end, so Spark's partial aggregation order can't produce float drift
  vs DuckDB's sequential sum;
- float outputs that cannot be exact (similarity ratios, averages) are
  rounded to a fixed scale on BOTH sides;
- every computed column is aliased identically on both sides (driver compares
  schemas by sorted column name);
- top-k queries carry total tie-breaks so LIMIT cuts identically.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F


# Driver testdata ships one parquet FILE with one ROW GROUP per table, and
# Spark cannot split inside a row group — so the scan stage is ONE task no
# matter the core count, and every per-row-heavy pipeline that runs before
# its first exchange (gram builds, md5 fingerprints, HOF lambdas, fold dot
# products) was single-threaded (measured: q39's "zero-exchange" projection
# spent 4-12 s on one of 32 cores). For the tables whose consumers do
# ~100x per-row expansion work, spread rows right after the read (guide
# §2.5, input skew: "one huge unsplittable file — repartition immediately
# after the read"). Keyed by the table's unique id → deterministic under
# retries (never rand), uniform, no pre-shuffle sort; partition count
# follows the session's parallelism, not a constant. The wide fact tables
# (lineitem/orders/events) keep their plain scans: their consumers
# aggregate/project cheaply per row, where a forced shuffle of the raw
# rows would cost more than the scan-stage work it parallelizes.
_SPREAD_TABLES = {"documents": "doc_id", "embeddings": "vec_id",
                  "events": "event_id"}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    key = _SPREAD_TABLES.get(name)
    if key is not None:
        df = df.repartition(spark.sparkContext.defaultParallelism, F.col(key))
    return df


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None → rows-only check (non-SQL-expressible)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, doc: str = ""):
    def deco(fn):
        _REGISTRY[name] = QuerySpec(spark=fn, sql=sql, doc=doc)
        return fn
    return deco


def registry() -> dict[str, QuerySpec]:
    return dict(_REGISTRY)


# --------------------------------------------------------------------------
# Relational surface (SURVEY.md §2.2): scan/filter/project, agg, join,
# window, sort/top-k, set ops, anti-join, rollup
# --------------------------------------------------------------------------

_DEC = "decimal(18,2)"


@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="hash aggregate with map-side combine; filter pushed to scan (TPC-H Q1 shape)",
)
def q01(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice").cast(_DEC)
                  * (F.lit(1) - F.col("l_discount").cast(_DEC)))
             .cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q02_revenue_by_segment",
    """
    SELECT c.c_mktsegment,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="broadcast equi-join (small dim) + aggregation",
)
def q02(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "q03_top_customers",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) DESC, c.c_custkey
    LIMIT 10
    """,
    doc="join + agg + total-order top-k (ties broken by key: LIMIT cuts identically)",
)
def q03(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev_dec"))
    )
    return (
        rev.orderBy(F.col("rev_dec").desc(), F.col("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_name", F.col("rev_dec").cast("double").alias("revenue"))
    )


@register(
    "q04_latest_event_per_user",
    """
    SELECT user_id, event_id, ts, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="window dedupe — the recrawl 'latest per url' pattern on the events table",
)
def q04(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


@register(
    "q05_customers_without_big_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
    """,
    doc="left-anti join — the lineage resume pattern (pending = all minus completed)",
)
def q05(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_totalprice") > 400000.0)
         .select(F.col("o_custkey").alias("c_custkey")))
    return c.join(o, "c_custkey", "left_anti").select("c_custkey", "c_name")


@register(
    "q06_filtered_events",
    """
    SELECT event_id, user_id, CAST(ROUND(value, 2) AS DOUBLE) AS value
    FROM events WHERE event_type = 'purchase' AND value > 150.0
    """,
    doc="projection + predicate pushdown to the parquet scan",
)
def q06(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > 150.0))
        .select("event_id", "user_id", F.round("value", 2).cast("double").alias("value"))
    )


@register(
    "q07_event_type_setops",
    """
    SELECT event_type FROM events WHERE value > 150.0
    EXCEPT
    SELECT event_type FROM events WHERE value > 360.0
    """,
    doc="set operations (EXCEPT/distinct)",
)
def q07(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hi = e.filter(F.col("value") > 150.0).select("event_type")
    vhi = e.filter(F.col("value") > 360.0).select("event_type")
    return hi.distinct().exceptAll(vhi.distinct())


@register(
    "q08_event_rollup",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY ROLLUP (event_type)
    """,
    doc="rollup / grouping sets (super-aggregate row included)",
)
def q08(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.rollup("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q20_user_event_pivot",
    f"""
    SELECT user_id,
           {', '.join(f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
                      for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
    doc="pivot (wide conditional aggregation) of event counts per user",
)
def q20(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )


@register(
    "q21_customers_with_recent_orders",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
    """,
    doc="left-semi join (EXISTS) — complement of the q05 anti-join",
)
def q21(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
         .select(F.col("o_custkey").alias("c_custkey")))
    return c.join(o, "c_custkey", "left_semi").select("c_custkey", "c_mktsegment")


@register(
    "q22_lineitem_cube",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="cube / grouping sets over two dimensions (all 4 grouping combos)",
)
def q22(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("total_qty"),
    )


@register(
    "q23_orders_by_month",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1, 2
    """,
    doc="scalar date functions (year/month extraction) + time-bucketed agg",
)
def q23(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .agg(F.count("*").alias("n_orders"),
             F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("revenue"))
    )


@register(
    "q24_event_value_percentiles",
    """
    SELECT event_type,
           CAST(ROUND(quantile_cont(value, 0.5), 6) AS DOUBLE) AS p50,
           CAST(ROUND(quantile_cont(value, 0.95), 6) AS DOUBLE) AS p95
    FROM events GROUP BY event_type
    """,
    doc="exact interpolated percentiles (Spark percentile == DuckDB quantile_cont)",
)
def q24(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).cast("double").alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).cast("double").alias("p95"),
    )


@register(
    "q25_json_props",
    """
    SELECT CAST(json_extract(props, '$.k') AS INT) AS k_bucket,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS INT) < 10
    GROUP BY 1
    """,
    doc="semi-structured JSON column extraction (get_json_object) + agg",
)
def q25(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k_bucket", k)
        .filter(F.col("k_bucket") < 10)
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"),
             F.round(F.sum(F.col("value").cast(_DEC)), 2).cast("double")
              .alias("total_value"))
    )


# --------------------------------------------------------------------------
# Text analytics over `documents` (training-data pipeline operations).
# Portability: token counts via regex split, stopword hits via replace-length
# arithmetic (replace is leftmost-non-overlapping in both engines), ratios as
# exact-int divisions rounded to a fixed scale.
# --------------------------------------------------------------------------

from .analysis import (  # noqa: E402 — engine operators; SQL oracles mirror them
    langid_columns,
    stopword_hits as _hits_spark,
    stopword_hits_any,
    token_count as _tok_count_spark,
)

_TOK_COUNT_SQL = ("CASE WHEN length(trim({c})) = 0 THEN 0 "
                  "ELSE len(string_split_regex(trim({c}), '\\s+')) END")


def _hits_sql(c: str, word: str) -> str:
    # whitespace-normalized first — twin of analysis.stopword_hits (block
    # boundaries are '\n\n'; without this, boundary-adjacent stopwords score 0)
    pat = f" {word} "
    norm = f"regexp_replace(lower({c}), '\\s+', ' ', 'g')"
    padded = f"' ' || {norm} || ' '"
    return (f"CAST((length({padded}) - "
            f"length(replace({padded}, '{pat}', ''))) / {len(pat)} AS BIGINT)")


@register(
    "q09_doc_stats_by_lang",
    """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(((SUM(n_chars) * 20000 + COUNT(*)) // (2 * COUNT(*))) / 10000.0
                AS DOUBLE) AS avg_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    doc="corpus profiling aggregate (per-language doc stats); the 4-dp "
        "rounded mean is computed with exact integer half-up arithmetic "
        "((sum*2e4 + n) div (2n)) so partial-aggregation order can't drift "
        "the last double ulp between engines; total_chars is cast BIGINT "
        "because DuckDB types SUM(INTEGER) as HUGEINT, which pandas converts "
        "to float64 ('19525.0') while Spark emits a long ('19525') — any "
        "raw un-cast SUM reaching the output desyncs the driver's value hash",
)
def q09(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.expr("(sum(n_chars) * 20000 + count(*)) div (2 * count(*))")
         / F.lit(10000.0)).cast("double").alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q10_token_counts",
    f"""
    SELECT doc_id, {_TOK_COUNT_SQL.format(c='text')} AS n_tokens
    FROM documents
    """,
    doc="whitespace tokenization (token counting for training-data budgeting)",
)
def q10(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", _tok_count_spark(F.col("text")).alias("n_tokens"))


_EN_STOPS = ["the", "and", "of", "to", "in"]


@register(
    "q11_quality_scores",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_measured,
           {_TOK_COUNT_SQL.format(c='text')} AS n_tokens,
           ({' + '.join(_hits_sql('text', w) for w in _EN_STOPS)}) AS stopword_hits,
           CAST(ROUND(
             CASE WHEN {_TOK_COUNT_SQL.format(c='text')} = 0 THEN 0.0
                  ELSE ({' + '.join(_hits_sql('text', w) for w in _EN_STOPS)})
                       / CAST({_TOK_COUNT_SQL.format(c='text')} AS DOUBLE) END, 6)
             AS DOUBLE) AS stopword_ratio
    FROM documents
    """,
    doc="quality scoring: length, token count, stopword ratio (C4/Gopher-style signals)",
)
def q11(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ntok = _tok_count_spark(F.col("text"))
    hits = stopword_hits_any(F.col("text"), _EN_STOPS)
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        ntok.alias("n_tokens"),
        hits.alias("stopword_hits"),
        F.round(
            F.when(ntok == 0, F.lit(0.0)).otherwise(hits / ntok.cast("double")), 6
        ).cast("double").alias("stopword_ratio"),
    )


_LANG_STOPS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "les", "des", "est", "une"],
}


@register(
    "q12_langid_heuristic",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {', '.join(
                 f"({' + '.join(_hits_sql('text', w) for w in ws)}) AS hits_{lg}"
                 for lg, ws in _LANG_STOPS.items())}
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN hits_en + hits_es + hits_de + hits_fr = 0 THEN 'unknown'
                WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
                WHEN hits_es >= hits_de AND hits_es >= hits_fr THEN 'es'
                WHEN hits_de >= hits_fr THEN 'de'
                ELSE 'fr' END AS predicted_lang
    FROM scored
    """,
    doc="n-gram/stopword language-ID heuristic with deterministic tie-breaks",
)
def q12(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    hit_cols, pred = langid_columns("text")
    return (
        d.select("doc_id", "lang", *hit_cols)
        .withColumn("predicted_lang", pred)
        .select("doc_id", "lang", "predicted_lang")
    )


# --------------------------------------------------------------------------
# Deduplication + similarity (see webextract.dedup / webextract.sim for the
# engine implementations; these registry entries are the oracle-checked
# DataFrame forms over the driver's tables)
# --------------------------------------------------------------------------

@register(
    "q13_exact_dedup",
    """
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY lower(trim(text))) AS canonical_id,
           CAST(doc_id != MIN(doc_id) OVER (PARTITION BY lower(trim(text))) AS INT)
             AS is_duplicate
    FROM documents
    """,
    doc="exact dedup via group-min canonicalization on normalized text",
)
def q13(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = W.partitionBy(F.lower(F.trim(F.col("text"))))
    cid = F.min("doc_id").over(w)
    return d.select(
        "doc_id", cid.alias("canonical_id"),
        (F.col("doc_id") != cid).cast("int").alias("is_duplicate"),
    )


from .dedup import MD5_60_SQL as _MD5_60_SQL  # noqa: E402

_NORM_TEXT_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

_Q31_SQL = f"""
WITH keyed AS (
  SELECT doc_id, {{hash}} AS text_hash FROM documents
), canon AS (
  SELECT text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
  FROM keyed GROUP BY text_hash
)
SELECT k.doc_id, c.canonical_id,
       CAST(k.doc_id != c.canonical_id AS INT) AS is_duplicate,
       c.group_size
FROM keyed k JOIN canon c USING (text_hash)
"""


@register(
    "q31_exact_dedup_hashed",
    _Q31_SQL.format(hash=_MD5_60_SQL.format(x=_NORM_TEXT_SQL)),
    doc="exact dedup in the production (100-TB) shape: group on the 60-bit "
        "hash of the normalized text, NOT the text itself, so every shuffle "
        "in the plan exchanges an 8-byte key (q13's window-over-full-text "
        "form is the demonstration twin; this is the plan you'd run at "
        "scale — plan-asserted in tests/test_dedup_sim.py). Oracle-checked "
        "end-to-end via the portable md5_60 hash; xxhash64 is the default "
        "production hash of webextract.dedup.exact_duplicates.",
)
def q31(spark, sf_dir):
    from .dedup import exact_duplicates

    d = _t(spark, sf_dir, "documents")
    return exact_duplicates(d, text_col="text", id_col="doc_id",
                            hash_fn="md5_60")


_JACCARD_TAU = 0.5
_MAX_GRAM_DF = 50  # stop-gram pruning: ignore bigrams present in > N docs


@register(
    "q14_ngram_jaccard_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ), grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i] || '_' || t[i+1])) AS g
      FROM toks WHERE len(t) >= 2
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
    ), gdf AS (
      SELECT g, COUNT(*) AS d FROM grams GROUP BY g
    ), gf AS (
      SELECT grams.doc_id, grams.g FROM grams JOIN gdf USING (g)
      WHERE gdf.d <= {_MAX_GRAM_DF}
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
      FROM gf a JOIN gf b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.intersection,
           CAST(ROUND(p.intersection / (sa.n + sb.n - p.intersection), 6) AS DOUBLE)
             AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE p.intersection / (sa.n + sb.n - p.intersection) >= {_JACCARD_TAU}
    """,
    doc="near-dup detection: word-bigram set-similarity join with stop-gram pruning",
)
def q14(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
        .filter(F.size("t") >= 2)
    )
    from .analysis import gram_array as _ga

    grams = toks.select(
        "doc_id", F.explode(_ga(F.col("t"), 2)).alias("g")).distinct()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    gdf = grams.groupBy("g").agg(F.count("*").alias("d"))
    gf = grams.join(gdf.filter(F.col("d") <= _MAX_GRAM_DF).select("g"), "g")
    a = gf.select(F.col("doc_id").alias("doc_a"), "g")
    b = gf.select(F.col("doc_id").alias("doc_b"), "g")
    pairs = (
        a.join(b, "g").filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(F.count("*").alias("intersection"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("intersection") / (F.col("na") + F.col("nb") - F.col("intersection"))
    return (
        pairs.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
        .filter(jac >= _JACCARD_TAU)
        .select("doc_a", "doc_b", "intersection",
                F.round(jac, 6).cast("double").alias("jaccard"))
    )


@register(
    "q15_cosine_topk",
    """
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT e.vec_id, e.label,
             list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
               / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos
      FROM embeddings e, q WHERE e.vec_id != 0
    )
    SELECT vec_id, label, CAST(ROUND(cos, 9) AS DOUBLE) AS cosine
    FROM scored ORDER BY ROUND(cos, 9) DESC, vec_id LIMIT 20
    """,
    doc="brute-force cosine top-k ANN baseline over the embedding column",
)
def q15(spark, sf_dir):
    from .sim import cosine_vs_query_exact

    e = _t(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in qrow.embedding]
    # ordered by the ROUNDED cosine (the oracle's tie-break), unlike
    # sim.cosine_topk's raw ordering
    scored = (e.filter(F.col("vec_id") != 0)
              .withColumn("cos", cosine_vs_query_exact(qv, "embedding")))
    return (
        scored.orderBy(F.round(F.col("cos"), 9).desc(), F.col("vec_id"))
        .limit(20)
        .select("vec_id", "label", F.round("cos", 9).cast("double").alias("cosine"))
    )


_COS_PAIR_TAU = 0.45


@register(
    "q16_embedding_near_pairs",
    f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                   list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 9) AS DOUBLE)
             AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= {_COS_PAIR_TAU}
    """,
    doc="embedding near-dup pairs with label blocking (the LSH-bucket analog)",
)
def q16(spark, sf_dir):
    # r6: the label-blocked self-join + interpreted per-pair fold (2M pairs
    # × 2×dim lambda calls at sf1.0 = 232 s) is replaced by sim.pairwise_near's
    # vectorized kernel — BLAS prefilter + bit-exact sequential-fold
    # recompute, one Arrow batch per label block. Rows are bit-identical
    # (same fold, same rounding, rounding still applied JVM-side).
    from .sim import pairwise_near

    e = _t(spark, sf_dir, "embeddings")
    out = pairwise_near(e, tau=_COS_PAIR_TAU, vec_col="embedding",
                        id_col="vec_id", block_col="label")
    return out.select(
        F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"),
        F.round("cosine", 9).cast("double").alias("cosine"))


# --------------------------------------------------------------------------
# Hash-based dedup: oracle-checked end-to-end via the portable md5-derived
# 60-bit hash (webextract.dedup.HASH_FNS["md5_60"]), which DuckDB reproduces
# exactly. The xxhash64 production path (faster, 64-bit, multi-arg JVM hash)
# runs the identical plan and is pytest-verified against exact Jaccard
# (tests/test_dedup_sim.py).
# --------------------------------------------------------------------------

from .dedup import MD5_60_SQL as _MD5_60_SQL  # noqa: E402


def _md5h_sql(x: str) -> str:
    """DuckDB twin of dedup._md5_60 (no seed: seed is concat'd by caller).

    Single source of truth: dedup.MD5_60_SQL — the whole md5_60 oracle
    contract depends on this string matching dedup._md5_60 exactly.
    """
    return _MD5_60_SQL.format(x=x)


_MH_PERM, _MH_BANDS, _MH_TAU = 64, 16, 0.7
_MH_RPB = _MH_PERM // _MH_BANDS

from .dedup import MINHASH_P as _MH_P, minhash_perm_consts as _mh_consts  # noqa: E402

_MH_AB = _mh_consts(_MH_PERM)

# CTE body + final select kept separate so q37 can reuse the whole pair
# pipeline as the edge source of its recursive-CTE oracle; parameterized on
# (source relation, id column) so __spark_entry__'s q58 curate oracle can
# run the SAME MinHash+LSH pair pipeline over its landed stage table
def _mh_pair_ctes(src: str, id_sql: str) -> str:
    """DuckDB CTE chain: ``src``(id, text) → banded-LSH candidate pairs with
    signature-estimated Jaccard (twin of dedup.minhash_lsh_pairs with n=2,
    num_perm=64, bands=16, hash_fn='md5_60')."""
    return f"""toks AS (
  SELECT {id_sql} AS mh_id, string_split_regex(trim(text), '\\s+') AS t
  FROM {src} WHERE length(trim(text)) > 0
), grams AS (
  SELECT DISTINCT mh_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || '_' || t[i+1])) AS g
  FROM toks WHERE len(t) >= 2
), based AS (
  SELECT mh_id, ({_md5h_sql('g')} % {1 << 30}) AS b FROM grams
), sig AS (
  SELECT mh_id,
         {', '.join(f"MIN(({a} * b + {c}) % {_MH_P}) AS h{i}"
                    for i, (a, c) in enumerate(_MH_AB))}
  FROM based GROUP BY mh_id
), bucketed AS (
  SELECT mh_id, unnest([{', '.join(
      _md5h_sql('concat_ws(' + "'|', " + str(k) + ', ' + ', '.join(
          f'h{k * _MH_RPB + r}' for r in range(_MH_RPB)) + ')')
      for k in range(_MH_BANDS))}]) AS bucket
  FROM sig
), cand AS (
  SELECT DISTINCT a.mh_id AS id_a, b.mh_id AS id_b
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.mh_id < b.mh_id
), est AS (
  SELECT c.id_a, c.id_b,
         CAST(({' + '.join(f'CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END'
                           for i in range(_MH_PERM))}) AS DOUBLE) / {_MH_PERM}
           AS est_jaccard
  FROM cand c JOIN sig sa ON c.id_a = sa.mh_id JOIN sig sb ON c.id_b = sb.mh_id
)"""


_Q17_CTES = _mh_pair_ctes("documents", "doc_id")

_Q17_FINAL = f"SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= {_MH_TAU}"

_Q17_SQL = f"WITH {_Q17_CTES}\n{_Q17_FINAL}"


@register(
    "q17_minhash_near_pairs",
    _Q17_SQL,
    doc="MinHash(64)+LSH(16 bands) near-dup candidates over documents, "
        "oracle-checked via the portable md5_60 hash; xxhash64 twin is "
        "pytest-verified vs exact Jaccard (test_minhash_on_driver_documents)",
)
def q17(spark, sf_dir):
    from .dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, text_col="text", id_col="doc_id", n=2,
                             num_perm=_MH_PERM, bands=_MH_BANDS,
                             verify_tau=_MH_TAU, hash_fn="md5_60")


_Q37_SQL = f"""
WITH RECURSIVE {_Q17_CTES},
pairs AS ({_Q17_FINAL}),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
),
assign AS (
  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
)
SELECT a.doc_id, a.cluster_id, c.cluster_size
FROM assign a
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
      FROM assign GROUP BY cluster_id) c USING (cluster_id)
"""


@register(
    "q37_dedup_clusters",
    _Q37_SQL,
    doc="near-dup CLUSTER ASSIGNMENT: connected components (Hash-Min label "
        "propagation, dedup.connected_components) over the q17 MinHash-LSH "
        "pair graph — the step that turns pairwise candidates into dedup "
        "groups so one canonical doc survives per cluster even when "
        "similarity is non-transitive. Each round is one shuffle keyed on "
        "the 8-byte vertex id; LSH components are quasi-cliques so 2-3 "
        "rounds close at any corpus size (large-star/small-star is the "
        "documented long-chain upgrade). Oracle: DuckDB recursive CTE "
        "computes min-reachable-id per vertex over the same pair SQL.",
)
def q37(spark, sf_dir):
    from .dedup import connected_components, minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, text_col="text", id_col="doc_id", n=2,
                              num_perm=_MH_PERM, bands=_MH_BANDS,
                              verify_tau=_MH_TAU, hash_fn="md5_60")
    cc = connected_components(pairs, vertices=d.select("doc_id"),
                              id_col="doc_id")
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        F.col("id").alias("doc_id"), "cluster_id", "cluster_size")


_SAMPLE_RATES = {"en": 150, "zh": 1000}  # permille; rebalance: clip en, keep zh
_SAMPLE_DEFAULT = 600

_Q38_SQL = f"""
WITH keyed AS (
  SELECT doc_id, lang,
         ({_md5h_sql('CAST(doc_id AS VARCHAR)')}) % 1000 AS bucket
  FROM documents
)
SELECT doc_id, lang, bucket FROM keyed
WHERE bucket < CASE lang WHEN 'en' THEN {_SAMPLE_RATES['en']}
                         WHEN 'zh' THEN {_SAMPLE_RATES['zh']}
                         ELSE {_SAMPLE_DEFAULT} END
"""


@register(
    "q38_stratified_sample",
    _Q38_SQL,
    doc="deterministic language-rebalancing sample (sampling."
        "stratified_sample): keep-rate per lang stratum decided by "
        "hash(doc_id) % 1000 — reproducible across reruns, engines, and "
        "cluster sizes (unlike rand()/sample()), membership stable under "
        "corpus growth. Plan is one scan + codegen'd CASE filter: ZERO "
        "exchanges at any corpus size.",
)
def q38(spark, sf_dir):
    from .sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    kept = stratified_sample(d, key_col="doc_id", strata_col="lang",
                             rates=_SAMPLE_RATES,
                             default_permille=_SAMPLE_DEFAULT,
                             hash_fn="md5_60")
    return kept.select("doc_id", "lang", "bucket")


_SESSION_GAP_US = 4 * 3600 * 1_000_000


def _sess_ctes(split_op: str) -> str:
    """Session-derivation CTEs; ``split_op`` is the new-session comparison:
    '>' matches relops.sessionize (== gap stays), '>=' matches Spark's
    built-in session_window (window end is exclusive: last_ts + gap)."""
    return f"""ordered AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   {split_op} {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM ordered
)"""


_Q42_SQL = f"""
WITH {_sess_ctes('>')}
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sess GROUP BY user_id, session_idx
"""


@register(
    "q42_sessionize",
    _Q42_SQL,
    doc="gap-based sessionization (relops.sessionize): lag() marks session "
        "starts, running sum() numbers them — both windows share one "
        "(key, order) so the plan is ONE exchange + ONE sort with both "
        "window functions in a single Window node; then a session-level "
        "rollup. Microsecond integer arithmetic keeps the 4h boundary "
        "exact in both engines.",
)
def q42(spark, sf_dir):
    from .relops import sessionize

    e = _t(spark, sf_dir, "events")
    s = sessionize(e, key="user_id", ts="ts", order_tiebreak="event_id",
                   gap="4 hours")
    return (s.groupBy("user_id", "session_idx")
             .agg(F.count("*").alias("n_events"),
                  F.min("ts").alias("session_start"),
                  F.max("ts").alias("session_end")))


_Q44_SQL = f"""
WITH {_sess_ctes('>=')}
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 4 HOUR AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_idx
"""


@register(
    "q44_session_window_builtin",
    _Q44_SQL,
    doc="Spark's BUILT-IN session_window aggregation (the streaming-capable "
        "gap-session primitive, exercised in batch): one hash aggregate "
        "over (user_id, session_window(ts, gap)) — window end is exclusive "
        "(last event + gap), so the oracle's split comparison is >= where "
        "relops.sessionize (q42) uses >. Complements q42: same semantics "
        "family, engine-native operator vs portable composition.",
)
def q44(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.groupBy("user_id", F.session_window("ts", "4 hours"))
             .agg(F.count("*").alias("n_events"))
             .select("user_id",
                     F.col("session_window.start").alias("session_start"),
                     F.col("session_window.end").alias("session_end"),
                     "n_events"))


_PER_SOURCE_CAP = 15

_Q45_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {_md5h_sql('CAST(doc_id AS VARCHAR)')},
                                     doc_id) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_PER_SOURCE_CAP}
"""


@register(
    "q45_per_source_cap",
    _Q45_SQL,
    doc="per-source document cap (sampling.per_group_cap): keep a "
        "deterministic pseudo-random 15 docs per source — the crawl-"
        "balance op that stops one domain dominating the corpus. "
        "row_number over (source ORDER BY hash(doc_id)) is an unbiased "
        "shuffle within the group AND reproducible across engines; "
        "Catalyst's WindowGroupLimit pre-trims each task to its local "
        "top-k before the exchange, so the shuffle moves at most "
        "cap x sources x tasks rows at any corpus size.",
)
def q45(spark, sf_dir):
    from .sampling import per_group_cap

    d = _t(spark, sf_dir, "documents")
    kept = per_group_cap(d, group_col="source", key_col="doc_id",
                         cap=_PER_SOURCE_CAP, hash_fn="md5_60")
    return kept.select("doc_id", "source", "rk")


_TFIDF_TOPK, _TFIDF_SCALE = 3, 1_000_000

_Q46_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE length(term) > 0 GROUP BY doc_id, term
), idf AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS BIGINT) AS tf,
         CAST(idf.df AS BIGINT) AS df,
         CAST((tf.tf * {_TFIDF_SCALE}) // idf.df AS BIGINT) AS score
  FROM tf JOIN idf USING (term)
)
SELECT doc_id, term, tf, df, score,
       CAST(rk AS BIGINT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rk
      FROM scored)
WHERE rk <= {_TFIDF_TOPK}
"""


@register(
    "q46_tfidf_top_terms",
    _Q46_SQL,
    doc="per-doc top-3 characteristic terms by an INTEGER-EXACT tf-idf "
        "surrogate: score = tf * 1e6 DIV df — monotone in tf/df (the "
        "constant corpus-size factor is deliberately dropped: it cannot "
        "change the ranking but tf*N*1e6 would overflow signed 64-bit at "
        "10^10-doc corpora, where Spark wraps silently and DuckDB raises). "
        "No float log, so both engines agree bit-for-bit. Plan: tf hash-agg "
        "with map-side combine, vocabulary-sized idf agg joined back on "
        "term, WindowGroupLimit top-k per doc — no token-stream shuffle "
        "past the first aggregate.",
)
def q46(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    toks = (d.filter(F.length(t) > 0)
             .select("doc_id", F.explode(F.split(F.lower(t), r"\s+"))
                     .alias("term"))
             .filter(F.length("term") > 0))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    idf = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(idf, "term")
                .select("doc_id", "term", "tf", "df",
                        F.expr(f"tf * {_TFIDF_SCALE} div df")
                         .cast("long").alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= _TFIDF_TOPK)
                  .select("doc_id", "term", "tf", "df", "score", "rk"))


@register(
    "q51_hourly_gapfill",
    """
    WITH counts AS (
      SELECT user_id, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    ), spans AS (
      SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
      FROM counts GROUP BY user_id
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM spans
    )
    SELECT g.user_id, g.hour,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events,
           CAST(c.n IS NULL AS INT) AS is_gap
    FROM grid g LEFT JOIN counts c USING (user_id, hour)
    """,
    doc="time-series RESAMPLE/gap-fill: dense per-user hourly grid between "
        "each user's first and last event, missing hours zero-filled — the "
        "densification step before any rolling/window computation on "
        "activity series. Spark side generates the grid with sequence() + "
        "explode (grid rows are born distributed, never collected); the "
        "left join back to the sparse counts is key-partitioned. Exact "
        "integer outputs keep the 105k-row result hash-stable.",
)
def q51(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    counts = (e.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour"))
               .agg(F.count("*").alias("n")))
    spans = counts.groupBy("user_id").agg(F.min("hour").alias("h0"),
                                          F.max("hour").alias("h1"))
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour")))
         .alias("hour"))
    return (grid.join(counts, ["user_id", "hour"], "left")
                .select("user_id", "hour",
                        F.coalesce(F.col("n"), F.lit(0)).cast("long")
                         .alias("n_events"),
                        F.col("n").isNull().cast("int").alias("is_gap")))


_Q56_HASH = _MD5_60_SQL.format(x=_NORM_TEXT_SQL)

_Q56_SQL = f"""
WITH snap_a AS (
  SELECT doc_id, {_Q56_HASH} AS h FROM documents WHERE doc_id % 4 != 0
), snap_b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN {_MD5_60_SQL.format(
                  x=_NORM_TEXT_SQL + " || ' rev2'")}
              ELSE {_Q56_HASH} END AS h
  FROM documents WHERE doc_id % 4 != 1
), d AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'deleted'
              WHEN a.h != b.h THEN 'changed'
              ELSE 'unchanged' END AS change_status
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
)
SELECT change_status, COUNT(*) AS n,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM d GROUP BY change_status
"""


@register(
    "q56_crawl_diff",
    _Q56_SQL,
    doc="crawl-snapshot DIFF: FULL OUTER join of two crawl states on the "
        "doc key, change classified by content-hash comparison (added / "
        "deleted / changed / unchanged) — the incremental-crawl accounting "
        "op (what to re-extract, what to tombstone). The join carries only "
        "(8-byte id, 8-byte content hash) per side at any corpus size; "
        "snapshot B's changed docs are synthesized with the same "
        "expression in both engines.",
)
def q56(spark, sf_dir):
    from .dedup import HASH_FNS, _norm_text

    fn, _ = HASH_FNS["md5_60"]
    d = _t(spark, sf_dir, "documents")
    norm = _norm_text("text")
    # presence flags, NOT hash nullness: a NULL-text doc present in both
    # snapshots must classify by PRESENCE (hash is NULL on both sides)
    a = (d.filter(F.col("doc_id") % 4 != 0)
          .select("doc_id", fn(norm).alias("ha"), F.lit(1).alias("ina")))
    b = (d.filter(F.col("doc_id") % 4 != 1)
          .select("doc_id",
                  F.when(F.col("doc_id") % 5 == 0,
                         fn(F.concat(norm, F.lit(" rev2"))))
                   .otherwise(fn(norm)).alias("hb"),
                  F.lit(1).alias("inb")))
    j = a.join(b, "doc_id", "full")
    status = (F.when(F.col("ina").isNull(), "added")
               .when(F.col("inb").isNull(), "deleted")
               .when(F.col("ha") != F.col("hb"), "changed")
               .otherwise("unchanged"))
    return (j.select("doc_id", status.alias("change_status"))
             .groupBy("change_status")
             .agg(F.count("*").alias("n"),
                  F.min("doc_id").alias("first_doc"),
                  F.max("doc_id").alias("last_doc")))


_CMS_D, _CMS_W, _CMS_PROBE = 4, 256, 10

_Q54_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
), toks2 AS (
  SELECT term FROM toks WHERE length(term) > 0
), exact AS (
  SELECT term, COUNT(*) AS exact_n FROM toks2 GROUP BY term
), probe AS (
  SELECT term, exact_n FROM exact
  ORDER BY exact_n DESC, term LIMIT {_CMS_PROBE}
), rows_ AS (
  SELECT unnest([{', '.join(str(i) for i in range(_CMS_D))}]) AS i
), cells AS (
  SELECT i, {_md5h_sql("term || '|' || i")} % {_CMS_W} AS col,
         COUNT(*) AS cnt
  FROM toks2 CROSS JOIN rows_ GROUP BY i, col
), pc AS (
  SELECT p.term, p.exact_n, r.i,
         {_md5h_sql("p.term || '|' || r.i")} % {_CMS_W} AS col
  FROM probe p CROSS JOIN rows_ r
)
SELECT pc.term, pc.exact_n, CAST(MIN(c.cnt) AS BIGINT) AS est
FROM pc JOIN cells c USING (i, col)
GROUP BY pc.term, pc.exact_n
"""


@register(
    "q54_cms_frequency_sketch",
    _Q54_SQL,
    doc="Count-Min frequency SKETCH (analysis.count_min_estimates, Cormode/"
        "Muthukrishnan): 4x256 counter grid over every token occurrence; "
        "estimate = min over rows of the key's counters (always >= truth, "
        "error <= 2N/w w.h.p.). The frequency twin of the q48 KMV "
        "cardinality sketch, same portability argument: seeded-md5 cells "
        "make the grid AND the estimates bit-reproducible in DuckDB. The "
        "grid is d*w longs at any corpus size and merges by addition; the "
        "probe set here is the exact top-10 terms so the oracle also "
        "witnesses est >= exact.",
)
def q54(spark, sf_dir):
    from .analysis import count_min_estimates

    d = _t(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    toks = (d.filter(F.length(t) > 0)
             .select(F.explode(F.split(F.lower(t), r"\s+")).alias("term"))
             .filter(F.length("term") > 0))
    exact = toks.groupBy("term").agg(F.count("*").alias("exact_n"))
    probe = exact.orderBy(F.desc("exact_n"), F.asc("term")).limit(_CMS_PROBE)
    est = count_min_estimates(toks, key_col="term",
                              probes=probe.select("term"),
                              d=_CMS_D, w=_CMS_W)
    return probe.join(est, "term").select("term", "exact_n", "est")


@register(
    "q53_salted_hot_key_join",
    """
    SELECT e.event_type, COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MAX(t.weight) AS weight
    FROM events e
    JOIN (SELECT 'click' AS event_type, 1 AS weight UNION ALL
          SELECT 'view', 2 UNION ALL SELECT 'purchase', 5 UNION ALL
          SELECT 'signup', 3 UNION ALL SELECT 'error', 0) t
      ON e.event_type = t.event_type
    GROUP BY e.event_type
    """,
    doc="hot-key join via SALTING (relops.salted_join): events join a "
        "5-row type table — every type is a hot key, so the plain join "
        "pins 5 reducers. The salted plan spreads each hot key over 16 "
        "reducers by replicating the tiny right side 16x and joining on "
        "(key, salt). The oracle is the PLAIN join + aggregate: like q33, "
        "the query proves salting is result-invariant, not just faster. "
        "DECIMAL partials keep the sum exact under any partitioning.",
)
def q53(spark, sf_dir):
    from .relops import salted_join

    e = _t(spark, sf_dir, "events")
    t = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 5), ("signup", 3),
         ("error", 0)], "event_type string, weight int")
    j = salted_join(e, t, key="event_type", salt=16)
    return (j.groupBy("event_type")
             .agg(F.count("*").alias("n"),
                  F.sum(F.col("value").cast(_DEC)).cast("double")
                   .alias("total_value"),
                  F.max("weight").alias("weight")))


_ROLL_H = 24

_Q52_SQL = f"""
WITH counts AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY user_id, date_trunc('hour', ts)
), spans AS (
  SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
  FROM counts GROUP BY user_id
), grid AS (
  SELECT user_id,
         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM spans
), dense AS (
  SELECT g.user_id, g.hour, COALESCE(c.n, 0) AS n
  FROM grid g LEFT JOIN counts c USING (user_id, hour)
)
SELECT user_id, hour,
       CAST(SUM(n) OVER w AS BIGINT) AS n_24h,
       CAST(MAX(n) OVER w AS BIGINT) AS peak_hour_24h
FROM dense
WINDOW w AS (PARTITION BY user_id ORDER BY hour
             ROWS BETWEEN {_ROLL_H - 1} PRECEDING AND CURRENT ROW)
"""


@register(
    "q52_rolling_activity",
    _Q52_SQL,
    doc="bounded sliding frame over the gap-filled series: trailing-24h "
        "event volume + peak hour per user (ROWS BETWEEN 23 PRECEDING AND "
        "CURRENT ROW) — the rolling-aggregate shape gap-filling exists to "
        "enable; a bounded frame is O(1) state per row in Spark's window "
        "exec, and the grid means 'last 24 rows' IS 'last 24 hours'. "
        "Integer sums keep the 105k-row result exact.",
)
def q52(spark, sf_dir):
    from pyspark.sql import Window

    dense = q51(spark, sf_dir).select(
        "user_id", "hour", F.col("n_events").alias("n"))
    w = (Window.partitionBy("user_id").orderBy("hour")
         .rowsBetween(-(_ROLL_H - 1), Window.currentRow))
    return dense.select(
        "user_id", "hour",
        F.sum("n").over(w).cast("long").alias("n_24h"),
        F.max("n").over(w).cast("long").alias("peak_hour_24h"))


@register(
    "q50_regional_revenue",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 shape: the 6-table star join (local-supplier revenue by "
        "nation for one region + date window). The scale plan: region -> "
        "nation -> supplier/customer are BROADCAST dims (Catalyst chains "
        "the broadcasts; the region filter prunes the chain before it "
        "touches a fact), lineitem |><| orders is the one real shuffle "
        "join with the date filter PUSHED to the orders scan, and the "
        "final aggregate is nation-cardinality. DECIMAL money arithmetic "
        "for exact parity.",
)
def q50(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = (F.broadcast(s)
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")))
    rev = (F.col("l_extendedprice").cast(_DEC)
           * (F.lit(1) - F.col("l_discount").cast(_DEC)))
    return (l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
             .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
             .join(F.broadcast(dims),
                   (F.col("l_suppkey") == F.col("s_suppkey"))
                   & (F.col("c_nationkey") == F.col("s_nationkey")))
             .groupBy("n_name")
             .agg(F.sum(rev).cast("double").alias("revenue"),
                  F.count("*").alias("n_items")))


_Q49_SQL = f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         {{h}} AS text_hash
  FROM documents
), canon AS (
  SELECT text_hash, doc_id AS canonical_id
  FROM (SELECT text_hash, doc_id,
               ROW_NUMBER() OVER (PARTITION BY text_hash
                                  ORDER BY n_chars DESC, doc_id ASC) AS pick
        FROM keyed)
  WHERE pick = 1
), sizes AS (
  SELECT text_hash, COUNT(*) AS group_size FROM keyed GROUP BY text_hash
)
SELECT k.doc_id, k.text_hash, c.canonical_id,
       CAST(k.doc_id = c.canonical_id AS INT) AS is_kept, s.group_size
FROM keyed k JOIN canon c USING (text_hash) JOIN sizes s USING (text_hash)
""".format(h=_MD5_60_SQL.format(x=_NORM_TEXT_SQL))


@register(
    "q49_best_copy_dedup",
    _Q49_SQL,
    doc="curation-aware exact dedup (dedup.best_copy): the canonical row "
        "per content group is the HIGHEST-QUALITY copy (n_chars desc, id "
        "tie-break), not min-id — keep-the-best-copy when the same doc "
        "arrives from several crawls at different fidelity. Engine plan is "
        "a max_by over the (quality, -id) struct: an aggregate with "
        "map-side partial combine (one candidate per hash per task), NOT a "
        "per-group sort; the oracle derives the same choice via a window, "
        "proving result equivalence of the two formulations.",
)
def q49(spark, sf_dir):
    from .dedup import best_copy

    d = _t(spark, sf_dir, "documents")
    return best_copy(d, text_col="text", id_col="doc_id",
                     quality_col="n_chars", hash_fn="md5_60")


_KMV_K = 16

_Q48_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT source, {_md5h_sql('text')} AS h FROM documents
), kept AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM pairs
), sk AS (
  SELECT source, MAX(h) AS kth_min, COUNT(*) AS k_used
  FROM kept WHERE rn <= {_KMV_K} GROUP BY source
), exact AS (
  SELECT source, COUNT(*) AS n_exact FROM pairs GROUP BY source
)
SELECT source, n_exact, k_used, kth_min,
       CAST(CASE WHEN k_used < {_KMV_K} THEN CAST(k_used AS DOUBLE)
            ELSE ROUND({_KMV_K - 1}.0 * pow(2.0, 60.0)
                       / CAST(kth_min AS DOUBLE), 6) END AS DOUBLE) AS est
FROM sk JOIN exact USING (source)
"""


@register(
    "q48_kmv_distinct_sketch",
    _Q48_SQL,
    doc="KMV distinct-count SKETCH per source (analysis.kmv_distinct, "
        "Bar-Yossef et al.): k smallest distinct content-hash values; "
        "exact below k, (k-1)/(kth_min/2^60) above. Chosen over HLL "
        "because the sketch is a pure function of the hash — mergeable "
        "across partitions AND bit-reproducible in an independent engine "
        "(approx_count_distinct's HLL registers could never hash-match). "
        "WindowGroupLimit pre-trims each task to its local k per group "
        "before the exchange: the shuffle carries at most k x |groups| x "
        "tasks hashes at any corpus size. n_exact is computed alongside as "
        "the oracle-visible ground truth.",
)
def q48(spark, sf_dir):
    from .analysis import kmv_distinct

    d = _t(spark, sf_dir, "documents")
    return kmv_distinct(d, group_col="source", key="text", k=_KMV_K,
                        include_exact=True)  # oracle checks est vs truth


_RANGE_WIN_US = 3600 * 1_000_000

_Q47_SQL = f"""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND epoch_us(p.ts) - epoch_us(c.ts) <= {_RANGE_WIN_US}
"""


@register(
    "q47_range_join_banded",
    _Q47_SQL,
    doc="interval/range join (relops.range_join): purchases within 1h after "
        "a click by the same user. The engine plan is the BANDING "
        "decomposition — bucket both sides by floor(ts/window), explode the "
        "left to its two candidate buckets, pure EQUI-join on (key, bucket) "
        "+ exact range filter — linear in matches + band co-occupancy "
        "instead of the naive equi-join-on-key's quadratic per-key pair "
        "blowup (the Flink interval-join shape). Oracle: DuckDB's direct "
        "inequality join.",
)
def q47(spark, sf_dir):
    from .relops import range_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click") \
              .select("event_id", "user_id", "ts")
    buys = e.filter(F.col("event_type") == "purchase") \
            .select("event_id", "ts", "user_id")
    j = range_join(clicks, buys, key="user_id", left_ts="ts",
                   right_ts="ts", window_us=_RANGE_WIN_US)
    return j.select(
        F.col("l_user_id").alias("user_id"),
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        (F.unix_micros(F.col("r_ts").cast("timestamp_ltz"))
         - F.unix_micros(F.col("l_ts").cast("timestamp_ltz")))
        .cast("long").alias("gap_us"))


_Q43_SQL = """
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
       v.event_id AS asof_event_id, v.ts AS asof_ts,
       CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


@register(
    "q43_asof_join",
    _Q43_SQL,
    doc="as-of join (relops.asof_join — Spark has no ASOF primitive): each "
        "click matched to the user's most recent view at-or-before it, via "
        "union-tag linearization + last_value(ignorenulls) over (key ORDER "
        "BY ts, tag) — ONE shuffle of |L|+|R| rows keyed on user_id, one "
        "sort, NO range theta-join and NO per-row subquery (the Flink "
        "temporal-join plan shape). Oracle: DuckDB's native ASOF LEFT JOIN.",
)
def q43(spark, sf_dir):
    from .relops import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    views = e.filter(F.col("event_type") == "view")
    j = asof_join(clicks, views, key="user_id", left_ts="ts",
                  right_payload=["event_id"])
    # inner variant: clicks with no prior view are dropped on both sides —
    # NULL-free output (BIGINT NULL -> pandas NaN would break value parity)
    return j.filter(F.col("asof_ts").isNotNull()).select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
        F.col("asof_event_id"), F.col("asof_ts"),
        (F.unix_micros(F.col("ts").cast("timestamp_ltz"))
         - F.unix_micros(F.col("asof_ts").cast("timestamp_ltz")))
        .cast("long").alias("lag_us"))


from .analysis import EMAIL_PATTERN as _PII_EMAIL, PHONE_PATTERN as _PII_PHONE  # noqa: E402

# PII-bearing text synthesized identically in both engines FROM the shared
# documents table (planted emails on 2/3 of docs, phones on all), so the
# redaction is oracle-checked without landing any fixture
_Q41_AUG_SQL = (
    "text || CASE WHEN doc_id % 3 = 0 THEN '' "
    "ELSE ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com' END "
    "|| ' or 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'"
)
_Q41_RED_SQL = ("regexp_replace(regexp_replace(t, '" + _PII_EMAIL +
                "', '<EMAIL>', 'g'), '" + _PII_PHONE + "', '<PHONE>', 'g')")

_Q41_SQL = (
    "WITH aug AS (SELECT doc_id, " + _Q41_AUG_SQL + " AS t FROM documents)\n"
    "SELECT doc_id,\n"
    "  CAST(len(regexp_extract_all(t, '" + _PII_EMAIL + "')) AS BIGINT) AS n_email,\n"
    "  CAST(len(regexp_extract_all(t, '" + _PII_PHONE + "')) AS BIGINT) AS n_phone,\n"
    "  md5(" + _Q41_RED_SQL + ") AS redacted_md5,\n"
    "  CAST(length(" + _Q41_RED_SQL + ") AS BIGINT) AS redacted_len\n"
    "FROM aug"
)


@register(
    "q41_pii_redaction",
    _Q41_SQL,
    doc="PII scrub (analysis.pii_redact_columns): count + redact emails and "
        "phone numbers before training — built-in regexp expressions only, "
        "per-row, zero exchanges, patterns restricted to the regex subset "
        "where Java regex and RE2 agree byte-for-byte. The oracle plants "
        "the SAME synthetic PII from doc_id in DuckDB and compares the md5 "
        "of the redacted text (byte-level scrub equivalence, not just "
        "counts). DuckDB regexp_replace needs the 'g' flag to match "
        "Spark's replace-all default.",
)
def q41(spark, sf_dir):
    from .analysis import pii_redact_columns

    d = _t(spark, sf_dir, "documents")
    email = F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit("")) \
             .otherwise(F.concat(F.lit(" Contact user"),
                                 F.col("doc_id").cast("string"),
                                 F.lit("@example.com")))
    aug = F.concat(
        F.col("text"), email, F.lit(" or 555-123-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        F.lit("."))
    counts, red = pii_redact_columns(aug)
    return d.select(
        F.col("doc_id"), *counts,
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("long").alias("redacted_len"))


_TOPK_TERMS = 5

_Q40_SQL = f"""
WITH toks AS (
  SELECT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
), counts AS (
  SELECT source, term, COUNT(*) AS n FROM toks
  WHERE length(term) > 0 GROUP BY source, term
), ranked AS (
  SELECT source, term, n,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n DESC, term ASC) AS rnk
  FROM counts
)
SELECT source, term, n, rnk FROM ranked WHERE rnk <= {_TOPK_TERMS}
"""


@register(
    "q40_top_terms_by_source",
    _Q40_SQL,
    doc="vocabulary building: top-5 terms per corpus slice (analysis."
        "top_terms) — explode collapsed by a hash aggregate with map-side "
        "partial combine (the shuffle carries (source, term, n) partials, "
        "never token streams), row_number over the vocabulary-sized "
        "distinct set, total tie-break (n DESC, term ASC) so the cut is "
        "reproducible in both engines.",
)
def q40(spark, sf_dir):
    from .analysis import top_terms

    d = _t(spark, sf_dir, "documents")
    return top_terms(d, text_col="text", group_col="source", k=_TOPK_TERMS)


_REP_NUM, _REP_DEN = 3, 10  # keep iff dup_3gram_frac <= 3/10


def _rep_gram_sql(n: int) -> str:
    parts = ", ".join(f"t[i + {j}]" if j else "t[i]" for j in range(n))
    return (f"CASE WHEN len(t) >= {n} THEN "
            f"list_transform(range(1, len(t) - {n - 2}), "
            f"i -> concat_ws(chr(95), {parts})) "
            f"ELSE []::VARCHAR[] END")


_Q39_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS t
  FROM documents
), sig AS (
  SELECT doc_id, len(t) AS n_tokens,
         {_rep_gram_sql(2)} AS g2,
         {_rep_gram_sql(3)} AS g3
  FROM toks
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(g2) - len(list_distinct(g2)) AS BIGINT) AS dup_2gram,
       CAST(CASE WHEN len(g2) <= 0 THEN 0.0
            ELSE ROUND(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                       / CAST(len(g2) AS DOUBLE), 6) END AS DOUBLE)
         AS dup_2gram_frac,
       CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) AS dup_3gram,
       CAST(CASE WHEN len(g3) <= 0 THEN 0.0
            ELSE ROUND(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                       / CAST(len(g3) AS DOUBLE), 6) END AS DOUBLE)
         AS dup_3gram_frac,
       CAST(len(g3) <= 0 OR
            (len(g3) - len(list_distinct(g3))) * {_REP_DEN}
              <= {_REP_NUM} * len(g3) AS INT) AS keep_repetition
FROM sig
"""


@register(
    "q39_repetition_signals",
    _Q39_SQL,
    doc="within-doc repetition signals (analysis.repetition_df — the Gopher "
        "repetition-removal family): duplicate 2-/3-gram counts + fractions "
        "per document and the keep bit (dup_3gram_frac <= 0.3 via integer "
        "cross-multiplication, exact in both engines). Pure nested-array "
        "expressions in ONE projection: per-row, zero exchanges, computed "
        "in the same scan that reads the text.",
)
def q39(spark, sf_dir):
    from .analysis import repetition_df

    d = _t(spark, sf_dir, "documents")
    return repetition_df(d, id_col="doc_id", text_col="text", ns=(2, 3),
                         keep_n=3, keep_num=_REP_NUM, keep_den=_REP_DEN)


_SH_BITS, _SH_BANDS = 60, 15
_SH_WIDTH = _SH_BITS // _SH_BANDS

_Q18_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || '_' || t[i+1])) AS g
  FROM toks WHERE len(t) >= 2
), hashed AS (
  SELECT doc_id, {_md5h_sql('g')} AS h FROM grams
), sums AS (
  SELECT doc_id, COUNT(*) AS n_sh,
         {', '.join(
             f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
             for b in range(_SH_BITS))}
  FROM hashed GROUP BY doc_id
), fp AS (
  SELECT doc_id AS id, n_sh,
         ({' + '.join(
             f'CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END'
             for b in range(_SH_BITS))}) AS simhash
  FROM sums
)
SELECT id, simhash, n_sh,
       {', '.join(
           f'(simhash >> {k * _SH_WIDTH}) & {(1 << _SH_WIDTH) - 1} AS band{k}'
           for k in range(_SH_BANDS))}
FROM fp
"""


@register(
    "q18_simhash_fingerprints",
    _Q18_SQL,
    doc="SimHash fingerprints + Hamming band keys over documents, "
        "oracle-checked via the portable md5_60 hash (60-bit, 15 bands); the "
        "64-bit xxhash64 twin is pytest-verified (test_dedup_sim.py)",
)
def q18(spark, sf_dir):
    from .dedup import simhash

    d = _t(spark, sf_dir, "documents")
    return simhash(d, text_col="text", id_col="doc_id", n=2, bands=_SH_BANDS,
                   hash_fn="md5_60")


def _q19_sql() -> str:
    """DuckDB twin of ann_topk(k=20, n_planes=6, probe_hamming=2, seed=7).

    The hyperplanes are deterministic Python floats (sim._hyperplane);
    embedding them as repr() literals makes both engines parse the SAME
    doubles, and the sequential-fold dot product (Spark aggregate/zip_with ≡
    DuckDB list_dot_product on DOUBLE lists) keeps projections bit-exact —
    so bucket codes, the Hamming probe set, and cosines all agree.
    """
    from .sim import _hyperplane

    n_planes, dim = 6, 64
    planes = [_hyperplane(p, dim, seed=7) for p in range(n_planes)]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, [{', '.join(repr(x) for x in pl)}]) > 0 "
        f"THEN {1 << p} ELSE 0 END)::BIGINT"
        for p, pl in enumerate(planes))
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), b AS (
      SELECT vec_id, e, ({bucket}) AS bucket FROM v
    ), q AS (
      SELECT e AS qv, bucket AS qb FROM b WHERE vec_id = 0
    ), topk AS (
      SELECT b.vec_id, b.bucket,
             list_dot_product(b.e, q.qv)
               / (sqrt(list_dot_product(b.e, b.e))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos
      FROM b, q
      WHERE bit_count(xor(b.bucket, q.qb)) <= 2
      ORDER BY cos DESC, b.vec_id LIMIT 20
    )
    SELECT vec_id, bucket, CAST(ROUND(cos, 9) AS DOUBLE) AS cosine FROM topk
    """


@register(
    "q19_ann_topk",
    _q19_sql(),
    doc="LSH-bucketed approximate cosine top-k, oracle-checked (deterministic "
        "hyperplanes embedded as literals in both engines); recall vs exact "
        "baseline is pytest-verified (test_ann_topk_matches_exact_on_clusters)",
)
def q19(spark, sf_dir):
    from .sim import ann_topk

    e = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    out = ann_topk(e, q, k=20, n_planes=6, probe_hamming=2)
    return out.select("vec_id", "bucket",
                      F.round("cosine", 9).cast("double").alias("cosine"))


_IVF_NPROBE, _IVF_K = 3, 20


def _centroid_case_sql(C: list[list[float]]):
    """(dcols, cell_case, lits) for a literal-centroid CASE argmax over a
    relation exposing the vector as ``e`` — the SINGLE DuckDB twin of
    sim.ivf_assign_pandas_exact's first-max tie-break (``>=``, lowest index
    wins).
    q26 (IVF probe) and q68 (SemDeDup clustering) both depend on this
    staying bit-identical to the engine fold; keep it in one place for the
    same reason _md5h_sql exists."""
    n = len(C)

    def lits(c):
        return "[" + ", ".join(repr(float(x)) for x in c) + "]"

    dcols = ",\n             ".join(
        f"list_dot_product(e, {lits(c)}) AS d{i}" for i, c in enumerate(C))
    case_arms = []
    for i in range(n - 1):
        rest = ", ".join(f"d{j}" for j in range(i + 1, n))
        best = f"greatest({rest})" if i < n - 2 else rest
        case_arms.append(f"WHEN d{i} >= {best} THEN {i}")
    cell_case = "CASE " + " ".join(case_arms) + f" ELSE {n - 1} END"
    return dcols, cell_case, lits


def _q26_sql() -> str:
    """DuckDB twin of the served-index IVF path (q19's literal trick applied
    to a trained model): the L2-normalized centroids from
    :mod:`webextract.ivf_snapshot` are embedded as literals in BOTH engines,
    cell assignment is a first-max CASE over sequential-fold dots (bit-equal
    to sim.ivf_assign_pandas_exact), probe ranking orders cells by dot(centroid,
    query) with the same tie-break, and the final cosine is the q15-proven
    list_dot_product form — every float op has an identical twin, so rows,
    cells, and hashes all agree.
    """
    from .ivf_snapshot import IVF_CENTROIDS_SF001 as C

    n = len(C)
    dcols, cell_case, lits = _centroid_case_sql(C)
    probe_cells = "[" + ", ".join(str(i) for i in range(n)) + "]"
    probe_dots = "[" + ", ".join(f"list_dot_product({lits(c)}, qv)" for c in C) + "]"
    cos = ("list_dot_product(a.e, q.qv) / (sqrt(list_dot_product(a.e, a.e)) "
           "* sqrt(list_dot_product(q.qv, q.qv)))")
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), q AS (
      SELECT e AS qv FROM v WHERE vec_id = 0
    ), d AS (
      SELECT vec_id, e,
             {dcols}
      FROM v
    ), assigned AS (
      SELECT vec_id, e, {cell_case} AS cell FROM d
    ), pr AS (
      SELECT cell FROM (
        SELECT unnest({probe_cells}) AS cell, unnest({probe_dots}) AS pd FROM q
      ) ORDER BY pd DESC, cell LIMIT {_IVF_NPROBE}
    )
    SELECT a.vec_id, a.cell, CAST(ROUND({cos}, 9) AS DOUBLE) AS cosine
    FROM assigned a, q
    WHERE a.cell IN (SELECT cell FROM pr)
    ORDER BY {cos} DESC, a.vec_id
    LIMIT {_IVF_K}
    """


@register(
    "q26_ivf_topk",
    _q26_sql(),
    doc="IVF (k-means coarse quantizer) approximate cosine top-k on the "
        "served-index path: centroids trained once (tools/train_ivf.py), "
        "embedded as literals in both engines, assignment + probing + "
        "scoring all bit-reproducible (sequential folds) — full oracle. "
        "The trained path (kmeans_centroids + normalize_centroids) is "
        "pytest-verified (test_ivf_topk_matches_exact_on_clusters).",
)
def q26(spark, sf_dir):
    from .ivf_snapshot import IVF_CENTROIDS_SF001
    from .sim import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    out = ivf_topk(e, q, k=_IVF_K, nprobe=_IVF_NPROBE,
                   centroids=IVF_CENTROIDS_SF001)
    return out.select("vec_id", "cell",
                      F.round("cosine", 9).cast("double").alias("cosine"))


@register(
    "q30_source_profile",
    """
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(((SUM(n_chars) * 20000 + COUNT(*)) // (2 * COUNT(*))) / 10000.0
                AS DOUBLE) AS avg_chars,
           RANK() OVER (ORDER BY SUM(n_chars) DESC, source) AS size_rank
    FROM documents GROUP BY source
    """,
    doc="per-source corpus profile: distinct-count + exact-integer rounded "
        "mean + rank window over grouped aggregates (source-level curation "
        "view a crawl pipeline reports per provider/dump); the global rank "
        "window runs over the POST-aggregation rows — |sources|, not |docs| "
        "— so the single-partition window is bounded at any corpus scale",
)
def q30(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    agg = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        (F.expr("(sum(n_chars) * 20000 + count(*)) div (2 * count(*))")
         / F.lit(10000.0)).cast("double").alias("avg_chars"),
        F.sum("n_chars").alias("_total"),
    )
    w = W.orderBy(F.col("_total").desc(), F.col("source"))
    return (agg.withColumn("size_rank", F.rank().over(w))
               .select("source", "n_docs", "n_langs", "avg_chars", "size_rank"))


_LSH_PAIR_TAU = 0.30
_LSH_PAIR_PLANES = 6


def _q32_sql() -> str:
    """DuckDB twin of pairwise_near(block_col=None): hyperplane-LSH bucket
    blocking (q19's literal-planes trick) + the q15-proven sequential-fold
    cosine — the sub-quadratic scale path of q16's label-blocked join."""
    from .sim import _hyperplane

    dim = 64
    planes = [_hyperplane(p, dim, seed=7) for p in range(_LSH_PAIR_PLANES)]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, [{', '.join(repr(x) for x in pl)}]) > 0 "
        f"THEN {1 << p} ELSE 0 END)::BIGINT"
        for p, pl in enumerate(planes))
    cos = "list_dot_product(a.e, b.e) / (a.nrm * b.nrm)"
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), blk AS (
      SELECT vec_id, e, ({bucket}) AS bucket,
             sqrt(list_dot_product(e, e)) AS nrm
      FROM v
    )
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(ROUND({cos}, 9) AS DOUBLE) AS cosine
    FROM blk a JOIN blk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {cos} >= {_LSH_PAIR_TAU}
    """


@register(
    "q32_lsh_blocked_near_pairs",
    _q32_sql(),
    doc="embedding near-pairs with hyperplane-LSH bucket blocking "
        "(sim.pairwise_near, block_col=None): candidates only within a "
        "shared 6-bit sign bucket, never the cross product — the "
        "sub-quadratic scale path of q16's exact label-blocked join; fully "
        "oracle-checked via literal planes + sequential-fold cosines",
)
def q32(spark, sf_dir):
    from .sim import pairwise_near

    e = _t(spark, sf_dir, "embeddings")
    out = pairwise_near(e, tau=_LSH_PAIR_TAU, n_planes=_LSH_PAIR_PLANES,
                        seed=7, dim=64)
    return out.select("id_a", "id_b",
                      F.round("cosine", 9).cast("double").alias("cosine"))


_Q34_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         {_MD5_60_SQL.format(x=_NORM_TEXT_SQL)} AS text_hash
  FROM documents
), prior AS (
  SELECT DISTINCT text_hash FROM keyed WHERE doc_id % 2 = 0
), new_batch AS (
  SELECT doc_id, text_hash FROM keyed WHERE doc_id % 2 = 1
), fresh AS (
  -- NOT EXISTS (not NOT IN): rows with a NULL fingerprint must be KEPT,
  -- matching Spark's left-anti null semantics
  SELECT * FROM new_batch n
  WHERE NOT EXISTS (SELECT 1 FROM prior p WHERE p.text_hash = n.text_hash)
)
SELECT MIN(doc_id) AS doc_id, text_hash FROM fresh GROUP BY text_hash
"""


@register(
    "q34_incremental_dedup",
    _Q34_SQL,
    doc="cross-crawl incremental dedup (dedup.dedup_against_index): drop new "
        "docs whose content fingerprint exists in the historical index "
        "(here: the even-doc_id half plays the prior crawl), then dedup "
        "within the batch (min id wins). Anti-join + group both key on the "
        "8-byte hash — the 'dedupe today's crawl against everything ever "
        "kept' production shape; fully oracle-checked via md5_60.",
)
def q34(spark, sf_dir):
    from .dedup import dedup_against_index, fingerprint_index

    d = _t(spark, sf_dir, "documents")
    prior = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    idx = fingerprint_index(prior, hash_fn="md5_60")
    return dedup_against_index(new, idx, text_col="text", id_col="doc_id",
                               hash_fn="md5_60")


_QF = dict(min_tokens=5, max_tokens=100_000, min_mwl=2, max_mwl=12,
           stop_ratio_denom=50)

_Q35_SQL = f"""
WITH sig AS (
  SELECT doc_id,
         CAST({_TOK_COUNT_SQL.format(c='text')} AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT)
           AS n_nonspace,
         ({' + '.join(_hits_sql('text', w) for w in _EN_STOPS)}) AS stop_hits
  FROM documents
)
SELECT doc_id, n_tokens, n_nonspace, stop_hits,
       CAST(n_tokens >= {_QF['min_tokens']} AND n_tokens <= {_QF['max_tokens']}
            AND {_QF['min_mwl']} * n_tokens <= n_nonspace
            AND n_nonspace <= {_QF['max_mwl']} * n_tokens
            AND stop_hits * {_QF['stop_ratio_denom']} >= n_tokens
            AS INT) AS keep
FROM sig
"""


@register(
    "q35_gopher_quality_filter",
    _Q35_SQL,
    doc="Gopher/C4-style quality FILTER decision "
        "(analysis.quality_filter_columns): token-count window + mean-word-"
        "length window + minimum stopword ratio, every threshold an INTEGER "
        "cross-multiplication so the keep bit is exact in both engines — "
        "the post-extraction document gate of a training-data pipeline",
)
def q35(spark, sf_dir):
    from .analysis import quality_filter_columns

    d = _t(spark, sf_dir, "documents")
    ntok, nchar, hits, keep = quality_filter_columns("text", **_QF)
    return d.select("doc_id", ntok.alias("n_tokens"), nchar.alias("n_nonspace"),
                    hits.alias("stop_hits"), keep.alias("keep"))


_SALT_BUCKETS = 16


@register(
    "q33_salted_heavy_hitter_agg",
    """
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="two-stage SALTED aggregation (the explicit heavy-hitter/skew "
        "defense of the north rule): pre-aggregate on (key, salt-of-row-id) "
        "so one hot key's rows spread over 16 reducers, then re-aggregate "
        "the 16 partials per key — the second shuffle moves |keys|x16 rows "
        "regardless of skew. DECIMAL partials make the two-stage sum "
        "EXACTLY equal to the direct GROUP BY, which is the oracle: the "
        "query proves salting is result-invariant, not just faster. "
        "(Production twin: the salted url-hash repartition in "
        "sparkjob.extract_df / runner.bucket_col.)",
)
def q33(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    salted = e.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(_SALT_BUCKETS)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.sum(F.col("value").cast(_DEC)).alias("pv"),
        F.count("*").alias("pn"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pv").cast("double").alias("total_value"),
        F.sum("pn").alias("n"),
    )


# --------------------------------------------------------------------------
# BPE-ish token counting + winnowing fingerprints (webextract.analysis)
# --------------------------------------------------------------------------

from .analysis import BPEISH_PATTERN as _BPE_PAT  # noqa: E402


@register(
    "q28_bpeish_token_counts",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_bpeish,
           {_TOK_COUNT_SQL.format(c='text')} AS n_ws,
           CAST(ROUND(CASE WHEN {_TOK_COUNT_SQL.format(c='text')} = 0 THEN 0.0
                ELSE len(regexp_extract_all(text, '{_BPE_PAT}'))
                     / CAST({_TOK_COUNT_SQL.format(c='text')} AS DOUBLE) END, 6)
             AS DOUBLE) AS bpeish_per_word
    FROM documents
    """,
    doc="BPE-ish token counting (letter/digit runs + punctuation marks — the "
        "LLM-budgeting unit) alongside whitespace tokens; portable regex "
        "identical under Java regex and DuckDB RE2",
)
def q28(spark, sf_dir):
    from .analysis import bpeish_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    nb = bpeish_token_count(F.col("text"))
    nw = token_count(F.col("text"))
    return d.select(
        "doc_id",
        nb.alias("n_bpeish"),
        nw.alias("n_ws"),
        F.round(F.when(nw == 0, F.lit(0.0)).otherwise(nb / nw.cast("double")), 6)
         .cast("double").alias("bpeish_per_word"),
    )


_WIN_K, _WIN_W = 3, 4

# gram terms generated from _WIN_K (not hardcoded) so changing the k-gram
# width re-derives the oracle instead of silently desynchronizing it from
# the parameterized Spark call below
_WIN_GRAM_SQL = "concat_ws(chr(95), " + ", ".join(
    f"t[i+{j}]" if j else "t[i]" for j in range(_WIN_K)) + ")"

_Q29_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents
  WHERE length(trim(text)) > 0
), ok AS (
  SELECT doc_id, t FROM toks WHERE len(t) >= {_WIN_K + _WIN_W - 1}
), hashed AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - {_WIN_K - 2}),
           i -> {_md5h_sql(_WIN_GRAM_SQL)}) AS h
  FROM ok
), fps AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(h) - {_WIN_W - 2}),
           j -> list_min(list_slice(h, j, j + {_WIN_W - 1})))) AS fp_set
  FROM hashed
)
SELECT doc_id, unnest(fp_set) AS fp FROM fps
"""


@register(
    "q29_winnow_fingerprints",
    _Q29_SQL,
    doc="winnowing document fingerprints (MOSS k-gram window-min): any shared "
        f"{_WIN_K + _WIN_W - 1}-token run between two docs shares a "
        "fingerprint — position-robust partial-overlap detection; md5_60 "
        "portable hash, fully oracle-checked",
)
def q29(spark, sf_dir):
    from .analysis import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d, id_col="doc_id", text_col="text",
                               k=_WIN_K, window=_WIN_W, hash_fn="md5_60")


# --------------------------------------------------------------------------
# Heterogeneous schema routing (webextract.routing): classify each doc to a
# registered type and extract that type's schema in one conditional
# projection; output is the UniversalExtractionResult shape
# (doc_type, data JSON, error). Oracle mirrors the rules + JSON per-type.
# --------------------------------------------------------------------------

_PAD = "(' ' || lower(text) || ' ')"
_Q27_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN strpos({_PAD}, ' customer ') > 0 THEN 'commerce'
              WHEN strpos({_PAD}, ' vector ') > 0 THEN 'ml'
              WHEN length(trim(text)) > 0 THEN 'general'
              ELSE 'unknown' END AS doc_type
  FROM documents
)
SELECT doc_id, doc_type,
       CASE doc_type
         WHEN 'commerce' THEN to_json(struct_pack(
            n_customer := {_hits_sql('text', 'customer')},
            n_order := {_hits_sql('text', 'order')},
            n_tokens := CAST({_TOK_COUNT_SQL.format(c='text')} AS BIGINT)))::VARCHAR
         WHEN 'ml' THEN to_json(struct_pack(
            n_vector := {_hits_sql('text', 'vector')},
            n_hash := {_hits_sql('text', 'hash')},
            n_tokens := CAST({_TOK_COUNT_SQL.format(c='text')} AS BIGINT)))::VARCHAR
         WHEN 'general' THEN to_json(struct_pack(
            first_token := string_split_regex(trim(text), '\\s+')[1],
            n_tokens := CAST({_TOK_COUNT_SQL.format(c='text')} AS BIGINT)))::VARCHAR
         ELSE NULL END AS data,
       CASE WHEN doc_type = 'unknown' THEN 'Unknown document type'
            ELSE NULL END AS error
FROM base
"""


@register(
    "q27_heterogeneous_routing",
    _Q27_SQL,
    doc="heterogeneous schema routing: rules-based doc_type classification + "
        "per-type schema extraction in one conditional projection "
        "(UniversalExtractionResult shape: doc_type, data JSON, error)",
)
def q27(spark, sf_dir):
    from .routing import documents_registry

    d = _t(spark, sf_dir, "documents")
    return documents_registry().route(d, text_col="text", id_col="doc_id")


# --------------------------------------------------------------------------
# Benchmark decontamination + unigram-LM commonness (round 4)
# --------------------------------------------------------------------------

_DECON_N = 5          # n-gram order of the contamination index
_DECON_BENCH_MOD = 20  # doc_id % MOD == 0 docs form the synthetic benchmark


@register(
    "q60_decontamination",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ), grams AS (
      SELECT DISTINCT doc_id,
             {_md5h_sql("unnest(list_transform(range(1, len(t) - 3), i -> "
                        "concat_ws(chr(95), t[i], t[i+1], t[i+2], t[i+3], "
                        "t[i+4])))")} AS gh
      FROM toks WHERE len(t) >= {_DECON_N}
    ), bench AS (
      SELECT DISTINCT gh FROM grams WHERE doc_id % {_DECON_BENCH_MOD} = 0
    ), hits AS (
      SELECT g.doc_id, COUNT(*) AS n_overlap
      FROM grams g JOIN bench USING (gh)
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(h.n_overlap, 0) > 0 AS INT) AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
    doc="benchmark DECONTAMINATION check — the pre-training hygiene step "
        "that flags corpus documents sharing any 5-gram with an evaluation "
        "set (here a synthetic benchmark = every 20th doc). Scale shape: "
        "grams are hashed to 60-bit keys BEFORE any join (the shuffle and "
        "the broadcast carry longs, never n-gram strings), the benchmark "
        "index is tiny relative to the corpus so it BROADCASTS (zero extra "
        "exchange beyond the gram explode), and per-doc distinct grams "
        "bound the overlap count. Oracle-checked via the portable md5_60 "
        "hash.",
)
def q60(spark, sf_dir):
    from .dedup import HASH_FNS

    d = _t(spark, sf_dir, "documents")

    h, _bits = HASH_FNS["md5_60"]
    toks = (d.filter(F.length(F.trim("text")) > 0)
            .select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
            .filter(F.size("t") >= _DECON_N))
    from .analysis import gram_array as _ga

    gram = _ga(F.col("t"), _DECON_N)
    grams = (toks.select("doc_id", F.explode(gram).alias("g"))
             .select("doc_id", h(F.col("g")).alias("gh")).distinct())
    bench = (grams.filter(F.pmod("doc_id", F.lit(_DECON_BENCH_MOD)) == 0)
             .select("gh").distinct())
    hits = (grams.join(F.broadcast(bench), "gh")
            .groupBy("doc_id").agg(F.count("*").alias("n_overlap")))
    n = F.coalesce(F.col("n_overlap"), F.lit(0))
    return (d.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id", n.cast("long").alias("n_overlap"),
                    (n > 0).cast("int").alias("contaminated")))


@register(
    "q61_unigram_lm_score",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ), words AS (
      SELECT doc_id, unnest(t) AS w FROM toks
    ), tf AS (
      SELECT w, COUNT(*) AS tf_g FROM words GROUP BY w
    )
    SELECT words.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(tf.tf_g) AS BIGINT) AS sum_tf,
           CAST(SUM(tf.tf_g) // COUNT(*) AS BIGINT) AS mean_tf
    FROM words JOIN tf USING (w)
    GROUP BY words.doc_id
    """,
    doc="unigram-LM commonness score (the CCNet-style language-model "
        "filter's integer-exact surrogate): per document, the mean corpus "
        "frequency of its tokens — low scores mark gibberish/rare-token "
        "soup, implausibly high scores mark stopword/boilerplate soup; "
        "both tails are what LM-perplexity filtering removes. Plan: one "
        "shuffle to build the term-frequency table, one term-keyed join "
        "back (the tf side is |vocab|, orders of magnitude smaller than "
        "the corpus), one per-doc aggregate; integer `div` == DuckDB `//` "
        "keeps the score bit-exact (at 10^12 docs switch sum_tf to "
        "decimal(38,0) — the shape is unchanged).",
)
def q61(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = (d.filter(F.length(F.trim("text")) > 0)
             .select("doc_id", F.explode(
                 F.split(F.trim("text"), r"\s+")).alias("w")))
    tf = words.groupBy("w").agg(F.count("*").alias("tf_g"))
    per = (words.join(tf, "w")
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_tokens"),
                F.sum("tf_g").alias("sum_tf")))
    return per.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("sum_tf").cast("long").alias("sum_tf"),
        F.expr("sum_tf div n_tokens").cast("long").alias("mean_tf"))


_BKQ_K = 64
_BKQ_PERMILLES = (500, 900, 990)


@register(
    "q64_quantile_sketch",
    f"""
    WITH h AS (
      SELECT event_type, event_id, value,
             {_md5h_sql('CAST(event_id AS VARCHAR)')} AS hh
      FROM events
    ), sampled AS (
      SELECT event_type, event_id, value FROM (
        SELECT event_type, event_id, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY hh, event_id) AS rn
        FROM h) WHERE rn <= {_BKQ_K}
    ), ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) - 1 AS i
      FROM sampled
    ), sizes AS (
      SELECT event_type, COUNT(*) AS n FROM sampled GROUP BY event_type
    )
    SELECT r.event_type, CAST(n AS BIGINT) AS n_sample,
           {', '.join(
               f"CAST(MAX(CASE WHEN i = ((n - 1) * {p}) // 1000 "
               f"THEN value END) AS DOUBLE) AS p{p}"
               for p in _BKQ_PERMILLES)}
    FROM ranked r JOIN sizes USING (event_type)
    GROUP BY r.event_type, n
    """,
    doc="mergeable QUANTILE sketch per event_type "
        "(analysis.bottomk_quantiles): a deterministic uniform row sample "
        "(the k rows with the smallest id-hash) + exact-integer quantile "
        "indexing over the (value, id) total order — the third classic "
        "sketch family next to KMV (distinct, q48) and Count-Min "
        "(frequency, q54). Pure function of the row ids: re-partitioning "
        "or merging two groups' samples reproduces the identical sketch, "
        "and the DuckDB oracle recomputes it bit-for-bit "
        "(percentile_approx's GK summary never could). WindowGroupLimit "
        "pre-trims each task to its local k per group before the exchange.",
)
def q64(spark, sf_dir):
    from .analysis import bottomk_quantiles

    e = _t(spark, sf_dir, "events")
    return bottomk_quantiles(e, group_col="event_type", value_col="value",
                             id_col="event_id", k=_BKQ_K,
                             permilles=_BKQ_PERMILLES)


_PACK_CAP, _PACK_SHARDS = 8192, 8


@register(
    "q65_sequence_packing",
    f"""
    WITH h AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS tokens,
             {_md5h_sql('CAST(doc_id AS VARCHAR)')} AS hh
      FROM documents
    ), ordered AS (
      SELECT doc_id, tokens, hh % {_PACK_SHARDS} AS shard,
             SUM(tokens) OVER (PARTITION BY hh % {_PACK_SHARDS}
                               ORDER BY hh, doc_id
                               ROWS UNBOUNDED PRECEDING) - tokens AS off
      FROM h
    )
    SELECT doc_id, tokens, CAST(shard AS BIGINT) AS shard,
           CAST(off AS BIGINT) AS "offset",
           CAST(off // {_PACK_CAP} AS BIGINT) AS first_chunk,
           CAST(CASE WHEN tokens > 0 THEN (off + tokens - 1) // {_PACK_CAP}
                ELSE off // {_PACK_CAP} END AS BIGINT) AS last_chunk,
           CAST(CASE WHEN tokens > 0 THEN (off + tokens - 1) // {_PACK_CAP}
                     - off // {_PACK_CAP} + 1
                ELSE 0 END AS BIGINT) AS n_chunks
    FROM ordered
    """,
    doc="SEQUENCE PACKING (sampling.pack_sequences, concat-and-chunk): "
        "per document, the context-length training chunks it occupies in "
        "its shard's concatenated token stream — the GPT-style "
        "batch-assembly step between curation and the dataloader. "
        "Hash-sharded streams keep every running-sum window independent "
        "(no single-partition global sort — the classic scale cliff); the "
        "assignment is a pure function of (ids, capacity, shards), so the "
        "oracle reproduces it bit-for-bit on any engine.",
)
def q65(spark, sf_dir):
    from .sampling import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, id_col="doc_id", tokens_col="n_chars",
                          capacity=_PACK_CAP, shards=_PACK_SHARDS)


_BLOOM_M, _BLOOM_D = 4096, 5


@register(
    "q66_bloom_membership",
    f"""
    WITH seeds AS (
      SELECT unnest([{', '.join(str(i) for i in range(_BLOOM_D))}]) AS i
    ), idx AS (
      SELECT text AS k FROM documents WHERE doc_id % 4 = 0
    ), bits AS (
      SELECT DISTINCT {_md5h_sql("k || '|' || i")} % {_BLOOM_M} AS pos
      FROM idx CROSS JOIN seeds
    ), pc AS (
      SELECT d.doc_id, {_md5h_sql("d.text || '|' || s.i")} % {_BLOOM_M} AS pos
      FROM documents d CROSS JOIN seeds s
    ), hits AS (
      SELECT pc.doc_id,
             SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS h
      FROM pc LEFT JOIN bits b USING (pos)
      GROUP BY pc.doc_id
    )
    SELECT doc_id, CAST(h = {_BLOOM_D} AS INT) AS maybe_present,
           CAST(doc_id % 4 = 0 AS INT) AS in_index
    FROM hits
    """,
    doc="BLOOM membership sketch (analysis.bloom_bits/bloom_probe) — the "
        "fourth mergeable-structure family next to KMV (distinct), "
        "Count-Min (frequency), and bottom-k (quantiles). The scale role: "
        "front-line of cross-crawl incremental dedup — probe a batch "
        "against the historical index's <= m bit positions (broadcast "
        "join) and pay the exact anti-join only for probable hits; no "
        "false negatives ever. Built from the seeded md5_60 like the CMS "
        "grid, so the oracle rebuilds the identical bits and probes; "
        "in_index is the visible ground truth (every in_index=1 row MUST "
        "show maybe_present=1).",
)
def q66(spark, sf_dir):
    from .analysis import bloom_bits, bloom_probe

    d = _t(spark, sf_dir, "documents")
    idx = d.filter(F.pmod("doc_id", F.lit(4)) == 0).select(
        F.col("text").alias("k"))
    bits = bloom_bits(idx, key="k", m=_BLOOM_M, d=_BLOOM_D)
    probed = bloom_probe(d, bits, id_col="doc_id", key=F.col("text"),
                         m=_BLOOM_M, d=_BLOOM_D)
    return probed.withColumn(
        "in_index", (F.pmod("doc_id", F.lit(4)) == 0).cast("int"))


# --------------------------------------------------------------------------
# Round 4 (cont.): retrieval, semantic dedup, domain reputation, DSIR,
# substring dedup, mixture weights
# --------------------------------------------------------------------------

_BM25_QUERIES = {1: ["hash", "join"], 2: ["window", "agg", "sort"],
                 3: ["vector", "scan"]}
_BM25_K = 10


def _q67_sql(k: int = _BM25_K) -> str:
    from .retrieval import B_X1000, IDF_SCALE, K1_X10, TF_SCALE

    qvals = ", ".join(
        f"({qid}, '{w}')"
        for qid, ws in sorted(_BM25_QUERIES.items()) for w in sorted(set(ws)))
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ), dl AS (
      SELECT doc_id, len(t) AS dl FROM toks
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) // COUNT(*) AS avgdl FROM dl
    ), words AS (
      SELECT doc_id, unnest(t) AS w FROM toks
    ), qterms(query_id, w) AS (VALUES {qvals}),
    post AS (
      SELECT w, doc_id, COUNT(*) AS tf FROM words
      WHERE w IN (SELECT w FROM qterms) GROUP BY w, doc_id
    ), dft AS (
      SELECT w, COUNT(*) AS df FROM post GROUP BY w
    ), scored AS (
      -- the idf*tf product is widened (HUGEINT here, decimal(38,0) on the
      -- engine side) before the // — a raw int64 product wraps at ~5e7
      -- docs with a df=1 term
      SELECT q.query_id, p.doc_id,
             SUM(CAST((CAST((((s.n_docs - d.df) * {IDF_SCALE})
                             // (d.df + 1)) AS HUGEINT)
                  * ((p.tf * {TF_SCALE} * {IDF_SCALE})
                     // (p.tf * {TF_SCALE}
                         + {K1_X10} * (250 + ({B_X1000} * l.dl) // s.avgdl))))
                 // {IDF_SCALE} AS BIGINT)) AS score
      FROM post p
      JOIN qterms q USING (w) JOIN dft d USING (w) JOIN dl l USING (doc_id),
           stats s
      GROUP BY q.query_id, p.doc_id
    )
    SELECT CAST(query_id AS INT) AS query_id, CAST(rank AS INT) AS rank,
           doc_id, CAST(score AS BIGINT) AS score
    FROM (
      SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "q67_bm25_retrieval",
    _q67_sql(),
    doc="inverted-index ranked retrieval (retrieval.bm25_topk): postings "
        "(term, doc, tf) built with ONE map-side-combined aggregate over "
        "only the query vocabulary (the filter precedes the shuffle), df + "
        "avgdl as broadcast-sized stats, and an INTEGER-EXACT BM25 "
        "surrogate (k1=1.2, b=0.75 pre-scaled; idf and tf-saturation both "
        "div-based, q46's no-float-log rule) so scores are bit-reproducible "
        "across engines and shuffle orders — float BM25 is not. Top-k per "
        "query is a WindowGroupLimit, never a global sort. At 10^12 docs "
        "the postings table is written bucketed by term and the idf "
        "products move to decimal(38,0) (docstring'd in retrieval.py).",
)
def q67(spark, sf_dir):
    from .retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, _BM25_QUERIES, k=_BM25_K)


_SEMDEDUP_TAU = 0.4


def _q68_sql() -> str:
    from .ivf_snapshot import IVF_CENTROIDS_SF001 as C

    dcols, cell_case, _lits = _centroid_case_sql(C)
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), d AS (
      SELECT vec_id, e,
             {dcols}
      FROM v
    ), assigned AS (
      SELECT vec_id, e, {cell_case} AS cluster,
             sqrt(list_dot_product(e, e)) AS nrm
      FROM d
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= {_SEMDEDUP_TAU}
    )
    SELECT n.vec_id, CAST(n.cluster AS INT) AS cluster,
           CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM assigned n LEFT JOIN dropped dr ON n.vec_id = dr.vec_id
    """


@register(
    "q68_semdedup",
    _q68_sql(),
    doc="SemDeDup (Abbas et al. 2023) semantic dedup: k-means cluster "
        "assignment (the q26 served-centroid fold — literal centroids, "
        "bit-reproducible CASE argmax) + within-cluster cosine pruning via "
        "the q16/q32-proven blocked self-join; a vector is dropped iff a "
        "smaller-id cluster-mate sits above tau (min-id dominance — no "
        "transitive closure needed). Candidate cost is cluster "
        "co-occupancy, never corpus²; at 10^12 scale the cluster id is the "
        "partition key and clusters prune independently (the paper's "
        "design point). Full oracle: every float op has an identical "
        "DuckDB twin, so cluster ids, cosine compares, and kept flags all "
        "agree bit-for-bit.",
)
def q68(spark, sf_dir):
    from .ivf_snapshot import IVF_CENTROIDS_SF001
    from .sim import semdedup

    e = _t(spark, sf_dir, "embeddings")
    return semdedup(e, tau=_SEMDEDUP_TAU, centroids=IVF_CENTROIDS_SF001)


_REP_SHORT_CHARS = 150      # doc is "short" below this many chars
_REP_SHORT_PERMILLE = 200   # source tier drops to low above this short rate
_REP_HIGH_MEAN_X10 = 3000   # mean chars x10 at/above which tier is high


_Q69_SQL = f"""
WITH k AS (
  SELECT doc_id, source, n_chars,
         {_MD5_60_SQL.format(x='text')} AS h
  FROM documents
), hdup AS (
  SELECT h FROM k GROUP BY h HAVING COUNT(*) >= 2
), rep AS (
  SELECT source, COUNT(*) AS n_docs,
         (SUM(CASE WHEN h IN (SELECT h FROM hdup) THEN 1 ELSE 0 END) * 1000)
           // COUNT(*) AS dup_permille,
         (SUM(CASE WHEN n_chars < {_REP_SHORT_CHARS} THEN 1 ELSE 0 END)
           * 1000) // COUNT(*) AS short_permille,
         (SUM(n_chars) * 10) // COUNT(*) AS mean_chars_x10
  FROM k GROUP BY source
), tiered AS (
  SELECT *,
         CASE WHEN dup_permille > 300 OR short_permille > {_REP_SHORT_PERMILLE}
                THEN 'low'
              WHEN mean_chars_x10 >= {_REP_HIGH_MEAN_X10} THEN 'high'
              ELSE 'mid' END AS tier
  FROM rep
)
SELECT k.doc_id, k.source, t.tier,
       CAST(t.dup_permille AS BIGINT) AS dup_permille,
       CAST(t.short_permille AS BIGINT) AS short_permille,
       CAST(CASE WHEN t.tier = 'low' THEN 0 ELSE 1 END AS INT) AS keep
FROM k JOIN tiered t USING (source)
"""


@register(
    "q69_domain_reputation",
    _Q69_SQL,
    doc="domain/source reputation gating (the RefinedWeb/C4 domain-level "
        "filter): per-source signals — exact-dup rate (md5_60 content "
        "hash), short-doc rate, mean length — aggregated once (integer "
        "permilles, no float), classified into low/mid/high tiers, then "
        "BROADCAST-joined back to gate every document. Plan: one "
        "corpus-sized hash-agg for the dup index, one source-sized "
        "reputation aggregate, one broadcast join — the per-doc stream "
        "never shuffles on the gate path. At 10^12 docs the reputation "
        "table is |domains| (~10^8) rows: still a broadcast at the "
        "registrable-domain level, else a bucketed join on domain.",
)
def q69(spark, sf_dir):
    from .dedup import HASH_FNS

    h, _ = HASH_FNS["md5_60"]
    d = _t(spark, sf_dir, "documents")
    k = d.select("doc_id", "source", "n_chars", h(F.col("text")).alias("h"))
    hdup = (k.groupBy("h").agg(F.count("*").alias("c"))
            .filter(F.col("c") >= 2).select("h"))
    flagged = (k.join(hdup.withColumn("_dup", F.lit(1)), "h", "left")
               .withColumn("is_dup", F.coalesce("_dup", F.lit(0))))
    rep = flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr("(sum(is_dup) * 1000) div count(*)").alias("dup_permille"),
        F.expr(f"(sum(CASE WHEN n_chars < {_REP_SHORT_CHARS} THEN 1 ELSE 0 "
               f"END) * 1000) div count(*)").alias("short_permille"),
        F.expr("(sum(n_chars) * 10) div count(*)").alias("mean_chars_x10"),
    )
    tier = (F.when((F.col("dup_permille") > 300)
                   | (F.col("short_permille") > _REP_SHORT_PERMILLE), "low")
            .when(F.col("mean_chars_x10") >= _REP_HIGH_MEAN_X10, "high")
            .otherwise("mid"))
    tiered = rep.withColumn("tier", tier)
    return (
        k.select("doc_id", "source")
        .join(F.broadcast(tiered), "source")
        .select("doc_id", "source", "tier",
                F.col("dup_permille").cast("long").alias("dup_permille"),
                F.col("short_permille").cast("long").alias("short_permille"),
                F.when(F.col("tier") == "low", 0).otherwise(1)
                .cast("int").alias("keep"))
    )


_DSIR_BUCKETS = 4096
_DSIR_TARGET_MOD = 20  # doc_id % MOD == 0 docs define the target distribution


_Q70_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), words AS (
  SELECT doc_id, ({_MD5_60_SQL.format(x='unnest(t)')}) % {_DSIR_BUCKETS} AS b
  FROM toks
), raw AS (
  SELECT b, COUNT(*) AS raw_c FROM words GROUP BY b
), tgt AS (
  SELECT b, COUNT(*) AS tgt_c FROM words
  WHERE doc_id % {_DSIR_TARGET_MOD} = 0 GROUP BY b
)
SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(((coalesce(t.tgt_c, 0) + 1) * 1000000) // (r.raw_c + 1))
            // COUNT(*) AS BIGINT) AS weight_x1e6
FROM words w JOIN raw r USING (b) LEFT JOIN tgt t USING (b)
GROUP BY w.doc_id
"""


@register(
    "q70_dsir_importance",
    _Q70_SQL,
    doc="DSIR importance weighting (Xie et al. 2023, Data Selection via "
        "Importance Resampling): documents scored by how much their hashed "
        "unigram distribution resembles a target subset (here doc_id % 20 "
        "== 0, the q60 convention) vs the raw corpus — the likelihood "
        "ratio surrogate sum((tgt[b]+1)*1e6 div (raw[b]+1)) div n_tokens, "
        "integer-exact with add-one smoothing, no float log. Plan: tokens "
        "hash into a FIXED 4096-bucket feature space, so both frequency "
        "tables are bounded broadcasts at any corpus size; the per-doc "
        "score is one map-side-combined aggregate over the token stream. "
        "High scores -> resample toward the target domain.",
)
def q70(spark, sf_dir):
    from .dedup import HASH_FNS

    h, _ = HASH_FNS["md5_60"]
    d = _t(spark, sf_dir, "documents")
    words = (d.filter(F.length(F.trim("text")) > 0)
             .select("doc_id",
                     F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
             .select("doc_id",
                     F.pmod(h(F.col("w")), F.lit(_DSIR_BUCKETS)).alias("b")))
    # r6: raw and tgt counts in ONE aggregation pass (guide §2.4 — the two
    # separate aggregates re-evaluated the explode+md5 token stream twice
    # and joined twice); a bucket with no target tokens now carries
    # tgt_c = 0, exactly what coalesce(tgt_c, 0) produced after the old
    # left join, so the integer scores are unchanged.
    # The explicit repartition("b") gives the stats aggregate and the
    # per-doc scoring pass ONE shared exchange (ReusedExchange): the
    # explode+md5 token stream evaluates once instead of twice, for one
    # extra ~16-byte-per-token shuffle.
    words = words.repartition("b")
    stats = words.groupBy("b").agg(
        F.count("*").alias("raw_c"),
        F.sum(F.when(F.pmod("doc_id", F.lit(_DSIR_TARGET_MOD)) == 0, 1)
              .otherwise(0)).alias("tgt_c"))
    return (
        words.join(F.broadcast(stats), "b")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_tokens"),
             F.expr("sum(((tgt_c + 1) * 1000000) div "
                    "(raw_c + 1)) div count(*)")
             .cast("long").alias("weight_x1e6"))
    )


_SUBSTR_K = 8


_Q71_SQL = f"""
WITH toks AS (
  SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), sized AS (
  SELECT id, len(t) AS n_tokens, t FROM toks
), grams AS (
  SELECT id, i - 1 AS start,
         {_MD5_60_SQL.format(
             x="concat_ws(chr(95), t[i], t[i+1], t[i+2], t[i+3], t[i+4], "
               "t[i+5], t[i+6], t[i+7])")} AS gh
  FROM (
    SELECT id, t, unnest(range(1, n_tokens - {_SUBSTR_K} + 2)) AS i
    FROM sized WHERE n_tokens >= {_SUBSTR_K}
  )
), dupg AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2
), pos AS (
  SELECT id, start, start + {_SUBSTR_K} AS fin FROM grams
  WHERE gh IN (SELECT gh FROM dupg)
), isl AS (
  SELECT id, start, fin,
         CASE WHEN prev_max_end IS NULL OR start > prev_max_end
              THEN 1 ELSE 0 END AS new_island
  FROM (
    SELECT id, start, fin,
           MAX(fin) OVER (PARTITION BY id ORDER BY start
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max_end
    FROM pos
  )
), grp AS (
  SELECT id, start, fin,
         SUM(new_island) OVER (PARTITION BY id ORDER BY start
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
), cov AS (
  SELECT id, SUM(covered) AS covered_tokens FROM (
    SELECT id, island, MAX(fin) - MIN(start) AS covered
    FROM grp GROUP BY id, island
  ) GROUP BY id
)
SELECT s.id AS doc_id, CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       CAST((coalesce(c.covered_tokens, 0) * 1000) // s.n_tokens AS BIGINT)
         AS dup_permille
FROM sized s LEFT JOIN cov c ON s.id = c.id
"""


@register(
    "q71_dup_substring_spans",
    _Q71_SQL,
    doc="duplicated-substring coverage (dedup.dup_substring_spans — the "
        "distributed surrogate of Lee et al. 2022's ExactSubstr suffix "
        "array): every token position whose 8-token window repeats "
        "anywhere in the corpus is marked, per-doc [start, start+8) "
        "intervals merge with ONE gaps-and-islands window, and the doc "
        "reports its duplicated-token fraction. The corpus-sized shuffle "
        "carries (60-bit gram hash, position) only — text never moves; "
        "the interval window partitions by doc over just the duplicated "
        "positions. Oracle via the portable md5_60 gram hash.",
)
def q71(spark, sf_dir):
    from .dedup import dup_substring_spans

    d = _t(spark, sf_dir, "documents")
    return dup_substring_spans(d, k=_SUBSTR_K, hash_fn="md5_60")


_MIX_QUOTA = 1_000_000  # true parts-per-million (the column says ppm)


_Q72_SQL = f"""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
  FROM documents GROUP BY source
), w AS (
  SELECT source, n_docs, total_chars,
         CAST(FLOOR(SQRT(total_chars)) AS BIGINT) AS weight
  FROM s
), tot AS (
  SELECT SUM(weight) AS wsum FROM w
)
SELECT w.source, CAST(w.n_docs AS BIGINT) AS n_docs,
       CAST(w.total_chars AS BIGINT) AS total_chars,
       CAST(w.weight AS BIGINT) AS weight,
       CAST((w.weight * {_MIX_QUOTA}) // t.wsum AS BIGINT) AS quota_ppm
FROM w, tot t
"""


@register(
    "q72_mixture_weights",
    _Q72_SQL,
    doc="temperature-scaled source mixture weights (the multinomial "
        "alpha=0.5 sampling rule of multilingual/multi-corpus pretraining, "
        "Conneau & Lample 2019): per-source mass^alpha via floor(sqrt) — "
        "exact across engines because IEEE sqrt is correctly rounded and "
        "the integer gap exceeds one ulp below ~2^52 (above that, switch "
        "to a decimal isqrt; shape unchanged) — normalized to an integer "
        "ppm quota with div. Plan: one source-sized aggregate + one "
        "scalar-broadcast normalization; downstream sampling consumes the "
        "quota with sampling.hash_sample (q38's deterministic gate).",
)
def q72(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count("*").alias("n_docs"),
                                F.sum("n_chars").alias("total_chars"))
    w = s.withColumn("weight",
                     F.floor(F.sqrt(F.col("total_chars"))).cast("long"))
    tot = w.agg(F.sum("weight").alias("wsum"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select("source", F.col("n_docs").cast("long").alias("n_docs"),
                F.col("total_chars").cast("long").alias("total_chars"),
                F.col("weight").cast("long").alias("weight"),
                F.expr(f"(weight * {_MIX_QUOTA}) div wsum")
                .cast("long").alias("quota_ppm"))
    )


_PREP_CAP = 2048
_PREP_SHARDS = 32
_PREP_GRAM_N = 5
_PREP_BENCH_MOD = 20


def _q73_sql() -> str:
    g = _md5h_sql(
        "concat_ws(chr(95), " +
        ", ".join(f"t[i+{j}]" for j in range(_PREP_GRAM_N)) + ")")
    idh = _md5h_sql("CAST(id AS VARCHAR)")
    return f"""
    WITH base AS (
      SELECT doc_id AS id, source,
             string_split_regex(trim(text), '\\s+') AS t,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END
               AS n_tokens
      FROM documents
    ), grams AS (
      SELECT DISTINCT id, {g} AS gh
      FROM (
        SELECT id, t, unnest(range(1, n_tokens - {_PREP_GRAM_N} + 2)) AS i
        FROM base WHERE n_tokens >= {_PREP_GRAM_N}
      )
    ), bench_idx AS (
      SELECT DISTINCT gh FROM grams WHERE id % {_PREP_BENCH_MOD} = 0
    ), hits AS (
      SELECT DISTINCT id FROM grams WHERE gh IN (SELECT gh FROM bench_idx)
    ), clean AS (
      SELECT id, source, CAST(n_tokens AS BIGINT) AS n_tokens FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.id = b.id)
    ), mass AS (
      SELECT source, SUM(n_tokens) AS m FROM clean GROUP BY source
    ), tot AS (
      SELECT SUM(m) AS sum_m,
             SUM(CAST(FLOOR(SQRT(m)) AS BIGINT)) AS sum_w
      FROM mass
    ), rates AS (
      SELECT source,
             CASE WHEN m = 0 THEN 1000
                  ELSE LEAST(1000, (CAST(FLOOR(SQRT(m)) AS BIGINT)
                                    * t.sum_m * 1000) // (t.sum_w * m))
             END AS rate
      FROM mass, tot t
    ), mixed AS (
      SELECT c.id, c.source, c.n_tokens AS tokens, ({idh}) AS hh
      FROM clean c JOIN rates r USING (source)
      WHERE ({idh}) % 1000 < r.rate
    ), ordered AS (
      SELECT id, source, tokens, hh % {_PREP_SHARDS} AS shard,
             SUM(tokens) OVER (PARTITION BY hh % {_PREP_SHARDS}
                               ORDER BY hh, id
                               ROWS UNBOUNDED PRECEDING) - tokens AS off
      FROM mixed
    )
    SELECT id AS doc_id, source, tokens, CAST(shard AS BIGINT) AS shard,
           CAST(off AS BIGINT) AS "offset",
           CAST(off // {_PREP_CAP} AS BIGINT) AS first_chunk,
           CAST(CASE WHEN tokens > 0 THEN (off + tokens - 1) // {_PREP_CAP}
                ELSE off // {_PREP_CAP} END AS BIGINT) AS last_chunk,
           CAST(CASE WHEN tokens > 0 THEN (off + tokens - 1) // {_PREP_CAP}
                     - off // {_PREP_CAP} + 1
                ELSE 0 END AS BIGINT) AS n_chunks
    FROM ordered
    """


@register(
    "q73_pretrain_prep",
    _q73_sql(),
    doc="the composed PRETRAINING-DATA PREP recipe (pipeline.pretrain_prep "
        "— the second end-to-end recipe after pipeline.curate): "
        "decontaminate vs a benchmark's hashed 5-gram index (q60's "
        "broadcast-overlap drop), rebalance sources to alpha=0.5 "
        "temperature quotas (q72's isqrt weights -> integer permille keep "
        "rates -> q38's deterministic hash gate; downsample-only), then "
        "pack the survivors into 2048-token training chunks over 32 "
        "hash-sharded streams (q65's running-sum assignment, no global "
        "window). Every stage is the library operator; the oracle "
        "re-derives the whole composition in one DuckDB query, so stage "
        "interactions (who got dropped, at what rate, landing where) are "
        "checked end-to-end, not just per-stage.",
)
def q73(spark, sf_dir):
    from .pipeline import pretrain_prep

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.pmod("doc_id", F.lit(_PREP_BENCH_MOD)) == 0)
    out, _report = pretrain_prep(d, bench, capacity=_PREP_CAP,
                                 shards=_PREP_SHARDS, gram_n=_PREP_GRAM_N)
    return out


_RRF_K = 60          # the standard RRF damping constant
_RRF_SCALE = 1_000_000
_RRF_TOPN = 20       # depth of each input list
_RRF_OUT = 10


def _q74_sql() -> str:
    # the BM25 input list must be cut at the SAME depth the Spark side
    # uses (TOPN), not q67's display k — a shallower oracle list would
    # zero out rank-11..20 contributions and only agree by luck
    bm25 = _q67_sql(k=_RRF_TOPN)
    return f"""
    WITH bm AS (
      SELECT doc_id, rank FROM ({bm25}) WHERE query_id = 1
    ), cos AS (
      -- raw-cosine ordering matches sim.cosine_topk exactly: the fold
      -- doubles are bit-identical across engines, so no rounding needed
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
      FROM (
        WITH q AS (
          SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id,
               list_dot_product(list_transform(e.embedding,
                                               x -> CAST(x AS DOUBLE)), q.qv)
                 / (sqrt(list_dot_product(
                        list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                        list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                    * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
        FROM embeddings e, q WHERE e.vec_id != 0
        ORDER BY cosine DESC, e.vec_id LIMIT {_RRF_TOPN}
      )
    ), fused AS (
      SELECT coalesce(bm.doc_id, cos.doc_id) AS doc_id,
             coalesce(({_RRF_SCALE} // ({_RRF_K} + bm.rank)), 0)
               + coalesce(({_RRF_SCALE} // ({_RRF_K} + cos.rank)), 0)
               AS rrf_score,
             CAST(coalesce(bm.rank, 0) AS BIGINT) AS bm25_rank,
             CAST(coalesce(cos.rank, 0) AS BIGINT) AS cosine_rank
      FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id
    )
    SELECT doc_id, CAST(rrf_score AS BIGINT) AS rrf_score,
           bm25_rank, cosine_rank
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_OUT}
    """


@register(
    "q74_hybrid_rrf_fusion",
    _q74_sql(),
    doc="hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. "
        "2009): the BM25 lexical list (q67, query 1) and the cosine "
        "embedding list (q15's brute-force top-k as the dense retriever, "
        "vec_id joined as doc_id — the standard doc<->embedding "
        "alignment) merge by rrf = sum(1e6 div (60 + rank)) — "
        "integer-exact, engine-reproducible, and rank-only (RRF's whole "
        "point: no score calibration across retrievers). Plan: both "
        "lists are top-N (bounded) before the FULL OUTER fuse, so the "
        "fusion cost is O(N), independent of corpus size; at scale each "
        "retriever list arrives pre-cut from its own index.",
)
def q74(spark, sf_dir):
    from .retrieval import bm25_topk
    from .sim import cosine_topk

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    bm = (bm25_topk(d, {1: _BM25_QUERIES[1]}, k=_RRF_TOPN)
          .select("doc_id", F.col("rank").cast("long").alias("bm_rank")))
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).first().embedding]
    cos = (cosine_topk(e.filter(F.col("vec_id") != 0), qv, k=_RRF_TOPN)
           .select(F.col("vec_id").alias("doc_id"),
                   F.row_number().over(
                       W.orderBy(F.col("cosine").desc(), "vec_id"))
                   .cast("long").alias("cos_rank")))
    fused = (bm.join(cos, "doc_id", "full_outer")
             .select(
                 "doc_id",
                 (F.coalesce(F.expr(f"{_RRF_SCALE} div ({_RRF_K} + bm_rank)"),
                             F.lit(0))
                  + F.coalesce(F.expr(f"{_RRF_SCALE} div ({_RRF_K} + cos_rank)"),
                               F.lit(0))).cast("long").alias("rrf_score"),
                 F.coalesce("bm_rank", F.lit(0)).cast("long")
                 .alias("bm25_rank"),
                 F.coalesce("cos_rank", F.lit(0)).cast("long")
                 .alias("cosine_rank")))
    return (fused.orderBy(F.col("rrf_score").desc(), "doc_id")
            .limit(_RRF_OUT))


_ADAPT_PERMILLE = 100  # drop the bottom 10% by the metric


_Q75_SQL = f"""
WITH hist AS (
  SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY n_chars
), n AS (
  SELECT SUM(c) AS n_docs FROM hist
), cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_c
  FROM hist
), thr AS (
  SELECT MIN(v) AS threshold FROM cum, n
  WHERE cum_c * 1000 >= n.n_docs * {_ADAPT_PERMILLE}
)
SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
       CAST(t.threshold AS BIGINT) AS threshold,
       CAST(d.n_chars >= t.threshold AS INT) AS keep
FROM documents d, thr t
"""


@register(
    "q75_adaptive_quantile_gate",
    _Q75_SQL,
    doc="data-dependent quality gating: the filter threshold is the "
        "corpus's own 10th percentile of the metric (here n_chars), "
        "computed as an EXACT ordinal statistic — the smallest value whose "
        "running count covers 10% of docs — then broadcast back as a gate. "
        "The adaptive twin of q35's fixed Gopher thresholds: recalibrates "
        "per corpus/dump instead of hard-coding. Plan: a value-histogram "
        "aggregate (|distinct metric values| rows — metrics are bucketed "
        "ints at scale, so this is bounded), ONE running-sum window over "
        "that small relation (never over docs), a scalar threshold "
        "broadcast to the gate — the per-doc path has zero exchanges. "
        "Integer cross-multiplication (cum*1000 >= n*permille) keeps the "
        "rank rule float-free and engine-exact.",
)
def q75(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    hist = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").alias("c"))
    cum = hist.withColumn(
        "cum_c", F.sum("c").over(
            W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)))
    n = hist.agg(F.sum("c").alias("n_docs"))
    thr = (cum.crossJoin(F.broadcast(n))
           .filter(F.col("cum_c") * 1000 >= F.col("n_docs") * _ADAPT_PERMILLE)
           .agg(F.min("v").alias("threshold")))
    return (d.crossJoin(F.broadcast(thr))
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"),
                    F.col("threshold").cast("long").alias("threshold"),
                    (F.col("n_chars") >= F.col("threshold")).cast("int")
                    .alias("keep")))


_SPLIT_BUCKETS = 10  # hash(source) % 10 -> 0-7 train, 8 val, 9 test


_Q76_SQL = f"""
WITH b AS (
  SELECT doc_id, source,
         ({_MD5_60_SQL.format(x='source')}) % {_SPLIT_BUCKETS} AS bucket
  FROM documents
)
SELECT doc_id, source,
       CASE WHEN bucket <= 7 THEN 'train'
            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
FROM b
"""


@register(
    "q76_group_aware_split",
    _Q76_SQL,
    doc="leakage-safe train/val/test assignment: the split is decided by "
        "hash(SOURCE), not hash(doc) — every document from one "
        "source/domain lands in the same split, so near-duplicate pages "
        "from a single site can never straddle train and eval (the "
        "group-aware split rule of ML hygiene; a per-doc split leaks "
        "templates). Zero shuffles — one codegen'd projection; "
        "deterministic and stable as the corpus grows (q38's hash-gate "
        "property, applied at the group key).",
)
def q76(spark, sf_dir):
    from .sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    b = hash_bucket("source", buckets=_SPLIT_BUCKETS, hash_fn="md5_60")
    return d.select(
        "doc_id", "source",
        F.when(b <= 7, "train").when(b == 8, "val").otherwise("test")
        .alias("split"))


_BPE_MERGES = 6


def _bpe_ctes() -> str:
    """The BPE training loop as generated chained CTEs (shared by q77 and
    q78): reps_i -> pair counts -> best pair -> double-pass anchored
    replace -> reps_{i+1}. The merge primitive is the same double replace
    the engine loop uses (bpe.merge_expr semantics), built from the best_i
    row itself: search = chr(31)||pair||chr(31), replacement strips the
    inner SEP."""
    sep = "chr(31)"
    cte = [f"""
    words AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents WHERE length(trim(text)) > 0
      ) GROUP BY word
    ), reps0 AS (
      SELECT cnt, {sep} || array_to_string(string_split(word, ''), {sep})
             || {sep} || '</w>' || {sep} AS rep
      FROM words
    )"""]
    for i in range(_BPE_MERGES):
        cte.append(f"""
    sym{i} AS (
      SELECT cnt, list_slice(string_split(rep, {sep}), 2,
                             len(string_split(rep, {sep})) - 1) AS s
      FROM reps{i}
    ), pc{i} AS (
      SELECT s[j] || {sep} || s[j + 1] AS pair, SUM(cnt) AS c
      FROM (SELECT cnt, s, unnest(range(1, len(s))) AS j FROM sym{i}
            WHERE len(s) >= 2)
      GROUP BY pair
    ), best{i} AS (
      SELECT pair, c FROM pc{i} ORDER BY c DESC, pair LIMIT 1
    ), reps{i + 1} AS (
      SELECT r.cnt,
             replace(replace(r.rep,
                             {sep} || b.pair || {sep},
                             {sep} || replace(b.pair, {sep}, '') || {sep}),
                     {sep} || b.pair || {sep},
                     {sep} || replace(b.pair, {sep}, '') || {sep}) AS rep
      FROM reps{i} r, best{i} b
    )""")
    return "    WITH" + ",".join(cte)


def _q77_sql() -> str:
    sep = "chr(31)"
    unions = "\n      UNION ALL ".join(
        f"SELECT {i} AS step, string_split(pair, {sep})[1] AS left_sym, "
        f"string_split(pair, {sep})[2] AS right_sym, "
        f"replace(pair, {sep}, '') AS merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM best{i}"
        for i in range(_BPE_MERGES))
    return (_bpe_ctes()
            + f"\n    SELECT CAST(step AS INT) AS step, left_sym, right_sym,"
              f" merged, pair_count FROM ({unions})")


@register(
    "q77_bpe_train",
    _q77_sql(),
    doc="distributed BPE tokenizer training (bpe.bpe_train, Sennrich et "
        "al. 2016): ONE corpus-sized aggregate builds the word-frequency "
        "table, then every iteration runs on the |vocab| relation only "
        "(pair-count aggregate + anchored double-replace merge) with a "
        "single (pair, count) row collected per step — the classic "
        "word-dict BPE trainer, distributed. Deterministic merge order "
        "(max count, lexicographically-smallest pair) makes the whole "
        "merge sequence a pure function of the corpus; the oracle replays "
        "all six training steps as generated chained CTEs using the "
        "identical double-pass replace primitive, so the learned merges "
        "match bit-for-bit. Property-tested against a pure-python greedy "
        "reference (the two-pass anchored replace == the classic array "
        "merge).",
)
def q77(spark, sf_dir):
    from .bpe import bpe_train

    d = _t(spark, sf_dir, "documents")
    out = bpe_train(d, n_merges=_BPE_MERGES)
    return out.select(F.col("step").cast("int").alias("step"),
                      F.col("left").alias("left_sym"),
                      F.col("right").alias("right_sym"),
                      "merged", "pair_count")


def _q78_sql() -> str:
    sep = "chr(31)"
    rep = "rep"
    for i in range(_BPE_MERGES):
        # COALESCE to a never-occurring NUL search: if training exhausts
        # before step i, best{i} is empty and the bare scalar subquery
        # would NULL-propagate replace() into NULL n_tokens for every doc
        # (the Spark side just applies the shorter merge list)
        s = f"coalesce((SELECT {sep} || pair || {sep} FROM best{i}), chr(0))"
        r = (f"coalesce((SELECT {sep} || replace(pair, {sep}, '') || {sep} "
             f"FROM best{i}), chr(0))")
        rep = f"replace(replace({rep}, {s}, {r}), {s}, {r})"
    return (_bpe_ctes() + f""",
    docrep AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_words,
             {sep} || array_to_string(
               list_transform(string_split_regex(trim(text), '\\s+'),
                 w -> array_to_string(string_split(w, ''), {sep})
                      || {sep} || '</w>'), {sep}) || {sep} AS rep
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(len(string_split({rep}, {sep})) - 2 AS BIGINT) AS n_tokens
    FROM docrep""")


@register(
    "q78_bpe_encode",
    _q78_sql(),
    doc="BPE tokenization with the trained merges (bpe.bpe_apply — the "
        "inference half of q77): the ordered merge list applies as "
        "2 x n_merges NESTED replace calls in ONE codegen'd projection "
        "per document — zero shuffles, zero Python; true subword token "
        "counts replace q10/q28's whitespace/regex surrogates. The "
        "document-level symbol string is safe for word-level merges "
        "because a learned pair's left component can never end with the "
        "end-of-word marker (bpe._doc_rep docstring). Oracle: the q77 "
        "training CTEs plus the same nested-replace application, so every "
        "document's token count matches bit-for-bit. At 10^12 docs the "
        "merge list ships as a literal expression (a few hundred learned "
        "merges = a few hundred nested replaces, still one projection) or "
        "the application moves into the extraction mapInPandas stage.",
)
def q78(spark, sf_dir):
    from .bpe import SEP, bpe_apply, bpe_train

    d = _t(spark, sf_dir, "documents")
    trained = bpe_train(d, n_merges=_BPE_MERGES).orderBy("step").collect()
    merges = [r.left + SEP + r.right for r in trained]
    return bpe_apply(d, merges)


@register(
    "q81_bpe_encode_batch",
    _q78_sql(),
    doc="production-vocab BPE tokenization (bpe.bpe_apply_batch): the "
        "mapInPandas escape hatch q78's plan needs past a few hundred "
        "merges — broadcast merge ranks, per-unique-word min-rank merge "
        "loop with a monotone rank floor, Zipfian word memoization per "
        "task. BYTE-IDENTICAL to bpe_apply (same pre-filter, same "
        "two-pass merge semantics, differential-tested at every tier in "
        "tests/test_bpe.py), so it shares q78's oracle verbatim: the "
        "driver proves the Python batch path against DuckDB's replay of "
        "the nested-replace plan. Cost per word is O(applied_merges x "
        "len) independent of vocab size — the path that holds at 100k "
        "merges where a 200k-deep replace tree cannot codegen.",
)
def q81(spark, sf_dir):
    from .bpe import SEP, bpe_apply_batch, bpe_train

    d = _t(spark, sf_dir, "documents")
    trained = bpe_train(d, n_merges=_BPE_MERGES).orderBy("step").collect()
    merges = [r.left + SEP + r.right for r in trained]
    return bpe_apply_batch(d, merges)


_CHUNK_W, _CHUNK_S = 48, 32


_Q79_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents WHERE length(trim(text)) > 0
), st AS (
  SELECT doc_id, n_tokens, t,
         unnest(range(0, greatest(1, n_tokens), {_CHUNK_S})) AS start
  FROM base
), cut AS (
  SELECT doc_id, start, list_slice(t, start + 1, start + {_CHUNK_W}) AS piece
  FROM st
)
SELECT doc_id, CAST(start // {_CHUNK_S} AS BIGINT) AS passage,
       CAST(start AS BIGINT) AS start_tok,
       CAST(start + len(piece) AS BIGINT) AS end_tok,
       CAST(len(piece) AS BIGINT) AS p_tokens,
       array_to_string(piece, ' ') AS passage_text
FROM cut WHERE len(piece) >= 1
"""


@register(
    "q79_passage_chunking",
    _Q79_SQL,
    doc="overlapping passage extraction (sampling.passage_chunks — the "
        "RAG/retrieval-corpus chunking step, dual of q65's packing): each "
        "document cut into 48-token windows every 32 tokens (16-token "
        "overlap), one row per passage with integer token offsets. Plan: "
        "one sequence+explode per document, all-JVM array slicing, ZERO "
        "shuffles — output grows only by the window/stride overlap "
        "factor. Deterministic passage ids (start div stride) key the "
        "downstream embedding/indexing stages (q15/q19/q26 consume the "
        "result at scale).",
)
def q79(spark, sf_dir):
    from .sampling import passage_chunks

    d = _t(spark, sf_dir, "documents")
    return passage_chunks(d, window=_CHUNK_W, stride=_CHUNK_S)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark for name, spec in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.sql for name, spec in _REGISTRY.items() if spec.sql is not None}
