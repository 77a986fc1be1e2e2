"""Heterogeneous document routing: per-type extraction schemas, one pass.

Spark translation of the reference's heterogeneous-documents patterns
(``docs/guides/heterogeneous-documents.md``):

- the ``DynamicExtractor`` + schema registry (:301-408) becomes a
  :class:`SchemaRegistry` of :class:`RouteSpec` s — doc_type → typed field
  extractors (column expressions) — evaluated as ONE conditional projection;
- the classifier (:96-141) becomes a deterministic rules-based ``CASE``
  column (first matching rule wins, like ``MetadataRouter.rules`` :420-447);
- the ``UniversalExtractionResult{document_type, data, error}`` wrapper
  (:385-408) becomes the routed output row ``(id, doc_type, data, error)``
  where ``data`` is the type's struct serialized to JSON (a DataFrame column
  cannot vary its struct schema per row);
- ``get_typed_data`` (:395-408) becomes :meth:`SchemaRegistry.typed` —
  filter to one type + ``from_json`` back to the typed struct.

Scale shape: the reference classifies, buckets paths per type, then runs one
orchestrator per bucket (:160-186) — N full passes. Here classification and
every type's extraction are column expressions fused into a single
projection over a single scan: no shuffle, no per-type job fan-out, and
Catalyst prunes each type's expressions to the rows where its ``CASE`` arm
is live. Per-row isolation is structural: expressions can't throw per-row,
and unroutable rows carry ``error`` instead of failing the job.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F, types as T

UNKNOWN_TYPE = "unknown"
UNKNOWN_ERROR = "Unknown document type"  # reference wording (guide :335)


@dataclass(frozen=True)
class RouteSpec:
    """One document type: match rule + typed field extractors.

    ``fields`` are ``(name, spark_type, text -> Column)`` triples; extractors
    must yield non-null values for matched rows (JSON serialization of null
    fields differs across engines and readers).
    """

    doc_type: str
    predicate: Callable[[Column], Column]
    fields: Sequence[tuple[str, T.DataType, Callable[[Column], Column]]] = field(
        default_factory=tuple)

    def schema(self) -> T.StructType:
        return T.StructType([T.StructField(n, t) for n, t, _ in self.fields])

    def data_col(self, text: Column) -> Column:
        return F.to_json(F.struct(
            *[fn(text).cast(t).alias(n) for n, t, fn in self.fields]))


class SchemaRegistry:
    """Ordered doc_type registry; first matching RouteSpec wins."""

    def __init__(self, specs: Sequence[RouteSpec]):
        if len({s.doc_type for s in specs}) != len(list(specs)):
            raise ValueError("duplicate doc_type in registry")
        self.specs = list(specs)
        self._by_type = {s.doc_type: s for s in self.specs}

    def classify(self, text: Column) -> Column:
        """The router column: first matching rule, else UNKNOWN_TYPE."""
        out = F.lit(UNKNOWN_TYPE)
        for s in reversed(self.specs):
            out = F.when(s.predicate(text), F.lit(s.doc_type)).otherwise(out)
        return out

    def route(self, df: DataFrame, *, text_col: str = "text",
              id_col: str = "url", keep: Sequence[str] = ()) -> DataFrame:
        """(id, [keep...], doc_type, data, error) — one conditional projection.

        ``data`` is the matched type's field struct as JSON (the
        UniversalExtractionResult wrapper); ``error`` is non-null only for
        unroutable rows.

        Two chained projections so the classifier CASE is evaluated ONCE per
        row and the data/error arms reference the materialized ``doc_type``
        column (embedding the N-deep classifier into every arm would carry
        N+2 copies of it through the plan).
        """
        text = F.col(text_col)
        classified = df.select(F.col(id_col), *[F.col(c) for c in keep],
                               text.alias("__routing_text"),
                               self.classify(text).alias("doc_type"))
        doc_type = F.col("doc_type")
        rtext = F.col("__routing_text")
        data = F.lit(None).cast("string")
        for s in reversed(self.specs):
            data = F.when(doc_type == s.doc_type, s.data_col(rtext)).otherwise(data)
        err = F.when(doc_type == UNKNOWN_TYPE, F.lit(UNKNOWN_ERROR)) \
               .otherwise(F.lit(None).cast("string"))
        return classified.select(F.col(id_col), *[F.col(c) for c in keep],
                                 doc_type, data.alias("data"),
                                 err.alias("error"))

    def typed(self, routed: DataFrame, doc_type: str) -> DataFrame:
        """get_typed_data analog: one type's rows with the JSON parsed back
        into its registered struct."""
        spec = self._by_type[doc_type]
        return (
            routed.filter(F.col("doc_type") == doc_type)
            .withColumn("typed", F.from_json("data", spec.schema()))
        )


# ---------------------------------------------------------------------------
# A concrete registry over the driver's `documents` table (keyword corpora):
# the invoices/receipts/contracts demo of the reference guide, re-grounded in
# the data we actually have. Every extractor is a portable column expression
# (mirrored 1:1 by q27's DuckDB oracle in webextract.queries).
# ---------------------------------------------------------------------------

def _word_count(word: str) -> Callable[[Column], Column]:
    from .analysis import stopword_hits_any

    return lambda text: stopword_hits_any(text, [word])


def _contains_word(word: str) -> Callable[[Column], Column]:
    return lambda text: F.instr(
        F.concat(F.lit(" "), F.lower(text), F.lit(" ")), f" {word} ") > 0


def _first_token(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")[0]


def _n_tokens(text: Column) -> Column:
    from .analysis import token_count

    return token_count(text)


def documents_registry() -> SchemaRegistry:
    """Demo registry for the synthetic keyword corpus: three content-routed
    types with distinct schemas + the unknown fallback (blank docs)."""
    long_t = T.LongType()
    return SchemaRegistry([
        RouteSpec(
            "commerce",
            _contains_word("customer"),
            [("n_customer", long_t, _word_count("customer")),
             ("n_order", long_t, _word_count("order")),
             ("n_tokens", long_t, _n_tokens)],
        ),
        RouteSpec(
            "ml",
            _contains_word("vector"),
            [("n_vector", long_t, _word_count("vector")),
             ("n_hash", long_t, _word_count("hash")),
             ("n_tokens", long_t, _n_tokens)],
        ),
        RouteSpec(
            "general",
            lambda text: F.length(F.trim(text)) > 0,
            [("first_token", T.StringType(), _first_token),
             ("n_tokens", long_t, _n_tokens)],
        ),
    ])
