"""URL canonicalization — the key normalization crawl-level dedup and
recrawl detection depend on (the same page arrives as ``HTTP://Ex.org:80/a?
utm_source=x&b=1#frag`` and ``http://ex.org/a?b=1``; naive string keys call
them different documents and double-count the corpus).

Reference parity: document_extraction_tools keys work by raw file path
(``base/file_lister``); a web corpus needs URL identity. Everything here is
built-in column expressions (regexp + array functions) — per-row, zero
shuffles, codegen'd — and deliberately restricted to constructs DuckDB
reproduces so the q55 oracle checks the canonicalization byte-for-byte.

Canonical form: lowercase scheme and host, default ports (:80 http,
:443 https) stripped, fragment dropped, tracking params (utm_*, fbclid,
gclid) removed, remaining query params SORTED (param order is not identity
on the wire), empty query dropped, path defaulting to "/".
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: query-param NAMES that never change the resource (tracking/attribution):
#: utm_* by prefix, fbclid/gclid exactly — matched against the name (the part
#: before '='), case-insensitively. A raw prefix match on "name=value" would
#: strip legitimate params like "gclid_custom=1" and keep "UTM_SOURCE=x".
TRACKING_NAME_PREFIXES = ("utm_",)
TRACKING_NAMES = ("fbclid", "gclid")

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*):\/\/"
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:\/\/([^\/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:\/\/[^\/?#]*([^?#]*)"
_QUERY_RE = r"\?([^#]*)"


def canonical_url(col: Column | str = "url") -> Column:
    """Canonical form of a URL column (see module docstring)."""
    u = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    host = F.lower(F.regexp_extract(u, _HOST_RE, 1))
    host = F.when((scheme == F.lit("http")) & host.rlike(":80$"),
                  F.regexp_replace(host, ":80$", "")) \
            .when((scheme == F.lit("https")) & host.rlike(":443$"),
                  F.regexp_replace(host, ":443$", "")) \
            .otherwise(host)
    path = F.regexp_extract(u, _PATH_RE, 1)
    path = F.when(F.length(path) == 0, F.lit("/")).otherwise(path)
    # strip the fragment BEFORE extracting the query: a '?' inside the
    # fragment must not be promoted into the canonical query string
    q = F.regexp_extract(F.regexp_replace(u, "#.*", ""), _QUERY_RE, 1)
    def _tracking(p: Column) -> Column:
        # param name = text before the first '=' (whole param if none)
        name = F.lower(F.substring_index(p, "=", 1))
        return sum_or([name.startswith(pre) for pre in TRACKING_NAME_PREFIXES]
                      + [name == F.lit(n) for n in TRACKING_NAMES])

    keep = F.filter(
        F.split(q, "&"),
        lambda p: (F.length(p) > 0) & ~_tracking(p))
    qs = F.array_join(F.array_sort(keep), "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(F.length(qs) > 0, F.concat(F.lit("?"), qs)).otherwise(F.lit("")))


def sum_or(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out
