"""Driver-contract invariants of the __spark_entry__ registry: the
correctness window (first 50 entries) must contain every query that needs a
driver row, and the priority lists must never drift from the live registry."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import pytest  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from webextract import queries as registry  # noqa: E402

WINDOW = 50  # observed driver correctness budget (r3: 62 registered, 50 rows)


def test_priority_lists_match_live_registry():
    names = list(entry.queries())
    for n in entry._VERIFY_FIRST + entry._VERIFY_LAST:
        assert n in names, f"stale priority-list entry: {n}"


def test_register_rejects_a_duplicate_name():
    # the entry module's extraction queries share the library registry, so
    # a name clash must fail loudly instead of silently dropping a query
    for name in ("q31_exact_dedup_hashed", "q90_extract_corpus"):
        spec = registry._REGISTRY[name]
        with pytest.raises(ValueError, match="already registered"):
            registry.register(name, spec.sql)(lambda spark, sf_dir: None)
        assert registry._REGISTRY[name] is spec
        # re-executing the defining module re-registers the same function
        registry.register(name, spec.sql, spec.doc)(spec.spark)
        assert registry._REGISTRY[name] == spec


def test_window_holds_everything_unverified_or_new():
    names = list(entry.queries())
    window = set(names[:WINDOW])
    # everything in the head list (never-verified / new this round) is in
    # the window...
    for n in entry._VERIFY_FIRST:
        assert n in window, f"{n} fell out of the driver window"
    # ...and only designated long-green stalwarts sit past it
    for n in names[WINDOW:]:
        assert n in entry._VERIFY_LAST, (
            f"{n} is past the driver's {WINDOW}-row window but is not a "
            f"designated stalwart — add it to _VERIFY_FIRST or _VERIFY_LAST")


def test_every_query_has_oracle_or_is_known_rows_only():
    # as of r5 EVERY entry carries a full oracle: q90 and q92 use the
    # landed-parquet invariant pattern (the Python seams aren't
    # SQL-expressible, but their committed output is)
    osql = entry.oracle_sql()
    for n in entry.queries():
        assert n in osql, f"{n} silently lost its oracle"
