"""Driver-contract guards for __spark_entry__ and bench.py: every
oracle references a real query, the no-oracle set stays exactly the
documented exception list, the roster fits the 50-row correctness
window, and the bench roster only names registered queries. Cheap (no Spark jobs) — catches registration drift before the
driver's correctness gate does."""

from __future__ import annotations

import __spark_entry__ as entrymod

# non-SQL-expressible queries, each with a stronger non-oracle gate
# (generation semantics are golden-fixture byte parity — SURVEY §5)
ALLOWED_NO_ORACLE: set[str] = set()


def test_every_oracle_has_a_query():
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    orphans = set(osql) - set(qs)
    assert not orphans, orphans


def test_no_oracle_set_is_exactly_the_documented_exceptions():
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    assert set(qs) - set(osql) == ALLOWED_NO_ORACLE


def test_roster_fits_the_correctness_window():
    """The correctness capture holds at most 50 queries' rows; a larger
    roster would leave its tail unjudged."""
    assert len(entrymod.queries()) <= 50


def test_bench_roster_subset_of_queries():
    import bench

    qs = entrymod.queries()
    missing = [n for n in bench.BENCH_QUERIES if n not in qs]
    assert not missing, missing


def test_oracle_sql_mentions_only_registered_tables():
    """Each oracle must run on the driver's pre-registered views (or
    CTEs it defines itself) — a typo'd table name fails only at driver
    time otherwise."""
    import re

    tables = set(
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    )
    for name, sql in entrymod.oracle_sql().items():
        ctes = set(
            re.findall(r"(\w+)\s*(?:\([^)]*\))?\s+AS\s*\(", sql, flags=re.IGNORECASE)
        )
        froms = set(
            t.lower()
            for t in re.findall(r"\b(?:FROM|JOIN)\s+([A-Za-z_]\w*)", sql, flags=re.IGNORECASE)
        )
        unknown = froms - tables - {c.lower() for c in ctes} - {"unnest", "generate_series"}
        assert not unknown, (name, unknown)
