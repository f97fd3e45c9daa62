"""Registry hygiene (VERDICT r03 #4): with 115+ entries and a driver
gate that only sees the first 50, a window rotation could silently
orphan an oracle or drop a query.  These asserts are pure-Python (no
SparkSession) so they run first and fail fast."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_every_query_has_oracle_or_whitelisted_reason():
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    rows_only = set(entrymod.ROWS_ONLY_QUERIES)
    missing = qs - oracles - rows_only
    assert not missing, f"queries with neither oracle nor rows-only reason: {sorted(missing)}"


def test_no_orphan_oracles():
    qs = set(entrymod.queries())
    orphans = set(entrymod.oracle_sql()) - qs
    assert not orphans, f"oracles without a registered query: {sorted(orphans)}"


def test_rows_only_whitelist_is_minimal():
    # a whitelisted query that HAS an oracle means the whitelist is stale
    stale = set(entrymod.ROWS_ONLY_QUERIES) & set(entrymod.oracle_sql())
    assert not stale, f"rows-only entries that now have oracles: {sorted(stale)}"
    # and every whitelisted name must actually be registered
    ghost = set(entrymod.ROWS_ONLY_QUERIES) - set(entrymod.queries())
    assert not ghost, f"rows-only entries not in queries(): {sorted(ghost)}"


def test_registry_keys_are_unique_python_identifiers():
    # dict literals silently swallow duplicate keys; catch the symptom —
    # a callable registered under two names is fine, but every name must
    # be non-empty and map to a callable
    qs = entrymod.queries()
    assert len(qs) >= 115
    for name, fn in qs.items():
        assert name and isinstance(name, str)
        assert callable(fn), name


def test_oracle_sql_strings_are_nonempty():
    for name, sql in entrymod.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name
