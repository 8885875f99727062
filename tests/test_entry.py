"""Driver contract smoke tests (mirrors the harness's t1 check)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

from tests.conftest import SF_SMALL


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


# Every registered query must ship a value oracle — no rows-only exemptions.
# (ann_kmeans_cells gained an unrolled-Lloyd CTE oracle in round 2, emptying
# the set; keep it empty so the no-oracle contract can't silently regress.)
ROWS_ONLY_OK: set[str] = set()


def test_every_query_has_oracle_and_runs(spark):
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(queries)
    missing = set(queries) - set(oracles) - ROWS_ONLY_OK
    assert missing == set(), f"queries without oracle (rows-only): {missing}"


def test_queries_run_at_smallest_sf(spark):
    # every registered query must execute end-to-end at sf0.001
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_SMALL)
        assert df.count() >= 0, name
