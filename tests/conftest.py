from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from skywalking_banyandb_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
# BanyanDB's conformance corpus, replayed verbatim when it is present
REFERENCE_CASES = "/root/reference/test/cases"
HAVE_REFERENCE = os.path.isdir(REFERENCE_CASES)
REFERENCE_MISSING = f"reference corpus {REFERENCE_CASES} is not present"

# The pytest conformance sweep compares queries() vs oracle_sql() at
# SF_SMALL, while the driver does so at sf0.01 — lazy oracles that embed
# corpus-derived literals (embedding_pca_project) must read the same
# corpus the check runs against (resolved at oracle_sql() call time).
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_SMALL)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("banyandb-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def entry_dfs(spark):
    """Session-shared compiled registry DataFrames at SF_SMALL (r16,
    VERDICT r15 Next #2: suite wall under the driver's window without
    deleting coverage). The heavy entries EXECUTE at compile time — the
    materialized streaming loops run their whole 2-epoch stream, the
    stateful heap replays its arrival loop, the lifecycle entries
    build+compact indexes — and TWO suites need every entry's compiled
    result (test_conformance's oracle replay and test_plan_quality's
    all-entries UDF gate), so compiling per consuming test paid the
    heavy tail twice (~140 s/pass). One lazy per-session cache; entries
    are read-only DataFrames, and the entries that mutate scratch state
    at compile time are exactly the ones whose second compile repeated
    that work.
    """
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    cache: dict = {}

    def get(name: str):
        if name not in cache:
            cache[name] = qs[name](spark, SF_SMALL)
        return cache[name]

    return get
