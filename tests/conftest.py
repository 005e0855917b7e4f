from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# the committed seed-42 fixtures, read in place (tests write nothing there)
FIXTURES = os.path.join(REPO, "perfbench", "fixtures")
SF_SMALL = os.path.join(FIXTURES, "sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", os.path.join(FIXTURES, "sf0.01"))


@pytest.fixture(scope="session")
def spark():
    from eventstream_benchmark_spark.session import get_spark

    spark = get_spark("esb-tests")
    yield spark
    # enforce the scoped-persist contract (_cache.py): nothing a query
    # persisted outlives the harness
    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
        release_shared_persists,
    )

    release_scoped_persists()
    release_shared_persists()


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
