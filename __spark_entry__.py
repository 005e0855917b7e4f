"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB oracle twin (column names/types aligned —
see eventstream_benchmark_spark/operators/_util.py for the
cross-engine conventions).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on the committed sf0.001 fixture
    (``perfbench/fixtures/sf0.001``, read in place): gap-based per-user
    sessionization joined with per-user inter-arrival stats — the
    composition of B30 and B15 over the events stream."""
    from pyspark.sql import functions as F

    from eventstream_benchmark_spark.operators.eventstream import stream_sessionize
    from eventstream_benchmark_spark.operators.relational import win_lag_inter_arrival

    sf_dir = os.path.join(_REPO, "perfbench", "fixtures", "sf0.001")
    sessions = stream_sessionize(spark, sf_dir)
    arrivals = win_lag_inter_arrival(spark, sf_dir)
    return sessions.join(arrivals, "user_id").orderBy("user_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from eventstream_benchmark_spark.operators import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for each hash-checkable query; keys absent here
    (stochastic generators, approx sketches, streaming) get the
    driver's rows-only check."""
    from eventstream_benchmark_spark.operators import all_oracles

    return all_oracles()
