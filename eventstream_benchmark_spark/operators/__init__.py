"""Layer-B operator packs (SURVEY.md §2.2).

Each module in ``MODULES`` exposes ``QUERIES: dict[name -> (spark,
sf_dir) -> DataFrame]`` and ``ORACLES: dict[name -> DuckDB SQL]``;
``all_queries()`` / ``all_oracles()`` merge them for the contract in
``__spark_entry__.py``. Every registry query releases the previous
query's scoped persists before it runs (see ``_cache.py``).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

from eventstream_benchmark_spark.operators._cache import released_at_entry

MODULES: tuple[str, ...] = (
    "eventstream_benchmark_spark.operators.relational",
    "eventstream_benchmark_spark.operators.eventstream",
    "eventstream_benchmark_spark.operators.funnel",
    "eventstream_benchmark_spark.operators.graph",
    "eventstream_benchmark_spark.operators.dedup",
    "eventstream_benchmark_spark.operators.similarity",
    "eventstream_benchmark_spark.operators.text",
    "eventstream_benchmark_spark.operators.multimodal",
    "eventstream_benchmark_spark.operators.pipeline",
    "eventstream_benchmark_spark.generator.queries",
    "eventstream_benchmark_spark.streaming.queries",
)


def _modules() -> list[ModuleType]:
    return [importlib.import_module(m) for m in MODULES]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        name: released_at_entry(query)
        for mod in _modules()
        for name, query in mod.QUERIES.items()
    }


def all_oracles() -> dict[str, str]:
    return {name: sql for mod in _modules() for name, sql in mod.ORACLES.items()}
