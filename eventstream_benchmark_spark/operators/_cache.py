"""Query-scoped and family-shared persist registries.

Some operator functions persist intermediates where the barrier is
load-bearing, not a nicety (see the Catalyst higher-order-function
inlining note in ``dedup._doc_shingles``). But the functions return
lazy DataFrames, so the query itself can never unpersist — and across
a sweep inside one session, never-released persists accumulate
executor storage.

Contract: persist through :func:`scoped_persist`; query bodies never
release. ``operators.all_queries`` wraps every query in
:func:`released_at_entry`, which calls :func:`release_scoped_persists`
before the query runs, so during a sweep at most one query's
intermediates occupy storage at a time; a harness (perfbench, tests)
releases once more at its end so nothing outlives the sweep.
``unpersist`` never invalidates a DataFrame — later actions just
recompute — so releasing a previous query's cache is always safe.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from eventstream_benchmark_spark.session import share_package_path

_LIVE: list[DataFrame] = []

# shared_key(...) -> persisted DataFrame shared ACROSS queries
# of one family within a sweep (the graph family's co-purchase edge
# build is the motivating case: four queries each paid the same
# distinct + per-order self-join).  Deliberately NOT released by
# release_scoped_persists — harness boundaries (bench lane ends, test
# session teardown) call release_shared_persists instead.
_SHARED: dict[tuple, DataFrame] = {}


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for release at the next query."""
    df.persist()
    _LIVE.append(df)
    return df


def release_scoped_persists() -> None:
    """Unpersist every registered intermediate (idempotent)."""
    while _LIVE:
        _LIVE.pop().unpersist()


def released_at_entry(
    query: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Wrap a registry query so it releases the previous query's scoped
    persists before it runs, and so its Python workers can import this
    package (``session.share_package_path``)."""

    @functools.wraps(query)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_scoped_persists()
        share_package_path(spark)
        return query(spark, sf_dir)

    return run


def shared_key(spark: SparkSession, sf_dir: str, *tags) -> tuple:
    """The shared-registry key ``(*tags, applicationId, abspath(sf_dir))``.
    The first tag names the family (``release_shared_families`` matches
    it); the application id keeps a cached frame from serving a later
    session, and the fixture path keeps two fixtures from sharing a
    build."""
    return (*tags, spark.sparkContext.applicationId, os.path.abspath(sf_dir))


def shared_persist(
    spark: SparkSession, sf_dir: str, family: str, builder: Callable[[], DataFrame]
) -> DataFrame:
    """Return the persisted DataFrame ``family`` shares for this
    session and fixture (:func:`shared_key`), building it on first use.

    If an external actor unpersisted the entry (e.g. a harness calling
    ``spark.catalog.clearCache()``), re-persist it — the frame stays
    valid either way (Spark recomputes lazily); re-persisting just
    restores the amortization."""
    key = shared_key(spark, sf_dir, family)
    return shared_persist_atomic((key,), lambda: (builder(),))[0]


def shared_persist_atomic(
    keys: tuple[tuple, ...], builder: Callable[[], tuple[DataFrame, ...]]
) -> tuple[DataFrame, ...]:
    """All-or-nothing :func:`shared_persist` for artifacts that come
    out of ONE shared build plan (``builder`` returns one frame per
    key, in order). If ANY key is missing, every key in the group is
    dropped and the whole group rebuilt — a selective eviction (e.g.
    ``release_shared_families`` naming only one of the family tags)
    can therefore never leave one twin riding a stale upstream persist
    while a rebuild of the other materializes a duplicate of that same
    upstream (``dedup._collapse_family``'s twin frames share a
    persisted ``groups`` aggregate, and a half-evicted group would keep
    two copies of it in storage)."""
    if not all(k in _SHARED for k in keys):
        for k in keys:
            df = _SHARED.pop(k, None)
            if df is not None:
                df.unpersist()
        for k, df in zip(keys, builder(), strict=True):
            _SHARED[k] = df
    out = tuple(_SHARED[k] for k in keys)
    for df in out:
        if not df.is_cached:
            df.persist()
    return out


def release_shared_persists() -> None:
    """Unpersist every family-shared frame (harness boundaries only)."""
    while _SHARED:
        _SHARED.popitem()[1].unpersist()


def release_shared_families(prefixes: tuple[str, ...]) -> None:
    """Unpersist and drop only the shared frames whose family tag (the
    key's first element) is in ``prefixes`` — the bench uses this so a
    query that EMITS a shared artifact pays its own build on every
    measured pass without evicting other families' builds (e.g. the
    graph lane's edge aggregate mid-handoff)."""
    for key in [k for k in _SHARED if k[0] in prefixes]:
        _SHARED.pop(key).unpersist()
