"""Query-scoped and family-shared persist registries.

Some operator functions persist intermediates where the barrier is
load-bearing, not a nicety (see the Catalyst higher-order-function
inlining note in ``dedup._doc_shingles``). But the functions return
lazy DataFrames, so the query itself can never unpersist — and across
a sweep inside one session, never-released persists accumulate
executor storage.

Scoped persists: persist through :func:`scoped_persist`; query bodies
never release. Each frame belongs to the thread that persisted it
(``_LIVE`` is keyed by ``threading.get_ident()``). ``operators.
all_queries`` wraps every query in :func:`released_at_entry`, which
releases the CALLING thread's list before the query runs, so during a
sweep at most one query's intermediates per thread occupy storage, and
a query entered on another thread leaves this thread's barriers
alone. A harness (perfbench, tests) calls
:func:`release_scoped_persists` at its end, which releases every
thread's list. ``unpersist`` never invalidates a DataFrame — later
actions just recompute — so releasing is always safe. Spark keys its
cache by plan, so two threads that persist an identical plan share one
cache entry, and either thread's release drops it for both.

Shared persists: :func:`shared_persist` keeps ONE ``_SHARED`` entry
per (family, application id, fixture path) holding whatever the
family's builder returned — one frame, or a tuple of frames built from
one plan (the MinHash collapse twins, the BPE merge table with its
vocabulary history). The builder runs at most once per key, under
``_LOCK``: a re-entrant lock, because some builders consume another
family (``cc_labels`` builds through ``minhash_rep_pairs``). Entries
outlive queries; harness boundaries release them by family or all at
once. A tuple entry is stored and released as a whole, so no release
can leave half of a build behind.
"""

from __future__ import annotations

import functools
import os
import threading
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from eventstream_benchmark_spark.session import share_package_path

_LIVE: dict[int, list[DataFrame]] = {}

_LOCK = threading.RLock()
_SHARED: dict[tuple, DataFrame | tuple[DataFrame, ...]] = {}


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for release when the calling
    thread enters its next query."""
    df.persist()
    _LIVE.setdefault(threading.get_ident(), []).append(df)
    return df


def _unpersist(frames) -> None:
    for df in frames:
        df.unpersist()


def release_scoped_persists() -> None:
    """Unpersist every thread's registered intermediates (idempotent)."""
    for ident in list(_LIVE):
        _unpersist(_LIVE.pop(ident, ()))


def released_at_entry(
    query: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Wrap a registry query so it releases the calling thread's
    previous scoped persists before it runs, and so its Python workers
    can import this package (``session.share_package_path``)."""

    @functools.wraps(query)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _unpersist(_LIVE.pop(threading.get_ident(), ()))
        share_package_path(spark)
        return query(spark, sf_dir)

    return run


def _frames(entry: DataFrame | tuple[DataFrame, ...]) -> tuple[DataFrame, ...]:
    return entry if isinstance(entry, tuple) else (entry,)


def shared_persist(spark: SparkSession, sf_dir: str, family: str, builder: Callable):
    """Return what ``family``'s ``builder`` built for this session and
    fixture — one frame or a tuple of frames, persisted — calling the
    builder on first use only. The key carries the application id, so a
    frame never serves a later session, and the fixture path, so two
    fixtures never share a build.

    If an external actor unpersisted a frame (e.g. a harness calling
    ``spark.catalog.clearCache()``), re-persist it — the frame stays
    valid either way (Spark recomputes lazily); re-persisting just
    restores the amortization."""
    key = (family, spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    with _LOCK:
        entry = _SHARED.get(key)
        if entry is None:
            entry = _SHARED[key] = builder()
        for df in _frames(entry):
            if df.storageLevel == StorageLevel.NONE:
                df.persist()
    return entry


def release_shared_persists() -> None:
    """Unpersist every family-shared frame (harness boundaries only)."""
    with _LOCK:
        while _SHARED:
            _unpersist(_frames(_SHARED.popitem()[1]))


def release_shared_families(prefixes: tuple[str, ...]) -> None:
    """Unpersist and drop only the shared entries whose family (the
    key's first element) is in ``prefixes`` — the bench uses this so a
    query that EMITS a shared artifact pays its own build on every
    measured pass without evicting other families' builds (e.g. the
    graph lane's edge aggregate mid-handoff)."""
    with _LOCK:
        for key in [k for k in _SHARED if k[0] in prefixes]:
            _unpersist(_frames(_SHARED.pop(key)))
