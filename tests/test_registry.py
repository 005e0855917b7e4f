"""The query registry and its persist registries.

- Every ``all_queries()`` name has a DuckDB oracle and a COVERAGE.md
  entry.
- The scoped-persist release rule lives in one place: the registry
  wrapper ``_cache.released_at_entry``. No query body calls
  ``release_scoped_persists`` itself (an AST check, no Spark needed).
- The family-shared persist registry: one entry per (family, app,
  fixture) key holding everything its builder returned, re-persist
  after an external clearCache, release by family or in full at
  harness boundaries, and one shared build per query family.
- Scoped persists belong to the thread that made them, and registry
  queries run from a thread pool on one session match a serial run.
- Registry queries leave the session catalog as they found it, and
  their Python workers import the package from any working directory.
"""

from __future__ import annotations

import ast
import inspect
import os
import re
import subprocess
import sys
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyspark.sql.functions as F

from tests.conftest import REPO, SF_SMALL


def test_coverage_doc_tracks_registry():
    """COVERAGE.md names every registry query, so a new or renamed
    query cannot leave the doc behind."""
    from eventstream_benchmark_spark.operators import all_queries

    doc = open(f"{REPO}/COVERAGE.md").read()
    documented = set(re.findall(r"`([a-z][a-z0-9_]+)`", doc))
    undocumented = sorted(set(all_queries()) - documented)
    assert not undocumented, (
        f"registry queries missing from COVERAGE.md: {undocumented}"
    )


def test_every_query_is_oracled():
    """Every registered query carries a DuckDB value-hash oracle; hold
    the line — a new query landing without one would silently
    downgrade itself to a weaker rows-only check."""
    from eventstream_benchmark_spark.operators import all_oracles, all_queries

    q, o = set(all_queries()), set(all_oracles())
    assert q == o, (
        f"unoracled queries: {sorted(q - o)}; orphan oracles: {sorted(o - q)}"
    )


def test_no_query_body_releases_scoped_persists():
    """Only ``_cache.py`` may call or import ``release_scoped_persists``:
    a query body that releases on its own would put the rule back into
    every function that copies it."""
    pkg = Path(REPO) / "eventstream_benchmark_spark"
    files = [p for p in sorted((pkg / "operators").glob("*.py")) if p.name != "_cache.py"]
    files += [pkg / "generator" / "queries.py", pkg / "streaming" / "queries.py"]
    offenders = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                names = [f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)]
            elif isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            else:
                continue
            if "release_scoped_persists" in names:
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not offenders, (
        f"release_scoped_persists used outside the registry wrapper: {offenders}"
    )


def _family_keys(prefix: str):
    from eventstream_benchmark_spark.operators._cache import _SHARED

    return [k for k in _SHARED if k[0] == prefix]


def test_shared_persist_lifecycle(spark, sf_small):
    from pyspark import StorageLevel

    from eventstream_benchmark_spark.operators._cache import (
        release_shared_persists,
        shared_persist,
    )

    builds = []

    def builder():
        builds.append(1)
        return spark.range(10).withColumn("x", F.col("id") * 2)

    a = shared_persist(spark, "fixture", "test_family", builder)
    b = shared_persist(spark, "fixture", "test_family", builder)
    assert a is b and len(builds) == 1 and a.is_cached
    assert len(_family_keys("test_family")) == 1
    # an external clearCache must not leave a silently-unpersisted
    # entry in the registry: the next fetch re-persists (no rebuild)
    spark.catalog.clearCache()
    assert a.storageLevel == StorageLevel.NONE
    c = shared_persist(spark, "fixture", "test_family", builder)
    assert c is a and len(builds) == 1 and c.storageLevel != StorageLevel.NONE
    release_shared_persists()
    assert not _family_keys("test_family") and not a.is_cached


def test_released_family_rebuilds_whole_entry(spark):
    """A builder that returns several frames gets ONE registry entry:
    releasing its family drops every frame of it, and the next call
    rebuilds them all with one builder call."""
    from eventstream_benchmark_spark.operators._cache import (
        _SHARED,
        release_shared_families,
        release_shared_persists,
        shared_persist,
    )

    release_shared_persists()
    calls = []

    def build():
        calls.append(1)
        a = spark.range(3).withColumnRenamed("id", "a")
        b = spark.range(4).withColumnRenamed("id", "b")
        return a, b

    a1, b1 = shared_persist(spark, "fixture", "group_test", build)
    a2, b2 = shared_persist(spark, "fixture", "group_test", build)
    assert len(calls) == 1 and a2 is a1 and b2 is b1
    assert len(_SHARED) == 1 and a1.is_cached and b1.is_cached
    release_shared_families(("group_test",))
    assert not _SHARED and not a1.is_cached and not b1.is_cached
    a3, b3 = shared_persist(spark, "fixture", "group_test", build)
    assert len(calls) == 2 and a3 is not a1 and b3 is not b1
    assert list(_SHARED.values()) == [(a3, b3)]
    release_shared_persists()


def test_dedup_family_shares_one_pair_build(spark, sf_small):
    """The three MinHash pair-set consumers must ride ONE family-shared
    build — and consuming the shared frame must change nothing about
    the result (cold rebuild == shared read)."""
    from eventstream_benchmark_spark.operators._cache import (
        _SHARED,
        release_shared_persists,
    )
    from eventstream_benchmark_spark.operators import all_queries

    qs = all_queries()
    release_shared_persists()
    cold = sorted(map(tuple, qs["dedup_cluster_cc"](spark, sf_small).collect()))
    # cluster CC consumes the REP-level building blocks, not the
    # member-expanded pair set — it registers exactly one build, whose
    # entry holds both blocks, and none of the expansion
    (collapse,) = _family_keys("minhash_rep_pairs")
    rep_pairs, membership = _SHARED[collapse]
    assert "jaccard" in rep_pairs.columns and "survived" in membership.columns
    assert not _family_keys("minhash_membership")
    assert not _family_keys("minhash_pairs")
    # the expansion consumers must ride the SAME block build and one
    # shared expansion — no second build of anything for the fixture
    qs["dedup_minhash_lsh"](spark, sf_small).count()
    qs["dedup_recall_eval"](spark, sf_small).count()
    assert len(_family_keys("minhash_pairs")) == 1
    assert _family_keys("minhash_rep_pairs") == [collapse]
    assert _SHARED[collapse] == (rep_pairs, membership)
    shared = sorted(map(tuple, qs["dedup_cluster_cc"](spark, sf_small).collect()))
    assert shared == cold
    release_shared_persists()


def test_embedding_family_shares_ivf_and_pair_builds(spark, sf_small):
    """ann_ivf_cosine + both SemDeDup queries share one IVF model
    (centroids + inverted file); the SemDeDup victim set and the
    flat embedding-cosine pair set are each built once; and the eval
    composed from shared frames equals the eval composed cold."""
    from eventstream_benchmark_spark.operators._cache import (
        release_shared_persists,
    )
    from eventstream_benchmark_spark.operators import all_queries

    qs = all_queries()
    release_shared_persists()
    cold = qs["dedup_semantic_recall_eval"](spark, sf_small).collect()
    for fam in ("ivf_refined", "ivf_assigned", "semdedup_victims", "emb_cosine_pairs"):
        assert len(_family_keys(fam)) == 1, fam
    qs["ann_ivf_cosine"](spark, sf_small).count()
    qs["dedup_semantic_cluster"](spark, sf_small).count()
    qs["dedup_embedding_cosine"](spark, sf_small).count()
    for fam in ("ivf_refined", "ivf_assigned", "semdedup_victims", "emb_cosine_pairs"):
        assert len(_family_keys(fam)) == 1, fam
    shared = qs["dedup_semantic_recall_eval"](spark, sf_small).collect()
    assert shared == cold
    release_shared_persists()


def test_scoped_persists_belong_to_the_calling_thread(spark, sf_small):
    """A query entered on one thread leaves another thread's scoped
    persists alone: thread A builds ``dedup_ngram_jaccard`` (lazy; its
    construction persists the shingle barriers), thread B then enters a
    registry query, and A's frames are still cached until the harness
    releases every thread's list."""
    from pyspark import StorageLevel

    from eventstream_benchmark_spark.operators import _cache, all_queries

    qs = all_queries()
    _cache.release_scoped_persists()

    def build_a():
        qs["dedup_ngram_jaccard"](spark, sf_small)
        return list(_cache._LIVE[threading.get_ident()])

    with ThreadPoolExecutor(1) as a, ThreadPoolExecutor(1) as b:
        owned = a.submit(build_a).result()
        b.submit(lambda: qs["agg_groupby_q1"](spark, sf_small).collect()).result()
        assert owned
        assert all(df.is_cached and df.storageLevel != StorageLevel.NONE for df in owned)
    _cache.release_scoped_persists()
    assert not _cache._LIVE and not any(df.is_cached for df in owned)


def test_shared_build_runs_once_under_contention(spark):
    """More threads than cores ask for one family at once, with a short
    switch interval and a builder slow enough to overlap them: the
    builder runs once and every caller gets the same frame."""
    from eventstream_benchmark_spark.operators._cache import (
        release_shared_persists,
        shared_persist,
    )

    calls = []

    def builder():
        calls.append(1)
        time.sleep(0.05)
        return spark.range(5)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futures = [
                pool.submit(shared_persist, spark, "fixture", "stress", builder)
                for _ in range(32)
            ]
            frames = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1 and all(df is frames[0] for df in frames)
    release_shared_persists()


#: registry queries that share family builds (MinHash collapse, BPE,
#: co-purchase edges) next to streaming and SQL-shaped ones
CONCURRENT_MIX = (
    "dedup_minhash_lsh",
    "dedup_cluster_cc",
    "dedup_ngram_jaccard",
    "graph_triangle_count",
    "copurchase_part_pairs",
    "corpus_bpe_vocab_curve",
    "text_tfidf_topterms",
    "streaming_replay_tumbling",
    "streaming_pattern_state",
    "sql_tpch_q5",
)


class _CountedStores(dict):
    """A ``_cache._SHARED`` stand-in that counts the builds stored per
    family, so a second build of one key shows even though it would
    overwrite the first."""

    def __init__(self):
        super().__init__()
        self.stores = Counter()

    def __setitem__(self, key, value):
        self.stores[key[0]] += 1
        super().__setitem__(key, value)


def test_concurrent_queries_match_serial(spark, sf_small, monkeypatch):
    """Registry queries run from a 4-thread pool on one session, each
    action inside its worker, return the rows of a serial run, and each
    shared family is built exactly once."""
    from eventstream_benchmark_spark.operators import _cache, all_queries

    qs = all_queries()

    def rows(name):
        return sorted(repr(tuple(r)) for r in qs[name](spark, sf_small).collect())

    _cache.release_shared_persists()
    serial = {name: rows(name) for name in CONCURRENT_MIX}
    _cache.release_shared_persists()
    _cache.release_scoped_persists()
    shared = _CountedStores()
    monkeypatch.setattr(_cache, "_SHARED", shared)
    with ThreadPoolExecutor(4) as pool:
        concurrent = dict(zip(CONCURRENT_MIX, pool.map(rows, CONCURRENT_MIX)))
    for name in CONCURRENT_MIX:
        assert concurrent[name] == serial[name], name
    assert {"minhash_rep_pairs", "bpe_merges"} <= set(shared.stores)
    assert set(shared.stores.values()) == {1}, shared.stores
    assert sorted(k[0] for k in shared) == sorted(shared.stores)
    _cache.release_shared_persists()
    _cache.release_scoped_persists()


def test_sql_queries_leave_the_catalog_unchanged(spark, sf_small):
    """Every SQL-shaped registry query binds its tables for its own
    statement only: running them all leaves the session catalog as it
    was, so no view named after a fixture table can point at whichever
    ``sf_dir`` ran last. ``udtf_surface`` calls its Python UDTF
    through a lateral join, so no function name is registered either.
    A fresh session of the same context starts with an empty catalog
    of its own."""
    from eventstream_benchmark_spark.operators import all_queries

    queries = all_queries()
    checked = [
        name for name, q in queries.items()
        if re.search(r"\b(spark\.sql|fixture_sql)\(", inspect.getsource(inspect.unwrap(q)))
    ] + ["udtf_surface"]
    assert len(checked) >= 25, checked
    session = spark.newSession()
    before = sorted(t.name for t in session.catalog.listTables())
    for name in checked:
        queries[name](session, sf_small).collect()
        after = sorted(t.name for t in session.catalog.listTables())
        assert after == before, f"{name} left {sorted(set(after) - set(before))}"
    assert not session.catalog.functionExists("scale_buckets")


def test_workers_import_the_package_without_pythonpath(tmp_path):
    """A program that finds the package through ``sys.path`` alone (as
    ``__spark_entry__`` does), on a plain session started from another
    directory with no ``PYTHONPATH``, still runs a query whose Python
    workers import package functions by name."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__
print("rows", __spark_entry__.queries()["streaming_pattern_state"](spark, {SF_SMALL!r}).count())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0 and "rows " in run.stdout, run.stderr[-3000:]
