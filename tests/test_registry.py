"""The query registry and its persist registries.

- Every ``all_queries()`` name has a DuckDB oracle and a COVERAGE.md
  entry.
- The scoped-persist release rule lives in one place: the registry
  wrapper ``_cache.released_at_entry``. No query body calls
  ``release_scoped_persists`` itself (an AST check, no Spark needed).
- The family-shared persist registry: one build per (app, fixture)
  key, re-persist after an external clearCache, full release at
  harness boundaries, and one shared build per query family.
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


def test_shared_persist_lifecycle(spark, sf_small):
    from eventstream_benchmark_spark.operators._cache import (
        _SHARED,
        release_shared_persists,
        shared_key,
        shared_persist,
    )

    builds = []
    key = shared_key(spark, "fixture", "test_family")

    def builder():
        builds.append(1)
        return spark.range(10).withColumn("x", F.col("id") * 2)

    a = shared_persist(spark, "fixture", "test_family", builder)
    b = shared_persist(spark, "fixture", "test_family", builder)
    assert a is b and len(builds) == 1 and a.is_cached and key in _SHARED
    # an external clearCache must not leave a silently-unpersisted
    # entry in the registry: the next fetch re-persists (no rebuild)
    spark.catalog.clearCache()
    c = shared_persist(spark, "fixture", "test_family", builder)
    assert c is a and len(builds) == 1 and c.is_cached
    release_shared_persists()
    assert key not in _SHARED and not a.is_cached


def _family_keys(prefix: str):
    from eventstream_benchmark_spark.operators._cache import _SHARED

    return [k for k in _SHARED if k[0] == prefix]


def test_dedup_family_shares_one_pair_build(spark, sf_small):
    """The three MinHash pair-set consumers must ride ONE family-shared
    build — and consuming the shared frame must change nothing about
    the result (cold rebuild == shared read)."""
    from eventstream_benchmark_spark.operators._cache import (
        release_shared_persists,
    )
    from eventstream_benchmark_spark.operators import all_queries

    qs = all_queries()
    release_shared_persists()
    cold = sorted(map(tuple, qs["dedup_cluster_cc"](spark, sf_small).collect()))
    # cluster CC consumes the REP-level building blocks, not the
    # member-expanded pair set — it registers exactly one build of
    # each block and none of the expansion
    assert len(_family_keys("minhash_rep_pairs")) == 1
    assert len(_family_keys("minhash_membership")) == 1
    assert len(_family_keys("minhash_pairs")) == 0
    # the expansion consumers must ride the SAME block builds and one
    # shared expansion — no second build of anything for the fixture
    qs["dedup_minhash_lsh"](spark, sf_small).count()
    qs["dedup_recall_eval"](spark, sf_small).count()
    assert len(_family_keys("minhash_pairs")) == 1
    assert len(_family_keys("minhash_rep_pairs")) == 1
    assert len(_family_keys("minhash_membership")) == 1
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


def test_sql_queries_leave_the_catalog_unchanged(spark, sf_small):
    """Every SQL-shaped registry query binds its tables for its own
    statement only: running them all leaves the session catalog as it
    was, so no view named after a fixture table can point at whichever
    ``sf_dir`` ran last. A fresh session of the same context starts
    with an empty catalog of its own."""
    from eventstream_benchmark_spark.operators import all_queries

    queries = all_queries()
    sql_shaped = sorted(
        name for name, q in queries.items()
        if re.search(r"\b(spark\.sql|fixture_sql)\(", inspect.getsource(inspect.unwrap(q)))
    )
    assert len(sql_shaped) >= 25, sql_shaped
    session = spark.newSession()
    before = sorted(t.name for t in session.catalog.listTables())
    for name in sql_shaped:
        queries[name](session, sf_small).collect()
        after = sorted(t.name for t in session.catalog.listTables())
        assert after == before, f"{name} left {sorted(set(after) - set(before))}"


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
