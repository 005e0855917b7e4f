"""Degenerate-input parity: the ANSI division-guard sweep, proven on
whole queries against adversarial data the real fixtures never
produce.

The round-7 sweep established that ANSI Spark raises DIVIDE_BY_ZERO
where DuckDB yields NULL, and guarded every plausibly-zero
denominator. Unit tests pin the helpers; THIS suite pins the queries:
a synthetic fixture is built whose rows hit every guarded boundary at
once —

- a zero embedding vector (zero-norm cosine, zero total energy,
  ``amax = 0`` quantization scale) plus an exact-duplicate vector
  pair (zero-distance dedup path),
- an event stream whose per-type timestamps all tie (Σdt = 0 TWAP),
  spanning a single hour (n−1 = 0 dispersion, empty-lag ACF) with a
  constant value column (zero variance),
- one-row lineitem groups and a constant two-row group (n−1 = 0 and
  zero-variance moments),
- one- and two-token documents (empty trigram sets, shingle-filtered
  docs) next to an exact-duplicate text pair,

and the affected queries run through the SAME oracle harness the
driver uses — full row/schema/value-hash parity on the degenerate
fixture, not merely "does not crash". A query that survives only
because the production fixture is benign fails here loudly.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tests.oracle_harness import check_query

# distinct basename: scratch-dir-writing queries key on it
_DEGEN = "/tmp/esb_degenerate/sfdegen"

_US = 1_706_000_000_000_000  # one fixed microsecond instant


def _ts(us: int):
    return pa.scalar(us, type=pa.timestamp("us"))


def _build() -> str:
    if os.path.exists(os.path.join(_DEGEN, "_OK")):
        return _DEGEN
    shutil.rmtree(_DEGEN, ignore_errors=True)
    os.makedirs(_DEGEN, exist_ok=True)
    # tables the harness registers but these queries barely touch:
    # copy the real sf0.001 files
    for t in ("region", "nation", "customer", "supplier", "part", "orders"):
        shutil.copy(os.path.join(SF_SMALL, f"{t}.parquet"),
                    os.path.join(_DEGEN, f"{t}.parquet"))

    # events: ONE user, ONE microsecond, ONE hour — every per-type
    # dwell is zero (TWAP Σdt = 0), the hour spine has n = 1
    # (dispersion n−1 = 0), every lagged series is empty/constant
    ev = pa.table({
        "event_id": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
        "ts": pa.array([_US] * 6, pa.timestamp("us")),
        "user_id": pa.array([1] * 6, pa.int64()),
        "event_type": pa.array(
            ["click", "click", "click", "purchase", "purchase", "view"]),
        "value": pa.array([5.0] * 6, pa.float64()),
        "props": pa.array(['{"k": 1}'] * 6),
    })
    pq.write_table(ev, os.path.join(_DEGEN, "events.parquet"))

    # embeddings: a zero vector (vec 0), an exact-duplicate pair
    # (vecs 1/2), and two more so k-means/PQ seeds are nondegenerate
    dim = 64
    vecs = [
        [0.0] * dim,                                  # zero norm
        [1.0] * dim,                                  # dup pair a
        [1.0] * dim,                                  # dup pair b
        [float(i % 7) for i in range(dim)],
        [float((i * 3) % 5) for i in range(dim)],
    ]
    emb = pa.table({
        "vec_id": pa.array(list(range(len(vecs))), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([0, 1, 1, 2, 3], pa.int32()),
    })
    pq.write_table(emb, os.path.join(_DEGEN, "embeddings.parquet"))

    # documents: 1- and 2-token docs (trigram n = 0, shingle-filtered)
    # plus an exact-duplicate text pair and one normal doc
    texts = [
        "a",
        "a b",
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick brown fox jumps over the lazy dog again and again",
        "completely different content with several plain words here",
    ]
    docs = pa.table({
        "doc_id": pa.array(list(range(1, len(texts) + 1)), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array(["web"] * len(texts)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(_DEGEN, "documents.parquet"))

    # lineitem: one-row groups (n−1 = 0 moments) and a constant
    # two-row group (zero variance — the corr denominator)
    li = pa.table({
        "l_orderkey": pa.array([1, 2, 3, 4], pa.int64()),
        "l_partkey": pa.array([1, 1, 1, 1], pa.int64()),
        "l_suppkey": pa.array([1, 1, 1, 1], pa.int64()),
        "l_linenumber": pa.array([1, 1, 1, 1], pa.int32()),
        "l_quantity": pa.array([10.0, 10.0, 10.0, 20.0], pa.float64()),
        "l_extendedprice": pa.array([100.0, 100.0, 100.0, 250.0], pa.float64()),
        "l_discount": pa.array([0.05, 0.05, 0.05, 0.06], pa.float64()),
        "l_tax": pa.array([0.02, 0.02, 0.02, 0.03], pa.float64()),
        "l_returnflag": pa.array(["N", "N", "N", "R"]),
        # 'F' = constant 2-row group (zero variance); 'O'/'P' = 1-row
        "l_linestatus": pa.array(["F", "F", "O", "P"]),
        "l_shipdate": pa.array([_US] * 4, pa.timestamp("us")),
    })
    pq.write_table(li, os.path.join(_DEGEN, "lineitem.parquet"))
    open(os.path.join(_DEGEN, "_OK"), "w").close()
    return _DEGEN


# every query whose guard the degenerate fixture exercises, checked
# with FULL driver-style parity (row count + schema + value hash)
_QUERIES = (
    "time_weighted_avg",          # Σdt = 0 per type → NULL twap
    "events_dispersion_index",    # n = 1 hour → NULL index
    "events_acf_lags",            # constant/1-point series
    "agg_stats_moments",          # n−1 = 0 and zero-variance groups
    "text_repetition_score",      # sub-3-token docs
    "embed_matryoshka_energy",    # zero-energy vector → NULL micro
    "embed_quantize_int8",        # amax = 0 row filtered pre-division
    "embed_cosine_topk",          # the PROBE ITSELF is the zero vector
    "knn_bruteforce_topk",        # zero vector among queries + corpus
    "ann_lsh_cosine",             # zero vector in every bucket pair
    "dedup_embedding_cosine",     # exact-dup collapse + zero vector
    "dedup_semantic_cluster",     # k-means over a zero-vector corpus
    "scd2_user_state",            # zero-dwell intervals, one user
    "stream_anomaly_mad",         # constant values → MAD = 0
)


# ordering-sensitive queries: the fixture's timestamps ALL tie, so
# every window/asof/session ordering is decided purely by its declared
# tie-break (SURVEY §1.2 — the reference's own pattern boundaries tie).
# Any ordering missing a total tie-break diverges from the oracle here
# even though the production fixtures (mostly distinct timestamps)
# would mask it.
_TIE_QUERIES = (
    "join_asof",
    "join_asof_nearest",
    "dedup_exact",
    "dedup_keep_latest",
    "win_lag_inter_arrival",
    "session_window_agg",
    "funnel_conversion",
    "attribution_last_touch",
    "attribution_linear",
    "join_range_interval",
)


@pytest.fixture(scope="module")
def degen_dir():
    return _build()


@pytest.mark.parametrize("name", _QUERIES + _TIE_QUERIES)
def test_degenerate_parity(spark, degen_dir, name):
    import __spark_entry__ as e

    issues = check_query(spark, degen_dir, name, e.queries()[name],
                         e.oracle_sql()[name])
    assert not issues, f"{name}: " + "; ".join(issues)


def _all_oracled_names() -> tuple[str, ...]:
    import __spark_entry__ as e

    return tuple(sorted(e.oracle_sql()))


@pytest.mark.degenerate
@pytest.mark.parametrize("name", _all_oracled_names())
def test_degenerate_whole_registry(spark, degen_dir, name):
    """Round-7's exploratory whole-registry sweep, promoted to a
    reproducible opt-in gate (round-7 verdict item 9): EVERY oracled
    query runs full driver-style parity against the adversarial
    fixture, not just the curated guard list above. Excluded from the
    default run by pytest.ini (``addopts = -m "not degenerate"``);
    opt in with ``-m degenerate`` (~5 min at 209 cases — measured
    286 s for the round-7 sweep)."""
    import __spark_entry__ as e

    issues = check_query(spark, degen_dir, name, e.queries()[name],
                         e.oracle_sql()[name])
    assert not issues, f"{name}: " + "; ".join(issues)


def test_zero_denominator_degrades_to_null_not_crash(spark):
    """ANSI alignment pins: this environment's Spark 4 default
    (ansi.enabled=true) raises DIVIDE_BY_ZERO on every division form
    while DuckDB yields NULL — so the shared guards must turn the
    degenerate-but-plausible zero denominators (zero-norm embedding
    vectors, constant series, one-sample groups) into NULL, matching
    the oracle, instead of crashing the job at scale."""
    import duckdb

    from eventstream_benchmark_spark.operators._util import (
        floor_micro,
        null_safe_div,
    )
    from eventstream_benchmark_spark.operators.similarity import _cos, _dot, _norm

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"

    # a zero vector alongside a real one: the pair cosine must be NULL
    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, 2.0, 2.0])], "vec_id long, v array<double>"
    )
    a, b = df.alias("a"), df.alias("b")
    rows = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            _cos(
                _dot(F.col("a.v"), F.col("b.v")),
                _norm(F.col("a.v")),
                _norm(F.col("b.v")),
            ).alias("c")
        )
        .collect()
    )
    assert len(rows) == 1 and rows[0]["c"] is None

    # floor_micro: zero denominator -> NULL (DuckDB twin agrees)
    fm = spark.range(1).select(floor_micro(F.lit(5), F.lit(0)).alias("m")).collect()
    assert fm[0]["m"] is None
    duck = duckdb.connect().execute(
        "SELECT CAST(floor(1000000.0 * (CAST(5 AS DOUBLE) / CAST(0 AS DOUBLE)))"
        " AS BIGINT)"
    ).fetchone()[0]
    assert duck is None

    # null_safe_div leaves nonzero denominators bit-identical
    val = spark.range(1).select(
        (null_safe_div(F.lit(1.0), F.lit(3.0)) == F.lit(1.0) / F.lit(3.0)).alias("eq")
    ).collect()
    assert val[0]["eq"] is True
