"""Seeded randomized oracle sweeps for the relational core.

The fixture-scale hash parity (3 SFs, every round) proves the
relational queries agree with DuckDB on the driver's tables, but those
tables are well-behaved: every FK resolves, prices rarely tie, and no
key is NULL. This sweep generates small random star-schema fixtures
that PLANT the shapes the fixtures cannot produce, then checks the
same Spark-vs-DuckDB parity contract on each:

* customers with zero orders (anti-join side) and orders with DANGLING
  custkeys (present in orders, absent from customer — dropped by the
  customer-side left join, matched by nothing);
* a NULL ``user_id`` event row — null grouping keys, null-safe set
  semantics (UNION/INTERSECT/EXCEPT treat NULL = NULL), and the
  null-never-equi-joins rule in the full outer reconciliation;
* order prices drawn from a coarse quarter-unit grid so ties are DENSE
  — rank vs dense_rank vs row_number divergence inside partitions,
  ties straddling the global top-20 cut and the per-brand top-3 cut,
  broken by the key columns exactly as the queries document;
* order dates planted EXACTLY at the full-outer filter's inclusive
  ``>= 1999-01-01`` boundary and 1 µs before it;
* per-user timestamp ties (same user, same ts, different event_id) so
  the dedup windows' documented id tie-break decides.

Fixture invariants the queries document are respected: ``o_custkey``
is never NULL (the semi/anti oracle uses ``NOT IN``, which is
three-valued — a NULL would legitimately diverge from Spark's
``left_anti``, so the invariant is part of the contract, recorded in
the join_semi_anti docstring's SQL).

Every float column in the swept set is deterministic cross-engine by
construction: prices/values are quarter-unit doubles (integer
multiples of 2^-2, magnitudes << 2^50), so every partial sum is
exactly representable and summation order cannot matter; the ranking
fractions are small-denominator rationals whose 6-dp rounding never
sits on a decision boundary (a binary double can't equal an odd
multiple of 5e-7).
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.sweep_util import quarter as _quarter, sweep_check

BASE_US = 1_706_000_000_000_000  # 2024-01-24-ish, µs epoch
BOUNDARY_US = 915_148_800_000_000  # 1999-01-01 00:00:00 UTC, µs epoch

SEGMENTS = ["AUTOMOBILE", "BUILDING", "MACHINERY"]
BRANDS = ["Brand#11", "Brand#22", "Brand#33"]
EVENT_TYPES = ["view", "click", "cart", "purchase"]

SWEPT = (
    "join_left_outer",
    "join_semi_anti",
    "join_full_outer",
    "set_ops",
    "set_ops_by_name",
    "dedup_exact",
    "dedup_keep_latest",
    "win_ranking",
    "win_value_functions",
    "topk_per_group",
    "sort_limit_topk",
    "win_frame_running",
    "win_frame_range",
)




def _build_fixture(rng: random.Random, root) -> str:
    # ---- customer: some will get zero orders --------------------------
    n_cust = rng.randint(8, 20)
    custkeys = [10 + i for i in range(n_cust)]
    customer = pa.table(
        {
            "c_custkey": pa.array(custkeys, pa.int64()),
            "c_name": pa.array([f"Customer#{k}" for k in custkeys]),
            "c_nationkey": pa.array(
                [rng.randint(0, 4) for _ in custkeys], pa.int32()
            ),
            "c_acctbal": pa.array(
                [_quarter(rng, -10, 100) for _ in custkeys], pa.float64()
            ),
            "c_mktsegment": pa.array([rng.choice(SEGMENTS) for _ in custkeys]),
        }
    )

    # ---- orders: fanout, dangling FKs, dense price ties, boundary dates
    o_rows = []
    okey = 100
    for ck in custkeys:
        for _ in range(rng.randint(0, 5)):  # 0 orders => anti-join side
            # coarse grid => dense ties inside and across partitions
            price = rng.choice([5.0, 7.25, 7.25, 12.5, 12.5, 12.5, 20.0])
            if rng.random() < 0.2:
                date_us = rng.choice([BOUNDARY_US, BOUNDARY_US - 1])
            else:
                date_us = BOUNDARY_US + rng.randint(
                    -50, 50
                ) * 86_400_000_000
            o_rows.append((okey, ck, rng.choice("OF"), price, date_us, "1-URGENT"))
            okey += 1
    for i in range(3):  # dangling custkeys: match no customer
        o_rows.append(
            (okey, 9_999 + i, "O", _quarter(rng, 1, 50), BASE_US, "2-HIGH")
        )
        okey += 1
    # both sides of the inclusive >= 1999-01-01 cut, unconditionally:
    # the per-row rng.choice above left seed 4242 with zero
    # one-µs-before rows (the excluded side untested)
    for d in (BOUNDARY_US, BOUNDARY_US - 1):
        o_rows.append((okey, custkeys[0], "O", _quarter(rng, 1, 50), d, "2-HIGH"))
        okey += 1
    orders = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in o_rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in o_rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in o_rows]),
            "o_totalprice": pa.array([r[3] for r in o_rows], pa.float64()),
            "o_orderdate": pa.array([r[4] for r in o_rows], pa.timestamp("us")),
            "o_orderpriority": pa.array([r[5] for r in o_rows]),
        }
    )

    # ---- part: a 5-way price tie straddles the per-brand top-3 cut ----
    p_rows = []
    pkey = 1
    for brand in BRANDS[: rng.randint(2, 3)]:
        tie_price = _quarter(rng, 10, 40)
        for _ in range(5):
            p_rows.append((pkey, brand, tie_price))
            pkey += 1
        for _ in range(rng.randint(0, 4)):
            p_rows.append((pkey, brand, _quarter(rng, 1, 50)))
            pkey += 1
    part = pa.table(
        {
            "p_partkey": pa.array([r[0] for r in p_rows], pa.int64()),
            "p_name": pa.array([f"part {r[0]}" for r in p_rows]),
            "p_brand": pa.array([r[1] for r in p_rows]),
            "p_type": pa.array(["STANDARD" for _ in p_rows]),
            "p_size": pa.array([rng.randint(1, 50) for _ in p_rows], pa.int32()),
            "p_retailprice": pa.array([r[2] for r in p_rows], pa.float64()),
        }
    )

    # ---- events: user ids half-overlap custkeys, ts ties, one NULL key
    ev_rows = []
    eid = 0
    user_pool = custkeys[: n_cust // 2] + [500 + i for i in range(4)]
    for uid in user_pool:
        if rng.random() < 0.25:
            continue  # user with no events at all
        t = BASE_US + rng.randint(0, 3_600_000_000)
        for _ in range(rng.randint(3, 20)):
            if rng.random() >= 0.15:  # ~15% zero gaps => ts ties
                t += rng.randint(1_000_000, 2_000_000_000)
            ev_rows.append(
                (
                    eid,
                    t,
                    uid,
                    rng.choice(EVENT_TYPES),
                    _quarter(rng, 1, 200),
                    '{"k": %d}' % rng.randint(0, 9),
                )
            )
            eid += 1
    # an event pair EXACTLY 3600 s apart: win_frame_range's trailing
    # 1-hour RANGE frame is inclusive on both bounds, so the earlier
    # row must count inside the later row's frame in both engines —
    # random µs gaps never land on the edge by themselves
    ev_rows.append((eid, BASE_US + 10_000_000, user_pool[0], "view",
                    3.25, '{"k": 1}'))
    ev_rows.append((eid + 1, BASE_US + 10_000_000 + 3_600_000_000,
                    user_pool[0], "view", 4.5, '{"k": 2}'))
    eid += 2
    # one NULL user_id row: null grouping key + null-safe set semantics
    ev_rows.append((eid, BASE_US + 5, None, "click", 2.25, '{"k": 0}'))
    ev_rows.sort(key=lambda r: (r[1], r[0]))
    events = pa.table(
        {
            "event_id": pa.array([r[0] for r in ev_rows], pa.int64()),
            "ts": pa.array([r[1] for r in ev_rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in ev_rows], pa.int64()),
            "event_type": pa.array([r[3] for r in ev_rows]),
            "value": pa.array([r[4] for r in ev_rows], pa.float64()),
            "props": pa.array([r[5] for r in ev_rows]),
        }
    )

    root.mkdir()
    for name, tbl in (
        ("customer", customer),
        ("orders", orders),
        ("part", part),
        ("events", events),
    ):
        pq.write_table(tbl, str(root / f"{name}.parquet"))
    return str(root)


@pytest.mark.parametrize("seed", [19, 4242])
def test_relational_core_randomized_oracle_agreement(spark, tmp_path, seed):
    rng = random.Random(seed)
    sf = _build_fixture(rng, tmp_path / f"rel{seed}")
    sweep_check(spark, sf, SWEPT, ("customer", "orders", "part", "events"), seed)


def test_morton_interleave_matches_bit_reference(spark):
    """The div/mod Morton expression equals the classic bit-twiddling
    interleave for every (d1, d2) in an 8x8 corner plus edge cases."""
    from eventstream_benchmark_spark.operators.relational import _morton_sql

    def morton_ref(x, y):
        z = 0
        for b in range(8):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    cases = [(x, y) for x in range(8) for y in range(8)]
    cases += [(255, 255), (255, 0), (0, 255), (170, 85)]
    df = spark.createDataFrame(cases, "d1 long, d2 long").withColumn(
        "z", F.expr(_morton_sql("div"))
    )
    for r in df.collect():
        assert r.z == morton_ref(r.d1, r.d2), (r.d1, r.d2)


_SPLIT_CASES = {
    "ties_heavy": [5] * 20 + [7] * 13 + [9],
    "n_lt_runs": [3, 1, 2],
    "n_eq_runs": list(range(8)),
    "single": [42],
    "empty": [],
    "random_997": [random.Random(7).randrange(0, 10**15) for _ in range(997)],
    "one_bucket": [1000 + i for i in range(100)],
    "one_per_bucket": [i * (1 << 33) for i in range(50)],
}


@pytest.mark.parametrize("name", sorted(_SPLIT_CASES))
def test_split_points_match_ntile_positions(spark, name):
    """``_sort_split_points`` selects the k values at EXACTLY the sorted
    positions ``ntile(SORT_RUNS)`` tile maxima occupy: the bucketed
    keyed-window spelling and the single-partition ntile spelling are
    interchangeable BY VALUE, which lets the DuckDB oracle keep its
    single-node ntile replay while the Spark plan carries no
    data-sized unkeyed window. The cases are the shapes the
    closed-form position rule must survive: heavy ties (multiset
    positions, not row identity), n < RUNS (empty ntile tiles produce
    no split point), n == RUNS, a single row, an empty sample, all
    keys in one histogram bucket, and one key per bucket."""
    from eventstream_benchmark_spark.operators.relational import (
        SORT_RUNS,
        _sort_split_points,
    )

    ks = _SPLIT_CASES[name]
    df = (
        spark.createDataFrame([(int(x),) for x in ks], "k long")
        if ks
        else spark.createDataFrame([], "k long")
    )
    new = _sort_split_points(df).collect()[0]["bs"]
    old = (
        df.withColumn("t", F.ntile(SORT_RUNS).over(Window.orderBy("k")))
        .filter(F.col("t") < SORT_RUNS)
        .groupBy("t")
        .agg(F.max("k").alias("b"))
        .agg(F.sort_array(F.collect_list("b")).alias("bs"))
    ).collect()[0]["bs"]
    assert new == old
