"""Seeded randomized oracle sweeps for the aggregation family.

Counterpart of ``test_relational_sweeps.py`` for the grouped /
multi-dimensional / statistical aggregates: random star-schema tables
whose value grids keep every float lane deterministic cross-engine,
with the decision boundaries PLANTED:

* ``l_shipdate`` rows EXACTLY at Q1's inclusive ``<= 1998-09-02``
  cut and 1 µs past it; rows exactly at Q3's strict ``> 1998-01-01``
  cut and 1 µs past it (and ``o_orderdate`` exactly at its strict
  ``< 1998-01-01`` cut) — one-sided boundaries where an off-by-one in
  either engine's literal parsing or comparison flips a row;
* a single-row stats group (n−1 = 0) and a constant-quantity group
  (zero variance ⇒ zero correlation denominator) — the two degenerate
  shapes ``agg_stats_moments``' null_safe_div exists for, exercised
  against the oracle's NULL-propagating replay rather than only in
  unit tests;
* event values exactly ON a histogram bucket edge (25.0) so the
  floor-bucket assignment is decided at the boundary;
* event types OUTSIDE the declared pivot value list (``cart``) —
  explicitly-declared pivots must drop them identically;
* quantity/price grids of exact 2-decimal dyadics (quarters), so
  DECIMAL(18,2) casts are lossless (the stats-moment contract), double
  products like ``price·(1−disc)·(1+tax)`` stay dyadic-exact, and no
  sum anywhere depends on addition order.
"""

from __future__ import annotations

import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMALL
from tests.sweep_util import quarter as _quarter, sweep_check

Q1_CUT_US = 904_694_400_000_000  # 1998-09-02 00:00:00 UTC
Q3_CUT_US = 883_612_800_000_000  # 1998-01-01 00:00:00 UTC
BASE_US = 1_706_000_000_000_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "MACHINERY"]
NATIONS = ["FRANCE", "GERMANY", "KENYA"]
EVENT_TYPES = ["view", "click", "cart", "purchase"]  # cart: not a pivot value

SWEPT = (
    "agg_hash_global",
    "agg_groupby_q1",
    "agg_distinct",
    "agg_distinct_approx",
    "agg_stats_moments",
    "scalar_decimal",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "agg_histogram",
    "agg_pivot",
    "reshape_unpivot",
    "agg_skew_salted",
    "sql_tpch_q3",
)




def _build_fixture(rng: random.Random, root) -> str:
    # ---- nation / customer / orders (rollup + Q3 join path) -----------
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
            "n_name": pa.array(NATIONS),
            "n_regionkey": pa.array([0] * len(NATIONS), pa.int32()),
        }
    )
    n_cust = rng.randint(6, 14)
    custkeys = list(range(1, n_cust + 1))
    customer = pa.table(
        {
            "c_custkey": pa.array(custkeys, pa.int64()),
            "c_name": pa.array([f"Customer#{k}" for k in custkeys]),
            "c_nationkey": pa.array(
                [rng.randint(0, len(NATIONS) - 1) for _ in custkeys], pa.int32()
            ),
            "c_acctbal": pa.array(
                [_quarter(rng, -10, 100) for _ in custkeys], pa.float64()
            ),
            # Q3 filters on BUILDING — guarantee some exist
            "c_mktsegment": pa.array(
                ["BUILDING" if k % 3 == 0 else rng.choice(SEGMENTS) for k in custkeys]
            ),
        }
    )
    o_rows = []
    okey = 1
    for ck in custkeys:
        for _ in range(rng.randint(0, 4)):
            if rng.random() < 0.25:  # Q3's STRICT < 1998-01-01 boundary
                date_us = rng.choice([Q3_CUT_US, Q3_CUT_US - 1])
            else:
                date_us = Q3_CUT_US + rng.randint(-400, 400) * 86_400_000_000
            o_rows.append((okey, ck, _quarter(rng, 1, 50), date_us))
            okey += 1
    # o_orderdate exactly at / 1 µs before Q3's strict < cut,
    # unconditionally (the per-row rng left seeds one-sided)
    for d in (Q3_CUT_US, Q3_CUT_US - 1):
        o_rows.append((okey, custkeys[0], _quarter(rng, 1, 50), d))
        okey += 1
    orders = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in o_rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in o_rows], pa.int64()),
            "o_orderstatus": pa.array(["O"] * len(o_rows)),
            "o_totalprice": pa.array([r[2] for r in o_rows], pa.float64()),
            "o_orderdate": pa.array([r[3] for r in o_rows], pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * len(o_rows)),
        }
    )

    # ---- lineitem: dyadic 2-dp grids + planted boundary shipdates -----
    li_rows = []
    orderkeys = [r[0] for r in o_rows] or [1]
    for _ in range(rng.randint(30, 120)):
        roll = rng.random()
        if roll < 0.15:  # Q1's INCLUSIVE <= 1998-09-02 boundary
            ship_us = rng.choice([Q1_CUT_US, Q1_CUT_US + 1])
        elif roll < 0.3:  # Q3's STRICT > 1998-01-01 boundary
            ship_us = rng.choice([Q3_CUT_US, Q3_CUT_US + 1])
        else:
            ship_us = Q3_CUT_US + rng.randint(-400, 400) * 86_400_000_000
        li_rows.append(
            (
                rng.choice(orderkeys),
                rng.randint(1, 40),  # partkey
                rng.randint(1, 8),  # suppkey
                rng.randint(1, 7),  # linenumber
                _quarter(rng, 1, 50),  # quantity
                _quarter(rng, 1, 2000),  # extendedprice
                rng.choice([0.0, 0.25, 0.5]),  # discount: dyadic 2-dp
                rng.choice([0.0, 0.25]),  # tax: dyadic 2-dp
                rng.choice("ANR"),
                rng.choice("FO"),
                ship_us,
            )
        )
    # both sides of BOTH one-sided cuts, unconditionally (seed 8088's
    # per-row rng left zero rows at Q3_CUT-1 and one at Q1_CUT+1):
    # Q1's inclusive <= and Q3's strict > each get an included and an
    # excluded row regardless of the roll
    for ship_us in (Q1_CUT_US, Q1_CUT_US + 1, Q3_CUT_US, Q3_CUT_US + 1):
        li_rows.append(
            (orderkeys[0], 3, 3, 2, 5.0, _quarter(rng, 1, 100), 0.25, 0.0,
             "R", "F", ship_us)
        )
    # degenerate stats groups: linestatus 'X' = constant quantity
    # (corr denominator 0), 'Y' = single row (n-1 = 0)
    for _ in range(3):
        li_rows.append((orderkeys[0], 1, 1, 1, 7.25, _quarter(rng, 1, 100),
                        0.25, 0.0, "A", "X", Q1_CUT_US))
    li_rows.append((orderkeys[0], 2, 2, 1, 3.0, 11.5, 0.0, 0.25, "N", "Y",
                    Q1_CUT_US))
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in li_rows], pa.int64()),
            "l_partkey": pa.array([r[1] for r in li_rows], pa.int64()),
            "l_suppkey": pa.array([r[2] for r in li_rows], pa.int64()),
            "l_linenumber": pa.array([r[3] for r in li_rows], pa.int32()),
            "l_quantity": pa.array([r[4] for r in li_rows], pa.float64()),
            "l_extendedprice": pa.array([r[5] for r in li_rows], pa.float64()),
            "l_discount": pa.array([r[6] for r in li_rows], pa.float64()),
            "l_tax": pa.array([r[7] for r in li_rows], pa.float64()),
            "l_returnflag": pa.array([r[8] for r in li_rows]),
            "l_linestatus": pa.array([r[9] for r in li_rows]),
            "l_shipdate": pa.array([r[10] for r in li_rows], pa.timestamp("us")),
        }
    )

    # ---- events: bucket-edge values + non-pivot types ------------------
    ev_rows = []
    eid = 0
    for uid in range(rng.randint(3, 8)):
        t = BASE_US + rng.randint(0, 3_600_000_000)
        for _ in range(rng.randint(3, 25)):
            t += rng.randint(1_000_000, 200_000_000_000)  # spans days
            if rng.random() < 0.1:
                value = 25.0  # exactly ON the histogram bucket edge
            else:
                value = _quarter(rng, 0, 200)
            ev_rows.append(
                (eid, t, uid, rng.choice(EVENT_TYPES), value,
                 '{"k": %d}' % rng.randint(0, 9))
            )
            eid += 1
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
        ("nation", nation),
        ("customer", customer),
        ("orders", orders),
        ("lineitem", lineitem),
        ("events", events),
    ):
        pq.write_table(tbl, str(root / f"{name}.parquet"))
    return str(root)


@pytest.mark.parametrize("seed", [23, 8088])
def test_aggregate_family_randomized_oracle_agreement(spark, tmp_path, seed):
    rng = random.Random(seed)
    sf = _build_fixture(rng, tmp_path / f"agg{seed}")
    sweep_check(spark, sf, SWEPT, ("nation", "customer", "orders", "lineitem", "events"), seed)


def test_kmv_bottom_k_merge_theorem(spark):
    """Bottom-k of a union equals bottom-k of per-shard bottom-ks — on
    synthetic hash values crafted so every day's sketch OVERLAPS the
    global bottom region (the stress case for the merge path)."""
    from eventstream_benchmark_spark.operators.relational import KMV_K

    rows = [(d, v * 7919 % 100_003) for d in range(5) for v in range(400)]
    df = spark.createDataFrame(rows, "day int, h long").distinct()
    direct = [
        r.h
        for r in df.select("h")
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
        .collect()
    ]
    from pyspark.sql import Window as W

    w_day = W.partitionBy("day").orderBy("h")
    merged = (
        df.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") <= KMV_K)
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
        .collect()
    )
    assert [r.h for r in merged] == direct


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_ORACLE])
def test_topk_tie_gap_invariant(sf_dir):
    """``agg_approx_topk_contract``'s oracle hardcodes TRUE for
    in_sketch. That is only guaranteed when the 5th exact count
    strictly exceeds the (TOPK_SKETCH+1)-th: then at most TOPK_SKETCH
    items have count ≥ the 5th's, so ANY width-10 exact top-k
    selection must include the top 5 regardless of engine-internal
    tie order (pigeonhole). Pin that gap as a fixture invariant at
    both test SFs."""
    from eventstream_benchmark_spark.operators.relational import (
        TOPK_EXACT,
        TOPK_SKETCH,
    )

    con = duckdb.connect()
    try:
        counts = [
            r[0]
            for r in con.execute(
                f"""
                SELECT count(*) AS n
                FROM read_parquet('{sf_dir}/lineitem.parquet')
                GROUP BY l_partkey ORDER BY n DESC
                LIMIT {TOPK_SKETCH + 1}
                """
            ).fetchall()
        ]
    finally:
        con.close()
    assert len(counts) == TOPK_SKETCH + 1, "fixture narrower than the sketch"
    # strict gap: the 5th-ranked count beats the 11th-ranked, so at most
    # 10 items tie at-or-above it and the sketch MUST contain the top 5
    assert counts[TOPK_EXACT - 1] > counts[TOPK_SKETCH], (
        f"tie plateau spans the sketch boundary at {sf_dir}: "
        f"5th={counts[TOPK_EXACT - 1]} 11th={counts[TOPK_SKETCH]} — "
        "in_sketch=TRUE is no longer pigeonhole-guaranteed"
    )


def test_weighted_reservoir_monotone_in_weight(spark, sf_oracle):
    """Selection frequency must respond to weight: the sampled docs'
    mean weight should be >= the corpus mean weight (heavier docs hold
    more tickets). Deterministic given the fixture."""
    from eventstream_benchmark_spark.operators.text import (
        RESERVOIR_MAX_W,
        RESERVOIR_W_DIV,
        sample_weighted_reservoir,
    )
    from eventstream_benchmark_spark.io import load_table

    sample = sample_weighted_reservoir(spark, sf_oracle)
    mean_sample_w = sample.agg(F.avg("weight")).first()[0]
    docs = load_table(spark, sf_oracle, "documents")
    w = F.least(
        F.lit(RESERVOIR_MAX_W),
        F.lit(1) + (F.col("n_chars") / F.lit(RESERVOIR_W_DIV)).cast("long"),
    )
    mean_corpus_w = docs.select(w.alias("w")).agg(F.avg("w")).first()[0]
    assert mean_sample_w >= mean_corpus_w
