"""Seeded randomized oracle sweeps for the graph / market-basket pack.

The co-purchase graph is DERIVED (parts sharing an order become
edges), so the sweep controls graph topology through basket
composition: a small part pool with skewed popularity makes edges
recur past the co-occurrence threshold, hub parts appear in many
baskets (BFS seeds with real eccentricity, PageRank mass sinks),
triangles form through popular part triples, and single-line orders
contribute no edges at all. Orders straddle the churn comparison's
time split so the edge-churn report classifies added / dropped /
kept edges non-trivially.

PageRank keeps its documented discipline (per-node contribution sums
may differ across engines by ~1e-16; three damped iterations cannot
push that past the 6-dp output rounding, and the top-k orders by
(rounded score, id)); everything else in the pack is exact integer
counting.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.sweep_util import quarter as _quarter, sweep_check

BASE_US = 1_706_000_000_000_000
DAY_US = 86_400_000_000

SWEPT = (
    "copurchase_part_pairs",
    "graph_triangle_count",
    "graph_pagerank",
    "graph_bfs_hops",
    "graph_edge_churn",
    "basket_association_rules",
)




def _build_fixture(rng: random.Random, root) -> str:
    n_part = rng.randint(8, 14)  # small pool => recurring edges
    # skewed popularity: low part ids are hubs
    def pick_part():
        return 1 + min(rng.randrange(n_part), rng.randrange(n_part))

    o_rows, li_rows = [], []
    okey = 1
    for _ in range(rng.randint(25, 60)):
        date_us = BASE_US + rng.randint(-180, 180) * DAY_US
        o_rows.append(
            (okey, rng.randint(1, 12), rng.choice("FO"),
             _quarter(rng, 1, 300), date_us, "2-HIGH")
        )
        basket_size = rng.choice([1, 2, 2, 3, 3, 4, 5])  # 1 => no edges
        parts = set()
        while len(parts) < basket_size:
            parts.add(pick_part())
        for ln, pk in enumerate(sorted(parts)):
            li_rows.append(
                (okey, pk, rng.randint(1, 4), ln + 1,
                 _quarter(rng, 1, 20), _quarter(rng, 1, 500),
                 rng.choice([0.0, 0.25]), rng.choice([0.0, 0.25]),
                 rng.choice("ANR"), rng.choice("FO"),
                 date_us + rng.randint(0, 30) * DAY_US)
            )
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
    root.mkdir()
    pq.write_table(orders, str(root / "orders.parquet"))
    pq.write_table(lineitem, str(root / "lineitem.parquet"))
    return str(root)


@pytest.mark.parametrize("seed", [83, 9999])
def test_graph_randomized_oracle_agreement(spark, tmp_path, seed):
    rng = random.Random(seed)
    sf = _build_fixture(rng, tmp_path / f"graph{seed}")
    sweep_check(spark, sf, SWEPT, ("orders", "lineitem"), seed)


def _write_lineitem(spark, tmp_path, baskets):
    """Materialize a synthetic lineitem fixture: baskets[i] = iterable
    of part keys sharing order i."""
    rows = [
        (int(o), int(p), 1.0, 0.0, 0.0, 1.0, "N", "O", "1995-01-01")
        for o, parts in enumerate(baskets)
        for p in parts
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_quantity double, l_discount double,"
        " l_tax double, l_extendedprice double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    df.write.mode("overwrite").parquet(os.path.join(str(tmp_path), "lineitem.parquet"))
    return str(tmp_path)


def test_bfs_layers_on_path_graph(spark, tmp_path):
    """A 6-vertex path graph built from pairwise baskets: parts 0-1,
    1-2, ..., each co-bought twice (over the edge threshold). Highest
    degree belongs to interior vertices; seeds = the 3 top-degree
    (1, 2, 3 by the (deg desc, id) tiebreak), so hop layers are
    {1,2,3}=0, {0,4}=1, {5}=2."""
    from eventstream_benchmark_spark.operators.graph import graph_bfs_hops

    edges = [(i, i + 1) for i in range(5)]
    baskets = [e for e in edges for _ in range(2)]  # each edge twice
    sf_dir = _write_lineitem(spark, tmp_path, baskets)
    got = {
        r.hops: (r.n_nodes, r.sum_v)
        for r in graph_bfs_hops(spark, sf_dir).collect()
    }
    assert got == {0: (3, 6), 1: (2, 4), 2: (1, 5)}
