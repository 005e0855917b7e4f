"""``io.load_table``'s schema memo.

A bare ``spark.read.parquet`` infers the schema in a Spark job on every
call; ``load_table`` infers once per (path, file stamps, nanosAsLong)
and reads with the stored schema after that. These tests pin that a
warm load starts no job, that a rewritten file or a flipped conf is
inferred again, and that the memo changes no query plan.
"""

from __future__ import annotations

import re
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from eventstream_benchmark_spark import io

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    group = f"io-memo-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def _write(path, **cols) -> None:
    pq.write_table(pa.table(cols), str(path))


def test_warm_load_starts_no_job(spark, tmp_path):
    _write(tmp_path / "region.parquet", r_regionkey=pa.array([0, 1], pa.int64()))
    sf = str(tmp_path)
    assert _jobs(spark, lambda: io.load_table(spark, sf, "region").schema) >= 1
    assert _jobs(spark, lambda: io.load_table(spark, sf, "region").schema) == 0
    assert io.load_table(spark, sf, "region").count() == 2


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_rewritten_table_is_inferred_again(spark, tmp_path, layout):
    """One parquet file, or a directory of part files as Spark writes
    it (``sf_scale_up``'s fixtures), rewritten with another schema."""
    path = tmp_path / "region.parquet"
    sf = str(tmp_path)

    def write(pdf):
        if layout == "file":
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(path))
        else:
            spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(path))

    write(pd.DataFrame({"r_regionkey": [0, 1]}))
    assert io.load_table(spark, sf, "region").columns == ["r_regionkey"]
    write(pd.DataFrame({"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"]}))
    df = io.load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(df.toPandas()["r_name"]) == ["a", "b", "c"]


def test_nanos_as_long_is_part_of_the_key(spark, tmp_path):
    _write(tmp_path / "region.parquet", r_regionkey=pa.array([0, 1], pa.int64()))
    sf = str(tmp_path)
    prev = spark.conf.get(NANOS, "false")
    try:
        for value in ("false", "true"):
            spark.conf.set(NANOS, value)
            assert _jobs(spark, lambda: io.load_table(spark, sf, "region").schema) >= 1
            assert _jobs(spark, lambda: io.load_table(spark, sf, "region").schema) == 0
    finally:
        spark.conf.set(NANOS, prev)
    path = str(tmp_path / "region.parquet")
    assert sorted(k[2] for k in io._SCHEMAS if k[0] == path) == ["false", "true"]


def test_memo_leaves_plans_unchanged(spark, sf_small, monkeypatch):
    """A ``query_mix`` query plans the same from an inferred and from a
    stored schema (expression and plan ids aside)."""
    from eventstream_benchmark_spark.operators import all_queries

    def plan() -> str:
        df = all_queries()["join_asof"](spark, sf_small)
        text = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        return re.sub(r"(#|plan_id=)\d+", r"\1N", text)

    monkeypatch.setattr(io, "_SCHEMAS", {})
    cold = plan()
    assert io._SCHEMAS, "the cold plan stored no schema"
    assert plan() == cold
