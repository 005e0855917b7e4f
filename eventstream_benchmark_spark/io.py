"""Fixture-table loaders.

The driver materializes a TPC-H-ish star schema + event/document/
embedding tables as one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/`` (schemas in FIXTURES.md).
Parquet scans give Catalyst predicate pushdown + column pruning for
free, so every query starts from ``load_table`` and stays declarative.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["TABLES", "load_table", "load_tables", "register_views", "default_sf_dir"]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: inferred parquet schema per (path, file stamps, nanosAsLong); see load_table
_SCHEMAS: dict[tuple, StructType] = {}


def _file_stamps(path: str) -> tuple:
    """``(name, st_ino, st_mtime_ns, st_size)`` of the parquet file at
    ``path``, or of every file under it when ``path`` is a directory."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_ino, st.st_mtime_ns, st.st_size),)
    stamps = []
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            stamps.append((os.path.relpath(p, path), st.st_ino, st.st_mtime_ns, st.st_size))
    return tuple(sorted(stamps))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    Timestamp physical types vary across fixture generations —
    TIMESTAMP(NANOS) (mapped to raw nanos via the legacy conf, since
    Spark 4 refuses NANOS→TimestampType) or TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (mapped to TIMESTAMP_NTZ) — so normalize by
    *observed* column type, not by fixture vintage: long ``ts`` becomes
    µs TimestampType (integer DIV — double division would corrupt
    epoch-nanos, ~1.7e18 > double's 53-bit mantissa); TIMESTAMP_NTZ
    columns are cast to the session-TZ TimestampType (value-identical
    under the engine's pinned UTC session, and keeps every downstream
    comparison against ``cast('timestamp')`` literals well-typed).

    The inferred parquet schema is memoized in ``_SCHEMAS``: a bare
    ``spark.read.parquet`` merges footers in a Spark job on every call,
    even for one file, while ``spark.read.schema(...)`` starts none.
    The key is the absolute path, each data file's ``(name, st_ino,
    st_mtime_ns, st_size)`` and the session's ``nanosAsLong`` (which
    changes the inferred ``ts`` type), so a rewritten fixture or a
    flipped conf is inferred again. Writes are idempotent — two
    threads racing on one key store equal schemas.
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # oracle parity must not depend on the caller's session config: the
    # driver hands queries() an externally built SparkSession, so pin
    # the timezone here (timestamp_ntz→timestamp below is
    # value-identical only under UTC) rather than only in get_spark.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        key = (
            os.path.abspath(path),
            _file_stamps(path),
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
        )
    except OSError:  # missing table: the reader raises its own error
        key = None
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    for field in df.schema.fields:
        type_name = field.dataType.typeName()
        if field.name == "ts" and type_name in ("long", "bigint"):
            # only the nanosAsLong path (events vintages with
            # TIMESTAMP(NANOS)) yields a long ts; a long ts on any
            # other table would be silently mis-scaled by DIV 1000, so
            # refuse it loudly instead.
            if name != "events":
                raise ValueError(
                    f"table {name!r} has a long 'ts' column; only the "
                    "events nanosAsLong vintage is expected to — refusing "
                    "to guess its epoch unit"
                )
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif type_name == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each fixture table as a temp view for spark.sql queries."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
