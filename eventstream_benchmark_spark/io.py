"""Fixture-table loaders.

A fixture set is a TPC-H-ish star schema + event/document/embedding
tables, one parquet file per table in one directory (the seed-42
``perfbench/fixtures/sf0.001`` and ``sf0.01`` are committed; schemas in
FIXTURES.md).
Parquet scans give Catalyst predicate pushdown + column pruning for
free, so every query starts from ``load_table`` and stays declarative.

SQL-shaped queries write each table as a ``{table}`` placeholder:
``fixture_sql`` binds every placeholder to its ``load_table`` frame for
one statement, and ``bare_sql`` spells the same text with bare table
names for the DuckDB oracle, whose fixture views carry those names.
Nothing is registered in the session catalog.
"""

from __future__ import annotations

import os
import string

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = [
    "TABLES", "load_table", "stream_events", "fixture_sql", "bare_sql", "default_sf_dir",
]

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


#: inferred parquet schema per (path, file stamps, nanosAsLong); see _fixture
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


def _fixture(spark: SparkSession, sf_dir: str, name: str) -> tuple[str, StructType]:
    """The path of fixture table ``name`` under ``sf_dir`` and its
    parquet schema as the session reads it, inferred once and then
    served from ``_SCHEMAS``.

    A bare ``spark.read.parquet`` merges footers in a Spark job on every
    call, even for one file, while ``spark.read.schema(...)`` starts
    none. The key is the absolute path, each data file's ``(name,
    st_ino, st_mtime_ns, st_size)`` and the session's ``nanosAsLong``
    (which changes the inferred ``ts`` type), so a rewritten fixture or
    a flipped conf is inferred again. Writes are idempotent — two
    threads racing on one key store equal schemas.
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # oracle parity must not depend on the caller's session config: the
    # driver hands queries() an externally built SparkSession, so pin
    # the timezone here (timestamp_ntz→timestamp in _normalized is
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
        return path, spark.read.parquet(path).schema
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return path, _SCHEMAS[key]


def _normalized(df: DataFrame, name: str) -> DataFrame:
    """Timestamp physical types vary across fixture generations —
    TIMESTAMP(NANOS) (mapped to raw nanos via the legacy conf, since
    Spark 4 refuses NANOS→TimestampType) or TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (mapped to TIMESTAMP_NTZ) — so normalize by
    *observed* column type, not by fixture vintage: long ``ts`` becomes
    µs TimestampType (integer DIV — double division would corrupt
    epoch-nanos, ~1.7e18 > double's 53-bit mantissa); TIMESTAMP_NTZ
    columns are cast to the session-TZ TimestampType (value-identical
    under the engine's pinned UTC session, and keeps every downstream
    comparison against ``cast('timestamp')`` literals well-typed)."""
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan), with
    its timestamps normalized (``_normalized``)."""
    path, schema = _fixture(spark, sf_dir, name)
    return _normalized(spark.read.schema(schema).parquet(path), name)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table, read in place, as a file-source stream
    with ``load_table``'s schema and timestamp normalization. The file
    source takes a directory or a glob, never a plain file, so the last
    letter is globbed: ``events.parque[t]`` matches the committed file
    and a Spark-written ``events.parquet/`` directory alike."""
    path, schema = _fixture(spark, sf_dir, "events")
    return _normalized(spark.readStream.schema(schema).parquet(path[:-1] + "[t]"), "events")


def _placeholders(text: str) -> tuple[str, ...]:
    """The ``{name}`` fields of ``text``, each once, in order."""
    return tuple(dict.fromkeys(f for _, f, _, _ in string.Formatter().parse(text) if f))


def fixture_sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run ``text`` on Spark with each ``{table}`` placeholder bound to
    that fixture table of ``sf_dir`` (``load_table``). Spark binds the
    frames under generated view names for this one statement and drops
    them once it is analyzed, so no view outlives the call and two
    callers on one session never see each other's fixtures."""
    return spark.sql(text, **{n: load_table(spark, sf_dir, n) for n in _placeholders(text)})


def bare_sql(text: str) -> str:
    """``text`` with each ``{table}`` placeholder written as the bare
    table name: the spelling the DuckDB oracle runs."""
    return text.format_map({n: n for n in _placeholders(text)})
