"""Shared helpers for oracle-parity query outputs.

The driver compares Spark results against DuckDB by row-count + schema +
order-insensitive value hash, so outputs must be *representation*-stable
across engines:

- timestamps -> formatted strings (``fmt_ts``/``fmt_date``) so pandas
  datetime64[us] (Spark) vs datetime64[ns] (DuckDB) never diverge;
- float aggregates -> ``F.round`` to a fixed scale in BOTH engines
  (sums of 2-decimal fixture doubles; accumulation-order noise is
  ~1e-9 relative, far below the rounding step);
- integer aggregates -> BIGINT on both sides (DuckDB ``sum(int)``
  yields HUGEINT, Spark rank/length/year yield INT — cast both).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column
from pyspark.sql import functions as F

# Spark <-> DuckDB timestamp formats that render identically (µs precision).
SPARK_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
DUCK_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"
SPARK_DATE_FMT = "yyyy-MM-dd"
DUCK_DATE_FMT = "%Y-%m-%d"


def fmt_ts(col: str | Column) -> Column:
    """Format a timestamp column as a µs-precision string (Spark side)."""
    return F.date_format(col, SPARK_TS_FMT)


def fmt_date(col: str | Column) -> Column:
    """Format a timestamp/date column as ``yyyy-MM-dd`` (Spark side)."""
    return F.date_format(col, SPARK_DATE_FMT)


def duck_fmt_ts(expr: str) -> str:
    """DuckDB twin of :func:`fmt_ts`."""
    return f"strftime({expr}, '{DUCK_TS_FMT}')"


def duck_fmt_date(expr: str) -> str:
    """DuckDB twin of :func:`fmt_date`."""
    return f"strftime({expr}, '{DUCK_DATE_FMT}')"


def scratch_path(sf_dir: str, name: str) -> str:
    """Fixed scratch directory ``$TMPDIR/esb_scratch/<basename(sf_dir)>/
    <name>`` for queries that materialize files (format round-trips,
    partitioned layouts, streaming sinks). Writers overwrite or wipe it,
    so repeated runs reuse disk where a ``mkdtemp`` per call would leak
    it; fixtures sharing a basename share it."""
    key = os.path.basename(os.path.normpath(os.path.abspath(sf_dir))) or "sf"
    p = os.path.join(tempfile.gettempdir(), "esb_scratch", key, name)
    os.makedirs(p, exist_ok=True)
    return p


def bigint(col: Column) -> Column:
    return col.cast("bigint")


def r2(col: Column) -> Column:
    """Round money-scale double aggregates to 2 decimals."""
    return F.round(col, 2)


def r4(col: Column) -> Column:
    """Round averages/ratios to 4 decimals."""
    return F.round(col, 4)


def r6(col: Column) -> Column:
    """Round high-precision scalars to 6 decimals."""
    return F.round(col, 6)


def cents(col: Column) -> Column:
    """``value`` in exact integer cents. The events fixture's value
    column is 2-decimal money (min 0.01), so ``round(v*100)`` is exact
    and sums of it are integer-exact at any corpus size."""
    return F.round(col * 100, 0).cast("long")


def money_sum(col: Column) -> Column:
    """Σ``col`` as an exact integer-cents sum divided ONCE — the
    round(sum(double), k) replacement (round 9: the precision-boundary
    class retired from the events.value family). The single /100.0 is
    the same double op in Spark and DuckDB on the same integer, so the
    result is bit-identical up to the BIGINT accumulator bound (~9.2e16
    cents ≈ $9.2e14 per group — round-9 advice: past it, ANSI Spark
    raises ARITHMETIC_OVERFLOW while DuckDB's sum(BIGINT) promotes to
    HUGEINT, so the engines diverge as error-vs-value; the loud ANSI
    failure is the intended behavior at that magnitude, never a wrong
    number. The same bound applies at ~9.2e12 value-units to the 1e6
    micro-unit rollups.); the old spelling was only hash-stable while
    float accumulation noise stayed under the k-dp rounding step.
    Oracle twin:
    ``CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) / 100.0``
    (the outer CAST pins DuckDB back to BIGINT so a within-bound sum
    has the identical type both sides)."""
    return F.sum(cents(col)) / F.lit(100.0)


#: the DuckDB spelling of :func:`money_sum` (format with the column)
DUCK_MONEY_SUM = "CAST(sum(CAST(round({col} * 100) AS BIGINT)) AS BIGINT) / 100.0"


def null_safe_div(num: Column, den: Column) -> Column:
    """``num/den``, NULL when ``den = 0`` — the ANSI alignment guard:
    this environment's Spark 4 default (``ansi.enabled=true``) RAISES
    DIVIDE_BY_ZERO on every division form, while DuckDB yields NULL,
    so an unguarded division whose denominator can reach zero under
    degenerate-but-plausible data (a zero-norm embedding from a broken
    encoder, a zero-variance group, a one-sample series) crashes the
    Spark job where the oracle contract says NULL. The guard costs one
    comparison and changes no value where ``den ≠ 0``; the DuckDB twin
    needs nothing (NULL is already its division-by-zero result)."""
    return F.when(den != F.lit(0), num / den)


def floor_micro(num: Column, den: Column) -> Column:
    """``floor(10⁶·num/den)`` as BIGINT — THE cross-engine-exact ratio
    display (SCALE.md): both operands are exact integers (BIGINT or
    decimal/HUGEINT), int→double conversion and the one division are
    correctly-rounded IEEE ops, and floor of the identical double is
    engine-exact. Every micro-ratio site must use this exact shape —
    a drive-by edit (dropping a cast, floor→round) at one inline copy
    silently broke the contract, which is why it lives here. NULL when
    ``den = 0`` via :func:`null_safe_div` (ANSI Spark would raise where
    DuckDB's twin yields NULL — a constant series or one-sample group
    must degrade, not crash). DuckDB twin: ``CAST(floor(1000000.0 *
    (CAST(a AS DOUBLE) / CAST(b AS DOUBLE))) AS BIGINT)``."""
    return F.floor(
        F.lit(1_000_000.0) * null_safe_div(num.cast("double"), den.cast("double"))
    ).cast("bigint")
