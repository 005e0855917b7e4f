"""Spark surface of the Layer A generator (SURVEY.md §2.1, §4.2).

Three generation paths, one schema:

- **exact** — driver NumPy (:mod:`core`), bit-compatible with the
  reference, wrapped in ``createDataFrame``. The golden-test path;
  right whenever one logical stream must match the reference
  draw-for-draw (reference ``eventstream.py:288-409``).
- **sharded** — the 100 TB path: S independent sub-streams, each
  generated sequentially with a SeedSequence-spawned RNG inside one
  ``mapInPandas`` task per core, over contiguous runs of shard ids.
  Embarrassingly parallel (no shuffle at all); per-shard throughput is
  the reference's single-core rate, so total rate scales with cores.
  Shard streams preserve every distributional invariant (ratio,
  interval laws, contiguous patterns, density profile) but are not
  the reference's single global sequence — SURVEY §4.2.
- **cached** — either path materialized to parquet keyed by
  md5(config) — the reference's pickle-cache semantics
  (``eventstream.py:249-284``) re-expressed as a warehouse table.

Export surface mirrors A9-A11: ``to_numpy`` ([N,3] int array, bool
upcast — ``eventstream.py:413-415``), ``write_csv`` (header
``timestamp,event_type,is_pattern``, ints — ``:417-427``),
``stream_iter`` (ordered event generator — ``:429-432``). All three
read the stream in ``(shard, event_id)`` order through ``_ordered``:
one hash exchange to a single partition, sorted inside it. A global
``orderBy`` would give the same order, but its range partitioner runs
a sampling job that generates the whole stream a second time.
"""

from __future__ import annotations

import dataclasses
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from eventstream_benchmark_spark.generator import core
from eventstream_benchmark_spark.generator.config import PatternConfig, StreamConfig, cache_key

PATTERN_SCHEMA = StructType(
    [
        StructField("pattern_id", IntegerType(), nullable=False),
        StructField("types", ArrayType(IntegerType(), containsNull=False), nullable=False),
        StructField("gaps", ArrayType(IntegerType(), containsNull=False), nullable=False),
    ]
)

# event_id carries the total order (timestamps tie at random->pattern
# boundaries — SURVEY §1.2); shard identifies the independent sub-stream
# (always 0 in exact mode).
STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), nullable=False),
        StructField("shard", IntegerType(), nullable=False),
        StructField("ts", LongType(), nullable=False),
        StructField("event_type", IntegerType(), nullable=False),
        StructField("is_pattern", BooleanType(), nullable=False),
    ]
)


def patterns_df(spark: SparkSession, pcfg: PatternConfig) -> DataFrame:
    """PatternSet as a (broadcastable) DataFrame — A5/A6. Pattern sets
    are n_patterns × L ints, always tiny; generated driver-side for
    exact reference parity, then handed to Spark as a pandas frame
    (an Arrow-built local table, no Python worker when it is read)."""
    types, gaps = core.build_patterns(pcfg)
    pdf = pd.DataFrame(
        {
            "pattern_id": np.arange(pcfg.n_patterns, dtype=np.int32),
            "types": list(types),
            "gaps": list(gaps),
        }
    )
    return spark.createDataFrame(pdf, PATTERN_SCHEMA)


def _arrays_to_pdf(ts: np.ndarray, ty: np.ndarray, label: np.ndarray,
                   shard: int, id_offset: int) -> pd.DataFrame:
    n = ts.shape[0]
    return pd.DataFrame(
        {
            "event_id": np.arange(id_offset, id_offset + n, dtype=np.int64),
            "shard": np.full(n, shard, dtype=np.int32),
            "ts": ts,
            "event_type": ty,
            "is_pattern": label,
        }
    )


def stream_df_exact(spark: SparkSession, pcfg: PatternConfig, scfg: StreamConfig) -> DataFrame:
    """Exact-parity stream: single driver-NumPy sequence, identical to
    the reference for the same config (golden-tested)."""
    types, gaps = core.build_patterns(pcfg)
    ts, ty, label = core.build_stream(scfg, types, gaps)
    return spark.createDataFrame(_arrays_to_pdf(ts, ty, label, shard=0, id_offset=0), STREAM_SCHEMA)


def stream_df_sharded(
    spark: SparkSession,
    pcfg: PatternConfig | None,
    scfg: StreamConfig,
    n_shards: int = 32,
    pattern_arrays: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Scale-mode stream: ``n_shards`` independent sub-streams, each a
    sequential NumPy generation, over one ``mapInPandas`` task per core.

    ``spark.range(0, S, 1, T)`` with ``T = min(S, defaultParallelism)``
    hands each task a contiguous run of shard ids, which it generates
    in order, so the partitions are already in ``(shard, event_id)``
    order and no shuffle places the shards. One task per core is one
    wave of Python tasks; a wave costs a fixed task start-up, so one
    task per shard (or a hash placement that leaves some tasks with
    more shards than others) adds waves without adding throughput.

    Pattern matrices are built once on the driver and shipped in the
    task closure (tiny). Each shard gets a SeedSequence-spawned RNG —
    deterministic, non-overlapping — and its own event-id range
    ``[shard * ceil(N/S), ...)`` so (shard, event_id) is a total order
    aligned with each shard's timeline.
    """
    if pattern_arrays is not None:
        types, gaps = pattern_arrays  # compat facade: user-supplied PatternSet
    else:
        types, gaps = core.build_patterns(pcfg)
    sizes = core.shard_sizes(scfg.total_events, n_shards)
    stride = -(-scfg.total_events // n_shards)  # ceil
    cfg = scfg

    def gen_one(shard: int) -> pd.DataFrame:
        shard_cfg = dataclasses.replace(cfg, total_events=sizes[shard])
        rng = core.shard_rng(cfg.seed, shard)
        # fast path: same laws/schedule/clamps, batched draws (§4.2
        # scale-mode fidelity is distributional, not draw-for-draw)
        ts, ty, label = core.build_stream_fast(shard_cfg, types, gaps, rng=rng)
        return _arrays_to_pdf(ts, ty, label, shard, id_offset=shard * stride)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for shard in pdf["id"].tolist():
                if sizes[shard]:
                    yield gen_one(shard)

    n_tasks = min(n_shards, spark.sparkContext.defaultParallelism)
    return spark.range(0, n_shards, 1, n_tasks).mapInPandas(gen, STREAM_SCHEMA)


#: closed-form samplers exist for these laws only: inverse-CDF /
#: affine maps of keyed uniforms (uniform, geometric, laplace) or the
#: Box–Muller map of two keyed uniforms (gaussian, round 9). Poisson
#: intervals have no closed-form inverse (sequential acceptance loop)
#: — those configs use the sharded mapInPandas path instead.
_PURE_INTERVALS = ("fixed", "uniform", "geometric")
_PURE_JITTERS = ("none", "uniform", "gaussian", "laplace")

_U53 = float(1 << 53)


def _u01(*keys) -> F.Column:
    """Counter-based uniform in [0, 1): the SURVEY §4.2 RNG strategy
    for declarative mode — ``xxhash64(seed, family, shard, slot, pos)``
    masked to 53 bits (exact in a double) over 2⁵³. Deterministic,
    coordinate-keyed (no sequential RNG state), pure JVM codegen."""
    return F.xxhash64(*keys).bitwiseAND(F.lit((1 << 53) - 1)) / F.lit(_U53)


def _pure_interval_expr(scfg: StreamConfig, u: F.Column) -> F.Column:
    """Closed-form base-interval draw (A3 laws, clamp ≥ 1 — reference
    ``eventstream.py:63-91``) as a column expression of one uniform."""
    d = scfg.rand_interval_dist
    if d == "fixed":
        return F.lit(max(1, int(scfg.rand_interval_base)))
    if d == "uniform":
        lo, hi = scfg.rand_interval_low, scfg.rand_interval_high
        if lo is None or hi is None or lo < 1 or hi < lo:
            raise ValueError("uniform interval requires valid [low, high] with low>=1")
        return (F.floor(u * F.lit(hi - lo + 1)) + F.lit(lo)).cast("long")
    if d == "geometric":
        p = 1.0 / max(1.0, float(scfg.rand_interval_base))
        if p >= 1.0:
            return F.lit(1).cast("long")
        # inverse CDF on support {1, 2, ...}: ceil(log1p(-u)/log(1-p));
        # u = 0 gives 0 → the ≥1 clamp below restores the support floor
        return F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.log1p(-u) / F.lit(float(np.log1p(-p)))).cast("long"),
        )
    raise ValueError(f"interval dist {d!r} has no closed-form column sampler")


def _pure_jitter_expr(
    base: F.Column,
    dist: str,
    amount: int,
    u: F.Column,
    u2: F.Column | None = None,
) -> F.Column:
    """Closed-form symmetric jitter (A2, clamp ≥ 1 — reference
    ``eventstream.py:31-60``) as a column expression of keyed
    uniforms. Fidelity is distributional (the §4.2 contract): the same
    law ``core.jittered`` draws, rounded to an integer delta and
    clamped identically.

    - ``uniform``: integer delta in [-a, a] from one uniform.
    - ``gaussian`` (round 9): Box–Muller of TWO keyed uniforms,
      z = √(-2·ln(1-u))·cos(2πu₂) ~ N(0,1), delta = round(z·a).
      ln(1-u) is finite for u ∈ [0,1) (u=0 ⇒ z=0).
    - ``laplace`` (round 9): the inverse CDF of one uniform,
      delta = round(-a·sign(u-½)·ln(1-2|u-½|)); the log argument is
      clamped to 2⁻⁵³ (one draw's own resolution) so u=0 can't send
      an ANSI long cast to ±∞.
    The rounding-tie convention (HALF_UP here vs NumPy's banker's)
    is distributionally immaterial: both z·a draws are continuous, so
    exact .5 ties have measure zero.

    Portability note (round-9 review): the Box–Muller cos/sqrt run on
    java.lang.Math, which guarantees 1-ulp accuracy, not correct
    rounding — a different JVM/platform could flip a draw landing
    within 1 ulp of a .5 tie and change the pinned
    ``_PUREDF_JITTER_SUMMARY_ROWS`` constants. The pin test fails
    loudly in that case (regenerate the constants on the new
    platform); within one platform the draws are exactly
    reproducible."""
    if dist == "none" or amount <= 0:
        return F.greatest(F.lit(1).cast("long"), base.cast("long"))
    if dist == "uniform":
        delta = F.floor(u * F.lit(2 * amount + 1)) - F.lit(amount)
        return F.greatest(F.lit(1).cast("long"), (base + delta).cast("long"))
    if dist == "gaussian":
        if u2 is None:
            raise ValueError("gaussian jitter needs a second keyed uniform")
        z = F.sqrt(F.lit(-2.0) * F.log1p(-u)) * F.cos(
            F.lit(2.0 * float(np.pi)) * u2
        )
        delta = F.round(z * F.lit(float(amount)), 0).cast("long")
        return F.greatest(F.lit(1).cast("long"), base.cast("long") + delta)
    if dist == "laplace":
        c = u - F.lit(0.5)
        mag = F.greatest(F.lit(2.0**-53), F.lit(1.0) - F.lit(2.0) * F.abs(c))
        delta = F.round(
            F.lit(-float(amount)) * F.signum(c) * F.log(mag), 0
        ).cast("long")
        return F.greatest(F.lit(1).cast("long"), base.cast("long") + delta)
    raise ValueError(f"jitter dist {dist!r} has no closed-form column sampler")


_PURE_SCHED_SCHEMA = StructType(
    [
        StructField("size", IntegerType(), nullable=False),
        StructField("slot_id", IntegerType(), nullable=False),
        StructField("is_random", BooleanType(), nullable=False),
        StructField("start_pos", LongType(), nullable=False),
        StructField("pad_before", IntegerType(), nullable=False),
    ]
)


def _pure_schedule_pdf(size: int, length: int, ratio: float) -> pd.DataFrame:
    """The controller's slot sequence for one shard size as a pandas
    frame: (size, slot_id, is_random, start_pos, pad_before). Consumes
    no randomness (``core.slot_schedule``); pad_before marks the +1
    clock tick after a completed pattern instance (reference
    ``eventstream.py:383-384``) — every non-final slot's instance is
    complete (the schedule loop stops once the budget fills), so the
    pad is simply "previous slot was a pattern". Built vectorized and
    shipped via the Arrow createDataFrame path: at bench scale the
    schedule is ~10⁵ rows and a Python-tuple build was measurable
    driver time."""
    slots, _n_rand, _n_inst = core.slot_schedule(size, length, ratio)
    n = slots.shape[0]
    ev = np.where(slots, 1, length).astype(np.int64)
    start = np.concatenate(([0], np.cumsum(ev)))[:-1]
    pad = np.concatenate(([False], ~slots[:-1]))
    return pd.DataFrame(
        {
            "size": np.full(n, size, dtype=np.int32),
            "slot_id": np.arange(n, dtype=np.int32),
            "is_random": slots,
            "start_pos": start.astype(np.int64),
            "pad_before": pad.astype(np.int32),
        }
    )


def stream_df_pure(
    spark: SparkSession,
    pcfg: PatternConfig,
    scfg: StreamConfig,
    n_shards: int = 32,
) -> DataFrame:
    """SURVEY §4.2's third strategy — the fully declarative generator:
    precomputed slot schedule → broadcast-join the pattern set →
    ``posexplode`` pattern positions → closed-form expr samplers (A2/A3
    as inverse-CDF maps of counter-based uniforms) → per-shard windowed
    prefix sum for the clock. No Python in the plan, and none at run
    time: the driver-built inputs (shard sizes, slot schedule, pattern
    set) enter from pandas frames, which Arrow turns into local table
    scans — a list of tuples would become an RDD scan that runs in
    Python workers. Every event is a Catalyst expression of (seed,
    shard, slot, pos).

    Supported closed-form laws: ``density_mode="none"`` (the clock is a
    plain prefix sum — sin density's gap↔clock recurrence is the one
    thing no window function expresses, §4.2), interval ∈ {fixed,
    uniform, geometric}, jitter ∈ {none, uniform, gaussian, laplace}
    (gaussian via Box–Muller over two keyed uniforms, laplace via its
    inverse CDF — round 9); poisson intervals and sin density raise
    and belong to the sharded path. Fidelity is distributional (same
    laws, clamps, schedule, tie/pad/truncation semantics as
    ``build_stream_fast``), determinism is exact: same (config, seed,
    n_shards) → identical output, because every draw is
    ``xxhash64``-keyed by its coordinates rather than drawn from
    sequential RNG state.

    Scale shape: the schedule frame is O(events/shard) rows built
    driver-side and broadcast once (shards of equal size share one
    schedule); the pattern set is broadcast (tiny); the only wide
    operation is the per-shard prefix-sum window, partitioned by shard
    — no global ordering anywhere. For cluster-scale shards the
    schedule's quasi-periodic structure (randoms accumulate while
    q < p·L·r/(1-r) — a Beatty sequence) admits a closed-form
    ``spark.range`` construction; at benchmark sizes the driver
    build is microseconds."""
    if scfg.density_mode != "none":
        raise ValueError(
            "pure-DataFrame mode requires density_mode='none' — the sin-density "
            "clock recurrence is sequential (SURVEY §4.2); use stream_df_sharded"
        )
    if scfg.rand_interval_dist not in _PURE_INTERVALS:
        raise ValueError(
            f"interval dist {scfg.rand_interval_dist!r} has no closed-form "
            "column sampler; use stream_df_sharded"
        )
    for dist in (scfg.rand_jitter, scfg.pattern_jitter):
        if dist not in _PURE_JITTERS:
            raise ValueError(
                f"jitter dist {dist!r} has no closed-form column sampler; "
                "use stream_df_sharded"
            )

    if scfg.total_events == 0:  # no slot schedule to build
        return spark.createDataFrame([], STREAM_SCHEMA)

    from pyspark.sql import Window as W

    sizes = core.shard_sizes(scfg.total_events, n_shards)
    stride = -(-scfg.total_events // n_shards)  # ceil, same id layout as sharded
    sched_pdf = pd.concat(
        [
            _pure_schedule_pdf(size, pcfg.pattern_length, scfg.random_ratio)
            for size in sorted(set(sizes))
            if size > 0
        ],
        ignore_index=True,
    )
    sched = F.broadcast(spark.createDataFrame(sched_pdf, _PURE_SCHED_SCHEMA))
    live = np.flatnonzero(np.asarray(sizes) > 0)
    shards = spark.createDataFrame(
        pd.DataFrame(
            {"shard": live.astype(np.int32), "size": np.asarray(sizes, np.int32)[live]}
        ),
        "shard int, size int",
    )
    seed = F.lit(int(scfg.seed))
    slots = shards.join(sched, "size").select(
        "shard", "size", "slot_id", "is_random", "start_pos", "pad_before"
    )

    # random slots: one event — interval → jitter (each its own keyed
    # uniform, mirroring the two draws of reference :314-348) → type
    rand_base = _pure_interval_expr(
        scfg, _u01(seed, F.lit("ri"), F.col("shard"), F.col("slot_id"))
    )
    rand_gap = _pure_jitter_expr(
        rand_base,
        scfg.rand_jitter,
        scfg.rand_jitter_amount,
        _u01(seed, F.lit("rj"), F.col("shard"), F.col("slot_id")),
        _u01(seed, F.lit("rj2"), F.col("shard"), F.col("slot_id")),
    )
    rand_type = F.floor(
        _u01(seed, F.lit("rt"), F.col("shard"), F.col("slot_id")) * F.lit(scfg.n_types)
    ).cast("int")
    randoms = slots.filter("is_random").select(
        "shard",
        "size",
        F.col("start_pos").alias("pos"),
        (rand_gap + F.col("pad_before")).alias("gap_total"),
        rand_type.alias("event_type"),
        F.lit(False).alias("is_pattern"),
    )

    # pattern slots: pick an instance, broadcast-join the pattern set,
    # posexplode positions; position 0 lands AT the incoming clock
    # (gap 0 — the tie of reference :357-359), later positions draw a
    # jittered copy of the pattern's stored gap
    pats = F.broadcast(patterns_df(spark, pcfg))
    pick = F.floor(
        _u01(seed, F.lit("pp"), F.col("shard"), F.col("slot_id"))
        * F.lit(pcfg.n_patterns)
    ).cast("int")
    instances = (
        slots.filter(~F.col("is_random"))
        .withColumn("pattern_id", pick)
        .join(pats, "pattern_id")
        .select(
            "shard",
            "size",
            "slot_id",
            "start_pos",
            "pad_before",
            "gaps",
            F.posexplode("types").alias("pos_in_slot", "event_type"),
        )
    )
    pat_gap = F.when(F.col("pos_in_slot") == 0, F.lit(0).cast("long")).otherwise(
        _pure_jitter_expr(
            F.element_at("gaps", F.col("pos_in_slot")),
            scfg.pattern_jitter,
            scfg.pattern_jitter_amount,
            _u01(
                seed,
                F.lit("pj"),
                F.col("shard"),
                F.col("slot_id"),
                F.col("pos_in_slot"),
            ),
            _u01(
                seed,
                F.lit("pj2"),
                F.col("shard"),
                F.col("slot_id"),
                F.col("pos_in_slot"),
            ),
        )
    )
    pad = F.when(F.col("pos_in_slot") == 0, F.col("pad_before")).otherwise(F.lit(0))
    pattern_events = instances.select(
        "shard",
        "size",
        (F.col("start_pos") + F.col("pos_in_slot")).alias("pos"),
        (pat_gap + pad).alias("gap_total"),
        "event_type",
        F.lit(True).alias("is_pattern"),
    )

    # truncation BEFORE the window: only trailing overshoot rows drop,
    # so every surviving prefix sum is unchanged (reference :363-364)
    events = randoms.unionByName(pattern_events).filter(F.col("pos") < F.col("size"))
    w = W.partitionBy("shard").orderBy("pos").rowsBetween(W.unboundedPreceding, 0)
    return events.select(
        (F.col("shard").cast("long") * F.lit(stride) + F.col("pos")).alias("event_id"),
        F.col("shard").cast("int").alias("shard"),
        F.sum("gap_total").over(w).alias("ts"),
        F.col("event_type").cast("int").alias("event_type"),
        "is_pattern",
    )


def stream_df_cached(
    spark: SparkSession,
    pcfg: PatternConfig,
    scfg: StreamConfig,
    cache_dir: str,
    mode: str = "exact",
    n_shards: int = 32,
    regenerate: bool = False,
) -> DataFrame:
    """Config-hash parquet materialization — A7's cache re-expressed.

    ``mode('ignore')`` gives the write-through-once semantics: first
    call generates + writes ``stream_<md5>.parquet``, later calls with
    the same config read the materialization (unless ``regenerate``).
    The path carries the shard count in sharded mode — shard layout
    changes the emitted stream, so it is part of the cache identity.
    """
    variant = mode if mode == "exact" else f"{mode}{n_shards}"
    path = os.path.join(cache_dir, f"stream_{cache_key(pcfg, scfg)}-{variant}.parquet")
    if regenerate or not os.path.exists(path):
        df = (
            stream_df_exact(spark, pcfg, scfg)
            if mode == "exact"
            else stream_df_sharded(spark, pcfg, scfg, n_shards)
        )
        df.write.mode("overwrite" if regenerate else "ignore").parquet(path)
    return spark.read.parquet(path)


def _ordered(df: DataFrame) -> DataFrame:
    """The stream in ``(shard, event_id)`` order, in one partition."""
    return df.repartition(1).sortWithinPartitions("shard", "event_id")


def to_numpy(df: DataFrame) -> np.ndarray:
    """A9's ``[N, 3]`` int array (reference ``eventstream.py:413-415``):
    columns ``(timestamp, event_type, is_pattern)`` in stream order,
    the bool label upcast to int exactly as ``np.stack`` does in the
    reference. Driver-side materialization — test/demo scale only, like
    the reference's own ``to_numpy``."""
    pdf = (
        _ordered(df)
        .select("ts", "event_type", F.col("is_pattern").cast("long"))
        .toPandas()
    )
    return pdf.to_numpy(dtype=np.int64)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink with the reference's header and %d value formatting
    (``eventstream.py:417-427``): one ordered file, bool as 0/1.
    Writes a Spark output DIRECTORY at ``path`` (part file +
    ``_SUCCESS``); ``write_csv_file`` below delivers the reference's
    single-file contract."""
    (
        _ordered(df)
        .select(
            F.col("ts").alias("timestamp"),
            F.col("event_type"),
            F.col("is_pattern").cast("int").alias("is_pattern"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )


def write_csv_file(df: DataFrame, path: str) -> None:
    """The reference's single-CSV-file semantics on top of the Spark
    sink: write the single-partition directory next to ``path``, then
    move the one part file INTO ``path`` — so a drop-in caller gets
    exactly the file the reference API would have written."""
    import glob
    import shutil

    tmp = path + ".__spark_csv_tmp__"
    write_csv(df, tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    os.replace(part, path)
    shutil.rmtree(tmp)


def stream_iter(df: DataFrame) -> Iterator[tuple[int, int, bool]]:
    """A11's pull-based one-event-at-a-time iterator
    (``eventstream.py:429-432``), so the consumer loop
    (``main.py:44-46``) works unchanged against Spark. Yields Python
    ``(int, int, bool)`` in ``(shard, event_id)`` order.

    The ordered three-column stream is collected to the driver through
    Arrow before the first event is yielded, so the whole stream is
    held in driver memory while it is consumed — as the reference's
    ``stream()`` holds its arrays. Demo/test scale, like ``to_numpy``."""
    pdf = _ordered(df).select("ts", "event_type", "is_pattern").toPandas()
    yield from zip(pdf["ts"].tolist(), pdf["event_type"].tolist(), pdf["is_pattern"].tolist())
