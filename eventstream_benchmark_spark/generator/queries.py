"""Driver entries for the Layer A generator (B33-B35).

The outputs are draws from NumPy RNG streams that no SQL engine
reproduces (SURVEY §4.2 RNG note) — but every one of them is a pure
function of its pinned config (seeded ``np.random.Generator`` /
SeedSequence-spawned shard RNGs), so instead of settling for the
driver's rows-only check, each query carries a precomputed-CONSTANT
oracle: a VALUES relation holding the expected output, generated once
by this engine and pinned by ``tests/test_generator.py`` against a
fresh run (so environment drift — e.g. a NumPy RNG change — fails
loudly in the test suite before it can silently invalidate the
oracle). The driver's hash check then covers the generator end-to-end.

The configs pin the reference's canonical ``main.py`` example
(``main.py:4-38``): 8 patterns × L=10 over 6 types, poisson(6)±1
noise intervals, ±2 pattern jitter, sin density (period 8000,
amp 0.6) — with a sharded-scale variant at 8×.
"""

from __future__ import annotations

import dataclasses

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstream_benchmark_spark.generator.config import PatternConfig, StreamConfig
from eventstream_benchmark_spark.generator import spark_gen

GOLDEN_PATTERNS = PatternConfig(
    n_patterns=8, pattern_length=10, n_types=6,
    gap_dist="uniform", gap_low=3, gap_high=9, seed=137,
)

GOLDEN_STREAM = StreamConfig(
    n_types=6, total_events=40_000, random_ratio=0.7, seed=2025,
    pattern_jitter="uniform", pattern_jitter_amount=2,
    rand_interval_dist="poisson", rand_interval_base=6,
    rand_interval_low=None, rand_interval_high=None,
    rand_jitter="uniform", rand_jitter_amount=1,
    density_mode="sin", density_period=8000, density_amp=0.6,
    density_base_rate=1.0,
)

SCALE_SHARDS = 32
SCALE_STREAM = dataclasses.replace(GOLDEN_STREAM, total_events=320_000)

# The pure-DataFrame mode's config: the golden stream re-based onto the
# closed-form laws the declarative samplers support (SURVEY §4.2 —
# poisson intervals and sin density have no closed-form column inverse):
# uniform[3,9] noise intervals, density off, everything else golden.
PUREDF_STREAM = dataclasses.replace(
    SCALE_STREAM,
    rand_interval_dist="uniform",
    rand_interval_low=3,
    rand_interval_high=9,
    density_mode="none",
)

# Round 9: the closed-form jitter lane widened to gaussian (Box–Muller
# over two keyed uniforms) and laplace (inverse CDF) — this config
# exercises BOTH new laws in one pure-DataFrame plan: gaussian noise
# jitter, laplace pattern jitter, everything else as PUREDF_STREAM.
PUREDF_JITTER_STREAM = dataclasses.replace(
    PUREDF_STREAM,
    rand_jitter="gaussian",
    rand_jitter_amount=2,
    pattern_jitter="laplace",
    pattern_jitter_amount=2,
)


def _shard_summary(df: DataFrame, checksums: bool) -> DataFrame:
    """One row per shard: event count, integer pattern-event count and
    time span, plus ts/type sums (``checksums``) so a hash of the
    summary covers every generated value."""
    from eventstream_benchmark_spark.operators._util import bigint

    sums = (
        [
            bigint(F.sum("ts")).alias("sum_ts"),
            bigint(F.sum(F.col("event_type").cast("long"))).alias("sum_types"),
        ]
        if checksums
        else []
    )
    return (
        df.groupBy("shard")
        .agg(
            F.count("*").alias("n_events"),
            bigint(F.sum(F.col("is_pattern").cast("long"))).alias("n_pattern"),
            F.max("ts").alias("span_ticks"),
            *sums,
        )
        .orderBy("shard")
    )


def generate_patterns_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 — the pattern set as scalar rows (A5/A6).

    ``patterns_df`` keeps the reference's matrix shape (types[n,L],
    gaps[n,L-1] — ``eventstream.py:124-126``) as array columns for
    internal use; the driver-facing result is
    ``posexplode(arrays_zip(...))`` to one row per pattern position so
    the driver canonicalizer (a pandas sort) sees hashable scalars.
    ``gap`` is null at the final position (L-1 gaps for L types).
    Hash-checked against the precomputed ``_PATTERN_ROWS`` constant."""
    pats = spark_gen.patterns_df(spark, GOLDEN_PATTERNS)
    return (
        pats.select(
            "pattern_id",
            F.posexplode(F.arrays_zip("types", "gaps")).alias("pos", "z"),
        )
        .select(
            "pattern_id",
            "pos",
            F.col("z.types").alias("event_type"),
            F.col("z.gaps").alias("gap"),
        )
        .orderBy("pattern_id", "pos")
    )


def generate_stream_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 (exact mode) — the golden-config stream, bit-compatible
    with the reference; summarized per (event_type, is_pattern) so the
    driver check is compact while still covering every generated row."""
    df = spark_gen.stream_df_exact(spark, GOLDEN_PATTERNS, GOLDEN_STREAM)
    return (
        df.groupBy("event_type", "is_pattern")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.sum("ts").alias("sum_ts"),
        )
        .orderBy("event_type", "is_pattern")
    )


def generate_stream_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 (scale mode) — 8× the golden config across 32 parallel
    mapInPandas shards; per-shard invariant summary (event count,
    integer pattern-event count, time span) so the driver sees one row
    per shard. Hash-checked against the precomputed
    ``_SHARDED_SUMMARY_ROWS`` constant. The pattern share is pinned as
    the raw integer count (not a rounded fraction) so the constant
    can't drift on a rounding-mode mismatch between engines (Spark
    HALF_UP vs Python banker's rounding at .0005 ties)."""
    df = spark_gen.stream_df_sharded(spark, GOLDEN_PATTERNS, SCALE_STREAM, SCALE_SHARDS)
    return _shard_summary(df, checksums=False)


def generate_stream_dataframe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 (pure-DataFrame mode, SURVEY §4.2 third strategy) — the
    generator as ONE declarative Catalyst plan: precomputed slot
    schedule (broadcast), pattern set broadcast-joined + posexploded,
    closed-form inverse-CDF samplers over counter-based xxhash64
    uniforms, per-shard windowed prefix-sum clock. No applyInPandas,
    no Python anywhere in the plan (pinned by a plan test).

    Summarized per shard like ``generate_stream_sharded``, plus ts/type
    checksums so the hash covers every generated value. Deterministic
    (hash-keyed draws), so the oracle is the precomputed
    ``_PUREDF_SUMMARY_ROWS`` constant, pinned against a fresh run by
    ``tests/test_generator.py``."""
    df = spark_gen.stream_df_pure(spark, GOLDEN_PATTERNS, PUREDF_STREAM, SCALE_SHARDS)
    return _shard_summary(df, checksums=True)


def generate_stream_dataframe_jittered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """B34 (pure-DataFrame mode, round-9 jitter extension) — the same
    one-plan declarative generator as ``generate_stream_dataframe``,
    but with the two round-9 closed-form jitter laws active: gaussian
    noise jitter (Box–Muller of two keyed uniforms, A2's
    ``round(randn·a)`` spelling) and laplace pattern jitter (the
    inverse-CDF map ``round(-a·sign(u-½)·ln(1-2|u-½|))``). Same
    per-shard checksum summary; deterministic (hash-keyed draws), so
    the oracle is the precomputed ``_PUREDF_JITTER_SUMMARY_ROWS``
    constant, pinned against a fresh run by ``tests/test_generator.py``."""
    df = spark_gen.stream_df_pure(
        spark, GOLDEN_PATTERNS, PUREDF_JITTER_STREAM, SCALE_SHARDS
    )
    return _shard_summary(df, checksums=True)


def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 — the three Python-execution entry points the engine uses,
    in one query over the events fixture: a scalar UDF (row-at-a-time,
    the deliberately-slow path kept off hot loops), an Arrow-batched
    pandas UDF (the A3 Poisson sampler shape), and a grouped-map
    applyInPandas (per-type summary, the B34 shard shape)."""
    import numpy as np

    from eventstream_benchmark_spark.io import load_table

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")

    tag = F.udf(lambda event_type: f"t:{event_type}", "string")  # scalar UDF

    @F.pandas_udf("long")
    def poisson_of(value: pd.Series) -> pd.Series:  # vectorized sampler (A3 shape)
        lam = value.clip(lower=0.1).to_numpy(dtype="float64")
        rng = np.random.default_rng(7)
        return pd.Series(np.maximum(1, rng.poisson(lam)))

    def per_type(pdf: pd.DataFrame) -> pd.DataFrame:  # grouped map
        return pd.DataFrame(
            {
                "tag": [pdf["tag"].iloc[0]],
                "n": [len(pdf)],
                "mean_draw": [float(pdf["draw"].mean())],
            }
        )

    tagged = events.withColumn("tag", tag("event_type")).withColumn("draw", poisson_of("value"))
    return (
        tagged.groupBy("tag")
        .applyInPandas(per_type, "tag string, n long, mean_draw double")
        .select("tag", "n")  # mean_draw is sample-dependent; row counts are stable
        .orderBy("tag")
    )


def udtf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 extension — the fourth Python execution entry point: a
    Spark 4 Python UDTF (table function) applied laterally, expanding
    each per-type event count into (scale, scaled) rows. Deterministic
    integer arithmetic → exact DuckDB oracle; the UDTF mechanism (one
    eval per input row, generator output) is what's being surfaced,
    in the same spirit as ``udf_surface``'s scalar/pandas/grouped-map
    trio."""
    from pyspark.sql.functions import udtf

    from eventstream_benchmark_spark.io import load_table

    @udtf(returnType="scale int, scaled bigint")
    class ScaleBuckets:
        def eval(self, cnt: int):
            for s in (1, 10, 100):
                yield s, cnt // s

    counts = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count("*").alias("cnt")
    )
    return (
        counts.lateralJoin(ScaleBuckets(F.col("cnt").outer()))
        .select("event_type", "scale", "scaled")
        .orderBy("event_type", "scale")
    )


def cogroup_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 extension — the fifth Python entry point:
    ``cogroup(...).applyInPandas`` merging two grouped frames per key.
    Per user, purchases merge-asof against clicks (pandas
    ``merge_asof``, backward inclusive — the same semantics as the
    declarative ``join_asof``) and reduce to per-user match stats.
    The co-partitioning shuffles each side once on user_id; inside a
    group it's plain pandas — the imperative escape hatch for
    per-entity logic the built-ins can't express."""
    from eventstream_benchmark_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:  # clicks-only users contribute no output row
            return pd.DataFrame(
                columns=["user_id", "n_purchases", "n_matched", "max_gap_s"]
            )
        left = left.sort_values("ts")
        if right.empty:
            # a purchases-only user: Spark may hand the absent cogroup
            # side as a zero-column frame, so don't touch right["ts"]
            n_matched, max_gap = 0, None
        else:
            r = right.sort_values("ts").rename(columns={"ts": "click_ts"})
            m = pd.merge_asof(
                left, r, left_on="ts", right_on="click_ts",
                by="user_id", direction="backward", allow_exact_matches=True,
            )
            gaps = (m["ts"] - m["click_ts"]).dt.total_seconds()
            n_matched = int(m["click_ts"].notna().sum())
            max_gap = round(float(gaps.max()), 6) if gaps.notna().any() else None
        return pd.DataFrame(
            {
                "user_id": [int(left["user_id"].iloc[0])],
                "n_purchases": [len(left)],
                "n_matched": [n_matched],
                "max_gap_s": [max_gap],
            }
        )

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            merge, "user_id bigint, n_purchases bigint, n_matched bigint, max_gap_s double"
        )
        .orderBy("user_id")
    )


def pattern_recovery_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The benchmark loop closed end-to-end: generate the stream
    (Layer A), run the B32 lead-chain sequence matcher over it, and
    score recovery against the generator's own ``is_pattern`` ground
    truth — the reference's built-in answer key
    (``eventstream.py:306``; README's "sequence-learning systems"
    consumers are exactly this loop).

    The matcher hunts pattern 0's full type sequence (length L) as
    contiguous events — patterns embed intact
    (``eventstream.py:293``) — and every candidate start is labeled
    true (all L events carry is_pattern) or coincidence. Runs on the
    sharded scale stream: pattern instances never cross shard
    boundaries by construction, so the lead-chains window partitions
    by shard and the plan reuses the generation partitioning — no
    global ordering, no single-partition window, valid at any shard
    count.

    Deterministic (SeedSequence-spawned shard RNGs), so the oracle is
    a precomputed-constant row pinned by ``tests/test_generator.py``
    against a fresh run."""
    import functools
    import operator

    from pyspark.sql import Window as W

    from eventstream_benchmark_spark.generator import core
    from eventstream_benchmark_spark.operators._util import bigint

    types, _gaps = core.build_patterns(GOLDEN_PATTERNS)
    seq = [int(x) for x in types[0]]
    df = spark_gen.stream_df_sharded(spark, GOLDEN_PATTERNS, SCALE_STREAM, SCALE_SHARDS)
    w = W.partitionBy("shard").orderBy("event_id")
    type_at = lambda i: F.col("event_type") if i == 0 else F.lead("event_type", i).over(w)
    label_at = lambda i: F.col("is_pattern") if i == 0 else F.lead("is_pattern", i).over(w)
    matched = functools.reduce(
        operator.and_, [type_at(i) == seq[i] for i in range(len(seq))]
    )
    all_true = functools.reduce(operator.and_, [label_at(i) for i in range(len(seq))])
    scored = df.select(
        "is_pattern", matched.alias("m"), (matched & all_true).alias("tp")
    )
    return scored.agg(
        bigint(F.sum(F.col("m").cast("long"))).alias("n_matches"),
        bigint(F.sum(F.col("tp").cast("long"))).alias("n_true_matches"),
        bigint(F.sum((F.col("m") & ~F.col("tp")).cast("long"))).alias("n_coincidences"),
        bigint(F.sum(F.col("is_pattern").cast("long"))).alias("n_pattern_events"),
    )


QUERIES = {
    "generate_patterns_spark": generate_patterns_spark,
    "generate_stream_exact": generate_stream_exact,
    "generate_stream_sharded": generate_stream_sharded,
    "generate_stream_dataframe": generate_stream_dataframe,
    "generate_stream_dataframe_jittered": generate_stream_dataframe_jittered,
    "udf_surface": udf_surface,
    "udtf_surface": udtf_surface,
    "cogroup_asof_enrich": cogroup_asof_enrich,
    "pattern_recovery_scored": pattern_recovery_scored,
}

# The exact-mode stream is a pure function of (GOLDEN_PATTERNS,
# GOLDEN_STREAM) — same seed, same NumPy bit stream, same 40k events —
# so its per-(type, label) summary carries a precomputed-constant
# oracle: the driver's hash check then covers the generator end-to-end
# instead of a rows-only count. Constants generated by
# core.build_stream on NumPy 1.26.4; tests/test_generator.py pins them
# against a fresh run so an environment drift fails loudly here first.
_EXACT_SUMMARY_ROWS = (
    (0, "false", 4621, 99, 233796, 537665071),
    (0, "true", 1675, 21, 233721, 198042219),
    (1, "false", 4665, 56, 233768, 542202656),
    (1, "true", 1932, 31, 233594, 221848269),
    (2, "false", 4707, 8, 233821, 545826125),
    (2, "true", 2488, 8, 233711, 286588082),
    (3, "false", 4571, 93, 233811, 529534123),
    (3, "true", 1911, 35, 233696, 226847207),
    (4, "false", 4709, 75, 233814, 552491186),
    (4, "true", 1854, 22, 233727, 214418854),
    (5, "false", 4727, 63, 233806, 554250172),
    (5, "true", 2140, 40, 233717, 249061335),
)

# Deterministic function of (GOLDEN_PATTERNS, SCALE_STREAM, 32 shards) —
# same contract as _EXACT_SUMMARY_ROWS; pinned against a fresh run by
# tests/test_generator.py::test_pattern_recovery_constants.
PATTERN_RECOVERY_ROW = (1187, 1187, 0, 96000)

# The GOLDEN_PATTERNS set (seed 137) as (pattern_id, pos, event_type,
# gap) scalar rows — gap is NULL at the final position (L-1 gaps for L
# types, reference eventstream.py:124-126). Pinned by
# tests/test_generator.py::test_pattern_rows_constants_pinned.
_PATTERN_ROWS = (
    (0, 0, 2, 7), (0, 1, 5, 4), (0, 2, 1, 9), (0, 3, 1, 6), (0, 4, 5, 8),
    (0, 5, 2, 8), (0, 6, 1, 9), (0, 7, 3, 9), (0, 8, 3, 3), (0, 9, 2, None),
    (1, 0, 2, 6), (1, 1, 2, 6), (1, 2, 1, 3), (1, 3, 3, 8), (1, 4, 1, 5),
    (1, 5, 2, 6), (1, 6, 1, 8), (1, 7, 0, 9), (1, 8, 5, 7), (1, 9, 2, None),
    (2, 0, 5, 9), (2, 1, 4, 3), (2, 2, 5, 3), (2, 3, 4, 4), (2, 4, 2, 9),
    (2, 5, 4, 5), (2, 6, 1, 9), (2, 7, 3, 7), (2, 8, 5, 4), (2, 9, 1, None),
    (3, 0, 2, 6), (3, 1, 2, 7), (3, 2, 0, 3), (3, 3, 4, 6), (3, 4, 4, 5),
    (3, 5, 1, 5), (3, 6, 3, 3), (3, 7, 5, 8), (3, 8, 1, 4), (3, 9, 3, None),
    (4, 0, 5, 7), (4, 1, 4, 3), (4, 2, 3, 9), (4, 3, 5, 8), (4, 4, 3, 7),
    (4, 5, 2, 5), (4, 6, 2, 7), (4, 7, 3, 8), (4, 8, 2, 4), (4, 9, 1, None),
    (5, 0, 4, 9), (5, 1, 4, 4), (5, 2, 5, 8), (5, 3, 0, 5), (5, 4, 4, 7),
    (5, 5, 0, 7), (5, 6, 1, 8), (5, 7, 5, 8), (5, 8, 2, 3), (5, 9, 0, None),
    (6, 0, 3, 6), (6, 1, 0, 7), (6, 2, 4, 3), (6, 3, 2, 6), (6, 4, 2, 3),
    (6, 5, 2, 7), (6, 6, 4, 3), (6, 7, 5, 7), (6, 8, 0, 8), (6, 9, 4, None),
    (7, 0, 0, 3), (7, 1, 0, 5), (7, 2, 3, 6), (7, 3, 0, 7), (7, 4, 5, 8),
    (7, 5, 5, 5), (7, 6, 3, 6), (7, 7, 0, 4), (7, 8, 3, 3), (7, 9, 1, None),
)

# Per-shard summary of the 32-shard SCALE_STREAM — deterministic via
# SeedSequence(seed).spawn(shard) per-shard RNGs. Pinned by
# tests/test_generator.py::test_sharded_summary_constants_pinned.
# n_pattern is the exact integer pattern-event count (the closed-loop
# controller hits round(N·(1-random_ratio)) exactly — reference
# eventstream.py:390-402).
_SHARDED_SUMMARY_ROWS = (
    (0, 10000, 3000, 58159), (1, 10000, 3000, 58125), (2, 10000, 3000, 58039),
    (3, 10000, 3000, 58031), (4, 10000, 3000, 57736), (5, 10000, 3000, 58141),
    (6, 10000, 3000, 57953), (7, 10000, 3000, 57912), (8, 10000, 3000, 58075),
    (9, 10000, 3000, 58309), (10, 10000, 3000, 58092), (11, 10000, 3000, 58250),
    (12, 10000, 3000, 58182), (13, 10000, 3000, 57925), (14, 10000, 3000, 58192),
    (15, 10000, 3000, 57955), (16, 10000, 3000, 58292), (17, 10000, 3000, 57747),
    (18, 10000, 3000, 57859), (19, 10000, 3000, 58235), (20, 10000, 3000, 57980),
    (21, 10000, 3000, 57917), (22, 10000, 3000, 58125), (23, 10000, 3000, 57952),
    (24, 10000, 3000, 57915), (25, 10000, 3000, 58004), (26, 10000, 3000, 58331),
    (27, 10000, 3000, 58003), (28, 10000, 3000, 57824), (29, 10000, 3000, 57962),
    (30, 10000, 3000, 58324), (31, 10000, 3000, 58004),
)

# Per-shard summary of the pure-DataFrame PUREDF_STREAM (32 shards) —
# deterministic because every draw is xxhash64-keyed by its (seed,
# family, shard, slot, pos) coordinates; same contract as
# _SHARDED_SUMMARY_ROWS. Pinned against a fresh Spark run by
# tests/test_generator.py::test_puredf_summary_constants_pinned.
_PUREDF_SUMMARY_ROWS = (
    (0, 10000, 3000, 58507, 292747025, 24939),
    (1, 10000, 3000, 58520, 292144687, 25188),
    (2, 10000, 3000, 59173, 296834297, 24835),
    (3, 10000, 3000, 58677, 293534903, 24982),
    (4, 10000, 3000, 58474, 293354361, 24998),
    (5, 10000, 3000, 58671, 292717268, 25029),
    (6, 10000, 3000, 58738, 291612381, 25000),
    (7, 10000, 3000, 58719, 294913408, 25165),
    (8, 10000, 3000, 58870, 294409899, 25042),
    (9, 10000, 3000, 58690, 293640581, 24975),
    (10, 10000, 3000, 58658, 294147292, 25090),
    (11, 10000, 3000, 58733, 293354011, 25211),
    (12, 10000, 3000, 58987, 294445975, 24944),
    (13, 10000, 3000, 58614, 292319300, 25412),
    (14, 10000, 3000, 58480, 293074492, 25248),
    (15, 10000, 3000, 58739, 293308531, 25296),
    (16, 10000, 3000, 58626, 293036256, 25129),
    (17, 10000, 3000, 58540, 293159337, 24770),
    (18, 10000, 3000, 58315, 291627645, 25259),
    (19, 10000, 3000, 58476, 291504572, 25069),
    (20, 10000, 3000, 58686, 293884643, 25076),
    (21, 10000, 3000, 58535, 292081871, 25203),
    (22, 10000, 3000, 58575, 292671364, 25052),
    (23, 10000, 3000, 58494, 293112247, 25414),
    (24, 10000, 3000, 58809, 294426850, 25277),
    (25, 10000, 3000, 58789, 293675926, 25061),
    (26, 10000, 3000, 58609, 293008250, 25221),
    (27, 10000, 3000, 58533, 292352980, 25095),
    (28, 10000, 3000, 58347, 291347249, 25130),
    (29, 10000, 3000, 58681, 293440784, 25149),
    (30, 10000, 3000, 58909, 293939832, 24870),
    (31, 10000, 3000, 58298, 290877253, 25155),
)

# Per-shard summary of PUREDF_JITTER_STREAM (round 9: gaussian noise
# jitter + laplace pattern jitter through the closed-form column
# samplers) — precomputed the same way as _PUREDF_SUMMARY_ROWS and
# pinned against a fresh Spark run by tests/test_generator.py.
_PUREDF_JITTER_SUMMARY_ROWS = (
    (0, 10000, 3000, 58847, 294831212, 24939),
    (1, 10000, 3000, 59140, 295045646, 25188),
    (2, 10000, 3000, 59809, 299929794, 24835),
    (3, 10000, 3000, 59097, 296305219, 24982),
    (4, 10000, 3000, 59257, 297131505, 24998),
    (5, 10000, 3000, 59170, 295112319, 25029),
    (6, 10000, 3000, 59381, 296445377, 25000),
    (7, 10000, 3000, 59467, 298983985, 25165),
    (8, 10000, 3000, 59408, 297035659, 25042),
    (9, 10000, 3000, 59566, 297537653, 24975),
    (10, 10000, 3000, 59203, 297435647, 25090),
    (11, 10000, 3000, 59320, 297099492, 25211),
    (12, 10000, 3000, 59411, 296638361, 24944),
    (13, 10000, 3000, 59204, 296010836, 25412),
    (14, 10000, 3000, 58776, 295612007, 25248),
    (15, 10000, 3000, 59270, 296342178, 25296),
    (16, 10000, 3000, 59463, 297484425, 25129),
    (17, 10000, 3000, 59154, 295755038, 24770),
    (18, 10000, 3000, 58920, 293997997, 25259),
    (19, 10000, 3000, 58883, 293363956, 25069),
    (20, 10000, 3000, 59253, 296312814, 25076),
    (21, 10000, 3000, 59222, 295759131, 25203),
    (22, 10000, 3000, 59010, 295408523, 25052),
    (23, 10000, 3000, 59151, 297555504, 25414),
    (24, 10000, 3000, 59175, 296366110, 25277),
    (25, 10000, 3000, 59052, 294321072, 25061),
    (26, 10000, 3000, 59376, 297376601, 25221),
    (27, 10000, 3000, 58969, 294156080, 25095),
    (28, 10000, 3000, 58971, 294893780, 25130),
    (29, 10000, 3000, 59203, 295771674, 25149),
    (30, 10000, 3000, 59492, 296450782, 24870),
    (31, 10000, 3000, 58899, 293634919, 25155),
)

def _values_oracle(columns: str, rows: tuple[tuple, ...], order_by: str) -> str:
    """DuckDB SQL returning the constant ``rows``: one ``CAST(cN AS T)
    AS name`` per ``"name T"`` entry of the comma-separated
    ``columns``, over a VALUES relation (``None`` is ``NULL``)."""
    cols = [c.split() for c in columns.split(", ")]
    return (
        "SELECT "
        + ", ".join(f"CAST(c{i} AS {t}) AS {n}" for i, (n, t) in enumerate(cols))
        + " FROM (VALUES "
        + ", ".join(
            "(" + ", ".join("NULL" if v is None else str(v) for v in row) + ")"
            for row in rows
        )
        + f") v({', '.join(f'c{i}' for i in range(len(cols)))}) ORDER BY {order_by}"
    )


_SHARD_SUMMARY = "shard INTEGER, n_events BIGINT, n_pattern BIGINT, span_ticks BIGINT"
_CHECKSUMS = _SHARD_SUMMARY + ", sum_ts BIGINT, sum_types BIGINT"

ORACLES: dict[str, str] = {
    "generate_stream_dataframe": _values_oracle(
        _CHECKSUMS, _PUREDF_SUMMARY_ROWS, "shard"
    ),
    "generate_stream_dataframe_jittered": _values_oracle(
        _CHECKSUMS, _PUREDF_JITTER_SUMMARY_ROWS, "shard"
    ),
    "pattern_recovery_scored": (
        "SELECT CAST({} AS BIGINT) AS n_matches,"
        " CAST({} AS BIGINT) AS n_true_matches,"
        " CAST({} AS BIGINT) AS n_coincidences,"
        " CAST({} AS BIGINT) AS n_pattern_events".format(*PATTERN_RECOVERY_ROW)
    ),
    # the Poisson draw is projected away before the final select, so
    # the surviving (tag, n) output is deterministic and hash-checkable
    "udf_surface": """
        SELECT 't:' || event_type AS tag, count(*) AS n
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "udtf_surface": """
        SELECT event_type, CAST(scale AS INTEGER) AS scale,
               CAST(cnt // scale AS BIGINT) AS scaled
        FROM (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1),
             (VALUES (1), (10), (100)) v(scale)
        ORDER BY event_type, scale
    """,
    "cogroup_asof_enrich": """
        WITH p AS (
            SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT user_id, ts AS click_ts FROM events
            WHERE event_type = 'click'
        )
        SELECT p.user_id, count(*) AS n_purchases,
               count(click_ts) AS n_matched,
               round(max(epoch(ts - click_ts)), 6) AS max_gap_s
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.click_ts
        GROUP BY p.user_id ORDER BY p.user_id
    """,
    "generate_stream_exact": _values_oracle(
        "event_type INTEGER, is_pattern BOOLEAN, n BIGINT, min_ts BIGINT,"
        " max_ts BIGINT, sum_ts BIGINT",
        _EXACT_SUMMARY_ROWS,
        "event_type, is_pattern",
    ),
    "generate_patterns_spark": _values_oracle(
        "pattern_id INTEGER, pos INTEGER, event_type INTEGER, gap INTEGER",
        _PATTERN_ROWS,
        "pattern_id, pos",
    ),
    "generate_stream_sharded": _values_oracle(
        _SHARD_SUMMARY, _SHARDED_SUMMARY_ROWS, "shard"
    ),
}
