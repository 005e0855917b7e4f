"""Drop-in compatibility facade for the reference API.

A user of ``bowen-xu/eventstream_benchmark`` switches by changing one
import::

    from eventstream_benchmark_spark.generator.compat import (
        EventStream, PatternSet, generate_patterns,
    )

``generate_patterns`` and ``EventStream`` keep the reference's exact
signatures and defaults (``eventstream.py:140-149`` and ``:197-221``)
and, in the default exact mode, produce BIT-IDENTICAL streams (same
NumPy draw sequence — golden-tested in ``tests/test_generator.py``).
The Spark engine sits underneath: pass ``spark=`` (or call ``.df``)
to get the stream as a DataFrame, or construct with
``mode="sharded"`` for the parallel scale path (same laws, sharded
SeedSequence RNGs, distributional rather than draw-for-draw parity —
SURVEY §4.2).

The reference's pickle result cache (``eventstream.py:249-284``)
becomes a materialization keyed by the same md5-of-config scheme: an
npz on the driver in exact mode (works with or without Spark; the
exact DataFrame is built from its arrays), a parquet directory in
sharded mode.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import numpy as np

from eventstream_benchmark_spark.generator import core, spark_gen
from eventstream_benchmark_spark.generator.config import PatternConfig, StreamConfig


class PatternSet:
    """The reference's pattern container (``eventstream.py:116-137``):
    ``types[n, L]`` int32, ``gaps[n, L-1]`` int32 (all gaps ≥ 1)."""

    def __init__(self, types: np.ndarray, gaps: np.ndarray):
        self.types = types
        self.gaps = gaps

    @property
    def n_patterns(self) -> int:
        return self.types.shape[0]

    @property
    def length(self) -> int:
        return self.types.shape[1]

    def __len__(self) -> int:
        return self.n_patterns


def generate_patterns(
    n_patterns: int,
    pattern_length: int,
    n_types: int,
    gap_dist: str = "uniform",
    gap_base: int = 5,
    gap_low: int | None = 2,
    gap_high: int | None = 9,
    seed: int = 137,
) -> PatternSet:
    """Reference signature and defaults (``eventstream.py:140-149``);
    bit-identical output for the same seed (same RNG call order)."""
    cfg = PatternConfig(
        n_patterns=n_patterns, pattern_length=pattern_length, n_types=n_types,
        gap_dist=gap_dist, gap_base=gap_base, gap_low=gap_low,
        gap_high=gap_high, seed=seed,
    )
    types, gaps = core.build_patterns(cfg)
    return PatternSet(types, gaps)


class EventStream:
    """Reference constructor surface (``eventstream.py:197-221``), all
    18 parameters with the reference's defaults, plus three
    engine-side keywords: ``spark`` (attach a session for DataFrame /
    cache / CSV surfaces), ``mode`` ("exact" = bit-parity driver
    NumPy; "sharded" = parallel applyInPandas scale path), and
    ``n_shards`` (sharded mode width)."""

    def __init__(
        self,
        patterns: PatternSet,
        n_types: int,
        total_events: int,
        random_ratio: float,
        seed: int = 123,
        pattern_jitter: str = "uniform",
        pattern_jitter_amount: int = 0,
        rand_interval_dist: str = "poisson",
        rand_interval_base: int = 5,
        rand_interval_low: int | None = 2,
        rand_interval_high: int | None = 9,
        rand_jitter: str = "uniform",
        rand_jitter_amount: int = 1,
        density_mode: str = "none",
        density_period: int = 10_000,
        density_amp: float = 0.8,
        density_base_rate: float = 1.0,
        cache_dir: str | None = None,
        regenerate: bool = False,
        spark=None,
        mode: str = "exact",
        n_shards: int = 32,
    ):
        if mode not in ("exact", "sharded"):
            raise ValueError(f"unknown mode {mode!r}")
        if mode == "sharded" and spark is None:
            raise ValueError("sharded mode needs a SparkSession (spark=...)")
        self.patterns = patterns
        self.cfg = StreamConfig(
            n_types=n_types, total_events=int(total_events),
            random_ratio=float(random_ratio), seed=seed,
            pattern_jitter=pattern_jitter,
            pattern_jitter_amount=int(pattern_jitter_amount),
            rand_interval_dist=rand_interval_dist,
            rand_interval_base=int(rand_interval_base),
            rand_interval_low=rand_interval_low,
            rand_interval_high=rand_interval_high,
            rand_jitter=rand_jitter, rand_jitter_amount=int(rand_jitter_amount),
            density_mode=density_mode, density_period=int(density_period),
            density_amp=float(density_amp),
            density_base_rate=float(density_base_rate),
        )
        self._spark = spark
        self._mode = mode
        self._n_shards = n_shards
        self._cache_dir = cache_dir
        self._regenerate = regenerate
        self._arrays: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None
        self._df = None

    # -- reference cache-key scheme (md5 of the config string,
    #    eventstream.py:249-264), with the mode/shard width appended
    #    because sharded output is a different (still deterministic)
    #    stream than exact output, and a digest of the pattern contents,
    #    which the reference omits, so pattern sets of one shape never
    #    share a cached stream
    def _cache_key(self) -> str:
        p, c = self.patterns, self.cfg
        patterns = hashlib.md5(p.types.tobytes() + p.gaps.tobytes()).hexdigest()
        key = (
            f"{p.n_patterns}-{p.length}-{patterns}-{c.n_types}-{c.total_events}-"
            f"{c.random_ratio}-{c.seed}-{c.pattern_jitter}-"
            f"{c.pattern_jitter_amount}-{c.rand_interval_dist}-"
            f"{c.rand_interval_base}-{c.rand_interval_low}-"
            f"{c.rand_interval_high}-{c.rand_jitter}-{c.rand_jitter_amount}-"
            f"{c.density_mode}-{c.density_period}-{c.density_amp}-"
            f"{c.density_base_rate}-{self._mode}-{self._n_shards}"
        )
        return hashlib.md5(key.encode()).hexdigest()

    def _exact_arrays(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Driver-side exact stream, honoring the reference's result
        cache (``eventstream.py:249-284``) even without a Spark
        session: the pickle-and-reload becomes an npz keyed by the same
        md5-of-config scheme, so a reference user relying on
        ``cache_dir`` for reload speed gets a reload, not a silent full
        regeneration (round-4 advice)."""
        if self._arrays is not None:
            return self._arrays
        cache = None
        if self._cache_dir is not None:
            os.makedirs(self._cache_dir, exist_ok=True)
            cache = os.path.join(self._cache_dir, f"stream_{self._cache_key()}.npz")
            if not self._regenerate and os.path.exists(cache):
                z = np.load(cache)
                self._arrays = (z["ts"], z["ty"], z["label"])
                return self._arrays
        self._arrays = core.build_stream(
            self.cfg, self.patterns.types, self.patterns.gaps
        )
        if cache is not None:
            ts, ty, label = self._arrays
            np.savez(cache, ts=ts, ty=ty, label=label)
        return self._arrays

    @property
    def df(self):
        """The stream as a DataFrame (lazy; built once per instance).
        Exact mode builds it from the driver arrays (npz-cached);
        sharded mode materializes it through the parquet config cache."""
        if self._df is not None:
            return self._df
        if self._spark is None:
            raise ValueError("no SparkSession attached (pass spark=...)")
        if self._mode == "exact":
            ts, ty, label = self._exact_arrays()
            df = self._spark.createDataFrame(
                spark_gen._arrays_to_pdf(ts, ty, label, shard=0, id_offset=0),
                spark_gen.STREAM_SCHEMA,
            )
        else:
            df = spark_gen.stream_df_sharded(
                self._spark, None, self.cfg, self._n_shards,
                pattern_arrays=(self.patterns.types, self.patterns.gaps),
            )
            if self._cache_dir is not None:
                path = os.path.join(self._cache_dir, f"stream_{self._cache_key()}")
                mode = "overwrite" if self._regenerate else "ignore"
                df.write.mode(mode).parquet(path)
                df = self._spark.read.parquet(path)
        self._df = df
        return self._df

    def to_numpy(self) -> np.ndarray:
        """``[N, 3]`` int array (reference ``eventstream.py:413-415``).
        Exact mode answers from the driver arrays (no Spark needed);
        sharded mode collects through the DataFrame."""
        if self._mode == "exact":
            ts, ty, label = self._exact_arrays()
            return np.stack([ts, ty.astype(np.int64), label.astype(np.int64)], axis=1)
        return spark_gen.to_numpy(self.df)

    def to_csv(self, path: str) -> None:
        """Reference CSV format: header ``timestamp,event_type,
        is_pattern``, ``%d`` values, ONE file at ``path``
        (``eventstream.py:417-427``). Exact mode writes driver-side
        (bit-parity with the reference file, Spark or not); sharded
        mode writes through the Spark sink and moves the coalesced
        part file to ``path`` — either way the caller gets the single
        file the reference API contract promises, never a Spark output
        directory (round-4 advice)."""
        if self._mode == "sharded":
            spark_gen.write_csv_file(self.df, path)
            return
        arr = self.to_numpy()
        with open(path, "w") as f:
            f.write("timestamp,event_type,is_pattern\n")
            np.savetxt(f, arr, fmt="%d", delimiter=",")

    def stream(self) -> Iterator[tuple[int, int, bool]]:
        """Lazy per-event iterator (reference ``eventstream.py:429-432``)."""
        if self._mode == "exact":
            ts, ty, label = self._exact_arrays()
            yield from zip(ts.tolist(), ty.tolist(), label.tolist())
            return
        yield from spark_gen.stream_iter(self.df)
