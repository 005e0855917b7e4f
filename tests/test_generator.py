"""Layer A generator tests (SURVEY §5.2.2-4).

The golden tests hold our NumPy exact mode, the CSV sink and the
compat facade to the reference implementation's own output. When the
reference is importable they compare against it live; otherwise they
compare against SHA-256 digests of its output committed in
``tests/data/golden_digests.json`` (provenance recorded there).
Property tests pin the §1.2 ordering semantics; Spark tests cover the
sharded scale path, the parquet cache, and the CSV/iterator export
surface.
"""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import importlib.util
import json
import os
import sys
import types

import numpy as np
import pytest

from eventstream_benchmark_spark.generator import (
    PatternConfig,
    StreamConfig,
    core,
    patterns_df,
    stream_df_cached,
    stream_df_exact,
    stream_df_pure,
    stream_df_sharded,
    stream_iter,
    to_numpy,
    write_csv,
)

PCFG = PatternConfig(n_patterns=8, pattern_length=10, n_types=6,
                     gap_dist="uniform", gap_low=3, gap_high=9, seed=137)
SCFG = StreamConfig(
    n_types=6, total_events=40_000, random_ratio=0.7, seed=2025,
    pattern_jitter="uniform", pattern_jitter_amount=2,
    rand_interval_dist="poisson", rand_interval_base=6,
    rand_interval_low=None, rand_interval_high=None,
    rand_jitter="uniform", rand_jitter_amount=1,
    density_mode="sin", density_period=8000, density_amp=0.6,
)
GOLDEN_DIGESTS = os.path.join(os.path.dirname(__file__), "data", "golden_digests.json")


def _digest(a) -> str:
    """SHA-256 of an int/bool array: its shape, then its values as
    little-endian int64 (dtype-blind, like ``assert_array_equal``)."""
    a = np.ascontiguousarray(np.asarray(a).astype("<i8"))
    return hashlib.sha256(repr(a.shape).encode() + a.tobytes()).hexdigest()


def _file_digest(path) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.fixture(scope="module")
def reference():
    """Import the read-only reference with its tqdm dependency stubbed;
    ``None`` when it is not present."""
    class _Bar:
        def __init__(self, *a, **k):
            self.n = 0

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def update(self, n):
            self.n += n

    sys.modules.setdefault("tqdm", types.SimpleNamespace(tqdm=_Bar))
    spec = importlib.util.spec_from_file_location("ref_eventstream", "/root/reference/eventstream.py")
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    except FileNotFoundError:
        return None
    return mod


@pytest.fixture(scope="module")
def golden(reference, tmp_path_factory) -> dict[str, str]:
    """Expected digests of the golden pattern arrays (``types``,
    ``gaps``), the 40k-event stream (``ts``, ``ty``, ``label``) and its
    CSV bytes (``csv``): from the live reference when it is importable,
    else the committed ``GOLDEN_DIGESTS``."""
    if reference is None:
        with open(GOLDEN_DIGESTS) as f:
            return json.load(f)["sha256"]
    pats = reference.generate_patterns(
        n_patterns=8, pattern_length=10, n_types=6,
        gap_dist="uniform", gap_low=3, gap_high=9, seed=137,
    )
    stream = reference.EventStream(
        patterns=pats, n_types=6, total_events=40_000, random_ratio=0.7,
        seed=2025, pattern_jitter="uniform", pattern_jitter_amount=2,
        rand_interval_dist="poisson", rand_interval_base=6,
        rand_interval_low=None, rand_interval_high=None,
        rand_jitter="uniform", rand_jitter_amount=1,
        density_mode="sin", density_period=8000, density_amp=0.6,
        density_base_rate=1.0, cache_dir=None,
    )
    ref_csv = tmp_path_factory.mktemp("reference") / "ref.csv"
    stream.to_csv(str(ref_csv))
    return {
        "types": _digest(pats.types), "gaps": _digest(pats.gaps),
        "ts": _digest(stream.timestamps), "ty": _digest(stream.types),
        "label": _digest(stream.is_pattern), "csv": _file_digest(ref_csv),
    }


def test_golden_patterns_bit_equal(golden):
    types, gaps = core.build_patterns(PCFG)
    assert _digest(types) == golden["types"]
    assert _digest(gaps) == golden["gaps"]


def test_golden_stream_bit_equal(golden):
    types, gaps = core.build_patterns(PCFG)
    ts, ty, label = core.build_stream(SCFG, types, gaps)
    assert _digest(ts) == golden["ts"]
    assert _digest(ty) == golden["ty"]
    assert _digest(label) == golden["label"]


def _invariants(ts: np.ndarray, ty: np.ndarray, label: np.ndarray, cfg: StreamConfig, L: int):
    n = ts.shape[0]
    assert n == cfg.total_events
    # timestamps never decrease (gap clamp >= 1 at every stage)
    assert (np.diff(ts) >= 0).all()
    # achieved random fraction is exact (closed-loop controller)
    assert int((~label).sum()) == int(round(n * cfg.random_ratio))
    # type codes in range
    assert ty.min() >= 0 and ty.max() < cfg.n_types
    # pattern instances are contiguous blocks of exactly L (last may truncate)
    changes = np.flatnonzero(np.diff(label.astype(np.int8)))
    bounds = np.concatenate(([0], changes + 1, [n]))
    runs = [(label[a], b - a) for a, b in zip(bounds[:-1], bounds[1:])]
    pat_runs = [r for flag, r in runs if flag]
    assert all(r % L == 0 for r in pat_runs[:-1])
    if pat_runs:
        assert pat_runs[-1] % L == 0 or runs[-1][0]  # truncation only at the stream end
    # ties only where a pattern block starts right after a random event
    tie_idx = np.flatnonzero(np.diff(ts) == 0)
    assert all((not label[i]) and label[i + 1] for i in tie_idx)


def test_golden_csv_byte_match(golden, spark, tmp_path):
    """SURVEY §5.2.2: the exported CSV byte-matches the reference's
    ``to_csv`` output — same header, same %d row formatting, same
    values, row for row."""
    ours = tmp_path / "ours_csv"
    write_csv(stream_df_exact(spark, PCFG, SCFG), str(ours))
    part = glob.glob(str(ours / "part-*.csv"))[0]
    with open(part) as f:
        assert f.readline() == "timestamp,event_type,is_pattern\n"
    assert _file_digest(part) == golden["csv"]


def test_exact_mode_invariants():
    types, gaps = core.build_patterns(PCFG)
    ts, ty, label = core.build_stream(SCFG, types, gaps)
    _invariants(ts, ty, label, SCFG, PCFG.pattern_length)


def test_interval_laws_match_numpy():
    """Distribution draws agree with NumPy's own samplers draw-for-draw."""
    rng_a, rng_b = core.make_rng(9), np.random.default_rng(9)
    for _ in range(200):
        assert core.interval(6, "poisson", rng_a) == max(1, int(rng_b.poisson(6.0)))
    rng_a, rng_b = core.make_rng(10), np.random.default_rng(10)
    for _ in range(200):
        assert core.interval(5, "geometric", rng_a) == int(rng_b.geometric(1 / 5))


def test_uniform_interval_validation():
    with pytest.raises(ValueError):
        core.interval(5, "uniform", core.make_rng(0), low=0, high=9)
    with pytest.raises(ValueError):
        PatternConfig(n_patterns=1, pattern_length=1, n_types=2)
    with pytest.raises(ValueError):
        StreamConfig(n_types=2, total_events=10, random_ratio=1.5)


def test_sharded_stream_invariants(spark):
    scfg = StreamConfig(
        n_types=6, total_events=8_000, random_ratio=0.7, seed=2025,
        pattern_jitter="uniform", pattern_jitter_amount=2,
        rand_interval_dist="poisson", rand_interval_base=6,
        rand_interval_low=None, rand_interval_high=None,
        density_mode="sin", density_period=8000, density_amp=0.6,
    )
    df = stream_df_sharded(spark, PCFG, scfg, n_shards=8)
    pdf = df.toPandas().sort_values(["shard", "event_id"])
    assert len(pdf) == scfg.total_events
    for shard, grp in pdf.groupby("shard"):
        ts = grp["ts"].to_numpy()
        assert (np.diff(ts) >= 0).all()
        frac = (~grp["is_pattern"]).mean()
        assert abs(frac - 0.7) < 0.01
    # different shards draw different streams
    s0 = pdf[pdf["shard"] == 0]["ts"].to_numpy()
    s1 = pdf[pdf["shard"] == 1]["ts"].to_numpy()
    assert not np.array_equal(s0[: min(len(s0), len(s1))], s1[: min(len(s0), len(s1))])


def test_puredf_stream_invariants(spark):
    """The pure-DataFrame mode satisfies the same §1.2 invariants as
    the NumPy paths, per shard: monotone clock, exact random ratio,
    type range, contiguous length-L pattern blocks, ties only at
    random->pattern boundaries."""
    from eventstream_benchmark_spark.generator.queries import (
        GOLDEN_PATTERNS,
        PUREDF_STREAM,
    )
    import dataclasses

    df = stream_df_pure(spark, GOLDEN_PATTERNS, PUREDF_STREAM, n_shards=8)
    pdf = df.toPandas().sort_values(["shard", "event_id"])
    assert len(pdf) == PUREDF_STREAM.total_events
    per_shard = dataclasses.replace(
        PUREDF_STREAM, total_events=PUREDF_STREAM.total_events // 8
    )
    for _shard, grp in pdf.groupby("shard"):
        _invariants(
            grp["ts"].to_numpy(),
            grp["event_type"].to_numpy(),
            grp["is_pattern"].to_numpy(),
            per_shard,
            GOLDEN_PATTERNS.pattern_length,
        )
    # shards draw different streams (hash keys include the shard)
    s0 = pdf[pdf["shard"] == 0]["ts"].to_numpy()
    s1 = pdf[pdf["shard"] == 1]["ts"].to_numpy()
    assert not np.array_equal(s0, s1)


def test_puredf_deterministic_and_seed_sensitive(spark):
    """Counter-based draws: same (config, seed, shards) -> identical
    output across independent builds; a different seed changes it."""
    import dataclasses

    cfg = StreamConfig(
        n_types=4, total_events=2_000, random_ratio=0.5, seed=77,
        rand_interval_dist="geometric", rand_interval_base=4,
        rand_jitter="uniform", rand_jitter_amount=1,
        pattern_jitter="uniform", pattern_jitter_amount=2,
        density_mode="none",
    )
    a = stream_df_pure(spark, PCFG, cfg, n_shards=4).toPandas().sort_values("event_id")
    b = stream_df_pure(spark, PCFG, cfg, n_shards=4).toPandas().sort_values("event_id")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))
    c = (
        stream_df_pure(spark, PCFG, dataclasses.replace(cfg, seed=78), n_shards=4)
        .toPandas()
        .sort_values("event_id")
    )
    assert not a["ts"].reset_index(drop=True).equals(c["ts"].reset_index(drop=True))


def test_puredf_rejects_non_closed_form_laws(spark):
    """poisson intervals and sin density have no closed-form column
    inverse -> the pure mode refuses them (the sharded path owns those
    configs). Gaussian/laplace jitters joined the closed-form lane in
    round 9 and are covered by their own KS law tests."""
    import dataclasses

    base = StreamConfig(
        n_types=4, total_events=100, random_ratio=0.5, seed=1,
        rand_interval_dist="fixed", rand_interval_base=3,
        rand_jitter="none", rand_jitter_amount=0,
        pattern_jitter="none", pattern_jitter_amount=0,
        density_mode="none",
    )
    for bad in (
        dataclasses.replace(base, rand_interval_dist="poisson"),
        dataclasses.replace(base, density_mode="sin"),
    ):
        with pytest.raises(ValueError):
            stream_df_pure(spark, PCFG, bad, n_shards=2)


def test_puredf_summary_constants_pinned(spark):
    """The generate_stream_dataframe oracle is a precomputed VALUES
    table; recompute it with a fresh run so an xxhash64/plan drift
    fails here before the driver hashes a stale constant."""
    from eventstream_benchmark_spark.generator.queries import (
        _PUREDF_SUMMARY_ROWS,
        generate_stream_dataframe,
    )

    got = tuple(
        tuple(int(v) for v in row)
        for row in generate_stream_dataframe(spark, "").collect()
    )
    assert got == _PUREDF_SUMMARY_ROWS


def test_puredf_jitter_summary_constants_pinned(spark):
    """Same pin for the round-9 jittered variant (gaussian noise +
    laplace pattern jitter through the closed-form samplers): a fresh
    run must reproduce the committed VALUES oracle exactly."""
    from eventstream_benchmark_spark.generator.queries import (
        _PUREDF_JITTER_SUMMARY_ROWS,
        generate_stream_dataframe_jittered,
    )

    got = tuple(
        tuple(int(v) for v in row)
        for row in generate_stream_dataframe_jittered(spark, "").collect()
    )
    assert got == _PUREDF_JITTER_SUMMARY_ROWS


def test_patterns_df_matches_numpy(spark):
    pdf = patterns_df(spark, PCFG).toPandas().sort_values("pattern_id")
    types, gaps = core.build_patterns(PCFG)
    for pid in range(PCFG.n_patterns):
        assert list(pdf.iloc[pid]["types"]) == list(types[pid])
        assert list(pdf.iloc[pid]["gaps"]) == list(gaps[pid])


def test_cache_roundtrip(spark, tmp_path):
    scfg = StreamConfig(n_types=4, total_events=2_000, random_ratio=0.5, seed=3,
                        rand_interval_dist="fixed", rand_interval_base=3)
    first = stream_df_cached(spark, PCFG, scfg, str(tmp_path), mode="exact").toPandas()
    again = stream_df_cached(spark, PCFG, scfg, str(tmp_path), mode="exact").toPandas()
    assert len(first) == 2_000
    assert first.sort_values("event_id").equals(again.sort_values("event_id"))


def test_csv_and_iterator_surface(spark, tmp_path):
    scfg = StreamConfig(n_types=4, total_events=500, random_ratio=0.4, seed=11,
                        rand_interval_dist="geometric", rand_interval_base=4)
    df = stream_df_exact(spark, PCFG, scfg)
    out = tmp_path / "stream_csv"
    write_csv(df, str(out))
    files = glob.glob(str(out / "part-*.csv"))
    assert len(files) == 1
    with open(files[0]) as fh:
        header = fh.readline().strip()
        assert header == "timestamp,event_type,is_pattern"
        first = fh.readline().strip().split(",")
        assert all(tok.lstrip("-").isdigit() for tok in first)
    it = stream_iter(df)
    t0, e0, p0 = next(it)
    assert isinstance(t0, int) and isinstance(e0, int) and isinstance(p0, bool)
    # A9: [N,3] int array, bool upcast, same order as the iterator
    arr = to_numpy(df)
    assert arr.shape == (500, 3) and arr.dtype == np.int64
    assert (arr[0] == np.array([t0, e0, int(p0)])).all()
    assert set(np.unique(arr[:, 2])) <= {0, 1}
    assert (np.diff(arr[:, 0]) >= 0).all()


def _driver_stream(mode: str, scfg: StreamConfig, n_shards: int) -> np.ndarray:
    """The stream an export must reproduce, built on the driver with no
    Spark sort: the per-shard ``build_stream_fast`` outputs (same
    ``shard_rng`` as ``stream_df_sharded``) concatenated in shard
    order, or the exact ``build_stream``; as ``to_numpy``'s [N, 3]."""
    types, gaps = core.build_patterns(PCFG)
    if mode == "exact":
        parts = [core.build_stream(scfg, types, gaps)]
    else:
        parts = [
            core.build_stream_fast(dataclasses.replace(scfg, total_events=n), types, gaps,
                                   rng=core.shard_rng(scfg.seed, s))
            for s, n in enumerate(core.shard_sizes(scfg.total_events, n_shards)) if n
        ]
    cols = [np.concatenate([p[c] for p in parts] or [np.empty(0)]).astype(np.int64) for c in range(3)]
    return np.stack(cols, axis=1)


@pytest.mark.parametrize(
    "mode,n_events,n_shards",
    [
        pytest.param("sharded", 0, 8, id="sharded-0"),
        pytest.param("pure", 0, 8, id="pure-0"),
        pytest.param("sharded", 3, 8, id="sharded-3"),
        pytest.param("sharded", 10_007, 8, id="sharded-10007"),
        pytest.param("sharded", 20, 32, id="sharded-20-32shards"),
        pytest.param("sharded", 1_001, 2, id="sharded-1001-2shards"),
        pytest.param("exact", 2_000, 8, id="exact-2000"),
    ],
)
def test_exports_share_one_order(spark, tmp_path, mode, n_events, n_shards):
    """``stream_iter``, ``to_numpy`` and the ``write_csv`` data rows are
    the same rows in the same order, and equal the driver-built stream
    in ``(shard, event_id)`` order. Sharded cases cover empty streams,
    empty shards (3 events over 8), uneven shard sizes (10,007), the
    32-shard scale layout (several shards per task, the last tasks'
    shards empty at 20 events) and fewer shards than cores (2). The
    pure-DataFrame path is checked on its empty stream only: its draws
    are keyed hashes, not the driver stream's."""
    scfg = StreamConfig(n_types=5, total_events=n_events, random_ratio=0.6, seed=99)
    if mode == "exact":
        df = stream_df_exact(spark, PCFG, scfg)
    elif mode == "sharded":
        df = stream_df_sharded(spark, PCFG, scfg, n_shards=n_shards)
    else:  # the pure path has no closed-form poisson sampler
        scfg = dataclasses.replace(scfg, rand_interval_dist="uniform")
        df = stream_df_pure(spark, PCFG, scfg, n_shards=n_shards)
    expected = _driver_stream(mode, scfg, n_shards)

    events = list(stream_iter(df))
    assert all(type(t) is int and type(e) is int and type(p) is bool for t, e, p in events)
    np.testing.assert_array_equal(np.array(events, dtype=np.int64).reshape(-1, 3), expected)

    arr = to_numpy(df)
    assert arr.dtype == np.int64
    np.testing.assert_array_equal(arr, expected)

    write_csv(df, str(tmp_path / "csv"))
    parts = glob.glob(str(tmp_path / "csv" / "part-*"))
    assert len(parts) == 1
    with open(parts[0]) as f:
        lines = f.read().splitlines()
    assert lines[0] == "timestamp,event_type,is_pattern"
    rows = [[int(v) for v in line.split(",")] for line in lines[1:]]
    np.testing.assert_array_equal(np.array(rows, dtype=np.int64).reshape(-1, 3), expected)


def test_choice_equals_integers_draw():
    """``core.build_stream`` draws a noise event's type with
    ``integers(0, n)`` where the reference calls ``choice(n)``. The
    exact path matches the reference only while both return the same
    value from the same bits, interleaved with the path's other draws
    (Poisson intervals, ``integers`` jitters and pattern picks)."""
    for n in (1, 2, 6, 7, 1000):
        for seed in (0, 1, 42, 2024):
            ref, ours = core.make_rng(seed), core.make_rng(seed)
            for step in range(1500):
                if step % 3 == 0:
                    assert ref.poisson(4.0) == ours.poisson(4.0)
                if step % 5 == 0:
                    assert ref.integers(-3, 4) == ours.integers(-3, 4)
                assert ref.choice(n) == ours.integers(0, n)
            # both generators consumed the same bits
            assert ref.integers(0, 2**62) == ours.integers(0, 2**62)


def test_exact_summary_oracle_constants_pinned():
    """The generate_stream_exact oracle is a precomputed VALUES table
    (a pure function of the golden config); recompute it from core so
    any NumPy/bit-stream drift fails here before the driver hashes a
    stale constant."""
    from eventstream_benchmark_spark.generator.queries import (
        GOLDEN_PATTERNS,
        GOLDEN_STREAM,
        _EXACT_SUMMARY_ROWS,
    )

    types, gaps = core.build_patterns(GOLDEN_PATTERNS)
    ts, ty, label = core.build_stream(GOLDEN_STREAM, types, gaps)
    got = {}
    for t, p in {(int(a), bool(b)) for a, b in zip(ty, label)}:
        sel = ts[(ty == t) & (label == p)]
        got[(t, str(p).lower())] = (
            len(sel), int(sel.min()), int(sel.max()), int(sel.sum())
        )
    want = {(t, p): (n, lo, hi, s) for t, p, n, lo, hi, s in _EXACT_SUMMARY_ROWS}
    assert got == want


def test_pattern_recovery_constants_pinned():
    """The pattern_recovery_scored oracle is a precomputed constant
    row (deterministic sharded generation + a deterministic matcher);
    recompute the whole score from core's NumPy path so any RNG or
    matcher drift fails here before the driver hashes a stale
    constant."""
    from eventstream_benchmark_spark.generator.queries import (
        GOLDEN_PATTERNS,
        PATTERN_RECOVERY_ROW,
        SCALE_SHARDS,
        SCALE_STREAM,
    )
    import dataclasses

    types, gaps = core.build_patterns(GOLDEN_PATTERNS)
    seq = types[0]
    L = len(seq)
    sizes = core.shard_sizes(SCALE_STREAM.total_events, SCALE_SHARDS)
    n_matches = n_true = n_pattern = 0
    for shard, n_events in enumerate(sizes):
        cfg = dataclasses.replace(SCALE_STREAM, total_events=n_events)
        rng = core.shard_rng(SCALE_STREAM.seed, shard)
        _ts, ty, label = core.build_stream_fast(cfg, types, gaps, rng=rng)
        n_pattern += int(label.sum())
        windows = np.lib.stride_tricks.sliding_window_view(ty, L)
        hits = (windows == seq).all(axis=1)
        n_matches += int(hits.sum())
        lab_win = np.lib.stride_tricks.sliding_window_view(label, L)
        n_true += int((hits & lab_win.all(axis=1)).sum())
    got = (n_matches, n_true, n_matches - n_true, n_pattern)
    assert got == PATTERN_RECOVERY_ROW


def test_pattern_rows_constants_pinned():
    """The generate_patterns_spark oracle is a precomputed VALUES table
    of the GOLDEN_PATTERNS set as scalar rows; recompute from core so
    RNG drift fails here before the driver hashes a stale constant."""
    from eventstream_benchmark_spark.generator.queries import (
        GOLDEN_PATTERNS,
        _PATTERN_ROWS,
    )

    types, gaps = core.build_patterns(GOLDEN_PATTERNS)
    got = tuple(
        (pid, pos, int(types[pid][pos]),
         int(gaps[pid][pos]) if pos < gaps.shape[1] else None)
        for pid in range(types.shape[0])
        for pos in range(types.shape[1])
    )
    assert got == _PATTERN_ROWS


def test_sharded_summary_constants_pinned():
    """The generate_stream_sharded oracle is a precomputed VALUES table
    of per-shard (n, n_pattern, span) summaries; recompute each
    shard from core's NumPy path (same SeedSequence spawning as the
    mapInPandas task) so RNG drift fails here first. n_pattern is an
    exact integer count — no rounding-mode dependence (Spark HALF_UP
    vs Python half-even) can split the test from the driver check."""
    import dataclasses

    from eventstream_benchmark_spark.generator.queries import (
        GOLDEN_PATTERNS,
        SCALE_SHARDS,
        SCALE_STREAM,
        _SHARDED_SUMMARY_ROWS,
    )

    types, gaps = core.build_patterns(GOLDEN_PATTERNS)
    sizes = core.shard_sizes(SCALE_STREAM.total_events, SCALE_SHARDS)
    got = []
    for shard, n_events in enumerate(sizes):
        cfg = dataclasses.replace(SCALE_STREAM, total_events=n_events)
        rng = core.shard_rng(SCALE_STREAM.seed, shard)
        ts, _ty, label = core.build_stream_fast(cfg, types, gaps, rng=rng)
        got.append(
            (shard, len(ts), int(label.sum()), int(ts.max()))
        )
    assert tuple(got) == _SHARDED_SUMMARY_ROWS


def test_compat_facade_bit_equal(golden, tmp_path):
    """The drop-in facade (compat.generate_patterns / compat.EventStream,
    reference signatures and defaults) reproduces the reference
    bit-for-bit through the same call shape a reference user writes —
    including to_numpy, the CSV format, and the stream() iterator —
    with no SparkSession attached."""
    from eventstream_benchmark_spark.generator import compat

    pats = compat.generate_patterns(
        n_patterns=8, pattern_length=10, n_types=6,
        gap_dist="uniform", gap_low=3, gap_high=9, seed=137,
    )
    assert _digest(pats.types) == golden["types"]
    assert _digest(pats.gaps) == golden["gaps"]
    assert (pats.n_patterns, pats.length, len(pats)) == (8, 10, 8)

    es = compat.EventStream(
        patterns=pats, n_types=6, total_events=40_000, random_ratio=0.7,
        seed=2025, pattern_jitter="uniform", pattern_jitter_amount=2,
        rand_interval_dist="poisson", rand_interval_base=6,
        rand_interval_low=None, rand_interval_high=None,
        rand_jitter="uniform", rand_jitter_amount=1,
        density_mode="sin", density_period=8000, density_amp=0.6,
        density_base_rate=1.0, cache_dir=None,
    )
    arr = es.to_numpy()
    assert arr.dtype == np.int64
    assert [_digest(arr[:, c]) for c in range(3)] == [golden["ts"], golden["ty"], golden["label"]]
    events = list(es.stream())
    assert {tuple(map(type, e)) for e in events} == {(int, int, bool)}
    assert [_digest(col) for col in zip(*events)] == [golden["ts"], golden["ty"], golden["label"]]
    out = tmp_path / "compat.csv"
    es.to_csv(str(out))
    assert _file_digest(out) == golden["csv"]


def test_compat_sharded_df(spark, tmp_path):
    """Sharded compat mode: DataFrame surface + parquet config cache."""

    from eventstream_benchmark_spark.generator import compat

    pats = compat.generate_patterns(
        n_patterns=4, pattern_length=5, n_types=4, seed=11
    )
    cache = str(tmp_path / "compat_cache")  # pytest-managed, no leak
    es = compat.EventStream(
        patterns=pats, n_types=4, total_events=8_000, random_ratio=0.5,
        seed=7, spark=spark, mode="sharded", n_shards=8, cache_dir=cache,
    )
    assert es.df.count() == 8_000
    # cache hit: a second instance reads the parquet materialization
    es2 = compat.EventStream(
        patterns=pats, n_types=4, total_events=8_000, random_ratio=0.5,
        seed=7, spark=spark, mode="sharded", n_shards=8, cache_dir=cache,
    )
    assert es2.df.count() == 8_000
    assert es.to_numpy().shape == (8_000, 3)


@pytest.mark.parametrize("mode", ["exact", "sharded"])
def test_compat_cache_key_covers_pattern_contents(spark, tmp_path, mode):
    """Two pattern sets of one shape sharing a ``cache_dir`` must not
    share a cached stream: exact mode through the npz cache, sharded
    mode through the parquet ``df`` cache."""
    from eventstream_benchmark_spark.generator import compat

    pats = [compat.generate_patterns(n_patterns=4, pattern_length=5, n_types=4, seed=s)
            for s in (1, 2)]
    kw = dict(n_types=4, total_events=500, random_ratio=0.5, seed=7, mode=mode)
    if mode == "sharded":
        kw.update(spark=spark, n_shards=8)
    cached = [compat.EventStream(p, cache_dir=str(tmp_path), **kw).to_numpy() for p in pats]
    np.testing.assert_array_equal(cached[1], compat.EventStream(pats[1], **kw).to_numpy())
    assert not np.array_equal(cached[0], cached[1])


@pytest.mark.parametrize("mode", ["exact", "sharded"])
def test_compat_df_cache_materializes_once(spark, tmp_path, mode):
    """With a ``cache_dir``, ``.df`` leaves one materialization of the
    stream: the npz in exact mode (the frame is built from its arrays),
    the parquet directory in sharded mode; its rows equal
    ``to_numpy()``."""
    from eventstream_benchmark_spark.generator import compat

    pats = compat.generate_patterns(n_patterns=4, pattern_length=5, n_types=4, seed=11)
    es = compat.EventStream(
        pats, n_types=4, total_events=2_000, random_ratio=0.5, seed=7,
        spark=spark, mode=mode, n_shards=8, cache_dir=str(tmp_path),
    )
    pdf = es.df.orderBy("shard", "event_id").select("ts", "event_type", "is_pattern").toPandas()
    np.testing.assert_array_equal(pdf.to_numpy().astype(np.int64), es.to_numpy())
    (entry,) = tmp_path.iterdir()
    assert entry.name.startswith("stream_")
    assert entry.is_file() == (mode == "exact") and (entry.suffix == ".npz") == (mode == "exact")


def test_compat_exact_to_csv_single_file_even_with_spark(spark, tmp_path):
    """Round-4 advice: with a session attached, exact-mode to_csv must
    still produce the reference's single CSV FILE at ``path`` — not a
    Spark output directory — and byte-match the no-spark output."""
    from eventstream_benchmark_spark.generator import compat

    pats = compat.generate_patterns(n_patterns=4, pattern_length=5, n_types=4, seed=11)
    kw = dict(patterns=pats, n_types=4, total_events=5_000, random_ratio=0.5, seed=7)
    with_spark = tmp_path / "with_spark.csv"
    compat.EventStream(spark=spark, **kw).to_csv(str(with_spark))
    no_spark = tmp_path / "no_spark.csv"
    compat.EventStream(**kw).to_csv(str(no_spark))
    assert with_spark.is_file()
    assert with_spark.read_bytes() == no_spark.read_bytes()


def test_compat_sharded_to_csv_single_file(spark, tmp_path):
    from eventstream_benchmark_spark.generator import compat

    pats = compat.generate_patterns(n_patterns=4, pattern_length=5, n_types=4, seed=11)
    es = compat.EventStream(
        patterns=pats, n_types=4, total_events=5_000, random_ratio=0.5,
        seed=7, spark=spark, mode="sharded", n_shards=8,
    )
    out = tmp_path / "sharded.csv"
    es.to_csv(str(out))
    assert out.is_file()
    lines = out.read_text().splitlines()
    assert lines[0] == "timestamp,event_type,is_pattern"
    assert len(lines) == 5_001


def test_compat_exact_cache_without_spark(tmp_path, monkeypatch):
    """Round-4 advice: cache_dir must be honored in the no-spark exact
    path (the reference pickles and reloads). Second instance must
    answer from the npz without regenerating — proven by poisoning
    core.build_stream after the first materialization."""
    from eventstream_benchmark_spark.generator import compat, core

    pats = compat.generate_patterns(n_patterns=4, pattern_length=5, n_types=4, seed=11)
    kw = dict(patterns=pats, n_types=4, total_events=5_000, random_ratio=0.5,
              seed=7, cache_dir=str(tmp_path))
    first = compat.EventStream(**kw).to_numpy()
    assert any(p.suffix == ".npz" for p in tmp_path.iterdir())

    def boom(*a, **k):
        raise AssertionError("cache miss: build_stream re-ran")

    monkeypatch.setattr(core, "build_stream", boom)
    again = compat.EventStream(**kw).to_numpy()
    np.testing.assert_array_equal(first, again)
    # regenerate=True must bypass the cache (and hit the poison)
    import pytest as _pytest

    with _pytest.raises(AssertionError, match="cache miss"):
        compat.EventStream(**{**kw, "regenerate": True}).to_numpy()
