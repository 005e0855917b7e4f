"""Bit-compatible NumPy recreation of the reference generator.

This is the *exact-parity* path (SURVEY.md §4.2): the same RNG draw
sequence as the reference produces identical arrays for identical
(config, seed), which the golden test asserts element-wise against
``/root/reference/eventstream.py`` output. Semantics recreated from
observed behavior (citations per function); code written fresh.

Draw order contract (the part parity hinges on):

- pattern set (ref ``eventstream.py:166-183``): one vectorized
  ``integers`` draw for the whole type matrix, then row-major
  per-cell interval draws for gaps.
- per random event (ref ``:314-348``): interval draw, then jitter
  draw, then the event type. The reference calls ``choice(n_types)``;
  ``integers(0, n_types)`` draws the same value from the same bits at
  a quarter of the call cost, and ``test_choice_equals_integers_draw``
  pins that equality.
- per pattern instance (ref ``:351-385``): ``integers(0, n_patterns)``
  pick, then one jitter draw per intra-pattern gap.

All returned gaps/intervals are clamped ≥ 1 at every stage, so
timestamps never decrease; ties occur exactly where a pattern
instance starts at the previous random event's timestamp (ref
``:339-348`` + ``:357-359``; SURVEY §1.2).
"""

from __future__ import annotations

import numpy as np

from eventstream_benchmark_spark.generator.config import PatternConfig, StreamConfig


def make_rng(seed: int) -> np.random.Generator:
    """Seeded generator (ref ``eventstream.py:27-28``)."""
    return np.random.default_rng(int(seed))


def shard_rng(seed: int, shard: int) -> np.random.Generator:
    """Independent per-shard stream for scale mode: SeedSequence
    spawn-key derivation, the documented NumPy mechanism for
    non-overlapping child streams."""
    return np.random.default_rng(np.random.SeedSequence(entropy=int(seed), spawn_key=(int(shard),)))


def jittered(base: int, dist: str, amount: int, rng: np.random.Generator) -> int:
    """Symmetric integer jitter, clamped ≥ 1 (ref ``eventstream.py:31-60``)."""
    if dist == "none" or amount <= 0:
        return max(1, int(base))
    if dist == "uniform":
        delta = rng.integers(-amount, amount + 1)
    elif dist == "gaussian":
        delta = int(np.round(rng.normal(0, amount)))
    elif dist == "laplace":
        delta = int(np.round(rng.laplace(0.0, amount)))
    else:
        raise ValueError(f"unknown jitter dist {dist!r}")
    return max(1, int(base + delta))


def interval(base: int, dist: str, rng: np.random.Generator,
             low: int | None = None, high: int | None = None) -> int:
    """Base inter-arrival draw, clamped ≥ 1 (ref ``eventstream.py:63-91``)."""
    if dist == "fixed":
        return max(1, int(base))
    if dist == "poisson":
        return max(1, int(rng.poisson(max(1e-9, float(base)))))
    if dist == "geometric":
        return int(rng.geometric(1.0 / max(1.0, float(base))))
    if dist == "uniform":
        if low is None or high is None or low < 1 or high < low:
            raise ValueError("uniform interval requires valid [low, high] with low>=1")
        return int(rng.integers(low, high + 1))
    raise ValueError(f"unknown interval dist {dist!r}")


def rate_at(t: int, mode: str, base_rate: float, period: int, amp: float) -> float:
    """Time-varying rate factor r(t), floored at 1e-6 (ref ``eventstream.py:94-113``)."""
    if mode == "none":
        return 1.0
    if mode == "sin":
        r = base_rate * (1.0 + amp * np.sin(2.0 * np.pi * (t / max(1, period))))
        return max(1e-6, float(r))
    raise ValueError(f"unknown density mode {mode!r}")


def build_patterns(cfg: PatternConfig) -> tuple[np.ndarray, np.ndarray]:
    """Pattern matrices (types[n,L] int32, gaps[n,L-1] int32)
    (ref ``eventstream.py:140-183``)."""
    rng = make_rng(cfg.seed)
    types = rng.integers(0, cfg.n_types, size=(cfg.n_patterns, cfg.pattern_length), dtype=np.int32)
    gaps = np.empty((cfg.n_patterns, cfg.pattern_length - 1), dtype=np.int32)
    for row in range(cfg.n_patterns):
        for col in range(cfg.pattern_length - 1):
            gaps[row, col] = interval(cfg.gap_base, cfg.gap_dist, rng, cfg.gap_low, cfg.gap_high)
    return types, gaps


def build_stream(
    cfg: StreamConfig,
    pat_types: np.ndarray,
    pat_gaps: np.ndarray,
    rng: np.random.Generator | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Interleave whole pattern instances with noise events under the
    closed-loop ratio controller (ref ``eventstream.py:288-409``).

    Returns (timestamps int64[N], types int32[N], is_pattern bool[N]).
    The achieved random fraction equals round(N·ratio)/N exactly
    because the controller compares the running ratio each step
    (ref ``:390-402``); the final pattern instance may be truncated by
    the N boundary (ref ``:363-364``).
    """
    rng = rng if rng is not None else make_rng(cfg.seed)
    n_pats, length = pat_types.shape
    total = cfg.total_events
    target_random = int(round(total * cfg.random_ratio))
    target_pattern = total - target_random

    out_ts = np.empty(total, dtype=np.int64)
    out_ty = np.empty(total, dtype=np.int32)
    out_label = np.empty(total, dtype=bool)

    clock = 0
    filled = 0
    n_random = 0
    n_pattern = 0

    # hot-loop local bindings (attribute lookups per event otherwise
    # dominate; RNG call order is untouched)
    random_ratio = cfg.random_ratio
    ri_base, ri_dist = cfg.rand_interval_base, cfg.rand_interval_dist
    ri_low, ri_high = cfg.rand_interval_low, cfg.rand_interval_high
    rj_dist, rj_amount = cfg.rand_jitter, cfg.rand_jitter_amount
    pj_dist, pj_amount = cfg.pattern_jitter, cfg.pattern_jitter_amount
    n_types = cfg.n_types
    d_mode, d_rate = cfg.density_mode, cfg.density_base_rate
    d_period, d_amp = cfg.density_period, cfg.density_amp
    density_off = d_mode == "none"

    def rate(t: int) -> float:
        return rate_at(t, d_mode, d_rate, d_period, d_amp)

    while filled < total:
        ratio_now = n_random / max(1, n_random + n_pattern)
        want_random = (
            ratio_now < random_ratio or n_pattern + length > target_pattern
        ) and n_random < target_random

        if want_random:
            # one noise event: interval → jitter → density divide → type
            # (ref :314-348); the event lands at clock + gap
            base = interval(ri_base, ri_dist, rng, ri_low, ri_high)
            base = jittered(base, rj_dist, rj_amount, rng)
            gap = base if density_off else max(1, int(round(base / rate(clock))))
            clock += gap
            out_ts[filled] = clock
            # the reference's choice(n_types): same value, same bits
            out_ty[filled] = int(rng.integers(0, n_types))
            out_label[filled] = False
            n_random += 1
            filled += 1
        else:
            # one whole pattern instance, first event AT the incoming
            # clock (ties with the preceding noise event — ref :357-359),
            # +1 tick pad after a complete instance (ref :383-384)
            pid = int(rng.integers(0, n_pats))
            p_types = pat_types[pid]
            p_gaps = pat_gaps[pid]
            t_cur = clock
            idx = filled
            truncated = False
            for j in range(length):
                out_ts[idx] = t_cur
                out_ty[idx] = p_types[j]
                out_label[idx] = True
                idx += 1
                n_pattern += 1
                if idx >= total:
                    truncated = True
                    break
                if j < length - 1:
                    gap = jittered(int(p_gaps[j]), pj_dist, pj_amount, rng)
                    if not density_off:
                        gap = max(1, int(round(gap / rate(t_cur))))
                    t_cur += gap
            clock = t_cur if truncated else t_cur + 1
            filled += length  # mirrors the reference's i += L overshoot

    return out_ts, out_ty, out_label


def shard_sizes(total_events: int, n_shards: int) -> list[int]:
    """Near-even split of the event budget across shards."""
    base = total_events // n_shards
    extra = total_events % n_shards
    return [base + (1 if s < extra else 0) for s in range(n_shards)]


# --------------------------------------------------------------------------
# fast path (scale mode): vectorized draws, no per-event Python/RNG calls
# --------------------------------------------------------------------------


def slot_schedule(total: int, length: int, random_ratio: float) -> tuple[np.ndarray, int, int]:
    """The controller's pattern/random decision sequence, precomputed.

    The closed-loop decision (ref ``eventstream.py:390-402``) consumes
    no randomness — it depends only on the running counts — so the
    whole schedule is a deterministic function of (N, L, ratio).
    Returns (slots, n_random, n_instances) where ``slots[k]`` is True
    for a random-event slot and False for a whole-pattern-instance
    slot, in emission order.
    """
    target_random = int(round(total * random_ratio))
    target_pattern = total - target_random
    slots: list[bool] = []
    filled = n_random = n_pattern = 0
    while filled < total:
        ratio_now = n_random / max(1, n_random + n_pattern)
        if (ratio_now < random_ratio or n_pattern + length > target_pattern) and (
            n_random < target_random
        ):
            slots.append(True)
            n_random += 1
            filled += 1
        else:
            slots.append(False)
            n_pattern += min(length, total - filled)
            filled += length
    arr = np.array(slots, dtype=bool)
    return arr, n_random, int((~arr).sum())


def _vector_intervals(cfg: StreamConfig, rng: np.random.Generator, n: int) -> np.ndarray:
    """n base interval draws as one vectorized call (same laws as
    :func:`interval`, clamps included)."""
    d = cfg.rand_interval_dist
    if d == "fixed":
        return np.full(n, max(1, int(cfg.rand_interval_base)), dtype=np.int64)
    if d == "poisson":
        return np.maximum(1, rng.poisson(max(1e-9, float(cfg.rand_interval_base)), n)).astype(np.int64)
    if d == "geometric":
        return rng.geometric(1.0 / max(1.0, float(cfg.rand_interval_base)), n).astype(np.int64)
    if d == "uniform":
        lo, hi = cfg.rand_interval_low, cfg.rand_interval_high
        if lo is None or hi is None or lo < 1 or hi < lo:
            raise ValueError("uniform interval requires valid [low, high] with low>=1")
        return rng.integers(lo, hi + 1, n).astype(np.int64)
    raise ValueError(f"unknown interval dist {d!r}")


def _vector_jitter(base: np.ndarray, dist: str, amount: int,
                   rng: np.random.Generator) -> np.ndarray:
    """Vectorized :func:`jittered` (same laws and clamp)."""
    if dist == "none" or amount <= 0:
        return np.maximum(1, base)
    if dist == "uniform":
        delta = rng.integers(-amount, amount + 1, base.shape)
    elif dist == "gaussian":
        delta = np.round(rng.normal(0, amount, base.shape)).astype(np.int64)
    elif dist == "laplace":
        delta = np.round(rng.laplace(0.0, amount, base.shape)).astype(np.int64)
    else:
        raise ValueError(f"unknown jitter dist {dist!r}")
    return np.maximum(1, base + delta)


def build_stream_fast(
    cfg: StreamConfig,
    pat_types: np.ndarray,
    pat_gaps: np.ndarray,
    rng: np.random.Generator | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Scale-mode generator: distribution-identical to
    :func:`build_stream` but ~10-40× faster.

    Same schedule (deterministic — :func:`slot_schedule`), same
    interval/jitter laws and clamps, same tie/pad/truncation
    semantics; the only difference is RNG draw *order* (batched by
    family instead of interleaved per event), which changes which
    draw lands where but no distribution — exactly the fidelity
    contract SURVEY §4.2 sets for scale mode. Used by the sharded
    applyInPandas path; the exact path remains :func:`build_stream`.

    density="none": fully vectorized (the clock is one cumsum).
    density="sin": vector draws + one tight scalar loop for the
    clock recurrence (gap depends on r(clock) — ref ``:331-338``).
    """
    rng = rng if rng is not None else make_rng(cfg.seed)
    n_pats, length = pat_types.shape
    total = cfg.total_events

    slots, n_rand, n_inst = slot_schedule(total, length, cfg.random_ratio)

    # --- batched draws, one call per family ---
    r_gaps = _vector_jitter(
        _vector_intervals(cfg, rng, n_rand), cfg.rand_jitter, cfg.rand_jitter_amount, rng
    )
    r_types = rng.integers(0, cfg.n_types, n_rand).astype(np.int32)
    picks = rng.integers(0, n_pats, n_inst)
    p_gaps = _vector_jitter(
        pat_gaps[picks].astype(np.int64), cfg.pattern_jitter, cfg.pattern_jitter_amount, rng
    )  # [n_inst, L-1]
    p_types = pat_types[picks]  # [n_inst, L]

    # --- per-event (gap, type, label) in emission order ---
    # pattern slot k emits: event 0 with gap 0 (tie with predecessor),
    # then L-1 gapped events; a +1 pad joins the NEXT slot's first gap.
    n_slots = slots.shape[0]
    slot_events = np.where(slots, 1, length)
    starts = np.concatenate(([0], np.cumsum(slot_events)))[:-1]
    padded_total = int(starts[-1] + slot_events[-1])  # ≥ total (overshoot)

    gaps = np.empty(padded_total, dtype=np.int64)
    types_out = np.empty(padded_total, dtype=np.int32)
    labels = np.empty(padded_total, dtype=bool)

    r_positions = starts[slots]
    gaps[r_positions] = r_gaps
    types_out[r_positions] = r_types
    labels[r_positions] = False

    p_starts = starts[~slots]  # first event of each instance
    p_index = p_starts[:, None] + np.arange(length)[None, :]  # [n_inst, L]
    flat = p_index.ravel()
    gaps[p_index[:, 0]] = 0  # tie with predecessor
    gaps[p_index[:, 1:].ravel()] = p_gaps.ravel()
    types_out[flat] = p_types.ravel()
    labels[flat] = True

    # +1 tick pad after each complete instance (ref :383-384): the pad
    # advances the clock BEFORE the next slot's first event, unscaled
    # by density, so it is tracked separately from the gap draw
    pad_before = np.zeros(padded_total, dtype=np.int64)
    after = p_index[:, -1] + 1  # position right after each instance
    pad_before[after[after < padded_total]] = 1

    # --- clock ---
    if cfg.density_mode == "none":
        ts = np.cumsum(gaps + pad_before)  # r(t)=1: scaling is identity
    else:
        ts = _sin_density_clock(
            gaps, pad_before, cfg.density_base_rate, cfg.density_period, cfg.density_amp
        )

    return ts[:total], types_out[:total], labels[:total]


_RATE_TABLE_MAX = 1 << 22


def _sin_density_clock(gaps: np.ndarray, pad_before: np.ndarray,
                       base_rate: float, period: int, amp: float) -> np.ndarray:
    """The genuinely sequential recurrence t_i = t_{i-1} + pad_i +
    max(1, round(g_i / r(t_{i-1} + pad_i))) (ref
    ``eventstream.py:331-338,374-381``) — the one part of generation
    no cumsum can replace (SURVEY §4.2).

    r(t) is periodic in ``t mod period``, so the per-tick rates are
    precomputed as one vectorized table and the loop body is plain
    index-divide-round Python (~2M events/s, vs ~80k with a per-event
    np.sin). Table values use sin(2π·k/per) for k = t mod per —
    mathematically equal to the reference's sin(2π·t/per), not
    bit-identical for huge t, which is within the scale path's
    distributional contract (exact mode keeps the reference form).
    Huge periods (> 4M ticks) skip the table and call math.sin.
    """
    from math import pi, sin

    per = max(1, period)
    out = np.empty(gaps.shape[0], dtype=np.int64)
    t = 0
    gl = gaps.tolist()
    pl = pad_before.tolist()
    if per <= _RATE_TABLE_MAX:
        k = np.arange(per, dtype=np.float64)
        rates = base_rate * (1.0 + amp * np.sin(2.0 * np.pi * k / per))
        np.maximum(rates, 1e-6, out=rates)
        table = rates.tolist()
        for i in range(len(gl)):
            t += pl[i]
            g = gl[i]
            if g:
                step = round(g / table[t % per])
                t += step if step > 1 else 1
            out[i] = t
        return out
    two_pi_over_per = 2.0 * pi / per
    for i in range(len(gl)):
        t += pl[i]
        g = gl[i]
        if g:
            r = base_rate * (1.0 + amp * sin(two_pi_over_per * t))
            if r < 1e-6:
                r = 1e-6
            step = int(round(g / r))
            t += step if step > 1 else 1
        out[i] = t
    return out
