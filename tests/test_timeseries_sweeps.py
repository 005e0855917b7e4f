"""Seeded randomized oracle sweeps for the time-series analytics pack.

The events fixture is a steady synthetic stream; these lanes' decision
surfaces live in the IRREGULARITIES — spine holes, spikes, ties — so
the sweep generates event streams that plant them:

* multi-HOUR dead zones inside each user's stream, so the hourly
  spine (`_hour_spine_counts`) has real zero-fill holes: LOCF carries
  values across gaps, the forecast backtest scores misses, resampling
  interpolates over them, and the ACF sees non-trivial structure;
* value SPIKES 20-50x the local level (the MAD anomaly lane must
  flag them identically after its integer-median machinery) next to
  long constant-value runs (MAD = 0 — the degenerate denominator);
* timestamp ties (same user, same µs) and zero-length intervals for
  the interval-overlap / time-weighted lanes;
* streams spanning four weeks so weekday-vs-weekend contrast and
  hourly→daily rollups aggregate across real calendar structure;
* event types drawn from skewed pools per user so the Markov
  transition matrix has both dense rows and absorbing states.

Values ride the quarter grid (exact 2-dp dyadics): the EWMA/Holt
folds' halvings are exponent shifts on exactly-representable inputs,
OHLC picks are passthrough doubles, and every sum in the pack is
order-proof.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.sweep_util import quarter as _quarter, sweep_check

BASE_US = 1_706_000_000_000_000  # fixed epoch anchor, µs
HOUR_US = 3_600_000_000

TYPES = ["view", "click", "cart", "purchase", "error"]

SWEPT = (
    "events_acf_lags",
    "events_cusum_shift",
    "events_dispersion_index",
    "events_downsample_lttb",
    "events_ewma_smooth",
    "events_forecast_backtest",
    "events_gap_fill_locf",
    "events_holt_trend",
    "events_markov_transitions",
    "events_ohlc_candles",
    "events_resample_interp",
    "events_weekday_contrast",
    "time_weighted_avg",
    "stream_anomaly_mad",
    "stream_drift_score",
    "stream_type_drift",
    "rollup_hourly_daily",
    "join_interval_overlap",
    "session_window_agg",
)




def _build_events(rng: random.Random) -> pa.Table:
    rows, eid = [], 0
    n_users = rng.randint(4, 9)
    for uid in range(n_users):
        # each user prefers a skewed subset of types (Markov structure)
        pool = TYPES[: rng.randint(2, 5)]
        t = BASE_US + rng.randint(0, 48) * HOUR_US
        level = _quarter(rng, 20, 60)
        constant_run = 0
        span_us = 28 * 24 * HOUR_US  # four weeks
        while t < BASE_US + span_us and eid < 2500:
            roll = rng.random()
            if roll < 0.04:
                t += rng.randint(5, 30) * HOUR_US  # multi-hour dead zone
            elif roll < 0.12:
                pass  # zero gap: planted timestamp tie
            else:
                t += rng.randint(1_000_000, 2 * HOUR_US)
            if rng.random() < 0.03:
                value = level * rng.randint(20, 50)  # MAD spike
            elif constant_run > 0:
                value = level  # constant run: MAD == 0 denominator
                constant_run -= 1
            else:
                if rng.random() < 0.05:
                    constant_run = rng.randint(5, 15)
                value = level + _quarter(rng, -10, 10)
            rows.append(
                (
                    eid,
                    t,
                    uid,
                    rng.choice(pool),
                    value,
                    '{"k": %d}' % rng.randint(0, 9),
                )
            )
            eid += 1
    rows.sort(key=lambda r: (r[1], r[0]))
    rows = [(i, *r[1:]) for i, r in enumerate(rows)]
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )


@pytest.mark.parametrize("seed", [61, 2024])
def test_timeseries_randomized_oracle_agreement(spark, tmp_path, seed):
    rng = random.Random(seed)
    root = tmp_path / f"ts{seed}"
    root.mkdir()
    pq.write_table(_build_events(rng), str(root / "events.parquet"))
    sweep_check(spark, str(root), SWEPT, ("events",), seed)


def test_weekday_contrast_zero_regime_guard(spark, tmp_path):
    """An event type with zero weekend events yields a NULL display
    ratio (not Infinity / an engine-dependent cast) and still
    hash-matches the oracle."""
    from eventstream_benchmark_spark.operators import eventstream as es
    from tests.oracle_harness import compare

    # wd_only: 40 events all on a Wednesday; mixed: both regimes
    rows = [(i, "wd_only", pd.Timestamp("2024-01-03 10:00:00") + pd.Timedelta(minutes=i)) for i in range(40)]
    rows += [(100 + i, "mixed", pd.Timestamp("2024-01-03 10:00:00") + pd.Timedelta(minutes=i)) for i in range(7)]
    rows += [(200 + i, "mixed", pd.Timestamp("2024-01-06 10:00:00") + pd.Timedelta(minutes=i)) for i in range(5)]
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "ts"])
    pdf.to_parquet(tmp_path / "events.parquet", index=False)

    out = es.events_weekday_contrast(spark, str(tmp_path)).toPandas()
    wd_only = out[out.event_type == "wd_only"]
    assert len(wd_only) == 1
    assert pd.isna(wd_only.rate_ratio_micro.iloc[0])
    mixed = out[out.event_type == "mixed"]
    # NaN is not None, so an `is not None` check would be vacuous here
    assert not pd.isna(mixed.rate_ratio_micro.iloc[0])

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'events.parquet'}')"
        )
        duck = con.execute(es.ORACLES["events_weekday_contrast"]).fetchdf()
    finally:
        con.close()
    issues = compare(es.events_weekday_contrast(spark, str(tmp_path)), duck)
    assert not issues, "; ".join(issues)
