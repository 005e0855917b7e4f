"""bench.py helper pins (no Spark session needed).

Round-8 advice: ``srt[len(srt)//2]`` is the UPPER middle for even n —
with the heavy lane's n=2 the recorded "median" was actually the max.
These tests pin the true-median definition and the sf1 conditioning
gate's arithmetic so the statistics in bench_full.json stay honest.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _median  # noqa: E402


def test_median_odd_is_middle():
    assert _median([1.0, 2.0, 9.0]) == 2.0
    assert _median([5.0]) == 5.0


def test_median_even_is_mean_of_middles():
    # the round-8 advice case: n=2 must NOT report the max
    assert _median([1.0, 9.0]) == 5.0
    assert _median([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_median_rounding():
    assert _median([0.1234, 0.1236]) == 0.123


def test_gate_budget_sane():
    """The DEFAULT re-run budget must allow at least one pass past the
    heavy lane's base n=2 and stay small — pinned on the literal
    default in the SOURCE, not the ambient environment (round-9
    advice: a legitimate SPARK_GRAFT_SF1_MAX_RUNS override outside
    [3, 9] was failing this unrelated test) and not via module reload
    (round-10 advice: reloading the shared ``bench`` module mid-suite
    leaves other tests' ``from bench import _median`` references on
    the pre-reload function objects and re-executes bench's top level
    — a latent ordering hazard). Parse the default out of the source
    expression instead."""
    import inspect
    import re

    import bench

    m = re.search(
        r"SF1_MAX_RUNS = int\(\s*os\.environ\.get\("
        r"\"SPARK_GRAFT_SF1_MAX_RUNS\", \"(\d+)\"\)\s*\)",
        inspect.getsource(bench),
    )
    assert m, "SF1_MAX_RUNS default expression changed shape"
    assert 3 <= int(m.group(1)) <= 9


def test_core_spread_can_shrink_with_more_samples():
    """The round-9 advice scenario: max-min dispersion is monotone
    nondecreasing, so an early outlier could never 'converge'; the
    best-3 spread shrinks as new samples corroborate the floor."""
    from bench import _core_spread

    early = sorted([8.0, 20.0])          # one outlier, max-min = 12
    assert _core_spread(early) == 12.0   # n<3: all samples
    later = sorted([8.0, 20.0, 8.3, 8.1])
    assert _core_spread(later) == 0.3    # three fastest corroborate
    assert later[-1] - later[0] == 12.0  # while max-min never shrank


def test_money_cents_always_integer_cast_in_oracles():
    """The cents invariant across every DuckDB oracle (round-9 review:
    hand-inlined copies invite drift): any ``round(<col> * 100)`` must
    be integer-cast BEFORE accumulation — summing the raw round()
    doubles would reintroduce the float-accumulation boundary the
    migration retired. DUCK_MONEY_SUM is the canonical full spelling;
    the salted/weighted variants share its integer-cast core."""
    import re

    from eventstream_benchmark_spark.operators import all_oracles
    from eventstream_benchmark_spark.operators._util import DUCK_MONEY_SUM

    core = "CAST(round({col} * 100) AS BIGINT)"
    assert core.format(col="value") in DUCK_MONEY_SUM.format(col="value")
    for name, sql in all_oracles().items():
        flat = " ".join(sql.split())
        for m in re.finditer(r"round\((\w+\.)?value \* 100\)", flat):
            tail = flat[m.end() : m.end() + 12]
            assert tail.startswith(" AS BIGINT)"), (
                f"{name}: round(value*100) not integer-cast before "
                f"accumulation near ...{flat[max(0, m.start()-40):m.end()+40]}..."
            )
            head = flat[max(0, m.start() - 5) : m.start()]
            assert head.endswith("CAST("), (
                f"{name}: round(value*100) missing its CAST( wrapper"
            )
