"""Tests of the benchmark itself: its statistics, failure counting,
span arithmetic, fingerprints, metric catalogue, the refusal to run
without the package, and a tiny smoke of each workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]

import harness  # noqa: E402
import workloads  # noqa: E402
from harness import OpLog, Span, Tracer  # noqa: E402

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def test_median_odd_and_even():
    assert harness.median([3, 1, 2]) == 2
    assert harness.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        harness.median([])


@pytest.mark.parametrize(
    "n, want_level",
    [(5, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
     (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, want_level):
    xs = list(range(1, n + 1))
    got = harness.tail(xs)
    if want_level is None:
        assert got is None
        return
    level, value = got
    assert level == want_level
    assert sum(1 for x in xs if x > value) >= harness.TAIL_MIN_BEYOND


def test_tail_value_is_nearest_rank():
    xs = [float(x) for x in range(100, 0, -1)]  # unsorted input
    assert harness.tail(xs) == (90, 90.0)


def test_summarize_reports_n_median_and_tail_only_when_supported():
    small = harness.summarize([1.0, 2.0, 3.0], "s")
    assert small == {"unit": "s", "n": 3, "median": 2.0}
    big = harness.summarize(list(range(1, 41)), "s")
    assert big["n"] == 40 and big["p75"] == 30


# ---------------------------------------------------------------------------
# failure counting
# ---------------------------------------------------------------------------


def test_oplog_counts_raises_and_failed_checks():
    log = OpLog()

    def boom():
        raise RuntimeError("no\nsecond line")

    assert log.run("ok", lambda: 1, lambda out: None)[1] == 1
    assert log.run("raises", boom) == (None, None)
    dt, out = log.run("wrong", lambda: 2, lambda out: f"got {out}")
    assert out == 2 and dt is not None
    log.run("check_raises", lambda: 3, lambda out: 1 / 0)
    assert log.attempted == 4
    assert log.failed == 3
    assert log.failed_ratio == 0.75
    names = [n for n, _ in log.failures]
    assert names == ["raises", "wrong", "check_raises"]
    assert "second line" not in log.failures[0][1]
    # a raised op has no latency; a wrong answer keeps its latency
    assert set(log.samples) == {"ok", "wrong", "check_raises"}


def test_oplog_unrecorded_ops_still_count():
    log = OpLog()
    log.run("warm", lambda: 0, record=False)
    assert log.attempted == 1 and log.samples == {}


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, "r")


def test_self_time_subtracts_merged_children():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 3.0, 0),
        _span("b", 2.0, 5.0, 0),  # overlaps a: together they cover [1, 5]
        _span("c", 8.0, 12.0, 0),  # clipped to the parent: covers [8, 10]
        _span("d", 3.5, 4.0, 2),  # grandchild: only b loses it
    ]
    assert harness.self_times(spans) == pytest.approx([4.0, 2.0, 2.5, 4.0, 0.5])


def test_tracer_nesting_and_disabled_tracer():
    tr = Tracer(True, "run1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("second"):
            pass
    assert [(s.name, s.parent, s.run_id) for s in tr.spans] == [
        ("outer", None, "run1"), ("inner", 0, "run1"), ("second", 0, "run1"),
    ]
    assert all(s.end is not None for s in tr.spans)
    off = Tracer(False, "run2")
    with off.span("x"):
        pass
    assert off.spans == []


def test_cycle_self_times_groups_by_cycle():
    run = workloads.Run(spark=None, workdir="", seed=0, trace=True, cpus=1,
                        tracer=Tracer(True, "r"))
    run.tracer.spans = [
        _span("cycle", 0.0, 5.0),
        _span("q.a", 0.0, 2.0, 0),
        _span("q.a", 2.5, 3.0, 0),  # same name twice in a cycle: summed
        _span("cycle", 5.0, 9.0),
        _span("q.a", 5.0, 8.0, 3),
        _span("session.get_spark", 10.0, 11.0),
    ]
    per_cycle = workloads._cycle_self_times(run)
    assert per_cycle == [{"q.a": 2.5}, {"q.a": 3.0}]


# ---------------------------------------------------------------------------
# fingerprints
# ---------------------------------------------------------------------------


def test_fingerprint_ignores_row_and_column_order_and_int_width():
    import numpy as np
    import pandas as pd

    a = pd.DataFrame({"k": np.array([1, 2], dtype="int32"), "v": [0.5, -0.0]})
    b = pd.DataFrame({"v": [0.0, 0.5], "k": np.array([2, 1], dtype="int64")})
    assert harness.fingerprint(a) == harness.fingerprint(b)
    c = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    assert harness.fingerprint(a) != harness.fingerprint(c)


def test_fingerprint_arrays_and_timestamps():
    import numpy as np
    import pandas as pd

    ts = pd.to_datetime(["2024-01-01 00:00:01"])
    a = pd.DataFrame({"xs": [np.array([1, 2])], "t": ts.tz_localize("UTC")})
    b = pd.DataFrame({"xs": [[1, 2]], "t": ts})
    assert harness.fingerprint(a) == harness.fingerprint(b)


# ---------------------------------------------------------------------------
# the metric catalogue and BENCHMARK.json agree
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_the_catalogue():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to the benchmark")
    with open(path) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == workloads.per_layer_names()
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(workloads.END_TO_END)
    names = [n for n, _ in workloads.per_layer_names()]
    assert len(names) == len(set(names)) <= 128


def test_run_refuses_without_the_package(tmp_path):
    """In a directory holding only the benchmark, a run fails fast and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "fixtures"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "generate", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert not (tmp_path / ".perfbench_run").exists()


# ---------------------------------------------------------------------------
# smoke: each workload at its smallest size (sf0.001, 10k-event stream
# shards, a copies=2 flood), one measured cycle
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bench_env(tmp_path_factory):
    import run as run_mod

    saved_env, saved_cwd = dict(os.environ), os.getcwd()
    workdir = str(tmp_path_factory.mktemp("perfbench_smoke"))
    run_mod.configure_env(workdir)
    yield workdir
    run_mod.stop_spark()
    os.chdir(saved_cwd)
    os.environ.clear()
    os.environ.update(saved_env)


@pytest.mark.parametrize("name, trace", [
    ("generate", True), ("query_mix", True), ("dup_flood", False),
])
def test_workload_smoke(bench_env, name, trace):
    workdir = os.path.join(bench_env, f"{name}_{int(trace)}")
    os.makedirs(workdir)
    result = workloads.run_workload(
        name, seed=7, seconds=0, trace=trace, root=ROOT, workdir=workdir,
        scales=workloads.SMOKE_SCALES,
    )
    final = result["final"]
    assert final["failed"] == 0, result["report"]["failures"]
    assert final["correct"] is True and final["attempted"] > 0
    if trace:
        assert [(k, v["unit"]) for k, v in final["metrics"].items()] == workloads.per_layer_names()
        assert result["spans"]
        m = {k: v["value"] for k, v in final["metrics"].items()}
        assert m["trace.overhead_ratio"] > 0
        assert m["session.get_spark_s"] > 0
        if name == "generate":
            assert m["spark_gen.iter.jobs"] >= 1 and m["core.build_stream_ev_per_s"] > 0
        else:
            assert m["streaming.input_rows"] > 0 and m["sf_scale_up.build_s"] > 0
            assert all(m[f"cache.{f}_build_s"] != 0 for f in workloads.CACHE_FAMILIES)
            assert m["q.agg_groupby_q1.jobs"] >= 1
            # every operator module is measured
            assert all(m[f"operators.{mod}_s"] > 0 for mod in workloads.OPERATOR_MODULES)
    else:
        assert set(final["metrics"]) == set(workloads.END_TO_END)
        assert all(v["value"] > 0 for v in final["metrics"].values())
    report = result["report"]
    assert report["metrics"]["failed_ops_ratio"]["median"] == 0.0
    assert report["provenance"]["nproc"] >= 1
