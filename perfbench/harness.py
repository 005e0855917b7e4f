"""Measurement plumbing shared by the workloads: sample statistics,
operation/failure accounting, spans and their self times, result
fingerprints, Spark status-tracker counters, the streaming progress
listener and the host/provenance block.

Nothing here imports Spark at module load; the Spark-facing helpers
take the session (or context) they work on as an argument.
"""

from __future__ import annotations

import hashlib
import math
import os
import platform
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

#: percentiles tried, highest first, by :func:`tail`
TAIL_LEVELS = (99, 95, 90, 75, 50)
#: a percentile is reported only when at least this many samples lie beyond it
TAIL_MIN_BEYOND = 10


def median(xs) -> float:
    """Median of a non-empty sample (mean of the two middle values for
    even n)."""
    xs = list(xs)
    if not xs:
        raise ValueError("median of an empty sample")
    return float(statistics.median(xs))


def tail(xs) -> tuple[int, float] | None:
    """The highest percentile in :data:`TAIL_LEVELS` that has at least
    :data:`TAIL_MIN_BEYOND` samples beyond it, as ``(level, value)``;
    ``None`` when even the median has fewer than that many beyond.

    The value is the nearest-rank percentile: the ``ceil(p/100 * n)``-th
    smallest sample, so ``n - rank`` samples lie beyond it."""
    srt = sorted(xs)
    n = len(srt)
    for level in TAIL_LEVELS:
        rank = max(1, math.ceil(level / 100 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return level, float(srt[rank - 1])
    return None


def summarize(samples, unit: str) -> dict:
    """``{unit, n, median[, pXX]}`` for a sample list."""
    out = {"unit": unit, "n": len(samples), "median": median(samples)}
    t = tail(samples)
    if t is not None:
        out[f"p{t[0]}"] = t[1]
    return out


# ---------------------------------------------------------------------------
# operations and failures
# ---------------------------------------------------------------------------


@dataclass
class OpLog:
    """Counts every operation the benchmark attempts and every one that
    raised or failed its output check; keeps each operation's latency
    by name."""

    attempted: int = 0
    failed: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)

    def run(self, name: str, fn, check=None, record: bool = True):
        """Time ``fn()``; then run ``check(output)`` outside the timing.
        ``check`` returns ``None`` when the output is right and a reason
        string otherwise. Returns ``(seconds, output)``; seconds is
        ``None`` when ``fn`` raised. With ``record`` the latency joins
        the op's samples."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # an operation failure is data, not a crash
            self.fail(name, f"raised {type(exc).__name__}: {exc}".splitlines()[0][:300])
            return None, None
        dt = time.perf_counter() - t0
        self.check(name, out, check)
        if record:
            self.samples.setdefault(name, []).append(dt)
        return dt, out

    def check(self, name: str, out, check=None) -> None:
        """Count a failure of ``name`` when ``check(out)`` gives a reason
        or raises."""
        if check is None:
            return
        try:
            reason = check(out)
        except Exception as exc:
            reason = f"check raised {type(exc).__name__}: {exc}".splitlines()[0][:300]
        if reason:
            self.fail(name, reason)

    def fail(self, name: str, reason: str) -> None:
        self.failed += 1
        self.failures.append((name, reason))

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str


class Tracer:
    """In-memory spans: name, start, end, parent span and run id. A
    disabled tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), None, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id}
            for s in self.spans
        ]


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged, and children are clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


# ---------------------------------------------------------------------------
# result fingerprints
# ---------------------------------------------------------------------------


def _canon(v) -> str:
    """One spelling per value across Spark and DuckDB result frames:
    arrays as lists, -0.0 as 0.0, NaN/None/NaT as one token."""
    if v is None:
        return "\x00"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00"
        return repr(v + 0.0)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def fingerprint(pdf) -> tuple[int, tuple[str, ...], str]:
    """Order-insensitive fingerprint of a result frame: row count,
    sorted column names, and a digest of the sorted canonical rows.
    Datetimes compare as naive-UTC microsecond strings, integers as
    int64 and floats as float64 (the oracle-parity conventions)."""
    import pandas as pd

    cols = tuple(sorted(pdf.columns))
    norm = pdf[list(cols)].copy()
    for c in cols:
        s = norm[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(s):
            norm[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            norm[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            norm[c] = s.astype("int64")
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in norm.itertuples(index=False, name=None)
    )
    digest = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return len(rows), cols, digest


def duck_fingerprints(sf_dir: str, tables, oracles: dict[str, str]) -> dict:
    """Fingerprint of each DuckDB oracle over the fixture in ``sf_dir``
    (one parquet file, or a directory of part files, per table)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for name in tables:
            path = os.path.join(sf_dir, f"{name}.parquet")
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
        return {q: fingerprint(con.execute(sql).fetchdf()) for q, sql in oracles.items()}
    finally:
        con.close()


# ---------------------------------------------------------------------------
# Spark counters (traced runs)
# ---------------------------------------------------------------------------


class JobCounter:
    """Jobs, completed tasks and failed task attempts between two
    points, read from ``SparkContext.statusTracker()``. Job ids are
    sequential per context, so the jobs of one closed-loop operation
    are exactly the ids issued while it ran."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.next_id = 0
        self.mark()

    def _drain(self) -> None:
        # job/stage records reach the status store through the async
        # listener bus; wait for it so the newest job is visible
        from py4j.protocol import Py4JError

        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JError:  # not exposed by this Spark build
            time.sleep(0.05)

    def mark(self) -> int:
        """Advance past every job issued so far; return the new next id."""
        self._drain()
        while self.tracker.getJobInfo(self.next_id) is not None:
            self.next_id += 1
        return self.next_id

    def since(self, start: int) -> dict[str, int]:
        """Counts for the jobs with ids in ``[start, mark())``."""
        end = self.mark()
        tasks = failed = 0
        for job_id in range(start, end):
            info = self.tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info is not None else ()):
                st = self.tracker.getStageInfo(stage_id)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return {"jobs": end - start, "tasks": tasks, "failed_tasks": failed}


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event's
    input rows, durations and state size in memory (defined lazily so
    importing this module does not import Spark)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.started = 0
            self.terminated = 0
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            d = dict(p.durationMs or {})
            ops = p.stateOperators or []
            self.progress.append({
                "input_rows": int(p.numInputRows),
                "add_batch_ms": int(d.get("addBatch", 0)),
                "query_planning_ms": int(d.get("queryPlanning", 0)),
                "commit_ms": int(d.get("walCommit", 0)) + int(d.get("commitOffsets", 0)),
                "state_rows": sum(int(o.numRowsTotal) for o in ops),
                "state_memory_bytes": sum(int(o.memoryUsedBytes) for o in ops),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

        def settle(self, timeout: float = 10.0) -> None:
            """Wait until every started query's termination has arrived
            (events are delivered asynchronously)."""
            deadline = time.monotonic() + timeout
            while self.terminated < self.started and time.monotonic() < deadline:
                time.sleep(0.01)

    return ProgressListener()


# ---------------------------------------------------------------------------
# host and provenance
# ---------------------------------------------------------------------------


def _git_sha(root: str) -> str | None:
    """HEAD's commit id read from ``.git`` without running git; ``None``
    outside a git checkout."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        return None
    return None


def provenance(root: str, spark=None) -> dict:
    """Host and version block recorded with every result."""
    import duckdb
    import numpy
    import pandas
    import pyarrow

    out = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "duckdb": duckdb.__version__,
        "git_sha": _git_sha(root),
        "platform": platform.platform(),
    }
    if spark is not None:
        out["spark"] = spark.version
        out["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        out["spark.driver.memory"] = spark.conf.get("spark.driver.memory", None)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from ``/proc/stat``; (0, 0)
    where it cannot be read."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float | None:
    """Share of CPU time stolen by the hypervisor between two readings."""
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else None


def jvm_peak_rss_mb() -> float:
    """VmHWM of the gateway JVM, in MiB (0 when it cannot be read)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
