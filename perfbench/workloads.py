"""The benchmark's three workloads and the closed loop that runs them.

Every workload is one client in one process against Spark
``local[SPARK_GRAFT_CPUS]``; each call waits for the previous one.

- ``generate``: Layer A alone — sharded, pure-DataFrame and exact
  generation, the CSV sink, the parquet cache and the ``stream_iter``
  online loop, with pattern and stream seeds derived from ``--seed``.
- ``query_mix``: light and streaming queries over the sf0.01 fixture,
  in rounds that each start with every family-shared persist released.
- ``dup_flood``: heavy dedup, text and graph queries over a 10-way
  exact-duplicate flood built by ``sf_scale_up`` from the sf0.001
  fixture (runnable, but not in ``BENCHMARK.json``: see README.md).

A run: session start, input staging and :data:`WARMUP_CYCLES` untimed
warm-up cycles (together ``setup_s``); then cycles through the
workload's operations until ``seconds`` have passed (at least
:data:`MIN_CYCLES` full cycles), checking every output. Oracle fingerprints and other reference outputs are computed
outside the set-up clock. With tracing on, the run first times one
untraced cycle, then traced cycles with spans, Spark job/task counts,
the streaming progress listener and the per-layer probes.
"""

from __future__ import annotations

import dataclasses
import glob
import math
import os
import shutil
import time
import uuid
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

import harness
from harness import OpLog, Tracer, median

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")

# ---------------------------------------------------------------------------
# workload definitions
# ---------------------------------------------------------------------------

#: query_mix: sub-second operators whose cost is per-action overhead,
#: at least one from every operator module, plus two streaming queries.
MIX_QUERIES = (
    "agg_groupby_q1",
    "join_asof",
    "dedup_exact",
    "stream_sessionize",
    "knn_bruteforce_topk",
    "funnel_conversion",
    "dedup_exact_text",
    "text_tfidf_topterms",
    "copurchase_part_pairs",
    "corpus_mix_rebalance",
    "streaming_replay_tumbling",
    "streaming_pattern_state",
)

#: dup_flood: algorithms whose work depends on how much the inputs share.
FLOOD_QUERIES = (
    "dedup_minhash_lsh",
    "corpus_bpe_merge_loop",
    "graph_triangle_count",
)

STREAMING_QUERIES = frozenset(
    {"streaming_replay_tumbling", "streaming_session_window", "streaming_pattern_state"}
)

#: family-shared artifact -> (emitter query, family tags it releases)
CACHE_FAMILIES = {
    "minhash_pairs": ("dedup_minhash_lsh", ("minhash_pairs", "minhash_rep_pairs", "minhash_membership")),
    "emb_cosine_pairs": ("dedup_embedding_cosine", ("emb_cosine_pairs",)),
    "cc_labels": ("dedup_cluster_cc", ("cc_labels",)),
    "bpe_merges": ("corpus_bpe_merge_loop", ("bpe_merges", "bpe_hist")),
}

#: fixture tables timed by the io scan probes
SCAN_TABLES = ("events", "documents", "embeddings", "lineitem")

#: operator modules reported per layer (``operators.<module>``)
OPERATOR_MODULES = (
    "relational", "eventstream", "dedup", "similarity", "text",
    "funnel", "graph", "pipeline",
)

#: end-to-end metrics of an untraced run, the same for every workload
END_TO_END = ("setup_s", "round_s", "op_geomean_s")

#: JIT compilation and caches keep settling through the first cycle
#: after the cold one: measured cycles run only after both
WARMUP_CYCLES = 2
#: every operation gets at least this many samples per run, also when
#: a slow host stretches its cycles past ``--seconds``
MIN_CYCLES = 2

STREAMING_FIELDS = (
    "batches", "input_rows", "add_batch_ms", "query_planning_ms",
    "commit_ms", "state_rows", "state_memory_bytes",
)


@dataclass(frozen=True)
class GenerateScale:
    """Event counts per generate operation. The exact path and the
    ``stream_iter`` loop run the canonical ``GOLDEN_STREAM`` size (the
    40,000-event stream of ``main.py``). With 8 shards (4 cores) every
    shard's size is a multiple of 10, so its pattern share is exactly
    0.3; the checks derive each shard's expected count from its size, so
    they hold for any core count."""

    sharded: int = 1_000_000
    pure: int = 200_000
    exact: int = 40_000
    csv: int = 50_000
    parquet: int = 100_000
    iter: int = 40_000


@dataclass(frozen=True)
class QueryScale:
    fixture: str
    flood_copies: int | None
    queries: tuple[str, ...]
    #: traced runs also time one ``sf_scale_up`` build of the sf0.001
    #: fixture with this many copies (the layer's probe when the
    #: workload does not query a flood)
    probe_flood_copies: int | None = None


SCALES = {
    "generate": GenerateScale(),
    "query_mix": QueryScale("sf0.01", None, MIX_QUERIES, probe_flood_copies=10),
    "dup_flood": QueryScale("sf0.001", 10, FLOOD_QUERIES),
}

#: the small configuration the benchmark's own smoke tests run
SMOKE_SCALES = {
    "generate": GenerateScale(
        sharded=10_000 * 8, pure=10_000 * 8, exact=10_000, csv=10_000 * 8,
        parquet=10_000 * 8, iter=10_000 * 8,
    ),
    "query_mix": QueryScale("sf0.001", None, MIX_QUERIES, probe_flood_copies=2),
    "dup_flood": QueryScale("sf0.001", 2, FLOOD_QUERIES),
}


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------


@dataclass
class Op:
    name: str  # key of the op's latency samples
    span: str  # span / per-layer name
    fn: object
    check: object = None
    streaming: bool = False


@dataclass
class Run:
    """State of one benchmark run, passed to every workload hook."""

    spark: object
    workdir: str
    seed: int
    trace: bool
    cpus: int
    tracer: Tracer
    ops: OpLog = field(default_factory=OpLog)
    jobs: object = None  # harness.JobCounter in traced runs
    listener: object = None  # streaming progress listener in traced runs
    counts: dict[str, list[dict]] = field(default_factory=dict)
    layer: dict[str, list[float]] = field(default_factory=dict)
    tracing: bool = False  # the current cycle is traced

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(float(value))

    def call(self, op: Op, record: bool = True, traced: bool = False, name: str | None = None):
        """Run one operation; in a traced cycle wrap it in a span, label
        its jobs with a job group and count them afterwards. The output
        check runs outside the span."""
        name = name or op.name
        if not traced:
            return self.ops.run(name, op.fn, op.check, record=record)
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        start = self.jobs.mark()
        with self.tracer.span(op.span):
            dt, out = self.ops.run(name, op.fn, record=record)
        sc.setJobGroup("perfbench", "perfbench")
        if dt is not None:
            self.ops.check(name, out, op.check)
        if op.streaming and self.listener is not None:
            self.listener.settle()
        self.counts.setdefault(name, []).append(self.jobs.since(start))
        return dt, out


def _cycle(run: Run, wl, ops: list[Op], deadline: float | None, traced: bool,
           record: bool = True, times: dict | None = None) -> tuple[float, bool]:
    """One pass over ``ops`` (stops early once ``deadline`` passes);
    ``times`` collects each op's seconds. Returns the wall without the
    traced probes, and whether the pass completed."""
    t0 = time.perf_counter()
    run.tracing = traced
    with run.tracer.span("cycle") if traced else nullcontext():
        wl.cycle_start(run)
        for op in ops:
            if deadline is not None and time.perf_counter() >= deadline:
                return time.perf_counter() - t0, False
            dt, _ = run.call(op, record=record, traced=traced)
            if times is not None:
                times[op.name] = dt
            wl.after_op(run, op, record)
        wall = time.perf_counter() - t0
        if traced:
            wl.probes(run)
    return wall, True


def measure(run: Run, wl, ops: list[Op], seconds: float, traced: bool) -> list[float]:
    """Cycle through ``ops`` until ``seconds`` have passed; the first
    :data:`MIN_CYCLES` cycles always complete. Returns the walls of the
    completed cycles (probe time excluded)."""
    t0 = time.perf_counter()
    walls = [_cycle(run, wl, ops, None, traced)[0] for _ in range(MIN_CYCLES)]
    while time.perf_counter() - t0 < seconds:
        wall, done = _cycle(run, wl, ops, t0 + seconds, traced)
        if done:
            walls.append(wall)
    return walls


# ---------------------------------------------------------------------------
# generate
# ---------------------------------------------------------------------------


def _expected_pattern_events(total: int, n_shards: int, ratio: float) -> int:
    from eventstream_benchmark_spark.generator import core

    return sum(n - int(round(n * ratio)) for n in core.shard_sizes(total, n_shards))


class Generate:
    name = "generate"

    def __init__(self, scale: GenerateScale):
        self.scale = scale

    def stage(self, run: Run) -> float:
        from eventstream_benchmark_spark.generator.queries import (
            GOLDEN_PATTERNS, GOLDEN_STREAM, PUREDF_STREAM,
        )

        t0 = time.perf_counter()
        rng = np.random.default_rng(run.seed)
        p_seed, s_seed = (int(x) for x in rng.integers(1, 2**31 - 1, size=2))
        self.pcfg = dataclasses.replace(GOLDEN_PATTERNS, seed=p_seed)
        self.golden = dataclasses.replace(GOLDEN_STREAM, seed=s_seed)
        self.pure = dataclasses.replace(PUREDF_STREAM, seed=s_seed)
        self.shards = 2 * run.cpus
        self.out = os.path.join(run.workdir, "generate")
        os.makedirs(self.out, exist_ok=True)
        self.state: dict = {}
        return time.perf_counter() - t0

    def _cfg(self, base, n: int):
        return dataclasses.replace(base, total_events=n)

    def prepare_checks(self, run: Run) -> None:
        """Reference outputs for the checks (outside the set-up clock)."""
        from pyspark.sql import functions as F

        from eventstream_benchmark_spark.generator import spark_gen

        s = self.scale
        ratio = self.golden.random_ratio
        self.want_pattern_exact = s.exact - int(round(s.exact * ratio))
        self.want_pattern_parquet = _expected_pattern_events(s.parquet, self.shards, ratio)
        # the iterator must yield exactly the (shard, event_id)-ordered
        # rows of the same stream, collected through a different path
        self.iter_ref = spark_gen.to_numpy(
            spark_gen.stream_df_sharded(
                run.spark, self.pcfg, self._cfg(self.golden, s.iter), self.shards
            )
        )
        pure = spark_gen.stream_df_pure(
            run.spark, self.pcfg, self._cfg(self.pure, s.pure), self.shards
        )
        want = (s.pure, _expected_pattern_events(s.pure, self.shards, ratio))
        run.ops.run(
            "check.pure_pattern_share",
            lambda: tuple(pure.agg(F.count("*"), F.sum(F.col("is_pattern").cast("long"))).first()),
            lambda got: None if got == want else f"(events, pattern events) {got} != {want}",
            record=False,
        )

    def ops(self, run: Run) -> list[Op]:
        from eventstream_benchmark_spark.generator import compat, spark_gen

        s, spark, st = self.scale, run.spark, self.state
        cfg = self._cfg
        csv_dir = os.path.join(self.out, "csv")
        pq_dir = os.path.join(self.out, "parquet_cache")

        def want(n):
            return lambda got: None if got == n else f"count {got} != {n}"

        def exact():
            pset = compat.generate_patterns(**dataclasses.asdict(self.pcfg))
            es = compat.EventStream(pset, **dataclasses.asdict(cfg(self.golden, s.exact)))
            return es.to_numpy()

        def check_exact(arr):
            if arr.shape != (s.exact, 3):
                return f"shape {arr.shape}"
            if int(arr[:, 2].sum()) != self.want_pattern_exact:
                return f"pattern events {int(arr[:, 2].sum())} != {self.want_pattern_exact}"
            if (np.diff(arr[:, 0]) < 0).any():
                return "timestamps decrease"
            return None

        def csv():
            spark_gen.write_csv(
                spark_gen.stream_df_sharded(spark, self.pcfg, cfg(self.golden, s.csv), self.shards),
                csv_dir,
            )

        def check_csv(_):
            parts = glob.glob(os.path.join(csv_dir, "part-*.csv"))
            if len(parts) != 1:
                return f"{len(parts)} part files"
            st["csv_bytes"] = os.path.getsize(parts[0])
            with open(parts[0], "rb") as f:
                header = f.readline().rstrip(b"\n")
                lines = sum(1 for _ in f)
            if header != b"timestamp,event_type,is_pattern":
                return f"header {header!r}"
            return None if lines == s.csv else f"{lines} data lines != {s.csv}"

        def parquet_write():
            st["pq_df"] = spark_gen.stream_df_cached(
                spark, self.pcfg, cfg(self.golden, s.parquet), pq_dir,
                mode="sharded", n_shards=self.shards, regenerate=True,
            )

        def check_parquet(_):
            import pyarrow.dataset as ds

            files = glob.glob(os.path.join(pq_dir, "*.parquet", "*.parquet"))
            t = ds.dataset(files, format="parquet").to_table(
                columns=["shard", "event_id", "ts", "is_pattern"]).to_pandas()
            if len(t) != s.parquet:
                return f"{len(t)} rows != {s.parquet}"
            if int(t["is_pattern"].sum()) != self.want_pattern_parquet:
                return f"pattern events {int(t['is_pattern'].sum())} != {self.want_pattern_parquet}"
            t = t.sort_values(["shard", "event_id"])
            same = t["shard"].to_numpy()[1:] == t["shard"].to_numpy()[:-1]
            if (np.diff(t["ts"].to_numpy())[same] < 0).any():
                return "ts decreases within a shard"
            return None

        def iterate():
            df = spark_gen.stream_df_sharded(spark, self.pcfg, cfg(self.golden, s.iter), self.shards)
            buf = []
            t0 = time.perf_counter()
            it = spark_gen.stream_iter(df)
            first = None
            if run.tracing:
                wait = consume = 0.0
                while True:
                    a = time.perf_counter()
                    try:
                        ev = next(it)
                    except StopIteration:
                        wait += time.perf_counter() - a
                        break
                    b = time.perf_counter()
                    wait += b - a
                    if first is None:
                        first = b - t0
                    buf.append(ev)
                    consume += time.perf_counter() - b
                st["iter_wait_s"], st["iter_consume_s"] = wait, consume
            else:
                for ev in it:
                    if first is None:
                        first = time.perf_counter() - t0
                    buf.append(ev)
            st["iter_first_s"] = first
            return buf

        def check_iter(buf):
            if len(buf) != s.iter:
                return f"{len(buf)} events != {s.iter}"
            got = np.array(buf, dtype=np.int64)
            if not np.array_equal(got, self.iter_ref):
                return "iterator order or values differ from the (shard, event_id) order"
            return None

        return [
            Op("gen.sharded", "spark_gen.sharded_count",
               lambda: spark_gen.stream_df_sharded(
                   spark, self.pcfg, cfg(self.golden, s.sharded), self.shards).count(),
               want(s.sharded)),
            Op("gen.pure", "spark_gen.pure_count",
               lambda: spark_gen.stream_df_pure(
                   spark, self.pcfg, cfg(self.pure, s.pure), self.shards).count(),
               want(s.pure)),
            Op("gen.exact", "compat.exact_to_numpy", exact, check_exact),
            Op("gen.csv", "spark_gen.csv_write", csv, check_csv),
            Op("gen.parquet_write", "spark_gen.parquet_write", parquet_write, check_parquet),
            Op("gen.parquet_read", "spark_gen.parquet_read",
               lambda: st["pq_df"].count(), want(s.parquet)),
            Op("gen.iter", "spark_gen.iter", iterate, check_iter),
        ]

    def cycle_start(self, run: Run) -> None:
        pass

    def traced_once(self, run: Run) -> None:
        pass

    def after_op(self, run: Run, op: Op, record: bool) -> None:
        """Keep the side measurements of a recorded (measured) op."""
        st = self.state
        if not record:
            return
        if op.name == "gen.iter" and st.get("iter_first_s") is not None:
            if run.tracing:
                run.note("spark_gen.iter_wait_s", st["iter_wait_s"])
                run.note("spark_gen.iter_consume_s", st["iter_consume_s"])
            else:
                run.note("iter_first_s", st["iter_first_s"])
        if op.name == "gen.csv" and run.tracing and "csv_bytes" in st:
            run.note("spark_gen.csv_bytes", st["csv_bytes"])

    def probes(self, run: Run) -> None:
        """Driver-side kernels of ``generator.core``, timed directly."""
        from eventstream_benchmark_spark.generator import core

        s = self.scale
        with run.tracer.span("core.build_patterns"):
            t0 = time.perf_counter()
            types, gaps = core.build_patterns(self.pcfg)
            run.note("core.build_patterns_s", time.perf_counter() - t0)
        share = self._cfg(self.golden, s.sharded // self.shards)
        with run.tracer.span("core.build_stream_fast"):
            t0 = time.perf_counter()
            core.build_stream_fast(share, types, gaps, rng=core.shard_rng(share.seed, 0))
            run.note("core.build_stream_fast_ev_per_s",
                     share.total_events / (time.perf_counter() - t0))
        with run.tracer.span("core.build_stream"):
            t0 = time.perf_counter()
            core.build_stream(self._cfg(self.golden, s.exact), types, gaps)
            run.note("core.build_stream_ev_per_s", s.exact / (time.perf_counter() - t0))

    def report(self, run: Run, samples: dict[str, list[float]]) -> dict:
        s = self.scale

        def rate(op, n, unit="ev/s"):
            return harness.summarize([n / t for t in samples.get(op, [])], unit) if samples.get(op) else None

        out = {
            "gen_sharded_ev_per_s": rate("gen.sharded", s.sharded),
            "gen_pure_ev_per_s": rate("gen.pure", s.pure),
            "gen_exact_ev_per_s": rate("gen.exact", s.exact),
            "csv_rows_per_s": rate("gen.csv", s.csv, "rows/s"),
            "iter_ev_per_s": rate("gen.iter", s.iter),
            "iter_first_event_s": harness.summarize(run.layer.get("iter_first_s", []), "s")
            if run.layer.get("iter_first_s") else None,
        }
        return {k: v for k, v in out.items() if v is not None}

    def layer_metrics(self, run: Run, span_median) -> dict:
        s = self.scale
        m = {}

        def med(key, src):
            return median(src[key]) if src.get(key) else 0.0

        for span in ("sharded_count", "pure_count", "csv_write", "parquet_write", "parquet_read"):
            m[f"spark_gen.{span}_s"] = span_median(f"spark_gen.{span}")
        for key in ("spark_gen.csv_bytes", "spark_gen.iter_wait_s", "spark_gen.iter_consume_s",
                    "core.build_patterns_s", "core.build_stream_fast_ev_per_s",
                    "core.build_stream_ev_per_s"):
            m[key] = med(key, run.layer)
        m["spark_gen.pure.tasks"] = _median_count(run, "gen.pure", "tasks")
        m["spark_gen.iter.jobs"] = _median_count(run, "gen.iter", "jobs")
        kernel = m["core.build_stream_fast_ev_per_s"]
        wall = m["spark_gen.sharded_count_s"]
        m["spark_gen.sharded_kernel_share"] = (
            s.sharded / (run.cpus * kernel) / wall if kernel and wall else 0.0
        )
        return m


def _median_count(run: Run, op: str, key: str) -> float:
    vals = [c[key] for c in run.counts.get(op, [])]
    return median(vals) if vals else 0.0


# ---------------------------------------------------------------------------
# query_mix / dup_flood
# ---------------------------------------------------------------------------


def query_modules() -> dict[str, str]:
    """Query name -> the layer that implements it (``operators.<module>``,
    ``streaming`` or ``generator``)."""
    from eventstream_benchmark_spark.generator import queries as gen_queries
    from eventstream_benchmark_spark.operators import (
        dedup, eventstream, funnel, graph, multimodal, pipeline, relational,
        similarity, text,
    )
    from eventstream_benchmark_spark.streaming import queries as streaming_queries

    out = {}
    for mod in (relational, eventstream, funnel, graph, dedup, similarity, text,
                multimodal, pipeline):
        short = mod.__name__.rsplit(".", 1)[1]
        out.update({q: f"operators.{short}" for q in mod.QUERIES})
    out.update({q: "streaming" for q in streaming_queries.QUERIES})
    out.update({q: "generator" for q in gen_queries.QUERIES})
    return out


def _count_event_rows(sf_dir: str) -> int:
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    return sum(pq.read_metadata(f).num_rows for f in files)


class Queries:
    def __init__(self, name: str, scale: QueryScale):
        self.name = name
        self.scale = scale

    def stage(self, run: Run) -> float:
        """Copy the fixture into the run's directory and, for the flood,
        build the N-way duplicate with ``sf_scale_up``."""
        from eventstream_benchmark_spark.io import TABLES

        dst = os.path.join(run.workdir, self.name, "stage", self.scale.fixture)
        t0 = time.perf_counter()
        shutil.copytree(os.path.join(FIXTURES, self.scale.fixture), dst)
        self.sf_dir = dst
        staged = time.perf_counter() - t0
        if self.scale.flood_copies:
            self.sf_dir, build = self._flood(run, dst, self.scale.flood_copies, "flood")
            staged += build
        self.tables = TABLES
        return staged

    def _flood(self, run: Run, src: str, copies: int, tag: str) -> tuple[str, float]:
        """Build an N-way duplicate of ``src`` with ``sf_scale_up``."""
        from sf_scale_up import ensure_scaled_dir

        with run.tracer.span("sf_scale_up.build"):
            t0 = time.perf_counter()
            out = ensure_scaled_dir(run.spark, src=src, copies=copies,
                                    out_root=os.path.join(run.workdir, self.name, tag))
            build = time.perf_counter() - t0
        run.note("sf_scale_up.build_s", build)
        return out, build

    def traced_once(self, run: Run) -> None:
        """Layer probes run once per traced run, after the traced cycles:
        each probed family's build (the emitter with its family released,
        minus the same emitter riding the share) and the flood build."""
        from eventstream_benchmark_spark.operators._cache import (
            release_scoped_persists, release_shared_families,
        )

        for family, (emitter, tags) in CACHE_FAMILIES.items():
            op = self._op(run, emitter)
            release_shared_families(tags)
            cold, _ = run.call(dataclasses.replace(op, span=f"cache.{family}.emit"),
                               record=False, traced=True, name=f"cache.{family}.emit")
            release_scoped_persists()
            warm, _ = run.call(dataclasses.replace(op, span=f"cache.{family}.ride"),
                               record=False, traced=True, name=f"cache.{family}.ride")
            release_scoped_persists()
            if cold is not None and warm is not None:
                run.note(f"cache.{family}_build_s", cold - warm)
        if self.scale.probe_flood_copies:
            src = os.path.join(run.workdir, self.name, "probe_src", "sf0.001")
            shutil.copytree(os.path.join(FIXTURES, "sf0.001"), src)
            self._flood(run, src, self.scale.probe_flood_copies, "probe_flood")

    def prepare_checks(self, run: Run) -> None:
        from eventstream_benchmark_spark.operators import all_oracles

        oracles = all_oracles()
        checked = list(self.scale.queries)
        if run.trace:
            checked += [emitter for emitter, _ in CACHE_FAMILIES.values()]
        self.expected = harness.duck_fingerprints(
            self.sf_dir, self.tables, {q: oracles[q] for q in checked if q in oracles}
        )
        self.event_rows = _count_event_rows(self.sf_dir)
        self.modules = query_modules()

    def ops(self, run: Run) -> list[Op]:
        from eventstream_benchmark_spark.operators import all_queries

        registry = all_queries()
        order = list(self.scale.queries)
        np.random.default_rng(run.seed).shuffle(order)
        self.registry = registry
        return [self._op(run, q) for q in order]

    def _op(self, run: Run, q: str) -> Op:
        fn = self.registry[q]
        spark, sf = run.spark, self.sf_dir
        return Op(q, f"q.{q}", lambda: fn(spark, sf).toPandas(),
                  lambda pdf: self._check(q, pdf), q in STREAMING_QUERIES)

    def _check(self, q: str, pdf) -> str | None:
        """Order-insensitive fingerprint against the DuckDB oracle; a
        query without an oracle must return rows."""
        want = self.expected.get(q)
        if want is None:
            return None if len(pdf) > 0 else "empty result"
        got = harness.fingerprint(pdf)
        if got == want:
            return None
        return f"fingerprint {got[0]} rows {got[2][:12]} != oracle {want[0]} rows {want[2][:12]}"

    def cycle_start(self, run: Run) -> None:
        from eventstream_benchmark_spark.operators._cache import release_shared_persists

        release_shared_persists()

    def after_op(self, run: Run, op: Op, record: bool) -> None:
        from eventstream_benchmark_spark.operators._cache import release_scoped_persists

        release_scoped_persists()

    def probes(self, run: Run) -> None:
        """The io scan floor, timed in every traced cycle."""
        from eventstream_benchmark_spark.io import load_table

        for t in SCAN_TABLES:
            op = Op(f"io.scan_{t}", f"io.scan_{t}",
                    lambda t=t: load_table(run.spark, self.sf_dir, t).count())
            dt, _ = run.call(op, record=False, traced=True)
            if dt is not None:
                run.note(f"io.scan_{t}_s", dt)

    def report(self, run: Run, samples: dict[str, list[float]]) -> dict:
        pooled = [t for q in self.scale.queries for t in samples.get(q, [])]
        round_s = sum(median(samples[q]) for q in self.scale.queries if samples.get(q))
        out = {}
        key = "mix_round_s" if self.name == "query_mix" else "flood_round_s"
        out[key] = {"unit": "s", "n": min(len(samples.get(q, [])) for q in self.scale.queries),
                    "median": round_s}
        if pooled:
            out["query_p50_s"] = harness.summarize(pooled, "s")
        streams = [q for q in self.scale.queries if q in STREAMING_QUERIES and samples.get(q)]
        if streams:
            wall = sum(median(samples[q]) for q in streams)
            out["stream_ev_per_s"] = {
                "unit": "ev/s", "n": min(len(samples[q]) for q in streams),
                "median": self.event_rows * len(streams) / wall,
            }
        return out

    def layer_metrics(self, run: Run, span_median) -> dict:
        m = {}
        for key in [f"io.scan_{t}_s" for t in SCAN_TABLES] + [
            f"cache.{f}_build_s" for f in CACHE_FAMILIES
        ] + ["sf_scale_up.build_s"]:
            m[key] = median(run.layer[key]) if run.layer.get(key) else 0.0
        return m


# ---------------------------------------------------------------------------
# per-layer metric catalogue
# ---------------------------------------------------------------------------

def per_layer_names(extra_queries=()) -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order: the
    ``q.*`` metrics cover ``query_mix`` and ``extra_queries`` (a
    ``dup_flood`` run adds its own). A traced run reports all of them; a
    layer the workload does not touch reads 0."""
    names = [
        ("session.get_spark_s", "s"),
        ("session.jvm_peak_rss_mb", "MiB"),
        ("setup.staging_s", "s"),
        ("setup.warmup_s", "s"),
        ("sf_scale_up.build_s", "s"),
    ]
    names += [(f"io.scan_{t}_s", "s") for t in SCAN_TABLES]
    names += [
        ("core.build_patterns_s", "s"),
        ("core.build_stream_fast_ev_per_s", "ev/s"),
        ("core.build_stream_ev_per_s", "ev/s"),
        ("spark_gen.sharded_count_s", "s"),
        ("spark_gen.sharded_kernel_share", "ratio"),
        ("spark_gen.pure_count_s", "s"),
        ("spark_gen.pure.tasks", "count"),
        ("spark_gen.csv_write_s", "s"),
        ("spark_gen.csv_bytes", "bytes"),
        ("spark_gen.parquet_write_s", "s"),
        ("spark_gen.parquet_read_s", "s"),
        ("spark_gen.iter_wait_s", "s"),
        ("spark_gen.iter_consume_s", "s"),
        ("spark_gen.iter.jobs", "count"),
    ]
    for q in dict.fromkeys(MIX_QUERIES + tuple(extra_queries)):
        names += [(f"q.{q}_s", "s"), (f"q.{q}.jobs", "count")]
    for mod in OPERATOR_MODULES:
        names += [(f"operators.{mod}_s", "s"), (f"operators.{mod}.tasks", "count")]
    names += [(f"cache.{f}_build_s", "s") for f in CACHE_FAMILIES]
    names += [
        (f"streaming.{k}", "ms" if k.endswith("_ms") else ("bytes" if k.endswith("bytes") else "count"))
        for k in STREAMING_FIELDS
    ]
    names += [("spark.failed_tasks", "count"), ("trace.overhead_ratio", "ratio")]
    return names


def _cycle_self_times(run: Run) -> list[dict[str, float]]:
    """Self time per span name within each traced cycle."""
    spans = run.tracer.spans
    selfs = harness.self_times(spans)
    cycles: dict[int, dict[str, float]] = {}

    def cycle_of(i):
        while i is not None and spans[i].name != "cycle":
            i = spans[i].parent
        return i

    for i, (s, t) in enumerate(zip(spans, selfs)):
        c = cycle_of(i)
        if c is None or c == i:
            continue
        d = cycles.setdefault(c, {})
        d[s.name] = d.get(s.name, 0.0) + t
    return [cycles[k] for k in sorted(cycles)]


def _traced_queries(wl) -> tuple[str, ...]:
    return wl.scale.queries if isinstance(wl, Queries) else ()


def streaming_runs(run: Run) -> int:
    """Streaming queries executed in traced cycles."""
    return sum(len(run.counts.get(q, ())) for q in STREAMING_QUERIES)


def traced_metrics(run: Run, wl, per_cycle: list[dict[str, float]],
                   untraced_wall: float, traced_walls: list[float]) -> dict[str, float]:
    """Every per-layer metric from the traced cycles' spans and counters."""
    m = {name: 0.0 for name, _ in per_layer_names(_traced_queries(wl))}
    m["session.get_spark_s"] = run.layer["session.get_spark_s"][0]
    m["session.jvm_peak_rss_mb"] = harness.jvm_peak_rss_mb()
    m["setup.staging_s"] = run.layer["setup.staging_s"][0]
    m["setup.warmup_s"] = run.layer["setup.warmup_s"][0]

    def span_median(name):
        vals = [c[name] for c in per_cycle if name in c]
        return median(vals) if vals else 0.0

    if isinstance(wl, Queries):
        mods = wl.modules
        for q in wl.scale.queries:
            m[f"q.{q}_s"] = span_median(f"q.{q}")
            m[f"q.{q}.jobs"] = _median_count(run, q, "jobs")
        for mod in OPERATOR_MODULES:
            qs = [q for q in wl.scale.queries if mods.get(q) == f"operators.{mod}"]
            if qs:
                m[f"operators.{mod}_s"] = sum(m[f"q.{q}_s"] for q in qs)
                m[f"operators.{mod}.tasks"] = sum(_median_count(run, q, "tasks") for q in qs)
        if run.listener is not None and run.listener.progress:
            # per streaming-query run: partial cycles also run some of them
            n_runs = max(1, streaming_runs(run))
            prog = run.listener.progress
            m["streaming.batches"] = len(prog) / n_runs
            for k in ("input_rows", "add_batch_ms", "query_planning_ms", "commit_ms"):
                m[f"streaming.{k}"] = sum(p[k] for p in prog) / n_runs
            m["streaming.state_rows"] = max(p["state_rows"] for p in prog)
            m["streaming.state_memory_bytes"] = max(p["state_memory_bytes"] for p in prog)
    m.update(wl.layer_metrics(run, span_median))
    m["spark.failed_tasks"] = sum(c["failed_tasks"] for cs in run.counts.values() for c in cs)
    m["trace.overhead_ratio"] = median(traced_walls) / untraced_wall if untraced_wall else 0.0
    return m


WORKLOADS = {
    "generate": lambda scale: Generate(scale),
    "query_mix": lambda scale: Queries("query_mix", scale),
    "dup_flood": lambda scale: Queries("dup_flood", scale),
}


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def run_workload(name: str, *, seed: int, seconds: float, trace: bool, root: str,
                 workdir: str, scales: dict | None = None) -> dict:
    """Run one workload; return the result dict printed by ``run.py``."""
    scale = (scales or SCALES)[name]
    wl = WORKLOADS[name](scale)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = Tracer(trace, uuid.uuid4().hex[:12])
    load_start = os.getloadavg()

    t_setup = time.perf_counter()
    from eventstream_benchmark_spark.session import get_spark

    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
    run = Run(spark=spark, workdir=workdir, seed=seed, trace=trace, cpus=cpus, tracer=tracer)
    run.note("session.get_spark_s", session_s)
    with tracer.span("setup.staging"):
        staging_s = wl.stage(run)
    run.note("setup.staging_s", staging_s)

    # the warm-up cycles are unchecked; reference outputs and oracle
    # fingerprints are computed after them, outside the set-up clock
    ops = wl.ops(run)
    unchecked = [dataclasses.replace(op, check=None) for op in ops]
    warm_times: dict[str, float] = {}  # the cold cycle's op times
    with tracer.span("setup.warmup"):
        t0 = time.perf_counter()
        for i in range(WARMUP_CYCLES):
            _cycle(run, wl, unchecked, None, traced=False, record=False,
                   times=warm_times if i == 0 else None)
        warmup_s = time.perf_counter() - t0
    run.note("setup.warmup_s", warmup_s)
    setup_s = time.perf_counter() - t_setup

    t_checks = time.perf_counter()
    wl.prepare_checks(run)
    checks_s = time.perf_counter() - t_checks
    harness.log(f"{name}: session {session_s:.2f} s, staging {staging_s:.2f} s, "
                f"checks {checks_s:.2f} s, warm-up {warmup_s:.2f} s")

    ticks_start = harness.cpu_ticks()
    if not trace:
        walls = measure(run, wl, ops, seconds, traced=False)
        samples = run.ops.samples
        medians = {op.name: median(samples[op.name]) for op in ops if samples.get(op.name)}
        geomean = math.exp(sum(math.log(v) for v in medians.values()) / len(medians))
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "round_s": {"value": sum(medians.values()), "unit": "s"},
            "op_geomean_s": {"value": geomean, "unit": "s"},
        }
        named = wl.report(run, samples)
        named["setup_s"] = {"unit": "s", "n": 1, "median": setup_s}
        named["round_s"] = {"unit": "s", "n": len(walls), "median": sum(medians.values())}
        named["op_geomean_s"] = {"unit": "s", "n": len(medians), "median": geomean}
        named.update({f"op.{k}_s": harness.summarize(samples[k], "s") for k in medians})
        spans = []
    else:
        # one untraced cycle for the overhead base, then traced cycles
        untraced_wall, _ = _cycle(run, wl, ops, None, traced=False, record=False)
        run.jobs = harness.JobCounter(spark.sparkContext)
        if isinstance(wl, Queries):
            run.listener = harness.make_progress_listener()
            spark.streams.addListener(run.listener)
        walls = measure(run, wl, ops, max(0.0, seconds - untraced_wall), traced=True)
        wl.traced_once(run)
        if run.listener is not None:
            spark.streams.removeListener(run.listener)
        per_cycle = _cycle_self_times(run)
        metrics_raw = traced_metrics(run, wl, per_cycle, untraced_wall, walls)
        units = dict(per_layer_names(_traced_queries(wl)))
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in metrics_raw.items()}
        named = {}
        spans = tracer.dump()
        if isinstance(wl, Queries) and run.listener is not None and run.listener.progress:
            # every streaming-query run must have replayed every event once
            want = wl.event_rows * streaming_runs(run)
            got = sum(p["input_rows"] for p in run.listener.progress)
            run.ops.run("check.streaming_input_rows", lambda: got,
                        lambda got: None if got == want else f"{got} != {want}", record=False)

    harness.log(f"{name}: measured {len(walls)} full cycles, walls {[round(w, 2) for w in walls]}")
    load_end = os.getloadavg()
    named["failed_ops_ratio"] = {"unit": "ratio", "n": run.ops.attempted,
                                 "median": run.ops.failed_ratio}
    prov = harness.provenance(root, spark)
    prov["loadavg_start"], prov["loadavg_end"] = load_start, load_end
    prov["cpu_steal_share"] = harness.steal_share(ticks_start, harness.cpu_ticks())
    return {
        "final": {
            "correct": run.ops.failed == 0,
            "attempted": run.ops.attempted,
            "failed": run.ops.failed,
            "metrics": metrics,
        },
        "report": {
            "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
            "provenance": prov, "metrics": named,
            "failures": run.ops.failures[:20],
            "warmup_op_s": warm_times,
            "op_order": [op.name for op in ops],
        },
        "spans": spans,
    }
