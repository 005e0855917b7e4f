"""Similarity-search pack over ``embeddings`` (north-star ops).

- ``embed_cosine_topk`` (B26): brute-force cosine top-k against a
  probe vector — oracle ✓ (double arithmetic, rounded before ranking
  so both engines pick identical sets).
- ``knn_bruteforce_topk``: top-5 neighbors for each of the first 10
  vectors — the exact-kNN baseline, oracle ✓.
- ``ann_lsh_cosine``: random-hyperplane LSH (sign-bit signatures,
  Hamming buckets, per-bucket contribution cap) — the scale path;
  hash-checked since the hyperplanes are plan literals replayed by
  sequential folds on both engines; recall vs brute force asserted in
  tests.

Scale notes: brute-force kNN is a broadcast of the (tiny) query set
against a full scan — no shuffle, linear in corpus size, the right
baseline even at 100 TB when the query set is small. The LSH variant
buckets the corpus once (one groupBy shuffle) and only compares
within buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from eventstream_benchmark_spark.io import load_table
from eventstream_benchmark_spark.operators._cache import (
    scoped_persist,
    shared_persist,
)
from eventstream_benchmark_spark.operators._util import bigint, null_safe_div, r6

PROBE_VEC_ID = 0
TOPK = 20
KNN_QUERIES = 10
KNN_K = 5
LSH_PLANES = 12
EMB_DIM = 64  # the fixture's embedding width


def _as_double(col: str = "embedding"):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(va, vb):
    """Left-to-right sequential fold dot — the cross-engine-stable
    spelling (DuckDB ``list_reduce`` folds in the same order)."""
    return F.aggregate(F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)


def _norm(v):
    """sqrt of the sequential sum-of-squares fold — a pure function of
    the vector, so it can be computed once per vector and reused
    across every pair that vector appears in: the cosine
    ``dot/(na·nb)`` sees the identical doubles either way."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))


def _cos(dot, na, nb):
    """``dot/(na·nb)`` with the zero-norm guard: a zero vector (a
    broken encoder's plausible output) makes the denominator 0, where
    ANSI Spark raises DIVIDE_BY_ZERO and DuckDB yields NULL — the
    ``null_safe_div`` guard aligns both engines on NULL-undefined
    cosine (NULLs sort last under every DESC ranking in the lane and
    fail every ≥ τ filter, in both engines). Values are unchanged for
    every nonzero pair: the guard is a comparison, not an arithmetic
    rewrite."""
    return null_safe_div(dot, na * nb)


# --------------------------------------------------------------------------
# B26 — cosine top-k vs a fixed probe vector
# --------------------------------------------------------------------------


def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", _as_double().alias("v"))
    probe = F.broadcast(
        emb.filter(F.col("vec_id") == PROBE_VEC_ID).select(
            F.col("v").alias("pv"), _norm(F.col("v")).alias("pnrm")
        )
    )
    # the probe norm folds once on the one-row broadcast side, the
    # corpus norm once per row — not two extra folds per scanned row
    return (
        emb.filter(F.col("vec_id") != PROBE_VEC_ID)
        .withColumn("vnrm", _norm(F.col("v")))
        .crossJoin(probe)
        .select(
            "vec_id",
            r6(_cos(_dot(F.col("v"), F.col("pv")), F.col("vnrm"), F.col("pnrm"))).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOPK)
    )


# --------------------------------------------------------------------------
# exact kNN for a small query set (broadcast, no shuffle)
# --------------------------------------------------------------------------


def knn_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", _as_double().alias("v"))
    queries = F.broadcast(
        emb.filter(F.col("vec_id") < KNN_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            _norm(F.col("v")).alias("qnrm"),
        )
    )
    # corpus norms folded once per vector, not once per (vector, query)
    scored = (
        emb.withColumn("vnrm", _norm(F.col("v")))
        .crossJoin(queries)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            r6(_cos(_dot(F.col("v"), F.col("qv")), F.col("vnrm"), F.col("qnrm"))).alias(
                "cosine"
            ),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", bigint(F.row_number().over(w)))
        .filter(F.col("rk") <= KNN_K)
        .select("q_id", "vec_id", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# ANN: random-hyperplane LSH buckets (scale path, rows-only)
# --------------------------------------------------------------------------


def _hyperplane(plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: a fixed
    xorshift-style integer sequence mapped to [-0.5, 0.5). Pure python
    at plan-build time (tiny), embedded as literals in the plan."""
    vals = []
    x = (plane * 0x9E3779B97F4A7C15 + 0xD1B54A32D192ED03) & 0xFFFFFFFFFFFFFFFF
    for _ in range(EMB_DIM):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        vals.append((x % 10_000) / 10_000.0 - 0.5)
    return vals


# Hot-bucket backstop: a degenerate cluster (many near-identical
# vectors) collides into ONE bucket under any sign-bit scheme, and the
# within-bucket pair join then goes quadratic in cluster size — the
# round-4 verdict's scale caveat.  Only the first LSH_BUCKET_CAP
# vectors per bucket (deterministically by vec_id) contribute pairs,
# bounding every bucket at CAP²/2 pairs; overflow vectors simply emit
# no candidates (the standard LSH bucket-truncation trade — at
# production scale pair this with tighter signatures or multi-probe).
# A banded OR-construction (the dedup_embedding_cosine shape) is NOT
# the right fix here: banding restores RECALL for thresholded dedup
# where an exact verify re-establishes the output set, but this query
# has no threshold — its output IS the collision set, so banding with
# interpreted fold signatures would re-create the measured 18-21 s
# higher-order-function wall (bench-noise-lessons) without bounding a
# degenerate bucket at all.  64 is invisible on every fixture
# (measured max occupancy: 3 at sf0.01, 5 at sf0.1).
LSH_BUCKET_CAP = 64


def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed approximate neighbor candidates: 12 sign-bits of
    hyperplane projections → bucket id → per-bucket capped pair
    generation (LSH_BUCKET_CAP) with verified cosine. One groupBy
    shuffle; candidate verification stays inside buckets (vs the full
    quadratic pair join), and no bucket can contribute more than
    CAP²/2 pairs however skewed the corpus.

    Hash-checked: the hyperplanes are plan-time literals, and both
    engines compute each projection as the same left-to-right fold
    over the same doubles (Spark ``F.aggregate`` / DuckDB
    ``list_reduce``), so the sign bits — and hence buckets and pairs —
    are bit-reproducible cross-engine; the cap's row_number ranking is
    by unique vec_id, so truncation picks identical survivors.

    The cap is OBSERVABLE, not silent (round-5 verdict item 5): every
    pair carries ``n_overflow`` — how many vectors its bucket dropped
    past LSH_BUCKET_CAP — itself hash-checked against the oracle, so a
    degenerate corpus shows up as a nonzero value in the verified
    output rather than as invisible recall loss.  The count rides the
    same per-bucket window partition as the cap's ranking (one
    exchange, reused)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", _as_double().alias("v"))
    bit_cols = []
    for p in range(LSH_PLANES):
        plane = F.array(*[F.lit(c) for c in _hyperplane(p)])
        proj = F.aggregate(
            F.zip_with(F.col("v"), plane, lambda x, h: x * h),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bit_cols.append(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    bucket = bit_cols[0]
    for c in bit_cols[1:]:
        bucket = bucket + c
    bucketed = emb.withColumn("bucket", bucket.cast("bigint"))
    # the cap's window shuffles by bucket — the same key the pair join
    # needs, so the exchange is reused, not added
    w = W.partitionBy("bucket").orderBy("vec_id")
    capped = (
        bucketed.withColumn("bk_rank", F.row_number().over(w))
        # pre-filter occupancy count: same partition key, same exchange
        .withColumn(
            "n_overflow",
            F.greatest(
                F.count("*").over(W.partitionBy("bucket")) - F.lit(LSH_BUCKET_CAP),
                F.lit(0),
            ),
        )
        .filter(F.col("bk_rank") <= LSH_BUCKET_CAP)
        .drop("bk_rank")
        # one norm fold per surviving vector, reused by every pair
        .withColumn("nrm", _norm(F.col("v")))
    )
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            r6(
                _cos(_dot(F.col("a.v"), F.col("b.v")), F.col("a.nrm"), F.col("b.nrm"))
            ).alias("cosine"),
            bigint(F.col("a.n_overflow")).alias("n_overflow"),
        )
    )


# Query-path bucket width: coarser than the 12-bit pair-mining table.
# Recall at Hamming-R probing is P(Bin(bits, p_flip) ≤ R); on the
# fixture's near-uniform vectors (p_flip ≈ 0.35 for true top-5
# neighbors) 12 bits at R=2 recovers only 6-14% (measured), while 8
# bits at R=2 sits near 50% for ~37·n/2⁸ ≈ 14% of the corpus scored
# per query — the sane memory-free trade. At production scale, size
# bits ≈ log2(n / target_bucket_size) and add hash tables (or raise R)
# to hit a recall SLO; clustered real corpora flip fewer bits than
# uniform fixtures, raising recall further.
QUERY_LSH_BITS = 8
# Multiprobe masks: Hamming-0/1/2 perturbations (1 + 8 + 28 = 37
# probes), generated once at plan-build time and embedded as literals
# in BOTH engines' plans.
_PROBE_MASKS: tuple[int, ...] = tuple(
    [0]
    + [1 << i for i in range(QUERY_LSH_BITS)]
    + [
        (1 << i) | (1 << j)
        for i in range(QUERY_LSH_BITS)
        for j in range(i + 1, QUERY_LSH_BITS)
    ]
)


def ann_lsh_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-side multiprobe LSH kNN — the search companion to the
    pair-mining ``ann_lsh_cosine``: each query probes its own 8-bit
    bucket plus every Hamming-1 and Hamming-2 perturbation (37
    buckets), scores only the vectors living there with the exact
    cosine, and keeps the top KNN_K. Probing does what extra hash
    tables would do without storing them (Lv et al.'s multi-probe
    trade: probes buy recall with zero extra index memory); see
    QUERY_LSH_BITS for the measured recall/cost sizing.

    Scale shape: the corpus is bucketed once (one shuffle); the probe
    list is a 37-element literal array exploded on the (tiny) query
    side, and the candidate join is an equi-join on bucket — per
    query it touches ~37·(n/2⁸) vectors instead of n. Hash-checked
    end to end: bucket bits come from the literal-hyperplane
    sequential folds, probe masks are identical literal lists in both
    plans, and every ranking uses (round(cos, 6) DESC, vec_id) so
    both engines cut identical rows. Recall vs brute force is
    asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", _as_double().alias("v"))
    bit_cols = []
    for p in range(QUERY_LSH_BITS):
        plane = F.array(*[F.lit(c) for c in _hyperplane(p)])
        proj = F.aggregate(
            F.zip_with(F.col("v"), plane, lambda x, h: x * h),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bit_cols.append(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    bucket = bit_cols[0]
    for c in bit_cols[1:]:
        bucket = bucket + c
    bucketed = emb.withColumn("bucket", bucket.cast("bigint"))
    queries = bucketed.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qb"),
        _norm(F.col("v")).alias("qnrm"),
    )
    # each corpus vector lives in exactly one bucket and the 37 probed
    # buckets are pairwise distinct, so no (q, candidate) dedup needed
    probes = queries.select(
        "q_id",
        "qv",
        "qnrm",
        F.explode(
            F.array(*[F.col("qb").bitwiseXOR(F.lit(m)) for m in _PROBE_MASKS])
        ).alias("bucket"),
    )
    candidates = probes.join(
        bucketed.withColumn("nrm", _norm(F.col("v"))), "bucket"
    ).filter(F.col("vec_id") != F.col("q_id"))
    scored = candidates.select(
        "q_id",
        "vec_id",
        r6(_cos(_dot(F.col("qv"), F.col("v")), F.col("qnrm"), F.col("nrm"))).alias(
            "cosine"
        ),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", bigint(F.row_number().over(w)))
        .filter(F.col("rk") <= KNN_K)
        .select("q_id", "vec_id", "cosine", "rk")
    )

IVF_CLUSTERS = 16
IVF_PROBES = 4


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid table
    against the full scan — no shuffle on the corpus side; argmax via
    max_by over the per-centroid cosine. The cosine is rounded to 6
    decimals and ties break toward the lowest cluster id so the
    assignment is reproducible cross-engine (the DuckDB oracle ranks
    the same rounded values the same way)."""
    # norms are folded ONCE per vector and once per centroid instead of
    # per (vector, centroid) pair — the interpreted-HOF fold is the
    # whole cost of this stage (3 folds/pair -> 1), and the cosine
    # divides the identical doubles, so every rounded sim is unchanged
    cent = centroids.select("cluster", "cv", _norm(F.col("cv")).alias("cnrm"))
    scored = (
        emb.withColumn("vnrm", _norm(F.col("v")))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "v",
            "vnrm",
            "cluster",
            r6(_cos(_dot(F.col("v"), F.col("cv")), F.col("vnrm"), F.col("cnrm"))).alias(
                "sim"
            ),
        )
    )
    # the already-folded per-vector norm rides the output for free
    # (one F.first, no extra fold) so consumers of the family-shared
    # inverted file never re-fold corpus norms per invocation
    return scored.groupBy("vec_id").agg(
        F.max_by(
            "cluster", F.struct(F.col("sim").alias("s"), (-F.col("cluster")).alias("c"))
        ).alias("cluster"),
        F.first("v").alias("v"),
        F.first("vnrm").alias("nrm"),
    )


def _recompute_centroids(assigned: DataFrame) -> DataFrame:
    """One Lloyd refinement, fully distributed: explode to (cluster,
    dim, value), average per (cluster, dim) — one shuffle keyed on a
    cluster·dim grid, never on raw vectors — and fold back to arrays.
    Components are rounded to 9 decimals: partial-sum order differs
    across partitions (and engines) only below ~1e-14, so the rounded
    centroid is the stable cross-engine value every downstream cosine
    sees."""
    by_dim = assigned.select(
        "cluster", F.posexplode("v").alias("dim", "x")
    ).groupBy("cluster", "dim").agg(F.round(F.avg("x"), 9).alias("m"))
    return by_dim.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s.getField("m")
        ).alias("cv")
    )


def _ivf_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (vec_id, v) double-cast corpus every IVF stage scans."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )


def _ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-Lloyd-round refined centroid table (cluster, cv),
    family-shared: seed = first IVF_CLUSTERS vectors, one distributed
    assignment + per-dimension average. Tiny (IVF_CLUSTERS rows) but
    its BUILD is a full corpus scan + a cluster·dim shuffle, and three
    registered queries need the identical table (``ann_ivf_cosine``,
    ``dedup_semantic_cluster``, ``dedup_semantic_recall_eval``) — the
    k-means model a production pipeline trains once and reuses across
    its ANN index and its SemDeDup pass."""

    def build() -> DataFrame:
        emb = _ivf_emb(spark, sf_dir)
        seed = emb.filter(F.col("vec_id") < IVF_CLUSTERS).select(
            F.col("vec_id").cast("int").alias("cluster"), F.col("v").alias("cv")
        )
        return _recompute_centroids(_assign(emb, seed))

    return shared_persist(
        spark, sf_dir, "ivf_refined",
        build,
    )


def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final nearest-centroid assignment (vec_id, cluster, v, nrm),
    family-shared by the same three consumers as ``_ivf_refined`` —
    the inverted file itself. Corpus-sized but vector-dense-bounded
    (the fixture's 64-dim doubles ≈ 0.5 KB/row), the same storage
    trade as any materialized IVF index."""
    return shared_persist(
        spark, sf_dir, "ivf_assigned",
        lambda: _assign(_ivf_emb(spark, sf_dir), _ivf_refined(spark, sf_dir)),
    )


def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate kNN: deterministic seed centroids (first
    IVF_CLUSTERS vectors) → one distributed Lloyd refinement →
    inverted-file assignment → probe-limited search (each query scores
    only the vectors in its IVF_PROBES nearest clusters ≈ probes/
    clusters of the corpus). Hash-checked: every ranking decision uses
    6-decimal-rounded cosines with explicit cluster-id tie-breaks and
    the Lloyd centroids are rounded to 9 decimals, so the DuckDB
    oracle replays the identical pipeline stage by stage. Recall vs
    brute force is additionally asserted in tests.

    At 100 TB: centroids stay broadcast-size by construction, the
    corpus is touched by two scans (assign, search) and shuffles only
    on (cluster) keys — the canonical IVF cost shape.
    """
    emb = _ivf_emb(spark, sf_dir)
    # the centroid model + inverted file are family-shared (see
    # _ivf_refined/_ivf_assigned): built once per (session, fixture)
    refined = _ivf_refined(spark, sf_dir)
    assigned = _ivf_assigned(spark, sf_dir)

    # query norms fold once per query (serving both the centroid-probe
    # ranking and the candidate scoring), centroid norms once per
    # centroid on the tiny broadcast side — never per (query, centroid)
    queries = emb.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qnrm"),
    )
    cent = F.broadcast(
        refined.select("cluster", "cv", _norm(F.col("cv")).alias("cnrm"))
    )
    probe = (
        queries.crossJoin(cent)
        .select(
            "q_id",
            "qv",
            "qnrm",
            "cluster",
            r6(_cos(_dot(F.col("qv"), F.col("cv")), F.col("qnrm"), F.col("cnrm"))).alias(
                "sim"
            ),
        )
        .withColumn(
            "pr",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("cluster"))
            ),
        )
        .filter(F.col("pr") <= IVF_PROBES)
        .select("q_id", "qv", "qnrm", "cluster")
    )
    # corpus-side norms come pre-folded out of the family-shared
    # inverted file (_assign emits them), so no per-invocation re-fold
    candidates = probe.join(assigned, "cluster").filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = candidates.select(
        "q_id",
        "vec_id",
        r6(_cos(_dot(F.col("qv"), F.col("v")), F.col("qnrm"), F.col("nrm"))).alias(
            "cosine"
        ),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", bigint(F.row_number().over(w)))
        .filter(F.col("rk") <= KNN_K)
        .select("q_id", "vec_id", "cosine", "rk")
    )


def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std across the corpus (the centroid + scale a
    training pipeline computes for feature normalization). posexplode
    turns [N, 64] wide rows into 64N long rows; the groupBy key space is
    exactly the dimensionality, so the shuffle output is 64 rows no
    matter how large N grows — partial aggregation does all the work
    map-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .select("pos", F.col("x").cast("double").alias("x"))
        .groupBy(bigint(F.col("pos")).alias("pos"))
        .agg(
            r6(F.avg("x")).alias("mean_x"),
            r6(F.stddev_samp("x")).alias("std_x"),
        )
        .orderBy("pos")
    )


BQ_K = 10  # Hamming / cosine top-k compared by the binary-quant eval


def embed_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (sign) binary quantization with a Hamming-vs-cosine
    retrieval agreement eval — the third embedding-compression mode
    alongside int8 (:func:`embed_quantize_int8`) and PQ
    (:func:`embed_pq_encode`): each 64-dim vector packs to two 32-bit
    sign words (bit i set iff v[i] > 0; two words because bit 63 of
    one BIGINT would overflow under ANSI), candidates are ranked by
    ``bit_count(xor)`` Hamming distance — the cheap first-stage scorer
    binary-quantized vector stores use — and the eval reports, per
    query vector, how much of the exact-cosine top-``BQ_K`` the
    Hamming top-``BQ_K`` recovers (the measured retrieval cost of 64×
    compression) plus the Hamming band the top-k spans.

    Scale shape: sign words and norms fold once per vector behind a
    persisted barrier (the ``embed_quantize_int8`` projection-collapse
    rule), the query side broadcasts (KNN_QUERIES rows), both top-k
    ranks are ``row_number`` + ``filter`` so Spark 3.5's
    WindowGroupLimit pushes a partial per-partition top-k below each
    exchange (the multiprobe-kNN pin's shape), and every downstream
    join is on (q_id, vec_id) — output-sized. Zero Python. Determinism:
    Hamming ties break on vec_id; a zero-norm query's cosine is NULL
    via the ``_cos`` guard and sorts last under DESC in both engines.

    Oracle: DuckDB replays the sign rule as a per-dimension
    sign-disagreement count (== bit_count(xor) by definition), the
    same r6 cosine, and both rankings."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )

    def word(lo: int):
        # bits lo..lo+31 of the sign signature as one non-negative long
        return sum(
            (F.element_at(F.col("v"), lo + i + 1) > 0.0).cast("long")
            * F.lit(1 << i).cast("long")
            for i in range(32)
        )

    base = scoped_persist(
        emb.select(
            "vec_id",
            "v",
            word(0).alias("w0"),
            word(32).alias("w1"),
            _norm(F.col("v")).alias("nrm"),
        )
    )
    qs = F.broadcast(
        base.filter(F.col("vec_id") < KNN_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("w0").alias("q0"),
            F.col("w1").alias("q1"),
            F.col("nrm").alias("qnrm"),
        )
    )
    # persisted: the Hamming and cosine rankings below each consume
    # this frame, and without the barrier the broadcast cross-join —
    # the query's dominant compute (a 64-dim dot per (vector, query))
    # — would run once per ranking (r11 review). Four scalar columns,
    # KNN_QUERIES× the corpus row count.
    scored = scoped_persist(
        base.crossJoin(qs)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                F.bit_count(F.col("w0").bitwiseXOR(F.col("q0")))
                + F.bit_count(F.col("w1").bitwiseXOR(F.col("q1")))
            ).cast("bigint").alias("hamming"),
            r6(
                _cos(_dot(F.col("v"), F.col("qv")), F.col("nrm"), F.col("qnrm"))
            ).alias("cosine"),
        )
    )
    wh = W.partitionBy("q_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    wc = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    top_h = scoped_persist(
        scored.withColumn("hrk", F.row_number().over(wh))
        .filter(F.col("hrk") <= BQ_K)
        .select("q_id", "vec_id", "hamming")
    )
    top_c = (
        scored.withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= BQ_K)
        .select("q_id", "vec_id")
    )
    bands = top_h.groupBy("q_id").agg(
        bigint(F.min("hamming")).alias("min_hamming"),
        bigint(F.max("hamming")).alias("max_hamming"),
    )
    overlap = (
        top_h.select("q_id", "vec_id")
        .join(top_c, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(bigint(F.count("*")).alias("overlap_k"))
    )
    return (
        bands.join(overlap, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("overlap_k", F.lit(0).cast("bigint")).alias("overlap_k"),
            "min_hamming",
            "max_hamming",
        )
        .orderBy("q_id")
    )


def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|x| / 127)
    with reconstruction-error report — the compression step before
    shipping embeddings to an ANN index or a feature store. The
    (vec_id, v, amax) frame is persisted first: the barrier keeps
    Catalyst's projection collapse from inlining the array_max
    reduction into every element of the downstream quantize/dequantize
    lambdas (the O(d²)-per-row trap — see ``_doc_shingles``).
    Quantize, dequantize, and the error fold are then per-row array
    exprs — single scan, no shuffle. The fold runs in array order in
    both engines, so the MSE is bit-identical cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    based = scoped_persist(
        emb.select(
            "vec_id",
            "label",
            _as_double("embedding").alias("v"),
        ).withColumn("amax", F.array_max(F.transform("v", F.abs)))
    )
    scale = F.col("amax") / 127.0
    dq = F.transform("v", lambda x: F.round(x / scale) * scale)
    sqerr = F.aggregate(
        F.zip_with("v", dq, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    n_sat = F.size(F.filter("v", lambda x: F.abs(x) == F.col("amax")))
    # the amax > 0 filter is applied BEFORE the projection so the
    # x/scale divisions provably never see a zero scale (an all-zero
    # vector) — under ANSI that would raise rather than null out, and
    # relying on Catalyst to push the filter below the project leaves
    # the guarantee to the optimizer instead of the plan order
    return (
        based.filter(F.col("amax") > 0)
        .select(
            "vec_id",
            "label",
            r6(scale).alias("scale"),
            r6(sqerr / F.size("v")).alias("mse"),
            bigint(n_sat).alias("n_saturated"),
        )
        .orderBy("vec_id")
    )


PQ_SUBS = 8  # subspaces (64-dim fixture → 8 dims per subspace)
PQ_SUBDIM = 8
PQ_CODES = 16  # codewords per subspace


def embed_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: split each 64-dim embedding into
    ``PQ_SUBS`` subvectors and encode every subvector as the id of its
    nearest codeword (squared-L2), yielding an 8-byte code per vector
    — the memory-side companion to IVF (Jégou et al.'s IVFADC layout):
    at 100 TB the float corpus doesn't fit executor memory but the PQ
    codes do, and distance tables over codebooks replace full scans.

    Codebook training is deterministic for the oracle: the codewords
    of subspace s are the s-subvectors of the first ``PQ_CODES``
    vectors (the seed-centroid trick from ``ann_ivf_cosine``; a Lloyd
    round would refine them the same way ``_recompute_centroids``
    does). Output per vector: the dash-joined code string and the
    reconstruction MSE.

    Scale shape: the codebook (PQ_SUBS·PQ_CODES rows) broadcasts; the
    corpus explodes to (vec_id, sub) — a constant ×8, not a join blowup
    — scores 16 codewords per row map-side, and reduces by (vec_id,
    sub) then vec_id. One shuffle keyed on vec_id, nothing quadratic.
    Every argmin uses (integer micro-distance, code) so both engines
    cut identical codes and the mse sums exactly."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", _as_double().alias("v"))
    sub = F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBS - 1))).alias("sub")
    subvec = F.slice("v", F.col("sub") * PQ_SUBDIM + 1, PQ_SUBDIM)
    subs = emb.select("vec_id", "v", sub).select("vec_id", "sub", subvec.alias("sv"))
    codebook = (
        subs.filter(F.col("vec_id") < PQ_CODES)
        .select(F.col("vec_id").alias("code"), "sub", F.col("sv").alias("cw"))
    )
    dist = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cw"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    # micro-distances as exact integers (round(d·1e6)): the argmin
    # tiebreak AND the final mse sum are then integer arithmetic, so no
    # engine can disagree at a rounding boundary (the sequential fold
    # makes the raw double identical; the 1e6 scale survives it)
    scored = subs.join(F.broadcast(codebook), "sub").select(
        "vec_id",
        "sub",
        "code",
        bigint(F.round(dist * F.lit(1_000_000.0), 0)).alias("dist_i"),
    )
    best = scored.groupBy("vec_id", "sub").agg(F.min(F.struct("dist_i", "code")).alias("m"))
    return (
        best.groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("sub", F.col("m.code").alias("code")))
                    ),
                    lambda s: s["code"].cast("string"),
                ),
                "-",
            ).alias("codes"),
            r6(F.sum("m.dist_i") / F.lit(PQ_SUBS * PQ_SUBDIM * 1_000_000.0)).alias("mse"),
        )
        .orderBy("vec_id")
    )


MRL_PREFIXES = (8, 16, 32)  # Matryoshka truncation lengths evaluated
MRL_KEEP_MICRO = 900_000  # "safe to truncate" bar: ≥ 0.9 energy kept


def embed_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation: how much of each vector's L2
    energy the first p dimensions carry, for p ∈ {8, 16, 32} — the
    go/no-go metric before swapping full embeddings for cheap prefixes
    in retrieval (MRL-trained models front-load information; this
    measures whether a corpus's embeddings actually do). Per vector
    the ratio Σ_{i<p}x²/Σ_{i<64}x² is computed with both folds in
    array order (bit-identical across engines, the
    ``embed_quantize_int8`` rule) and floored to a micro-int; corpus
    aggregates are then exact BIGINT sums — avg energy, worst vector,
    and how many clear the 0.9 keep bar. Single scan, one stack
    unpivot, map-combinable aggregate; no shuffle wider than the
    3-row output."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq_sum = lambda col: F.aggregate(  # noqa: E731
        col,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    full = sq_sum(F.col("embedding"))
    pref = {p: sq_sum(F.slice("embedding", 1, p)) for p in MRL_PREFIXES}
    # null_safe_div: an all-zero vector has zero total energy — ANSI
    # Spark would raise on the ratio where DuckDB yields NULL (which
    # every aggregate below then skips, identically in both engines)
    micro = {
        p: F.floor(F.lit(1_000_000.0) * null_safe_div(pref[p], full)).cast("long")
        for p in MRL_PREFIXES
    }
    stacked = emb.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("long").alias("prefix_len"),
                        micro[p].alias("energy_micro"),
                    )
                    for p in MRL_PREFIXES
                ]
            )
        ).alias("s")
    ).select("s.prefix_len", "s.energy_micro")
    return (
        stacked.groupBy("prefix_len")
        .agg(
            bigint(F.count("*")).alias("n_vecs"),
            bigint(
                F.floor(
                    F.sum("energy_micro").cast("double")
                    / F.count("*").cast("double")
                )
            ).alias("avg_energy_micro"),
            bigint(F.min("energy_micro")).alias("min_energy_micro"),
            bigint(
                F.sum((F.col("energy_micro") >= MRL_KEEP_MICRO).cast("long"))
            ).alias("n_above_90pct"),
        )
        .orderBy("prefix_len")
    )


DRIFT_THRESH_MICRO = 50_000  # per-dimension |Δmean| alarm bar (0.05)


def embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution-shift monitor: the corpus split into two
    deterministic halves (vec_id parity — the stand-in for
    "yesterday's batch vs today's"), per-dimension centroid of each
    half, and the dimensions whose means moved past a threshold — the
    drift check an embedding pipeline runs before trusting a new
    encoder batch.

    Exactness: summing raw floats across the corpus is
    accumulation-order dependent, so each element is first quantized
    to a micro-int (round(10⁶·x) — a 0-dp round both engines agree
    on); the per-dimension sums are then exact BIGINTs and the drift
    comparison is cross-multiplied integers (|S_a·n_b − S_b·n_a| vs
    threshold·n_a·n_b — no division anywhere). posexplode keys the
    shuffle on (dimension, half): output is 2·64 partial rows however
    large the corpus, all map-side combined."""
    emb = load_table(spark, sf_dir, "embeddings")
    half = (F.col("vec_id") % 2).alias("half")
    exploded = emb.select(half, F.posexplode("embedding").alias("pos", "x")).select(
        "half",
        "pos",
        F.round(F.col("x").cast("double") * 1_000_000, 0).cast("long").alias("xm"),
    )
    agg = exploded.groupBy("pos", "half").agg(
        F.count("*").alias("n"), F.sum("xm").alias("s")
    )
    a = agg.filter(F.col("half") == 0).select(
        "pos", F.col("n").alias("n_a"), F.col("s").alias("s_a")
    )
    b = agg.filter(F.col("half") == 1).select(
        "pos", F.col("n").alias("n_b"), F.col("s").alias("s_b")
    )
    j = a.join(b, "pos")
    num = F.abs(F.col("s_a") * F.col("n_b") - F.col("s_b") * F.col("n_a"))
    bar = F.lit(DRIFT_THRESH_MICRO) * F.col("n_a") * F.col("n_b")
    return j.select(
        bigint(F.col("pos")).alias("pos"),
        bigint(
            F.floor(F.col("s_a").cast("double") / F.col("n_a").cast("double"))
        ).alias("mean_a_micro"),
        bigint(
            F.floor(F.col("s_b").cast("double") / F.col("n_b").cast("double"))
        ).alias("mean_b_micro"),
        (num > bar).alias("drifted"),
    ).orderBy("pos")


SEMDEDUP_TAU = 0.45  # prune threshold, = COSINE_DUP_THRESHOLD (dedup.py)
SEMDEDUP_CLUSTER_CAP = 256  # pair work per cluster ≤ CAP²/2, overflow emitted


def _semdedup_pairs(spark: SparkSession, sf_dir: str):
    """The SemDeDup mining stages shared by ``dedup_semantic_cluster``
    and ``dedup_semantic_recall_eval``: IVF k-means assignment (seed →
    one Lloyd round → reassign), the per-cluster vec_id-ranked cap,
    and the within-cluster keep-first near-dup pairs. Returns
    ``(assigned, pairs)`` where ``assigned`` is (vec_id, v, cluster,
    nrm)
    and ``pairs`` is (cluster, victim) — BOTH family-shared persists
    (the assignment through ``_ivf_assigned``, the mined victim pairs
    keyed here), so the k-means stages and the capped within-cluster
    pair join run once per (session, fixture) across the two SemDeDup
    consumers instead of per query."""
    assigned = _ivf_assigned(spark, sf_dir)

    def build() -> DataFrame:
        w_rank = W.partitionBy("cluster").orderBy("vec_id")
        # per-vector norms come pre-folded out of the family-shared
        # inverted file — the pair filter divides the identical
        # doubles the per-pair fold would have produced
        capped = (
            assigned.withColumn("rnk", F.row_number().over(w_rank))
            .filter(F.col("rnk") <= SEMDEDUP_CLUSTER_CAP)
            .drop("rnk")
        )
        a, b = capped.alias("a"), capped.alias("b")
        return (
            a.join(
                b,
                (F.col("a.cluster") == F.col("b.cluster"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .filter(
                r6(
                    _cos(_dot(F.col("a.v"), F.col("b.v")),
                         F.col("a.nrm"), F.col("b.nrm"))
                )
                >= SEMDEDUP_TAU
            )
            .select(
                F.col("a.cluster").alias("cluster"), F.col("b.vec_id").alias("victim")
            )
        )

    pairs = shared_persist(
        spark, sf_dir, "semdedup_victims",
        build,
    )
    return assigned, pairs


def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540, public): k-means-cluster the embedding corpus —
    the exact ``ann_ivf_cosine`` stages (seed = first IVF_CLUSTERS
    vectors, one distributed Lloyd round, rounded-cosine argmax
    reassignment) — then mine near-duplicate pairs ONLY within each
    cluster and prune every vector with a lower-id neighbor at cosine
    ≥ τ (keep-first, the ``text_line_dedup`` rule applied to vectors).

    This is the production-scale trade the flat ``dedup_embedding_
    cosine`` can't express: pair candidates drop from O(n²) to
    Σ|cluster|² with NO hash tables, at the cost of missing pairs that
    straddle a cluster boundary — which is why the output reports
    per-cluster members/pairs/pruned rather than claiming corpus
    recall. A degenerate cluster is bounded by SEMDEDUP_CLUSTER_CAP
    (deterministic vec_id ranking) with the truncation emitted as a
    hash-checked ``n_overflow`` (the round-6 observability rule).

    100 TB shape: centroids broadcast; two corpus scans (assign ×2);
    shuffles key on (cluster) and the per-cluster window reuses the
    pair join's partitioning. The oracle replays every stage with
    identical 6/9-decimal rounding and tie-breaks."""
    assigned, pairs = _semdedup_pairs(spark, sf_dir)
    per_cluster = pairs.groupBy("cluster").agg(
        F.count("*").alias("n_dup_pairs"),
        F.count_distinct("victim").alias("n_pruned"),
    )
    members = assigned.groupBy("cluster").agg(F.count("*").alias("n_members"))
    return (
        members.join(per_cluster, "cluster", "left")
        .select(
            bigint(F.col("cluster")).alias("cluster"),
            bigint(F.col("n_members")).alias("n_members"),
            bigint(F.coalesce("n_dup_pairs", F.lit(0))).alias("n_dup_pairs"),
            bigint(F.coalesce("n_pruned", F.lit(0))).alias("n_pruned"),
            bigint(
                F.greatest(F.col("n_members") - SEMDEDUP_CLUSTER_CAP, F.lit(0))
            ).alias("n_overflow"),
        )
        .orderBy("cluster")
    )


def dedup_semantic_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup boundary-miss measurement as a first-class query — the
    missing evaluation twin ``dedup_recall_eval`` (LSH vs exact
    Jaccard) and ``ann_recall_eval`` (LSH ANN vs brute force) already
    have: confusion-join the VICTIM SETS of cluster-scoped semantic
    dedup (``dedup_semantic_cluster``'s keep-first prunes) against the
    flat all-pairs truth (``dedup_embedding_cosine`` at the same τ —
    SEMDEDUP_TAU == COSINE_DUP_THRESHOLD) and emit tp/fp/fn with
    precision/recall.

    A SemDeDup victim always has a lower-id neighbor at cosine ≥ τ in
    its own cluster, and every such within-cluster pair is also a flat
    pair, so precision is 1 BY CONSTRUCTION — fp > 0 would mean a bug,
    which is exactly why it is an emitted, hash-checked column. Recall
    is the published algorithm's documented trade (Abbas et al. 2023):
    fn counts vectors whose only duplicate neighbors sit across a
    cluster boundary (or past the per-cluster cap), the quantity the
    round-6 contract stated but did not measure.

    Scale note: the flat truth side is the capped/LSH-accelerated
    ``dedup_embedding_cosine`` (exact-dup collapse → banded LSH →
    batched verify — zero-missed-pairs certified per fixture), so the
    eval never materializes an O(n²) join; at 100 TB one runs it on a
    sampled stratum, and the query composes unchanged. The oracle
    replays BOTH paths (the k-means stage replay and the all-pairs
    truth) and recomputes the identical confusion counts."""
    from eventstream_benchmark_spark.operators.dedup import dedup_embedding_cosine

    flat = dedup_embedding_cosine(spark, sf_dir)
    truth = (
        flat.select(F.col("v2").alias("vec_id"))
        .distinct()
        .withColumn("in_truth", F.lit(1))
    )
    _assigned, pairs = _semdedup_pairs(spark, sf_dir)
    sem = (
        pairs.select(F.col("victim").alias("vec_id"))
        .distinct()
        .withColumn("in_sem", F.lit(1))
    )
    conf = truth.join(sem, "vec_id", "full_outer")
    tp = F.sum(
        (F.col("in_truth").isNotNull() & F.col("in_sem").isNotNull()).cast("int")
    )
    fp = F.sum(
        (F.col("in_truth").isNull() & F.col("in_sem").isNotNull()).cast("int")
    )
    fn = F.sum(
        (F.col("in_truth").isNotNull() & F.col("in_sem").isNull()).cast("int")
    )
    return conf.agg(
        bigint(tp).alias("tp"),
        bigint(fp).alias("fp"),
        bigint(fn).alias("fn"),
        F.when(tp + fp > 0, r6(tp / (tp + fp))).alias("precision_ratio"),
        F.when(tp + fn > 0, r6(tp / (tp + fn))).alias("recall_ratio"),
    )


# sweep points span the fixtures' occupied cosine range (the mass sits
# just above the 0.45 verification floor); production swaps the tuple
# for its own candidate taus — the floor assert below keeps every
# point exact
SWEEP_TAUS = (0.45, 0.46, 0.48, 0.5, 0.55, 0.6)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-threshold calibration sweep — the measurement a pipeline
    owner runs BEFORE picking a near-dup τ (SemDeDup's headline knob):
    for each candidate threshold, how many verified pairs exist and
    how many documents are touched by at least one of them, i.e. the
    corpus fraction each τ would put in play.

    One pass over the family-shared verified pair table
    (``dedup_embedding_cosine`` — built once per session/fixture,
    floor τ = COSINE_DUP_THRESHOLD, so every sweep point ≥ the floor
    is exact): explode the 6 candidate thresholds per pair
    (output-sized × 6, never corpus-sized), filter, two keyed
    aggregates. Thresholds with zero pairs still emit a zero row (the
    tau dimension left-joins the counts), so the output shape is
    fixed. Both engines compare the same r6-rounded cosine doubles to
    the same parsed literals — bit-deterministic at every boundary."""
    from eventstream_benchmark_spark.operators.dedup import dedup_embedding_cosine

    pairs = dedup_embedding_cosine(spark, sf_dir)
    taus = F.array(*[F.lit(float(t)) for t in SWEEP_TAUS])
    tau_dim = spark.range(1).select(F.explode(taus).alias("tau"))
    hit = (
        pairs.select("v1", "v2", "cosine", F.explode(taus).alias("tau"))
        .filter(F.col("cosine") >= F.col("tau"))
        .drop("cosine")
    )
    n_pairs = hit.groupBy("tau").agg(bigint(F.count("*")).alias("n_pairs"))
    n_docs = (
        hit.select("tau", F.explode(F.array("v1", "v2")).alias("vid"))
        .distinct()
        .groupBy("tau")
        .agg(bigint(F.count("*")).alias("n_docs"))
    )
    return (
        tau_dim.join(n_pairs, "tau", "left")
        .join(n_docs, "tau", "left")
        .select(
            "tau",
            F.coalesce("n_pairs", F.lit(0).cast("bigint")).alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0).cast("bigint")).alias("n_docs"),
        )
        .orderBy("tau")
    )


QUERIES = {
    "embed_cosine_topk": embed_cosine_topk,
    "embed_matryoshka_energy": embed_matryoshka_energy,
    "embed_centroid_drift": embed_centroid_drift,
    "embed_pq_encode": embed_pq_encode,
    "embed_dim_stats": embed_dim_stats,
    "embed_quantize_int8": embed_quantize_int8,
    "embed_binary_quantize": embed_binary_quantize,
    "knn_bruteforce_topk": knn_bruteforce_topk,
    "ann_lsh_cosine": ann_lsh_cosine,
    "ann_lsh_query_topk": ann_lsh_query_topk,
    "ann_ivf_cosine": ann_ivf_cosine,
    "dedup_semantic_cluster": dedup_semantic_cluster,
    "dedup_semantic_recall_eval": dedup_semantic_recall_eval,
    "dedup_threshold_sweep": dedup_threshold_sweep,
}

_COS_SQL = (
    "list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)


def _fold_dot(a: str, b: str) -> str:
    """Left-to-right sequential dot product — DuckDB's ``list_reduce``
    folds in element order exactly like Spark's ``F.aggregate`` (and
    adding the 0.0 seed first changes no bits), so the two engines
    produce the same double bit-for-bit. ``list_dot_product`` makes no
    such order guarantee, which matters when the value feeds a sign
    test or an argmax instead of a rounded output column."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " s -> s[1] * s[2]), (acc, x) -> acc + x)"
    )


def _fold_cos(a: str, b: str) -> str:
    return f"({_fold_dot(a, b)} / (sqrt({_fold_dot(a, a)}) * sqrt({_fold_dot(b, b)})))"


def _lsh_bucket_sql(v: str = "v", n_bits: int = LSH_PLANES) -> str:
    """The n-bit sign-bucket expression over literal hyperplanes —
    the same literals Spark embeds via ``_hyperplane`` (12 bits for
    the pair-mining table, QUERY_LSH_BITS for the multiprobe query
    path)."""
    terms = []
    for p in range(n_bits):
        h = "CAST([" + ", ".join(repr(c) for c in _hyperplane(p)) + "] AS DOUBLE[])"
        terms.append(f"(CASE WHEN {_fold_dot(v, h)} > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"

_MRL_UNION = " UNION ALL ".join(
    f"""
    SELECT {p} AS prefix_len,
           CAST(floor(1000000.0 * (
               list_reduce(list_transform(embedding[1:{p}],
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   (a, b) -> a + b)
               / list_reduce(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   (a, b) -> a + b))) AS BIGINT) AS energy_micro
    FROM embeddings
    """
    for p in MRL_PREFIXES
)

ORACLES = {
    # same micro-int element quantization, same cross-multiplied drift
    "embed_centroid_drift": f"""
        WITH e AS (
            SELECT vec_id % 2 AS half, u.pos - 1 AS pos,
                   CAST(round(CAST(u.x AS DOUBLE) * 1000000, 0) AS BIGINT)
                       AS xm
            FROM embeddings,
            LATERAL (SELECT unnest(embedding) AS x,
                            generate_subscripts(embedding, 1) AS pos) u
        ),
        agg AS (SELECT pos, half, count(*) AS n, sum(xm) AS s
                FROM e GROUP BY pos, half),
        a AS (SELECT pos, n AS n_a, s AS s_a FROM agg WHERE half = 0),
        b AS (SELECT pos, n AS n_b, s AS s_b FROM agg WHERE half = 1)
        SELECT CAST(a.pos AS BIGINT) AS pos,
               CAST(floor(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                    AS BIGINT) AS mean_a_micro,
               CAST(floor(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                    AS BIGINT) AS mean_b_micro,
               abs(s_a * n_b - s_b * n_a)
                   > {DRIFT_THRESH_MICRO} * n_a * n_b AS drifted
        FROM a JOIN b USING (pos) ORDER BY pos
    """,
    # both engines fold squares in array order (bit-identical), floor
    # per vector, then aggregate exact BIGINTs
    "embed_matryoshka_energy": f"""
        WITH stacked AS ({_MRL_UNION})
        SELECT CAST(prefix_len AS BIGINT) AS prefix_len,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(floor(CAST(sum(energy_micro) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)) AS BIGINT)
                   AS avg_energy_micro,
               CAST(min(energy_micro) AS BIGINT) AS min_energy_micro,
               CAST(sum(CASE WHEN energy_micro >= {MRL_KEEP_MICRO}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_above_90pct
        FROM stacked GROUP BY prefix_len ORDER BY prefix_len
    """,
    "embed_pq_encode": f"""
        WITH e AS (
            SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
            FROM embeddings
        ),
        subs AS (
            SELECT vec_id, s.sub,
                   list_slice(v, s.sub * {PQ_SUBDIM} + 1,
                              s.sub * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sv
            FROM e, (SELECT unnest(range(0, {PQ_SUBS})) AS sub) s
        ),
        cb AS (
            SELECT vec_id AS code, sub, sv AS cw FROM subs
            WHERE vec_id < {PQ_CODES}
        ),
        scored AS (
            SELECT t.vec_id, t.sub, c.code,
                   CAST(round(list_reduce(
                       [(t.sv[i] - c.cw[i]) * (t.sv[i] - c.cw[i])
                        FOR i IN range(1, {PQ_SUBDIM} + 1)],
                       (a, x) -> a + x) * 1000000.0, 0) AS BIGINT) AS dist_i
            FROM subs t JOIN cb c USING (sub)
        ),
        best AS (
            SELECT vec_id, sub, code, dist_i FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY dist_i, code) AS rn
                FROM scored
            ) WHERE rn = 1
        )
        SELECT vec_id,
               string_agg(CAST(code AS VARCHAR), '-' ORDER BY sub) AS codes,
               round(sum(dist_i) / {PQ_SUBS * PQ_SUBDIM * 1000000}.0, 6) AS mse
        FROM best GROUP BY vec_id ORDER BY vec_id
    """,
    # generate_series can't reference len(embedding) laterally in DuckDB;
    # the fixture dimensionality is fixed at 64
    "embed_quantize_int8": """
        WITH e AS (
            SELECT vec_id, label,
                   [CAST(x AS DOUBLE) FOR x IN embedding] AS v
            FROM embeddings
        ),
        s AS (
            SELECT vec_id, label, v,
                   list_max([abs(x) FOR x IN v]) AS amax
            FROM e
        )
        SELECT vec_id, label,
               round(amax / 127.0, 6) AS scale,
               round(list_reduce(
                   [(x - round(x / (amax/127.0)) * (amax/127.0))
                    * (x - round(x / (amax/127.0)) * (amax/127.0))
                    FOR x IN v],
                   (a, x) -> a + x) / len(v), 6) AS mse,
               CAST(len(list_filter(v, x -> abs(x) = amax)) AS BIGINT)
                   AS n_saturated
        FROM s WHERE amax > 0 ORDER BY vec_id
    """,
    "embed_dim_stats": """
        SELECT i - 1 AS pos,
               round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_x,
               round(stddev_samp(CAST(embedding[i] AS DOUBLE)), 6) AS std_x
        FROM embeddings, generate_series(1, 64) t(i)
        GROUP BY 1 ORDER BY 1
    """,
    "embed_cosine_topk": f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )
        SELECT a.vec_id AS vec_id, round({_COS_SQL}, 6) AS cosine
        FROM e a JOIN e b ON b.vec_id = {PROBE_VEC_ID} AND a.vec_id <> {PROBE_VEC_ID}
        ORDER BY cosine DESC, vec_id LIMIT {TOPK}
    """,
    "knn_bruteforce_topk": f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        scored AS (
            SELECT b.vec_id AS q_id, a.vec_id AS vec_id,
                   round({_COS_SQL.replace('a.v, b.v', 'a.v, b.v')}, 6) AS cosine
            FROM e a JOIN e b ON b.vec_id < {KNN_QUERIES} AND a.vec_id <> b.vec_id
        )
        SELECT q_id, vec_id, cosine, rk FROM (
            SELECT q_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY cosine DESC, vec_id) AS rk
            FROM scored
        ) WHERE rk <= {KNN_K}
    """,
    "ann_lsh_cosine": f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        bk AS (
            -- QUALIFY filters AFTER window evaluation, so n_overflow is
            -- the pre-cap occupancy excess — identical to Spark's
            -- count-then-filter ordering
            SELECT vec_id, v, bucket,
                   greatest(count(*) OVER (PARTITION BY bucket)
                            - {LSH_BUCKET_CAP}, 0) AS n_overflow
            FROM (SELECT vec_id, v, {_lsh_bucket_sql('v')} AS bucket FROM e)
            QUALIFY row_number() OVER (PARTITION BY bucket
                                       ORDER BY vec_id) <= {LSH_BUCKET_CAP}
        )
        SELECT a.bucket AS bucket, a.vec_id AS v1, b.vec_id AS v2,
               round({_fold_cos('a.v', 'b.v')}, 6) AS cosine,
               CAST(a.n_overflow AS BIGINT) AS n_overflow
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    """,
    # multiprobe replay: identical literal probe masks, identical
    # sequential-fold bucket bits, identical (round(cos,6), vec_id)
    # ranking — so both engines cut the same top-k
    "ann_lsh_query_topk": f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        bk AS (
            SELECT vec_id, v,
                   {_lsh_bucket_sql('v', QUERY_LSH_BITS)} AS bucket
            FROM e
        ),
        q AS (
            SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM bk
            WHERE vec_id < {KNN_QUERIES}
        ),
        probes AS (
            SELECT q_id, qv,
                   unnest([xor(qb, m) FOR m IN {list(_PROBE_MASKS)}]) AS bucket
            FROM q
        ),
        scored AS (
            SELECT q_id, c.vec_id AS vec_id,
                   round({_fold_cos('qv', 'c.v')}, 6) AS cosine
            FROM probes JOIN bk c USING (bucket)
            WHERE c.vec_id != q_id
        )
        SELECT q_id, vec_id, cosine, rk FROM (
            SELECT q_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, vec_id) AS rk
            FROM scored
        ) WHERE rk <= {KNN_K}
    """,
    # stage-by-stage replay of the IVF pipeline: seed centroids = first
    # IVF_CLUSTERS vectors -> rounded-cosine argmax assignment -> one
    # Lloyd round (9-decimal centroids) -> reassignment -> probe the
    # IVF_PROBES best clusters per query -> exact top-k on candidates.
    # Every ranking uses round(cos, 6) with explicit id tie-breaks, so
    # both engines make identical decisions.
    "ann_ivf_cosine": f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        seed AS (
            SELECT CAST(vec_id AS INTEGER) AS cluster, v AS cv
            FROM e WHERE vec_id < {IVF_CLUSTERS}
        ),
        a1 AS (
            SELECT vec_id, v, cluster FROM (
                SELECT e.vec_id, e.v, s.cluster,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY round({_fold_cos('e.v', 's.cv')}, 6) DESC,
                                    s.cluster) AS rn
                FROM e CROSS JOIN seed s
            ) WHERE rn = 1
        ),
        cd AS (
            SELECT cluster, i AS dim, round(avg(v[i]), 9) AS m
            FROM a1, generate_series(1, 64) t(i)
            GROUP BY 1, 2
        ),
        cents AS (
            SELECT cluster, list(m ORDER BY dim) AS cv FROM cd GROUP BY cluster
        ),
        a2 AS (
            SELECT vec_id, v, cluster FROM (
                SELECT e.vec_id, e.v, c.cluster,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY round({_fold_cos('e.v', 'c.cv')}, 6) DESC,
                                    c.cluster) AS rn
                FROM e CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        q AS (
            SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {KNN_QUERIES}
        ),
        probe AS (
            SELECT q_id, qv, cluster FROM (
                SELECT q.q_id, q.qv, c.cluster,
                       row_number() OVER (PARTITION BY q.q_id
                           ORDER BY round({_fold_cos('q.qv', 'c.cv')}, 6) DESC,
                                    c.cluster) AS pr
                FROM q CROSS JOIN cents c
            ) WHERE pr <= {IVF_PROBES}
        ),
        scored AS (
            SELECT p.q_id, a2.vec_id,
                   round({_fold_cos('p.qv', 'a2.v')}, 6) AS cosine
            FROM probe p JOIN a2 USING (cluster)
            WHERE a2.vec_id <> p.q_id
        )
        SELECT q_id, vec_id, cosine, rk FROM (
            SELECT q_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY cosine DESC, vec_id) AS rk
            FROM scored
        ) WHERE rk <= {KNN_K}
    """,
}


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-quality evaluation as a first-class query: per query vector,
    recall@k of the multiprobe-LSH kNN against brute-force truth — the
    number an ANN operator is actually judged by before it replaces
    exact search at 100 TB. Both sides are the registered queries
    themselves; the oracle composes their two existing DuckDB replays,
    so the measured recall (not a constant) is hash-checked end to end.

    Scale shape: both inputs are top-k tables (queries×k rows); the
    confusion join and per-query aggregate are trivially small — the
    cost is the two ANN pipelines, each already scale-shaped."""
    exact = knn_bruteforce_topk(spark, sf_dir).select("q_id", "vec_id")
    approx = ann_lsh_query_topk(spark, sf_dir).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    )
    joined = exact.join(approx, ["q_id", "vec_id"], "left")
    return (
        joined.groupBy("q_id")
        .agg(
            bigint(F.count("*")).alias("k"),
            bigint(F.sum(F.coalesce(F.col("hit"), F.lit(0)))).alias("n_hit"),
        )
        .withColumn("recall_at_k", F.col("n_hit") * F.lit(1.0) / F.col("k"))
        .orderBy("q_id")
    )


ORACLES["embed_binary_quantize"] = f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    s AS (
        SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
               CAST(len([i FOR i IN range(1, 65)
                         IF (q.v[i] > 0) != (c.v[i] > 0)]) AS BIGINT)
                   AS hamming,
               round(list_dot_product(c.v, q.v) /
                     (sqrt(list_dot_product(c.v, c.v)) *
                      sqrt(list_dot_product(q.v, q.v))), 6) AS cosine
        FROM e q JOIN e c
          ON q.vec_id < {KNN_QUERIES} AND c.vec_id != q.vec_id
    ),
    th AS (
        SELECT q_id, vec_id, hamming FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY hamming, vec_id) AS hrk
            FROM s
        ) WHERE hrk <= {BQ_K}
    ),
    tc AS (
        SELECT q_id, vec_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS crk
            FROM s
        ) WHERE crk <= {BQ_K}
    ),
    ov AS (
        SELECT th.q_id, count(*) AS o
        FROM th JOIN tc USING (q_id, vec_id) GROUP BY th.q_id
    )
    SELECT th.q_id,
           CAST(coalesce(max(ov.o), 0) AS BIGINT) AS overlap_k,
           CAST(min(th.hamming) AS BIGINT) AS min_hamming,
           CAST(max(th.hamming) AS BIGINT) AS max_hamming
    FROM th LEFT JOIN ov ON th.q_id = ov.q_id
    GROUP BY th.q_id
    ORDER BY th.q_id
"""

QUERIES["ann_recall_eval"] = ann_recall_eval
ORACLES["ann_recall_eval"] = f"""
    WITH exact AS ({ORACLES["knn_bruteforce_topk"]}),
    approx AS ({ORACLES["ann_lsh_query_topk"]})
    SELECT e.q_id, CAST(count(*) AS BIGINT) AS k,
           CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit,
           sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
               / count(*) AS recall_at_k
    FROM exact e LEFT JOIN approx a
      ON e.q_id = a.q_id AND e.vec_id = a.vec_id
    GROUP BY e.q_id ORDER BY e.q_id
"""


# stage-by-stage SemDeDup replay: the identical IVF clustering CTEs
# (seed -> rounded-cosine argmax -> one 9-decimal Lloyd round ->
# reassign), then QUALIFY-free capped within-cluster pairs and the
# keep-first prune count. Same 6-decimal pair cosine, same vec_id
# ranking for the cap, overflow mirrored exactly. The CTE block is
# shared with the recall-eval oracle below, which composes it with the
# all-pairs flat truth replay.
_SEMDEDUP_CTES = f"""
    e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    seed AS (
        SELECT CAST(vec_id AS INTEGER) AS cluster, v AS cv
        FROM e WHERE vec_id < {IVF_CLUSTERS}
    ),
    a1 AS (
        SELECT vec_id, v, cluster FROM (
            SELECT e.vec_id, e.v, s.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round({_fold_cos('e.v', 's.cv')}, 6) DESC,
                                s.cluster) AS rn
            FROM e CROSS JOIN seed s
        ) WHERE rn = 1
    ),
    cd AS (
        SELECT cluster, i AS dim, round(avg(v[i]), 9) AS m
        FROM a1, generate_series(1, 64) t(i)
        GROUP BY 1, 2
    ),
    cents AS (
        SELECT cluster, list(m ORDER BY dim) AS cv FROM cd GROUP BY cluster
    ),
    a2 AS (
        SELECT vec_id, v, cluster FROM (
            SELECT e.vec_id, e.v, c.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round({_fold_cos('e.v', 'c.cv')}, 6) DESC,
                                c.cluster) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    capped AS (
        SELECT vec_id, v, cluster FROM (
            SELECT vec_id, v, cluster,
                   row_number() OVER (PARTITION BY cluster
                                      ORDER BY vec_id) AS rnk
            FROM a2
        ) WHERE rnk <= {SEMDEDUP_CLUSTER_CAP}
    ),
    pairs AS (
        SELECT a.cluster, b.vec_id AS victim
        FROM capped a JOIN capped b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE round({_fold_cos('a.v', 'b.v')}, 6) >= {SEMDEDUP_TAU!r}
    )"""

ORACLES["dedup_semantic_cluster"] = f"""
    WITH {_SEMDEDUP_CTES},
    pc AS (
        SELECT cluster, count(*) AS n_dup_pairs,
               count(DISTINCT victim) AS n_pruned
        FROM pairs GROUP BY cluster
    ),
    m AS (SELECT cluster, count(*) AS n_members FROM a2 GROUP BY cluster)
    SELECT CAST(m.cluster AS BIGINT) AS cluster,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(coalesce(n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(coalesce(n_pruned, 0) AS BIGINT) AS n_pruned,
           CAST(greatest(n_members - {SEMDEDUP_CLUSTER_CAP}, 0) AS BIGINT)
               AS n_overflow
    FROM m LEFT JOIN pc USING (cluster) ORDER BY m.cluster
"""

# composed replay for the boundary-miss eval: the SemDeDup stage CTEs
# (above) give the semantic victim set; the flat truth is the same
# all-pairs spelling as the dedup_embedding_cosine oracle at the
# identical τ; the confusion counts mirror the Spark full-outer join.
# The eval's precision-is-1 contract (fp = 0) is hash-checked like any
# other column.
ORACLES["dedup_semantic_recall_eval"] = f"""
    WITH {_SEMDEDUP_CTES},
    sem AS (SELECT DISTINCT victim AS vec_id FROM pairs),
    truth AS (
        SELECT DISTINCT b.vec_id AS vec_id
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) *
                     sqrt(list_dot_product(b.v, b.v))), 6) >= {SEMDEDUP_TAU!r}
    ),
    conf AS (
        SELECT coalesce(t.vec_id, s.vec_id) AS vec_id,
               t.vec_id IS NOT NULL AS in_truth,
               s.vec_id IS NOT NULL AS in_sem
        FROM truth t FULL OUTER JOIN sem s ON t.vec_id = s.vec_id
    ),
    c AS (
        SELECT sum(CASE WHEN in_truth AND in_sem THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN NOT in_truth AND in_sem THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN in_truth AND NOT in_sem THEN 1 ELSE 0 END) AS fn
        FROM conf
    )
    SELECT CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CASE WHEN tp + fp > 0
                THEN round(tp * 1.0 / (tp + fp), 6) END AS precision_ratio,
           CASE WHEN tp + fn > 0
                THEN round(tp * 1.0 / (tp + fn), 6) END AS recall_ratio
    FROM c
"""

# SEMDEDUP_TAU must stay equal to the flat path's threshold or the
# eval compares two different dedup contracts; fail at import, not in
# a driver round
from eventstream_benchmark_spark.operators.dedup import COSINE_DUP_THRESHOLD

assert SEMDEDUP_TAU == COSINE_DUP_THRESHOLD

# the sweep floor must cover every sweep point or sub-floor taus would
# read an artificially truncated pair table
assert min(SWEEP_TAUS) >= COSINE_DUP_THRESHOLD

from eventstream_benchmark_spark.operators.dedup import (  # noqa: E402
    ORACLES as _DEDUP_ORACLES,
)

_TAU_LIST = ", ".join(str(t) for t in SWEEP_TAUS)
# the sweep oracle replays the identical all-pairs truth the flat
# embedding-cosine oracle uses, then counts per explicit-double tau
ORACLES["dedup_threshold_sweep"] = f"""
    WITH pairs AS ({_DEDUP_ORACLES["dedup_embedding_cosine"]}),
    taus AS (SELECT CAST(unnest([{_TAU_LIST}]) AS DOUBLE) AS tau),
    hit AS (
        SELECT tau, v1, v2 FROM pairs JOIN taus ON cosine >= tau
    ),
    np AS (
        SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs
        FROM hit GROUP BY 1
    ),
    nd AS (
        SELECT tau, CAST(count(DISTINCT vid) AS BIGINT) AS n_docs
        FROM (SELECT tau, v1 AS vid FROM hit
              UNION ALL SELECT tau, v2 FROM hit)
        GROUP BY 1
    )
    SELECT t.tau, coalesce(n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
           coalesce(n_docs, CAST(0 AS BIGINT)) AS n_docs
    FROM taus t LEFT JOIN np USING (tau) LEFT JOIN nd USING (tau)
    ORDER BY t.tau
"""
