"""Deduplication pack over ``documents`` / ``embeddings`` (north-star ops).

Six dedup families, each a ``queries()`` entry — ALL hash-oracled as
of round 5:

- exact text dedup (md5 hash-groupBy) — oracle ✓
- word-3-gram Jaccard near-dup pairs (exact, capped shingle
  equi-join) — oracle ✓; plus the asymmetric CONTAINMENT variant for
  partial duplicates — oracle ✓
- MinHash+LSH near-dup (exact-dup collapse → capped shingles →
  minhash → band → bucket-join → exact verify → output-sized
  expansion) — oracle ✓ against the all-pairs exact query: with
  128 perms in 32 bands × 4 rows, P(miss | J ≥ 0.8) = (1-0.8⁴)³² ≈
  5e-8, candidates are verified exactly, and the collapse is
  output-equal by construction, so LSH output == all-pairs output
- SimHash bucketing — oracle ✓ (md5-derived bucket bits DuckDB can
  replay); the xxhash64 production variant stays test-verified
- embedding-cosine near-dup pairs (exact-dup collapse → banded
  hyperplane-LSH on representatives → batched fold-order verify →
  output-sized expansion) — oracle ✓ against the all-pairs SQL plus
  per-fixture zero-missed-pairs certification

Scale notes: every pair path runs behind the DOCFREQ_CAP stop-shingle
cap (bounded per-key join fanout); the 100 TB text path is
MinHash-LSH, whose only shuffles are (band_id, band_sig) groupBys —
no cross join anywhere; the embedding path collapses exact-duplicate
vectors before LSH so duplicate-flooded corpora cannot create hot
buckets (the measured sf1 585 s → 10.7 s lesson).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstream_benchmark_spark.io import load_table
from eventstream_benchmark_spark.operators._cache import (
    scoped_persist,
    shared_persist,
)
from eventstream_benchmark_spark.operators._util import bigint, null_safe_div, r6

SHINGLE_K = 3
JACCARD_THRESHOLD = 0.8
N_PERM = 128
LSH_BANDS = 32  # x 4 rows/band
COSINE_DUP_THRESHOLD = 0.45
# Stop-shingle cap for the Jaccard family: a shingle shared by k docs
# contributes O(k²) rows to any shingle equi-join, so one boilerplate
# 3-gram at 100 TB (k in the millions) is an unbounded hot key.
# Dropping shingles with doc-frequency > DOCFREQ_CAP before any pair
# logic bounds the per-shingle fanout at CAP²/2 pairs (standard
# stop-word practice for near-dup mining; ultra-common shingles carry
# no discriminative signal at a 0.8 threshold).  256 is invisible on
# every fixture (measured max docfreq: 7 at sf0.01, 25 at sf0.1, ~250
# on the 10x duplicate-flooded sf1 lane) and the same constant is
# folded into the DuckDB oracle, so Spark and the oracle always see
# identical shingle sets.
DOCFREQ_CAP = 256



_SLICE_ALL = 1 << 30  # slice() length is clamped to the array end


def _shingles(text_col) -> "F.Column":
    """Distinct word-3-gram shingle strings of the lowercased text.

    Built by zipping the token array with its 1- and 2-shifted slices
    (``concat`` propagates the nulls zip_with pads with, so the two
    ragged tail positions drop in the null filter). The earlier
    index-based form (``transform(sequence(0, n-3), i -> get(toks,
    i+off))``) inlined the ``split`` into every lambda element —
    ~3·n re-splits of the full text per row, the Catalyst
    lambda-inlining trap — and was 5.5 s of the 6.5 s sf0.1 LSH wall.
    Here ``split`` appears only outside lambdas (3 structurally equal
    subtrees, deduped by codegen subexpression elimination)."""
    toks = F.split(F.lower(text_col), " ")
    pair = F.zip_with(
        toks, F.slice(toks, 2, _SLICE_ALL), lambda x, y: F.concat(x, F.lit("_"), y)
    )
    tri = F.zip_with(
        pair, F.slice(toks, 3, _SLICE_ALL), lambda xy, z: F.concat(xy, F.lit("_"), z)
    )
    return F.array_distinct(F.filter(tri, lambda g: g.isNotNull()))


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (doc_id, shingles) table.

    ``persist()`` is load-bearing, not an optimization nicety: without a
    barrier, Catalyst's CollapseProject inlines the whole shingle
    expression into every lambda element of downstream higher-order
    functions (128 minhash perms x 32 bands), re-splitting the text
    hundreds of thousands of times per row. At scale this is the
    classic "materialize the signature table" step of a MinHash
    pipeline; identical plans share one cache entry. Registered with the
    scoped-persist registry so the next query releases it.
    """
    return _shingle_table(load_table(spark, sf_dir, "documents"))


def _shingle_table(docs: DataFrame) -> DataFrame:
    """``_doc_shingles`` over an arbitrary (doc_id, text) frame — the
    parameterized entry composed pipelines use (e.g. MinHash after an
    exact-dedup stage has already collapsed identical texts)."""
    return scoped_persist(
        docs.filter(F.size(F.split(F.lower("text"), " ")) >= SHINGLE_K)
        .select("doc_id", _shingles(F.col("text")).alias("shingles"))
    )


def _capped_shingles_grouped(groups: DataFrame) -> DataFrame:
    """:func:`_capped_shingles` over the exact-dup collapse's GROUPS
    frame (ltext, rep_id, weight), with document frequency counted per
    original document: each representative row stands for ``weight``
    identical texts, so the stop-shingle aggregate sums weights
    instead of counting rows. Identical texts have identical shingle
    sets, so the weighted df over representatives equals the plain df
    over the full corpus exactly — the hot-shingle set (and therefore
    every downstream jaccard value) is unchanged by the collapse.

    Round 13 (optimization): shingles explode straight off the
    persisted groups frame — the earlier reps/weights split re-JOINED
    two projections of the same aggregate and persisted an
    intermediate per-rep shingle-array table that the cap stage
    immediately re-exploded (one join + one persist + one pass of pure
    overhead, ~0.7 s of the sf0.1 LSH wall).  The explode (a Generate
    node) evaluates the shingle expression once per rep row, so the
    Catalyst lambda-inlining trap the old array persist guarded
    against (see :func:`_doc_shingles`) cannot arise: nothing
    downstream consumes the ARRAY, only the exploded scalars."""
    exploded = (
        groups.filter(F.size(F.split(F.lower("ltext"), " ")) >= SHINGLE_K)
        .select(
            F.col("rep_id").alias("doc_id"),
            "weight",
            F.explode(_shingles(F.col("ltext"))).alias("s"),
        )
    )
    hot = (
        exploded.groupBy("s")
        .agg(F.sum("weight").alias("df"))
        .filter(F.col("df") > DOCFREQ_CAP)
        .select("s")
    )
    kept = exploded.join(hot, "s", "left_anti")
    return scoped_persist(
        kept.groupBy("doc_id").agg(F.collect_list("s").alias("shingles"))
    )


def _capped_shingles(sh: DataFrame) -> DataFrame:
    """Stop-shingle removal for the Jaccard family (see DOCFREQ_CAP).

    Anti-join form, the shape that survives 100 TB: one docfreq
    aggregate over the exploded shingles (map-side combine), a
    left-anti join against the hot-shingle set (tiny relative to the
    corpus — only shingles above the cap; AQE broadcasts it when it
    fits), then rebuild the per-doc arrays.  A broadcast one-row
    hot-list array would avoid the rebuild shuffle but puts an
    unbounded string list in a single row — wrong at scale.  Docs
    whose every shingle is hot drop out entirely (no discriminative
    content left), identically on both engines.  Persisted: the table
    feeds sizes + the pair join (ngram) or signatures + verify arrays
    (MinHash)."""
    exploded = sh.select("doc_id", F.explode("shingles").alias("s"))
    hot = (
        exploded.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > DOCFREQ_CAP)
        .select("s")
    )
    kept = exploded.join(hot, "s", "left_anti")
    return scoped_persist(
        kept.groupBy("doc_id").agg(F.collect_list("s").alias("shingles"))
    )


# --------------------------------------------------------------------------
# exact dedup by content hash
# --------------------------------------------------------------------------


PREFIX_TOKENS = 8  # normalization window: docs sharing the first 8 tokens


def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups by md5 of the normalized 8-token prefix:
    hash-groupBy, the exact dedup primitive (one shuffle on the
    32-char digest). The prefix normalization is what makes the
    operator non-trivial on the fixture corpus (full-text md5 finds
    zero duplicates there)."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws(" ", F.slice(F.split(F.lower("text"), " "), 1, PREFIX_TOKENS)))
    return (
        docs.groupBy(key.alias("content_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


URL_PATH_MOD = 100  # planted path collisions: multiple of the 20 sources


def dedup_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the web-crawl dedup that runs
    BEFORE any content hash: lowercase host/path, strip tracking
    params (utm_*, ref), strip trailing slash, then hash-group by the
    canonical URL keeping the lowest doc_id.

    The fixture has no URL column, so a deterministic in-plan step
    plants one per document with realistic messiness (mixed case,
    utm/ref query strings, trailing slashes) and path collisions every
    ``URL_PATH_MOD`` doc_ids — the modulus is a multiple of the 20
    sources so colliding docs share a host, while the mod-3 case/param
    markers differ inside a group, so every duplicate group exercises
    the normalizer (``n_variants > 1``). The DuckDB oracle replays the
    same plant + normalization.

    Scale shape: per-row regex chain fused into the scan, one shuffle
    on the canonical URL — identical cost class to ``dedup_exact_text``.
    """
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.col("source"),
        F.lit(".Example.COM/Docs/"),
        (F.col("doc_id") % URL_PATH_MOD).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed&utm_campaign=x"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?ref=home"))
        .otherwise(F.lit("")),
    )
    norm = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), "(utm_[a-z_]+|ref)=[^&]*&?", ""),
            "[?&]+$",
            "",
        ),
        "/$",
        "",
    )
    return (
        docs.select("doc_id", url.alias("url"), norm.alias("norm_url"))
        .groupBy("norm_url")
        .agg(
            bigint(F.count("*")).alias("n_copies"),
            bigint(F.count_distinct("url")).alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("norm_url")
    )


# --------------------------------------------------------------------------
# exact n-gram Jaccard pairs (the oracle shape)
# --------------------------------------------------------------------------


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All near-dup pairs with word-3-gram Jaccard ≥ 0.8, computed
    exactly: stop-shingle cap (DOCFREQ_CAP) → explode shingles →
    equi-join on shingle → per-pair intersection counts → filter.
    The cap bounds the per-shingle join fanout at CAP²/2, so the
    "quadratic in docs-per-shingle" shape is capped-constant per key;
    the LSH variant below is still the preferred scale path (its
    bucket joins touch candidates only, not every co-shingled pair)."""
    stats = _pair_intersections(_capped_shingles(_doc_shingles(spark, sf_dir)))
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return (
        stats.withColumn("jaccard", r6(jac))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("d1", "d2", "jaccard")
    )


def _pair_intersections(sh: DataFrame) -> DataFrame:
    """(d1, d2, inter, n1, n2) over a prepared capped-shingle table —
    the exact pairwise machinery shared by ``dedup_ngram_jaccard``,
    ``dedup_containment_ngram``, and ``dedup_recall_eval``'s truth
    side, factored so a change to the pair-join shape (the DOCFREQ_CAP
    anti-join, the d1 < d2 orientation, the inter aggregate) cannot
    silently desynchronize the score variants."""
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    exploded = sh.select("doc_id", F.explode("shingles").alias("s"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    return inter.join(s1, "d1").join(s2, "d2")


# --------------------------------------------------------------------------
# shingle containment (partial-duplicate pairs)
# --------------------------------------------------------------------------


CONTAINMENT_THRESHOLD = 0.9


def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-duplicate pairs by shingle CONTAINMENT ≥ 0.9:
    ``|A∩B| / min(|A|, |B|)`` — the asymmetric companion to Jaccard
    that catches a short document embedded inside a longer one (quote
    farms, boilerplate-wrapped copies), which symmetric Jaccard
    misses because the union term dilutes the score. Same capped
    shingle equi-join shape as ``dedup_ngram_jaccard`` (stop-shingle
    cap bounds the per-key fanout; one shuffle on shingle, one on the
    pair key), so the plan scales identically."""
    stats = _pair_intersections(_capped_shingles(_doc_shingles(spark, sf_dir)))
    containment = F.col("inter") / F.least("n1", "n2")
    return (
        stats.withColumn("containment", r6(containment))
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("d1", "d2", "containment")
    )


# --------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# --------------------------------------------------------------------------


_MASK31 = (1 << 31) - 1


def _perm_consts() -> list[tuple[int, int]]:
    """N_PERM deterministic (a, b) pairs, a odd: π_k(h) = (a_k·h + b_k)
    mod 2³¹ is a bijection of the 31-bit hash space (odd multiplier),
    so each k is a genuine pseudo-random permutation and the k
    permutations are decorrelated by independent constants — the
    datasketch-style family. (A shared-slope family h + k·b was tried
    first and LOSES RECALL: the per-k minimum then tracks the lower
    envelope of n lines, so only a handful of shingles ever achieve
    the min and signature agreement no longer estimates Jaccard.)
    Plain xorshift at plan-build time, embedded as literals."""
    consts = []
    x = 0x9E3779B97F4A7C15
    for _ in range(N_PERM):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        a = (x & _MASK31) | 1
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        consts.append((a, x & _MASK31))
    return consts


def _minhash_mh_udf():
    """128-permutation min fold over a per-doc array of 31-bit base
    hashes, Arrow-vectorized (the ``_simhash_udf`` lesson applied to
    the signature build): the relational form — explode + one
    groupBy(doc_id) with 128 ``min(a_k·h + b_k mod 2³¹)`` aggregates —
    spent ~8 µs per shingle row in the aggregate's interpreted buffer
    updates (measured 2.0 s for 260k shingle rows at sf0.1, wide
    aggregates fall outside whole-stage codegen), while NumPy runs the
    identical uint64 arithmetic in perm-blocks over a whole Arrow
    batch.  All products stay under 2⁶² (a, b, h < 2³¹), so uint64
    never wraps and every signature value is bit-identical to the
    aggregate form; the per-shingle hash stays Spark's xxhash64."""
    import numpy as np

    consts = _perm_consts()
    A = np.array([a for a, _ in consts], dtype=np.uint64)
    B = np.array([b for _, b in consts], dtype=np.uint64)
    mask = np.uint64(_MASK31)

    @F.pandas_udf("array<long>")
    def mh_of(hs: pd.Series) -> pd.Series:
        n = len(hs)
        if n == 0:
            return pd.Series([], dtype=object)
        vals = [np.asarray(a, dtype=np.uint64) for a in hs]
        lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=n)
        if (lens == 0).any():
            # reduceat silently misreads empty segments; shingle rows
            # are non-empty by construction, so fail loudly if not
            raise ValueError("minhash signature over an empty shingle set")
        flat = np.concatenate(vals)
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        mins = np.empty((n, N_PERM), dtype=np.int64)
        blk = 16  # bounds the (blk x total_shingles) temp to ~64 MB/batch
        for lo in range(0, N_PERM, blk):
            m = (A[lo : lo + blk, None] * flat[None, :] + B[lo : lo + blk, None]) & mask
            mins[:, lo : lo + blk] = np.minimum.reduceat(m, offsets, axis=1).T
        return pd.Series(list(mins))

    return mh_of


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, mh): the 128-permutation minhash signature — each
    shingle hashed ONCE in the JVM (31-bit base hash via xxhash64,
    one vectorized call per element), the 128 affine mins folded in
    an Arrow-batched NumPy UDF (see :func:`_minhash_mh_udf` for the
    measured rationale; values are bit-identical to the former
    128-``min``-aggregate spelling).  No shuffle: the input is the
    already per-doc shingle table, so the signature build is a pure
    map stage.

    CONTRACT: every ``shingles`` array must be non-empty — the UDF
    raises on an empty segment (``np.minimum.reduceat`` would
    silently misread it) where the retired relational form dropped
    such docs. Both current callers feed ``collect_list`` outputs,
    non-empty by construction; a future caller passing a raw/uncapped
    shingle table must pre-filter ``size(shingles) > 0`` (r13
    advice)."""
    hs = F.transform("shingles", lambda s: F.xxhash64(s).bitwiseAND(F.lit(_MASK31)))
    return sh.select("doc_id", _minhash_mh_udf()(hs).alias("mh"))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash-LSH with exact verification.

    exact-dup collapse (identical normalized texts → representative) →
    stop-shingle cap (df weighted by group size) → shingle → 128
    affine permutations → 32 bands of 4 rows → groupBy (band,
    signature) bucket join → candidate pairs → exact Jaccard via
    array_intersect → threshold → output-sized expansion back to
    member pairs. Output equals the all-pairs oracle (recall loss
    ≈ 5e-8 at J ≥ 0.8; the collapse is output-equal by construction —
    see :func:`_minhash_pairs_collapsed`).

    The verified near-dup pair set (d1, d2, jaccard) is materialized
    ONCE per (session, fixture) through the family-shared persist —
    the same amortization the basket-graph family applies to its
    co-purchase edge build (``graph._edge_base``). Three registered
    queries consume the identical pair set: ``dedup_minhash_lsh``
    emits it, ``dedup_cluster_cc`` runs connected components over it,
    and ``dedup_recall_eval`` confusion-joins it against the exact
    all-pairs truth — previously each paid the full shingle→signature→
    band-join→verify chain (~10 s of cluster_cc's 13.7 s at sf1 was
    this rebuild). At 100 TB the verified pair table is exactly the
    artifact a corpus-dedup pipeline materializes once and feeds to
    clustering/eval/pruning stages; the persist is output-sized
    (pairs, not corpus)."""
    return shared_persist(
        spark, sf_dir, "minhash_pairs",
        lambda: _minhash_pairs_collapsed(spark, sf_dir),
    )


def _minhash_pairs_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate collapse in front of the MinHash chain (round-7
    verdict #3 — the ``dedup_embedding_cosine`` shape applied to text):

    1. group identical ``lower(text)`` values to a representative (one
       shuffle on the normalized text — shingles are a pure function of
       it, so every member shares the representative's shingle set,
       signature, and band buckets);
    2. shingle + stop-shingle-cap the REPRESENTATIVES only, with df
       weighted by group size (:func:`_capped_shingles_grouped` — the
       hot set equals the uncollapsed corpus's exactly);
    3. run the unchanged LSH candidate→verify chain over
       representatives (:func:`_minhash_pairs`);
    4. expand back to member pairs: within a group every pair has
       jaccard exactly 1.0 (identical shingle sets — n/(n+n−n)), and
       across two near-dup groups every member cross-pair inherits the
       representative pair's jaccard bit-for-bit (same arrays, same
       double arithmetic). Both expansions are output-sized equi-joins.

    Output equality with the uncollapsed chain is structural, not
    probabilistic: members' signatures are identical to their
    representative's, so banding finds a member pair iff it finds the
    representative pair, and verification computes the same doubles.
    The all-pairs DuckDB oracle is unchanged. What changes is scale
    behavior: a 10× duplicate flood (sf1 lane; million-member exact-dup
    cliques in a 100 TB crawl) no longer multiplies band-bucket
    occupancy — the quadratic clique cost moves from the bucket join
    (corpus-sized inputs) to the expansion join (output-sized).

    Round 10: steps 1-3 live in :func:`_collapse_family` (family-
    shared), because the cluster assignment now consumes the
    REPRESENTATIVE-level pieces directly rather than this expanded
    pair set — see :func:`_cc_labels_shared`."""
    rep_pairs, membership = _collapse_family(spark, sf_dir)
    copies = membership.select("rep_id", "doc_id")

    # within-group pairs: identical texts ⇒ identical shingle sets ⇒
    # J = n/(n+n−n) = 1.0 exactly (the oracle's round(1.0, 6)); emitted
    # only when the representative SURVIVES the shingle pipeline (≥ K
    # tokens and ≥ 1 non-hot shingle — all-hot docs drop from pairs on
    # both engines; the flag rides the membership table)
    c1, c2 = membership.alias("c1"), copies.alias("c2")
    within = (
        c1.join(
            c2,
            (F.col("c1.rep_id") == F.col("c2.rep_id"))
            & (F.col("c1.doc_id") < F.col("c2.doc_id")),
        )
        .filter(F.col("c1.survived"))
        .select(
            F.col("c1.doc_id").alias("d1"),
            F.col("c2.doc_id").alias("d2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # across-group pairs: every member of d1's group × every member of
    # d2's group, oriented by id, carrying the representative jaccard
    across = (
        rep_pairs.join(
            copies.select(F.col("rep_id").alias("d1"), F.col("doc_id").alias("a")),
            "d1",
        )
        .join(
            copies.select(F.col("rep_id").alias("d2"), F.col("doc_id").alias("b")),
            "d2",
        )
        .select(
            F.least("a", "b").alias("d1"),
            F.greatest("a", "b").alias("d2"),
            "jaccard",
        )
    )
    return within.unionAll(across)


def _collapse_family(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The exact-dup-collapsed MinHash chain's two family-shared
    building blocks, built once per (session, fixture):

    - ``rep_pairs`` — (d1, d2, jaccard): verified near-dup pairs over
      exact-duplicate REPRESENTATIVES only (the full
      shingle→cap→signature→band→verify chain of
      :func:`_minhash_pairs`, run on one row per distinct text);
    - ``membership`` — (rep_id, doc_id, weight, survived): one row per
      document mapping it to its group's representative, with the
      group size and whether the representative survived the shingle
      pipeline (≥ SHINGLE_K tokens and ≥ 1 non-hot shingle).

    Two consumers: :func:`_minhash_pairs_collapsed` expands these to
    the member-level pair set, and :func:`_cc_labels_shared` runs
    connected components over the REP-level edges and joins labels out
    through ``membership`` — the round-10 fix for the sf1 regression
    the round-9 membership rewrite introduced (CC was iterating over
    member-expanded pairs, so a 10×-flood clique of m copies re-entered
    every propagation round as m²/2 edges; at rep level it is one
    node). Neither frame carries a member ARRAY (round-8 verdict #3):
    weight is a count, membership is relational rows.

    Both frames ride one persisted ``groups`` aggregate, so they are
    ONE shared entry (family ``minhash_rep_pairs``), built and released
    together."""
    def _build() -> tuple[DataFrame, DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        keyed = docs.select(F.lower("text").alias("ltext"), "doc_id")
        groups = scoped_persist(
            keyed.groupBy("ltext").agg(
                F.min("doc_id").alias("rep_id"),
                F.count("*").alias("weight"),
            )
        )
        sh = _capped_shingles_grouped(groups)
        rep_pairs = _minhash_pairs(sh)
        survived = sh.select(
            F.col("doc_id").alias("rep_id"), F.lit(True).alias("survived")
        )
        membership = (
            keyed.join(groups.select("ltext", "rep_id", "weight"), "ltext")
            .join(survived, "rep_id", "left")
            .select(
                "rep_id",
                "doc_id",
                "weight",
                F.coalesce("survived", F.lit(False)).alias("survived"),
            )
        )
        return rep_pairs, membership

    return shared_persist(spark, sf_dir, "minhash_rep_pairs", _build)


def _band_sig_explode() -> "F.Column":
    """The (band_id, band_sig) posexplode over a ``mh`` signature
    column: LSH_BANDS hashes of consecutive N_PERM//LSH_BANDS-row
    signature slices. ONE definition shared by the full-pass chain
    (:func:`_minhash_pairs`) and the incremental probe
    (:func:`dedup_minhash_incremental`) — the probe bands a batch
    against what is, at scale, the corpus's STORED band index, so the
    banding parameters and hash must be structurally unable to drift
    between the two (round-9 advisor finding)."""
    rows = N_PERM // LSH_BANDS
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
            lambda bnd: F.hash(F.slice(F.col("mh"), bnd * rows + 1, rows)),
        )
    ).alias("band_id", "band_sig")


def _minhash_pairs(sh: DataFrame) -> DataFrame:
    """The LSH candidate-generation + exact-verify chain over a
    prepared shingle table — shared by ``dedup_minhash_lsh`` (whole
    corpus) and ``pipeline_dedup_ordered`` (exact-dedup survivors)."""
    # persist the signature table: referenced once per band below, and
    # the barrier keeps the signature aggregate from being re-run 32x
    sig = scoped_persist(_minhash_signatures(sh))
    bands = sig.select("doc_id", _band_sig_explode())
    left = bands.alias("l")
    right = bands.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("d1"), F.col("r.doc_id").alias("d2"))
        .distinct()
    )
    sets1 = sh.select(F.col("doc_id").alias("d1"), F.col("shingles").alias("sh1"))
    sets2 = sh.select(F.col("doc_id").alias("d2"), F.col("shingles").alias("sh2"))
    verified = (
        candidates.join(sets1, "d1")
        .join(sets2, "d2")
        .withColumn("inter", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn(
            "jaccard",
            r6(F.col("inter") / (F.size("sh1") + F.size("sh2") - F.col("inter"))),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified.select("d1", "d2", "jaccard")


def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection — today's crawl batch probed
    against the standing corpus index, the asymmetric join a
    production dedup pipeline runs daily instead of re-mining all
    corpus × corpus pairs. The fixture's doc_id parity stands in for
    the split: odd ids are the incoming batch, even ids the indexed
    corpus (deterministic, both engines replay it).

    The PLAN SHAPE is the point: band signatures for both sides (at
    scale the corpus side's signatures and band buckets are the stored
    index — recomputing them here is fixture pragmatism, documented),
    then a band-bucket equi-join of batch → corpus ONLY — no
    corpus × corpus candidate is ever generated and there is no
    ``d1 < d2`` self-join — exact-Jaccard verification of the
    cross-side candidates, threshold. Work per increment is
    O(batch bands + probed buckets), independent of |corpus|², which
    is what makes daily dedup affordable at 100 TB.

    Output: (batch_doc, corpus_doc, jaccard). Equals the full-pass
    ``dedup_minhash_lsh`` pair set filtered to opposite-parity pairs
    and re-oriented batch-first (pinned by a structural test); the
    DuckDB oracle is the capped-shingle all-pairs Jaccard with the
    same parity join condition.

    The exact-dup collapse runs here too (a duplicate-flooded
    INCREMENT would otherwise re-create exactly the hot-band-bucket
    quadratic the full pass retired): identical texts group to a
    representative; the asymmetric band join runs between reps whose
    group contains ≥ 1 batch member and reps whose group contains
    ≥ 1 corpus member; member pairs come back via output-sized
    parity-filtered expansion joins — an ordered rep pair (r1, r2)
    expands to odd(r1) × even(r2), and a MIXED group's own batch ×
    corpus members pair at J = 1.0 exactly (identical shingle sets),
    gated on the representative surviving the shingle pipeline, the
    same rule as the full pass. sf1 flood-probed.

    Round 11: the whole collapse→band-probe→verify→expand chain is
    factored into :func:`_asymmetric_member_pairs` — the fuzzy
    decontamination pass (``text.decontaminate_fuzzy_minhash``) probes
    the EVAL split against the train corpus with the identical shape,
    and sharing the builder makes probe-parameter drift between the
    two structurally impossible (the `_band_sig_explode` rule)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _asymmetric_member_pairs(
        docs,
        probe=(F.col("doc_id") % 2) == 1,
        corpus=(F.col("doc_id") % 2) == 0,
    )
    return pairs.select(
        F.col("probe_doc").alias("batch_doc"),
        F.col("corpus_doc"),
        "jaccard",
    ).orderBy("batch_doc", "corpus_doc")


def _asymmetric_member_pairs(
    docs: DataFrame, probe: Column, corpus: Column
) -> DataFrame:
    """(probe_doc, corpus_doc, jaccard): verified near-dup pairs from
    one side of a disjoint document partition (``probe``) against the
    other (``corpus``) — band buckets joined probe→corpus ONLY, no
    corpus×corpus candidate ever generated. ``probe``/``corpus`` are
    boolean expressions over the ``documents`` columns and MUST be
    disjoint (a doc on both sides would pair with itself at J=1.0).
    Exact-dup collapse, weighted stop-shingle cap, mixed-group 1.0
    expansion, and the rep-survival gate all match the full-pass
    chain; see :func:`dedup_minhash_incremental` for the plan-shape
    rationale. Not ordered — callers add presentation sorts."""
    keyed = docs.select(
        F.lower("text").alias("ltext"),
        "doc_id",
        probe.cast("int").alias("is_p"),
        corpus.cast("int").alias("is_c"),
    )
    groups = scoped_persist(
        keyed.groupBy("ltext").agg(
            F.min("doc_id").alias("rep_id"),
            F.count("*").alias("weight"),
            F.max("is_p").alias("has_batch"),
            F.max("is_c").alias("has_corpus"),
        )
    )
    sh = _capped_shingles_grouped(groups)
    sig = scoped_persist(_minhash_signatures(sh))
    bands = sig.select("doc_id", _band_sig_explode()).join(
        groups.select(
            F.col("rep_id").alias("doc_id"), "has_batch", "has_corpus"
        ),
        "doc_id",
    )
    b_side = bands.filter(F.col("has_batch") == 1).alias("b")
    c_side = bands.filter(F.col("has_corpus") == 1).alias("c")
    # ordered candidate (r1 = batch-bearing rep, r2 = corpus-bearing
    # rep); both orientations of a mixed/mixed pair appear, each
    # expanding to its own disjoint member pairs
    candidates = (
        b_side.join(
            c_side,
            (F.col("b.band_id") == F.col("c.band_id"))
            & (F.col("b.band_sig") == F.col("c.band_sig"))
            & (F.col("b.doc_id") != F.col("c.doc_id")),
        )
        .select(F.col("b.doc_id").alias("r1"), F.col("c.doc_id").alias("r2"))
        .distinct()
    )
    sets1 = sh.select(F.col("doc_id").alias("r1"), F.col("shingles").alias("sh1"))
    sets2 = sh.select(F.col("doc_id").alias("r2"), F.col("shingles").alias("sh2"))
    rep_pairs = (
        candidates.join(sets1, "r1")
        .join(sets2, "r2")
        .withColumn("inter", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn(
            "jaccard",
            r6(F.col("inter") / (F.size("sh1") + F.size("sh2") - F.col("inter"))),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("r1", "r2", "jaccard")
    )
    copies = scoped_persist(
        keyed.join(groups.select("ltext", "rep_id"), "ltext").select(
            "rep_id", "doc_id", "is_p", "is_c"
        )
    )
    probe_members = copies.filter(F.col("is_p") == 1).select(
        "rep_id", F.col("doc_id").alias("probe_doc")
    )
    corpus_members = copies.filter(F.col("is_c") == 1).select(
        "rep_id", F.col("doc_id").alias("corpus_doc")
    )
    across = (
        rep_pairs.join(
            probe_members.withColumnRenamed("rep_id", "r1"), "r1"
        )
        .join(corpus_members.withColumnRenamed("rep_id", "r2"), "r2")
        .select("probe_doc", "corpus_doc", "jaccard")
    )
    # mixed groups: probe x corpus members of the SAME group pair at
    # exactly 1.0, emitted only when the representative survives the
    # shingle pipeline (>= K tokens, >= 1 non-hot shingle) — both
    # engines drop all-hot/short docs identically
    within = (
        probe_members.join(corpus_members, "rep_id")
        .join(sh.select(F.col("doc_id").alias("rep_id")), "rep_id", "left_semi")
        .select("probe_doc", "corpus_doc", F.lit(1.0).alias("jaccard"))
    )
    return within.unionAll(across)


def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation as a first-class query: run the LSH
    path AND the exact all-pairs path, confusion-join them, and emit
    TP/FP/FN with precision/recall — the measurement a pipeline owner
    watches before trusting approximate dedup at scale.

    Because the LSH path verifies every candidate with the exact
    Jaccard, precision is 1 by construction; recall is the contract
    under test (banding theory puts the miss probability ≈5e-8 per
    pair at J ≥ 0.8). The oracle is therefore the zero-miss contract
    itself — tp = |truth|, fp = fn = 0 — so any fixture or signature
    regression that drops a single pair fails the driver hash, exactly
    like the per-fixture zero-miss certification test but continuously
    driver-checked.

    Scale note: the exact side is the capped oracle shape (stop-shingle
    docfreq bound); at 100 TB one runs this eval on a sampled stratum,
    not the full corpus — the query composes unchanged."""
    lsh = dedup_minhash_lsh(spark, sf_dir).select(
        "d1", "d2", F.lit(1).alias("in_lsh")
    )
    exact = dedup_ngram_jaccard(spark, sf_dir).select(
        "d1", "d2", F.lit(1).alias("in_exact")
    )
    conf = lsh.join(exact, ["d1", "d2"], "full_outer")
    tp = F.coalesce(
        F.sum((F.col("in_lsh").isNotNull() & F.col("in_exact").isNotNull()).cast("int")),
        F.lit(0),
    )
    fp = F.coalesce(
        F.sum((F.col("in_lsh").isNotNull() & F.col("in_exact").isNull()).cast("int")),
        F.lit(0),
    )
    fn = F.coalesce(
        F.sum((F.col("in_lsh").isNull() & F.col("in_exact").isNotNull()).cast("int")),
        F.lit(0),
    )
    # ratio guards: a pair-free corpus/stratum (the sampled-stratum
    # case the docstring names) must degrade to the oracle's vacuous
    # (0, 0, 0, 1.0, 1.0), not NULLs — and ANSI sessions must not
    # raise DIVIDE_BY_ZERO
    return conf.agg(
        bigint(tp).alias("tp"),
        bigint(fp).alias("fp"),
        bigint(fn).alias("fn"),
        r6(F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(1.0))).alias(
            "precision_ratio"
        ),
        r6(F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(1.0))).alias(
            "recall_ratio"
        ),
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
#
# Two variants with identical pipeline shape (per-shingle hash → bit
# votes over the doc's shingle set → bucket by the signature bits):
#
# * ``dedup_simhash`` (registered) derives the hash bits from md5 —
#   computable bit-identically by any engine — so the whole bit-vote
#   pipeline is DuckDB-hash-checkable (the round-4 verdict's strongest
#   remaining oracle upgrade).  Pure JVM expressions, no Python.
# * ``dedup_simhash_xxhash64`` is the production path: Spark's native
#   xxhash64 is one vectorized JVM call per shingle vs md5's digest
#   setup, and at 100 TB the hash function dominates the scan cost.
#   Its signature values are Spark-specific, so it is exercised by
#   tests rather than the cross-engine oracle.


SIMHASH_BUCKET_BITS = 16
_HEX = "0123456789abcdef"


def _simhash_udf():
    """Bit-vote fold over the per-shingle xxhash64 array, vectorized.

    Same interpreted-HOF lesson as ``_emb_band_sigs_udf``: 64 bit-vote
    ``F.aggregate`` folds per row ran interpreted (~16M lambda evals
    at sf0.1); NumPy does the identical arithmetic — arithmetic >>
    matches the JVM's shiftright on signed longs, +1/−1 votes, bit set
    when votes > 0, OR-accumulated as a uint64 sum viewed back as the
    signed long — in one pass per Arrow batch. The per-shingle hash
    stays Spark's ``xxhash64`` so the signature value is unchanged."""
    import numpy as np

    @F.pandas_udf("long")
    def simhash_of(hashes: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        out = np.empty(len(hashes), dtype=np.int64)
        for i, arr in enumerate(hashes):
            h = np.asarray(arr, dtype=np.int64)
            ones = ((h[:, None] >> np.arange(64)) & 1).sum(axis=0)
            votes = 2 * ones - len(h)
            sim = (np.where(votes > 0, np.uint64(1), np.uint64(0)) << shifts).sum(
                dtype=np.uint64
            )
            out[i] = np.array([sim], dtype=np.uint64).view(np.int64)[0]
        return pd.Series(out)

    return simhash_of


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup bucketing, cross-engine hash-checkable.

    Per shingle, the 16 bucket bits come from md5 hex chars 13-16
    (``conv(substr(md5, 13, 4), 16, 10)`` — the same md5-as-portable-
    hash trick as ``sample_hash_split``); per doc, one explode +
    groupBy computes the 16 bit votes as conditional sums (map-side
    combine, one shuffle of (doc_id, 17 longs)); the signature bit is
    set when votes are strictly positive, and docs sharing the
    resulting 16-bit bucket are near-dup candidates.  Everything is
    JVM-side codegen — the md5 variant needs no Python at all.  DuckDB
    replays the identical bit votes (per-hex-digit ``strpos``
    arithmetic), so the query carries a full value-hash oracle; only
    the bucket bits are replayed because only they determine the
    output.  Extending to the full 64-bit signature is the same
    expression over hex chars 1-16."""
    sh = _doc_shingles(spark, sf_dir)
    md5c = F.md5(F.col("s"))
    h16 = F.conv(F.substring(md5c, 13, 4), 16, 10).cast("long")
    exploded = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", h16.alias("h")
    )
    ones = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"o{b}")
        for b in range(SIMHASH_BUCKET_BITS)
    ]
    votes = exploded.groupBy("doc_id").agg(F.count("*").alias("n"), *ones)
    bucket_bits = [
        F.when(F.lit(2) * F.col(f"o{b}") - F.col("n") > 0, F.lit(1 << b)).otherwise(0)
        for b in range(SIMHASH_BUCKET_BITS)
    ]
    sigs = votes.select(
        "doc_id",
        sum(bucket_bits[1:], start=bucket_bits[0]).cast("long").alias("bucket"),
    )
    return (
        sigs.groupBy("bucket")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_simhash_xxhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SimHash: 64-bit signature from per-shingle xxhash64
    (one vectorized JVM hash call per shingle — the right hash at
    100 TB where hashing dominates the scan), bit votes over the
    shingle set (Arrow-batched NumPy — see ``_simhash_udf``), then
    bucket by the top-16 bits.  Same pipeline shape as the registered
    md5 variant; signature values are Spark-hash-specific, so this
    path is verified by tests (bucket-structure + vote arithmetic
    equivalence) instead of the DuckDB oracle."""
    sh = _doc_shingles(spark, sf_dir)
    hashes = F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
    docs = sh.select("doc_id", _simhash_udf()(hashes).alias("simhash"))
    return (
        docs.groupBy(F.shiftright("simhash", 48).alias("bucket"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# embedding-cosine near-dup pairs
# --------------------------------------------------------------------------


EMB_LSH_BANDS = 40
EMB_LSH_ROWS = 4  # hyperplanes per band


def _emb_band_sigs_udf():
    """Per-vector array of 40 band signatures, each the 4-bit sign
    pattern of random-hyperplane projections (reusing similarity's
    deterministic plane family), computed as ONE Arrow-batched NumPy
    matmul per batch.

    This is a deliberate pandas-UDF exception to the expressions-only
    rule: 160 projections as Catalyst higher-order-function folds run
    INTERPRETED per lambda element (~10M lambda evals over the sf0.1
    corpus — measured 18-21 s wall, independent of candidate volume),
    while [batch, 64] @ [64, 160] is a single BLAS call (~0.3 s
    end-to-end). Signatures only steer candidate GENERATION — every
    output value still comes from the exact fold-based cosine verify,
    so cross-engine parity is untouched; an exhaustive offline check
    found zero missed ≥-threshold pairs vs all-pairs truth on every
    fixture set (4 rows/band → 16 buckets also cuts candidate pairs
    ~4x vs the old 2-bit bands, whose buckets held a quarter of the
    corpus)."""
    import numpy as np

    from eventstream_benchmark_spark.operators.similarity import _hyperplane

    planes = np.array(
        [_hyperplane(i) for i in range(EMB_LSH_BANDS * EMB_LSH_ROWS)], dtype=np.float64
    ).T  # [64, bands*rows]
    weights = 1 << np.arange(EMB_LSH_ROWS)

    @F.pandas_udf("array<int>")
    def band_sigs(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy())  # [batch, 64]
        bits = (mat @ planes) > 0  # [batch, bands*rows]
        sigs = bits.reshape(len(mat), EMB_LSH_BANDS, EMB_LSH_ROWS) @ weights
        return pd.Series(list(sigs.astype(np.int32)))

    return band_sigs


def _seq_dot_udf():
    """Sequential-fold dot product, Arrow-batched: vectorized across
    the batch but accumulated DIMENSION BY DIMENSION in fold order, so
    every output double is bit-identical to Spark's
    ``F.aggregate(zip_with(a,b,*), 0.0, +)`` and DuckDB's
    ``list_reduce`` — the cross-engine float rule that keeps the
    verify stage hash-checkable.  Exists because the interpreted fold
    costs ~192 lambda evals per CANDIDATE PAIR: fine at fixture scale
    (~2k candidates), 585 s on the 10x duplicate-flooded sf1 lane
    (~400k candidates — measured round 5).  One batched loop of 64
    vectorized multiply-adds replaces it at identical bits."""
    import numpy as np

    @F.pandas_udf("double")
    def seq_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        a = np.vstack(va.to_numpy())
        b = np.vstack(vb.to_numpy())
        acc = np.zeros(len(a), dtype=np.float64)
        for i in range(a.shape[1]):
            acc = acc + a[:, i] * b[:, i]
        return pd.Series(acc)

    return seq_dot


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector near-dup pairs with cosine ≥ 0.45 (fixture max ≈ 0.51).

    Banded hyperplane-LSH candidates + exact cosine verification — the
    same candidate→verify structure as ``dedup_minhash_lsh``, so every
    join is an equi-join on (band_id, band_sig) and the plan contains
    no nested-loop/cartesian node (pinned by a plan test). The oracle
    stays the all-pairs SQL: sign-agreement probability per plane is
    p = 1 − θ/π, so a pair at the 0.45 threshold (p ≈ 0.648) misses
    all 40 four-plane bands with probability (1 − p⁴)⁴⁰ ≈ 4e-4 in
    expectation over plane families — and exhaustively ZERO on the
    deterministic fixture sets (all three SFs checked against
    all-pairs truth, 144/144 pairs found at sf0.1). Candidates are
    verified exactly, so LSH output == all-pairs output.
    At production thresholds (cosine ≥ 0.9, p ≈ 0.86) the same bands
    prune candidates aggressively; at the fixture's deliberately low
    threshold the pruning is weaker but the plan SHAPE (bucket
    equi-join, linear explode factor, no O(n²) operator) is what must
    survive the 100 TB scale-up. All cosine arithmetic in double on
    both engines; rounded before thresholding so both select identical
    pairs.

    Scale structure (the sf1 lesson, round 5): on duplicate-flooded
    data (10x exact vector copies in the sf1 lane; crawl embeddings at
    100 TB) every copy of a vector lands in the same bucket of every
    band, so running LSH on raw vectors makes bucket occupancy — and
    the within-bucket pair join — quadratic in copy count (measured:
    585 s at sf1, single hot-bucket straggler tasks). The operator
    therefore collapses EXACT-duplicate vectors first (one groupBy on
    the vector value — the pipeline_dedup_ordered ordering applied
    inside the operator), runs banded LSH + verify on the unique
    representatives only, then expands representative pairs back to
    member pairs; the expansion join is exactly output-sized. Members
    are bit-identical to their representative, so every expanded
    pair's cosine is the representative pair's cosine — the all-pairs
    oracle sees identical values. Verify cost per candidate is one
    batched sequential-fold dot (``_seq_dot_udf``) with per-vector
    norms precomputed once (a norm is a pure function of the vector;
    precomputing changes no bits vs the oracle's per-pair
    ``sqrt(fold(a,a))``).

    The verified pair set is family-shared (built once per session +
    fixture): ``dedup_semantic_recall_eval`` consumes the identical
    frame as its flat all-pairs truth side."""
    return shared_persist(
        spark, sf_dir, "emb_cosine_pairs",
        lambda: _emb_cosine_pairs_build(spark, sf_dir),
    )


def _emb_cosine_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq_dot = _seq_dot_udf()
    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # exact-duplicate collapse: one shuffle on the vector value; the
    # group frame carries NO member array (round-8 verdict #3 — a
    # giant exact-dup clique must never be one collect_list row),
    # membership is the relational (rep_id, vec_id) join below
    groups = scoped_persist(
        raw.groupBy("v").agg(F.min("vec_id").alias("rep_id"))
    )
    reps = scoped_persist(
        groups.select(F.col("rep_id"), "v").withColumn(
            "nrm", F.sqrt(seq_dot(F.col("v"), F.col("v")))
        )
    )
    copies = scoped_persist(
        raw.join(groups, "v").select("rep_id", "vec_id")
    )

    bands = reps.select(
        "rep_id", F.posexplode(_emb_band_sigs_udf()("v")).alias("band_id", "band_sig")
    )
    left = bands.alias("l")
    right = bands.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.rep_id") < F.col("r.rep_id")),
        )
        .select(F.col("l.rep_id").alias("p1"), F.col("r.rep_id").alias("p2"))
        .distinct()
    )
    va = reps.select(F.col("rep_id").alias("p1"), F.col("v").alias("va"),
                     F.col("nrm").alias("na"))
    vb = reps.select(F.col("rep_id").alias("p2"), F.col("v").alias("vb"),
                     F.col("nrm").alias("nb"))
    rep_pairs = (
        candidates.join(va, "p1")
        .join(vb, "p2")
        .select(
            "p1",
            "p2",
            # null_safe_div: a zero-norm (all-zero) vector pair would
            # raise DIVIDE_BY_ZERO under ANSI Spark where DuckDB yields
            # NULL; NULL fails the >= threshold below in both engines
            r6(null_safe_div(seq_dot(F.col("va"), F.col("vb")),
                             F.col("na") * F.col("nb"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )
    # expansion 1: pairs WITHIN a copy group — cosine of the rep with
    # itself, computed with the identical expression the oracle uses
    # for the (a, b) member pair (a's and b's vectors are the same
    # doubles), so r6(d / (sqrt(d)·sqrt(d))) matches bit-for-bit
    self_cos = reps.select(
        "rep_id",
        r6(null_safe_div(seq_dot(F.col("v"), F.col("v")),
                         F.col("nrm") * F.col("nrm"))).alias(
            "cosine"
        ),
    )
    c1, c2 = copies.alias("c1"), copies.alias("c2")
    within = (
        c1.join(
            c2,
            (F.col("c1.rep_id") == F.col("c2.rep_id"))
            & (F.col("c1.vec_id") < F.col("c2.vec_id")),
        )
        .select(F.col("c1.rep_id").alias("rep_id"),
                F.col("c1.vec_id").alias("v1"), F.col("c2.vec_id").alias("v2"))
        .join(self_cos, "rep_id")
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("v1", "v2", "cosine")
    )
    # expansion 2: pairs ACROSS two near-dup groups — every member of
    # p1's group against every member of p2's group, oriented by id
    across = (
        rep_pairs.join(copies.select(F.col("rep_id").alias("p1"),
                                     F.col("vec_id").alias("a")), "p1")
        .join(copies.select(F.col("rep_id").alias("p2"),
                            F.col("vec_id").alias("b")), "p2")
        .select(
            F.least("a", "b").alias("v1"),
            F.greatest("a", "b").alias("v2"),
            "cosine",
        )
    )
    return within.unionAll(across)


# --------------------------------------------------------------------------
# duplicate-cluster assignment (connected components over near-dup pairs)
# --------------------------------------------------------------------------


# round-count CAP, not a target: the early-exit probe stops at the
# fixpoint (typical dup graphs converge in 2 rounds), and one
# min-neighbor hop + one pointer-doubling per round covers diameters
# growing as d_r = 2·d_{r-1}+2, so 40 rounds reach ~2⁴⁰ — deeper than
# any physical corpus. Exhausting the cap without converging raises
# instead of returning wrong labels.  Must stay >= 2: _min_label_cc
# skips the round-1 convergence probe (provably never the fixpoint
# when an edge exists; the edgeless case exits via round 2's probe),
# so a cap of 1 would raise on an edgeless input instead of
# converging (r13 advice — the assert keeps the coupling explicit).
CC_MAX_ROUNDS = 40
assert CC_MAX_ROUNDS >= 2, "the rnd > 0 probe skip requires >= 2 rounds"


def _cc_labels_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, label) connected-component assignment over the
    verified near-dup pair set, materialized ONCE per (session,
    fixture) through the family-shared persist — round 8: the labels
    gained a second registered consumer (``sample_cluster_aware_split``
    keys the train/eval split on them), so the CC iteration joins the
    pair table and IVF model as a shared artifact. Output-sized (one
    row per doc that has a dup edge).

    Round 10 (r9 verdict #2): the iteration runs over REPRESENTATIVE-
    level edges, not the member-expanded pair set — under a duplicate
    flood an exact-dup clique of m copies is m²/2 expanded edges
    re-shuffled by EVERY propagation round, but one rep node. Label
    equivalence is exact, not approximate: ``rep_id`` is its group's
    minimum doc_id, members of a group are mutually connected in the
    expanded graph (J = 1.0 within-pairs), and a member pair crosses
    two groups iff the rep pair exists, so the member-level component
    of any doc is exactly the union of the groups in its rep-level
    component — whose minimum member id IS the minimum rep_id, i.e.
    the rep-level CC label. Members inherit it through one
    output-sized membership join. Groups with ≥ 2 members and no
    cross-group edge are their own clique in the expanded graph
    (provided the rep survived the shingle pipeline — the same gate
    the expansion applies to within-pairs): their label is the rep_id
    itself."""
    return shared_persist(
        spark, sf_dir, "cc_labels",
        lambda: _cc_labels_build(spark, sf_dir),
    )


def _cc_labels_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    rep_pairs, membership = _collapse_family(spark, sf_dir)
    rep_labels = _min_label_cc(rep_pairs.select("d1", "d2")).select(
        F.col("doc_id").alias("rep_id"), "label"
    )
    # groups that form a clique without any cross-group edge: ≥ 2
    # identical members and a shingle-surviving representative. The
    # representative is itself a member (doc_id == rep_id), so the
    # group table needs no distinct — it's a filter of membership.
    solo = (
        membership.filter(
            (F.col("weight") >= 2)
            & F.col("survived")
            & (F.col("doc_id") == F.col("rep_id"))
        )
        .join(rep_labels.select("rep_id"), "rep_id", "left_anti")
        .select("rep_id", F.col("rep_id").alias("label"))
    )
    return (
        membership.select("rep_id", "doc_id")
        .join(rep_labels.unionAll(solo), "rep_id")
        .select("doc_id", "label")
    )


def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the verified
    MinHash-LSH near-dup pairs, labeling every document with the
    smallest doc_id reachable through dup edges (the canonical keeper a
    corpus-dedup pass keeps per cluster — pairwise output alone
    over-deletes when dups chain a-b, b-c).

    Iterative min-label propagation with pointer doubling: each round
    takes the min label over graph neighbors, then short-circuits
    label chains (``label ← label[label]``), so convergence needs
    O(log diameter) rounds — the reachable diameter roughly doubles
    per round (d_r = 2·d_{r-1}+2), so the CC_MAX_ROUNDS=40 cap covers
    ~2⁴⁰, beyond any physical corpus; if a pathological graph still
    hasn't converged at the cap the query RAISES rather than returning
    non-minimal labels (the observability rule: no silent wrong
    output). The loop is equi-joins over the (tiny relative to the
    corpus) dup-edge set, with an early exit as soon as a round
    changes no label: the per-round localCheckpoint already
    materializes each round, so the convergence probe is one cheap
    job over two in-memory frames and typical dup graphs
    (diameter ≤ 4) stop after 2 rounds. The edge set
    is ``localCheckpoint``-ed first: iterative plans over an un-truncated
    lineage re-canonicalize the whole upstream LSH subtree at every
    join (OOMs the driver at round 3 — measured), and at 100 TB the
    same truncation bounds both plan size and recovery cost per round.
    Each round shuffles only (node, label) pairs; for graphs too deep
    for fixed unrolling, checkpoint per round and loop to fixpoint —
    same join shapes. Round 10: the iteration runs over
    REPRESENTATIVE-level edges with member labels joined out post-hoc
    (exactly equivalent — see :func:`_cc_labels_shared`), so duplicate
    floods no longer multiply per-round edge volume. Oracle: DuckDB
    recursive-CTE transitive closure over the member-level pairs."""
    return _cluster_sizes(_cc_labels_shared(spark, sf_dir)).orderBy("doc_id")


def _cluster_sizes(labels: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) over a (doc_id, label) CC
    label frame — cluster_size as a partial-aggregable groupBy + an
    output-sized join, NOT a count(*) window over cluster_id (round
    11, the same r10-verdict-#1 shape retired from the keep-first
    family: a window partition has no map-side combine and AQE cannot
    split it, so one 10⁸-member flood cluster serializes into a
    single sort task; the aggregate reduces inside each map task and
    the join distributes normally). One spelling shared by
    ``dedup_cluster_cc`` and ``dedup_soft_weights`` so the
    flood-safety shape cannot drift between the two consumers."""
    members = labels.select("doc_id", F.col("label").alias("cluster_id"))
    sizes = members.groupBy("cluster_id").agg(
        bigint(F.count("*")).alias("cluster_size")
    )
    return members.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


def dedup_keeper_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which document should a dup cluster KEEP? The three policies
    real pipelines apply after clustering — keep-FIRST (minimum id:
    C4 / Lee et al.'s deterministic default), keep-LONGEST (most
    content survives; ties to the lower id), keep-LATEST (maximum id:
    recency-preferring crawls) — compared in one pass: per policy, the
    cluster count, how many keepers coincide with keep-first's choice,
    and how many characters of text the policy retains. The deltas
    between rows are the measured cost of the policy decision.

    Rides the family-shared cluster labels (:func:`_cc_labels_shared`
    — the rep-level CC artifact). Round 11 (r10 verdict #1): keeper
    selection is ONE partial-aggregable ``groupBy(cluster_id)``
    emitting all three keepers as min/max struct aggregates —
    keep-first = ``min(struct(doc_id, n_chars))``, keep-latest =
    ``max(struct(doc_id, n_chars))``, keep-longest =
    ``max(struct(n_chars, -doc_id))`` (lexicographic struct order ==
    the policy's (n_chars DESC, doc_id ASC) tiebreak) — then one
    global agg, exploded into the three policy rows. This replaced
    three ``row_number`` windows partitioned by cluster_id: under a
    duplicate flood ONE mega-cluster is one unsplittable sort task per
    window, while the struct aggregates combine map-side, so the
    flooded cluster reduces before the shuffle. Outputs bit-identical
    (every ordering ends at the unique doc_id). Oracle: the
    recursive-CTE transitive closure replayed with the identical three
    window orderings."""
    labels = _cc_labels_shared(spark, sf_dir)
    members = labels.join(
        load_table(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        "doc_id",
    ).select("doc_id", F.col("label").alias("cluster_id"), "n_chars")
    per_cluster = members.groupBy("cluster_id").agg(
        F.min(F.struct("doc_id", "n_chars")).alias("first_k"),
        F.max(F.struct("doc_id", "n_chars")).alias("latest_k"),
        F.max(
            F.struct(
                F.col("n_chars").alias("n_chars"),
                (-F.col("doc_id")).alias("neg_id"),
            )
        ).alias("longest_k"),
    )
    keeper = {
        "first": (F.col("first_k.doc_id"), F.col("first_k.n_chars")),
        "latest": (F.col("latest_k.doc_id"), F.col("latest_k.n_chars")),
        "longest": (-F.col("longest_k.neg_id"), F.col("longest_k.n_chars")),
    }
    totals = per_cluster.agg(
        F.count("*").alias("nc"),
        *[
            agg
            for policy, (kid, kchars) in keeper.items()
            for agg in (
                F.sum((kid == F.col("cluster_id")).cast("int")).alias(
                    f"fi_{policy}"
                ),
                F.sum(kchars).alias(f"ch_{policy}"),
            )
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(policy).alias("policy"),
                bigint(F.col("nc")).alias("n_clusters"),
                bigint(F.col(f"fi_{policy}")).alias("keeper_is_first"),
                bigint(F.col(f"ch_{policy}")).alias("kept_chars"),
            )
            for policy in keeper
        ]
    )
    # a corpus with zero dup clusters emits ZERO rows, matching the
    # oracle's GROUP BY over an empty keeper set — without this filter
    # the global agg still returns one NULL-sum row per policy
    # (round-10 review finding)
    return (
        totals.select(F.explode(rows).alias("r"))
        .select("r.*")
        .filter(F.col("n_clusters") > 0)
        .orderBy("policy")
    )


def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup-style per-document training weights (He et al. 2024,
    arXiv:2407.06654): instead of DROPPING a dup cluster's losers
    (:func:`dedup_keeper_policies` compares who to keep), DOWNWEIGHT
    every member so the cluster contributes one document's worth of
    gradient in expectation — the reweighting alternative production
    pipelines reach for when near-duplicates still carry signal.
    Weight = 1/cluster_size, quantized once to integer micro-units
    (``1000000 div size`` — exact integer division on both engines, so
    the oracle replays every weight bit-for-bit); a doc in no cluster
    keeps weight 1.0 (singleton).

    Fourth consumer of the family-shared cluster labels
    (:func:`_cc_labels_shared`): cluster sizes are ONE
    partial-aggregable groupBy over the labels (never a cluster-keyed
    window — the r10-verdict-#1 flood argument, same as the
    ``dedup_cluster_cc`` rewrite), singletons join in as a LEFT join
    from the documents scan, so the whole query is two keyed joins +
    one aggregate around the shared artifact. Output: (doc_id,
    cluster_size, w_micro), one row per document."""
    sizes = _cluster_sizes(_cc_labels_shared(spark, sf_dir)).select(
        "doc_id", "cluster_size"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(sizes, "doc_id", "left")
        # ONE spelling of the singleton default: w_micro divides the
        # same materialized cluster_size column the output carries
        .withColumn(
            "cluster_size",
            bigint(F.coalesce("cluster_size", F.lit(1))),
        )
        .withColumn("w_micro", bigint(F.expr("1000000 div cluster_size")))
        .orderBy("doc_id")
    )


def _min_label_cc(pairs: DataFrame) -> DataFrame:
    """(doc_id, label): min-reachable-id connected components over an
    undirected (d1, d2) pair set — min-label propagation with pointer
    doubling, looping to the monotone fixpoint under the CC_MAX_ROUNDS
    cap and RAISING rather than emitting non-minimal labels if the cap
    is ever hit. Factored from ``dedup_cluster_cc`` so the deep-chain
    behavior is unit-testable on synthetic graphs."""
    edges = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")).unionAll(
        pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    converged = False
    for rnd in range(CC_MAX_ROUNDS):
        nbr = (
            edges.join(
                labels.select(F.col("doc_id").alias("dst"), F.col("label").alias("dl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dl").alias("nbr"))
        )
        # the round-start label rides along as ``old`` so the
        # convergence probe below is a filter over the checkpointed
        # frame — the former probe joined this round's labels against
        # the PREVIOUS round's checkpoint on doc_id, a full
        # shuffle-join (~3 stages) per round just to ask "did anything
        # change" (round-13 optimization)
        upd = labels.join(
            nbr.select(F.col("src").alias("doc_id"), "nbr"), "doc_id", "left"
        ).select(
            "doc_id",
            F.least("label", F.coalesce("nbr", "label")).alias("label"),
            F.col("label").alias("old"),
        )
        hop = upd.select(F.col("doc_id").alias("p"), F.col("label").alias("pl"))
        stepped = upd.join(hop, upd["label"] == hop["p"]).select(
            "doc_id", F.col("pl").alias("label"), "old"
        )
        # per-round lineage truncation: the hop self-join doubles the
        # labels lineage every round, so without this each round adds
        # 2x the previous round's plan (measured 19 s -> 4.7 s at
        # sf0.1). Same O(rounds) bound a cluster run needs.
        stepped = stepped.localCheckpoint(eager=True)
        labels = stepped.select("doc_id", "label")
        # min-label propagation is monotone, so an unchanged round is
        # the fixpoint — the frame is checkpointed, the probe is one
        # in-memory scan. Round 1 is provably never the fixpoint when
        # any edge exists (each pair (d1 < d2) gives d2 a strictly
        # smaller neighbor label), and with NO edges the label set is
        # empty and round 2's probe exits — so the round-1 probe is a
        # wasted job and is skipped
        if rnd > 0 and stepped.filter(F.col("label") != F.col("old")).isEmpty():
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_cluster_cc: label propagation did not reach its "
            f"fixpoint within CC_MAX_ROUNDS={CC_MAX_ROUNDS} rounds — "
            f"refusing to emit non-minimal cluster labels"
        )
    return labels


QUERIES = {
    "dedup_exact_text": dedup_exact_text,
    "dedup_url_normalize": dedup_url_normalize,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment_ngram": dedup_containment_ngram,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_incremental": dedup_minhash_incremental,
    "dedup_recall_eval": dedup_recall_eval,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_cluster_cc": dedup_cluster_cc,
    "dedup_soft_weights": dedup_soft_weights,
    "dedup_keeper_policies": dedup_keeper_policies,
}

def _pairs_sql(source: str = "documents") -> str:
    """The all-pairs verified-Jaccard oracle shape, parameterized over
    its source relation (the composed pipeline runs it on exact-dedup
    survivors instead of the raw table)."""
    return _PAIRS_SQL.replace("FROM documents\n", f"FROM {source}\n")


_PAIRS_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        WHERE len(string_split(lower(text), ' ')) >= {SHINGLE_K}
    ),
    sh0 AS (
        SELECT doc_id, unnest(list_distinct(
            [w[i] || '_' || w[i+1] || '_' || w[i+2]
             FOR i IN range(1, len(w) - {SHINGLE_K - 2})])) AS s
        FROM toks
    ),
    sh AS (
        SELECT doc_id, s FROM (
            SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh0
        ) WHERE df <= {DOCFREQ_CAP}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(inter * 1.0 / (s1.n + s2.n - inter), 6) AS jaccard
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE round(inter * 1.0 / (s1.n + s2.n - inter), 6) >= {JACCARD_THRESHOLD}
"""

ORACLES = {
    "dedup_cluster_cc": f"""
        WITH RECURSIVE
        pairs AS (SELECT d1, d2 FROM ({_PAIRS_SQL}) p),
        edges AS (
            SELECT d1 AS a, d2 AS b FROM pairs
            UNION
            SELECT d2, d1 FROM pairs
        ),
        reach AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (
            SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            FROM reach GROUP BY a
        )
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM comp ORDER BY doc_id
    """,
    "dedup_keeper_policies": f"""
        WITH RECURSIVE
        pairs AS (SELECT d1, d2 FROM ({_PAIRS_SQL}) p),
        edges AS (
            SELECT d1 AS a, d2 AS b FROM pairs
            UNION
            SELECT d2, d1 FROM pairs
        ),
        reach AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (
            SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            FROM reach GROUP BY a
        ),
        members AS (
            SELECT c.doc_id, c.cluster_id, d.n_chars
            FROM comp c JOIN documents d USING (doc_id)
        ),
        k AS (
            SELECT 'first' AS policy, cluster_id, doc_id, n_chars,
                   row_number() OVER (PARTITION BY cluster_id
                       ORDER BY doc_id) AS rn
            FROM members
            UNION ALL
            SELECT 'latest', cluster_id, doc_id, n_chars,
                   row_number() OVER (PARTITION BY cluster_id
                       ORDER BY doc_id DESC)
            FROM members
            UNION ALL
            SELECT 'longest', cluster_id, doc_id, n_chars,
                   row_number() OVER (PARTITION BY cluster_id
                       ORDER BY n_chars DESC, doc_id)
            FROM members
        )
        SELECT policy, CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END)
                   AS BIGINT) AS keeper_is_first,
               CAST(sum(n_chars) AS BIGINT) AS kept_chars
        FROM k WHERE rn = 1 GROUP BY policy ORDER BY policy
    """,
    # SoftDeDup weights: the same transitive closure, sizes per
    # component, 1e6 // size exact integer division (Spark `div`)
    "dedup_soft_weights": f"""
        WITH RECURSIVE
        pairs AS (SELECT d1, d2 FROM ({_PAIRS_SQL}) p),
        edges AS (
            SELECT d1 AS a, d2 AS b FROM pairs
            UNION
            SELECT d2, d1 FROM pairs
        ),
        reach AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (
            SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            FROM reach GROUP BY a
        ),
        sizes AS (
            SELECT doc_id,
                   count(*) OVER (PARTITION BY cluster_id) AS sz
            FROM comp
        )
        SELECT d.doc_id,
               CAST(coalesce(s.sz, 1) AS BIGINT) AS cluster_size,
               CAST(1000000 // coalesce(s.sz, 1) AS BIGINT) AS w_micro
        FROM documents d LEFT JOIN sizes s USING (doc_id)
        ORDER BY doc_id
    """,
    # the zero-miss contract: LSH output == exact truth on this corpus,
    # so the confusion matrix degenerates to (|truth|, 0, 0, 1, 1)
    "dedup_recall_eval": f"""
        SELECT CAST(count(*) AS BIGINT) AS tp,
               CAST(0 AS BIGINT) AS fp,
               CAST(0 AS BIGINT) AS fn,
               1.0 AS precision_ratio,
               1.0 AS recall_ratio
        FROM ({_PAIRS_SQL}) t
    """,
    "dedup_url_normalize": f"""
        WITH urls AS (
            SELECT doc_id,
                   'https://' ||
                   CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END
                   || source || '.Example.COM/Docs/'
                   || CAST(doc_id % {URL_PATH_MOD} AS VARCHAR)
                   || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
                   || CASE WHEN doc_id % 3 = 0
                           THEN '?utm_source=feed&utm_campaign=x'
                           WHEN doc_id % 3 = 1 THEN '?ref=home'
                           ELSE '' END AS url
            FROM documents
        ),
        norm AS (
            SELECT doc_id, url,
                   regexp_replace(regexp_replace(regexp_replace(lower(url),
                       '(utm_[a-z_]+|ref)=[^&]*&?', '', 'g'),
                       '[?&]+$', ''),
                       '/$', '') AS norm_url
            FROM urls
        )
        SELECT norm_url,
               CAST(count(*) AS BIGINT) AS n_copies,
               CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
               min(doc_id) AS keeper_doc_id
        FROM norm GROUP BY 1 HAVING count(*) > 1 ORDER BY 1
    """,
    "dedup_exact_text": f"""
        SELECT md5(array_to_string(string_split(lower(text), ' ')[1:{PREFIX_TOKENS}], ' '))
                   AS content_hash,
               count(*) AS n_copies, min(doc_id) AS keeper_doc_id
        FROM documents GROUP BY 1 HAVING count(*) > 1
    """,
    "dedup_ngram_jaccard": _PAIRS_SQL,
    "dedup_minhash_lsh": _PAIRS_SQL,
    # same capped-shingle CTEs, with the batch->corpus parity join
    # replacing the d1<d2 self-join (drift-guarded by asserts below)
    "dedup_minhash_incremental": _PAIRS_SQL.replace(
        "ON a.s = b.s AND a.doc_id < b.doc_id",
        "ON a.s = b.s AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0",
    ).replace(
        "SELECT d1, d2,",
        "SELECT d1 AS batch_doc, d2 AS corpus_doc,",
    ),
    # same capped-shingle CTEs as _PAIRS_SQL with the min-size
    # containment denominator and its own threshold (drift-guarded by
    # the asserts below the dict)
    "dedup_containment_ngram": _PAIRS_SQL.replace(
        "round(inter * 1.0 / (s1.n + s2.n - inter), 6) AS jaccard",
        "round(inter * 1.0 / least(s1.n, s2.n), 6) AS containment",
    ).replace(
        f"WHERE round(inter * 1.0 / (s1.n + s2.n - inter), 6) >= {JACCARD_THRESHOLD}",
        f"WHERE round(inter * 1.0 / least(s1.n, s2.n), 6) >= {CONTAINMENT_THRESHOLD}",
    ),
    # replays dedup_simhash's bit votes exactly: same md5-derived 16
    # bucket bits (hex chars 13-16), same strictly-positive vote rule
    "dedup_simhash": f"""
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
            WHERE len(string_split(lower(text), ' ')) >= {SHINGLE_K}
        ),
        sh AS (
            SELECT doc_id, unnest(list_distinct(
                [w[i] || '_' || w[i+1] || '_' || w[i+2]
                 FOR i IN range(1, len(w) - {SHINGLE_K - 2})])) AS s
            FROM toks
        ),
        hh AS (
            SELECT doc_id,
                   (strpos('{_HEX}', substr(md5(s), 13, 1)) - 1) * 4096
                 + (strpos('{_HEX}', substr(md5(s), 14, 1)) - 1) * 256
                 + (strpos('{_HEX}', substr(md5(s), 15, 1)) - 1) * 16
                 + (strpos('{_HEX}', substr(md5(s), 16, 1)) - 1) AS h
            FROM sh
        ),
        votes AS (
            SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS v
            FROM hh CROSS JOIN range({SIMHASH_BUCKET_BITS}) t(j)
            GROUP BY doc_id, j
        ),
        sigs AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN (1 << j) ELSE 0 END) AS BIGINT)
                       AS bucket
            FROM votes GROUP BY doc_id
        )
        SELECT bucket, count(*) AS n_docs, min(doc_id) AS keeper_doc_id
        FROM sigs GROUP BY bucket HAVING count(*) > 1
    """,
    "dedup_embedding_cosine": f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )
        SELECT a.vec_id AS v1, b.vec_id AS v2,
               round(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) *
                     sqrt(list_dot_product(b.v, b.v))), 6) >= {COSINE_DUP_THRESHOLD}
    """,
}

# the containment oracle is derived from _PAIRS_SQL by string surgery;
# if _PAIRS_SQL's select/filter lines drift, fail at import instead of
# shipping a silently-identical (jaccard) oracle
assert ORACLES["dedup_minhash_incremental"] != _PAIRS_SQL
assert "batch_doc" in ORACLES["dedup_minhash_incremental"]
assert "a.doc_id % 2 = 1" in ORACLES["dedup_minhash_incremental"]
assert ORACLES["dedup_containment_ngram"] != _PAIRS_SQL
assert "containment" in ORACLES["dedup_containment_ngram"]
assert "jaccard" not in ORACLES["dedup_containment_ngram"]
