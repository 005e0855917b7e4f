"""Composed training-data pipeline stage (the north-star use case,
end to end in one DataFrame program).

``pipeline_corpus_prep`` chains the engine's north-star operators the
way a real corpus-preparation job does:

1. quality-score every document (pure column exprs — text.py),
   keep docs above threshold;
2. remove near-duplicates via MinHash-LSH (dedup.py): of every
   verified duplicate pair, the higher doc_id is dropped
   (keep-first policy);
3. emit per-language corpus statistics (docs kept, tokens kept,
   mean quality).

Everything stays declarative: the dup-id set is a broadcast-size
anti-join side (duplicate pairs ≪ corpus); the quality filter fuses
into the scan. The DuckDB oracle recomputes the identical pipeline
from the shared SQL building blocks, so the whole composition is
hash-verified, not just its parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstream_benchmark_spark.io import load_table
from eventstream_benchmark_spark.operators import dedup, text
from eventstream_benchmark_spark.operators._util import bigint, r4, r6

QUALITY_THRESHOLD = 0.55


def _quality_cols(docs: DataFrame) -> DataFrame:
    toks = F.split(F.lower("text"), " ")
    # bigint BEFORE any product (the text_quality_score hardening,
    # round 7): size()/length() are int32 and the n_tok*200 divisor
    # wraps silently past a ~10M-token doc in non-ANSI Spark while the
    # DuckDB oracle's BIGINT len() does not — the same overflow class,
    # duplicated here because this pipeline predates the fix
    n_tok = F.size(toks).cast("bigint")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*text.STOPWORDS))).cast("bigint")
    chars_adj = F.length("text").cast("bigint") - (n_tok - 1)
    quality = (
        F.least(n_tok, F.lit(100)) * n_tok
        + (n_tok - stop_hits) * 60
        + F.least(n_tok * 8, chars_adj) * 5
    ) / (n_tok * 200)
    return docs.select("doc_id", "lang", n_tok.alias("n_tokens"), quality.alias("quality"))


def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = _quality_cols(docs).filter(F.col("quality") >= QUALITY_THRESHOLD)

    # near-dup pairs (verified Jaccard >= 0.8); drop the larger id of
    # each pair via an anti-join. NO forced broadcast: the drop list
    # grows with the corpus's duplicate mass (a flooded crawl at 100 TB
    # makes it corpus-scale), so the hint would collect it to the
    # driver — AQE broadcasts from its own runtime sizing when the
    # list measures small (the decontaminate_ngram_overlap rule).
    dup_ids = (
        dedup.dedup_minhash_lsh(spark, sf_dir).select(F.col("d2").alias("doc_id")).distinct()
    )
    kept = scored.join(dup_ids, "doc_id", "left_anti")

    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            bigint(F.sum("n_tokens")).alias("n_tokens"),
            r4(F.avg("quality")).alias("mean_quality"),
        )
        .orderBy("lang")
    )


def corpus_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture reweighting: per-source token mass, its share of
    the corpus, and the deterministic downsampling rate that equalizes
    token mass across sources (rate = min(1, target/share) — the
    data-mixing step before a pretraining run; heavier sources get
    sampled down, lighter ones pass through whole).

    One scan; the per-source aggregate is tiny at any corpus size, so
    the grand totals fold in via a broadcast one-row cross join (the
    in-plan scalar pattern — no driver-side count, no second pass
    over the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.lower("text"), " "))).alias("n_tokens"),
    )
    totals = F.broadcast(
        per_source.agg(
            F.sum("n_tokens").alias("total_tokens"),
            F.count("*").alias("n_sources"),
        )
    )
    share = F.col("n_tokens") / F.col("total_tokens")
    target = F.lit(1.0) / F.col("n_sources")
    return (
        per_source.crossJoin(totals)
        .select(
            "source",
            bigint(F.col("n_docs")).alias("n_docs"),
            bigint(F.col("n_tokens")).alias("n_tokens"),
            r6(share).alias("token_share"),
            r6(F.least(F.lit(1.0), target / share)).alias("sample_rate"),
        )
        .orderBy("source")
    )


MIX_TEMPERATURE = 2.0  # sqrt scaling — the common multilingual default


def corpus_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (T=2): resampling weights
    p_i ∝ share_i^(1/T) — the standard knob for up-weighting
    low-resource sources before pretraining (T=1 keeps natural
    proportions, T→∞ approaches uniform). Emits each source's natural
    token share, its temperature-scaled share, and the resample
    factor (temperature share / natural share — the up/down-sampling
    multiplier a sampler applies).

    Same one-scan + broadcast-totals shape as ``corpus_mix_rebalance``;
    1/T = 0.5 is computed with ``sqrt`` (correctly-rounded IEEE op on
    both engines) rather than ``pow`` (libm-dependent). The
    normalizer Z = Σ sqrt(share) is a cross-row double sum over the
    handful of sources — order-dependent in the last ulp like every
    float avg in the suite; r6 rounding guards it (same residual
    class as pipeline_corpus_prep's mean_quality)."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.lower("text"), " "))).alias("n_tokens"),
    )
    with_share = per_source.crossJoin(
        F.broadcast(per_source.agg(F.sum("n_tokens").alias("total_tokens")))
    ).select("source", "n_tokens", (F.col("n_tokens") / F.col("total_tokens")).alias("share"))
    z = F.broadcast(with_share.agg(F.sum(F.sqrt("share")).alias("z")))
    temp_share = F.sqrt("share") / F.col("z")
    return (
        with_share.crossJoin(z)
        .select(
            "source",
            bigint(F.col("n_tokens")).alias("n_tokens"),
            r6("share").alias("natural_share"),
            r6(temp_share).alias("temp_share"),
            r6(temp_share / F.col("share")).alias("resample_factor"),
        )
        .orderBy("source")
    )


def pipeline_dedup_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-correct dedup ordering, composed end to end: exact
    dedup FIRST (linear hash-groupBy collapses identical copies —
    keep-first by doc_id), MinHash-LSH near-dup detection only on the
    survivors. On a duplicate-flooded corpus (10-way copies in the sf1
    lane, crawl data at 100 TB) this is the difference between hot LSH
    buckets quadratic in copy count and buckets that never see an
    identical pair. Output is the funnel: docs surviving each stage.

    The exact stage hashes the FULL normalized text (true identity,
    not the prefix heuristic `dedup_exact_text` demos): on the fixture
    corpus it passes everything through and the near stage does the
    work; on a duplicate-flooded corpus (sf1 lane) it collapses the
    N-way copies and the near stage sees each text once — the funnel
    shows which regime the data is in.

    One lazy plan: the three stage counts are 1-row aggregates unioned
    together — no driver-side .count() loop (the round-2 funnel
    lesson)."""
    from eventstream_benchmark_spark.operators.dedup import (
        _capped_shingles,
        _minhash_pairs,
        _shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.lower("text"))
    keepers = (
        docs.select(key.alias("k"), "doc_id")
        .groupBy("k")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = docs.join(keepers, "doc_id", "left_semi")
    pairs = _minhash_pairs(_capped_shingles(_shingle_table(survivors)))
    dropped = pairs.select(F.col("d2").alias("doc_id")).distinct()
    # unhinted anti-join: the dropped set scales with duplicate mass
    # (see pipeline_corpus_prep) — AQE sizes the broadcast decision
    near_kept = survivors.join(dropped, "doc_id", "left_anti")
    stage = lambda name, df: df.agg(bigint(F.count("*")).alias("n_docs")).select(  # noqa: E731
        F.lit(name).alias("stage"), "n_docs"
    )
    return (
        stage("1_raw", docs)
        .unionAll(stage("2_after_exact", survivors))
        .unionAll(stage("3_after_near", near_kept))
        .orderBy("stage")
    )


EXPORT_SHARDS = 16
# Shard checksums accumulate per-doc products whose 64-bit sum can
# exceed 2^63 at 100 TB (1e11 docs × ~2^31-scale fingerprints): Spark's
# non-ANSI BIGINT sum wraps SILENTLY while DuckDB's HUGEINT sum -> CAST
# raises — divergent failure modes. Both engines therefore sum in
# 128-bit (Spark decimal(38,0), DuckDB HUGEINT) and reduce by one
# explicit modulus, making the checksum a defined modular fingerprint
# instead of an accidental wrap.
CHECKSUM_MOD = 1 << 61


def export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard manifest: assign every document to one of
    ``EXPORT_SHARDS`` shards by multiplicative hash (reshard-stable,
    key-uniform — the same coin as ``sample_hash_split``), then emit
    the manifest a dataset writer publishes next to the shards: doc /
    token / byte counts, an order-sensitive content checksum (sum of
    the per-doc positional fingerprints from ``text_fingerprint``),
    and each shard's byte offset in the concatenated export (one
    newline per doc), so a reader can seek without opening shards.

    Scale shape: one scan computing per-doc stats as column exprs, one
    map-side-combined groupBy on the shard id (``EXPORT_SHARDS`` keys
    — tiny, never skewed because the hash is uniform), and a window
    over the shard-count-sized manifest itself for the running byte
    offset (16 rows — the single-partition window is on the manifest,
    never on the corpus).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    code = lambda t: F.length(t) * 31 + F.ascii(F.substring(t, 1, 1))  # noqa: E731
    fp = F.aggregate(
        F.zip_with(
            toks,
            F.sequence(F.lit(1), F.size(toks)),
            lambda t, i: i.cast("bigint") * code(t).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    per = docs.select(
        "doc_id",
        (
            (F.col("doc_id") * F.lit(text.SPLIT_HASH_MULT))
            % F.lit(text.SPLIT_HASH_MOD)
            % EXPORT_SHARDS
        )
        .cast("bigint")
        .alias("shard"),
        F.size(toks).cast("bigint").alias("n_tok"),
        F.length("text").cast("bigint").alias("n_chars"),
        fp.alias("fp"),
    )
    sh = per.groupBy("shard").agg(
        bigint(F.count("*")).alias("n_docs"),
        bigint(F.sum("n_tok")).alias("sum_tokens"),
        bigint(F.sum("n_chars")).alias("sum_chars"),
        # 128-bit sum + modulus: see CHECKSUM_MOD
        bigint(
            F.pmod(F.sum(F.col("fp").cast("decimal(38,0)")), F.lit(CHECKSUM_MOD))
        ).alias("checksum"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    from pyspark.sql import Window as W

    w_prev = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    file_bytes = F.col("sum_chars") + F.col("n_docs")
    return sh.select(
        "shard",
        "n_docs",
        "sum_tokens",
        "sum_chars",
        "checksum",
        "min_doc",
        "max_doc",
        bigint(file_bytes).alias("file_bytes"),
        bigint(F.coalesce(F.sum(file_bytes).over(w_prev), F.lit(0))).alias("byte_offset"),
    ).orderBy("shard")


def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 operators composed the way a pretraining data job
    runs them, end to end in ONE lazy plan:

    1. model-based quality gate (``quality_logreg_filter``'s linear
       score > 0) — scan-fused column exprs;
    2. C4-style span dedup over the gated corpus
       (``text_line_dedup``'s keep-first window), DROPPING documents
       that lose more than half their spans (heavy duplicates);
    3. PII audit over the survivors (``text_pii_redact``'s planted
       pattern counts + scrubbed byte size);
    4. hash-sharded export manifest: doc/token counts, PII totals, a
       content checksum, and running byte offsets of the scrubbed
       shards.

    Every stage reuses the exact builder the standalone query
    registers (`_logreg_scored`, `_line_dedup_agg`, `_pii_stats`), so
    the composition is hash-verified against a DuckDB oracle that
    chains the same four CTE blocks — the whole-pipeline analogue of
    ``pipeline_corpus_prep``.

    Scale shape: gate fuses into the scan; span dedup is the two-
    shuffle plan; the PII stats are scan-fused over the same kept
    frame; the manifest reduces to EXPORT_SHARDS rows. Join keys are
    doc_id only; no all-pairs anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    kept = (
        text._logreg_scored(docs, with_text=True)
        .filter(F.col("keep"))
        .select("doc_id", "text")
    )
    stats = text._line_dedup_agg(kept)
    survivors = stats.filter(F.col("n_removed") * 2 <= F.col("n_windows"))
    pii = text._pii_stats(kept).select("doc_id", "n_emails", "n_phones", "redacted_len")
    per_doc = survivors.join(pii, "doc_id").select(
        "doc_id",
        "n_tokens_kept",
        "n_emails",
        "n_phones",
        "redacted_len",
        (
            (F.col("doc_id") * F.lit(text.SPLIT_HASH_MULT))
            % F.lit(text.SPLIT_HASH_MOD)
            % EXPORT_SHARDS
        )
        .cast("bigint")
        .alias("shard"),
    )
    sh = per_doc.groupBy("shard").agg(
        bigint(F.count("*")).alias("n_docs"),
        bigint(F.sum("n_tokens_kept")).alias("sum_tokens"),
        bigint(F.sum(F.col("n_emails") + F.col("n_phones"))).alias("n_pii"),
        bigint(F.sum("redacted_len")).alias("sum_bytes"),
        # the product is taken in decimal too: doc_id·tokens already
        # nears 2^63 at production id ranges (see CHECKSUM_MOD)
        bigint(
            F.pmod(
                F.sum(F.col("doc_id").cast("decimal(38,0)") * F.col("n_tokens_kept")),
                F.lit(CHECKSUM_MOD),
            )
        ).alias("checksum"),
    )
    from pyspark.sql import Window as W

    w_prev = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    file_bytes = F.col("sum_bytes") + F.col("n_docs")
    return sh.select(
        "shard",
        "n_docs",
        "sum_tokens",
        "n_pii",
        "checksum",
        bigint(file_bytes).alias("file_bytes"),
        bigint(F.coalesce(F.sum(file_bytes).over(w_prev), F.lit(0))).alias("byte_offset"),
    ).orderBy("shard")


TOPP_PCT = 90  # nucleus cut: smallest source set covering 90% of tokens


def corpus_source_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) source selection: rank sources by token mass
    and keep the smallest prefix covering ``TOPP_PCT``% of the corpus
    — the source-level analogue of nucleus sampling, used to cut the
    long tail of scraped domains before mixing.

    A source is kept while the share accumulated BEFORE it is still
    under the cut, so the source that crosses the threshold is
    included (the standard top-p rule). The keep decision is an exact
    integer cross-multiplication (``prev_cum·100 < total·PCT``) — no
    division, no float; displayed shares are micro-scaled integers
    divided once.

    Scale shape: one corpus-scale aggregate to (source, tokens) — a
    handful of rows at any corpus size — then windows over that tiny
    table (total via an unpartitioned window over ~20 rows, not the
    corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        bigint(F.sum(F.size(F.split(F.lower("text"), " ")))).alias("tokens")
    )
    from pyspark.sql import Window as W

    w_all = W.partitionBy()
    w_cum = W.orderBy(F.desc("tokens"), F.asc("source")).rowsBetween(
        W.unboundedPreceding, 0
    )
    ranked = per_source.select(
        "source",
        "tokens",
        F.sum("tokens").over(w_all).alias("total"),
        F.sum("tokens").over(w_cum).alias("cum_tokens"),
        F.row_number().over(W.orderBy(F.desc("tokens"), F.asc("source"))).alias("rk"),
    )
    prev_cum = F.col("cum_tokens") - F.col("tokens")
    return ranked.select(
        "source",
        "tokens",
        bigint(F.col("rk")).alias("rk"),
        (
            F.round(F.col("tokens") * F.lit(1_000_000.0) / F.col("total"), 0)
            / F.lit(1_000_000.0)
        ).alias("share"),
        (
            F.round(F.col("cum_tokens") * F.lit(1_000_000.0) / F.col("total"), 0)
            / F.lit(1_000_000.0)
        ).alias("cum_share"),
        (prev_cum * 100 < F.col("total") * TOPP_PCT).alias("kept"),
    ).orderBy("rk")


def dedup_method_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side near-duplicate method report — the evaluation a
    curation team runs before picking a dedup stack: four registered
    pair-finders (word-shingle Jaccard, MinHash-LSH, embedding-cosine
    LSH, and perceptual-hash image near-dup) composed in ONE lazy plan,
    each reduced to its candidate-pair count. Reuses the standalone
    queries' builders verbatim (the ``pipeline_corpus_prep``
    composition rule), so this report can never drift from the
    operators it summarizes; the oracle is assembled the same way,
    embedding each method's own oracle SQL as a counted subquery."""
    from eventstream_benchmark_spark.operators import multimodal

    methods = (
        ("jaccard_word_shingle", dedup.dedup_ngram_jaccard),
        ("minhash_lsh", dedup.dedup_minhash_lsh),
        ("embedding_cosine_lsh", dedup.dedup_embedding_cosine),
        ("image_phash", multimodal.multimodal_image_phash),
    )
    frames = [
        fn(spark, sf_dir).agg(
            F.lit(name).alias("method"),
            bigint(F.count("*")).alias("n_dup_pairs"),
        )
        for name, fn in methods
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.orderBy("method")


QUERIES = {
    "dedup_method_comparison": dedup_method_comparison,
    "pipeline_corpus_prep": pipeline_corpus_prep,
    "pipeline_pretrain_corpus": pipeline_pretrain_corpus,
    "corpus_source_topp": corpus_source_topp,
    "export_shard_manifest": export_shard_manifest,
    "corpus_mix_rebalance": corpus_mix_rebalance,
    "corpus_temperature_resample": corpus_temperature_resample,
    "pipeline_dedup_ordered": pipeline_dedup_ordered,
}

def _dedup_comparison_sql() -> str:
    """Assemble the comparison oracle from the component methods' own
    oracle SQL — each embedded as a counted subquery, so the report's
    oracle moves in lockstep with the operators'."""
    from eventstream_benchmark_spark.operators import multimodal

    parts = (
        ("jaccard_word_shingle", dedup.ORACLES["dedup_ngram_jaccard"]),
        ("minhash_lsh", dedup.ORACLES["dedup_minhash_lsh"]),
        ("embedding_cosine_lsh", dedup.ORACLES["dedup_embedding_cosine"]),
        ("image_phash", multimodal.ORACLES["multimodal_image_phash"]),
    )
    selects = " UNION ALL ".join(
        f"SELECT '{name}' AS method, "
        f"CAST((SELECT count(*) FROM ({sql})) AS BIGINT) AS n_dup_pairs"
        for name, sql in parts
    )
    return f"SELECT * FROM ({selects}) ORDER BY method"


ORACLES = {
    "dedup_method_comparison": _dedup_comparison_sql(),
    "corpus_source_topp": f"""
        WITH per_source AS (
            SELECT source,
                   CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
                       AS tokens
            FROM documents GROUP BY source
        ),
        ranked AS (
            SELECT source, tokens,
                   CAST(sum(tokens) OVER () AS BIGINT) AS total,
                   CAST(sum(tokens) OVER (ORDER BY tokens DESC, source
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                   row_number() OVER (ORDER BY tokens DESC, source) AS rk
            FROM per_source
        )
        SELECT source, tokens, CAST(rk AS BIGINT) AS rk,
               CAST(round(tokens * 1000000.0 / total) AS BIGINT)
                   / 1000000.0 AS share,
               CAST(round(cum_tokens * 1000000.0 / total) AS BIGINT)
                   / 1000000.0 AS cum_share,
               (cum_tokens - tokens) * 100 < total * {TOPP_PCT} AS kept
        FROM ranked ORDER BY rk
    """,
    "pipeline_pretrain_corpus": f"""
        WITH feat AS (
            SELECT doc_id, text,
                   CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                       AS n_tokens,
                   CAST(round(len(list_filter(string_split(lower(text), ' '),
                              x -> x IN ('a', 'the')))
                              * 1000000.0
                              / len(string_split(lower(text), ' ')))
                       AS BIGINT) AS sr_i,
                   CAST(round((CAST(length(text) AS BIGINT)
                               - (len(string_split(lower(text), ' ')) - 1))
                              * 1000000.0
                              / len(string_split(lower(text), ' ')))
                       AS BIGINT) AS mtl_i
            FROM documents
        ),
        kept AS (
            SELECT doc_id, text FROM feat
            WHERE 20000 * (least(n_tokens, 400) - 60)
                  + 20 * (sr_i - 50000) - (mtl_i - 4600000) > 0
        ),
        wins AS (
            SELECT doc_id, CAST((i - 1) // 8 AS BIGINT) AS win_idx,
                   array_to_string(w[i:i+7], ' ') AS win_text,
                   CAST(len(w[i:i+7]) AS BIGINT) AS n_tok
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS w,
                         unnest(range(1,
                             len(string_split(lower(text), ' ')) + 1, 8)) AS i
                  FROM kept)
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY win_text
                          ORDER BY doc_id, win_idx) AS rn
            FROM wins
        ),
        stats AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_windows,
                   CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_removed,
                   CAST(coalesce(sum(CASE WHEN rn = 1 THEN n_tok END), 0)
                       AS BIGINT) AS n_tokens_kept
            FROM ranked GROUP BY doc_id
        ),
        pii AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+'))
                       AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(t, '[0-9]{{3}}-[0-9]{{4}}'))
                       AS BIGINT) AS n_phones,
                   CAST(length(regexp_replace(regexp_replace(t,
                       '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                       '[0-9]{{3}}-[0-9]{{4}}', '<PHONE>', 'g')) AS BIGINT)
                       AS redacted_len
            FROM (SELECT doc_id,
                         text ||
                         CASE WHEN doc_id % 3 = 0
                              THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                   || '@example.com' ELSE '' END ||
                         CASE WHEN doc_id % 5 = 0
                              THEN ' call 555-'
                                   || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                           4, '0')
                              ELSE '' END AS t
                  FROM kept)
        ),
        per_doc AS (
            SELECT s.doc_id, s.n_tokens_kept, p.n_emails, p.n_phones,
                   p.redacted_len,
                   CAST((s.doc_id * {text.SPLIT_HASH_MULT})
                        % {text.SPLIT_HASH_MOD} % {EXPORT_SHARDS} AS BIGINT)
                       AS shard
            FROM stats s JOIN pii p USING (doc_id)
            WHERE s.n_removed * 2 <= s.n_windows
        ),
        sh AS (
            SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens_kept) AS BIGINT) AS sum_tokens,
                   CAST(sum(n_emails + n_phones) AS BIGINT) AS n_pii,
                   CAST(sum(redacted_len) AS BIGINT) AS sum_bytes,
                   CAST(sum(CAST(doc_id AS HUGEINT) * n_tokens_kept)
                        % {CHECKSUM_MOD} AS BIGINT) AS checksum
            FROM per_doc GROUP BY shard
        )
        SELECT shard, n_docs, sum_tokens, n_pii, checksum,
               CAST(sum_bytes + n_docs AS BIGINT) AS file_bytes,
               CAST(coalesce(sum(sum_bytes + n_docs) OVER (ORDER BY shard
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS byte_offset
        FROM sh ORDER BY shard
    """,
    "export_shard_manifest": f"""
        WITH perdoc AS (
            SELECT doc_id,
                   CAST((doc_id * {text.SPLIT_HASH_MULT})
                        % {text.SPLIT_HASH_MOD} % {EXPORT_SHARDS} AS BIGINT)
                       AS shard,
                   CAST(len(toks) AS BIGINT) AS n_tok,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(list_sum([CAST(i AS BIGINT) *
                       CAST(31 * length(toks[i])
                            + ascii(substring(toks[i], 1, 1)) AS BIGINT)
                       FOR i IN range(1, len(toks) + 1)]) AS BIGINT) AS fp
            FROM (SELECT doc_id, text,
                         string_split(lower(text), ' ') AS toks
                  FROM documents)
        ),
        sh AS (
            SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(sum(CAST(fp AS HUGEINT)) % {CHECKSUM_MOD} AS BIGINT)
                       AS checksum,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM perdoc GROUP BY shard
        )
        SELECT shard, n_docs, sum_tokens, sum_chars, checksum,
               min_doc, max_doc,
               CAST(sum_chars + n_docs AS BIGINT) AS file_bytes,
               CAST(coalesce(sum(sum_chars + n_docs) OVER (ORDER BY shard
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS byte_offset
        FROM sh ORDER BY shard
    """,
    "pipeline_corpus_prep": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   string_split(lower(text), ' ') AS toks,
                   CAST(length(text) AS BIGINT) AS nchars
            FROM documents
        ),
        scored AS (
            SELECT doc_id, lang, len(toks) AS n_tokens,
                   (least(len(toks), 100) * len(toks)
                    + (len(toks) - len(list_filter(toks, x -> x IN {text._STOP_SQL}))) * 60
                    + least(len(toks) * 8, nchars - (len(toks) - 1)) * 5)
                   * 1.0 / (len(toks) * 200) AS quality
            FROM t
        ),
        dup_ids AS (
            SELECT DISTINCT d2 AS doc_id FROM ({dedup._PAIRS_SQL})
        )
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               round(avg(quality), 4) AS mean_quality
        FROM scored
        WHERE quality >= {QUALITY_THRESHOLD}
          AND doc_id NOT IN (SELECT doc_id FROM dup_ids)
        GROUP BY lang ORDER BY lang
    """,
    "corpus_temperature_resample": """
        WITH per_source AS (
            SELECT source,
                   CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source
        ),
        shared AS (
            SELECT source, n_tokens,
                   n_tokens * 1.0 / (SELECT sum(n_tokens) FROM per_source)
                       AS share
            FROM per_source
        ),
        z AS (SELECT sum(sqrt(share)) AS z FROM shared)
        SELECT source, n_tokens,
               round(share, 6) AS natural_share,
               round(sqrt(share) / z, 6) AS temp_share,
               round((sqrt(share) / z) / share, 6) AS resample_factor
        FROM shared, z ORDER BY source
    """,
    "corpus_mix_rebalance": """
        WITH per_source AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source
        ),
        totals AS (
            SELECT sum(n_tokens) AS total_tokens, count(*) AS n_sources
            FROM per_source
        )
        SELECT source, n_docs, n_tokens,
               round(n_tokens * 1.0 / total_tokens, 6) AS token_share,
               round(least(1.0,
                     (1.0 / n_sources) / (n_tokens * 1.0 / total_tokens)), 6)
                   AS sample_rate
        FROM per_source, totals ORDER BY source
    """,
    "pipeline_dedup_ordered": f"""
        WITH keepers AS (
            SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY md5(lower(text))
        ),
        surv AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
        dropped AS (SELECT DISTINCT d2 AS doc_id FROM ({dedup._pairs_sql('surv')}) p)
        SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
        UNION ALL
        SELECT '2_after_exact', CAST(count(*) AS BIGINT) FROM surv
        UNION ALL
        SELECT '3_after_near', CAST(count(*) AS BIGINT) FROM surv
        WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        ORDER BY stage
    """,
}
