"""Seeded randomized oracle sweeps for retrieval, corpus-prep
pipelines, recall evals, and the multimodal fakes.

These lanes COMPOSE machinery other sweeps pin individually (BM25's
panel derives from the corpus's own document frequencies, RRF fuses
the lexical and dense retrievers, the pipelines chain quality → dedup
→ split, and the recall evals confusion-join an approximate path
against its exact twin) — so the sweep's value is end-to-end: a
re-rolled corpus re-derives every intermediate (panel terms, idf
table, vocabulary, LSH buckets, fabricated image/audio bytes) and the
final report must still match DuckDB bit-for-bit.

Corpus shapes: skewed term frequencies (the BM25 panel and the OOV
vocabulary are frequency cuts with documented tie-breaks — a flat
corpus would leave the cut undecided by ties alone), repeated
paragraphs and near-dup variants (the dedup evals need true
positives), exact duplicates, docs shorter than one chunk stride,
empty docs, multi-source mixes with one dominant source (the top-p
nucleus cut must exclude the tail), and doc_ids on the %3/%5 grids
the PII planter keys on. Embeddings ride the 1/16 dyadic grid with
planted duplicates so the ANN recall eval has non-trivial truth.
"""

from __future__ import annotations

import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.sweep_util import sweep_check

WORDS = ["stream", "window", "shard", "batch", "vector", "join", "scan",
         "merge", "cache", "spill", "plan", "stage", "the", "a", "fast"]

SWEPT = (
    "index_inverted_postings",
    "index_bm25_topk",
    "retrieval_fusion_rrf",
    "corpus_bpe_pair_counts",
    "corpus_ngram_topk",
    "corpus_source_topp",
    "vocab_oov_rate",
    "docs_chunk_overlap",
    "text_fingerprint",
    "text_repetition_score",
    "text_pii_redact",
    "dedup_url_normalize",
    "quality_logreg_filter",
    "dedup_method_comparison",
    "dedup_recall_eval",
    "ann_recall_eval",
    "pipeline_corpus_prep",
    "pipeline_dedup_ordered",
    "pipeline_pretrain_corpus",
    "multimodal_extract",
    "multimodal_resize",
    "multimodal_frame_sample",
    "multimodal_audio_features",
    "multimodal_image_hist",
    "multimodal_image_phash",
)


def _build_corpus(rng: random.Random) -> list[str]:
    # skewed unigram distribution: low-index words are much more
    # frequent, so df cuts (BM25 panel, OOV vocab) rank decisively
    def word():
        return WORDS[min(rng.randrange(len(WORDS)),
                         rng.randrange(len(WORDS)))]

    texts = []
    for _ in range(rng.randint(12, 22)):
        n = rng.randint(3, 120)  # some docs shorter than a chunk stride
        texts.append(" ".join(word() for _ in range(n)))
    # near-dup variants + exact duplicates: dedup-eval true positives
    for _ in range(rng.randint(2, 4)):
        base = rng.choice(texts).split(" ")
        if len(base) > 8:
            base[rng.randrange(len(base))] = word()
            texts.append(" ".join(base))
    texts += [rng.choice(texts)] * 2
    texts += ["", "stream"]
    rng.shuffle(texts)
    return texts


@pytest.mark.parametrize("seed", [79, 6464])
def test_retrieval_pipeline_randomized_oracle_agreement(spark, tmp_path, seed):
    rng = random.Random(seed)
    texts = _build_corpus(rng)
    # one dominant source: the 90% nucleus cut must drop the tail
    sources = [
        "src0" if rng.random() < 0.7 else rng.choice(["src1", "src2", "src3"])
        for _ in texts
    ]
    rows = [
        (i, t, rng.choice(["en", "de", "fr"]), s, len(t))
        for i, (t, s) in enumerate(zip(texts, sources))
    ]
    root = tmp_path / f"ret{seed}"
    root.mkdir()
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
            ),
            preserve_index=False,
        ),
        str(root / "documents.parquet"),
    )
    vecs = [
        [rng.randint(-32, 32) / 16.0 for _ in range(64)]
        for _ in range(rng.randint(30, 50))
    ]
    vecs += [list(rng.choice(vecs)) for _ in range(4)]  # planted dups
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([rng.randint(0, 9) for _ in vecs], pa.int32()),
        }
    )
    pq.write_table(embeddings, str(root / "embeddings.parquet"))
    sweep_check(spark, str(root), SWEPT, ("documents", "embeddings"), seed)


def test_checksum_mod_is_exact_past_int64(spark):
    """The export-manifest checksum spelling — decimal(38,0) sum +
    pmod(CHECKSUM_MOD) — must stay exact where a raw BIGINT sum does
    not survive: fp values near 2^62 summed over a handful of rows
    already exceed 2^63. Under this environment's Spark 4 default
    (ansi.enabled=true, verified here) the raw spelling RAISES
    ARITHMETIC_OVERFLOW — i.e. the query simply dies at 100 TB — and
    under ansi=false clusters it wraps silently; DuckDB raises at its
    HUGEINT→BIGINT cast. The 128-bit + explicit-modulus spelling is
    the only variant with a DEFINED value, identical in both engines.
    Pins that contract against a drive-by simplification back to
    sum(bigint)."""
    import duckdb

    from eventstream_benchmark_spark.operators.pipeline import CHECKSUM_MOD

    vals = [(1 << 62) - 3, (1 << 62) - 1, (1 << 61) + 7, 12345, (1 << 60)]
    expected = sum(vals) % CHECKSUM_MOD
    assert sum(vals) >= 1 << 63, "fixture must actually exceed int64"

    df = spark.createDataFrame([(v,) for v in vals], "fp long")
    got = df.agg(
        F.pmod(F.sum(F.col("fp").cast("decimal(38,0)")), F.lit(CHECKSUM_MOD))
        .cast("bigint")
        .alias("c")
    ).collect()[0]["c"]
    assert got == expected

    # the raw-bigint spelling demonstrably does NOT survive the same
    # input: ANSI Spark raises (the failure the decimal spelling
    # closes); a non-ANSI session would wrap to a value != the true sum
    try:
        wrapped = df.agg(F.sum("fp").alias("s")).collect()[0]["s"]
        assert wrapped != sum(vals), "int64 sum cannot hold this total"
    except Exception:
        pass  # ANSI overflow raise — the expected failure mode here

    # DuckDB twin: HUGEINT sum % MOD == the same exact value
    duck = duckdb.connect().execute(
        f"SELECT CAST(sum(CAST(v AS HUGEINT)) % {CHECKSUM_MOD} AS BIGINT) "
        f"FROM (SELECT unnest({vals!r}) AS v)"
    ).fetchone()[0]
    assert duck == expected
