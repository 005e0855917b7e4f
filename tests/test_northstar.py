"""Targeted checks for approximate / stubbed north-star operators that
the DuckDB oracle can't hash-verify: ANN recall floors and multimodal
byte-plumbing equivalence against plain NumPy."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from eventstream_benchmark_spark.operators.multimodal import (
    FRAMES_PER_VIDEO,
    TARGET_H,
    TARGET_W,
    media_table,
    multimodal_frame_sample,
    multimodal_resize,
)
from eventstream_benchmark_spark.operators.similarity import (
    KNN_K,
    ann_ivf_cosine,
    knn_bruteforce_topk,
)


def test_ivf_recall_vs_bruteforce(spark, sf_small):
    exact = knn_bruteforce_topk(spark, sf_small).toPandas()
    approx = ann_ivf_cosine(spark, sf_small).toPandas()
    exact_sets = exact.groupby("q_id")["vec_id"].apply(set)
    approx_sets = approx.groupby("q_id")["vec_id"].apply(set)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / KNN_K for q in exact_sets.index
    ]
    # probing 4/16 clusters after one Lloyd step: expect to recover most
    # true neighbors on the fixture corpus
    assert np.mean(recalls) >= 0.5, f"mean IVF recall {np.mean(recalls):.2f}"
    # and the approx result respects its own contract
    assert (approx["rk"] <= KNN_K).all()


def test_bmp_wav_codecs_roundtrip():
    """The pure-NumPy media codecs are real: encode then decode
    recovers the exact pixel grid / sample vector (exercising row
    padding, bottom-up storage, and the RIFF chunk walk)."""
    from eventstream_benchmark_spark.operators.multimodal import (
        _bmp_bytes,
        _decode_bmp,
        _decode_wav,
        _wav_bytes,
    )

    for doc_id, w, h in ((3, 13, 9), (42, 8, 8), (99, 63, 47)):
        buf = _bmp_bytes(doc_id, w, h)
        dw, dh, grid = _decode_bmp(buf)
        assert (dw, dh) == (w, h)
        want = ((doc_id * 31 + 7 * np.arange(w * h, dtype=np.int64)) % 256).reshape(h, w)
        assert (grid.astype(np.int64) == want).all()

    for doc_id, n in ((4, 100), (77, 599)):
        samples = _decode_wav(_wav_bytes(doc_id, n))
        want = (doc_id * 13 + 11 * np.arange(n, dtype=np.int64)) % 65536 - 32768
        assert (samples.astype(np.int64) == want).all()


def test_resize_budget_and_checksum(spark, sf_small):
    out = multimodal_resize(spark, sf_small).toPandas().set_index("doc_id")
    imgs = media_table(spark, sf_small).filter("media_type = 'image/bmp'")
    meta = imgs.select("doc_id", "width", "height").toPandas()
    assert len(out) == len(meta)
    # fixed output budget + NumPy closed-form checksum per image
    assert (out["out_w"] == TARGET_W).all() and (out["out_h"] == TARGET_H).all()
    for _, row in meta.iterrows():
        doc_id, w, h = int(row["doc_id"]), int(row["width"]), int(row["height"])
        rr = (np.arange(TARGET_H, dtype=np.int64) * h) // TARGET_H
        cc = (np.arange(TARGET_W, dtype=np.int64) * w) // TARGET_W
        idx = rr[:, None] * w + cc[None, :]
        want = int(((doc_id * 31 + 7 * idx) % 256).sum())
        assert int(out.loc[doc_id, "pixel_sum"]) == want


def test_frame_sample_fanout(spark, sf_small):
    from eventstream_benchmark_spark.operators.multimodal import VIDEO_HEADER

    out = multimodal_frame_sample(spark, sf_small).toPandas()
    vids = media_table(spark, sf_small).filter("media_type = 'video/mp4'")
    pdf = vids.select("payload").toPandas()
    assert list(out["frame_idx"]) == list(range(FRAMES_PER_VIDEO))
    assert (out["n_frames"] == len(pdf)).all()
    # frames partition the BODY bytes exactly: frame checksums sum to
    # the whole-body byte sum, frame sizes sum to the body size
    bodies = [np.frombuffer(p, dtype=np.uint8, offset=len(VIDEO_HEADER)) for p in pdf["payload"]]
    assert int(out["checksum_sum"].sum()) == sum(int(b.astype(np.int64).sum()) for b in bodies)
    assert int(out["total_bytes"].sum()) == sum(int(b.size) for b in bodies)


def test_scoped_persists_bounded_and_released(spark, sf_small):
    """The _cache.py contract, end to end: during a sweep at most one
    query's intermediates occupy executor storage (the registry wrapper
    releases the previous query's at entry), and the harness-side
    release leaves nothing behind."""
    from eventstream_benchmark_spark.operators import _cache, all_queries

    qs = all_queries()
    previous: list = []
    for name in (
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "ann_ivf_cosine",
        "pipeline_dedup_ordered",
        "orders_rfm_segmentation",
    ):
        df = qs[name](spark, sf_small)
        df.count()
        assert not any(p.is_cached for p in previous), (
            f"{name} ran with its predecessor's persists still cached"
        )
        previous = list(_cache._LIVE)
        # minhash persists the exact-dup group table + the relational
        # (rep_id, doc_id) membership table (round-9: replaced the
        # per-group member array) + representative shingles + capped
        # shingles + signatures; everything else at most FOUR (the
        # bound stays per-family so a lean query can't silently grow)
        bound = 5 if name == "dedup_minhash_lsh" else 4
        assert len(_cache._LIVE) <= bound, name
    _cache.release_scoped_persists()
    assert not _cache._LIVE


def test_simhash_xxhash64_matches_scalar_recomputation(spark, sf_small):
    """The production (xxhash64 + Arrow NumPy) SimHash variant against
    an independent per-bit scalar recomputation of the same contract:
    per-shingle xxhash64 (Spark-side, collected), +-1 bit votes,
    bit set iff votes > 0, bucket = top-16 signature bits."""
    from pyspark.sql import functions as F

    from eventstream_benchmark_spark.operators.dedup import (
        _doc_shingles,
        dedup_simhash_xxhash64,
    )

    out = dedup_simhash_xxhash64(spark, sf_small).toPandas()
    hashes = (
        _doc_shingles(spark, sf_small)
        .select("doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs"))
        .toPandas()
    )
    buckets: dict[int, list[int]] = {}
    for doc_id, hs in zip(hashes["doc_id"], hashes["hs"]):
        sig = 0
        for b in range(64):
            votes = sum(1 if (int(h) >> b) & 1 else -1 for h in hs)
            if votes > 0:
                sig |= 1 << b
        # arithmetic shiftright on the signed 64-bit signature
        signed = sig - (1 << 64) if sig >= (1 << 63) else sig
        buckets.setdefault(signed >> 48, []).append(int(doc_id))
    expect = {
        b: (len(ids), min(ids)) for b, ids in buckets.items() if len(ids) > 1
    }
    got = {
        int(r.bucket): (int(r.n_docs), int(r.keeper_doc_id))
        for r in out.itertuples()
    }
    assert got == expect


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_embedding_lsh_zero_missed_pairs_per_fixture(spark, sf_dir):
    """Round-4 advice: the 40x4-band hyperplane LSH's theoretical miss
    probability at the 0.45 threshold is ~4e-4 per qualifying pair, but
    the oracle is exact all-pairs — so EVERY fixture set must be
    exhaustively certified to have zero missed pairs, and a fixture
    refresh that breaks that must fail here in CI before the driver
    sees a hash mismatch."""
    import duckdb

    from eventstream_benchmark_spark.operators import dedup

    got = {
        (int(r.v1), int(r.v2))
        for r in dedup.dedup_embedding_cosine(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        truth = {
            (int(row[0]), int(row[1]))
            for row in con.execute(
                dedup.ORACLES["dedup_embedding_cosine"]
            ).fetchall()
        }
    finally:
        con.close()
    missed = truth - got
    assert not missed, f"LSH missed {len(missed)} qualifying pairs: {sorted(missed)[:5]}"
    assert got == truth


def test_seq_dot_udf_bit_identical_to_fold(spark, sf_small):
    """The batched verify dot must equal the interpreted Catalyst fold
    BIT-FOR-BIT (no tolerance): same dimension-by-dimension
    accumulation order, same doubles."""
    from pyspark.sql import functions as F

    from eventstream_benchmark_spark.io import load_table
    from eventstream_benchmark_spark.operators.dedup import _seq_dot_udf

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    fold = F.aggregate(
        F.zip_with(F.col("v"), F.reverse("v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    out = emb.select(
        fold.alias("a"), _seq_dot_udf()(F.col("v"), F.reverse("v")).alias("b")
    ).toPandas()
    assert (out["a"].to_numpy() == out["b"].to_numpy()).all()


def test_multiprobe_lsh_recall_floor(spark, sf_small):
    """8-bit Hamming-2 multiprobe on the near-uniform fixture corpus:
    measured recall 0.30/0.50/0.40 across the three SFs (see
    QUERY_LSH_BITS sizing note); pin a floor so a probe-mask or
    bucket-width regression is caught."""
    from eventstream_benchmark_spark.operators.similarity import (
        ann_lsh_query_topk,
    )

    exact = knn_bruteforce_topk(spark, sf_small).toPandas()
    approx = ann_lsh_query_topk(spark, sf_small).toPandas()
    es = exact.groupby("q_id")["vec_id"].apply(set)
    asets = approx.groupby("q_id")["vec_id"].apply(set)
    recalls = [len(es[q] & asets.get(q, set())) / KNN_K for q in es.index]
    assert np.mean(recalls) >= 0.25, f"multiprobe recall {np.mean(recalls):.2f}"
    assert (approx["rk"] <= KNN_K).all()


def test_pq_seed_vectors_encode_to_themselves(spark, sf_small):
    """Codebook training is the identity on its own seeds: every
    vec_id < PQ_CODES must encode to code vec_id in EVERY subspace
    with zero reconstruction error — a codebook-wiring canary (a
    wrong slice offset or argmin tiebreak breaks this immediately)."""
    from eventstream_benchmark_spark.operators.similarity import (
        PQ_CODES,
        PQ_SUBS,
        embed_pq_encode,
    )

    out = embed_pq_encode(spark, sf_small).toPandas()
    seeds = out[out["vec_id"] < PQ_CODES]
    assert len(seeds) == PQ_CODES
    for _, row in seeds.iterrows():
        assert row["codes"] == "-".join([str(row["vec_id"])] * PQ_SUBS)
        assert row["mse"] == 0.0
    # non-seed vectors must quantize with loss (fixture vecs are dense
    # near-uniform, never exactly equal to a seed subvector 8x over)
    rest = out[out["vec_id"] >= PQ_CODES]
    assert (rest["mse"] > 0).all()


def test_line_dedup_removes_planted_duplicate_spans(spark, sf_small, tmp_path):
    """Plant two documents sharing an identical leading 8-token span:
    the first (lower doc_id) keeps it, the second loses exactly that
    span and keeps its distinct tail."""
    import pandas as pd

    from eventstream_benchmark_spark.operators.text import LINE_WIN, text_line_dedup

    span = " ".join(["dup"] * LINE_WIN)
    tail = " ".join(f"tail{i}" for i in range(LINE_WIN))
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [span, span + " " + tail],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [len(span), len(span) + 1 + len(tail)],
        }
    )
    fix = tmp_path / "fixture"
    fix.mkdir()
    spark.createDataFrame(docs).write.parquet(str(fix / "documents.parquet"))
    out = text_line_dedup(spark, str(fix)).toPandas().set_index("doc_id")
    assert out.loc[0, "n_removed"] == 0 and out.loc[0, "n_tokens_kept"] == LINE_WIN
    assert out.loc[1, "n_windows"] == 2
    assert out.loc[1, "n_removed"] == 1  # the shared leading span
    assert out.loc[1, "n_tokens_kept"] == LINE_WIN  # only the tail survives


def test_line_dedup_window_count_invariant(spark, sf_small):
    """Per doc: n_windows == ceil(n_ws_tokens / LINE_WIN) and the kept
    token count never exceeds the doc's own token count."""
    import math

    from eventstream_benchmark_spark.operators.text import (
        LINE_WIN,
        text_line_dedup,
        text_token_count,
    )

    dd = text_line_dedup(spark, sf_small).toPandas().set_index("doc_id")
    tc = text_token_count(spark, sf_small).toPandas().set_index("doc_id")
    for doc_id, row in dd.iterrows():
        n_tok = int(tc.loc[doc_id, "n_ws_tokens"])
        assert row["n_windows"] == math.ceil(n_tok / LINE_WIN)
        assert 0 <= row["n_tokens_kept"] <= n_tok


def test_source_topp_kept_is_rank_prefix(spark, sf_small):
    """The nucleus cut must keep a contiguous rank prefix whose
    cumulative share reaches the threshold."""
    from eventstream_benchmark_spark.operators.pipeline import (
        TOPP_PCT,
        corpus_source_topp,
    )

    df = corpus_source_topp(spark, sf_small).toPandas().sort_values("rk")
    kept = df["kept"].tolist()
    assert kept == sorted(kept, reverse=True), "kept must be a rank prefix"
    last_kept = df[df["kept"]].iloc[-1]
    prev_cum = last_kept["cum_share"] - last_kept["share"]
    assert prev_cum < TOPP_PCT / 100 + 1e-9
    assert df[df["kept"]]["cum_share"].iloc[-1] >= TOPP_PCT / 100 - 1e-9


def test_markov_matrix_row_stochastic(spark, sf_small):
    """Transition counts must sum to (events − first-event-per-user)
    and each row's probabilities to ~1 (micro-rounding slack)."""
    from eventstream_benchmark_spark.operators.eventstream import (
        events_markov_transitions,
    )
    from eventstream_benchmark_spark.io import load_table

    df = events_markov_transitions(spark, sf_small).toPandas()
    ev = load_table(spark, sf_small, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert df["n"].sum() == n_events - n_users
    for _, grp in df.groupby("prev_type"):
        assert (grp["row_total"] == grp["n"].sum()).all()
        assert abs(grp["prob"].sum() - 1.0) < 5e-6 * len(grp)
