"""Stop-shingle cap (DOCFREQ_CAP) behavior on an adversarially skewed
corpus: one boilerplate shingle shared by > CAP docs must be dropped
before any pair join (bounding the per-shingle fanout the round-4
verdict flagged as the repo's last unbounded-quadratic shape), while
genuine near-dup pairs on rare shingles survive — and Spark + DuckDB
must agree on the capped shingle sets exactly.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from eventstream_benchmark_spark.operators import dedup
from tests.oracle_harness import compare


def _skewed_docs() -> pd.DataFrame:
    n_hot = dedup.DOCFREQ_CAP + 44
    rows = [
        # every doc shares the 'common boiler plate filler' prefix →
        # two shingles with docfreq == n_hot > CAP; the u/v/w tail
        # makes three singleton shingles per doc
        (i, f"common boiler plate filler u{i} v{i} w{i}")
        for i in range(n_hot)
    ]
    # one genuine near-dup pair on rare shingles (identical text, J=1)
    rows.append((100000, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((100001, "alpha beta gamma delta epsilon zeta eta theta"))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def test_cap_drops_hot_shingles_keeps_rare_pairs(spark, tmp_path):
    pdf = _skewed_docs()
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    sf = str(tmp_path)

    capped = dedup._capped_shingles(
        dedup._shingle_table(
            spark.createDataFrame(pdf).select("doc_id", "text")
        )
    )
    # the bounded-fanout invariant: after capping, no shingle's
    # docfreq (= pair-join key multiplicity) exceeds the cap
    max_df = (
        capped.select(F.explode("shingles").alias("s"))
        .groupBy("s")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_df <= dedup.DOCFREQ_CAP
    all_sh = set().union(*capped.toPandas()["shingles"])
    assert "common_boiler_plate" not in all_sh
    assert "boiler_plate_filler" not in all_sh
    assert "alpha_beta_gamma" in all_sh  # rare shingles untouched

    # the boilerplate docs share ONLY capped shingles → zero pairs from
    # them; the genuine duplicate pair survives with Jaccard 1.0
    out = dedup.dedup_ngram_jaccard(spark, sf).toPandas()
    assert len(out) == 1
    assert (int(out.d1[0]), int(out.d2[0]), float(out.jaccard[0])) == (
        100000,
        100001,
        1.0,
    )


def test_cap_is_mirrored_in_oracle(spark, tmp_path):
    """Spark's capped pair output must hash-match the _PAIRS_SQL oracle
    on the skewed corpus — the cap lives in both engines or neither."""
    pdf = _skewed_docs()
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'documents.parquet'}')"
        )
        duck = con.execute(dedup._PAIRS_SQL).fetchdf()
    finally:
        con.close()
    for fn in (dedup.dedup_ngram_jaccard, dedup.dedup_minhash_lsh):
        issues = compare(fn(spark, str(tmp_path)), duck)
        assert not issues, f"{fn.__name__}: " + "; ".join(issues)


def test_ann_lsh_bucket_cap_bounds_degenerate_cluster(spark, tmp_path):
    """A degenerate cluster (one vector repeated far past the cap)
    collides into a single sign bucket under ANY bucketing scheme; the
    per-bucket cap must bound the pair output at CAP²/2 instead of
    n²/2 — and DuckDB must pick the identical capped survivor set."""
    import numpy as np

    from eventstream_benchmark_spark.operators import similarity as sim

    n_clone = 3 * sim.LSH_BUCKET_CAP  # 192 identical vectors
    base = (np.arange(64, dtype=np.float32) % 7 - 3.0) / 4.0
    rows = [(i, (base + (i % 3) * 1e-4).astype(np.float32).tolist(), 0)
            for i in range(n_clone)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    pdf.to_parquet(tmp_path / "embeddings.parquet", index=False)

    out = sim.ann_lsh_cosine(spark, str(tmp_path)).toPandas()
    cap_pairs = sim.LSH_BUCKET_CAP * (sim.LSH_BUCKET_CAP - 1) // 2
    assert len(out) <= cap_pairs          # 2016, not 192*191/2 = 18336
    assert len(out) > 0                   # the cluster still yields candidates
    assert set(out.v1) | set(out.v2) <= set(range(sim.LSH_BUCKET_CAP))
    # the truncation is observable, not silent: every pair from the hot
    # bucket reports exactly how many vectors the cap dropped
    assert (out.n_overflow == n_clone - sim.LSH_BUCKET_CAP).all()

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
        )
        duck = con.execute(sim.ORACLES["ann_lsh_cosine"]).fetchdf()
    finally:
        con.close()
    issues = compare(sim.ann_lsh_cosine(spark, str(tmp_path)), duck)
    assert not issues, "; ".join(issues)


def test_semdedup_cap_bounds_degenerate_corpus(spark, tmp_path):
    """A corpus of near-identical vectors collapses into one k-means
    cluster; the per-cluster cap must bound pair work at CAP²/2 with
    the overflow reported in the hash-checked output — and DuckDB must
    replay the identical clustering, cap, and prune decisions."""
    import numpy as np

    from eventstream_benchmark_spark.operators import similarity as sim

    n = sim.SEMDEDUP_CLUSTER_CAP + 100  # 356 clones of one vector
    base = (np.arange(64, dtype=np.float32) % 5 - 2.0) / 3.0
    rows = [(i, (base * (1.0 + (i % 7) * 1e-5)).astype(np.float32).tolist(), 0)
            for i in range(n)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    pdf.to_parquet(tmp_path / "embeddings.parquet", index=False)

    out = sim.dedup_semantic_cluster(spark, str(tmp_path)).toPandas()
    # scaling a vector leaves cosine at 1.0: one cluster holds everyone,
    # every capped member but the keeper is pruned, overflow is exact
    hot = out[out.n_members == n]
    assert len(hot) == 1
    cap = sim.SEMDEDUP_CLUSTER_CAP
    assert int(hot.n_dup_pairs.iloc[0]) == cap * (cap - 1) // 2
    assert int(hot.n_pruned.iloc[0]) == cap - 1
    assert int(hot.n_overflow.iloc[0]) == n - cap

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
        )
        duck = con.execute(sim.ORACLES["dedup_semantic_cluster"]).fetchdf()
    finally:
        con.close()
    issues = compare(sim.dedup_semantic_cluster(spark, str(tmp_path)), duck)
    assert not issues, "; ".join(issues)


def _flooded_docs() -> pd.DataFrame:
    """A duplicate-flooded mini corpus exercising every collapse path:
    two exact-dup cliques (sizes 4 and 3), a cross-clique near-dup
    (one clique's text one-word-edited — J above threshold), an
    unrelated singleton, a sub-3-token doc (shingle-filtered), a
    case-variant duplicate (collapse keys on lower(text)), and — the
    round-9 membership-table pin — one GIANT exact-dup clique (120
    copies) whose pair set must come out of the relational
    (rep_id, doc_id) expansion, never a per-group member array."""
    # 12 tokens -> 10 shingles; a last-word edit shares 9 of them on
    # each side: J = 9/(10+10-9) = 9/11 ~ 0.818, above the 0.8 gate
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"
    near = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu xi"
    giant = (
        "omicron pi rho sigma tau upsilon phi chi psi omega lambda digamma"
    )
    rows = [(i, base) for i in range(1, 5)]                 # clique A (4 copies)
    rows += [(10 + i, near) for i in range(3)]              # clique B (3 copies)
    rows.append((20, base.upper()))                         # case variant of A
    rows.append((30, "completely different words entirely here now"))
    rows.append((40, "too short"))
    rows += [(100 + i, giant) for i in range(120)]          # giant clique
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def test_collapsed_minhash_equals_uncollapsed(spark, tmp_path):
    """The round-8 exact-dup collapse is OUTPUT-EQUAL to the
    uncollapsed chain by construction (identical texts share shingle
    sets, signatures, and band buckets; the weighted cap reproduces
    the corpus docfreq) — this pins that argument directly: both
    chains over a duplicate-flooded corpus produce the identical
    (d1, d2, jaccard) multiset, including within-clique pairs at
    exactly 1.0, the case-variant member, and cross-clique near-dups
    carrying the representative jaccard."""
    pdf = _flooded_docs()
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    sf = str(tmp_path)

    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
        release_shared_persists,
    )

    release_shared_persists()
    release_scoped_persists()
    collapsed = (
        dedup._minhash_pairs_collapsed(spark, sf)
        .toPandas()
        .sort_values(["d1", "d2"])
        .reset_index(drop=True)
    )
    release_scoped_persists()
    uncollapsed = (
        dedup._minhash_pairs(
            dedup._capped_shingles(dedup._doc_shingles(spark, sf))
        )
        .toPandas()
        .sort_values(["d1", "d2"])
        .reset_index(drop=True)
    )
    release_scoped_persists()

    assert collapsed.equals(uncollapsed), (
        f"collapsed:\n{collapsed}\nuncollapsed:\n{uncollapsed}"
    )
    # the corpus exercises every path: 4-clique (6 pairs at J=1.0
    # incl. the case variant -> 5-clique = 10 pairs), 3-clique
    # (3 pairs at 1.0), the 120-member giant clique (7140 pairs at
    # 1.0), cross-clique near-dups (5x3 = 15 pairs < 1.0)
    ones = collapsed[collapsed["jaccard"] == 1.0]
    cross = collapsed[collapsed["jaccard"] < 1.0]
    assert len(ones) == 10 + 3 + 120 * 119 // 2, len(ones)
    assert len(cross) == 15, collapsed
    assert (cross["jaccard"] >= dedup.JACCARD_THRESHOLD).all()


def test_incremental_equals_parity_filtered_full_pass(spark, tmp_path):
    """The incremental probe (batch=odd ids → corpus=even ids) must
    emit exactly the full-pass pair set restricted to opposite-parity
    pairs, re-oriented batch-first — the structural claim in its
    docstring, pinned on the duplicate-flooded corpus (which puts
    exact-dup cliques and near-dup pairs on both sides of the
    split)."""
    pdf = _flooded_docs()
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    sf = str(tmp_path)

    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
        release_shared_persists,
    )

    release_shared_persists()
    release_scoped_persists()
    inc = (
        dedup.dedup_minhash_incremental(spark, sf)
        .toPandas()
        .sort_values(["batch_doc", "corpus_doc"])
        .reset_index(drop=True)
    )
    release_scoped_persists()
    full = dedup._minhash_pairs_collapsed(spark, sf).toPandas()
    release_scoped_persists()
    release_shared_persists()
    cross = full[(full.d1 + full.d2) % 2 == 1]
    expected = pd.DataFrame(
        {
            "batch_doc": cross.apply(
                lambda r: r.d1 if r.d1 % 2 else r.d2, axis=1
            ).astype("int64"),
            "corpus_doc": cross.apply(
                lambda r: r.d2 if r.d1 % 2 else r.d1, axis=1
            ).astype("int64"),
            "jaccard": cross.jaccard,
        }
    ).sort_values(["batch_doc", "corpus_doc"]).reset_index(drop=True)
    assert inc.equals(expected), f"inc:\n{inc}\nexpected:\n{expected}"
    assert len(inc) > 0  # the flooded corpus has cross-parity dups


def test_collapse_plans_carry_no_member_array(spark, tmp_path):
    """Round-9 membership-table pin (round-8 verdict #3): neither
    collapse stage may build a per-group member array — a
    million-member exact-dup clique must never be one multi-MB
    collect_list row. Membership is relational (rep_id, id) rows, so
    the physical plans of both pair builds contain no collect_list."""
    pdf = _flooded_docs()
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    emb = pd.DataFrame(
        [(i, [float(i % 3) + 1.0, 2.0, 3.0, 4.0]) for i in range(12)],
        columns=["vec_id", "embedding"],
    )
    emb.to_parquet(tmp_path / "embeddings.parquet", index=False)
    sf = str(tmp_path)

    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
        release_shared_persists,
    )

    release_shared_persists()
    release_scoped_persists()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for build in (dedup._minhash_pairs_collapsed, dedup._emb_cosine_pairs_build):
        plan = build(spark, sf)._jdf.queryExecution().explainString(mode)
        # the shingle-table collect_list (per-DOC shingle sets, bounded
        # by text length) is allowed; the per-GROUP member arrays are
        # what must not exist -- they aliased to "members"
        assert "members" not in plan, plan
        release_scoped_persists()
    release_shared_persists()


def test_cc_rep_level_labels_equal_member_level(spark, tmp_path):
    """Round-10 rewrite pin: connected components over REPRESENTATIVE
    edges + one membership join (the production plan — a flooded
    clique is one node per propagation round) must produce exactly the
    labels of min-label CC over the member-expanded pair set (the
    definitionally-correct form), on the corpus that exercises every
    expansion path: giant exact-dup clique, case-variant member,
    cross-clique near-dup chains, and weight-1 groups."""
    pdf = _flooded_docs()
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    sf = str(tmp_path)

    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
        release_shared_persists,
    )

    release_shared_persists()
    release_scoped_persists()
    rep_level = sorted(
        map(tuple, dedup._cc_labels_build(spark, sf).collect())
    )
    release_scoped_persists()
    member_level = sorted(
        map(
            tuple,
            dedup._min_label_cc(
                dedup._minhash_pairs_collapsed(spark, sf).select("d1", "d2")
            ).collect(),
        )
    )
    release_scoped_persists()
    release_shared_persists()
    assert rep_level == member_level
    assert len(rep_level) > 0


def test_substring_removal_is_subset_of_detection(spark, tmp_path):
    """Cross-query invariant on the flood corpus: the removal pass may
    only delete tokens inside the detection pass's maximal repeated
    intervals (removal keeps first occurrences, detection marks ALL
    occurrences — so removed ⊆ detected, strictly for any doc whose
    first-occurrence region survives), and a doc with zero detected
    intervals must lose zero tokens."""
    pdf = _flooded_docs()
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    sf = str(tmp_path)

    from eventstream_benchmark_spark.operators.text import (
        text_substring_dedup,
        text_substring_removal,
    )

    intervals = text_substring_dedup(spark, sf).toPandas()
    removal = text_substring_removal(spark, sf).toPandas()

    detected_tokens = intervals.groupby("doc_id")["n_tokens"].sum().to_dict()
    for row in removal.itertuples():
        assert row.n_removed_tokens <= detected_tokens.get(row.doc_id, 0), (
            f"doc {row.doc_id}: removed {row.n_removed_tokens} tokens but "
            f"detection marked only {detected_tokens.get(row.doc_id, 0)}"
        )
    # the flood guarantees work for both passes: the 120-member clique
    # keeps exactly one full copy and strips the rest
    assert (removal.n_removed_tokens > 0).any()
    assert (removal.n_removed_tokens == 0).any()  # uniques untouched


def test_keeper_policies_empty_corpus_emits_no_rows(spark, tmp_path):
    """Round-10 review pin: on a corpus with zero dup clusters the
    keeper-policy comparison must emit ZERO rows (matching its
    oracle's GROUP BY over an empty keeper set) — not one NULL-sum
    row per policy from the global aggregate."""
    pdf = pd.DataFrame(
        [(i, " ".join(f"u{i}w{j}" for j in range(12)), 60 + i)
         for i in range(20)],
        columns=["doc_id", "text", "n_chars"],
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)

    from eventstream_benchmark_spark.operators._cache import (
        release_shared_persists,
    )

    release_shared_persists()
    assert dedup.dedup_keeper_policies(spark, str(tmp_path)).count() == 0
    release_shared_persists()


def test_soft_weights_all_singletons_on_dupfree_corpus(spark, tmp_path):
    """`dedup_soft_weights` on a corpus with zero dup clusters: every
    document is a singleton — one row per doc, cluster_size 1, weight
    exactly 1.0 (1 000 000 micro-units). Pins the LEFT-join singleton
    path, which the oracle reaches through an EMPTY recursive CTE."""
    pdf = pd.DataFrame(
        [(i, " ".join(f"u{i}w{j}" for j in range(12)), 60 + i)
         for i in range(20)],
        columns=["doc_id", "text", "n_chars"],
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)

    from eventstream_benchmark_spark.operators._cache import (
        release_shared_persists,
    )

    release_shared_persists()
    out = dedup.dedup_soft_weights(spark, str(tmp_path)).toPandas()
    release_shared_persists()
    assert len(out) == 20
    assert (out.cluster_size == 1).all()
    assert (out.w_micro == 1_000_000).all()


def test_fuzzy_decon_equals_split_filtered_full_pass(spark, tmp_path):
    """The fuzzy decontamination probe rides the SAME asymmetric
    builder as the incremental probe (r11's `_asymmetric_member_pairs`
    factoring) — so its per-train-doc report must equal the full-pass
    pair set restricted to cross-split pairs, aggregated train-side.
    Pinned on the flood corpus, which the 80/20 hash split cuts
    through every clique."""
    import math

    from eventstream_benchmark_spark.operators import text as T
    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
        release_shared_persists,
    )

    pdf = _flooded_docs()
    pdf["lang"] = "en"
    pdf["source"] = "flood"
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    sf = str(tmp_path)

    release_shared_persists()
    release_scoped_persists()
    fuzzy = (
        T.decontaminate_fuzzy_minhash(spark, sf)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    release_scoped_persists()
    full = dedup._minhash_pairs_collapsed(spark, sf).toPandas()
    release_scoped_persists()
    release_shared_persists()

    def bucket(doc_id: int) -> int:
        return (doc_id * 2654435761) % 4294967296 % 100

    def split(doc_id: int) -> str:
        return "train" if bucket(doc_id) < 80 else "eval"

    rows = []
    for r in full.itertuples():
        s1, s2 = split(r.d1), split(r.d2)
        if {s1, s2} == {"train", "eval"}:
            train_doc = r.d1 if s1 == "train" else r.d2
            rows.append((train_doc, r.jaccard))
    expected = (
        pd.DataFrame(rows, columns=["doc_id", "jaccard"])
        .groupby("doc_id")
        .agg(n_eval_docs=("jaccard", "size"), max_jaccard=("jaccard", "max"))
        .reset_index()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(fuzzy) > 0  # the flood split has cross-split near-dups
    assert list(fuzzy.doc_id) == list(expected.doc_id)
    assert list(fuzzy.n_eval_docs) == list(expected.n_eval_docs)
    assert all(
        math.isclose(a, b, rel_tol=0, abs_tol=0)
        for a, b in zip(fuzzy.max_jaccard, expected.max_jaccard)
    )


def test_semantic_decon_equals_split_filtered_full_pass(spark, tmp_path):
    """Semantic decontamination (r11 second batch) must equal the
    FULL symmetric pair set (`dedup_embedding_cosine`) restricted to
    cross-split pairs, aggregated train-side — the same structural
    contract the fuzzy lexical probe carries vs its full pass. Pinned
    on a synthetic embedding flood: 8 near-orthogonal base directions
    replicated 5× each as EXACT copies, so the 80/20 hash split cuts
    through every exact-dup clique and the per-side collapse +
    expansion paths all carry weight."""
    import math

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eventstream_benchmark_spark.operators import dedup
    from eventstream_benchmark_spark.operators import text as T
    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
        release_shared_persists,
    )

    dim, n_base, copies = 64, 8, 5
    vecs = []
    for i in range(n_base * copies):
        k = i % n_base
        v = np.zeros(dim, dtype=np.float32)
        # 8 disjoint coordinate blocks -> cosine 1.0 within a clique,
        # exactly 0.0 across cliques (both sides of the threshold)
        v[k * 8 : (k + 1) * 8] = np.float32(1.0 + k)
        vecs.append(v)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(tbl, tmp_path / "embeddings.parquet")
    sf = str(tmp_path)

    release_shared_persists()
    release_scoped_persists()
    got = (
        T.decontaminate_semantic_embed(spark, sf)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    release_scoped_persists()
    full = dedup.dedup_embedding_cosine(spark, sf).toPandas()
    release_scoped_persists()
    release_shared_persists()

    def is_eval(vec_id: int) -> bool:
        return (vec_id * 2654435761) % 4294967296 % 100 >= 80

    rows = []
    for r in full.itertuples():
        if is_eval(r.v1) != is_eval(r.v2):
            train_vec = r.v2 if is_eval(r.v1) else r.v1
            rows.append((train_vec, r.cosine))
    expected = (
        pd.DataFrame(rows, columns=["vec_id", "cosine"])
        .groupby("vec_id")
        .agg(n_eval_vecs=("cosine", "size"), max_cosine=("cosine", "max"))
        .reset_index()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert len(got) > 0  # the hash split cuts through the cliques
    assert list(got.vec_id) == list(expected.vec_id)
    assert list(got.n_eval_vecs) == list(expected.n_eval_vecs)
    assert all(
        math.isclose(a, b, rel_tol=0, abs_tol=0)
        for a, b in zip(got.max_cosine, expected.max_cosine)
    )
