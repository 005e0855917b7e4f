"""Seeded randomized oracle sweeps for the dup-CLUSTER family.

The text near-dup chain sweep (test_round12_ops) pins the pairwise
miners; this sweep pins their CONSUMERS — connected components,
keeper policies, soft weights, and the incremental batch probe —
whose risky surface is graph-shaped, not pair-shaped:

* CHAINS: variant sequences v0→v1→v2→... where each ADJACENT pair
  passes the Jaccard threshold but the endpoints may not — the exact
  case where pairwise output over-deletes and the transitive closure
  (Spark's pointer-doubling loop vs the oracle's recursive CTE) must
  agree on the merged cluster and its min-id label;
* exact-duplicate groups spanning BOTH doc_id parities — the
  incremental probe's mixed-group J=1.0 expansion (batch × corpus
  members of one identical-text group) and the rep-level collapse in
  front of every band join;
* equal-n_chars cluster members (the vocabulary is uniform-width, so
  substitution variants keep the SAME length) — keep-longest's
  documented tie-break to the lower id decides, and keep-first /
  keep-longest coincide or diverge only through that tie rule;
* cluster sizes 2, 3, and larger so the soft weight's integer
  ``1000000 div size`` hits non-terminating fractions (÷3 → 333333)
  and singletons keep exactly 1000000.
"""

from __future__ import annotations

import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.sweep_util import sweep_check

# uniform-width vocabulary => substitution variants preserve n_chars,
# planting keep-longest ties broken only by doc_id
WORDS = ["pine", "oaks", "firs", "elms", "ashe", "yews", "palm", "teak"]

SWEPT = (
    "dedup_cluster_cc",
    "dedup_keeper_policies",
    "dedup_soft_weights",
    "dedup_minhash_incremental",
)


def _build_corpus(rng: random.Random) -> list[str]:
    texts: list[str] = []
    for _ in range(rng.randint(2, 4)):
        # chain cluster: each step substitutes 1-2 tokens, so adjacent
        # variants stay near-dups while the chain's ends drift apart
        doc = [rng.choice(WORDS) for _ in range(rng.randint(14, 24))]
        texts.append(" ".join(doc))
        for _ in range(rng.randint(2, 4)):
            for _ in range(rng.randint(1, 2)):
                doc[rng.randrange(len(doc))] = rng.choice(WORDS)
            texts.append(" ".join(doc))
    # exact-dup group: 3-5 identical copies that will land on BOTH
    # parities once ids interleave (the mixed-group J=1.0 expansion)
    exact = " ".join(rng.choice(WORDS) for _ in range(16))
    texts += [exact] * rng.randint(3, 5)
    # singletons (soft weight 1000000) + sub-shingle stragglers
    texts += ["", "pine", "pine oaks"]
    texts += [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(5, 30)))
        for _ in range(rng.randint(2, 6))
    ]
    # interleave so clusters span odd AND even doc_ids
    rng.shuffle(texts)
    return texts


@pytest.mark.parametrize("seed", [31, 9090])
def test_cluster_family_randomized_oracle_agreement(spark, tmp_path, seed):
    rng = random.Random(seed)
    texts = _build_corpus(rng)
    rows = [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    root = tmp_path / f"cc{seed}"
    root.mkdir()
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        str(root / "documents.parquet"),
    )
    sweep_check(spark, str(root), SWEPT, ("documents",), seed)


def test_min_label_cc_deep_chain_converges(spark):
    """A 200-node path is the adversarial shape for fixed-round label
    propagation: a 5-round unrolling covers diameters only to ~62
    (d_r = 2·d_{r-1}+2 per min-hop + pointer-doubling round), so the
    far end of the chain would keep non-minimal labels. The
    loop-to-fixpoint spelling must label every node with the chain's
    minimum id — and multi-component graphs must keep components
    separate."""
    from eventstream_benchmark_spark.operators.dedup import _min_label_cc

    n = 200
    chain = [(i, i + 1) for i in range(n - 1)]
    # a second, disjoint component with a non-zero minimum
    island = [(1000, 1001), (1001, 1002)]
    pairs = spark.createDataFrame(chain + island, "d1 long, d2 long")
    labels = {r.doc_id: r.label for r in _min_label_cc(pairs).collect()}
    assert len(labels) == n + 3
    assert all(labels[i] == 0 for i in range(n))
    assert all(labels[i] == 1000 for i in (1000, 1001, 1002))
