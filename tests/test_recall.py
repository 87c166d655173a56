"""ANN retrieval-quality floors (see tools/recall_sweep.py, RECALL.md).

The correctness oracles prove each ANN operator computes its contract
exactly; these tests pin the RECALL the approximate searchers deliver
against exact ground truth, so a tuning regression (broken bucket key,
wrong probe set, off-by-one band) shows up as a recall collapse even
when the operator still "computes something" deterministically.

The synthetic embeddings are ~uniform in 64-d — the WORST case for
space partitioning (no cluster structure to exploit), so absolute
recall at small nprobe is modest by nature; the floors assert the
measured values with safety margin, plus the two structural guarantees
that hold on ANY corpus: recall grows monotonically with nprobe, and
probing every list reproduces the exact result."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import table
from tools.recall_sweep import lloyd_centroids, recall_at_k, _truth_sets


@pytest.fixture(scope="module")
def ann_setup(spark, sf_dir):
    from topic_store_spark.operators.similarity import topk_neighbors

    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .persist()
    )
    queries = emb.filter(F.col("vec_id") < 30)
    truth = _truth_sets(topk_neighbors(emb, queries, k=10))
    centroids = lloyd_centroids(emb, 16, max_iter=5).persist()
    centroids.count()
    yield emb, queries, truth, centroids
    emb.unpersist()
    centroids.unpersist()


def test_ivf_recall_floors_and_monotonicity(ann_setup):
    from topic_store_spark.operators.similarity import ivf_ann_neighbors

    emb, queries, truth, centroids = ann_setup
    r = {
        nprobe: recall_at_k(
            ivf_ann_neighbors(emb, queries, centroids, k=10, nprobe=nprobe),
            truth,
        )
        for nprobe in (2, 4, 8, 16)
    }
    # measured at sf0.001: 0.37 / 0.56 / 0.78 / 1.00 — floors with margin
    assert r[4] >= 0.40
    assert r[8] >= 0.60
    # probing every list IS the exact search
    assert r[16] == 1.0
    # more probes never lose recall (allow tiny tie-break jitter)
    assert r[2] <= r[4] + 1e-9 <= r[8] + 2e-9 <= r[16] + 3e-9


def test_ivf_pq_residual_recall_floor(ann_setup):
    """The IVF-PQ that q_ann_pq ships — permutation and residual
    codebooks from the 16 lowest ids at m=32 (`opq_sample_codebooks`),
    every vector permuted — must retain a floor fraction of plain IVF's
    recall at the same nprobe (plain IVF is the quantization-free
    ceiling of the same candidate set; the permutation leaves the IVF
    assignment unchanged)."""
    from topic_store_spark.operators.similarity import (
        ivf_ann_neighbors,
        ivf_pq_ann_neighbors,
        opq_sample_codebooks,
        permute_vectors,
    )

    emb, queries, truth, centroids = ann_setup
    perm, books = opq_sample_codebooks(
        emb.filter(F.col("vec_id") < 16), centroids, m=32
    )
    r_ivf = recall_at_k(
        ivf_ann_neighbors(emb, queries, centroids, k=10, nprobe=4), truth
    )
    r_res = recall_at_k(
        ivf_pq_ann_neighbors(
            permute_vectors(emb, perm),
            permute_vectors(queries, perm),
            permute_vectors(centroids, perm),
            books,
            k=10,
            nprobe=4,
        ),
        truth,
    )
    # quantization keeps at least a third of the exact-candidate recall
    # even in the uniform worst case (measured 0.74x at sf0.001)
    assert r_res >= 0.33 * r_ivf, (r_res, r_ivf)


def test_lsh_recall_floor(ann_setup):
    from topic_store_spark.operators.similarity import lsh_ann_neighbors

    emb, queries, truth, _ = ann_setup
    # 4 hyperplanes -> 16 buckets; ~n/16 candidates scored per query.
    # Uniform 64-d corpus: measured 0.126 at sf0.001 — assert a floor
    # well above the ~0.06 a random same-size candidate set would give.
    r = recall_at_k(lsh_ann_neighbors(emb, queries, k=10, planes=4), truth)
    assert r >= 0.08


def test_lsh_multiprobe_recall_monotone(ann_setup):
    """Multi-probe candidates are a SUPERSET of single-probe's (the own
    bucket is always probe 1), so recall must be non-decreasing in
    probes — and strictly better by a real margin at probes=8 on this
    corpus (measured ~4x at planes=6)."""
    from topic_store_spark.operators.similarity import lsh_ann_neighbors

    emb, queries, truth, _ = ann_setup
    r = {
        probes: recall_at_k(
            lsh_ann_neighbors(emb, queries, k=10, planes=6, probes=probes),
            truth,
        )
        for probes in (1, 4, 8)
    }
    assert r[1] <= r[4] + 1e-9 <= r[8] + 2e-9
    assert r[8] >= r[1] + 0.05, r
