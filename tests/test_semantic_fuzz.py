"""Differential fuzzer for `semantic_cluster_dedup` (the SemDeDup
shape): random embeddings with seeded near-duplicates and random
centroids, verified against a pure-Python reference of the documented
semantics — exact integer dots over round-half-up x1000 quantization,
affinity `dot / sqrt(cen_n)` with the (affinity desc, cen_id asc)
tie-break, single-assignment AND multi-probe (`n_probe=2` keeps the
runner-up within `probe_eps` relative of the best, pairs co-found in
two shared clusters dedupe to the smallest discovering cluster), and
the cross-multiplied DECIMAL cosine threshold.  Everything is
deterministic, so cluster assignments, pair sets, cluster ids, and
`cosine_q` values compare bit-for-bit.
"""

from __future__ import annotations

import math
import random

from tests.test_hash_dedup_fuzz import _round_half_up


def _ref(vecs, cens, tn, td, n_probe, probe_eps):
    qv = {i: [_round_half_up(x) for x in v] for i, v in vecs}
    nrm = {i: sum(c * c for c in q) for i, q in qv.items()}
    cqv = {j: [_round_half_up(x) for x in c] for j, c in cens}
    cn = {j: sum(x * x for x in q) for j, q in cqv.items()}

    clusters: dict[int, list[int]] = {}  # vec -> assigned cluster ids
    for i, _v in vecs:
        cands = []
        for j, _c in cens:
            dot = sum(a * b for a, b in zip(qv[i], cqv[j]))
            cands.append((dot / math.sqrt(cn[j]), -j, j))
        cands.sort(reverse=True)
        if n_probe <= 1:
            clusters[i] = [cands[0][2]]
        else:
            best_aff = cands[0][0]
            keep = [cands[0][2]]
            for aff, _nj, j in cands[1:n_probe]:
                if (best_aff - aff) <= probe_eps * max(abs(best_aff), 1.0):
                    keep.append(j)
            clusters[i] = keep

    by_cluster: dict[int, list[int]] = {}
    for i, js in clusters.items():
        for j in js:
            by_cluster.setdefault(j, []).append(i)
    want: dict[tuple[int, int], tuple[int, float]] = {}
    for j, members in sorted(by_cluster.items()):
        ms = sorted(members)
        for x, a in enumerate(ms):
            for b in ms[x + 1 :]:
                dot = sum(p * q for p, q in zip(qv[a], qv[b]))
                if dot <= 0 or dot * dot * td * td < nrm[a] * nrm[b] * tn * tn:
                    continue
                if (a, b) not in want or j < want[(a, b)][0]:
                    want[(a, b)] = (j, dot / math.sqrt(nrm[a] * nrm[b]))
    return want


def test_semantic_cluster_dedup_matches_reference(spark):
    from topic_store_spark.operators.dedup import (
        release_pair_caches,
        semantic_cluster_dedup,
    )

    rng = random.Random(0x5EBD)
    dim = 6
    cens = []
    for j in range(5):
        while True:
            c = [rng.uniform(-1, 1) for _ in range(dim)]
            if any(abs(x) >= 0.01 for x in c):  # zero centroid => div by 0
                break
        cens.append((j, c))
    base = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(15)]
    vecs = []
    for i in range(60):
        if rng.random() < 0.5:
            src = rng.choice(base)
            v = [x + rng.uniform(-0.03, 0.03) for x in src]
        else:
            v = [rng.uniform(-1, 1) for _ in range(dim)]
        vecs.append((i, v))
    tn, td = rng.choice([(95, 100), (8, 10)])
    probe_eps = rng.choice([0.05, 0.2])

    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cdf = spark.createDataFrame(cens, "vec_id long, embedding array<double>")
    try:
        for n_probe in (1, 2):
            want = _ref(vecs, cens, tn, td, n_probe, probe_eps)
            got = {
                (r["a_id"], r["b_id"]): (r["cluster_id"], r["cosine_q"])
                for r in semantic_cluster_dedup(
                    vdf, cdf, threshold_num=tn, threshold_den=td,
                    n_probe=n_probe, probe_eps=probe_eps,
                ).collect()
            }
            assert got == want, (
                f"n_probe={n_probe} t={tn}/{td} eps={probe_eps}: "
                f"extra={set(got) - set(want)} missing={set(want) - set(got)} "
                f"diff={ {k: (got[k], want[k]) for k in set(got) & set(want) if got[k] != want[k]} }"
            )
    finally:
        release_pair_caches()


def test_semantic_dedup_report_uncapped_matches_reference(spark):
    """The fused report's ``uncapped`` rows are the single-assignment
    pair set: near-dup clones over a 3-centroid table must match the
    reference bit-for-bit, and an empty centroid table yields no rows
    at all (no pairs, no audit buckets)."""
    from pyspark.sql import functions as F

    from topic_store_spark.operators.dedup import (
        release_pair_caches,
        semantic_dedup_report,
    )

    rng = random.Random(11)
    vecs = []
    for i in range(60):
        base = [rng.gauss(0, 1) for _ in range(8)]
        vecs.append((i, base))
        if i % 3 == 0:
            vecs.append((1000 + i, [x + 1e-3 for x in base]))
    cens = [(i, v) for i, v in vecs if i < 3]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    try:
        want = _ref(vecs, cens, 95, 100, 1, 0.05)
        got = {
            (r["a_id"], r["b_id"]): (r["cluster_id"], r["cosine_q"])
            for r in semantic_dedup_report(
                emb, emb.filter(F.col("vec_id") < 3), max_cluster_size=1000
            )
            .filter(F.col("variant") == "uncapped")
            .collect()
        }
        assert got == want and len(want) >= 20
        release_pair_caches()
        spark.catalog.clearCache()
        empty = semantic_dedup_report(
            emb, emb.filter(F.lit(False)), max_cluster_size=1000
        )
        assert empty.count() == 0
    finally:
        release_pair_caches()
        spark.catalog.clearCache()
