"""Recall@k sweep for the ANN family — the retrieval-quality evidence
the correctness oracles cannot give.

The oracles prove each ANN operator computes exactly what its contract
says (bucket membership, probe set, ADC sums); they do NOT say how much
of the TRUE top-k the approximate search retrieves — the number a user
actually tunes ``planes`` / ``nprobe`` / ``m`` against.  This harness
compares each approximate searcher against ``topk_neighbors`` ground
truth on the real embeddings table and writes ``RECALL.md`` with
recall@k per configuration.

Recall@k for one query = |approx top-k ∩ exact top-k| / k, averaged over
the query set.  Both sides use the same k and the same deterministic
tie-breaks, so recall 1.0 is attainable and exact.

Usage:  python tools/recall_sweep.py [sf_dir] [--write-md]

(defaults: $SPARK_GRAFT_SF_DIR, else /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

K = 10
N_QUERIES = 50
IVF_LISTS = 16
#: the q_ann_pq shape: codebooks from the residuals of the ids below
#: PQ_SAMPLE (so PQ_SAMPLE codes per subspace), PQ_M subspaces
PQ_SAMPLE, PQ_M = 16, 32


def _truth_sets(df) -> dict:
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def recall_at_k(approx_df, truth: dict, k: int = K) -> float:
    """Mean per-query |approx ∩ exact| / k (queries with no approx hits
    count 0 — an empty bucket is a recall failure, not a skip)."""
    got = _truth_sets(approx_df)
    return sum(
        len(got.get(q, set()) & hits) / k for q, hits in truth.items()
    ) / len(truth)


def lloyd_centroids(emb, k: int, max_iter: int):
    """``(vec_id, embedding)``: ``k`` Lloyd's k-means centroids of the
    ``(vec_id, embedding)`` relation ``emb``, computed on the driver with
    numpy (the sweep corpora are a few thousand vectors).

    Deterministic: the seeds are the ``k`` vectors with the smallest
    ``(md5(str(id)), id)``, numbered in ascending vector order; each
    vector joins its nearest centroid by squared L2, folded left to
    right, ties to the lower centroid id; an empty cluster keeps its
    centroid; Lloyd stops after ``max_iter`` rounds or once no centroid
    moves by more than 1e-6 (squared)."""
    import hashlib

    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    x = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    seeds = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )[:k]
    cen = np.asarray(sorted(x[i].tolist() for i in seeds))

    def dist2(a, b):
        # the left fold over dimensions (cumsum), not numpy's pairwise sum
        return np.cumsum((a - b) ** 2, axis=-1)[..., -1]

    for _ in range(max_iter):
        nearest = dist2(x[:, None, :], cen[None, :, :]).argmin(1)
        new = cen.copy()
        for j in range(len(cen)):
            members = x[nearest == j]
            if len(members):
                new[j] = members.sum(0) / len(members)
        shift = dist2(cen, new).max()
        cen = new
        if shift <= 1e-6:
            break
    return emb.sparkSession.createDataFrame(
        [(j, c.tolist()) for j, c in enumerate(cen)],
        "vec_id long, embedding array<double>",
    )


def run_sweep(spark, sf_dir: str) -> list[dict]:
    from pyspark.sql import functions as F

    from topic_store_spark.operators.similarity import (
        ivf_ann_neighbors,
        ivf_pq_ann_neighbors,
        lsh_ann_neighbors,
        opq_sample_codebooks,
        permute_vectors,
        topk_neighbors,
    )
    from topic_store_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    emb = emb.persist()
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    truth = _truth_sets(topk_neighbors(emb, queries, k=K))

    # one centroid table shared across the IVF rows — exactly how a
    # pipeline would tune nprobe against one coarse quantizer
    centroids = lloyd_centroids(emb, IVF_LISTS, max_iter=5).persist()
    centroids.count()

    rows: list[dict] = []

    for planes in (4, 6, 8):
        r = recall_at_k(lsh_ann_neighbors(emb, queries, k=K, planes=planes), truth)
        rows.append(
            {"family": "lsh", "config": f"planes={planes}",
             "candidates": f"~n/2^{planes}", "recall": r}
        )
    # quality-aware multi-probe: flip the smallest-margin sign bits —
    # recovers most of the recall each added plane halves, at ~probes x
    # the (still tiny) per-bucket candidate cost
    for planes, probes in ((6, 4), (6, 8), (8, 8)):
        r = recall_at_k(
            lsh_ann_neighbors(emb, queries, k=K, planes=planes, probes=probes),
            truth,
        )
        rows.append(
            {"family": "lsh_mp", "config": f"planes={planes} probes={probes}",
             "candidates": f"~n*{probes}/2^{planes}", "recall": r}
        )

    for nprobe in (1, 2, 4, 8, IVF_LISTS):
        r = recall_at_k(
            ivf_ann_neighbors(emb, queries, centroids, k=K, nprobe=nprobe),
            truth,
        )
        rows.append(
            {"family": "ivf", "config": f"lists={IVF_LISTS} nprobe={nprobe}",
             "candidates": f"~n*{nprobe}/{IVF_LISTS}", "recall": r}
        )

    # the q_ann_pq derivation: permutation and residual codebooks from
    # the 16 lowest ids at m=32, then every vector permuted
    perm, books = opq_sample_codebooks(
        emb.filter(F.col("vec_id") < PQ_SAMPLE), centroids, m=PQ_M
    )
    emb_p = permute_vectors(emb, perm)
    cen_p = permute_vectors(centroids, perm)
    q_p = emb_p.filter(F.col("vec_id") < N_QUERIES)
    for nprobe in (2, 4, 8):
        r = recall_at_k(
            ivf_pq_ann_neighbors(emb_p, q_p, cen_p, books, k=K, nprobe=nprobe),
            truth,
        )
        rows.append(
            {"family": "ivf_pq_res",
             "config": (
                 f"lists={IVF_LISTS} nprobe={nprobe} m={PQ_M} "
                 f"codes={PQ_SAMPLE}"
             ),
             "candidates": f"~n*{nprobe}/{IVF_LISTS}", "recall": r}
        )

    rows.append(
        {"family": "exact", "config": "brute force",
         "candidates": "n", "recall": 1.0, "_n": n}
    )
    return rows


def _cand_cost(cand: str) -> float:
    """Scored-candidate fraction from the table's `candidates` string
    (the cost a recommendation minimizes): '~n*4/16' -> 0.25,
    '~n/2^6' -> 1/64, '~n*8/2^6' -> 8/64, 'n' -> 1.0."""
    import re as _re

    if cand.strip() == "n":
        return 1.0
    m = _re.match(r"~n(?:\*(\d+))?/(?:2\^)?(\d+)", cand.strip())
    if not m:
        return 1.0
    num = int(m.group(1) or 1)
    den = 2 ** int(m.group(2)) if "2^" in cand else int(m.group(2))
    return num / den


def _recommendation_lines(rows: list[dict]) -> list[str]:
    """One pick per family: the CHEAPEST measured configuration reaching
    recall@10 >= 0.8, or an honest 'nothing reaches 0.8 here' with the
    best measured fallback."""
    target = 0.8
    out = [
        "## Recommended configurations",
        "",
        f"One pick per family: the cheapest measured configuration with "
        f"recall@10 >= {target} on this corpus.  Don't ship a default "
        "without checking this row.",
        "",
        "| family | pick for >=0.8 recall@10 | measured recall | candidates/query |",
        "|---|---|---|---|",
    ]
    for fam in ("lsh", "lsh_mp", "ivf", "ivf_pq_res"):
        cands = [r for r in rows if r["family"] == fam]
        ok = [r for r in cands if r["recall"] >= target]
        if ok:
            best = min(ok, key=lambda r: _cand_cost(r["candidates"]))
            out.append(
                f"| {fam} | `{best['config']}` "
                f"| {best['recall']:.3f} | {best['candidates']} |")
        elif cands:
            best = max(cands, key=lambda r: r["recall"])
            out.append(
                f"| {fam} | none reaches {target} — best is "
                f"`{best['config']}` | {best['recall']:.3f} "
                f"| {best['candidates']} |")
    out += [
        "",
        "LSH sign-hyperplane families cannot reach 0.8 on the uniform "
        "worst case at sub-linear candidate budgets — on uniform "
        "vectors use IVF (recall is monotone in nprobe, 1.0 at "
        "nprobe=lists) and treat LSH buckets as a cheap prefilter "
        "only.",
        "",
    ]
    return out


def write_md(rows: list[dict], sf_dir: str) -> None:
    n = next((r["_n"] for r in rows if "_n" in r), "?")
    lines = [
        "# ANN recall@10 vs exact top-10",
        "",
        f"Corpus: `{sf_dir}/embeddings.parquet` ({n} vectors), "
        f"{N_QUERIES} queries, k={K}; ground truth = `topk_neighbors` "
        "(exact integer dot product).  IVF centroids: "
        f"{IVF_LISTS} Lloyd's k-means centroids (5 rounds, md5-ranked "
        "seeds).  Regenerate with "
        "`python tools/recall_sweep.py --write-md`.",
        "",
        "Recall@10 = mean over queries of |approx top-10 ∩ exact "
        "top-10| / 10.  `candidates` is the per-query scored-candidate "
        "fraction — the cost knob each configuration trades recall "
        "against.",
        "",
        "| family | configuration | candidates/query | recall@10 |",
        "|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['family']} | {r['config']} | {r['candidates']} "
            f"| {r['recall']:.3f} |"
        )
    lines += [
        "",
        "Reading the curve honestly: the synthetic embeddings are "
        "~uniform in 64-d — the WORST case for every space-partitioning "
        "index (there is no cluster structure to exploit, and random "
        "vectors concentrate at near-equal distances), so absolute "
        "recall at small probe budgets is intrinsically modest here; "
        "real-world embedding corpora are strongly clustered and sit "
        "far above this floor at the same nprobe.  What the table "
        "proves is the structure a user tunes against: IVF recall is "
        "monotone in nprobe and reaches exactly 1.0 at nprobe=lists "
        "(probing everything IS the exact search); LSH recall decays "
        "~2x per added plane as buckets halve, and `lsh_mp` "
        "(quality-aware multi-probe: flip the smallest-margin sign "
        "bits, Lu et al. 2007) buys most of it back at ~probes x the "
        "per-bucket candidate cost — recall is provably non-decreasing "
        "in probes (candidate superset, asserted in tests).  "
        "`ivf_pq_res` is the residual (IVF-ADC) IVF-PQ that `ann_pq` "
        "runs, in its derivation: the variance-balanced dimension "
        "permutation and the residual codebooks come from the "
        f"{PQ_SAMPLE} lowest ids (`opq_sample_codebooks`, "
        f"m={PQ_M}, so {PQ_SAMPLE} codes per 2-d subspace), then every "
        "vector is permuted.  It sits below plain IVF at the same "
        "nprobe by its quantization loss.  A tuning regression (broken "
        "bucket key, wrong probe set) breaks these relationships — "
        "`tests/test_recall.py` asserts the floors and the "
        "monotone/exact-limit structure every suite run.",
        "",
        "Floor assertions for the tuned defaults live in "
        "`tests/test_recall.py` (run at sf0.001 every suite run); this "
        "table is the sf0.1 curve a user would tune against.",
        "",
    ]
    lines += _recommendation_lines(rows)
    with open(os.path.join(_REPO, "RECALL.md"), "w") as f:
        f.write("\n".join(lines))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if args:
        sf_dir = args[0]

    from topic_store_spark.session import get_spark

    spark = get_spark()
    rows = run_sweep(spark, sf_dir)
    for r in rows:
        print(f"{r['family']:7s} {r['config']:30s} recall@{K} = {r['recall']:.3f}")
    if "--write-md" in sys.argv:
        write_md(rows, sf_dir)
        print("wrote RECALL.md")


if __name__ == "__main__":
    main()
