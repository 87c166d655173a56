"""Interleaved capped-vs-uncapped sweep for the semantic-dedup valve.

The SCALING.md outlier row is the fixed-k SemDeDup law: with 8 frozen
centroids the uncapped within-cluster pair space grows ~quadratically
with the corpus.  The ``max_cluster_size`` valve sub-splits oversized
clusters on deterministic hyperplane sign bits so per-bucket pair space
stays bounded.  This tool measures BOTH configurations on the SAME
session at each scale factor, interleaved (A B B A ...), with the same
noop-write sink bench.py times (``tools/harness.run_timed``), and writes
``BENCH_valve_semantic.json`` stamped with the git rev — the receipt
for "the valve-on shape grows sub-quadratically".

Usage:
  python tools/semantic_valve_sweep.py [sf_dir ...]
  # default: /root/testdata/sf0.1 /tmp/tss_scaled/sf1
  # (regenerate sf1 first: python tools/make_scaled_fixture.py)

Protocol notes: run on a QUIET box (no concurrent Spark jobs); one
warmup pair per SF then ``ROUNDS`` timed pairs; medians reported;
operator pair caches are scoped to each run so no run reuses another's
persisted assignment.
"""
from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

ROUNDS = 3
CAP = 32  # same value the carried q:dedup_semantic 'capped' branch uses


def _corpus(spark, sf_dir):
    from pyspark.sql import functions as F

    from topic_store_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    clone = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    return emb.unionByName(clone), emb.filter(F.col("vec_id") < 8)


def _build(spark, sf_dir, cap):
    from topic_store_spark.operators.dedup import semantic_cluster_dedup

    both, cen = _corpus(spark, sf_dir)
    return semantic_cluster_dedup(both, centroids=cen, max_cluster_size=cap)


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.1", "/tmp/tss_scaled/sf1"]
    from tools.harness import run_timed, total_s
    from topic_store_spark.session import get_spark

    spark = get_spark(app_name="semantic-valve-sweep")
    out = {"cap": CAP, "rounds": ROUNDS, "sweep": {}}
    for sf_dir in sf_dirs:
        label = os.path.basename(sf_dir.rstrip("/"))
        build_s, exec_s, errors, _ = run_timed(
            spark,
            {
                "uncapped": lambda: _build(spark, sf_dir, None),
                "capped": lambda: _build(spark, sf_dir, CAP),
            },
            warmups=1,
            rounds=ROUNDS,
        )
        if errors:
            raise RuntimeError(f"{label}: {errors}")
        times = total_s(build_s, exec_s)
        out["sweep"][label] = {
            v: {
                "median": round(statistics.median(ts), 2),
                "min": round(min(ts), 2),
                "samples": [round(t, 2) for t in ts],
            }
            for v, ts in times.items()
        }
        print(f"# {label}: " + ", ".join(
            f"{v} median {statistics.median(ts):.2f}s" for v, ts in times.items()
        ))
    labels = list(out["sweep"])
    if len(labels) >= 2:
        first, last = labels[0], labels[-1]
        for v in ("uncapped", "capped"):
            a = out["sweep"][first][v]["median"]
            b = out["sweep"][last][v]["median"]
            out[f"growth_{v}"] = round(b / a, 2) if a else None
        print(f"# growth {first}->{last}: uncapped "
              f"{out['growth_uncapped']}x, capped {out['growth_capped']}x")
    try:
        out["git_rev"] = subprocess.run(
            ["git", "-C", _REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:  # noqa: BLE001
        out["git_rev"] = "unknown"
    out["stamped_utc"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    path = os.path.join(_REPO, "BENCH_valve_semantic.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"receipt": "BENCH_valve_semantic.json", **{
        k: v for k, v in out.items() if k.startswith("growth")}}))


if __name__ == "__main__":
    main()
