"""Per-query time decomposition: where do the bench seconds actually go?

For each requested query (default: the 12 slowest from BENCH_r12), runs
the same protocol as bench.py (2 untimed warmups, then N timed rounds,
cache cleared per execution) but splits each timed execution into:

- ``build``    — the Python ``fn(spark, sf_dir)`` call: DataFrame
  construction, eager per-op analysis, and any bounded driver collects
  (codebooks, permutations, minhash artifact writes);
- ``exec``     — the ``noop`` write;
- and, for the FINAL round, the JVM QueryPlanningTracker phases of the
  written plan (analysis / optimization / planning, ms) so driver-side
  Catalyst cost is visible separately from task execution.

Output: one JSON line per query to stdout.  This is a diagnostic tool —
numbers guide optimization; claims still go through tools/ab_bench.py.

Usage: python tools/profile_queries.py [sf_dir] [rounds] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

DEFAULT = [
    "ann_pq", "ann_lsh", "dedup_word_overlap", "dedup_char_jaccard",
    "dedup_minhash_lsh", "unigram_perplexity", "dedup_semantic",
    "text_profile", "salient_terms", "domain_topk", "dedup_incremental",
    "region_revenue", "mongo_graph_lookup", "dedup_substring",
    "dedup_paragraph", "dedup_simhash", "dedup_clusters",
    "dedup_embedding_lsh", "ann_ivf", "ann_topk_both",
    "contamination_ngram", "importance_resample", "quality_funnel",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    names = sys.argv[3:] or DEFAULT
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from topic_store_spark.operators.util import cache_scope

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile-queries")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    queries = entry_mod.queries()
    for name in names:
        fn = queries[name]
        # warmups (same as bench.py)
        for _ in range(2):
            spark.catalog.clearCache()
            with cache_scope():
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        builds, execs = [], []
        phases = {}
        for r in range(rounds):
            spark.catalog.clearCache()
            with cache_scope():
                t0 = time.time()
                df = fn(spark, sf_dir)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
                builds.append(round(t1 - t0, 3))
                execs.append(round(t2 - t1, 3))
                if r == rounds - 1:
                    try:
                        tr = df._jdf.queryExecution().tracker()
                        ph = tr.phases()
                        it = ph.keysIterator()
                        while it.hasNext():
                            k = it.next()
                            s = ph.apply(k)
                            phases[k] = int(s.durationMs())
                    except Exception as exc:  # noqa: BLE001
                        phases = {"error": str(exc)[:120]}
        print(json.dumps({
            "query": name,
            "build_min": min(builds), "build_all": builds,
            "exec_min": min(execs), "exec_all": execs,
            "tracker_phases_ms_last": phases,
        }), flush=True)


if __name__ == "__main__":
    main()
