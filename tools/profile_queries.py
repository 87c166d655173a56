"""Per-query time decomposition: where do the bench seconds actually go?

For each requested query (default: the 23 dedup, ANN and corpus
queries in ``DEFAULT``, which took 35.5 s of BENCH_r14's 49.6 s total),
runs bench.py's protocol through ``tools/harness.run_timed``
(2 untimed warmups, then N timed rounds, cache cleared per execution)
and reports each timed execution split into:

- ``build``    — the Python ``fn(spark, sf_dir)`` call: DataFrame
  construction, eager per-op analysis, and any bounded driver collects
  (codebooks, permutations, minhash artifact writes), with the number
  of Spark jobs each build launched (``build_jobs_all``);
- ``exec``     — the ``noop`` write;
- and, for the FINAL round's DataFrame, the JVM QueryPlanningTracker
  phases (analysis / optimization / planning, ms; ``planning_phases``
  plans it once more, outside the timed region) so driver-side Catalyst
  cost is visible separately from task execution.

Output: one JSON line per query to stdout.  This is a diagnostic tool —
numbers guide optimization; claims still go through tools/ab_bench.py.

Usage: python tools/profile_queries.py [sf_dir] [rounds] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

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

    import __spark_entry__ as entry_mod
    from tools.harness import planning_phases, run_timed
    from topic_store_spark.session import get_spark

    spark = get_spark(app_name="profile-queries")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    for name in names:
        built = []  # the DataFrame each execution wrote; the last is read

        def build(fn=queries[name]):
            built.append(fn(spark, sf_dir))
            return built[-1]

        build_s, exec_s, errors, build_jobs = run_timed(
            spark, {name: build}, warmups=2, rounds=rounds)
        if errors:
            print(json.dumps({"query": name, "error": errors[name]}),
                  flush=True)
            continue
        try:
            phases = planning_phases(built[-1])
        except Exception as exc:  # noqa: BLE001 - phases are advisory
            phases = {"error": str(exc)[:120]}
        print(json.dumps({
            "query": name,
            "build_min": min(build_s[name]), "build_all": build_s[name],
            "build_jobs_all": build_jobs[name],
            "exec_min": min(exec_s[name]), "exec_all": exec_s[name],
            "tracker_phases_ms_last": phases,
        }), flush=True)


if __name__ == "__main__":
    main()
