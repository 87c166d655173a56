"""Skew receipt (r10, VERDICT #6): measure how each aggregation /
window plan behaves when ONE key holds 50% of the rows, vs a uniform
key distribution — the classic mega-domain / mega-session case the
operator docstrings warn about.  Writes SKEW.md.

    python tools/skew_bench.py [n_rows] [rounds]     # defaults 32M, 3

Fixtures (generated fresh into a temp dir, 32-file parquet so the scan
parallelizes like real data):

- uniform: 1024 domains, even split
- skewed:  domain "hot" = 50% of all rows, the rest uniform over 1023

Plans measured (min over rounds, cache cleared per run; each plan's
uniform and skewed runs interleave in one ``run_timed`` call, in an
order that alternates every round, after one untimed warm-up round):

- agg_direct:   groupBy(domain).agg(count, sum) — map-side partial
                aggregation absorbs the hot key before the shuffle
- agg_salted:   operators/skew.salted_aggregate — two-phase variant
- topk_window:  row_number() over (partition by domain) <= 5 — Spark
                inserts map-side WindowGroupLimit partial top-k below
                the exchange, so this is natively skew-resistant
- count_window: count(1) over (partition by domain) — NO pushable
                limit exists, so the hot domain's entire row set lands
                in ONE window task: the real cliff
- count_aggjoin: the same result via groupBy(domain).count() + join
                back (partials + AQE skew-join) — the fix
                salient_terms r10 reverted onto

Join-side plans (r13, VERDICT r12 #6) — facts join a 1024-row dim on
the domain key with broadcast DISABLED (at 100 TB the dim side of a
real skewed join is often broadcast-ineligible; locally the -1
threshold is what makes the shuffle join observable at all):

- join_smj_aqeskew: plain df.join(dim, key) under AQE skew-join
                (spark.sql.adaptive.skewJoin, the default) — AQE
                splits the oversized probe partition at runtime
- join_smj_noskew: the same join with skewJoin DISABLED — the
                unprotected baseline (one task sorts the hot key)
- join_salted:  operators/skew.salted_join_left, skewJoin disabled —
                the explicit two-sided salt for engines/paths where
                AQE cannot see the skew (cached exchanges, windows
                feeding joins, non-AQE planners)
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import tempfile

_REPO = str(pathlib.Path(__file__).resolve().parent.parent)
sys.path.insert(0, _REPO)

from pyspark.sql import Window
from pyspark.sql import functions as F

from tools.harness import run_timed, total_s


def _fixture(spark, path: str, n_rows: int, skewed: bool) -> None:
    dom = (
        F.when(F.col("id") % 2 == 0, F.lit("hot")).otherwise(
            F.concat(F.lit("d"), (F.col("id") % 1023).cast("string"))
        )
        if skewed
        else F.concat(F.lit("d"), (F.col("id") % 1024).cast("string"))
    )
    (
        spark.range(0, n_rows)
        .select(
            F.col("id").alias("doc_id"),
            dom.alias("domain"),
            (F.col("id") * 2654435761 % 1000003).alias("score"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(path)
    )


def _time(spark, builds: dict, rounds: int, results: dict) -> None:
    """Time ``builds`` (named ``<plan>@<fixture>``) over one warm-up and
    ``rounds`` interleaved rounds; store each best build-plus-write
    seconds as ``results[plan][fixture]``."""
    build_s, exec_s, errors, _ = run_timed(spark, builds, warmups=1, rounds=rounds)
    if errors:
        raise RuntimeError(f"skew plans failed: {errors}")
    for name, samples in total_s(build_s, exec_s).items():
        plan, kind = name.split("@")
        results.setdefault(plan, {})[kind] = min(samples)


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 32_000_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from topic_store_spark.operators.skew import salted_aggregate
    from topic_store_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="skew_bench", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="skew_bench_")
    fixtures = {}
    for kind in ("uniform", "skewed"):
        p = os.path.join(tmp, kind)
        _fixture(spark, p, n_rows, skewed=kind == "skewed")
        fixtures[kind] = p

    order = [F.col("score").desc(), F.col("doc_id").asc()]

    def plans(df):
        w = Window.partitionBy("domain").orderBy(*order)
        wc = Window.partitionBy("domain")
        return {
            "agg_direct": lambda: df.groupBy("domain").agg(
                F.count(F.lit(1)).alias("n"), F.sum("score").alias("s")
            ),
            "agg_salted": lambda: salted_aggregate(
                df, ["domain"], {"n": ("count", "*"), "s": ("sum", "score")}
            ),
            "topk_window": lambda: df.withColumn(
                "rank", F.row_number().over(w)
            ).filter(F.col("rank") <= 5),
            "count_window": lambda: df.withColumn(
                "n", F.count(F.lit(1)).over(wc)
            ),
            "count_aggjoin": lambda: df.join(
                df.groupBy("domain").agg(F.count(F.lit(1)).alias("n")),
                "domain",
            ),
        }

    def _conf(pairs):
        # snapshot-and-set runtime confs; returns the restore thunk
        old = {k: spark.conf.get(k) for k in pairs}

        def restore():
            for k, v in old.items():
                spark.conf.set(k, v)

        for k, v in pairs.items():
            spark.conf.set(k, v)
        return restore

    def join_plans(df, dim):
        from topic_store_spark.operators.skew import salted_join_left

        no_bhj = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
        skew_off = {**no_bhj, "spark.sql.adaptive.skewJoin.enabled": "false"}
        return {
            "join_smj_aqeskew": (no_bhj, lambda: df.join(dim, "domain")),
            "join_smj_noskew": (skew_off, lambda: df.join(dim, "domain")),
            "join_salted": (
                skew_off,
                lambda: salted_join_left(df, dim, "domain", salt_buckets=32),
            ),
        }

    dfs = {kind: spark.read.parquet(path) for kind, path in fixtures.items()}
    joins = {}
    for kind, df in dfs.items():
        # dim side: every domain value with a payload column, written to
        # parquet so the join reads a real scan (not an in-memory range)
        dim_path = os.path.join(tmp, f"dim_{kind}")
        (
            df.select("domain").distinct()
            .withColumn("dim_payload", F.md5(F.col("domain")))
            .write.mode("overwrite").parquet(dim_path)
        )
        joins[kind] = join_plans(df, spark.read.parquet(dim_path))

    results: dict[str, dict[str, float]] = {}
    _time(
        spark,
        {
            f"{name}@{kind}": mk
            for kind, df in dfs.items()
            for name, mk in plans(df).items()
        },
        rounds,
        results,
    )
    for name, (conf_pairs, _) in joins["uniform"].items():
        restore = _conf(conf_pairs)
        try:
            _time(
                spark,
                {f"{name}@{kind}": joins[kind][name][1] for kind in dfs},
                rounds,
                results,
            )
        finally:
            restore()

    ratios = {
        name: round(r["skewed"] / r["uniform"], 2)
        for name, r in results.items()
    }
    out = {
        "n_rows": n_rows,
        "rounds": rounds,
        "results_sec": results,
        "skew_over_uniform_ratio": ratios,
    }
    print(json.dumps(out))

    md = [
        "# SKEW.md — mega-key receipts",
        "",
        f"`python tools/skew_bench.py {n_rows} {rounds}` — synthetic",
        f"{n_rows:,}-row fixtures (32 parquet files, local[{cpus}]),",
        "uniform = 1024 even domains, skewed = domain `hot` holds 50% of",
        "all rows.  Timings are min-of-%d build+write with the cache cleared per"
        " run, after one untimed warm-up round.  Each plan's uniform and skewed"
        " runs interleave, in an order that alternates every round; the five"
        " plans without a conf change all interleave together." % rounds,
        "",
        "| plan | uniform (s) | skewed (s) | skew/uniform |",
        "|---|---|---|---|",
    ]
    for name in ("agg_direct", "agg_salted", "topk_window",
                 "count_window", "count_aggjoin", "join_smj_aqeskew",
                 "join_smj_noskew", "join_salted"):
        r = results[name]
        md.append(
            f"| {name} | {r['uniform']:.2f} | {r['skewed']:.2f} "
            f"| {ratios[name]:.2f}x |"
        )
    md += [
        "",
        "Reading the receipts:",
        "",
        "- **Algebraic aggregations don't need salting.**  `groupBy`",
        "  count/sum does map-side partial aggregation, so the hot key",
        "  collapses to one partial row per input partition before the",
        "  shuffle — the direct plan stays flat under skew.",
        "  `salted_aggregate` exists for accumulators partials can't",
        "  collapse (collect-style, high-cardinality distinct), not for",
        "  sums; `session_rollup_salted` carries it for that contract.",
        "- **Rank-limited windows are natively skew-resistant.**  When",
        "  the `rank <= k` filter is visible to Catalyst, Spark inserts",
        "  map-side `WindowGroupLimit` partial top-k nodes below the",
        "  exchange, so the hot domain reaches its window task already",
        "  pruned to <= map_partitions * k rows.  `domain_topk` relies",
        "  on this (pinned by",
        "  tests/test_skew_robustness.py::test_domain_topk_window_is_",
        "  group_limited); a hand-rolled two-phase salted top-k was",
        "  measured strictly worse on uniform data and no better under",
        "  skew, and was removed.",
        "- **Unbounded window aggregates are the real cliff.**  `count(1)",
        "  over (partition by domain)` has no pushable limit: every row",
        "  of the hot domain lands in ONE window task — no partials, and",
        "  AQE skew splitting does not apply to window exchanges.  The",
        "  skewed/uniform gap here grows with the hot key's share of the",
        "  corpus (locally bounded by one task sorting half the fixture;",
        "  at 100 TB it is one task sorting ~50 TB).  `count_aggjoin`",
        "  computes the identical result through a keyed rollup + join",
        "  back (partials + AQE-splittable join) and stays flat — the",
        "  plan salient_terms reverted onto in r10.",
        "- **Joins: let AQE split the skew first.**  The join rows",
        "  (broadcast disabled, so the shuffle join is observable —",
        "  the 100 TB regime where the dim side is too big or the",
        "  planner is not AQE) show the unprotected sort-merge join",
        "  (`join_smj_noskew`) paying the hot-partition sort, AQE",
        "  skew-join (`join_smj_aqeskew`, the default) splitting it",
        "  back to flat, and `salted_join_left` matching AQE's",
        "  skew-resistance at a constant explode cost on the dim side",
        "  — its role is the paths AQE cannot see (cached exchanges,",
        "  window-fed joins, non-AQE planners), per its docstring.",
        "",
    ]
    with open(os.path.join(_REPO, "SKEW.md"), "w") as fh:
        fh.write("\n".join(md))


if __name__ == "__main__":
    main()
