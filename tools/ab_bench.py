"""Interleaved same-session A/B harness (r10 VERDICT next-round #1/#2).

Measures ONE query under two variants (a session conf, or HEAD twice)
switched between executions in one Spark session, interleaved A B A B ... with the cache cleared before
every execution — the only protocol under which a per-query delta on
this host means anything: the r10 closing bench's noise band (13.6%)
swallowed every sub-second claim made from separate runs.

The stamp rule: a verdict ("a_faster"/"b_faster") is recorded ONLY when
the median delta exceeds the larger variant's steady-state spread;
otherwise the result is "unresolved" and the JSON says so — prose must
not claim a win the error bar cannot support.

r12 protocol fixes (both from r11 ADVICE):

* timed executions run the SAME ``df.write.format("noop")`` action as
  bench.py — ``count()`` let Catalyst prune columns/subtrees the
  headline bench executes, so a variant whose savings lived in a pruned
  projection could show no delta (or vice versa).  Row counts come from
  a separate untimed assertion-only pass per variant.
* every receipt carries ``git_rev`` + ``stamped_utc`` so bench.py can
  refuse to fold a stale receipt (produced under older code) into a new
  BENCH_detail.json as if it validated HEAD.

Experiments:

* ``aqefloor`` — ``spark.sql.adaptive.coalescePartitions
  .minPartitionSize`` 64k (r11 session default) vs 1m (Spark default),
  on the registry's dedup_word_overlap query.
* ``null:<query>`` — BOTH variants are HEAD with no toggle at all: the
  measured "delta" is pure host/JVM noise, and the stamped spread is
  the definitive floor under which any future cross-round claim on that
  query is noise, not code (r11 VERDICT #4).

The operators carry no A/B toggles: each has one physical plan, so a
plan change is measured as a before/after pair of commits against the
null floor, not as a flag flip.  Receipts written by retired
experiments stay in the repo as history.

Every experiment writes BENCH_AB_<name>.json (``null:q`` ->
BENCH_AB_null_<q>.json).

Usage: python tools/ab_bench.py sf_dir rounds_per_variant {aqefloor|null:<query>}
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

QUERY = "dedup_word_overlap"


def _git_rev() -> str:
    try:
        return subprocess.run(
            ["git", "-C", _REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:  # noqa: BLE001 - receipt still useful without rev
        return "unknown"


def main() -> int:
    if len(sys.argv) != 4:
        raise SystemExit(__doc__.rsplit("Usage: ", 1)[1].strip())
    sf_dir, n_rounds, experiment = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from topic_store_spark.operators.util import cache_scope

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ab_bench")
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

    _FLOOR = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    query_name = QUERY
    if experiment.startswith("null:"):
        query_name = experiment.split(":", 1)[1]
        exp = {
            "label": (f"NULL experiment on {query_name}: both variants are "
                      "HEAD, no toggle — measured delta/spread is the host "
                      "noise floor for cross-round claims"),
            "variants": {
                "head_a": lambda: None,
                "head_b": lambda: None,
            },
        }
        fn = entry_mod.queries()[query_name]
    elif experiment == "aqefloor":
        exp = {
            "label": f"{_FLOOR} 64k (r11 session default) vs 1m (Spark default)",
            "variants": {
                "floor_64k": lambda: spark.conf.set(_FLOOR, "64k"),
                "floor_1m": lambda: spark.conf.set(_FLOOR, "1m"),
            },
        }
        fn = entry_mod.queries()[QUERY]
    else:
        raise SystemExit(f"unknown experiment: {experiment}")
    variants = exp["variants"]

    def run_timed(setup) -> float:
        """One timed execution — the SAME noop-write action bench.py
        times, so the measured plan is the headline bench's plan
        (count() lets Spark prune columns/subtrees the write executes
        — r11 ADVICE)."""
        setup()
        spark.catalog.clearCache()
        with cache_scope():
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.time() - t0

    def count_rows(setup) -> int:
        """Separate untimed assertion-only pass."""
        setup()
        spark.catalog.clearCache()
        with cache_scope():
            return fn(spark, sf_dir).count()

    # untimed per-variant: row-count assertion pass + noop-write
    # warmups (codegen/shuffle machinery for the exact timed plan).
    # r13: TWO warmups per variant — with one, the first 1-2 timed
    # rounds still carried a monotone JIT/codegen decay (measured on
    # fastexpr:ann_lsh: fast_off samples 8.75, 7.99 then steady ~4.3),
    # which inflates spread_steady and can only ever WIDEN the no-claim
    # band, never fake a win; two warmups start the timed rounds on the
    # plateau.  Warmups interleave A,B,A,B like the timed rounds so
    # neither variant gets more cache/JIT priming than the other.
    rows = {}
    for name, setup in variants.items():
        rows[name] = count_rows(setup)
    assert len(set(rows.values())) == 1, f"variant outputs differ: {rows}"
    for _ in range(2):
        for name, setup in variants.items():
            run_timed(setup)

    # alternate the within-round order (A,B then B,A ...): with a fixed
    # order, any monotone host drift (JIT/page-cache warming, load decay)
    # systematically biases whichever variant runs second — the first
    # r11 run of this harness showed exactly that artifact.
    samples: dict[str, list[float]] = {n: [] for n in variants}
    names = list(variants)
    for round_idx in range(n_rounds):
        order = names if round_idx % 2 == 0 else names[::-1]
        for name in order:
            sec = run_timed(variants[name])
            samples[name].append(round(sec, 3))
            print(f"# {name}: {sec:.2f}s", file=sys.stderr)
    # restore the session default no matter which variant ran last
    spark.conf.set(_FLOOR, "64k")

    def stats(s: list[float]) -> dict:
        steady = sorted(s)[:-1] if len(s) > 2 else sorted(s)
        return {
            "min": min(s),
            "median": round(statistics.median(s), 3),
            "spread_steady": round(max(steady) - min(steady), 3),
            "samples": s,
        }

    st = {n: stats(s) for n, s in samples.items()}
    a, b = names[0], names[1]
    delta = round(st[b]["median"] - st[a]["median"], 3)  # >0: A faster
    bar = max(st[a]["spread_steady"], st[b]["spread_steady"])
    if n_rounds < 3:
        verdict = "unresolved"
        note = (f"only {n_rounds} timed round(s) — the steady-state spread "
                "is undefined below 3, so no verdict can be stamped")
    elif abs(delta) <= bar:
        verdict = "unresolved"
        note = (f"median delta {delta}s is within the steady-state spread "
                f"{bar}s — no claim stamped")
    else:
        verdict = f"{a if delta > 0 else b}_faster"
        note = (f"median delta {delta}s exceeds the steady-state spread "
                f"{bar}s")
    out = {
        "query": query_name,
        "experiment": exp["label"],
        "protocol": (
            "interleaved same-session, per-variant untimed row-count "
            f"assertion pass + 2 untimed noop-write warmups, {n_rounds} "
            "timed noop-write rounds per variant (same action bench.py "
            "times), per-round order alternation, cache cleared per "
            "execution"
        ),
        "fixture": f"registry fixture at {sf_dir}",
        "sf_dir": sf_dir,
        "rows": rows[a],
        "variants": st,
        f"median_delta_sec_{a}_minus_{b}": -delta,
        "verdict": verdict,
        "note": note,
        "git_rev": _git_rev(),
        "stamped_utc": datetime.datetime.now(
            datetime.timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%SZ"),
    }
    fname = f"BENCH_AB_{experiment.replace(':', '_')}.json"
    with open(os.path.join(_REPO, fname), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({k: out[k] for k in
                      ("query", "verdict", "note", "rows", "git_rev")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
