"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test fixture) on ``get_spark``'s session
(local[$SPARK_GRAFT_CPUS]) and prints one JSON line: {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}.

Each execution builds the query and runs its full plan to Spark's noop
sink through ``tools/harness.run_timed``; a query's number is the build
plus the write.  Medians, spreads and raw samples go to
BENCH_detail.json.
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

# Six interleaved timed rounds: with 4 the r10 closing band was 13.6% of
# the total; the per-query medians over 6 are the number a cross-round
# comparison reads (the min stays the headline).
ROUNDS = 6
# Two untimed warmup executions per query first: with one, timed samples
# still declined across rounds (C2 JIT keeps compiling through the first
# pass over 50 queries).  Measured same-day at sf0.1: band 12.62s (23.9%)
# at one warmup vs 8.56s (15.8%) at two, and the worst query's spread
# fell 1.96s -> 0.35s.  The remaining band is multi-tenant host variance;
# per-query A/B claims go through tools/ab_bench.py.
WARMUPS = 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    import __spark_entry__ as entry_mod
    from tools.harness import run_timed, total_s
    from topic_store_spark.session import get_spark

    spark = get_spark(app_name="topic-store-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    build_s, exec_s, errors, _ = run_timed(
        spark,
        {name: (lambda fn=fn: fn(spark, sf_dir)) for name, fn in queries.items()},
        warmups=WARMUPS,
        rounds=ROUNDS,
    )
    samples = total_s(build_s, exec_s)
    for name, s in samples.items():
        print(f"# {name}: {min(s):.2f}s (spread {max(s) - min(s):.2f}s)",
              file=sys.stderr)

    timings = {n: min(s) for n, s in samples.items()}
    medians = {n: sorted(s)[len(s) // 2] for n, s in samples.items()}
    # r10: with the untimed warmup pass, every TIMED sample is already
    # steady-state, so the band uses all of them (r9 dropped sample 1,
    # which carried per-query codegen warmup).  The r8 drop-max TRIM
    # stays: one host-noise spike in one round (load bursts measured
    # 10+ here with no local process) should not widen the whole band.
    # min (the headline) still uses ALL timed samples.
    spreads = {}
    for n, s in samples.items():
        steady = sorted(s)[:-1] if len(s) > 2 else list(s)
        spreads[n] = round(max(steady) - min(steady), 3)
    total = round(sum(timings.values()), 3)
    # Keep the stdout JSON line SHORT (2-decimal, no medians/spreads): the
    # driver captures only a bounded tail of stdout, and r6's full line
    # overflowed it (BENCH_r06.json parsed: null).  Medians and spreads go
    # to BENCH_detail.json alongside the repo instead.
    out = {
        "metric": "headline_queries_total",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in timings.items()},
        # total drift below this is steady-state noise, not signal
        "noise_band_sec": round(sum(spreads.values()), 2),
        "rounds": ROUNDS,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        out["errors"] = errors
    detail = {
        "protocol": (
            f"{WARMUPS} untimed warmup execution(s) per query, then "
            f"{ROUNDS} timed interleaved rounds, the order reversed every "
            "round (cache cleared before every execution); headline = per-query min over timed "
            "samples; noise band = per-query spread of the drop-max "
            "trimmed timed samples, summed.  Cross-round per-query "
            "comparisons should read the MEDIANS, and no A/B claim is "
            "valid unless it comes from tools/ab_bench.py (interleaved "
            "same-session, refuses to stamp when spread exceeds delta). "
            "The measured NULL floors (BENCH_AB_null_*.json — two "
            "identical HEAD variants interleaved) put pure host/JVM "
            "noise at ~0.4-0.6s steady-state spread on 2.9s queries; "
            "any cross-round per-query delta inside that band is host, "
            "not code.  Per-query numbers also carry SHARED-SESSION "
            "JVM context (heap/GC/code-cache load of the other 49 "
            "queries): r12 receipt — dedup_word_overlap min 2.88s in a "
            "solo session under this exact protocol vs 4.4-4.5s "
            "in-suite.  Compare numbers only within the same protocol "
            "and suite composition."
        ),
        "queries": timings,
        "medians": medians,
        "spreads_steady_state": spreads,
        "samples": samples,
        "rounds": ROUNDS,
        "warmup_rounds": WARMUPS,
        "sf": out["sf"],
    }
    try:
        with open(os.path.join(_REPO, "BENCH_detail.json"), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError as exc:  # never let the side file kill the JSON line
        print(f"# BENCH_detail.json write failed: {exc}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
