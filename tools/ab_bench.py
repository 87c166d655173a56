"""Interleaved same-session A/B harness: the noise floor of one query.

``null:<query>`` runs ONE registry query as two variants that are both
HEAD with no toggle, interleaved A B B A ... in one Spark session
through ``tools/harness.run_timed`` (cache cleared before every
execution, the same noop-write action bench.py times).  The measured
"delta" is pure host/JVM noise, and the stamped spread is the floor
under which any cross-round claim on that query is noise, not code.

The operators carry no A/B toggles: each has one physical plan, so a
plan change is measured as a before/after pair of commits against the
null floor, not as a flag flip.  Receipts written by retired
experiments stay in the repo as history.

The stamp rule: a verdict ("a_faster"/"b_faster") is recorded ONLY when
the median delta exceeds the larger variant's steady-state spread;
otherwise the result is "unresolved" and the JSON says so.  Row counts
come from a separate untimed assertion-only pass per variant, so the
timed action stays the noop write (``count()`` lets Catalyst prune
columns and subtrees the write executes).  Every receipt carries
``git_rev`` and ``stamped_utc``.

Writes BENCH_AB_null_<query>.json.

Usage: python tools/ab_bench.py sf_dir rounds_per_variant null:<query>
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

# Two untimed warmups per variant: with one, the first 1-2 timed rounds
# still carried a monotone JIT/codegen decay (fast_off samples 8.75,
# 7.99 then steady ~4.3 on ann_lsh), which only widens the no-claim band.
WARMUPS = 2


def _git_rev() -> str:
    try:
        return subprocess.run(
            ["git", "-C", _REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:  # noqa: BLE001 - receipt still useful without rev
        return "unknown"


def main() -> int:
    if len(sys.argv) != 4 or not sys.argv[3].startswith("null:"):
        raise SystemExit(__doc__.rsplit("Usage: ", 1)[1].strip())
    sf_dir, n_rounds, experiment = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    query_name = experiment.split(":", 1)[1]

    import __spark_entry__ as entry_mod
    from tools.harness import run_timed, total_s
    from topic_store_spark.operators.util import cache_scope
    from topic_store_spark.session import get_spark

    spark = get_spark(app_name="ab_bench")
    spark.sparkContext.setLogLevel("ERROR")
    fn = entry_mod.queries()[query_name]
    names = ["head_a", "head_b"]

    rows = {}
    for name in names:
        spark.catalog.clearCache()
        with cache_scope():
            rows[name] = fn(spark, sf_dir).count()
    assert len(set(rows.values())) == 1, f"variant outputs differ: {rows}"

    build_s, exec_s, errors, _ = run_timed(
        spark, {name: lambda: fn(spark, sf_dir) for name in names},
        warmups=WARMUPS, rounds=n_rounds,
    )
    if errors:
        raise SystemExit(f"{query_name} failed: {errors}")
    samples = total_s(build_s, exec_s)

    def stats(s: list[float]) -> dict:
        steady = sorted(s)[:-1] if len(s) > 2 else sorted(s)
        return {
            "min": min(s),
            "median": round(statistics.median(s), 3),
            "spread_steady": round(max(steady) - min(steady), 3),
            "samples": s,
        }

    st = {n: stats(s) for n, s in samples.items()}
    a, b = names
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
        "experiment": (f"NULL experiment on {query_name}: both variants "
                       "are HEAD, no toggle — measured delta/spread is the "
                       "host noise floor for cross-round claims"),
        "protocol": (
            "interleaved same-session, per-variant untimed row-count "
            f"assertion pass + {WARMUPS} untimed noop-write warmups, "
            f"{n_rounds} timed noop-write rounds per variant (same action "
            "bench.py times), per-round order alternation, cache cleared "
            "per execution"
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
