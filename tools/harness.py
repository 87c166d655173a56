"""The one timing loop every harness that times a plan runs through.

``bench.py``, ``tools/ab_bench.py``, ``tools/profile_queries.py``,
``tools/skew_bench.py`` and ``tools/semantic_valve_sweep.py`` all call
:func:`run_timed`, so a sample means the same thing in every receipt:
one plan built from storage (cache cleared, operators' tracked persists
scoped to the execution) and executed in full to Spark's ``noop`` sink.
``count()`` would let Catalyst prune columns and subtrees the sink
executes, so it is never the timed action.
"""

from __future__ import annotations

import sys
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from topic_store_spark.operators.util import cache_scope


def run_in_job_group(
    spark: SparkSession, fn: Callable[[], object]
) -> tuple[object, str]:
    """``(fn(), group)``: run ``fn`` under a Spark job group of its own.
    Jobs that Spark's thread pools start for it (a broadcast's collect)
    inherit the group; read them with :func:`job_ids`."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        return fn(), group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def job_ids(spark: SparkSession, group: str) -> list[int]:
    """The Spark jobs launched under ``group``, once the listener bus has
    delivered their start events."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def run_timed(
    spark: SparkSession,
    builds: dict[str, Callable[[], DataFrame]],
    *,
    warmups: int,
    rounds: int,
) -> tuple[
    dict[str, list[float]], dict[str, list[float]], dict[str, str],
    dict[str, list[int]],
]:
    """Execute every build ``warmups`` untimed then ``rounds`` timed times.

    Each execution clears the session cache, enters a
    :class:`~topic_store_spark.operators.util.cache_scope`, times
    ``build()`` (driver work: DataFrame construction and any eager
    collects) and then the ``noop`` write of its result.  The scope
    releases every persist the operators tracked during the execution.
    ``build()`` runs under a job group of its own, so the Spark jobs it
    launches (schema inference, eager collects, cache probes) are
    counted apart from the write's; they are read after the write,
    outside the timed region.

    Rounds are interleaved (ABC ABC, not AAA BBB) so one host-load burst
    spoils at most one sample per name, and the order reverses every
    round (ABC CBA) so a monotone drift (JIT warming, load decay) does
    not favour whichever name runs first.

    A name whose build or write raises is dropped from the remaining
    rounds and from the returned samples, and its error is recorded;
    the other names keep running.

    Returns ``(build_s, exec_s, errors, build_jobs)``: per surviving
    name, ``rounds`` samples each of build and write seconds and of the
    build's Spark job count, and per failed name ``"Type: message"``.
    """
    names = list(builds)
    build_s: dict[str, list[float]] = {n: [] for n in names}
    exec_s: dict[str, list[float]] = {n: [] for n in names}
    build_jobs: dict[str, list[int]] = {n: [] for n in names}
    errors: dict[str, str] = {}
    for round_idx in range(warmups + rounds):
        order = names if round_idx % 2 == 0 else names[::-1]
        for name in order:
            if name in errors:
                continue
            spark.catalog.clearCache()
            try:
                with cache_scope():
                    t0 = time.perf_counter()
                    df, group = run_in_job_group(spark, builds[name])
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - record, keep going
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                del build_s[name], exec_s[name], build_jobs[name]
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
                continue
            if round_idx >= warmups:
                build_s[name].append(round(t1 - t0, 3))
                exec_s[name].append(round(t2 - t1, 3))
                build_jobs[name].append(len(job_ids(spark, group)))
    return build_s, exec_s, errors, build_jobs


def total_s(
    build_s: dict[str, list[float]], exec_s: dict[str, list[float]]
) -> dict[str, list[float]]:
    """Per name, each execution's build plus write seconds."""
    return {
        n: [round(b + e, 3) for b, e in zip(build_s[n], exec_s[n])]
        for n in build_s
    }


def planning_phases(df: DataFrame) -> dict[str, int]:
    """Milliseconds per Catalyst phase (analysis, optimization, planning)
    recorded by the ``QueryPlanningTracker`` of ``df``'s query execution.

    A write plans through a QueryExecution of its own, so after
    ``run_timed`` the tracker of ``df`` holds only analysis.  Its
    physical plan is therefore forced here (planned, not executed) so
    the optimization and planning phases are recorded too."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    keys = phases.keysIterator()
    out: dict[str, int] = {}
    while keys.hasNext():
        key = keys.next()
        out[key] = int(phases.apply(key).durationMs())
    return out
