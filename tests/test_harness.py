"""The harness core: one session factory and one timing loop.

The static guard needs no Spark: it parses ``bench.py`` and
``tools/*.py`` and checks that no harness builds its own
``SparkSession`` (the sessions come from ``get_spark``; only
``tools/validate_contract.py``, the reference correctness check, keeps
a plain one) and that only
``tools/harness.py`` writes a batch plan to the ``noop`` sink (every
timing loop is ``run_timed``).  Streaming ``writeStream`` noop sinks are
streaming-query throughput probes, not plan timings, and are exempt.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _harness_files() -> list[str]:
    return [os.path.join(_REPO, "bench.py")] + sorted(
        glob.glob(os.path.join(_REPO, "tools", "*.py")))


def _receiver_attrs(node: ast.AST):
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            yield node.attr
            node = node.value
        else:
            node = node.func


def _uses(path: str) -> tuple[bool, bool]:
    """(builds a SparkSession, writes a batch plan to the noop sink)."""
    makes_session = noop = False
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if (isinstance(node, ast.Attribute) and node.attr == "builder"
                and isinstance(node.value, ast.Name)
                and node.value.id == "SparkSession"):
            makes_session = True
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "format"
                and node.args and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "noop"
                and "writeStream" not in _receiver_attrs(node.func.value)):
            noop = True
    return makes_session, noop


def test_one_session_factory_and_one_timing_loop():
    uses = {
        os.path.relpath(p, _REPO): _uses(p) for p in _harness_files()
    }
    assert [p for p, (b, _) in uses.items() if b] == [
        os.path.join("tools", "validate_contract.py")]
    assert [p for p, (_, n) in uses.items() if n] == [
        os.path.join("tools", "harness.py")]


def _builds(spark, calls, fail_on_call=None):
    """Two tiny builds recording their call order; ``bad`` raises on its
    ``fail_on_call``-th call."""
    counts = {"bad": 0}

    def make(name):
        def build():
            calls.append(name)
            if name == "bad":
                counts["bad"] += 1
                if counts["bad"] == fail_on_call:
                    raise ValueError("boom")
            return spark.range(10)
        return build

    names = ["a", "b"] if fail_on_call is None else ["a", "bad", "b"]
    return {n: make(n) for n in names}


def test_run_timed_rounds_and_alternating_order(spark):
    from tools.harness import run_timed, total_s

    calls: list[str] = []
    build_s, exec_s, errors, build_jobs = run_timed(
        spark, _builds(spark, calls), warmups=1, rounds=3)
    assert errors == {}
    assert {n: len(s) for n, s in build_s.items()} == {"a": 3, "b": 3}
    assert {n: len(s) for n, s in exec_s.items()} == {"a": 3, "b": 3}
    assert all(t >= 0 for s in (*build_s.values(), *exec_s.values()) for t in s)
    assert calls == ["a", "b", "b", "a", "a", "b", "b", "a"]
    assert build_jobs == {"a": [0, 0, 0], "b": [0, 0, 0]}
    assert total_s(build_s, exec_s) == {
        n: [round(b + e, 3) for b, e in zip(build_s[n], exec_s[n])]
        for n in ("a", "b")}


@pytest.mark.parametrize("fail_on_call", [1, 3])
def test_run_timed_isolates_a_failing_build(spark, fail_on_call):
    from tools.harness import run_timed

    calls: list[str] = []
    build_s, exec_s, errors, build_jobs = run_timed(
        spark, _builds(spark, calls, fail_on_call), warmups=1, rounds=3)
    assert list(errors) == ["bad"] and errors["bad"] == "ValueError: boom"
    assert set(build_s) == set(exec_s) == set(build_jobs) == {"a", "b"}
    assert all(len(s) == 3 for s in (*build_s.values(), *exec_s.values()))
    assert calls.count("bad") == fail_on_call
    assert calls.count("a") == calls.count("b") == 4


def test_run_timed_counts_the_jobs_of_each_build_not_of_its_write(spark):
    """A build that collects twice launches two jobs; the noop write of
    its result launches more, which are not the build's."""
    from tools.harness import run_timed

    def build():
        spark.range(10).collect()
        spark.range(20).collect()
        return spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()

    build_s, _, errors, build_jobs = run_timed(
        spark, {"two": build, "none": lambda: spark.range(5)},
        warmups=1, rounds=2)
    assert errors == {} and len(build_s["two"]) == 2
    assert build_jobs == {"two": [2, 2], "none": [0, 0]}


def test_run_timed_releases_persists_made_inside_a_build(spark):
    from tools.harness import run_timed
    from topic_store_spark.operators.util import persist_tracked

    pinned = []

    def build():
        df = persist_tracked(spark.range(100))
        pinned.append(df)
        return df.selectExpr("sum(id) AS s")

    build_s, _, errors, _ = run_timed(spark, {"p": build}, warmups=0, rounds=2)
    assert errors == {} and len(build_s["p"]) == 2
    assert len(pinned) == 2
    assert not any(df.is_cached for df in pinned)
    assert not any(df.storageLevel.useMemory or df.storageLevel.useDisk
                   for df in pinned)


def test_planning_phases_reports_every_catalyst_phase_after_a_timed_write(spark):
    from tools.harness import planning_phases, run_timed

    built = []

    def build():
        built.append(spark.range(10).selectExpr("id % 2 AS k").groupBy("k").count())
        return built[-1]

    run_timed(spark, {"q": build}, warmups=0, rounds=1)
    phases = planning_phases(built[-1])
    assert set(phases) == {"analysis", "optimization", "planning"}
    assert all(isinstance(ms, int) and ms >= 0 for ms in phases.values())
