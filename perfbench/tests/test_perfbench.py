"""Tests of the benchmark itself: its checks catch wrong answers, its
span arithmetic is right, and its deterministic counters repeat.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tools")]

import gen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from run import start_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    spark = start_spark(str(tmp_path_factory.mktemp("spark")), 2)
    yield spark
    spark.stop()


def test_cpu_meter_counts_work_apart_from_jit_and_gc(spark):
    from pyspark import SparkContext
    from run import CpuMeter

    assert CpuMeter._kind("C2 CompilerThre") == "jit"
    assert CpuMeter._kind("GC Thread#0") == CpuMeter._kind("G1 Conc#0") == "gc"
    assert CpuMeter._kind("Executor task l") == "work"
    meter = CpuMeter(SparkContext._gateway.proc.pid)
    before = meter.seconds()
    spark.range(0, 3_000_000, 1, 2).selectExpr("sum(hash(id))").collect()
    assert meter.seconds() > before
    assert meter.jit_s > 0 and meter.gc_s >= 0  # the JVM has compiled by now


def test_generator_is_seeded():
    a = gen.make_docs(4, 100, 20, 50, payload_every=5, payload_bytes=64)
    assert a == gen.make_docs(4, 100, 20, 50, payload_every=5, payload_bytes=64)
    assert a != gen.make_docs(5, 100, 20, 50, payload_every=5, payload_bytes=64)
    assert [d["seq"] for d in a] == list(range(100, 120))
    assert a[0]["payload"] == gen.payload(4, 100, 64) and a[1]["payload"] is None
    assert a[0]["_ts_meta"]["session"] == gen.session_id(4, 2)


def test_compare_flags_a_wrong_value():
    assert workloads.compare("x", [(1, 2.0000001)], [(1, 2.0)]) == []
    assert workloads.compare("x", [(1, 2.0)], [(1, 2.5)])
    assert workloads.compare("x", 3, 4)


def test_self_time_subtracts_children():
    class FakeSc:
        def setJobGroup(self, *args):
            pass

    tracer = Tracer(FakeSc())
    tracer.active, tracer.op_id = True, "op0"
    with tracer.span("op.find"):
        with tracer.span("api.find"):
            with tracer.span("filesystem.to_df"):
                pass
    tracer.spans = [  # replace the clock readings with exact ones
        ("op.find", 0.0, 10.0, -1, "op0"),
        ("api.find", 1.0, 4.0, 0, "op0"),
        ("filesystem.to_df", 2.0, 3.0, 1, "op0"),
    ]
    assert tracer.self_times() == [7.0, 2.0, 1.0]
    assert tracer.planning_s("op0") == 3.0  # to_df nests inside api.find
    assert tracer.by_op()["op0"]["api.self"] == [2.0]


def test_doc_query_checks_pass_and_catch_wrong_expected(spark, tmp_path, monkeypatch):
    prepared = workloads.DocQuery.prepare(str(tmp_path), 3)
    wl = workloads.DocQuery(spark, str(tmp_path), 3, prepared)
    wl.setup()
    checks, failures = wl.warmup()
    assert checks == 26 and failures == []
    op = wl.cycle_ops(0)[0]
    assert op.check(op.run()) == []

    original = wl.templates

    def wrong_expected():
        return [(k, label, call, lambda e=expected: list(e()) + [("extra",)]) for k, label, call, expected in original()]

    monkeypatch.setattr(wl, "templates", wrong_expected)
    checks, failures = wl.warmup()
    assert checks == 26 and len(failures) == 13  # the DuckDB round fails
    wl.finish()


def test_ingest_checks_pass_and_catch_wrong_expected(spark, tmp_path):
    wl = workloads.Ingest(spark, str(tmp_path), 5, {})
    wl.setup()
    checks, failures = wl.warmup()
    assert checks == 1 and failures == []
    store = wl._store("warm")
    n = wl.warmup_inserts * wl.batch
    rows = wl.read_back(store, n - 1)
    assert wl.check_readback(rows, n - 1) == []
    assert wl.check_readback(rows, n)  # one document too many expected
    corrupt = [dict(r.asDict(), payload=b"x" if r["seq"] % 10 == 0 else None) for r in rows]
    assert wl.check_readback(corrupt, n - 1)
    acked = [gen.doc_id(5, i) for i in range(n)]
    assert wl.check_store(store.path, store.blob_dir, acked) == []
    assert wl.check_store(store.path, store.blob_dir, acked[:-1])
    assert wl.check_store(store.path, store.blob_dir, acked[:-1] + [gen.doc_id(6, n - 1)])
    replica = wl._store("replica", blobs=False)
    assert wl.check_clone(store, replica, acked) == []
    assert wl.check_clone(store, wl._store("replica2", blobs=False), acked[:-2])


def test_corpus_oracle_check_catches_wrong_oracle(spark, tmp_path, monkeypatch):
    import __spark_entry__ as entry

    monkeypatch.setattr(workloads, "CORPUS_QUERIES", ("ann_ivf",))
    prepared = workloads.CorpusDedup.prepare(str(tmp_path), 2)
    wl = workloads.CorpusDedup(spark, str(tmp_path), 2, prepared)
    wl.setup()
    assert wl.warmup() == (1, [])
    wrong = {"ann_ivf": entry.oracle_sql()["ann_ivf"] + " LIMIT 3"}
    wl.expected = workloads.oracle_hashes(prepared["dir"], wrong)
    checks, failures = wl.warmup()
    assert checks == 1 and len(failures) == 1


def _traced_run(seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "store", "--seed", str(seed), "--seconds", "0", "--trace", "1"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_deterministic_counters_repeat():
    """Two traced runs of one seed (``--seconds 0`` runs exactly two
    cycles) give the same deterministic counters."""
    a, b = _traced_run(7), _traced_run(7)
    for name in (
        "spark.jobs",
        "spark.stages",
        "spark.build_jobs",
        "filesystem.part_files",
        "filesystem.bytes_per_doc_byte",
        "blob.blobs_written",
        "convert.copied",
        "convert.skipped_duplicates",
    ):
        assert a[name] == b[name], name
    assert a["convert.copied"] > 0 and a["spark.jobs"] > 0
