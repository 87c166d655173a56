"""Salted aggregation/join equivalence + corrupt-frame and on-demand
trigger robustness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_salted_aggregate_equals_direct(spark):
    from topic_store_spark.operators.skew import salted_aggregate

    df = spark.range(0, 10_000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 101).alias("v")
    )
    direct = {
        (r["k"]): (r["n"], r["total"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("total"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r["k"]): (r["n"], r["total"], r["mx"])
        for r in salted_aggregate(
            df, ["k"], {"n": ("count", "*"), "total": ("sum", "v"), "mx": ("max", "v")}
        ).collect()
    }
    assert salted == direct


def test_salted_aggregate_rejects_non_algebraic(spark):
    from topic_store_spark.operators.skew import salted_aggregate

    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_aggregate(df, ["k"], {"a": ("avg", "k")})


def test_salted_join_equals_direct(spark):
    from topic_store_spark.operators.skew import salted_join_left

    left = spark.range(0, 5_000).select(
        (F.when(F.col("id") < 4_000, 1).otherwise(F.col("id") % 50)).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(50)], "k long, name string"
    )
    direct = sorted((r["k"], r["v"], r["name"]) for r in left.join(right, "k").collect())
    salted = sorted(
        (r["k"], r["v"], r["name"]) for r in salted_join_left(left, right, "k").collect()
    )
    assert salted == direct


def test_corrupt_pickle_frame_skipped(spark, tmp_path):
    """Parity: reference filesystem.py:66-68 skips corrupt frames with a
    message instead of failing the scan."""
    import pickle

    import topic_store_spark as ts

    path = tmp_path / "legacy.topic_store"
    with open(path, "wb") as fh:
        pickle.dump({"n": 1}, fh, protocol=2)
        fh.write(b"\x80\x02GARBAGE-NOT-A-FRAME")
    store = ts.load(str(path), spark)
    docs = [d for d in store]
    assert len(docs) == 1 and docs[0]["n"] == 1


def test_corrupt_pickle_midstream_resync(spark, tmp_path):
    """A corrupt frame in the MIDDLE of the stream must not drop the
    frames after it: the scan resyncs at the next protocol-2 header
    (reference filesystem.py:52-68 keeps attempting subsequent loads)."""
    import pickle

    import topic_store_spark as ts

    path = tmp_path / "mid.topic_store"
    with open(path, "wb") as fh:
        pickle.dump({"n": 1}, fh, protocol=2)
        fh.write(b"\x00\x01GARBAGE")  # corrupt junk between frames
        pickle.dump({"n": 2}, fh, protocol=2)
        pickle.dump({"n": 3}, fh, protocol=2)
    store = ts.load(str(path), spark)
    # driver-side iterator path
    assert sorted(d["n"] for d in store) == [1, 2, 3]
    # distributed scan path
    assert sorted(r["n"] for r in store.to_df().collect()) == [1, 2, 3]


def test_action_server_on_demand_capture(spark, tmp_path):
    """T3: action-server trigger — stream maintains state; captures fire
    on demand via save(), always-success semantics."""
    import json

    from topic_store_spark.streaming import ScenarioFileParser, ScenarioRunner

    src = tmp_path / "stream_src_action"
    src.mkdir()
    (src / "b.json").write_text(
        json.dumps({"topic": "/camera/image", "value": "img", "ts": "2024-01-01 00:00:01"})
    )
    scenario = ScenarioFileParser(
        {
            "context": "on_demand",
            "storage": {"method": "filesystem", "location": str(tmp_path / "o.parquet")},
            "data": {"cam": "/camera/image", "robot": "thorvald"},
            "collection": {"method": "action_server"},
        }
    )
    runner = ScenarioRunner(spark, scenario)
    stream = (
        spark.readStream.schema("topic string, value string, ts timestamp")
        .json(str(src))
    )
    q = runner.run(stream, extra_trigger_kwargs={"availableNow": True})
    q.awaitTermination(60)
    assert runner.saved_count == 0  # no capture until requested
    runner.save()  # the actionlib goal arrives
    runner.save()
    assert runner.saved_count == 2
    docs = list(runner.storage)
    assert len(docs) == 2 and docs[0]["cam"] == "img"


def test_overlap_cap_filters_df_rollup_before_join(spark):
    """The stop-shingle cap filters the shingle document-frequency
    rollup BEFORE it joins back to the flat shingle relation, so a hot
    shingle never reaches the prefix join (per-key fan-out <= cap), and
    results are exact in the filtered universe."""
    import re

    from topic_store_spark.operators.dedup import word_overlap_pairs

    # every doc shares the same 3 boilerplate tokens (one hot shingle in
    # all 40 docs), plus per-pair unique bodies for docs 2k/2k+1
    rows = [
        (i, "all rights reserved " + " ".join(f"w{i // 2}_{j}" for j in range(12)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = word_overlap_pairs(df, n=3, max_shingle_freq=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Filter \(.*\bdf#\d+L <= 8\)", plan), plan
    rows = out.collect()
    # each even/odd twin pair survives on its unique body; the hot
    # boilerplate shingle ('all rights reserved', df=40 > cap) is gone
    # from numerators AND denominators (13 shingles per doc, 12 kept),
    # so twins are exact dups in the filtered universe
    assert {(r["a_doc"], r["b_doc"]) for r in rows} == {
        (2 * k, 2 * k + 1) for k in range(20)
    }
    for r in rows:
        assert (r["common"], r["union_sz"], r["jaccard"]) == (12, 12, 1.0)


def test_domain_topk_window_is_group_limited(spark):
    """r10 (SKEW.md receipts): the rank<=k filter must reach the plan
    as map-side WindowGroupLimit partial top-k nodes — Spark's native
    "salting" for limited windows, and what keeps domain_topk flat
    under a mega-domain (one key = 50% of rows measured 0.83x uniform).
    A hand-rolled two-phase salted top-k measured strictly worse on
    uniform data and no better under skew, so the operator deliberately
    stays on the plain window; if a refactor ever hides the filter from
    Catalyst (ranks materialized, filter applied in a later stage),
    this pin fails and the skew posture must be re-measured."""
    import contextlib
    import io

    from topic_store_spark.operators.corpus import domain_topk

    docs = spark.createDataFrame(
        [(i, f"s{i % 5}", "w " * (3 + i % 7)) for i in range(50)],
        "doc_id long, source string, text string",
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        domain_topk(docs, k=4).explain("formatted")
    assert "WindowGroupLimit" in buf.getvalue()
