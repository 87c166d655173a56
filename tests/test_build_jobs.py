"""Build-time Spark jobs: the table schema cache, the bounded build-time
collect, and the jobs each ``corpus_dedup`` registry query launches
while its plan is built (counted on the second build in the session,
when the table schemas are cached)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import spark_job_ids


def _write(path: str, **cols) -> None:
    pq.write_table(pa.table(cols), path)


def test_load_table_hit_launches_no_job_and_keeps_the_inferred_schema(
    spark, tmp_path
):
    from topic_store_spark.tables import load_table

    _write(str(tmp_path / "t.parquet"), a=[1, 2, 3], s=["x", "y", None])
    first = load_table(spark, str(tmp_path), "t")
    hit = []
    assert spark_job_ids(
        spark, lambda: hit.append(load_table(spark, str(tmp_path), "t"))
    ) == []
    fresh = spark.read.parquet(str(tmp_path / "t.parquet")).schema
    assert hit[0].schema == first.schema == fresh
    assert sorted(hit[0].collect()) == sorted(first.collect())


def test_load_table_sees_an_overwrite_that_adds_a_column(spark, tmp_path):
    from topic_store_spark.tables import load_table

    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2])
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    st = os.stat(path)
    _write(path, a=[1, 2], b=[0.5, 1.5])
    # the key holds (size, mtime_ns): a same-second rewrite still differs
    # in size here, and an unchanged key would mean an unchanged file
    assert os.stat(path).st_size != st.st_size
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 0.5), (2, 1.5)]


def test_load_table_converts_nanosecond_columns_on_a_hit(spark, tmp_path):
    from pyspark.sql.types import TimestampType

    from topic_store_spark.tables import load_table

    ns = pa.array([1_700_000_000_123_456_789, 86_400_000_000_999], pa.int64())
    _write(
        str(tmp_path / "events.parquet"),
        id=[1, 2],
        ts=ns.cast(pa.timestamp("ns")),
    )
    first = load_table(spark, str(tmp_path), "events")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    hit = []
    assert spark_job_ids(
        spark, lambda: hit.append(load_table(spark, str(tmp_path), "events"))
    ) == []
    assert hit[0].schema["ts"].dataType == TimestampType()
    assert hit[0].schema == first.schema
    micros = hit[0].selectExpr("id", "unix_micros(ts) AS us").collect()
    assert sorted(tuple(r) for r in micros) == [
        (1, 1_700_000_000_123_456), (2, 86_400_000_000)
    ]


@pytest.mark.parametrize("n_rows", [4, 5, 6])
def test_bounded_collect_at_the_bound(spark, n_rows):
    """K = 5: K-1 and K rows come back, K+1 raises the typed overflow
    naming the operator and K."""
    from topic_store_spark.operators.util import (
        BoundedCollectOverflow,
        bounded_collect,
    )

    df = spark.range(n_rows, numPartitions=3).selectExpr("id", "id * 2 AS v")
    if n_rows <= 5:
        rows = bounded_collect(df, 5, "probe").to_pylist()
        assert sorted((r["id"], r["v"]) for r in rows) == [
            (i, 2 * i) for i in range(n_rows)
        ]
    else:
        with pytest.raises(BoundedCollectOverflow, match="probe.*max_rows=5") as exc:
            bounded_collect(df, 5, "probe")
        assert (exc.value.operator, exc.value.max_rows) == ("probe", 5)


def test_bounded_collect_is_one_job_over_many_partitions(spark):
    """A fitting result spread thin over 8 partitions: ``collect()`` of
    the limit scans them in growing batches (3 jobs here), the bounded
    collect in one."""
    from topic_store_spark.operators.util import bounded_collect

    df = spark.range(4000, numPartitions=8).filter("id % 100 = 0")
    got = []
    assert len(spark_job_ids(
        spark, lambda: got.append(bounded_collect(df, 100, "probe"))
    )) == 1
    assert sorted(got[0].column("id").to_pylist()) == list(range(0, 4000, 100))


@pytest.mark.parametrize(
    "query,max_jobs",
    [
        ("dedup_word_overlap", 0),
        ("dedup_char_jaccard", 0),
        ("ann_ivf", 0),
        ("ann_lsh", 0),
        ("dedup_semantic", 4),
        ("ann_pq", 2),
    ],
)
def test_second_build_job_count(spark, sf_dir, query, max_jobs):
    """Schema inference runs on the first build only; what is left are
    the operators' own bounded probes."""
    import __spark_entry__ as e
    from topic_store_spark.operators.util import cache_scope

    fn = e.queries()[query]
    with cache_scope():
        fn(spark, sf_dir)
    with cache_scope():
        jobs = spark_job_ids(spark, lambda: fn(spark, sf_dir))
    spark.catalog.clearCache()
    assert len(jobs) <= max_jobs, jobs
