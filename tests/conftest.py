import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from topic_store_spark.session import get_spark

    spark = get_spark(
        app_name="topic_store_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def table(spark, sf_dir, name):
    from topic_store_spark.tables import load_table

    return load_table(spark, sf_dir, name)


GRAPH_LOOKUP_TIERS = ("local", "distributed")


@contextlib.contextmanager
def graph_lookup_tier(tier: str):
    """Run ``$graphLookup`` on one of its two tiers: ``"distributed"``
    sets the local tier's row bound to 0, so any non-empty edge probe
    overflows it."""
    import topic_store_spark.query.pipeline as pl

    saved = pl._GL_LOCAL_MAX_ROWS
    if tier == "distributed":
        pl._GL_LOCAL_MAX_ROWS = 0
    try:
        yield
    finally:
        pl._GL_LOCAL_MAX_ROWS = saved


def spark_job_ids(spark, fn) -> list:
    """Spark jobs launched while ``fn`` runs, counted under a job group."""
    from tools.harness import job_ids, run_in_job_group

    _, group = run_in_job_group(spark, fn)
    return job_ids(spark, group)
