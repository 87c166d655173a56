"""Loaders for the driver's TPC-H-ish testdata tables.

``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
vectorized reader rejects.  With ``spark.sql.legacy.parquet.nanosAsLong``
the column surfaces as LongType nanoseconds; the loader converts it back
to a proper TimestampType (truncating to microseconds, which is exactly
what DuckDB's TIMESTAMP does with the same file — oracle-comparable).

Schema cache: ``spark.read.parquet`` infers the schema with a Spark job
that reads a footer (130-170 ms of driver CPU per call against 28-30 ms
for a read with a given schema; warm, mean of 40 reads of
``embeddings.parquet``, ``local[2]``, 4 vCPUs), and every query re-reads
the same tables.  :func:`load_table` therefore keeps, per (application
id, absolute path), the inferred schema and the nanosecond columns,
keyed by the ``(path, size, mtime_ns)`` of every file under the path —
the rule ``ParquetStorage``'s part-file cache uses.  While the key
holds, the table is read with the kept schema and no job runs; a
rewrite or an added file changes the key and the next read infers
again.  Precondition: the session's parquet read options (e.g.
``spark.sql.parquet.binaryAsString``) do not change between two reads
of one path, since the kept schema was inferred under the old ones.
"""

from __future__ import annotations

import os

import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from topic_store_spark.codec import as_nullable

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: (application id, absolute path) -> (file key, schema, nanosecond columns)
_SCHEMAS: dict[tuple[str, str], tuple[list, StructType, list[str]]] = {}


def _nano_ts_columns(path: str) -> list[str]:
    try:
        schema = _pq.read_schema(path)
    except Exception:
        return []
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def _file_key(path: str) -> list[tuple[str, int, int]]:
    """``(path, size, mtime_ns)`` of ``path``, or of every file under it
    when it is a directory, in sorted order."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, name)
            for root, _, names in os.walk(path)
            for name in names
        )
    else:
        files = [path]
    return [(p, st.st_size, st.st_mtime_ns) for p in files for st in (os.stat(p),)]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    slot = (spark.conf.get("spark.app.id"), os.path.abspath(path))
    try:
        key = _file_key(path)
    except OSError:  # not a local path: let Spark resolve it, uncached
        key = None
    hit = _SCHEMAS.get(slot)
    if key is not None and hit is not None and hit[0] == key:
        _, schema, nanos = hit
    else:
        schema, nanos = None, _nano_ts_columns(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[slot] = (key, df.schema, nanos)
    for col in nanos:
        # integer `div`, not `/`: double division of epoch-nanos loses
        # sub-microsecond bits past 2^53 and can shift the truncation
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def read_written(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read back parquet that Spark just wrote at ``path`` from a
    DataFrame of ``schema``, with no footer-inference job.  Spark's file
    sources read every written field and element as nullable, so that is
    the schema the read is given."""
    return spark.read.schema(as_nullable(schema)).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
