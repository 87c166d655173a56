"""Filesystem-backed storages.

``ParquetStorage`` is the engine's canonical store: an append-only
directory of parquet files (immutable appends, the same write pattern as
the reference's append-only ``.topic_store`` pickle stream,
reference filesystem.py:49-50, but columnar, splittable and
predicate-pushdown-friendly at 100 TB).  ``insert_many`` builds one
Arrow batch on the driver (``codec.rows_to_arrow``), externalizes its
oversized binaries there (``blob.externalize_batch``) and writes it
straight to one part file with ``pyarrow.parquet``: no Spark job, so an
append pays for its rows and not for a job's fixed cost.  The file is
written under a ``.``-prefixed temp name in the store directory (Spark's
listing and ``_part_files`` skip it) and renamed to
``part-00000-<uuid>-c000.<codec>.parquet`` once complete, so readers
never see a partial file.  The name is the one Spark's writer gives a
one-task append, so the file sorts among the others, and mergeSchema
folds the footers, as Spark's own file would.  The codec is the session's
``spark.sql.parquet.compression.codec``; with Spark's lzo, lz4 or
lz4_raw codec the batch appends through Spark instead.
``RaggedParquetStorage.insert_many`` uses the same writer.  The footer
carries the keys Spark's own writer puts there:
``org.apache.spark.sql.parquet.row.metadata`` (the batch's Spark schema,
so ``mergeSchema`` and the cache extension below see Spark's types) and
``org.apache.spark.version`` (a Spark 3+ writer, so dates and timestamps
are read without calendar rebase); pyarrow's own ``ARROW:schema`` key is
cut from the footer.  Two writes stay on Spark's writer, the only path
for them: ``partition_by`` stores (their hive directory names use
Spark's partition-value encoding) and ``write_df``, whose input is a
distributed DataFrame.

``to_df()`` keeps the last merged schema per instance, keyed by the
sorted ``(path, size, mtime_ns)`` of the store's part files: while the
key holds it reads with that schema instead of re-running Spark's
``mergeSchema`` footer job (``insert_many`` takes the store schema from
the cache without building a DataFrame).  The key is sound because part
files are immutable — appends add new files, and every rewrite
(``compact``, ``delete_many``, ``update_one_by_id``) goes through the
atomic directory swap, which writes files under new names.

On a key miss the cache is extended instead of re-merged when every
cached part file is still present and every new one (a) sits in a
directory the cache already lists, so no new partition value can
change an inferred partition column type, and (b) carries a Spark
footer schema (``org.apache.spark.sql.parquet.row.metadata``, read with
pyarrow, no Spark job) equal to the cached schema minus the partition
columns.  Why this is sound: Spark merges footers as a left fold in
listing order, and a merge only appends fields (nested ones too), so
every prefix of the fold is a prefix of the cached schema F, and files
of schema F inserted anywhere in the listing fold to F again.  The
precondition is that appends do not reorder the existing files relative
to each other in the listing.  Any other miss runs ``mergeSchema``.

``TopicStorage`` is the legacy migration reader/writer for the
reference's ``.topic_store`` pickle-stream format
(reference filesystem.py:19-68).  Reading is distributed: one executor
task per file parses frames and emits JSON lines, then Spark's JSON
reader infers/merges the ragged schema.  Corrupt frames are skipped with
a warning — parity with reference filesystem.py:66-68.
"""

from __future__ import annotations

import base64
import datetime as _dt
import io
import json
import logging
import os
import pickle
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from topic_store_spark.api import Storage, register_storage
from topic_store_spark.codec import (
    as_nullable,
    documents_to_rows,
    infer_schema,
    rows_to_arrow,
)
from topic_store_spark.data import TopicStore

logger = logging.getLogger(__name__)

BINARY_SENTINEL = "__binary_b64__"


def with_partition_date(df: DataFrame, col_name: str = "_ts_date") -> DataFrame:
    """Derive the canonical partition column (UTC date of
    ``_ts_meta.sys_time``) — the layout key for a date-partitioned
    corpus, so session/time-range queries prune whole directories."""
    return df.withColumn(
        col_name, F.to_date(F.timestamp_seconds(F.col("_ts_meta.sys_time")))
    )


def _hidden(name: str) -> bool:
    # Spark's listing rule: "_x" and ".x" are not data, "_k=v" partition
    # directories are
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _part_files(path: str) -> list[str]:
    """A store's data files, sorted: the path itself when it is a file,
    else every parquet/part file under it, partition directories
    included, skipping what Spark skips when it lists a store
    (``_SUCCESS``, ``_temporary/``, ``.crc`` checksums)."""
    if not os.path.isdir(path):
        return [path] if os.path.exists(path) else []
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        out += [
            os.path.join(root, n)
            for n in names
            if not _hidden(n)
            and not n.endswith(".crc")
            and (n.endswith(".parquet") or n.startswith("part-"))
        ]
    return sorted(out)


# spark.sql.parquet.compression.codec -> (pyarrow codec, file-name infix
# as parquet-mr names it); Spark's other codecs (lzo, lz4, lz4_raw)
# append through Spark
_PYARROW_CODECS = {
    "none": ("none", ""),
    "uncompressed": ("none", ""),
    "snappy": ("snappy", ".snappy"),
    "gzip": ("gzip", ".gz"),
    "zstd": ("zstd", ".zstd"),
    "brotli": ("brotli", ".br"),
}


def _check_append(existing: T.StructType | None, schema: T.StructType) -> None:
    """Refuse an append of ``schema`` that Spark could not merge with the
    store's ``existing`` schema (None for an empty store)."""
    if existing is None:
        return
    # guard runs on the FINAL written shape (after blob pointer
    # rewrite): an incompatible part file would poison every
    # subsequent read, so refuse the write instead
    from topic_store_spark.codec import schema_merge_conflicts

    conflicts = schema_merge_conflicts(existing, schema)
    if conflicts:
        raise ValueError(
            "append would corrupt the store (subsequent reads fail "
            "with CANNOT_MERGE_SCHEMAS): incompatible column types "
            f"{conflicts}; cast the data, or use RaggedParquetStorage "
            "for structurally heterogeneous corpora"
        )


def _thrift_key_values(items: list[tuple[bytes, bytes]]) -> bytes:
    """A parquet footer's ``key_value_metadata`` list of at most 14
    entries in thrift's compact encoding: the list header (size, struct
    type), then per ``KeyValue`` the key and the value as binary fields
    1 and 2 and a stop byte."""

    def binary(value: bytes) -> bytes:
        n, size = len(value), bytearray()
        while n > 0x7F:
            size.append(n & 0x7F | 0x80)
            n >>= 7
        size.append(n)
        return b"\x18" + bytes(size) + value  # field delta 1, type binary

    return bytes([len(items) << 4 | 0xC]) + b"".join(
        binary(k) + binary(v) + b"\x00" for k, v in items
    )


def _drop_arrow_schema(path: str, metadata: dict[bytes, bytes]) -> None:
    """Rewrite the footer of the parquet file at ``path``, written by
    pyarrow with key-value ``metadata``, without pyarrow's
    ``ARROW:schema`` entry.  pyarrow writes key-value metadata only
    together with that entry (``store_schema=False`` drops both); it is
    a base64 Arrow schema holding a second copy of the Spark schema,
    about a third of a small file, and Spark never reads it.  pyarrow
    appends it after ``metadata``, so the footer's key-value list is
    re-encoded without its last entry; column chunk offsets point before
    the footer and stay valid.  Unless the list is found exactly once,
    the file stays as written."""
    import pyarrow.parquet as pq

    arrow = pq.read_metadata(path).metadata.get(b"ARROW:schema")
    if arrow is None:
        return
    items = list(metadata.items())
    with open(path, "r+b") as fh:
        data = fh.read()
        start = len(data) - 8 - int.from_bytes(data[-8:-4], "little")
        footer = data[start:-8]
        old = _thrift_key_values(items + [(b"ARROW:schema", arrow)])
        if footer.count(old) != 1:
            return
        footer = footer.replace(old, _thrift_key_values(items))
        fh.seek(start)
        fh.write(footer + len(footer).to_bytes(4, "little") + b"PAR1")
        fh.truncate()


def _append_table(spark: SparkSession, path: str, table, schema: T.StructType) -> None:
    """Append ``table`` (typed by ``schema``) to the store at ``path`` as
    one part file written by pyarrow: no Spark job.  The file is written
    under a ``.``-prefixed name, which Spark's listing and ``_part_files``
    skip, and renamed to ``part-00000-<uuid>-c000.<codec>.parquet`` (the
    name Spark gives a one-task append) once complete.  Its footer
    carries what Spark's writer puts there: the Spark schema under
    ``org.apache.spark.sql.parquet.row.metadata`` (so readers,
    ``mergeSchema`` and the schema-cache extension see Spark's types) and
    ``org.apache.spark.version`` (a Spark 3+ writer: no datetime rebase
    on read)."""
    import uuid

    import pyarrow.parquet as pq

    codec = spark.conf.get("spark.sql.parquet.compression.codec").lower()
    if codec not in _PYARROW_CODECS:
        spark.createDataFrame(table, schema).coalesce(1).write.mode("append").parquet(path)
        return
    compression, infix = _PYARROW_CODECS[codec]
    metadata = {
        b"org.apache.spark.sql.parquet.row.metadata": schema.json().encode(),
        b"org.apache.spark.version": spark.version.encode(),
    }
    os.makedirs(path, exist_ok=True)
    name = f"part-00000-{uuid.uuid4()}-c000{infix}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    try:
        # plain pages: over a small batch's mostly distinct values a
        # dictionary page costs more than it saves (compact() rewrites
        # through Spark, whose writer picks the encoding per column)
        pq.write_table(
            table.replace_schema_metadata(metadata),
            tmp,
            compression=compression,
            use_dictionary=False,
        )
        _drop_arrow_schema(tmp, metadata)
        os.rename(tmp, os.path.join(path, name))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _file_key(files: list[str]) -> list[tuple[str, int, int]]:
    """The schema cache's key: ``(path, size, mtime_ns)`` per part file."""
    return [(p, st.st_size, st.st_mtime_ns) for p in files for st in (os.stat(p),)]


@register_storage
class ParquetStorage(Storage):
    """Append-only parquet collection (canonical store).

    ``partition_by`` writes hive-style partition directories; combine
    with ``with_partition_date`` for the standard by-capture-date layout.
    At 100 TB this is the difference between scanning the corpus and
    scanning a day: any filter on the partition column becomes a
    directory-level PartitionFilter (zero data IO for pruned dates).
    """

    suffixes = (".parquet", ".tsp")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: tuple[str, ...] | None = None,
        blob_dir: str | None = None,
        blob_threshold: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = str(path)
        self.partition_by = tuple(partition_by) if partition_by else ()
        # out-of-row blob policy (parity: GridFS-on-insert, SURVEY B1):
        # with blob_dir set, oversized binary cells externalize on every
        # write and find() rehydrates them unless skip_fetch_binary
        self.blob_dir = blob_dir
        self.blob_threshold = blob_threshold
        # (part-file key, merged schema) of the last mergeSchema read
        self._schema_cache: tuple[list, T.StructType] | None = None

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "ParquetStorage":
        return cls(spark, path)

    def _exists(self) -> bool:
        return bool(_part_files(self.path))

    def to_df(self) -> DataFrame:
        files = _part_files(self.path)
        if not files:
            schema = T.StructType(
                [
                    T.StructField("_id", T.StringType()),
                    T.StructField(
                        "_ts_meta",
                        T.StructType(
                            [
                                T.StructField("session", T.StringType()),
                                T.StructField("sys_time", T.DoubleType()),
                                T.StructField("ros_time", T.DoubleType()),
                            ]
                        ),
                    ),
                ]
            )
            return self.spark.createDataFrame([], schema)
        key = _file_key(files)
        schema = self._cached_schema(key)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(self.path)
        df = self.spark.read.option("mergeSchema", "true").parquet(self.path)
        self._schema_cache = (key, df.schema)
        return df

    def _cached_schema(self, key: list) -> T.StructType | None:
        """The cached merged schema while it holds for the part files
        ``key`` (the same set, or appends that keep it); None on a miss."""
        if self._schema_cache is not None and (
            self._schema_cache[0] == key or self._appends_keep_schema(key)
        ):
            self._schema_cache = (key, self._schema_cache[1])
            return self._schema_cache[1]
        return None

    def _appends_keep_schema(self, key: list) -> bool:
        """True when ``key`` is the cached part-file set plus new files
        whose Spark footer schema is the cached merged schema, partition
        columns aside, each in a partition directory the cache already
        saw (a new partition value can change the inferred partition
        column type).  No Spark job: footers are read with pyarrow."""
        import pyarrow.parquet as pq

        cached_key, schema = self._schema_cache
        cached = set(cached_key)
        if not cached <= set(key):
            return False
        dirs = {os.path.dirname(p) for p, _, _ in cached_key}
        for entry in key:
            if entry in cached:
                continue
            p = entry[0]
            folder = os.path.dirname(p)
            if folder not in dirs:
                return False
            parts = {
                d.split("=", 1)[0]
                for d in os.path.relpath(folder, self.path).split(os.sep)
                if "=" in d
            }
            try:
                meta = pq.read_metadata(p).metadata or {}
            except (OSError, ValueError):  # unreadable footer: let Spark say
                return False
            footer = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
            if footer is None:
                return False
            data = T.StructType([f for f in schema.fields if f.name not in parts])
            if as_nullable(T.StructType.fromJson(json.loads(footer))) != data:
                return False
        return True

    def _store_schema(self) -> T.StructType | None:
        """The stored files' merged schema; None for an empty store.  A
        cache hit builds no DataFrame (no JVM file listing)."""
        files = _part_files(self.path)
        if not files:
            return None
        schema = self._cached_schema(_file_key(files))
        return schema if schema is not None else self.to_df().schema

    def insert_one(self, document: dict | TopicStore) -> str:
        store = document if isinstance(document, TopicStore) else TopicStore(document)
        self.insert_many([store])
        return store.id

    def insert_many(self, documents: list[dict | TopicStore]) -> list[str]:
        import pyarrow as pa

        stores = [
            d if isinstance(d, TopicStore) else TopicStore(d) for d in documents
        ]
        docs = [s.dict for s in stores]
        # all-null fields adopt the store's existing type (no evidence of
        # their own), so {"n": None} appends cleanly to a BIGINT column
        existing = self._store_schema()
        schema = infer_schema(docs, reference=existing)
        batch = rows_to_arrow(documents_to_rows(docs, schema), schema)
        if self.blob_dir:
            from topic_store_spark.blob import (
                DEFAULT_THRESHOLD,
                binary_columns,
                externalize_batch,
                externalized_schema,
            )

            columns = binary_columns(schema)
            if columns:
                os.makedirs(self.blob_dir, exist_ok=True)
                threshold = self.blob_threshold or DEFAULT_THRESHOLD
                batch = externalize_batch(batch, columns, self.blob_dir, threshold)
                schema = externalized_schema(schema, columns)
        table = pa.Table.from_batches([batch])
        if self.partition_by:
            # hive directory names use Spark's partition-value encoding, so
            # Spark writes them; one slice, one part file per partition value
            df = self.spark.createDataFrame(table, schema).coalesce(1)
            self._append(df, existing)
        else:
            _check_append(existing, schema)
            _append_table(self.spark, self.path, table, schema)
            if existing is None:
                # this instance wrote the store's only part file, so its
                # schema is the merged one: no mergeSchema job to learn it
                files = _part_files(self.path)
                if len(files) == 1:
                    self._schema_cache = (_file_key(files), as_nullable(schema))
        return [s.id for s in stores]

    def write_df(self, df: DataFrame) -> None:
        if self.blob_dir:
            from topic_store_spark.blob import DEFAULT_THRESHOLD, externalize_blobs

            df = externalize_blobs(
                df, self.blob_dir, threshold=self.blob_threshold or DEFAULT_THRESHOLD
            )
        self._append(df, self._store_schema())

    def _append(self, df: DataFrame, existing: T.StructType | None) -> None:
        """Append ``df`` as new part files; ``existing`` is the store's
        schema before the write (None for an empty store)."""
        _check_append(existing, df.schema)
        writer = df.write.mode("append")
        if self.partition_by:
            missing = [c for c in self.partition_by if c not in df.columns]
            if missing == ["_ts_date"] and "_ts_meta" in df.columns:
                df = with_partition_date(df)
                writer = df.write.mode("append")
            elif missing:
                raise ValueError(f"partition columns missing from data: {missing}")
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(self.path)

    def count(self, query: dict | None = None, estimate: bool = False) -> int:
        """Exact count scans; ``estimate=True`` is metadata-only — summed
        parquet footer row counts, zero data IO (parity: the reference's
        ``estimated_document_count`` fast path, database.py:221-231)."""
        if estimate and query:
            raise ValueError("estimate=True cannot be combined with a query")
        if estimate:
            import pyarrow.parquet as pq

            return sum(pq.ParquetFile(p).metadata.num_rows for p in _part_files(self.path))
        return super().count(query)

    def find(self, *args, skip_fetch_binary: bool = False, **kwargs) -> DataFrame:
        """find() with blob rehydration (B2); ``skip_fetch_binary=True``
        leaves pointer structs unresolved — the reference's
        slow-connection lazy path (B3, database.py:174,202-204)."""
        df = super().find(*args, **kwargs)
        if self.blob_dir and not skip_fetch_binary:
            from topic_store_spark.blob import rehydrate_blobs

            df = rehydrate_blobs(df)
        return df

    # -- mutation (SURVEY §2.9 M2/M3).  Plain parquet has no row-level
    # update, so mutations are read -> transform -> atomic directory swap.
    # On a transactional table format (Delta/Iceberg) these become native
    # UPDATE/DELETE; the API surface is the same.
    def _overwrite(self, df: DataFrame) -> None:
        import shutil
        import uuid

        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        try:
            writer.parquet(tmp)
            if self._exists():
                # atomic swap: stage the old store aside, promote the new one
                old = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
                os.rename(self.path, old)
                os.rename(tmp, self.path)
                shutil.rmtree(old, ignore_errors=True)
            else:
                # fresh target (e.g. $out to a new collection — Mongo
                # creates it): promote the tmp write directly
                os.rename(tmp, self.path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def update_one_by_id(self, document_id: str, **updates) -> None:
        """$set-style field update on one document (parity: reference
        database.py:162-168)."""
        df = self.to_df()
        out = df
        for key, value in updates.items():
            if "." in key:
                root, rest = key.split(".", 1)
                out = out.withColumn(
                    root,
                    F.when(
                        F.col("_id") == document_id,
                        F.col(f"`{root}`").withField(rest, F.lit(value)),
                    ).otherwise(F.col(f"`{root}`")),
                )
            else:
                out = out.withColumn(
                    key,
                    F.when(F.col("_id") == document_id, F.lit(value)).otherwise(
                        F.col(f"`{key}`") if key in df.columns else F.lit(None)
                    ),
                )
        self._overwrite(out)

    def delete_by_id(self, document_id: str, gc_blobs: bool = True) -> None:
        """Point delete + blob GC (parity: reference database.py:268-278)."""
        from topic_store_spark.blob import collect_blob_paths, delete_blobs

        df = self.to_df()
        doomed = df.filter(F.col("_id") == document_id)
        if gc_blobs:
            delete_blobs(collect_blob_paths(doomed))
        self._overwrite(df.filter(F.col("_id") != document_id))

    def delete_many(self, query: dict, gc_blobs: bool = True) -> int:
        """Query-matched bulk delete (retention/TTL sweeps): one filtered
        rewrite through the atomic overwrite swap, survivors counted via
        ``observe`` so the pass costs no second scan.  Empty query is
        refused — dropping a whole store should be an explicit
        ``_overwrite(empty)`` / directory delete, not a default."""
        from pyspark.sql import Observation

        from topic_store_spark.blob import collect_blob_paths, delete_blobs

        if not query:
            raise ValueError("delete_many: empty query would drop the store")
        df = self.to_df()
        pred = self._compile_query(df, query)
        if gc_blobs:
            delete_blobs(collect_blob_paths(df.filter(pred)))
        before = df.count()
        obs = Observation("delete_many")
        survivors = df.filter(~F.coalesce(pred, F.lit(False))).observe(
            obs, F.count(F.lit(1)).alias("kept")
        )
        self._overwrite(survivors)
        return before - int(obs.get["kept"])

    def compact(self, target_rows_per_file: int = 1_000_000) -> int:
        """Small-file maintenance: append-only ingest (one part file per
        ``insert_one``) fragments the store; at scale the file-listing +
        footer reads dominate scan setup.  Rewrites the store into
        ``ceil(rows / target_rows_per_file)`` files via the atomic
        overwrite swap and returns the new file count.  Partitioned
        layouts compact within each partition directory (the
        repartition keys on the partition columns)."""
        import math

        df = self.to_df()
        n = df.count()
        files = max(1, math.ceil(n / max(1, target_rows_per_file)))
        if self.partition_by:
            df = df.repartition(files, *[F.col(c) for c in self.partition_by])
        else:
            df = df.repartition(files)
        self._overwrite(df)
        return len(_part_files(self.path))


@register_storage
class ScenarioStorage(Storage):
    """``load("scenario.yaml")`` dispatch (parity: reference
    database.py:94-99 — a MongoStorage opens from the scenario file,
    using ``context`` as the collection name).

    Here the scenario's storage section routes to the concrete backend:
    ``filesystem`` resolves to the ParquetStorage at its ``location``;
    ``database`` resolves to a MongoStorage on the scenario's connection
    config with ``context`` as the collection name.  This class never
    instantiates — ``load()`` returns the resolved backend."""

    suffixes = (".yaml", ".yml")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> Storage:
        from topic_store_spark.streaming.scenario import ScenarioFileParser

        scenario = ScenarioFileParser(path)
        method = scenario.storage["method"]
        if method == "filesystem":
            from topic_store_spark.api import load as load_storage

            return load_storage(scenario.storage["location"], spark)
        from topic_store_spark.mongodb import MongoStorage

        return MongoStorage.from_scenario(scenario, spark)

    # never constructed: load() returns the resolved backend
    def to_df(self):  # pragma: no cover
        raise NotImplementedError

    def insert_one(self, document):  # pragma: no cover
        raise NotImplementedError


@register_storage
class RaggedParquetStorage(Storage):
    """Schema-on-read fallback for ragged corpora (SURVEY §1.1).

    When documents disagree structurally (conflicting types for the same
    key, unbounded key churn) a merged StructType either fails or decays
    to strings.  This mode keeps the system fields as real columns and
    the payload as one JSON ``doc`` column; queries compile dotted paths
    into type-cast ``get_json_object`` extractions (type-bracketed like
    Mongo: a numeric comparison simply doesn't match a string-valued
    field).  Trade-off vs the canonical store: no columnar pruning inside
    the payload — use it for landing zones and promote stable subtrees to
    typed columns downstream."""

    suffixes = (".ragged.parquet", ".rtsp")

    SCHEMA = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField(
                "_ts_meta",
                T.StructType(
                    [
                        T.StructField("session", T.StringType()),
                        T.StructField("sys_time", T.DoubleType()),
                        T.StructField("ros_time", T.DoubleType()),
                    ]
                ),
            ),
            T.StructField("doc", T.StringType()),
        ]
    )

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = str(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "RaggedParquetStorage":
        return cls(spark, path)

    def _exists(self) -> bool:
        return ParquetStorage._exists(self)  # same on-disk layout check

    def to_df(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], self.SCHEMA)
        return self.spark.read.parquet(self.path)

    def insert_one(self, document: dict | TopicStore) -> str:
        store = document if isinstance(document, TopicStore) else TopicStore(document)
        self.insert_many([store])
        return store.id

    def insert_many(self, documents: list[dict | TopicStore]) -> list[str]:
        import pyarrow as pa

        stores = [
            d if isinstance(d, TopicStore) else TopicStore(d) for d in documents
        ]
        rows = []
        for s in stores:
            payload = {
                k: v for k, v in s.dict.items() if k not in ("_id", "_ts_meta")
            }
            meta = s.dict["_ts_meta"]
            rows.append(
                (
                    s.id,
                    (meta["session"], meta["sys_time"], meta["ros_time"]),
                    json.dumps(payload, default=_json_default, sort_keys=True),
                )
            )
        table = pa.Table.from_batches([rows_to_arrow(rows, self.SCHEMA)])
        _append_table(self.spark, self.path, table, self.SCHEMA)
        return [s.id for s in stores]

    def write_df(self, df: DataFrame) -> None:
        df.select(*[F.col(f"`{f.name}`") for f in self.SCHEMA.fields]).write.mode(
            "append"
        ).parquet(self.path)

    # -- mutation (M2/M3 parity on the landing-zone container) -----------
    partition_by = None  # ragged landing zones are never hive-partitioned
    _overwrite = ParquetStorage._overwrite  # same atomic directory swap

    def update_one_by_id(self, document_id: str, **updates) -> None:
        """``$set`` on the JSON payload: dotted keys create/replace nested
        fields.  Only the matching row's JSON is parsed (Arrow batch scan
        with a mask); the store swap is the usual atomic rename."""
        df = self.to_df()
        schema = df.schema

        def rewrite(batches):
            for pdf in batches:
                mask = pdf["_id"] == document_id
                if mask.any():
                    rewritten = []
                    for doc in pdf.loc[mask, "doc"]:
                        tree = json.loads(doc)
                        for key, value in updates.items():
                            node = tree
                            parts = key.split(".")
                            for part in parts[:-1]:
                                child = node.get(part)
                                if not isinstance(child, dict):
                                    child = {}
                                    node[part] = child
                                node = child
                            node[parts[-1]] = value
                        rewritten.append(
                            json.dumps(tree, default=_json_default, sort_keys=True)
                        )
                    pdf = pdf.copy()
                    pdf.loc[mask, "doc"] = rewritten
                yield pdf

        self._overwrite(df.mapInPandas(rewrite, schema))

    def delete_by_id(self, document_id: str) -> None:
        self._overwrite(self.to_df().filter(F.col("_id") != document_id))

    # -- schema-on-read query compilation --------------------------------
    SYSTEM_PREFIXES = ("_id", "_ts_meta")

    def _resolve(self, path: str, probe: Any):
        if path == "_id" or path.split(".", 1)[0] == "_ts_meta":
            return F.col(".".join(f"`{p}`" for p in path.split(".")))
        raw = F.get_json_object(F.col("doc"), "$." + path)
        # try_cast: a type-mismatched field reads as NULL (Mongo type
        # bracketing), never an ANSI cast error
        if isinstance(probe, bool):
            return raw.try_cast("boolean")
        if isinstance(probe, (int, float)):
            return raw.try_cast("double")
        return raw

    def _compile_query(self, df: DataFrame, query: dict | None):
        from topic_store_spark.query.compiler import compile_query

        return compile_query(query, resolver=self._resolve)

    def _apply_projection(self, df: DataFrame, projection: dict | None) -> DataFrame:
        if not projection:
            return df
        includes = [k for k, v in projection.items() if v not in (0, False)]
        excludes = [k for k, v in projection.items() if v in (0, False)]
        if excludes and [e for e in excludes if e != "_id"]:
            raise ValueError(
                "ragged storage supports include projections (and _id: 0) only"
            )
        cols = []
        if "_id" not in excludes:
            cols.append(F.col("_id"))
        cols.append(F.col("_ts_meta"))  # forced, parity R2
        for path in includes:
            if path in ("_id", "_ts_meta"):
                continue
            # extracted subtrees stay JSON text (schema-on-read)
            cols.append(
                F.get_json_object(F.col("doc"), "$." + path).alias(path)
            )
        return df.select(*cols)


def _decode_binary_markers(value: Any) -> Any:
    if isinstance(value, dict):
        if set(value) == {BINARY_SENTINEL}:
            return base64.b64decode(value[BINARY_SENTINEL])
        return {k: _decode_binary_markers(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_decode_binary_markers(v) for v in value]
    return value


def _json_default(value: Any) -> Any:
    if isinstance(value, (bytes, bytearray)):
        return {BINARY_SENTINEL: base64.b64encode(bytes(value)).decode("ascii")}
    if isinstance(value, (_dt.datetime, _dt.date)):
        return value.isoformat()
    return str(value)


def parse_pickle_frames(raw: bytes) -> Iterator[dict]:
    """Yield document dicts from a concatenated-pickle byte stream,
    skipping corrupt frames (parity: reference filesystem.py:52-68, which
    prints and keeps attempting subsequent loads).  After a corrupt frame
    the scan resyncs at the next protocol-2 header (``\\x80\\x02`` — the
    only protocol this writer emits), so frames after a mid-stream
    corruption are still recovered."""
    buf = io.BytesIO(raw)
    while buf.tell() < len(raw):
        start = buf.tell()
        try:
            doc = pickle.load(buf)
        except EOFError:
            break
        except Exception as exc:  # corrupt frame: resync with message
            nxt = raw.find(b"\x80\x02", start + 1)
            if nxt < 0:
                logger.warning(
                    "Skipping corrupt pickle tail (%d bytes abandoned): %s",
                    len(raw) - start, exc,
                )
                break
            logger.warning(
                "Skipping corrupt pickle frame (%d bytes) and resyncing: %s",
                nxt - start, exc,
            )
            buf.seek(nxt)
            continue
        if isinstance(doc, dict):
            yield doc


@register_storage
class TopicStorage(Storage):
    """Legacy ``.topic_store`` pickle-stream container (migration path)."""

    suffixes = (".topic_store",)

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = str(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "TopicStorage":
        return cls(spark, path)

    def to_df(self) -> DataFrame:
        """Distributed parse: one task per file -> JSON lines -> inferred
        schema.  Files don't split (pickle streams aren't splittable), but
        a corpus of many files parallelizes across executors — the same
        unit of parallelism the reference has (one file per session)."""
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], T.StructType([
                T.StructField("_id", T.StringType()),
            ]))
        rdd = self.spark.sparkContext.binaryFiles(self.path)

        def frames_to_json(kv):
            # self-contained closure: executors may not have this package
            # importable, so only stdlib is referenced here
            import base64 as _b64
            import datetime as _dtm
            import io as _io
            import json as _json
            import pickle as _pickle

            sentinel = BINARY_SENTINEL

            def default(value):
                if isinstance(value, (bytes, bytearray)):
                    return {sentinel: _b64.b64encode(bytes(value)).decode("ascii")}
                if isinstance(value, (_dtm.datetime, _dtm.date)):
                    return value.isoformat()
                return str(value)

            raw = kv[1]
            buf = _io.BytesIO(raw)
            while buf.tell() < len(raw):
                start = buf.tell()
                try:
                    doc = _pickle.load(buf)
                except Exception:
                    # corrupt frame: resync at the next protocol-2 header
                    # (reference filesystem.py:52-68 keeps loading)
                    nxt = raw.find(b"\x80\x02", start + 1)
                    if nxt < 0:
                        break
                    buf.seek(nxt)
                    continue
                if isinstance(doc, dict):
                    yield _json.dumps(doc, default=default)

        return self.spark.read.json(rdd.flatMap(frames_to_json))

    def insert_one(self, document: dict | TopicStore) -> str:
        """Driver-side append of one pickle frame (single-writer append
        semantics, parity: reference filesystem.py:37-50)."""
        store = document if isinstance(document, TopicStore) else TopicStore(document)
        parent = os.path.dirname(self.path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        with open(self.path, "ab") as fh:
            pickle.dump(_plainify(store.dict), fh, protocol=2)
        return store.id

    def __iter__(self) -> Iterator[TopicStore]:
        if not os.path.exists(self.path):
            return
        with open(self.path, "rb") as fh:
            raw = fh.read()
        for doc in parse_pickle_frames(raw):
            yield TopicStore(doc)


def _plainify(value: Any) -> Any:
    if isinstance(value, bytearray):
        return bytes(value)
    if isinstance(value, dict):
        return {k: _plainify(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_plainify(v) for v in value]
    return value


def write_topic_store(df: DataFrame, path: str) -> int:
    """Egress writer: DataFrame -> one ``.topic_store`` pickle stream.
    Round-trip/migration convenience only (streamed through the driver;
    the canonical distributed sink is parquet).  Returns rows written."""
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    count = 0
    with open(path, "ab") as fh:
        for row in df.toLocalIterator():
            pickle.dump(_plainify(row.asDict(recursive=True)), fh, protocol=2)
            count += 1
    return count
