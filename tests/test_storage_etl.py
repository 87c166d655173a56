"""Storage CRUD, convert pipelines, blob externalization tests
(model: reference test_database_storage.py / test_file_system_storage.py)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import spark_job_ids
from topic_store_spark import TopicStore, load
from topic_store_spark.blob import (
    collect_blob_paths,
    delete_blobs,
    externalize_blobs,
    rehydrate_blobs,
)
from topic_store_spark.convert import clone_incremental, copy, to_ros_bag
from topic_store_spark.filesystem import ParquetStorage, TopicStorage, write_topic_store


def test_crud_roundtrip(spark, tmp_path):
    # parity: test_database_storage.py:13-46 (insert -> find -> update -> delete)
    store = ParquetStorage(spark, str(tmp_path / "crud.parquet"))
    doc_id = store.insert_one({"name": "add_test", "number": 1})
    assert store.find_by_id(doc_id)["number"] == 1
    store.update_one_by_id(doc_id, number=2)
    assert store.find_by_id(doc_id)["number"] == 2
    store.delete_by_id(doc_id)
    assert store.find_by_id(doc_id) is None


def test_update_one_query_matched(spark, tmp_path):
    """Query-matched update_one (reference database.py:162-164): first
    match in _id order gets the $set; 0 matches is a no-op."""
    store = ParquetStorage(spark, str(tmp_path / "upd.parquet"))
    ids = store.insert_many([{"robot": "husky", "n": i} for i in range(3)])
    assert store.update_one({"robot": "husky"}, {"$set": {"n": 99}}) == 1
    hits = [r["n"] for r in store.find({"n": 99}).collect()]
    assert hits == [99]  # exactly one document updated
    first_id = min(ids)
    assert store.find_by_id(first_id)["n"] == 99  # deterministic: lowest _id
    assert store.update_one({"robot": "missing"}, {"$set": {"n": 1}}) == 0
    with pytest.raises(ValueError):
        store.update_one({"robot": "husky"}, {"$inc": {"n": 1}})


def test_filesystem_empty_append_reload(spark, tmp_path):
    # parity: test_file_system_storage.py:15-71
    path = str(tmp_path / "s.topic_store")
    store = TopicStorage(spark, path)
    assert list(store) == []
    for i in range(5):
        store.insert_one({"i": i})
    assert sum(1 for _ in store) == 5
    reloaded = load(path, spark)
    for i in range(3):
        reloaded.insert_one({"i": 10 + i})
    assert reloaded.to_df().count() == 8


def test_load_dispatch(spark, tmp_path):
    pq = load(str(tmp_path / "a.parquet"), spark)
    assert isinstance(pq, ParquetStorage)
    fs = load(str(tmp_path / "a.topic_store"), spark)
    assert isinstance(fs, TopicStorage)


def test_copy_and_incremental_clone(spark, tmp_path):
    src = ParquetStorage(spark, str(tmp_path / "src.parquet"))
    dst = ParquetStorage(spark, str(tmp_path / "dst.parquet"))
    src.insert_many([{"n": i} for i in range(10)])
    stats = copy(src, dst, query={"n": {"$lt": 7}})
    assert stats == {"copied": 7, "skipped_duplicates": 0}
    # second run: everything already there
    stats2 = clone_incremental(src, dst)
    assert stats2["copied"] == 3 and stats2["skipped_duplicates"] == 7
    assert dst.count() == 10


def test_copy_with_projection(spark, tmp_path):
    src = ParquetStorage(spark, str(tmp_path / "s2.parquet"))
    dst = ParquetStorage(spark, str(tmp_path / "d2.parquet"))
    src.insert_one({"keep": 1, "drop": {"deep": 2}})
    copy(src, dst, projection={"keep": 1})
    row = dst.to_df().first()
    assert "drop" not in row.asDict()
    assert row["_ts_meta"] is not None  # forced meta survived the ETL


def test_blob_externalize_roundtrip(spark, tmp_path):
    # parity: >16MB GridFS path, test_database_storage.py:77-99 (scaled down)
    blob_dir = str(tmp_path / "blobs")
    big = np.random.default_rng(42).integers(0, 255, 2_000_000, dtype=np.uint8).tobytes()
    small = b"tiny"
    df = spark.createDataFrame(
        [("a", bytearray(big)), ("b", bytearray(small))], "`_id` string, payload binary"
    )
    ext = externalize_blobs(df, blob_dir, threshold=1_000_000)
    pointers = {r["_id"]: r["payload"] for r in ext.collect()}
    assert pointers["a"]["__blob__"] is not None and pointers["a"]["inline"] is None
    assert pointers["b"]["__blob__"] is None and bytes(pointers["b"]["inline"]) == small
    assert os.path.exists(pointers["a"]["__blob__"])

    back = {r["_id"]: bytes(r["payload"]) for r in rehydrate_blobs(ext).collect()}
    assert back["a"] == big and back["b"] == small  # byte-exact round trip

    # lazy skip leaves pointers untouched
    lazy = rehydrate_blobs(ext, skip_fetch_binary=True)
    assert "__blob__" in lazy.schema["payload"].dataType.fieldNames()

    # GC (parity: delete_by_id blob walk)
    paths = collect_blob_paths(ext)
    assert delete_blobs(paths) == 1
    assert not os.path.exists(pointers["a"]["__blob__"])


def test_ros_bag_egress_with_fake_writer(spark):
    class FakeBag:
        def __init__(self):
            self.records = []
        def write(self, topic, msg, t):
            self.records.append((topic, msg.get("v"), t))
        def close(self):
            self.closed = True

    docs = [
        TopicStore({"cam": {"v": i, "_ros_meta": {"time": float(i), "type": "t/T",
                    "connection_header": {"topic": "/cam"}}}})
        for i in range(3)
    ]
    from topic_store_spark.codec import documents_to_rows, infer_schema
    trees = [d.dict for d in docs]
    schema = infer_schema(trees)
    df = spark.createDataFrame(documents_to_rows(trees, schema), schema)

    bag = FakeBag()
    n = to_ros_bag(df, "/tmp/fake.bag", bag_writer_factory=lambda p: bag)
    assert n == 3
    assert [r[0] for r in bag.records] == ["/cam", "/cam", "/cam"]
    # ordered by ros_time
    times = [r[2] for r in bag.records]
    assert times == sorted(times)
    assert bag.closed


def test_write_topic_store_egress(spark, tmp_path):
    store = ParquetStorage(spark, str(tmp_path / "x.parquet"))
    store.insert_many([{"n": i} for i in range(4)])
    out = str(tmp_path / "out.topic_store")
    assert write_topic_store(store.to_df(), out) == 4
    back = TopicStorage(spark, out)
    assert sum(1 for _ in back) == 4


def test_partitioned_store_prunes_directories(spark, tmp_path):
    """Date-partitioned canonical layout: a partition-column predicate
    becomes a directory-level PartitionFilter (no data IO for pruned
    dates)."""
    import time as _time

    from topic_store_spark.data import TopicStore
    from topic_store_spark.filesystem import ParquetStorage

    store = ParquetStorage(spark, str(tmp_path / "p.parquet"), partition_by=("_ts_date",))
    day = 86400.0
    base = 1704067200.0  # 2024-01-01 UTC
    docs = []
    for d in range(3):
        for i in range(4):
            doc = TopicStore({"n": d * 10 + i})
            doc.dict["_ts_meta"]["sys_time"] = base + d * day + i
            docs.append(doc)
    store.insert_many(docs)

    assert sorted(p.name for p in (tmp_path / "p.parquet").iterdir() if p.is_dir()) == [
        "_ts_date=2024-01-01", "_ts_date=2024-01-02", "_ts_date=2024-01-03",
    ]
    df = store.to_df().filter("_ts_date = date'2024-01-02'")
    assert df.count() == 4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(_ts_date" in plan
    # query surface still works across partitions
    assert store.count({"n": {"$gte": 20}}) == 4


def test_storage_blob_policy_end_to_end(spark, tmp_path):
    """B1-B3 wired into the store: externalize on insert, rehydrate on
    find, lazy-skip flag, GC on delete."""
    import os

    from topic_store_spark.filesystem import ParquetStorage

    store = ParquetStorage(
        spark,
        str(tmp_path / "b.parquet"),
        blob_dir=str(tmp_path / "blobs"),
        blob_threshold=1_000,
    )
    big = bytes(range(256)) * 20  # 5120 B > threshold, not utf-8
    small = b"\xff\xfe tiny"
    id_big = store.insert_one({"payload": bytearray(big), "n": 1})
    store.insert_one({"payload": bytearray(small), "n": 2})

    raw = {r["n"]: r["payload"] for r in store.find(skip_fetch_binary=True).collect()}
    assert raw[1]["__blob__"] is not None and raw[1]["inline"] is None
    assert raw[2]["__blob__"] is None and bytes(raw[2]["inline"]) == small

    back = {r["n"]: bytes(r["payload"]) for r in store.find().collect()}
    assert back[1] == big and back[2] == small

    blob_path = raw[1]["__blob__"]
    assert os.path.exists(blob_path)
    store.delete_by_id(id_big)
    assert not os.path.exists(blob_path)  # GC (B4)
    assert store.count() == 1


def test_load_yaml_scenario_dispatch(spark, tmp_path):
    """S1 parity: load('scenario.yaml') resolves through the scenario's
    storage section (reference database.py:94-99)."""
    import yaml

    import topic_store_spark as ts

    scenario = {
        "context": "yaml_dispatch",
        "storage": {"method": "filesystem", "location": str(tmp_path / "y.parquet")},
        "data": {"x": "/topic"},
        "collection": {"method": "timer", "timer_delay": 1},
    }
    path = tmp_path / "scenario.yaml"
    path.write_text(yaml.safe_dump(scenario))

    store = ts.load(str(path), spark)
    store.insert_one({"n": 7})
    assert ts.load(str(path), spark).count() == 1

    db = dict(scenario, storage={"method": "database", "uri": "mongodb://h:27017"})
    db_path = tmp_path / "db.yaml"
    db_path.write_text(yaml.safe_dump(db))
    from topic_store_spark.mongodb import MongoStorage

    db_store = ts.load(str(db_path), spark)
    assert isinstance(db_store, MongoStorage)
    assert db_store.collection_name == "yaml_dispatch"


def test_append_null_field_adopts_store_type(spark, tmp_path):
    """A field that is null in the whole batch has no type evidence: it
    must adopt the store's existing column type, not a string placeholder
    that would wedge every later read (CANNOT_MERGE_SCHEMAS)."""
    store = ParquetStorage(spark, str(tmp_path / "nulls.parquet"))
    store.insert_one({"robot": {"x": 1.0}, "n": 1})
    store.insert_one({"robot": {"x": 2.0}, "n": None})  # was the footgun
    df = store.to_df()
    assert dict(df.dtypes)["n"] == "bigint"
    assert df.count() == 2
    assert store.find({"n": {"$exists": False}}).count() == 1


def test_append_conflicting_type_fails_at_write_time(spark, tmp_path):
    """An append whose type genuinely conflicts must fail THE WRITE with
    a clear error — never succeed and poison all subsequent reads."""
    import pytest as _pytest

    store = ParquetStorage(spark, str(tmp_path / "conflict.parquet"))
    store.insert_one({"n": 1, "nested": {"v": 2.5}})
    with _pytest.raises(ValueError, match="RaggedParquetStorage"):
        store.insert_one({"n": "not a number"})
    with _pytest.raises(ValueError, match="nested.v"):
        store.insert_one({"nested": {"v": "also wrong"}})
    # the store is still fully readable after the refused appends
    assert store.to_df().count() == 1
    assert store.find({"n": 1}).count() == 1


def test_distinct_field_and_array_elements(spark, tmp_path):
    """pymongo-surface distinct: dotted fields, optional filter, array
    fields contribute distinct ELEMENTS (reference database.py:266)."""
    store = ParquetStorage(spark, str(tmp_path / "distinct.parquet"))
    store.insert_many(
        [
            {"robot": {"name": "husky"}, "tags": ["a", "b"], "n": 1},
            {"robot": {"name": "husky"}, "tags": ["b", "c"], "n": 2},
            {"robot": {"name": "thorvald"}, "tags": [], "n": 3},
        ]
    )
    assert store.distinct("robot.name") == ["husky", "thorvald"]
    assert store.distinct("tags") == ["a", "b", "c"]
    assert store.distinct("robot.name", {"n": {"$lte": 2}}) == ["husky"]


def test_delete_many_and_compact(spark, tmp_path):
    """Retention sweep + small-file compaction: delete_many removes the
    matched set in one rewrite and reports the count; compact collapses
    the one-file-per-insert fragmentation into a bounded file count."""
    store = ParquetStorage(spark, str(tmp_path / "retention.parquet"))
    for i in range(8):
        store.insert_one({"n": i, "keep": i % 2 == 0})
    import os as _os

    files_before = sum(
        1
        for _r, _d, names in _os.walk(store.path)
        for f in names
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert files_before >= 8  # append-only: one part file per insert

    with pytest.raises(ValueError):
        store.delete_many({})  # dropping the store must be explicit
    assert store.delete_many({"keep": False}) == 4
    assert sorted(r["n"] for r in store.find().collect()) == [0, 2, 4, 6]

    n_files = store.compact()
    assert n_files == 1
    assert sorted(r["n"] for r in store.find().collect()) == [0, 2, 4, 6]
    assert store.count(estimate=True) == 4  # footer fast path intact


def test_to_df_on_unchanged_store_launches_no_job(spark, tmp_path):
    """The merged schema is cached per instance while the part-file set
    holds: a repeated to_df() skips the mergeSchema footer job."""
    store = ParquetStorage(spark, str(tmp_path / "cache.parquet"))
    store.insert_many([{"n": i} for i in range(3)])
    store.insert_one({"n": 3, "extra": "x"})
    merged = store.to_df().schema
    assert spark_job_ids(spark, lambda: store.to_df().schema) == []
    fresh = ParquetStorage(spark, store.path)
    assert spark_job_ids(spark, lambda: fresh.to_df().schema) != []  # a miss merges footers
    assert store.to_df().schema == merged == fresh.to_df().schema
    assert sorted(r["n"] for r in store.to_df().collect()) == [0, 1, 2, 3]


def test_to_df_sees_foreign_appends_and_rewrites(spark, tmp_path):
    """Every change of the part-file set invalidates the cached schema:
    an append through another instance, and the atomic-swap rewrites of
    update_one_by_id, delete_many and compact."""
    path = str(tmp_path / "visible.parquet")
    store = ParquetStorage(spark, path)
    ids = store.insert_many([{"n": i} for i in range(6)])
    assert "extra" not in store.to_df().columns

    ParquetStorage(spark, path).insert_one({"n": 6, "extra": "x"})
    df = store.to_df()
    assert "extra" in df.columns and df.count() == 7

    store.update_one_by_id(ids[0], note="set")
    assert store.find_by_id(ids[0])["note"] == "set"

    assert store.delete_many({"n": {"$gte": 4}}) == 3
    assert sorted(r["n"] for r in store.to_df().collect()) == [0, 1, 2, 3]

    before = set(store.to_df().inputFiles())
    assert store.compact() == 1
    after = store.to_df()
    assert len(after.inputFiles()) == 1 and before.isdisjoint(after.inputFiles())
    assert {"note", "extra"} <= set(after.columns)
    assert sorted(r["n"] for r in after.collect()) == [0, 1, 2, 3]


def _fresh_schema(spark, path):
    return spark.read.option("mergeSchema", "true").parquet(path).schema


def test_to_df_after_own_insert_launches_no_job(spark, tmp_path):
    """An append whose footer schema is the cached merged schema extends
    the cache: to_df() right after this instance's insert_many reads
    with it, and no mergeSchema job runs."""
    store = ParquetStorage(spark, str(tmp_path / "grow.parquet"))
    store.insert_many([{"n": i, "robot": {"x": 0.5}} for i in range(3)])
    store.to_df()
    for batch in range(3):
        store.insert_many([{"n": 10 * batch + i, "robot": {"x": 1.5}} for i in range(2)])
        assert spark_job_ids(spark, lambda: store.to_df().schema) == []
        assert store.to_df().schema == _fresh_schema(spark, store.path)
    assert store.to_df().count() == 9


def test_schema_cache_matches_merge_on_heterogeneous_store(spark, tmp_path):
    """After every append to a store whose early files have fewer and
    nested-narrower columns, the schema to_df() reads with is the one a
    fresh mergeSchema read gives: names, order and types.  The first
    insert into the empty store seeds the cache with its own schema,
    and an append written with the store's merged schema extends it (no
    job); any other append merges footers again."""
    path = str(tmp_path / "hetero.parquet")
    store = ParquetStorage(spark, path)
    full = {"n": 3, "robot": {"x": 2.0, "tag": "a"}, "scan": [1.0], "z": "w"}

    def own_shape(n):
        # the merged field order follows the (random) listing order of
        # the early files, so this batch is written with the store's schema
        df = store.to_df()
        row = df.filter(F.col("n") == 3).first().asDict()
        store.write_df(spark.createDataFrame([dict(row, n=n)], df.schema))

    appends = [
        lambda: store.insert_many([{"n": 1}]),
        lambda: store.insert_many([{"n": 2, "robot": {"x": 1.0}}]),
        lambda: store.insert_many([full]),
        lambda: own_shape(4),
        lambda: store.insert_many([{"n": 5, "robot": {"x": 3.0}}]),
        lambda: own_shape(6),
        lambda: store.insert_many([dict(full, n=7)]),
    ]
    merged = []
    for append in appends:
        append()
        merged.append(spark_job_ids(spark, lambda: store.to_df().schema) != [])
        got = store.to_df().schema
        assert got == _fresh_schema(spark, path)
        assert got == ParquetStorage(spark, path).to_df().schema
    # the first insert seeds the cache: its file is the whole store
    assert merged[:3] == [False, True, True] and merged[3] is False and merged[5] is False
    assert merged[4] is True  # a narrower file
    assert sorted(r["n"] for r in store.to_df().collect()) == list(range(1, 8))


def test_schema_cache_falls_back_on_foreign_footers(spark, tmp_path):
    """A part file without Spark's schema metadata (written by pyarrow)
    and a Spark append that adds a column both miss the extension: the
    next to_df() merges footers and shows the new column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "foreign.parquet")
    store = ParquetStorage(spark, path)
    store.insert_many([{"n": i} for i in range(2)])
    columns = store.to_df().columns

    pq.write_table(
        pa.table({"_id": ["p"], "n": pa.array([7], pa.int64()), "from_pa": [1.5]}),
        os.path.join(path, "part-99999-pyarrow.parquet"),
    )
    assert spark_job_ids(spark, lambda: store.to_df().schema) != []
    df = store.to_df()
    assert df.columns == columns + ["from_pa"]
    assert sorted((r["n"], r["from_pa"]) for r in df.select("n", "from_pa").collect()) == [
        (0, None), (1, None), (7, 1.5),
    ]

    ParquetStorage(spark, path).insert_one({"n": 8, "extra": "x"})
    assert spark_job_ids(spark, lambda: store.to_df().schema) != []
    assert "extra" in store.to_df().columns
    assert store.to_df().schema == _fresh_schema(spark, path)


def test_schema_cache_on_partitioned_store(spark, tmp_path):
    """Partition columns are not in the footers; the extension compares
    the data columns and only accepts files in partition directories it
    has seen.  A new partition value merges footers again."""
    path = str(tmp_path / "parted.parquet")
    store = ParquetStorage(spark, path, partition_by=("_ts_date",))
    base = 1704067200.0  # 2024-01-01 UTC

    def docs(day, ns):
        out = []
        for n in ns:
            doc = TopicStore({"n": n, "robot": {"x": float(n)}})
            doc.dict["_ts_meta"]["sys_time"] = base + day * 86400.0 + n
            out.append(doc)
        return out

    store.insert_many(docs(0, [0, 1]))
    store.to_df()
    store.insert_many(docs(0, [2]))  # same partition directory
    assert spark_job_ids(spark, lambda: store.to_df().schema) == []
    assert store.to_df().schema == _fresh_schema(spark, path)
    store.insert_many(docs(1, [3]))  # new partition directory
    assert spark_job_ids(spark, lambda: store.to_df().schema) != []
    df = store.to_df()
    assert df.schema == _fresh_schema(spark, path)
    assert df.schema["_ts_date"].dataType.simpleString() == "date"
    assert sorted((r["n"], str(r["_ts_date"])) for r in df.collect()) == [
        (0, "2024-01-01"), (1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02"),
    ]
    # one part file per insert_many and partition value
    assert len([p for p in (tmp_path / "parted.parquet").rglob("part-*")]) == 3


def _sorted_fields(dtype):
    from pyspark.sql import types as T

    if isinstance(dtype, T.StructType):
        return sorted((f.name, _sorted_fields(f.dataType)) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return ["array", _sorted_fields(dtype.elementType)]
    return dtype.simpleString()


def test_insert_many_arrow_matches_row_path(spark, tmp_path):
    """insert_many's Arrow batch writes what the row path writes:
    createDataFrame(documents_to_rows(...)) through write_df, with blobs
    externalized by externalize_blobs.  Naive datetimes keep their
    local-wall-time meaning under a non-UTC TZ."""
    import calendar
    import datetime as dt
    import time

    from pyspark.sql import Row

    from topic_store_spark.codec import documents_to_rows, infer_schema

    saved_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Kolkata"  # +05:30, no DST
    time.tzset()
    try:
        threshold = 8
        naive = dt.datetime(2021, 3, 4, 5, 6, 7, 890)
        aware = dt.datetime(2021, 3, 4, 5, 6, 7, 890, tzinfo=dt.timezone(dt.timedelta(hours=-4)))
        seed = TopicStore({"k": 7, "robot": {"battery": 1.5}})
        docs = [
            {
                "k": None,  # null in the whole batch: adopts the store's bigint
                "robot": {"battery": None, "pose": {"x": 1, "y": 2.5}},
                "v": 1,
                "mixed": 1,
                "scan": [1.0, 2.0],
                "tags": [{"name": "a", "at": naive}, {"name": "b", "at": None}],
                "payload": b"\xff" * (threshold - 4),
                "day": dt.date(2020, 2, 29),
                "t_naive": naive,
                "t_aware": aware,
            },
            {
                "k": None,
                "robot": {"pose": {"x": 3, "y": None}},
                "v": 2.5,  # widens v to double
                "mixed": "text",  # ragged: mixed falls back to string
                "scan": [3],
                "tags": None,
                "payload": b"\xfe" * threshold,
                "t_naive": naive + dt.timedelta(days=1),
                "t_aware": None,
            },
            {"k": None, "mixed": {"nested": [1, 2]}, "payload": b"\xfd" * (threshold + 4), "day": None},
            {"k": None, "payload": None, "robot": None},
        ]
        stores = [TopicStore(d) for d in docs]
        dicts = [s.dict for s in stores]

        blobs_a, blobs_b = str(tmp_path / "blobs_a"), str(tmp_path / "blobs_b")
        arrow = ParquetStorage(spark, str(tmp_path / "a.parquet"), blob_dir=blobs_a, blob_threshold=threshold)
        rows = ParquetStorage(spark, str(tmp_path / "b.parquet"))
        seed_schema = infer_schema([seed.dict])
        for store in (arrow, rows):
            store.write_df(
                spark.createDataFrame(documents_to_rows([seed.dict], seed_schema), seed_schema)
            )

        arrow.insert_many(stores)
        schema = infer_schema(dicts, reference=rows.to_df().schema)
        legacy = spark.createDataFrame(documents_to_rows(dicts, schema), schema)
        rows.write_df(externalize_blobs(legacy, blobs_b, threshold=threshold))

        def stored(store, blob_dir):
            out = []
            for r in store.to_df().orderBy("_id").collect():
                d = r.asDict(recursive=True)
                if d["payload"] is not None and d["payload"]["__blob__"] is not None:
                    d["payload"]["__blob__"] = os.path.relpath(d["payload"]["__blob__"], blob_dir)
                out.append(d)
            return out

        a_df = arrow.to_df()
        # mergeSchema orders fields by footer order, which is file-name order
        assert _sorted_fields(a_df.schema) == _sorted_fields(rows.to_df().schema)
        assert stored(arrow, blobs_a) == stored(rows, blobs_b)
        types = dict(a_df.dtypes)
        assert (types["k"], types["v"], types["mixed"], types["day"], types["t_naive"]) == (
            "bigint", "double", "string", "date", "timestamp",
        )
        assert (types["scan"], types["tags"]) == ("array<double>", "array<struct<name:string,at:timestamp>>")
        assert a_df.schema["robot"].dataType["battery"].dataType.simpleString() == "double"

        # pointer structs and blob files
        big = f"{stores[2].id}_payload.bin"
        assert os.listdir(blobs_a) == os.listdir(blobs_b) == [big]
        for blob_dir in (blobs_a, blobs_b):
            with open(os.path.join(blob_dir, big), "rb") as fh:
                assert fh.read() == b"\xfd" * (threshold + 4)
        pointers = {r["_id"]: r["payload"] for r in a_df.collect()}
        assert pointers[stores[0].id] == Row(__blob__=None, size=4, inline=b"\xff" * 4)
        assert pointers[stores[1].id] == Row(__blob__=None, size=8, inline=b"\xfe" * 8)
        assert pointers[stores[2].id] == Row(
            __blob__=os.path.join(blobs_a, big), size=12, inline=None
        )
        assert pointers[stores[3].id] is None

        # naive = local wall time (+05:30), aware = its own offset
        micros = {
            r["_id"]: (r["naive"], r["aware"], r["nested"])
            for r in a_df.select(
                "_id",
                F.unix_micros("t_naive").alias("naive"),
                F.unix_micros("t_aware").alias("aware"),
                F.unix_micros(F.col("tags")[0]["at"]).alias("nested"),
            ).collect()
        }
        wall_utc = calendar.timegm(naive.timetuple()) * 10**6 + 890
        local = wall_utc - (5 * 3600 + 1800) * 10**6
        assert micros[stores[0].id] == (local, wall_utc + 4 * 3600 * 10**6, local)
    finally:
        if saved_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved_tz
        time.tzset()


SPARK_ROW_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_keys(path):
    import pyarrow.parquet as pq

    return pq.read_metadata(path).metadata or {}


def test_insert_many_launches_no_job(spark, tmp_path):
    """insert_many writes its part file with pyarrow: no Spark job (a
    Spark append launches one), into an empty store and, once the
    schema is cached, into a filled one."""
    store = ParquetStorage(spark, str(tmp_path / "direct.parquet"))
    assert spark_job_ids(spark, lambda: store.insert_many([{"n": 0, "robot": {"x": 0.5}}])) == []
    store.to_df()
    for n in (1, 2):
        batch = [{"n": n, "robot": {"x": 1.5}}]
        assert spark_job_ids(spark, lambda: store.insert_many(batch)) == []
    assert sorted(r["n"] for r in store.to_df().collect()) == [0, 1, 2]


def test_direct_append_footer_carries_spark_schema(spark, tmp_path):
    """Each appended file is named like Spark's and its footer holds
    what Spark's writer puts there: the Spark schema (equal to the store
    schema) and the Spark version, and no ARROW:schema copy."""
    import json
    import re

    from pyspark.sql import types as T

    store = ParquetStorage(spark, str(tmp_path / "footer.parquet"))
    store.insert_many([{"n": 1, "robot": {"x": 0.5}, "scan": [1.0, 2.0]}])
    store.insert_many([{"n": 2, "robot": {"x": 1.5}, "scan": [3.0]}])
    names = sorted(os.listdir(store.path))
    assert len(names) == 2
    for name in names:
        assert re.fullmatch(r"part-00000-[0-9a-f-]{36}-c000\.snappy\.parquet", name), name
        meta = _footer_keys(os.path.join(store.path, name))
        assert set(meta) == {SPARK_ROW_KEY, b"org.apache.spark.version"}
        assert meta[b"org.apache.spark.version"].decode() == spark.version
        schema = T.StructType.fromJson(json.loads(meta[SPARK_ROW_KEY]))
        assert schema == store.to_df().schema == _fresh_schema(spark, store.path)


def test_direct_append_seen_by_fresh_instance(spark, tmp_path):
    """A new instance sees directly appended rows through to_df(),
    count(estimate=True) and compact().  Dates and timestamps before the
    Gregorian cutover read back unchanged even when the session asks to
    rebase files of unknown writers: the footer marks a Spark 3+ writer."""
    import datetime as dt

    utc = dt.timezone.utc
    path = str(tmp_path / "fresh.parquet")
    docs = [
        {"n": i, "day": dt.date(1200 + i, 3, 1), "at": dt.datetime(1500 + i, 1, 1, tzinfo=utc)}
        for i in range(4)
    ]
    ParquetStorage(spark, path).insert_many(docs[:2])
    ParquetStorage(spark, path).insert_many(docs[2:])

    def rows(store):
        return sorted(
            (r["n"], r["day"], r["at"].astimezone(utc).replace(tzinfo=None))
            for r in store.to_df().collect()
        )

    want = [(d["n"], d["day"], d["at"].replace(tzinfo=None)) for d in docs]
    key = "spark.sql.parquet.datetimeRebaseModeInRead"
    saved = spark.conf.get(key)
    spark.conf.set(key, "LEGACY")
    try:
        fresh = ParquetStorage(spark, path)
        assert rows(fresh) == want
        assert fresh.count(estimate=True) == fresh.count() == 4
        assert fresh.compact() == 1
        assert rows(ParquetStorage(spark, path)) == want
    finally:
        spark.conf.set(key, saved)


def test_direct_append_temp_file_is_invisible(spark, tmp_path):
    """A leftover ``.``-prefixed temp file (an interrupted append) is
    not data: to_df(), both counts and _part_files skip it."""
    from topic_store_spark.filesystem import _part_files

    store = ParquetStorage(spark, str(tmp_path / "tmpfile.parquet"))
    store.insert_many([{"n": i} for i in range(3)])
    files = _part_files(store.path)
    leftover = os.path.join(store.path, ".part-00000-leftover-c000.snappy.parquet.tmp")
    with open(leftover, "wb") as fh:
        fh.write(b"PAR1 truncated")
    fresh = ParquetStorage(spark, store.path)
    assert _part_files(store.path) == files
    assert fresh.count(estimate=True) == fresh.count() == store.to_df().count() == 3


def test_direct_append_codec_follows_session_conf(spark, tmp_path):
    """The part file uses spark.sql.parquet.compression.codec; Spark's
    lz4 codec, which pyarrow does not write, appends through Spark."""
    import pyarrow.parquet as pq

    key = "spark.sql.parquet.compression.codec"
    saved = spark.conf.get(key)
    store = ParquetStorage(spark, str(tmp_path / "codec.parquet"))
    try:
        spark.conf.set(key, "zstd")
        store.insert_many([{"n": 1, "s": "x" * 100}])
        (name,) = os.listdir(store.path)
        assert name.endswith(".zstd.parquet")
        column = pq.read_metadata(os.path.join(store.path, name)).row_group(0).column(0)
        assert column.compression == "ZSTD"

        spark.conf.set(key, "lz4")
        assert spark_job_ids(spark, lambda: store.insert_many([{"n": 2, "s": "y"}])) != []
    finally:
        spark.conf.set(key, saved)
    assert sorted(r["n"] for r in ParquetStorage(spark, store.path).to_df().collect()) == [1, 2]


def test_direct_append_incompatible_insert_leaves_no_file(spark, tmp_path):
    """The merge guard runs before the direct write: an incompatible
    insert raises and leaves the store directory as it was."""
    store = ParquetStorage(spark, str(tmp_path / "guard.parquet"))
    store.insert_many([{"n": 1, "nested": {"v": 2.5}}])
    before = sorted(os.listdir(store.path))
    with pytest.raises(ValueError, match="RaggedParquetStorage"):
        store.insert_many([{"n": "not a number"}])
    with pytest.raises(ValueError, match="nested.v"):
        store.insert_many([{"nested": {"v": "also wrong"}}])
    assert sorted(os.listdir(store.path)) == before
    assert [r["n"] for r in store.to_df().collect()] == [1]


def test_ragged_direct_append_roundtrip(spark, tmp_path):
    """RaggedParquetStorage.insert_many shares the direct writer: no
    Spark job, Spark's footer keys, and a fresh instance reads and
    queries the rows."""
    from topic_store_spark.filesystem import RaggedParquetStorage

    path = str(tmp_path / "landing.ragged.parquet")
    store = RaggedParquetStorage(spark, path)
    docs = [{"v": 1, "robot": {"name": "husky"}}, {"v": "text", "blob": b"\x00\x01"}]
    ids = []
    assert spark_job_ids(spark, lambda: ids.extend(store.insert_many(docs))) == []
    (name,) = os.listdir(path)
    assert SPARK_ROW_KEY in _footer_keys(os.path.join(path, name))
    fresh = load(path, spark)
    assert isinstance(fresh, RaggedParquetStorage)
    assert fresh.to_df().schema == RaggedParquetStorage.SCHEMA
    assert sorted(r["_id"] for r in fresh.to_df().collect()) == sorted(ids)
    assert [r["_id"] for r in fresh.find({"v": {"$gte": 1}}).collect()] == [ids[0]]
    assert [r["_id"] for r in fresh.find({"robot.name": "husky"}).collect()] == [ids[0]]
