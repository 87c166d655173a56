"""Mongo-dict query compiler tests against driver testdata tables."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import (
    GRAPH_LOOKUP_TIERS,
    graph_lookup_tier,
    spark_job_ids,
    table,
)
from topic_store_spark.query import (
    apply_pipeline,
    apply_projection,
    compile_query,
    parse_objectid_literals,
)


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return table(spark, sf_dir, "orders")


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return table(spark, sf_dir, "events")


def test_eq_implicit(orders):
    n = orders.filter(compile_query({"o_orderstatus": "F"})).count()
    assert n == orders.filter(F.col("o_orderstatus") == "F").count()
    assert n > 0


def test_comparison_ops(orders):
    q = {"o_totalprice": {"$gt": 1000, "$lte": 50000}}
    n = orders.filter(compile_query(q)).count()
    ref = orders.filter((F.col("o_totalprice") > 1000) & (F.col("o_totalprice") <= 50000)).count()
    assert n == ref


def test_in_nin(orders):
    q_in = orders.filter(compile_query({"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}})).count()
    q_nin = orders.filter(compile_query({"o_orderpriority": {"$nin": ["1-URGENT", "2-HIGH"]}})).count()
    assert q_in + q_nin == orders.count()


def test_and_or_nor(orders):
    q = {"$or": [{"o_orderstatus": "F"}, {"o_totalprice": {"$lt": 5000}}]}
    n_or = orders.filter(compile_query(q)).count()
    n_nor = orders.filter(compile_query({"$nor": q["$or"]})).count()
    assert n_or + n_nor == orders.count()
    both = {"$and": [{"o_orderstatus": "F"}, {"o_totalprice": {"$lt": 5000}}]}
    assert orders.filter(compile_query(both)).count() <= n_or


def test_not_and_ne_null_semantics(spark):
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "b")], ["id", "v"])
    # Mongo $ne matches missing/null fields too
    assert df.filter(compile_query({"v": {"$ne": "a"}})).count() == 2
    assert df.filter(compile_query({"v": {"$not": {"$eq": "a"}}})).count() == 2
    assert df.filter(compile_query({"v": {"$nin": ["a", "b"]}})).count() == 1


def test_exists(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "v"])
    assert df.filter(compile_query({"v": {"$exists": True}})).count() == 1
    assert df.filter(compile_query({"v": {"$exists": False}})).count() == 1


def test_regex(events):
    n = events.filter(compile_query({"event_type": {"$regex": "^sig", "$options": "i"}})).count()
    ref = events.filter(F.col("event_type").rlike("(?i)^sig")).count()
    assert n == ref and n > 0


def test_mod_and_dotted_path(spark):
    df = spark.createDataFrame([((i, {"x": i}),) for i in range(10)], ["s"]) \
        .select(F.col("s._1").alias("n"), F.col("s._2").alias("inner"))
    assert df.filter(compile_query({"n": {"$mod": [3, 1]}})).count() == 3  # 1,4,7
    assert df.filter(compile_query({"inner.x": {"$gte": 5}})).count() == 5


def test_objectid_literal():
    q = parse_objectid_literals({"_id": "ObjectId('0123456789abcdef01234567')"})
    assert q == {"_id": "0123456789abcdef01234567"}


def test_empty_query_full_scan(orders):
    assert orders.filter(compile_query({})).count() == orders.count()
    assert orders.filter(compile_query(None)).count() == orders.count()


# ---------------- projection ----------------


def test_projection_include_exclude(spark):
    df = spark.createDataFrame(
        [("x", 1, ("s1", 1.0, 2.0), {"a": 1, "b": 2})],
        "name string, n long, _ts_meta struct<session:string,sys_time:double,ros_time:double>, robot struct<a:long,b:long>",
    ).withColumn("_id", F.lit("ff" * 12))
    inc = apply_projection(df, {"name": 1})
    assert set(inc.columns) == {"name", "_ts_meta", "_id"}  # forced meta + id
    inc2 = apply_projection(df, {"robot.a": 1, "_id": 0})
    assert set(inc2.columns) == {"robot", "_ts_meta"}
    assert inc2.select("robot.a").first()[0] == 1
    assert "b" not in inc2.schema["robot"].dataType.fieldNames()
    exc = apply_projection(df, {"robot.b": 0, "n": 0})
    assert "n" not in exc.columns
    assert "b" not in exc.schema["robot"].dataType.fieldNames()


def test_projection_cannot_drop_ts_meta(spark):
    df = spark.createDataFrame([(1,)], ["a"])
    with pytest.raises(ValueError):
        apply_projection(df, {"_ts_meta": 0})
    with pytest.raises(ValueError):
        apply_projection(df, {"a": 1, "b": 0})


# ---------------- aggregation pipeline ----------------


def test_pipeline_match_group_sort_limit(orders):
    out = apply_pipeline(
        orders,
        [
            {"$match": {"o_orderstatus": {"$ne": "P"}}},
            {"$group": {"_id": "$o_orderpriority", "n": {"$sum": 1}, "total": {"$sum": "$o_totalprice"}}},
            {"$sort": {"n": -1}},
            {"$limit": 3},
        ],
    ).collect()
    assert len(out) == 3
    assert out[0]["n"] >= out[1]["n"] >= out[2]["n"]
    assert out[0]["total"] > 0


def test_pipeline_unwind_count(spark):
    df = spark.createDataFrame([(1, [1, 2, 3]), (2, [4])], ["id", "xs"])
    out = apply_pipeline(df, [{"$unwind": "$xs"}, {"$count": "n"}]).first()
    assert out["n"] == 4


def test_pipeline_unwind_nested_path_in_place(spark):
    """Mongo $unwind of a nested path replaces the array AT its path —
    no scratch column, enclosing struct rebuilt (reference README
    $unwind examples)."""
    df = spark.createDataFrame(
        [(1, ("ada", [10, 20])), (2, ("bob", [30]))],
        "oid int, cust struct<name:string, scores:array<int>>",
    )
    out = apply_pipeline(df, [{"$unwind": "$cust.scores"}])
    assert out.columns == ["oid", "cust"]
    got = sorted(
        (r["oid"], r["cust"]["name"], r["cust"]["scores"]) for r in out.collect()
    )
    assert got == [(1, "ada", 10), (1, "ada", 20), (2, "bob", 30)]


def test_pipeline_project_computed_sees_input_doc(spark):
    """$project expressions all evaluate against the stage's INPUT
    document: a field that shadows an input column does not leak its new
    value into sibling expressions (Mongo semantics)."""
    df = spark.createDataFrame([(1, 100)], "a int, b int")
    out = apply_pipeline(
        df,
        [{"$project": {"a": "$b", "c": {"$add": ["$a", 10]}}}],
    ).first()
    assert out["a"] == 100  # shadowed in place
    assert out["c"] == 11  # sibling read the INPUT a=1, not the new a=100

    out2 = apply_pipeline(
        df, [{"$addFields": {"a": "$b", "c": {"$add": ["$a", 10]}}}]
    ).first()
    assert out2["a"] == 100 and out2["c"] == 11


def test_pipeline_project_computed_is_inclusion(spark):
    """A computed field is an inclusion: beside ``_id: 0`` only the
    computed fields survive, and any other exclusion beside one is
    refused, as Mongo does."""
    df = spark.createDataFrame([("x", 1, "s")], "_id string, k long, s string")
    out = apply_pipeline(df, [{"$project": {"_id": 0, "x": {"$add": ["$k", 1]}}}])
    assert out.columns == ["x"]
    assert [tuple(r) for r in out.collect()] == [(2,)]
    with pytest.raises(ValueError, match="exclusion projection"):
        apply_pipeline(df, [{"$project": {"s": 0, "x": {"$add": ["$k", 1]}}}])


def test_pipeline_addfields_and_dateparts(spark):
    from topic_store_spark.objectid import new_object_id
    import time

    oid = new_object_id(timestamp=time.mktime((2021, 5, 17, 12, 0, 0, 0, 0, 0)))
    df = spark.createDataFrame([(oid,)], ["_id"])
    out = apply_pipeline(
        df, [{"$addFields": {"y": {"$year": "$_id"}, "mo": {"$month": "$_id"}}}]
    ).first()
    assert out["y"] == 2021 and out["mo"] == 5


def test_pipeline_group_multi_key(orders):
    out = apply_pipeline(
        orders,
        [{"$group": {"_id": {"st": "$o_orderstatus", "pr": "$o_orderpriority"},
                     "n": {"$sum": 1}}}],
    )
    assert set(out.columns) == {"st", "pr", "n"}
    assert out.agg(F.sum("n")).first()[0] == orders.count()
    # no accumulator: the keys come back alone (Mongo), no count column
    keys = apply_pipeline(orders, [{"$group": {"_id": "$o_orderstatus"}}])
    assert keys.columns == ["_id"]
    assert keys.count() == orders.select("o_orderstatus").distinct().count()
    # _id: null groups everything and returns a typed null _id (Mongo)
    total = apply_pipeline(orders, [{"$group": {"_id": None, "n": {"$sum": 1}}}])
    assert total.columns == ["_id", "n"]
    assert dict(total.dtypes)["_id"] == "string"
    assert [tuple(r) for r in total.collect()] == [(None, orders.count())]


def test_pipeline_lookup_and_unwind(spark):
    from topic_store_spark.query.pipeline import apply_pipeline

    orders = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, 10)], "oid int, cust int"
    )
    customers = spark.createDataFrame(
        [(10, "ada"), (20, "bob")], "cid int, name string"
    )
    looked = apply_pipeline(
        orders,
        [{"$lookup": {"from": "customers", "localField": "cust",
                      "foreignField": "cid", "as": "c"}}],
        tables={"customers": customers},
    )
    rows = {r["oid"]: r["c"] for r in looked.collect()}
    assert rows[1][0]["name"] == "ada" and len(rows[1]) == 1
    assert rows[3] == []  # no match -> empty array, row preserved
    assert rows[4][0]["name"] == "ada"  # duplicate local keys preserved

    unwound = apply_pipeline(
        orders,
        [
            {"$lookup": {"from": "customers", "localField": "cust",
                         "foreignField": "cid", "as": "c"}},
            {"$unwind": "$c"},
            {"$project": {"oid": 1, "who": "$c.name"}},
        ],
        tables={"customers": customers},
    )
    got = sorted((r["oid"], r["who"]) for r in unwound.collect())
    assert got == [(1, "ada"), (2, "bob"), (4, "ada")]  # oid=3 dropped


def test_pipeline_lookup_let_pipeline_fast_path(spark):
    """let + single-$eq correlation with a var-free prefix $match and a
    $sort+$limit suffix — the key-grouped "latest N per entity" shape:
    foreign pre-aggregates per key, arrays come back in $sort order."""
    from topic_store_spark.query.pipeline import apply_pipeline

    custs = spark.createDataFrame(
        [(10, "ada"), (20, "bob"), (30, "cee")], "cid int, name string"
    )
    orders = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 9.0), (3, 10, 7.0), (4, 20, 1.0), (5, 20, 8.0)],
        "oid int, cust int, total double",
    )
    out = apply_pipeline(
        custs,
        [
            {
                "$lookup": {
                    "from": "orders",
                    "let": {"c": "$cid"},
                    "pipeline": [
                        {"$match": {"total": {"$gt": 2.0}}},       # var-free prefix
                        {"$match": {"$expr": {"$eq": ["$cust", "$$c"]}}},
                        {"$sort": {"total": -1}},
                        {"$limit": 2},
                    ],
                    "as": "top_orders",
                }
            }
        ],
        tables={"orders": orders},
    )
    rows = {r["cid"]: [(o["oid"], o["total"]) for o in r["top_orders"]] for o_, r in
            ((None, r) for r in out.collect())}
    assert rows[10] == [(2, 9.0), (3, 7.0)]     # top-2 by total desc
    assert rows[20] == [(5, 8.0)]               # order 4 cut by the prefix
    assert rows[30] == []                       # no match -> empty array


def test_pipeline_lookup_let_pipeline_general_path(spark):
    """Residual correlation (a second $$var in a non-equi comparison)
    takes the row-id path: per-row arrays, empty when nothing passes."""
    from topic_store_spark.query.pipeline import apply_pipeline

    custs = spark.createDataFrame(
        [(10, 6.0), (20, 100.0)], "cid int, min_total double"
    )
    orders = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 9.0), (4, 20, 1.0), (5, 20, 8.0)],
        "oid int, cust int, total double",
    )
    out = apply_pipeline(
        custs,
        [
            {
                "$lookup": {
                    "from": "orders",
                    "let": {"c": "$cid", "m": "$min_total"},
                    "pipeline": [
                        {
                            "$match": {
                                "$expr": {
                                    "$and": [
                                        {"$eq": ["$cust", "$$c"]},
                                        {"$gte": ["$total", "$$m"]},
                                    ]
                                }
                            }
                        },
                        {"$sort": {"oid": 1}},
                    ],
                    "as": "big",
                }
            }
        ],
        tables={"orders": orders},
    )
    rows = {r["cid"]: [o["oid"] for o in r["big"]] for r in out.collect()}
    assert rows[10] == [2]      # only total >= 6.0
    assert rows[20] == []       # nothing reaches 100


def test_pipeline_lookup_uncorrelated_and_errors(spark):
    from topic_store_spark.query.pipeline import apply_pipeline

    left = spark.createDataFrame([(1,), (2,)], "k int")
    ref = spark.createDataFrame([(7, "x"), (3, "y")], "rid int, tag string")
    out = apply_pipeline(
        left,
        [{"$lookup": {"from": "ref",
                      "pipeline": [{"$sort": {"rid": 1}}], "as": "all_ref"}}],
        tables={"ref": ref},
    )
    for r in out.collect():
        assert [x["rid"] for x in r["all_ref"]] == [3, 7]  # shared, sorted

    # residual correlation + $sort + $limit (r7): the general row-id
    # path slices the sorted per-row array after the collect
    rows = {
        r["k"]: [x["rid"] for x in r["a"]]
        for r in apply_pipeline(
            left,
            [{"$lookup": {"from": "ref", "let": {"kk": "$k"},
                          "pipeline": [
                              {"$match": {"$expr": {"$gte": ["$rid", "$$kk"]}}},
                              {"$sort": {"rid": 1}},
                              {"$limit": 1},
                          ], "as": "a"}}],
            tables={"ref": ref},
        ).collect()
    }
    assert rows == {1: [3], 2: [3]}


def test_pipeline_sort_by_count(spark):
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [("a",), ("b",), ("a",), ("c",), ("a",), ("b",)], "lang string"
    )
    out = apply_pipeline(df, [{"$sortByCount": "$lang"}]).collect()
    assert [(r["_id"], r["count"]) for r in out] == [("a", 3), ("b", 2), ("c", 1)]


def test_pipeline_bucket(spark):
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame([(v,) for v in [1, 5, 9, 15, 25, 99]], "x int")
    out = apply_pipeline(
        df,
        [
            {
                "$bucket": {
                    "groupBy": "$x",
                    "boundaries": [0, 10, 20],
                    "default": "other",
                    "output": {"n": {"$sum": 1}, "mx": {"$max": "$x"}},
                }
            }
        ],
    ).collect()
    got = {str(r["_id"]): (r["n"], r["mx"]) for r in out}
    assert got == {"0": (3, 9), "10": (1, 15), "other": (2, 99)}


def test_pipeline_bucket_no_default_drops(spark):
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame([(v,) for v in [1, 50]], "x int")
    out = apply_pipeline(
        df, [{"$bucket": {"groupBy": "$x", "boundaries": [0, 10]}}]
    ).collect()
    assert [(r["_id"], r["count"]) for r in out] == [(0, 1)]


def test_pipeline_bucket_matches_group_accumulators(spark):
    """$bucket and $bucketAuto compile their outputs with $group's
    accumulator compiler: $mergeObjects works, an output with two
    operators is refused, and a missing path is NULL, never an
    analysis error."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, (1, None)), (2, (None, "x")), (30, (3, None))],
        "x int, st struct<u: long, w: string>",
    )
    merged = apply_pipeline(df, [{"$bucket": {
        "groupBy": "$x", "boundaries": [0, 10],
        "output": {"m": {"$mergeObjects": "$st"}},
    }}]).collect()
    assert [(r["_id"], r["m"].asDict()) for r in merged] == [
        (0, {"u": 1, "w": "x"})]

    two_ops = {"m": {"$max": "$x", "$min": "$x"}}
    with pytest.raises(ValueError, match="bad accumulator"):
        apply_pipeline(df, [{"$group": {"_id": None, **two_ops}}])
    with pytest.raises(ValueError, match="bad accumulator"):
        apply_pipeline(df, [{"$bucket": {
            "groupBy": "$x", "boundaries": [0, 10], "output": two_ops}}])
    with pytest.raises(ValueError, match="bad accumulator"):
        apply_pipeline(df, [{"$bucketAuto": {
            "groupBy": "$x", "buckets": 2, "output": two_ops}}])

    missing = apply_pipeline(df, [{"$bucket": {
        "groupBy": "$nope", "boundaries": [0, 10], "default": "other"}}])
    assert [(r["_id"], r["count"]) for r in missing.collect()] == [("other", 3)]
    auto = apply_pipeline(df, [{"$bucketAuto": {
        "groupBy": "$x", "buckets": 1, "output": {"mx": {"$max": "$nope"}}}}])
    assert [r["mx"] for r in auto.collect()] == [None]
    root = apply_pipeline(df, [{"$replaceRoot": {"newRoot": {"y": "$nope"}}}])
    assert [r["y"] for r in root.collect()] == [None] * 3
    counts = apply_pipeline(df, [{"$sortByCount": "$nope"}]).collect()
    assert [(r["_id"], r["count"]) for r in counts] == [(None, 3)]


def _nested_docs(spark):
    return spark.createDataFrame(
        [(1, (10, "a")), (2, (20, None)), (3, (30, None))],
        "k int, r struct<a: long, b: string>",
    )


def _columns_and_rows(df, stage):
    from topic_store_spark.query.pipeline import apply_pipeline

    out = apply_pipeline(df, [stage])
    rows = [r.asDict(recursive=True) for r in out.orderBy("k").collect()]
    return out.columns, rows


def test_add_fields_dotted_output_writes_nested_field(spark):
    """A dotted $addFields/$set/$project output writes into the nested
    document (it used to add a top-level column literally named
    ``r.c``); writing under a missing document, or two overlapping
    output paths, refuse loudly."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = _nested_docs(spark)
    cols, got = _columns_and_rows(df, {"$addFields": {"r.c": {"$add": ["$k", 1]}}})
    assert cols == ["k", "r"]
    assert [r["r"] for r in got] == [
        {"a": 10, "b": "a", "c": 2}, {"a": 20, "b": None, "c": 3},
        {"a": 30, "b": None, "c": 4},
    ]
    _, got = _columns_and_rows(df, {"$project": {"r.a": 1, "r.c": "$k"}})
    assert [r["r"] for r in got] == [{"a": 10, "c": 1}, {"a": 20, "c": 2},
                                     {"a": 30, "c": 3}]
    with pytest.raises(ValueError, match="no document 'q'"):
        apply_pipeline(df, [{"$set": {"q.c": 1}}])
    with pytest.raises(ValueError, match="conflicting output paths"):
        apply_pipeline(df, [{"$addFields": {"r": 1, "r.c": 2}}])


def test_set_window_fields_dotted_output_writes_nested_field(spark):
    cols, got = _columns_and_rows(_nested_docs(spark), {"$setWindowFields": {
        "sortBy": {"k": 1}, "output": {"r.b": {"$locf": "$r.b"}}}})
    assert cols == ["k", "r"]
    assert [r["r"] for r in got] == [
        {"a": 10, "b": "a"}, {"a": 20, "b": "a"}, {"a": 30, "b": "a"}]


def test_fill_dotted_output_writes_nested_field(spark):
    """$fill method and value outputs with dotted names write the nested
    field (a method output used to do nothing), and a value output for a
    field the stream lacks is added, as Mongo does."""
    df = _nested_docs(spark)
    cols, got = _columns_and_rows(df, {"$fill": {
        "sortBy": {"k": 1}, "output": {"r.b": {"method": "locf"}}}})
    assert cols == ["k", "r"]
    assert [r["r"]["b"] for r in got] == ["a", "a", "a"]

    cols, got = _columns_and_rows(df, {"$fill": {
        "output": {"r.b": {"value": "z"}, "n": {"value": 0}}}})
    assert cols == ["k", "r", "n"]
    assert [(r["r"]["b"], r["n"]) for r in got] == [("a", 0), ("z", 0), ("z", 0)]


def test_pipeline_out_and_merge(spark, tmp_path):
    import topic_store_spark as ts
    from topic_store_spark.query.pipeline import apply_pipeline

    src = ts.load(str(tmp_path / "src.parquet"), spark)
    for i in range(4):
        src.insert_one({"n": i})

    # $out replaces the target collection with the pipeline result
    out_path = str(tmp_path / "out.parquet")
    ts.load(out_path, spark).insert_one({"stale": True})
    apply_pipeline(src.to_df(), [{"$match": {"n": {"$gte": 2}}}, {"$out": out_path}])
    rows = ts.load(out_path, spark).find().collect()
    assert sorted(r["n"] for r in rows) == [2, 3]
    assert "stale" not in rows[0].asDict()

    # $merge keeps existing docs, inserts only new _ids
    merge_path = str(tmp_path / "merge.parquet")
    apply_pipeline(src.to_df(), [{"$merge": {"into": merge_path}}])
    apply_pipeline(src.to_df(), [{"$merge": {"into": merge_path}}])  # idempotent
    assert ts.load(merge_path, spark).count() == 4

    # $out to a FRESH collection creates it (Mongo $out semantics) and
    # leaves no orphaned tmp/old staging directories behind
    fresh_path = str(tmp_path / "fresh.parquet")
    apply_pipeline(src.to_df(), [{"$match": {"n": {"$lt": 2}}}, {"$out": fresh_path}])
    rows = ts.load(fresh_path, spark).find().collect()
    assert sorted(r["n"] for r in rows) == [0, 1]
    leftovers = [p for p in tmp_path.iterdir() if ".tmp-" in p.name or ".old-" in p.name]
    assert leftovers == []


def test_pipeline_merge_mode_matrix(spark, tmp_path):
    """$merge whenMatched/whenNotMatched modes against a parquet store:
    merge coalesces fields, replace swaps whole docs, keepExisting and
    discard leave rows alone, fail raises."""
    import topic_store_spark as ts
    from topic_store_spark.query.pipeline import apply_pipeline

    path = str(tmp_path / "m.parquet")
    store = ts.load(path, spark)
    a, b = store.insert_one({"k": 1, "v": "old", "keep": "x"}), store.insert_one(
        {"k": 2, "v": "old2", "keep": "y"}
    )

    def df_for(rows):
        return spark.createDataFrame(rows, "k long, v string, extra string")

    # whenMatched=merge (default): matched doc's fields coalesce, new
    # column appears, untouched column survives
    apply_pipeline(
        df_for([(1, "new", "E"), (3, "ins", None)]),
        [{"$merge": {"into": path, "on": "k"}}],
    )
    rows = {r["k"]: r for r in ts.load(path, spark).find().collect()}
    assert rows[1]["v"] == "new" and rows[1]["keep"] == "x" and rows[1]["extra"] == "E"
    assert rows[2]["v"] == "old2" and rows[3]["v"] == "ins"

    # whenMatched=replace: whole-document replacement (keep drops to null)
    apply_pipeline(
        df_for([(2, "swapped", None)]),
        [{"$merge": {"into": path, "on": "k", "whenMatched": "replace",
                     "whenNotMatched": "discard"}}],
    )
    rows = {r["k"]: r for r in ts.load(path, spark).find().collect()}
    assert rows[2]["v"] == "swapped" and rows[2]["keep"] is None
    assert sorted(rows) == [1, 2, 3]  # discard: no inserts

    # keepExisting + insert: only new keys land
    apply_pipeline(
        df_for([(1, "IGNORED", None), (9, "nine", None)]),
        [{"$merge": {"into": path, "on": "k", "whenMatched": "keepExisting"}}],
    )
    rows = {r["k"]: r for r in ts.load(path, spark).find().collect()}
    assert rows[1]["v"] == "new" and rows[9]["v"] == "nine"

    # fail modes raise without touching the store
    with pytest.raises(ValueError, match="whenMatched=fail"):
        apply_pipeline(
            df_for([(1, "boom", None)]),
            [{"$merge": {"into": path, "on": "k", "whenMatched": "fail"}}],
        )
    with pytest.raises(ValueError, match="whenNotMatched=fail"):
        apply_pipeline(
            df_for([(77, "boom", None)]),
            [{"$merge": {"into": path, "on": "k", "whenNotMatched": "fail"}}],
        )
    assert ts.load(path, spark).count() == 4

    # edge matrix: empty target honors whenNotMatched=fail (no silent
    # insert), and a missing "on" key raises instead of blind-appending
    empty_path = str(tmp_path / "empty.parquet")
    ts.load(empty_path, spark)
    with pytest.raises(ValueError, match="whenNotMatched=fail"):
        apply_pipeline(
            df_for([(1, "x", None)]),
            [{"$merge": {"into": empty_path, "on": "k", "whenNotMatched": "fail"}}],
        )
    with pytest.raises(ValueError, match="missing from incoming"):
        apply_pipeline(
            df_for([(1, "x", None)]),
            [{"$merge": {"into": path, "on": "nope"}}],
        )
    with pytest.raises(ValueError, match="missing from target"):
        apply_pipeline(
            spark.createDataFrame([(1, "x")], "other long, v string"),
            [{"$merge": {"into": path, "on": "other"}}],
        )
    assert ts.load(path, spark).count() == 4  # store untouched by the raises


def test_pipeline_unset_and_replace_root(spark):
    df = spark.createDataFrame([(1, 2, "x")], "a int, b int, c string")
    out = apply_pipeline(df, [{"$unset": ["b", "c"]}])
    assert out.columns == ["a"]

    out = apply_pipeline(
        df,
        [
            {"$addFields": {"doc": {"aa": "$a", "bb": {"$add": ["$a", "$b"]}}}},
            {"$replaceRoot": {"newRoot": "$doc"}},
        ],
    )
    assert out.columns == ["aa", "bb"]
    assert out.first().asDict() == {"aa": 1, "bb": 3}


def test_pipeline_sample_deterministic(orders):
    pipe = [
        {"$project": {"_id": "$o_orderkey", "total": "$o_totalprice"}},
        {"$sample": {"size": 7}},
    ]
    a = [r["_id"] for r in apply_pipeline(orders, pipe).collect()]
    b = [r["_id"] for r in apply_pipeline(orders, pipe).collect()]
    assert len(a) == 7 and a == b  # reproducible pseudo-random sample


def test_pipeline_set_window_fields(spark):
    df = spark.createDataFrame(
        [("u1", 1, 10.0), ("u1", 2, 20.0), ("u1", 3, 5.0), ("u2", 1, 7.0)],
        "uid string, seq int, v double",
    )
    out = apply_pipeline(
        df,
        [
            {
                "$setWindowFields": {
                    "partitionBy": "$uid",
                    "sortBy": {"seq": 1},
                    "output": {
                        "n": {"$documentNumber": {}},
                        "running": {
                            "$sum": "$v",
                            "window": {"documents": ["unbounded", "current"]},
                        },
                        "prev": {"$shift": {"output": "$v", "by": -1, "default": -1.0}},
                        "part_total": {"$sum": "$v"},
                    },
                }
            }
        ],
    )
    rows = {(r["uid"], r["seq"]): r for r in out.collect()}
    assert rows[("u1", 2)]["n"] == 2
    assert rows[("u1", 3)]["running"] == 35.0
    assert rows[("u1", 1)]["prev"] == -1.0
    assert rows[("u1", 2)]["prev"] == 10.0
    # no window + sortBy present -> Mongo default [unbounded, current]
    assert rows[("u1", 3)]["part_total"] == 35.0
    assert rows[("u2", 1)]["part_total"] == 7.0


def test_pipeline_window_statistics_and_ema(spark):
    """$stdDevPop/$stdDevSamp (group + window), $covariancePop/Samp
    (window) and $expMovingAvg (recursive fold over the running frame)
    against hand-computed values."""
    import math

    import pytest as pt

    df = spark.createDataFrame(
        [("u1", 1, 2.0), ("u1", 2, 4.0), ("u1", 3, 6.0), ("u1", 4, 16.0),
         ("u2", 1, 5.0)],
        "uid string, seq int, v double",
    )
    out = apply_pipeline(
        df,
        [
            {
                "$setWindowFields": {
                    "partitionBy": "$uid",
                    "sortBy": {"seq": 1},
                    "output": {
                        "sd": {"$stdDevPop": "$v",
                               "window": {"documents": ["unbounded", "unbounded"]}},
                        "cv": {"$covariancePop": ["$seq", "$v"],
                               "window": {"documents": ["unbounded", "current"]}},
                        "ema": {"$expMovingAvg": {"input": "$v", "N": 3}},
                    },
                }
            }
        ],
    )
    rows = {(r["uid"], r["seq"]): r for r in out.collect()}
    vals = [2.0, 4.0, 6.0, 16.0]
    mean = sum(vals) / 4
    assert rows[("u1", 1)]["sd"] == pt.approx(
        math.sqrt(sum((x - mean) ** 2 for x in vals) / 4)
    )
    assert rows[("u2", 1)]["sd"] == 0.0  # population stddev of one value
    # covariance over the first two rows of u1: E[xy]-E[x]E[y]
    assert rows[("u1", 2)]["cv"] == pt.approx(
        ((1 * 2.0 + 2 * 4.0) / 2) - (1.5 * 3.0)
    )
    # EMA with N=3 -> alpha=0.5: 2, 3, 4.5, 10.25
    assert rows[("u1", 3)]["ema"] == pt.approx(4.5)
    assert rows[("u1", 4)]["ema"] == pt.approx(10.25)

    # group-side stdDev accumulators
    g = apply_pipeline(
        df,
        [{"$group": {"_id": "$uid", "sd": {"$stdDevSamp": "$v"}}}],
    )
    got = {r["_id"]: r["sd"] for r in g.collect()}
    assert got["u1"] == pt.approx(
        math.sqrt(sum((x - mean) ** 2 for x in vals) / 3)
    )
    assert got["u2"] is None  # sample stddev of one value


def test_pipeline_median_percentile(spark):
    """$median/$percentile (group + window): the dialect computes EXACT
    continuous percentiles (Mongo's 'approximate' method is accepted and
    ignored — exactness is never less accurate)."""
    import pytest as pt

    df = spark.createDataFrame(
        [("g", float(v)) for v in (1, 2, 3, 4, 10)], "k string, v double"
    )
    g = apply_pipeline(
        df,
        [{"$group": {
            "_id": "$k",
            "med": {"$median": {"input": "$v", "method": "approximate"}},
            "pct": {"$percentile": {"input": "$v", "p": [0.5, 1.0],
                                    "method": "approximate"}},
        }}],
    )
    row = g.first()
    assert row["med"] == pt.approx(3.0)
    assert row["pct"][0] == pt.approx(3.0) and row["pct"][1] == pt.approx(10.0)
    w = apply_pipeline(
        df,
        [{"$setWindowFields": {
            "sortBy": {"v": 1},
            "output": {"runmed": {
                "$median": {"input": "$v", "method": "approximate"},
                "window": {"documents": ["unbounded", "current"]},
            }},
        }}],
    )
    meds = [r["runmed"] for r in w.orderBy("v").collect()]
    assert meds == pt.approx([1.0, 1.5, 2.0, 2.5, 3.0])


def test_pipeline_window_derivative_integral(spark):
    """Hand-computed $derivative/$integral corners: unit scaling over a
    timestamp sortBy, and the trapezoid edge exclusion at frame starts."""
    import datetime as dt

    import pytest as pt

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("a", base, 0.0), ("a", base + dt.timedelta(hours=1), 10.0),
         ("a", base + dt.timedelta(hours=3), 30.0)],
        "k string, ts timestamp, v double",
    )
    out = apply_pipeline(
        df,
        [
            {
                "$setWindowFields": {
                    "partitionBy": "$k",
                    "sortBy": {"ts": 1},
                    "output": {
                        "dv": {"$derivative": {"input": "$v", "unit": "hour"},
                               "window": {"documents": ["unbounded", "current"]}},
                        "ig": {"$integral": {"input": "$v", "unit": "hour"},
                               "window": {"documents": ["unbounded", "current"]}},
                    },
                }
            }
        ],
    )
    rows = sorted(out.collect(), key=lambda r: r["ts"])
    assert rows[0]["dv"] is None  # zero span
    assert rows[1]["dv"] == pt.approx(10.0)  # 10 units per hour
    assert rows[2]["dv"] == pt.approx(10.0)  # (30-0)/3h
    assert rows[0]["ig"] == 0.0
    assert rows[1]["ig"] == pt.approx(5.0)   # trapezoid (0+10)/2 * 1h
    assert rows[2]["ig"] == pt.approx(45.0)  # + (10+30)/2 * 2h


def test_pipeline_facet(events):
    out = apply_pipeline(
        events,
        [
            {
                "$facet": {
                    "by_type": [{"$sortByCount": "$event_type"}],
                    "high": [
                        {"$match": {"value": {"$gt": 400.0}}},
                        {"$count": "n"},
                    ],
                }
            },
            {
                "$project": {
                    "n_types": {"$size": "$by_type"},
                    "n_high": {"$arrayElemAt": ["$high.n", 0]},
                }
            },
        ],
    ).first()
    n_types = events.select("event_type").distinct().count()
    n_high = events.filter(F.col("value") > 400.0).count()
    # Mongo $count over an empty facet branch emits NO document (r11
    # fix), so $arrayElemAt over the empty array is null, not 0
    assert (out["n_types"], out["n_high"]) == (
        n_types, n_high if n_high else None
    )


def test_pipeline_facet_preserves_subpipeline_order(spark):
    """Mongo guarantees each facet array is in its sub-pipeline's output
    order — a $sortByCount branch must come back count-desc (then _id
    asc), not in collect_list's physical order or struct-sort order."""
    rows = [(i, "t%d" % (i % 3)) for i in range(30)] + [(100, "t1"), (101, "t1")]
    df = spark.createDataFrame(rows, "k long, t string").repartition(8)
    out = apply_pipeline(
        df,
        [{"$facet": {"by_t": [{"$sortByCount": "$t"}],
                     "sorted_k": [{"$sort": {"k": -1}}, {"$limit": 3}]}}],
    ).first()
    by_t = [(r["_id"], r["count"]) for r in out["by_t"]]
    assert by_t == [("t1", 12), ("t0", 10), ("t2", 10)]
    assert [r["k"] for r in out["sorted_k"]] == [101, 100, 29]


def test_pipeline_graph_lookup_ancestors(spark):
    # chain 1 <- 2 <- 4 <- 8 with a self-loop at the root (cycle guard)
    base = spark.createDataFrame(
        [(1, 1), (2, 1), (4, 2), (8, 4), (9, 4)], "doc_id long, parent long"
    )
    for tier in GRAPH_LOOKUP_TIERS:
        with graph_lookup_tier(tier):
            out = apply_pipeline(
                base,
                [
                    {
                        "$graphLookup": {
                            "from": "base",
                            "startWith": "$parent",
                            "connectFromField": "parent",
                            "connectToField": "doc_id",
                            "as": "ancestry",
                            "maxDepth": 10,
                            "depthField": "d",
                        }
                    }
                ],
                tables={"base": base},
            )
            rows = {r["doc_id"]: r["ancestry"] for r in out.collect()}
            assert [(a["doc_id"], a["d"]) for a in rows[8]] == [(1, 2), (2, 1), (4, 0)]
            # self-loop terminates: root's only ancestor is itself at depth 0
            assert [(a["doc_id"], a["d"]) for a in rows[1]] == [(1, 0)]
            assert [(a["doc_id"], a["d"]) for a in rows[9]] == [(1, 2), (2, 1), (4, 0)]


def test_pipeline_graph_lookup_max_depth(spark):
    base = spark.createDataFrame(
        [(1, 1), (2, 1), (4, 2), (8, 4)], "doc_id long, parent long"
    )
    for tier in GRAPH_LOOKUP_TIERS:
        with graph_lookup_tier(tier):
            out = apply_pipeline(
                base,
                [
                    {
                        "$graphLookup": {
                            "from": "base",
                            "startWith": "$parent",
                            "connectFromField": "parent",
                            "connectToField": "doc_id",
                            "as": "anc",
                            "maxDepth": 0,
                        }
                    }
                ],
                tables={"base": base},
            )
            rows = {r["doc_id"]: [a["doc_id"] for a in r["anc"]] for r in out.collect()}
            assert rows[8] == [4]  # depth 0 only: the immediate parent


def test_pipeline_graph_lookup_skewed_fanout(spark):
    """r2 verdict item 5: a hub node with a large fan-out (skewed frontier)
    under a maxDepth bound — exercises the materialized-frontier iteration
    and the count-gated broadcast on a worst-case-shaped graph."""
    # hub (id 0) -> 200 children (1..200); each child -> 2 grandchildren
    # (203..602); a few great-grandchildren exist below the depth bound
    edges = (
        [(c, 0) for c in range(1, 201)]
        + [(200 + 2 * c + off, c) for c in range(1, 201) for off in (1, 2)]
        + [(1000 + g, g) for g in range(203, 208)]
    )
    base = spark.createDataFrame(edges, "doc_id long, parent long")
    starts = spark.createDataFrame([(0,)], "root long")
    for tier in GRAPH_LOOKUP_TIERS:
        with graph_lookup_tier(tier):
            out = apply_pipeline(
                starts,
                [
                    {
                        "$graphLookup": {
                            "from": "base",
                            "startWith": "$root",
                            "connectFromField": "doc_id",
                            "connectToField": "parent",
                            "as": "desc",
                            "maxDepth": 1,
                            "depthField": "d",
                        }
                    }
                ],
                tables={"base": base},
            )
            row = out.first()
            by_depth: dict[int, int] = {}
            for d in row["desc"]:
                by_depth[d["d"]] = by_depth.get(d["d"], 0) + 1
            # depth 0: the 200 direct children; depth 1: their 400 children;
            # maxDepth=1 stops there even though deeper edges exist
            assert by_depth == {0: 200, 1: 400}


def _graph_lookup_by_tier(src, spec, tables) -> dict:
    """(output schema, sorted row reprs) of one ``$graphLookup`` per
    tier; repr keeps NaN comparable and -0.0 apart from 0.0."""
    got = {}
    for tier in GRAPH_LOOKUP_TIERS:
        with graph_lookup_tier(tier):
            out = apply_pipeline(src, [{"$graphLookup": spec}], tables=tables)
            got[tier] = (
                out.schema,
                sorted(repr(r.asDict(recursive=True)) for r in out.collect()),
            )
    return got


def test_graph_lookup_tiers_same_schema_and_rows(spark):
    """Both tiers give the same rows and the same output schema,
    nullability included, with and without depthField (a new field and
    one overwriting an existing field), under restrictSearchWithMatch,
    and on nested and array columns."""
    base = spark.createDataFrame(
        [
            (1, 1, "a", (1.5, [1, 2]), [0.5]),
            (2, 1, "b", None, []),
            (4, 2, None, (None, None), None),
            (8, 4, "c", (2.0, [3]), [1.0, 2.0]),
        ],
        "doc_id long, parent long, tag string, "
        "pose struct<x: double, ids: array<int>>, scan array<double>",
    )
    base_spec = {
        "from": "base",
        "startWith": "$parent",
        "connectFromField": "parent",
        "connectToField": "doc_id",
        "as": "anc",
    }
    for extra in (
        {},
        {"depthField": "d", "maxDepth": 1},
        {"depthField": "tag"},  # overwrites a string field with the depth
        {"restrictSearchWithMatch": {"tag": {"$ne": "b"}}, "depthField": "d"},
    ):
        got = _graph_lookup_by_tier(base, {**base_spec, **extra}, {"base": base})
        assert got["local"] == got["distributed"], extra
    elem = got["local"][0]["anc"].dataType.elementType
    assert [f.name for f in elem.fields] == ["doc_id", "parent", "tag", "pose", "scan", "d"]


def test_graph_lookup_local_tier_bounds(spark, monkeypatch):
    """The local tier runs up to its bound K and the distributed tier
    past it, with the same answer, on each of the three things K bounds:
    the (key, next) edge rows at K-1, K and K+1, the start-key rows, and
    the (start, key) pairs the BFS reaches.  Null keys and null starts
    do not count."""
    import topic_store_spark.query.pipeline as pl

    # chain 6 -> 5 -> ... -> 1 -> 1 plus a row with a null key
    base = spark.createDataFrame(
        [(i, max(i - 1, 1)) for i in range(1, 7)] + [(None, 3)],
        "doc_id long, parent long",
    )
    spec = {
        "from": "base",
        "startWith": "$s",
        "connectFromField": "parent",
        "connectToField": "doc_id",
        "as": "anc",
        "depthField": "d",
    }
    distributed = []
    real = pl._graph_lookup_distributed
    monkeypatch.setattr(
        pl, "_graph_lookup_distributed", lambda *a: distributed.append(1) or real(*a)
    )

    def run(starts, k):
        src = spark.createDataFrame([(s,) for s in starts], "s long")
        distributed.clear()
        with monkeypatch.context() as m:
            m.setattr(pl, "_GL_LOCAL_MAX_ROWS", k)
            out = apply_pipeline(src, [{"$graphLookup": spec}], tables={"base": base})
            rows = sorted(repr(r.asDict(recursive=True)) for r in out.collect())
        return ("distributed" if distributed else "local"), rows

    # six non-null edge keys; start 2 reaches two keys
    tier, want = run([2, None], 100)
    assert tier == "local" and len(want) == 2
    assert run([2, None], 5) == ("distributed", want)
    assert run([2, None], 6) == ("local", want)
    assert run([2, None], 7) == ("local", want)
    # seven start rows (one distinct key) against the six edge rows
    tier, want = run([2] * 7, 100)
    assert run([2] * 7, 6) == ("distributed", want)
    assert run([2] * 7, 7) == ("local", want)
    # starts 2, 3 and 4 reach 2 + 3 + 4 = 9 (start, key) pairs
    tier, want = run([2, 3, 4], 100)
    assert run([2, 3, 4], 8) == ("distributed", want)
    assert run([2, 3, 4], 9) == ("local", want)


def test_graph_lookup_driver_fetches_keys_only(spark, monkeypatch):
    """The local tier's driver probes fetch the scalar start, key and
    next columns only: documents far wider than the keys (a 64 KiB blob
    each) stay in Spark on both tiers, and the answers agree."""
    blob = bytes(range(256)) * 256
    nodes = spark.createDataFrame(
        [(i, max(i - 1, 1), blob) for i in range(1, 9)],
        "id long, parent long, img binary",
    )
    starts = spark.createDataFrame([(8,), (3,)], "s long")
    spec = {
        "from": "nodes",
        "startWith": "$s",
        "connectFromField": "parent",
        "connectToField": "id",
        "as": "r",
    }
    fetched = []
    frame = type(starts)
    real = frame.toArrow
    monkeypatch.setattr(
        frame, "toArrow", lambda self: fetched.append(self.columns) or real(self)
    )
    got = {}
    for tier in GRAPH_LOOKUP_TIERS:
        with graph_lookup_tier(tier):
            out = apply_pipeline(starts, [{"$graphLookup": spec}], tables={"nodes": nodes})
        got[tier] = {
            r["s"]: [(e["id"], e["img"] == blob) for e in r["r"]]
            for r in out.collect()
        }
    assert got["local"] == got["distributed"]
    assert got["local"][3] == [(1, True), (2, True), (3, True)]
    assert fetched == [["_gl_start"], ["_gl_key", "_gl_next"], ["_gl_start"]]


def test_graph_lookup_numeric_key_mixing_nan_and_negative_zero(spark):
    """Keys compare as in Spark's join on both tiers: a double start
    matches a long key (3.0 finds 3), NaN matches NaN, -0.0 matches
    0.0, and the reached documents show -0.0 as 0.0 (grouping
    normalizes it)."""
    nodes = spark.createDataFrame([(3, 2), (2, 1), (1, None)], "k long, nxt long")
    starts = spark.createDataFrame(
        [(0, 3.0), (1, 2.5), (2, 1.0)], "sid long, s double"
    )
    spec = {
        "from": "nodes",
        "startWith": "$s",
        "connectFromField": "nxt",
        "connectToField": "k",
        "as": "r",
    }
    got = _graph_lookup_by_tier(starts, spec, {"nodes": nodes})
    assert got["local"] == got["distributed"]
    for tier in GRAPH_LOOKUP_TIERS:
        with graph_lookup_tier(tier):
            out = apply_pipeline(starts, [{"$graphLookup": spec}], tables={"nodes": nodes})
            rows = {r["sid"]: [e["k"] for e in r["r"]] for r in out.collect()}
        assert rows == {0: [1, 2, 3], 1: [], 2: [1]}, tier

    nan = float("nan")
    fnodes = spark.createDataFrame(
        [(nan, -0.0, "a"), (0.0, None, "b"), (1.0, nan, "c")],
        "k double, nxt double, tag string",
    )
    fstarts = spark.createDataFrame(
        [(0, nan), (1, -0.0), (2, 1.0), (3, 0.0)], "sid long, s double"
    )
    fspec = {**spec, "from": "fnodes", "depthField": "d"}
    got = _graph_lookup_by_tier(fstarts, fspec, {"fnodes": fnodes})
    assert got["local"] == got["distributed"]
    with graph_lookup_tier("local"):
        out = apply_pipeline(fstarts, [{"$graphLookup": fspec}], tables={"fnodes": fnodes})
        rows = {
            r["sid"]: [(e["tag"], repr(e["nxt"]), e["d"]) for e in r["r"]]
            for r in out.collect()
        }
    assert rows == {
        0: [("b", "None", 1), ("a", "0.0", 0)],
        1: [("b", "None", 0)],
        2: [("b", "None", 2), ("c", "nan", 0), ("a", "0.0", 1)],
        3: [("b", "None", 0)],
    }


def test_graph_lookup_null_and_duplicate_starts_duplicate_docs(spark):
    """Null starts reach nothing, duplicate starts share one traversal,
    identical foreign documents collapse to one, and a depthField named
    like an existing field replaces it in place with the depth."""
    nodes = spark.createDataFrame(
        [(1, 1, "x"), (2, 1, "y"), (2, 1, "y"), (3, 2, "z")],
        "id long, parent long, d string",
    )
    starts = spark.createDataFrame(
        [(0, 3), (1, 3), (2, None), (3, 7)], "sid long, s long"
    )
    spec = {
        "from": "nodes",
        "startWith": "$s",
        "connectFromField": "parent",
        "connectToField": "id",
        "as": "r",
        "depthField": "d",
    }
    got = _graph_lookup_by_tier(starts, spec, {"nodes": nodes})
    assert got["local"] == got["distributed"]
    elem = got["local"][0]["r"].dataType.elementType
    assert [(f.name, f.dataType.simpleString()) for f in elem.fields] == [
        ("id", "bigint"), ("parent", "bigint"), ("d", "int"),
    ]
    with graph_lookup_tier("local"):
        out = apply_pipeline(starts, [{"$graphLookup": spec}], tables={"nodes": nodes})
        rows = {r["sid"]: [tuple(e) for e in r["r"]] for r in out.collect()}
    chain = [(1, 1, 2), (2, 1, 1), (3, 2, 0)]
    assert rows == {0: chain, 1: chain, 2: [], 3: []}


def test_graph_lookup_local_tier_job_count(spark):
    """The local tier launches two jobs while the pipeline is built (the
    start probe and the edge probe), whatever the depth; the distributed
    tier takes one job per depth level here (21).  The action runs at
    most five: the local relation's broadcast, the shared tail's one
    exchange, the input side's exchange, the broadcast of the grouped
    arrays that AQE picks at runtime, and the result stage."""
    base = spark.createDataFrame(
        [(i, max(i - 1, 1)) for i in range(1, 40)], "doc_id long, parent long"
    )
    spec = {
        "from": "base",
        "startWith": "$parent",
        "connectFromField": "parent",
        "connectToField": "doc_id",
        "as": "anc",
    }
    built = []
    build = spark_job_ids(
        spark,
        lambda: built.append(
            apply_pipeline(base, [{"$graphLookup": spec}], tables={"base": base})
        ),
    )
    assert len(build) == 2
    rows = []
    assert len(spark_job_ids(spark, lambda: rows.extend(built[0].collect()))) <= 5
    assert "LocalTableScan" in built[0]._jdf.queryExecution().executedPlan().toString()
    # maxDepth defaults to 20: 39 reaches 38 down to 18
    assert {r["doc_id"]: len(r["anc"]) for r in rows}[39] == 21


def test_pipeline_fill_locf_linear_value(spark):
    df = spark.createDataFrame(
        [
            ("u1", 0, 10.0, None),
            ("u1", 2, None, None),
            ("u1", 4, None, "x"),
            ("u1", 6, 40.0, None),
            ("u1", 8, None, None),
            ("u2", 0, None, None),
        ],
        "uid string, k long, v double, s string",
    )
    out = apply_pipeline(
        df,
        [
            {
                "$fill": {
                    "partitionBy": "$uid",
                    "sortBy": {"k": 1},
                    "output": {
                        "v": {"method": "linear"},
                        "s": {"value": "missing"},
                    },
                }
            }
        ],
    )
    rows = {(r["uid"], r["k"]): r for r in out.collect()}
    # linear: 10 at k=0, 40 at k=6 -> 20 at k=2, 30 at k=4
    assert rows[("u1", 2)]["v"] == 20.0 and rows[("u1", 4)]["v"] == 30.0
    assert rows[("u1", 8)]["v"] is None  # no extrapolation past last known
    assert rows[("u2", 0)]["v"] is None  # partition with no known values
    assert rows[("u1", 2)]["s"] == "missing" and rows[("u1", 4)]["s"] == "x"

    locf = apply_pipeline(
        df,
        [
            {
                "$fill": {
                    "partitionBy": "$uid",
                    "sortBy": {"k": 1},
                    "output": {"v": {"method": "locf"}},
                }
            }
        ],
    )
    rows = {(r["uid"], r["k"]): r["v"] for r in locf.collect()}
    assert rows[("u1", 4)] == 10.0 and rows[("u1", 8)] == 40.0


def test_pipeline_densify(spark):
    df = spark.createDataFrame(
        [("a", 0, 5), ("a", 6, 7), ("b", 2, 9)], "g string, k long, v long"
    )
    # full bounds: global [0, 6] step 2 -> grid {0,2,4,6} per partition
    out = apply_pipeline(
        df,
        [
            {
                "$densify": {
                    "field": "k",
                    "partitionByFields": ["g"],
                    "range": {"step": 2, "bounds": "full"},
                }
            }
        ],
    )
    rows = {(r["g"], r["k"]): r["v"] for r in out.collect()}
    assert len(rows) == 8  # 4 grid values x 2 partitions
    assert rows[("a", 0)] == 5 and rows[("a", 6)] == 7  # originals kept
    assert rows[("a", 2)] is None and rows[("b", 6)] is None  # filler docs

    # explicit [lo, hi) bounds without partitions
    out2 = apply_pipeline(
        df.select("k", "v"),
        [{"$densify": {"field": "k", "range": {"step": 3, "bounds": [0, 9]}}}],
    )
    ks = sorted(r["k"] for r in out2.collect())
    assert ks == [0, 2, 3, 6]  # originals 0,2,6 + grid-filler 3 (0,6 exist)


def test_type_operator(spark):
    """$type by alias, numeric code, list, null alias, and objectId shape
    (F8 family: ObjectIds here are 24-hex strings)."""
    df = spark.createDataFrame(
        [
            (1, 2.5, "abc", None, "6a7e30e5a1c86c35087238e4"),
            (2, None, "xyz", [1, 2], "not-an-oid"),
        ],
        "k long, d double, s string, arr array<int>, oid string",
    )
    def n(q):
        return df.filter(compile_query(q, df.schema)).count()

    assert n({"k": {"$type": "long"}}) == 2
    assert n({"k": {"$type": 18}}) == 2          # numeric BSON code
    assert n({"k": {"$type": "int"}}) == 0       # bigint is not int32
    assert n({"k": {"$type": "number"}}) == 2
    assert n({"d": {"$type": "double"}}) == 1    # null d doesn't match
    assert n({"d": {"$type": "null"}}) == 1
    assert n({"d": {"$type": ["double", "null"]}}) == 2
    assert n({"arr": {"$type": "array"}}) == 1
    assert n({"s": {"$type": "string"}}) == 2
    assert n({"oid": {"$type": "objectId"}}) == 1  # 24-hex shape only
    with pytest.raises(ValueError):
        n({"k": {"$type": "javascriptWithScope"}})
    with pytest.raises(ValueError):
        n({"k": {"$type": 99}})


def test_expr_elemmatch_all(spark):
    """$expr (aggregation expression in a find filter), $elemMatch
    (operator-doc and query-doc forms), and $all."""
    df = spark.createDataFrame(
        [
            (1, 10, 4, [1, 5, 9], [(2, "a"), (7, "b")]),
            (2, 3, 8, [2, 3], [(1, "a")]),
            (3, 6, 6, [], []),
        ],
        "k long, x long, y long, xs array<long>, "
        "objs array<struct<n:long, tag:string>>",
    )
    def keys(q):
        return sorted(r["k"] for r in df.filter(compile_query(q, df.schema)).collect())

    assert keys({"$expr": {"$gt": ["$x", "$y"]}}) == [1]
    assert keys({"$expr": {"$eq": ["$x", "$y"]}}) == [3]
    assert keys({"xs": {"$elemMatch": {"$gte": 5, "$lt": 9}}}) == [1]
    assert keys({"objs": {"$elemMatch": {"n": {"$gt": 5}, "tag": "b"}}}) == [1]
    assert keys({"objs": {"$elemMatch": {"tag": "a"}}}) == [1, 2]
    assert keys({"xs": {"$all": [1, 9]}}) == [1]
    assert keys({"xs": {"$all": [2]}}) == [2]
    assert keys({"xs": {"$all": []}}) == []  # Mongo: empty $all matches nothing


def test_pipeline_union_with(spark):
    a = spark.createDataFrame([(1, "x")], "id long, v string")
    b = spark.createDataFrame([(2, "y", 9.5)], "id long, v string, extra double")
    out = apply_pipeline(
        a, [{"$unionWith": {"coll": "b", "pipeline": [{"$match": {"id": {"$gte": 0}}}]}}],
        tables={"b": b},
    )
    rows = {r["id"]: (r["v"], r["extra"]) for r in out.collect()}
    assert rows == {1: ("x", None), 2: ("y", 9.5)}  # null-filled missing col
    with pytest.raises(ValueError):
        apply_pipeline(a, [{"$unionWith": "missing"}], tables={"b": b})


def test_pipeline_bucket_auto(spark):
    """$bucketAuto: ~equal-count buckets, Mongo {min,max} _id chaining
    (max of bucket k = min of bucket k+1; global max last)."""
    df = spark.createDataFrame([(i, float(i)) for i in range(12)], "k long, v double")
    out = apply_pipeline(
        df,
        [{"$bucketAuto": {"groupBy": "$v", "buckets": 3,
                          "output": {"count": {"$sum": 1}, "vmax": {"$max": "$v"}}}}],
    ).collect()
    assert len(out) == 3
    assert [r["count"] for r in out] == [4, 4, 4]
    # boundary chaining: each bucket's _id.max is the next bucket's _id.min
    for cur, nxt in zip(out, out[1:]):
        assert cur["_id"]["max"] == nxt["_id"]["min"]
    assert out[0]["_id"]["min"] == 0.0 and out[-1]["_id"]["max"] == 11.0
    assert out[-1]["vmax"] == 11.0


def test_value_expression_hof_and_scalars(spark):
    """Array higher-order ops ($filter/$map/$reduce with $$var bindings),
    set ops, boolean exprs, casts, and math scalars in the expression
    language."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, [1, 2, 3, 4], [3, 4, 5], 2.7)], "k long, xs array<long>, ys array<long>, v double"
    )
    out = apply_pipeline(
        df,
        [
            {
                "$project": {
                    "k": 1,
                    "evens": {"$filter": {"input": "$xs", "as": "x",
                                          "cond": {"$eq": [{"$mod": ["$$x", 2]}, 0]}}},
                    "doubled": {"$map": {"input": "$xs", "as": "x",
                                         "in": {"$multiply": ["$$x", 2]}}},
                    "total": {"$reduce": {"input": "$xs", "initialValue": 0,
                                          "in": {"$add": ["$$value", "$$this"]}}},
                    "union": {"$setUnion": ["$xs", "$ys"]},
                    "common": {"$setIntersection": ["$xs", "$ys"]},
                    "only_xs": {"$setDifference": ["$xs", "$ys"]},
                    "has3": {"$in": [3, "$xs"]},
                    "both": {"$and": [{"$gt": ["$v", 2]}, {"$lt": ["$v", 3]}]},
                    "neg": {"$not": {"$gt": ["$v", 2]}},
                    "rooted": {"$sqrt": {"$pow": ["$v", 2]}},
                    "lo": {"$min": ["$v", 1.5]},
                    "s": {"$substrCP": [{"$toString": "$k"}, 0, 1]},
                    "trunc1": {"$trunc": ["$v", 1]},
                }
            }
        ],
    ).first()
    assert out["evens"] == [2, 4]
    assert out["doubled"] == [2, 4, 6, 8]
    assert out["total"] == 10
    assert sorted(out["union"]) == [1, 2, 3, 4, 5]
    assert sorted(out["common"]) == [3, 4]
    assert sorted(out["only_xs"]) == [1, 2]
    assert out["has3"] is True and out["both"] is True and out["neg"] is False
    assert abs(out["rooted"] - 2.7) < 1e-9
    assert out["lo"] == 1.5 and out["s"] == "1"
    assert abs(out["trunc1"] - 2.7) < 1e-9

    with pytest.raises(ValueError, match="unbound"):
        apply_pipeline(df, [{"$project": {"bad": {"$add": ["$$nope", 1]}}}])


def test_group_accumulator_null_semantics(spark):
    """Mongo: $sum over a group with nothing numeric is 0 (never null);
    $push/$addToSet KEEP null elements (SQL collect_list/set drop them)."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, None), (1, None), (2, 3), (2, None), (3, 5)], "g long, x long"
    )
    out = {
        r["_id"]: r
        for r in apply_pipeline(
            df,
            [
                {"$group": {
                    "_id": "$g",
                    "s": {"$sum": "$x"},
                    "p": {"$push": "$x"},
                    "a": {"$addToSet": "$x"},
                }},
            ],
        ).collect()
    }
    assert out[1]["s"] == 0 and out[1]["p"] == [None, None]
    assert out[1]["a"] == [None]
    assert out[2]["s"] == 3 and sorted(out[2]["p"], key=lambda v: (v is None, v)) == [3, None]
    assert out[3]["s"] == 5 and out[3]["p"] == [5]


def test_missing_field_refs_resolve_to_null(spark):
    """Mongo: referencing a field absent from the stream yields missing
    (null) — computed projections, group keys and $expr must not fail
    analysis on unknown paths."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame([(1, 2), (2, None)], "n long, a long")
    rows = apply_pipeline(
        df,
        [{"$project": {"n": 1, "t": {"$add": ["$nope", 1]}, "u": "$ghost.x"}}],
    ).collect()
    assert all(r["t"] is None and r["u"] is None for r in rows)
    grouped = apply_pipeline(
        df, [{"$group": {"_id": "$ghost", "s": {"$sum": "$a"}, "c": {"$sum": 1}}}]
    ).collect()
    assert len(grouped) == 1
    assert grouped[0]["_id"] is None and grouped[0]["s"] == 2
    assert apply_pipeline(
        df, [{"$match": {"$expr": {"$eq": ["$ghost", None]}}}]
    ).count() == 2


def test_java_group_count_java_only_syntax():
    """Group counting must follow java.util.regex, not Python re: Java
    possessive quantifiers would raise re.error at compile time, and
    Java named groups (?<name>...) ARE capturing while lookbehinds are
    not (r6 advisor find)."""
    from topic_store_spark.query.pipeline import _java_group_count

    assert _java_group_count("a*+(b)") == 1       # possessive: re.error in Python
    assert _java_group_count("(?<name>x)(y)") == 2  # Java named group captures
    assert _java_group_count("(?<=x)(y)") == 1    # lookbehind does not
    assert _java_group_count("(?<!x)(y)") == 1
    assert _java_group_count(r"\Q(\E(a)") == 1    # quoted ( is literal
    assert _java_group_count(r"\((a)[(](b)") == 2  # escaped / in-class (
    assert _java_group_count("(?:a)(b(c))") == 2


def test_regex_find_possessive_quantifier(spark):
    """A Java-only pattern must compile and run (Python re rejects it)."""
    df = spark.createDataFrame([("aab",)], "s string")
    row = apply_pipeline(
        df,
        [{"$project": {"m": {"$regexFind": {"input": "$s", "regex": "a*+(b)"}}}}],
    ).collect()[0]
    assert row["m"]["match"] == "aab" and row["m"]["captures"] == ["b"]


def test_object_to_array_mixed_string_array_doc(spark):
    """Inline doc mixing string and array field types takes the
    documented stringify fallback instead of failing analysis
    (r6 advisor find: _truthy_kind lumped both into 'always')."""
    df = spark.createDataFrame([(1,)], "n long")
    row = apply_pipeline(
        df,
        [{"$project": {"kv": {"$objectToArray": {"a": "x", "b": [1, 2]}}}}],
    ).collect()[0]
    assert [e["k"] for e in row["kv"]] == ["a", "b"]
    assert row["kv"][0]["v"] == "x"  # stringified, analysis survives


def test_strcasecmp_null_and_index_of_cp_range(spark):
    """Mongo: strcasecmp coerces null to "" (so null vs 'x' is -1);
    $indexOfCP requires the match FULLY inside [start, end)."""
    df = spark.createDataFrame([(None, "x")], "a string, b string")
    row = apply_pipeline(
        df,
        [{"$project": {
            "c1": {"$strcasecmp": ["$a", "$b"]},
            "c2": {"$strcasecmp": ["$b", "$a"]},
            "i1": {"$indexOfCP": ["abcde", "cd", 0, 4]},
            "i2": {"$indexOfCP": ["abcde", "cd", 0, 3]},
        }}],
    ).collect()[0]
    assert row["c1"] == -1 and row["c2"] == 1
    assert row["i1"] == 2 and row["i2"] == -1


def test_group_firstn_lastn_and_convert_edges(spark):
    """$firstN/$lastN keep null elements in document order (single
    partition + presorted input makes it deterministic); $toObjectId
    yields null on invalid input; $convert casts onError/onNull
    replacements to the target type."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, 10, "a"), (1, None, "b"), (1, 30, "c"), (1, 40, "d")],
        "g long, x long, s string",
    ).coalesce(1).sortWithinPartitions("s")
    row = apply_pipeline(
        df,
        [{"$group": {
            "_id": "$g",
            "f2": {"$firstN": {"input": "$x", "n": 2}},
            "l2": {"$lastN": {"input": "$x", "n": 2}},
        }}],
    ).collect()[0]
    assert row["f2"] == [10, None] and row["l2"] == [30, 40]

    row = apply_pipeline(
        spark.createDataFrame([("zz", "5f5a0e3e1c9d44000012345b")], "bad string, good string"),
        [{"$project": {
            "o1": {"$toObjectId": "$bad"},
            "o2": {"$toObjectId": "$good"},
            "c1": {"$convert": {"input": "$bad", "to": "long",
                                "onError": -1, "onNull": -2}},
        }}],
    ).collect()[0]
    assert row["o1"] is None and row["o2"] == "5f5a0e3e1c9d44000012345b"
    assert row["c1"] == -1


def test_match_sample_rate(orders):
    """$sampleRate keeps ~p of the docs (statistical bounds only —
    nondeterministic by design); 0 and 1 are exact."""
    total = orders.count()
    assert apply_pipeline(orders, [{"$match": {"$sampleRate": 0.0}}]).count() == 0
    assert apply_pipeline(orders, [{"$match": {"$sampleRate": 1.0}}]).count() == total
    got = apply_pipeline(orders, [{"$match": {"$sampleRate": 0.5}}]).count()
    assert 0.3 * total < got < 0.7 * total
    with pytest.raises(ValueError):
        apply_pipeline(orders, [{"$match": {"$sampleRate": 1.5}}])


def test_date_ops_fixed_offset_timezone(spark):
    """Fixed ±HH:MM offsets in $dateTrunc/$dateAdd/$dateDiff/
    $dateToString/$dateFromString: boundaries live in the offset-local
    time (shift, operate, shift back — exact, fixed offsets have no
    DST); UTC behavior is unchanged; Olson names stay a loud
    NotImplementedError.  2021-03-31T20:00Z is 2021-04-01T01:30 at
    +05:30 — a different day, month and (local) date_trunc result."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [("2021-03-31T20:00:00", "2021-03-31T17:00:00")], "e string, s string"
    )
    base = [{"$addFields": {
        "e": {"$dateFromString": {"dateString": "$e"}},
        "s": {"$dateFromString": {"dateString": "$s"}},
    }}]
    row = apply_pipeline(
        df,
        base + [{"$project": {
            "t_utc": {"$dateTrunc": {"date": "$e", "unit": "day"}},
            "t_ist": {"$dateTrunc": {"date": "$e", "unit": "day",
                                     "timezone": "+05:30"}},
            "d_utc": {"$dateDiff": {"startDate": "$s", "endDate": "$e",
                                    "unit": "day"}},
            "d_ist": {"$dateDiff": {"startDate": "$s", "endDate": "$e",
                                    "unit": "day", "timezone": "+05:30"}},
            "a_ist": {"$dateAdd": {"startDate": "$e", "unit": "month",
                                   "amount": 1, "timezone": "+05:30"}},
            "s_ist": {"$dateToString": {"date": "$e",
                                        "format": "%Y-%m-%d %H:%M",
                                        "timezone": "+05:30"}},
            "s_pst": {"$dateToString": {"date": "$e",
                                        "format": "%Y-%m-%d %H:%M",
                                        "timezone": "-08:00"}},
            "f_ist": {"$dateFromString": {
                "dateString": "2021-04-01T01:30:00", "timezone": "+0530"}},
        }}],
    ).collect()[0]
    from datetime import datetime

    assert row["t_utc"] == datetime(2021, 3, 31)
    # local midnight 2021-04-01T00:00+05:30 == 2021-03-31T18:30Z
    assert row["t_ist"] == datetime(2021, 3, 31, 18, 30)
    # 17:00Z and 20:00Z are the same UTC day but straddle local midnight
    assert row["d_utc"] == 0 and row["d_ist"] == 1
    # local 2021-04-01T01:30 + 1 month = 2021-05-01T01:30+05:30 = 04-30T20:00Z
    assert row["a_ist"] == datetime(2021, 4, 30, 20, 0)
    assert row["s_ist"] == "2021-04-01 01:30"
    assert row["s_pst"] == "2021-03-31 12:00"
    assert row["f_ist"] == datetime(2021, 3, 31, 20, 0)

    with pytest.raises(ValueError, match="unknown timezone"):
        apply_pipeline(
            df,
            base + [{"$project": {"x": {"$dateTrunc": {
                "date": "$e", "unit": "day",
                "timezone": "America/Nowhere"}}}}],
        )


def test_date_ops_named_timezone_dst(spark):
    """IANA zone names in the date operators, exercised ACROSS the
    US spring-forward transition (2021-03-14 02:00 EST -> 03:00 EDT):

    - $dateTrunc day: local midnight on both sides of the transition
      maps back to the right UTC instant (05:00Z in EST, 04:00Z in EDT);
    - $dateDiff day: boundary crossings counted in LOCAL days;
    - $dateAdd day: keeps the local wall clock over the transition
      (Mongo's documented behavior), so the UTC delta is 23 hours;
    - $dateAdd hour: sub-day units add ABSOLUTE time (no DST
      adjustment), also Mongo's documented behavior;
    - date parts / $dateToString render the local wall time."""
    from datetime import datetime

    from topic_store_spark.query.pipeline import apply_pipeline

    # 2021-03-13T17:00-05:00 = 22:00Z (day before the transition);
    # 2021-03-14T17:00-04:00 = 21:00Z (day of the transition)
    df = spark.createDataFrame(
        [("2021-03-13T22:00:00", "2021-03-14T21:00:00")],
        "s string, e string",
    )
    base = [{"$addFields": {
        "s": {"$dateFromString": {"dateString": "$s"}},
        "e": {"$dateFromString": {"dateString": "$e"}},
    }}]
    tz = "America/New_York"
    row = apply_pipeline(
        df,
        base + [{"$project": {
            "t_est": {"$dateTrunc": {"date": "$s", "unit": "day",
                                     "timezone": tz}},
            "t_edt": {"$dateTrunc": {"date": "$e", "unit": "day",
                                     "timezone": tz}},
            "t_after": {"$dateTrunc": {
                "date": {"$dateAdd": {"startDate": "$e", "unit": "day",
                                      "amount": 1}},
                "unit": "day", "timezone": tz}},
            "d_day": {"$dateDiff": {"startDate": "$s", "endDate": "$e",
                                    "unit": "day", "timezone": tz}},
            "a_day": {"$dateAdd": {"startDate": "$s", "unit": "day",
                                   "amount": 1, "timezone": tz}},
            "a_hr": {"$dateAdd": {"startDate": "$s", "unit": "hour",
                                  "amount": 24, "timezone": tz}},
            "hour_l": {"$hour": {"date": "$e", "timezone": tz}},
            "str_l": {"$dateToString": {"date": "$e",
                                        "format": "%Y-%m-%d %H:%M",
                                        "timezone": tz}},
            "f_l": {"$dateFromString": {
                "dateString": "2021-03-14T17:00:00", "timezone": tz}},
            "p_l": {"$dateFromParts": {"year": 2021, "month": 3,
                                       "day": 14, "hour": 17,
                                       "timezone": tz}},
        }}],
    ).collect()[0]
    assert row["t_est"] == datetime(2021, 3, 13, 5, 0)
    # midnight of the TRANSITION day precedes the 02:00 switch, so it
    # is still EST (05:00Z); the day after, midnight is EDT (04:00Z)
    assert row["t_edt"] == datetime(2021, 3, 14, 5, 0)
    assert row["t_after"] == datetime(2021, 3, 15, 4, 0)
    assert row["d_day"] == 1
    # wall 17:00 EST + 1 day = wall 17:00 EDT = 21:00Z (23 real hours)
    assert row["a_day"] == datetime(2021, 3, 14, 21, 0)
    # +24 absolute hours = 22:00Z (local 18:00 EDT)
    assert row["a_hr"] == datetime(2021, 3, 14, 22, 0)
    assert row["hour_l"] == 17
    assert row["str_l"] == "2021-03-14 17:00"
    # local 17:00 EDT = 21:00Z, both string- and parts-constructed
    assert row["f_l"] == datetime(2021, 3, 14, 21, 0)
    assert row["p_l"] == datetime(2021, 3, 14, 21, 0)


def test_set_window_fields_range_window(spark):
    """Range (value-based) windows: frame = rows whose single ascending
    sortBy KEY lies in [key+lo, key+hi] inclusive — row adjacency is
    irrelevant (keys 1,2,10 with range [-2,0]: the 10-row's window is
    itself).  Time-unit ranges ride epoch-millis; descending sortBy and
    fractional bounds refuse loudly."""
    from datetime import datetime

    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 20), (1, 10, 40), (2, 5, 7)],
        "g int, k long, v long",
    )
    rows = {
        (r["g"], r["k"]): (r["s"], r["c"])
        for r in apply_pipeline(
            df,
            [{"$setWindowFields": {
                "partitionBy": "$g", "sortBy": {"k": 1},
                "output": {
                    "s": {"$sum": "$v", "window": {"range": [-2, 0]}},
                    "c": {"$count": {}, "window": {"range": [-2, 0]}},
                },
            }}],
        ).collect()
    }
    assert rows == {(1, 1): (10, 1), (1, 2): (30, 2),
                    (1, 10): (40, 1), (2, 5): (7, 1)}

    ts = spark.createDataFrame(
        [(1, datetime(2021, 1, 1, 12), 1), (1, datetime(2021, 1, 2, 6), 2),
         (1, datetime(2021, 1, 9, 0), 4)],
        "g int, t timestamp, v long",
    )
    got = {
        r["v"]: r["s"]
        for r in apply_pipeline(
            ts,
            [{"$setWindowFields": {
                "partitionBy": "$g", "sortBy": {"t": 1},
                "output": {"s": {"$sum": "$v", "window": {
                    "range": [-1, 0], "unit": "day"}}},
            }}],
        ).collect()
    }
    # 01-02T06 looks back to 01-01T06: includes 01-01T12; 01-09 alone
    assert got == {1: 1, 2: 3, 4: 4}

    # descending sortBy (r8): bounds are VALUE offsets, so membership
    # (k in [cur-2, cur]) is direction-free — the descending form must
    # produce exactly the ascending sums
    desc = {
        (r["g"], r["k"]): (r["s"], r["c"])
        for r in apply_pipeline(
            df,
            [{"$setWindowFields": {
                "partitionBy": "$g", "sortBy": {"k": -1},
                "output": {
                    "s": {"$sum": "$v", "window": {"range": [-2, 0]}},
                    "c": {"$count": {}, "window": {"range": [-2, 0]}},
                },
            }}],
        ).collect()
    }
    assert desc == rows
    with pytest.raises(ValueError, match="exactly one"):
        apply_pipeline(
            df,
            [{"$setWindowFields": {
                "partitionBy": "$g", "sortBy": {"k": 1, "v": 1},
                "output": {"s": {"$sum": "$v",
                                 "window": {"range": [-2, 0]}}},
            }}],
        )


def test_trig_log_and_window_gap_fill(spark):
    """r7 math tail: $log [num, base] / $log10 / partial-domain $asin;
    $locf and $linearFill as $setWindowFields OUTPUT operators (same
    math as the $fill stage methods, composable with other window
    fields; $linearFill never extrapolates)."""
    import math

    from topic_store_spark.query.pipeline import apply_pipeline

    row = apply_pipeline(
        spark.createDataFrame([(8.0, 2.0)], "x double, b double"),
        [{"$project": {
            "lg": {"$log": ["$x", "$b"]},
            "l10": {"$log10": {"$multiply": ["$x", 12.5]}},
            "as": {"$asin": 0.5},
            "at2": {"$atan2": [1, 1]},
        }}],
    ).collect()[0]
    assert row["lg"] == pytest.approx(3.0)
    assert row["l10"] == pytest.approx(2.0)
    assert row["as"] == pytest.approx(math.asin(0.5))
    assert row["at2"] == pytest.approx(math.pi / 4)

    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, None), (1, 2, None), (1, 4, 40.0),
         (1, 5, None)],
        "g int, k int, v double",
    )
    rows = {
        r["k"]: (r["lo"], r["li"])
        for r in apply_pipeline(
            df,
            [{"$setWindowFields": {
                "partitionBy": "$g", "sortBy": {"k": 1},
                "output": {
                    "lo": {"$locf": "$v"},
                    "li": {"$linearFill": "$v"},
                },
            }}],
        ).collect()
    }
    # locf carries 10 forward; linear interpolates against k and never
    # extrapolates past the last known value (k=5 stays null)
    assert rows[0] == (10.0, 10.0)
    assert rows[1] == (10.0, pytest.approx(17.5))
    assert rows[2] == (10.0, pytest.approx(25.0))
    assert rows[4] == (40.0, 40.0)
    assert rows[5] == (40.0, None)


def test_extended_date_parts(spark):
    """r7 date parts: $dayOfYear/$dayOfWeek (1=Sunday)/$week (%U,
    Sunday-started, week 0 before the first Sunday) and the ISO trio
    ($isoDayOfWeek 1=Monday, $isoWeek, $isoWeekYear = calendar year of
    the week's Thursday); {date, timezone} dict form shifts first.
    2021-01-01 is a Friday in ISO week 53 of ISO year 2020."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame([("x",)], "s string")
    row = apply_pipeline(
        df,
        [{"$project": {
            "doy": {"$dayOfYear": {"$dateFromString": {
                "dateString": "2021-01-01"}}},
            "dow": {"$dayOfWeek": {"$dateFromString": {
                "dateString": "2021-01-01"}}},
            "idw": {"$isoDayOfWeek": {"$dateFromString": {
                "dateString": "2021-01-01"}}},
            "iw": {"$isoWeek": {"$dateFromString": {
                "dateString": "2021-01-01"}}},
            "iwy": {"$isoWeekYear": {"$dateFromString": {
                "dateString": "2021-01-01"}}},
            "w0": {"$week": {"$dateFromString": {
                "dateString": "2021-01-01"}}},
            "w1": {"$week": {"$dateFromString": {
                "dateString": "2021-01-03"}}},
            "w52": {"$week": {"$dateFromString": {
                "dateString": "2021-12-31"}}},
            "tzd": {"$dayOfMonth": {
                "date": {"$dateFromString": {
                    "dateString": "2021-03-31T20:00:00"}},
                "timezone": "+05:30"}},
        }}],
    ).collect()[0]
    assert row["doy"] == 1
    assert row["dow"] == 6  # Friday, Sunday=1
    assert row["idw"] == 5  # Friday, Monday=1
    assert row["iw"] == 53 and row["iwy"] == 2020
    assert row["w0"] == 0 and row["w1"] == 1 and row["w52"] == 52
    assert row["tzd"] == 1  # 20:00Z on 03-31 is already 04-01 at +05:30


def test_redact_and_documents_stages(spark):
    """$redact: the $$KEEP/$$PRUNE row-filter form and the r8
    $$DESCEND recursive form (schema-bounded struct rewrite);
    $documents as a first-stage literal source."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, "public"), (2, "secret"), (3, "public")], "id int, lvl string"
    )
    out = apply_pipeline(
        df,
        [{"$redact": {"$cond": [
            {"$eq": ["$lvl", "public"]}, "$$KEEP", "$$PRUNE"]}}],
    )
    assert sorted(r["id"] for r in out.collect()) == [1, 3]

    # $$DESCEND (r8): the canonical access-level walk — cond
    # re-evaluates per embedded document; pruned subdocs null out,
    # pruned array<struct> elements drop, and a level WITHOUT the
    # tested field reads it as missing (the "tags" check below)
    nested = spark.createDataFrame(
        [
            (1, 5, (1, "ok", (0, "deep")), [(1, "a"), (9, "b")]),
            (2, 9, (9, "hid", (1, "d2")), [(9, "x")]),
        ],
        "id int, level int, sub struct<level:int, s:string, "
        "inner: struct<level:int, t:string>>, "
        "items array<struct<level:int, v:string>>",
    )
    cond = {"$cond": [{"$lte": [{"$ifNull": ["$level", 0]}, 5]},
                      "$$DESCEND", "$$PRUNE"]}
    rows = {r["id"]: r for r in apply_pipeline(
        nested, [{"$redact": cond}]
    ).collect()}
    # doc 2: top-level level=9 -> whole doc pruned
    assert sorted(rows) == [1]
    r1 = rows[1]
    assert r1["level"] == 5
    # sub.level=1 -> descend; sub.inner.level=0 -> descend (kept)
    assert r1["sub"]["s"] == "ok" and r1["sub"]["inner"]["t"] == "deep"
    # items: level=1 kept, level=9 dropped
    assert [e["v"] for e in r1["items"]] == ["a"]

    # a pruned SUBDOC nulls out while siblings survive
    rows = {r["id"]: r for r in apply_pipeline(
        nested,
        [{"$redact": {"$cond": [
            {"$lte": [{"$ifNull": ["$level", 99]}, 5]},
            "$$DESCEND", "$$PRUNE"]}}],
    ).collect()}
    # doc 1 root level=5 descend; sub.level=1 keep-descend; but
    # sub.inner.level=0 <=5 descend -> kept; items elements carry
    # level -> 1 kept / 9 pruned
    assert rows[1]["sub"] is not None
    # now flip: prune any subdoc whose level > 0
    rows = {r["id"]: r for r in apply_pipeline(
        nested,
        [{"$redact": {"$cond": [
            {"$eq": [{"$ifNull": ["$level", 0]}, 0]},
            "$$DESCEND", "$$PRUNE"]}}],
    ).collect()}
    assert sorted(rows) == []  # both roots have level != 0

    out = apply_pipeline(
        df,
        [
            {"$documents": [{"x": 1, "y": "a"}, {"x": 2, "y": "b"}]},
            {"$match": {"x": {"$gte": 2}}},
        ],
    ).collect()
    assert [(r["x"], r["y"]) for r in out] == [(2, "b")]

    with pytest.raises(ValueError, match="first stage"):
        apply_pipeline(
            df, [{"$limit": 1}, {"$documents": [{"x": 1}]}]
        )


def test_projection_slice_and_elem_match(spark):
    """Projection OPERATORS (find dialect): {"arr": {"$slice": n}} —
    first n / last |n| / [skip, n] window, exclusion-like when alone
    (keeps other fields); {"arr": {"$elemMatch": q}} — first matching
    element only, null when nothing matches, inclusion semantics."""
    df = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5], [(1, "a"), (8, "b"), (9, "c")], "keep")],
        "id int, xs array<int>, es array<struct<v:int, t:string>>, other string",
    )
    r = apply_projection(df, {"xs": {"$slice": 2}}).collect()[0]
    assert r["xs"] == [1, 2] and r["other"] == "keep"  # exclusion-like
    assert apply_projection(df, {"xs": {"$slice": -2}}).collect()[0]["xs"] == [4, 5]
    assert apply_projection(
        df, {"xs": {"$slice": [1, 2]}}
    ).collect()[0]["xs"] == [2, 3]
    assert apply_projection(
        df, {"xs": {"$slice": [-3, 2]}}
    ).collect()[0]["xs"] == [3, 4]
    assert apply_projection(
        df, {"xs": {"$slice": -9}}
    ).collect()[0]["xs"] == [1, 2, 3, 4, 5]

    r = apply_projection(
        df, {"es": {"$elemMatch": {"v": {"$gte": 8}}}}
    ).collect()[0]
    assert [(e["v"], e["t"]) for e in r["es"]] == [(8, "b")]
    assert "other" not in r.asDict()  # inclusion semantics
    r = apply_projection(
        df, {"es": {"$elemMatch": {"v": {"$gt": 100}}}}
    ).collect()[0]
    assert r["es"] is None  # no match -> missing-as-null

    # combined with a plain include: $slice joins the inclusion list
    r = apply_projection(
        df, {"other": 1, "xs": {"$slice": 1}}
    ).collect()[0]
    d = r.asDict()
    assert d["xs"] == [1] and d["other"] == "keep" and "es" not in d


def test_set_field_unset_field(spark):
    """$setField/$unsetField (Mongo 5.0): literal field names, never
    dot-traversed (a name containing '.' addresses ONE field); value
    $$REMOVE drops like $unsetField; null input stays null."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [((1, "x"),), (None,)],
        "st struct<`a.b`: int, c: string>",
    )
    rows = apply_pipeline(
        df,
        [{"$project": {
            "set": {"$setField": {"field": "c", "input": "$st",
                                  "value": "upd"}},
            "add": {"$setField": {"field": "d", "input": "$st",
                                  "value": 7}},
            "rm": {"$unsetField": {"field": "a.b", "input": "$st"}},
            "rm2": {"$setField": {"field": "c", "input": "$st",
                                  "value": "$$REMOVE"}},
        }}],
    ).collect()
    r = rows[0] if rows[0]["set"] is not None else rows[1]
    n = rows[1] if rows[0]["set"] is not None else rows[0]
    assert r["set"].asDict() == {"a.b": 1, "c": "upd"}
    assert r["add"].asDict() == {"a.b": 1, "c": "x", "d": 7}
    assert r["rm"].asDict() == {"c": "x"}
    assert r["rm2"].asDict() == {"a.b": 1}
    assert n["set"] is None and n["rm"] is None


def test_date_to_parts_and_type_introspection(spark):
    """$dateToParts (both calendar and iso8601 forms, timezone-aware),
    $type (static BSON type name, null-tested at runtime), $isArray,
    and $binarySize (UTF-8 bytes)."""
    from datetime import datetime

    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, "héllo", [1, 2], 2.5, datetime(2021, 1, 3, 22, 45, 7))],
        "i long, s string, arr array<long>, f double, ts timestamp",
    )
    row = apply_pipeline(
        df,
        [{"$project": {
            "parts": {"$dateToParts": {"date": "$ts"}},
            "parts_ist": {"$dateToParts": {"date": "$ts",
                                           "timezone": "+05:30"}},
            "iso": {"$dateToParts": {"date": "$ts", "iso8601": True}},
            "t_i": {"$type": "$i"},
            "t_s": {"$type": "$s"},
            "t_a": {"$type": "$arr"},
            "t_f": {"$type": "$f"},
            "t_ts": {"$type": "$ts"},
            "t_missing": {"$type": "$nope"},
            "is_a": {"$isArray": ["$arr"]},
            "is_s": {"$isArray": ["$s"]},
            "bs": {"$binarySize": "$s"},
        }}],
    ).collect()[0]
    assert row["parts"].asDict() == {
        "year": 2021, "month": 1, "day": 3, "hour": 22, "minute": 45,
        "second": 7, "millisecond": 0,
    }
    # 22:45+05:30 = next day 04:15 local
    assert row["parts_ist"]["day"] == 4 and row["parts_ist"]["hour"] == 4
    # 2021-01-03 is a Sunday: ISO week 53 of ISO year 2020, day 7
    assert row["iso"].asDict()["isoWeekYear"] == 2020
    assert row["iso"].asDict()["isoWeek"] == 53
    assert row["iso"].asDict()["isoDayOfWeek"] == 7
    assert row["t_i"] == "long" and row["t_s"] == "string"
    assert row["t_a"] == "array" and row["t_f"] == "double"
    assert row["t_ts"] == "date" and row["t_missing"] == "null"
    assert row["is_a"] is True and row["is_s"] is False
    assert row["bs"] == 6  # é is 2 UTF-8 bytes


def test_array_expression_forms_first_last_n_sum_avg(spark):
    """ARRAY-expression forms of the accumulator names: $first/$last
    (element access), $firstN/$lastN (positional, nulls kept),
    $maxN/$minN (ordered, nulls ignored), $sum/$avg (fold; $sum of
    nothing is 0, $avg of nothing is null; list form skips null
    operands)."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, [3, None, 1, 5], 2), (2, [], 3), (3, None, None)],
        "i long, arr array<long>, b long",
    )
    rows = {
        r["i"]: r
        for r in apply_pipeline(
            df,
            [{"$project": {
                "i": 1,
                "f": {"$first": ["$arr"]},
                "l": {"$last": ["$arr"]},
                "fn": {"$firstN": {"n": 2, "input": "$arr"}},
                "ln": {"$lastN": {"n": 2, "input": "$arr"}},
                "mx": {"$maxN": {"n": 2, "input": "$arr"}},
                "mn": {"$minN": {"n": 2, "input": "$arr"}},
                "s": {"$sum": "$arr"},
                "a": {"$avg": "$arr"},
                "s2": {"$sum": ["$b", None, 4]},
                "a2": {"$avg": ["$b", None, 4]},
            }}],
        ).collect()
    }
    r = rows[1]
    assert r["f"] == 3 and r["l"] == 5
    assert r["fn"] == [3, None] and r["ln"] == [1, 5]
    assert r["mx"] == [5, 3] and r["mn"] == [1, 3]
    assert r["s"] == 9 and r["a"] == 3.0
    assert r["s2"] == 6 and r["a2"] == 3.0
    e = rows[2]
    assert e["f"] is None and e["fn"] == [] and e["mx"] == []
    assert e["s"] == 0 and e["a"] is None
    n = rows[3]
    assert n["s"] == 0 and n["a"] is None
    assert n["s2"] == 4 and n["a2"] == 4.0


def test_date_string_formats_and_fallbacks(spark):
    """$dateToString/$dateFromString round: literal text in formats is
    quoted (the default format's 'T' separator used to be an invalid
    pattern letter), %j/%% directives, unsupported directives refuse at
    compile time, $dateToString onNull, and $dateFromString
    onError/onNull (null input is the onNull case, never onError)."""
    from datetime import datetime

    import pytest as _pytest

    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, "2021-02-03T04:05:06", "2021-02-03 04:05:06"),
         (2, "not a date", None)],
        "i long, good string, alt string",
    )
    rows = {
        r["i"]: r
        for r in apply_pipeline(
            df,
            [
                {"$addFields": {"ts": {"$dateFromString": {
                    "dateString": "$alt", "onNull": None}}}},
                {"$project": {
                    "i": 1,
                    "dflt": {"$dateToString": {"date": "$ts"}},
                    "doy": {"$dateToString": {"date": "$ts",
                                              "format": "day %j at %H%%"}},
                    "onn": {"$dateToString": {"date": "$ts",
                                              "onNull": "MISSING"}},
                    "f_ok": {"$dateFromString": {
                        "dateString": "$good",
                        "onError": {"$dateFromString": {
                            "dateString": "1970-01-01T00:00:00"}}}},
                    "f_null": {"$dateFromString": {
                        "dateString": "$alt",
                        "onError": {"$dateFromString": {
                            "dateString": "1970-01-01T00:00:00"}},
                        "onNull": None}},
                }},
            ],
        ).collect()
    }
    assert rows[1]["dflt"] == "2021-02-03T04:05:06"
    assert rows[1]["doy"] == "day 034 at 04%"
    assert rows[1]["f_ok"] == datetime(2021, 2, 3, 4, 5, 6)
    assert rows[1]["f_null"] == datetime(2021, 2, 3, 4, 5, 6)
    assert rows[2]["onn"] == "MISSING"
    # "not a date" -> onError epoch; null dateString -> onNull, NOT onError
    assert rows[2]["f_ok"] == datetime(1970, 1, 1)
    assert rows[2]["f_null"] is None

    # %V is composable in $dateToString (see
    # test_date_to_string_composed_directives) but not parseable back
    with _pytest.raises(ValueError, match="directive"):
        apply_pipeline(
            df,
            [{"$project": {"x": {"$dateToString": {
                "date": "$ts", "format": "%Q week"}}}}],
        )
    with _pytest.raises(ValueError, match="directive"):
        apply_pipeline(
            df,
            [{"$project": {"x": {"$dateFromString": {
                "dateString": "2021-W01", "format": "%G-W%V"}}}}],
        )


def test_percentile_sketch_accuracy_extension(spark):
    """The `accuracy: N` dialect extension switches $median/$percentile
    to the bounded-memory percentile_approx sketch (the 100 TB path —
    exact percentile holds a per-group value map).  On a small group
    the sketch result must land on an actual element near the exact
    rank; a window form keeps working too."""
    import pytest as pt

    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 102)], "k string, v double"
    )
    row = apply_pipeline(
        df,
        [{"$group": {
            "_id": "$k",
            "exact": {"$median": {"input": "$v", "method": "approximate"}},
            "sketch": {"$median": {"input": "$v", "accuracy": 10000}},
            "p_sketch": {"$percentile": {"input": "$v", "p": [0.25, 0.75],
                                         "accuracy": 10000}},
        }}],
    ).first()
    assert row["exact"] == pt.approx(51.0)
    assert row["sketch"] == pt.approx(51.0)  # high accuracy: exact rank
    assert row["p_sketch"] == pt.approx([26.0, 76.0])


def test_bucket_median_percentile_outputs(spark):
    """$median/$percentile work as $bucket and $bucketAuto output
    accumulators (not just $group/$setWindowFields), incl. the
    accuracy sketch extension."""
    import pytest as pt

    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    )
    rows = apply_pipeline(
        df,
        [{"$bucket": {
            "groupBy": "$k", "boundaries": [0, 10, 20],
            "output": {
                "med": {"$median": {"input": "$v",
                                    "method": "approximate"}},
                "p": {"$percentile": {"input": "$v", "p": [0.5],
                                      "accuracy": 1000}},
            },
        }}],
    ).orderBy("_id").collect()
    assert [r["med"] for r in rows] == pt.approx([4.5, 14.5])
    assert [r["p"][0] for r in rows] == pt.approx([4.0, 14.0])
    auto = apply_pipeline(
        df,
        [{"$bucketAuto": {
            "groupBy": "$k", "buckets": 2,
            "output": {"med": {"$median": {"input": "$v",
                                           "method": "approximate"}}},
        }}],
    ).collect()
    assert sorted(r["med"] for r in auto) == pt.approx([4.5, 14.5])


def test_date_to_string_composed_directives(spark):
    """%G/%V/%u (ISO trio), %w, and the per-row offset directives
    %z/%Z that DateTimeFormatter cannot render after localization —
    composed from part expressions.  2021-01-03 is a Sunday: ISO
    2020-W53-7, %w (1=Sunday) = 1.  Offsets are per ROW: the same NY
    zone renders -0500 in January and -0400 in July."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, "2021-01-03T10:00:00"), (2, "2021-07-03T10:00:00")],
        "i long, t string",
    )
    rows = {
        r["i"]: r
        for r in apply_pipeline(
            df,
            [
                {"$addFields": {"ts": {"$dateFromString": {
                    "dateString": "$t"}}}},
                {"$project": {
                    "i": 1,
                    "iso": {"$dateToString": {
                        "date": "$ts", "format": "%G-W%V-%u (w%w)"}},
                    "ny": {"$dateToString": {
                        "date": "$ts", "format": "%Y-%m-%d %H:%M %z (%Z)",
                        "timezone": "America/New_York"}},
                    "ist": {"$dateToString": {
                        "date": "$ts", "format": "%z|%Z",
                        "timezone": "+05:30"}},
                }},
            ],
        ).collect()
    }
    assert rows[1]["iso"] == "2020-W53-7 (w1)"
    assert rows[1]["ny"] == "2021-01-03 05:00 -0500 (-300)"
    assert rows[2]["ny"] == "2021-07-03 06:00 -0400 (-240)"
    assert rows[1]["ist"] == "+0530|330"


def test_densify_date_units(spark):
    """$densify over a DATE field with range.unit: calendar stepping
    (true month boundaries, not fixed second counts), partition bounds
    per group, and explicit [lo, hi) bounds exclusive of the upper."""
    from datetime import datetime

    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [("a", datetime(2021, 1, 31)), ("a", datetime(2021, 4, 30)),
         ("b", datetime(2021, 1, 1))],
        "g string, ts timestamp",
    )
    out = apply_pipeline(
        df,
        [{"$densify": {
            "field": "ts", "partitionByFields": ["g"],
            "range": {"step": 1, "unit": "month", "bounds": "partition"},
        }}],
    )
    got = sorted((r["g"], r["ts"]) for r in out.collect())
    # month steps from Jan 31 land on calendar month-ends (Feb 28!)
    assert got == [
        ("a", datetime(2021, 1, 31)),
        ("a", datetime(2021, 2, 28)),
        ("a", datetime(2021, 3, 31)),
        ("a", datetime(2021, 4, 30)),
        ("b", datetime(2021, 1, 1)),
    ]
    hours = apply_pipeline(
        df.filter("g = 'b'"),
        [{"$densify": {"field": "ts", "range": {
            "step": 6, "unit": "hour",
            "bounds": ["2021-01-01T00:00:00", "2021-01-02T00:00:00"],
        }}}],
    )
    ts = sorted(r["ts"] for r in hours.collect())
    # [lo, hi): 00/06/12/18, upper bound excluded; the data row at 00
    # dedups against the grid point
    assert ts == [datetime(2021, 1, 1, h) for h in (0, 6, 12, 18)]


def test_bits_query_operators(spark):
    """$bitsAllSet/$bitsAnySet/$bitsAllClear/$bitsAnyClear: int-mask and
    bit-position-list forms; null and fractional doubles never match."""
    from topic_store_spark.query.compiler import compile_query

    df = spark.createDataFrame(
        [(1, 0b1010, 2.0), (2, 0b0110, 2.5), (3, 0, 4.0), (4, None, None)],
        "i long, v long, d double",
    )

    def ids(q):
        return sorted(r["i"] for r in df.filter(compile_query(q, df.schema)).collect())

    assert ids({"v": {"$bitsAllSet": 0b0010}}) == [1, 2]
    assert ids({"v": {"$bitsAllSet": [1, 3]}}) == [1]  # positions 1,3 = 0b1010
    assert ids({"v": {"$bitsAnySet": 0b1100}}) == [1, 2]
    assert ids({"v": {"$bitsAllClear": 0b0101}}) == [1, 3]
    assert ids({"v": {"$bitsAnyClear": 0b1010}}) == [2, 3]
    # doubles: 2.0 is integral (bit 1 set), 2.5 never matches
    assert ids({"d": {"$bitsAllSet": 0b0010}}) == [1]
    assert ids({"d": {"$bitsAllClear": 0b0001}}) == [1, 3]


def test_merge_custom_update_pipeline(spark, tmp_path):
    """whenMatched as a CUSTOM update pipeline: the existing document is
    the input, $$new binds the incoming one — the Mongo counter-upsert
    idiom (accumulate a count, refresh a field, keep the rest)."""
    import topic_store_spark as ts
    from topic_store_spark.query.pipeline import apply_pipeline

    path = str(tmp_path / "cu.parquet")
    store = ts.load(path, spark)
    store.insert_one({"k": 1, "cnt": 10, "label": "orig"})
    store.insert_one({"k": 2, "cnt": 5, "label": "other"})

    inc = spark.createDataFrame(
        [(1, 7, "fresh"), (3, 1, "ins")], "k long, cnt long, label string"
    )
    apply_pipeline(
        inc,
        [{"$merge": {"into": path, "on": "k", "whenMatched": [
            {"$set": {
                "cnt": {"$add": ["$cnt", "$$new.cnt"]},
                "label": "$$new.label",
                "src": {"$getField": {"field": "label", "input": "$$new"}},
            }},
        ]}}],
    )
    rows = {r["k"]: r for r in ts.load(path, spark).find().collect()}
    # matched: counter accumulated, label refreshed, whole-$$new works
    assert rows[1]["cnt"] == 17 and rows[1]["label"] == "fresh"
    assert rows[1]["src"] == "fresh"
    # untouched + inserted rows unaffected by the pipeline
    assert rows[2]["cnt"] == 5 and rows[2]["label"] == "other"
    assert rows[3]["cnt"] == 1

    # disallowed stage refuses loudly
    with pytest.raises(ValueError, match="not allowed"):
        apply_pipeline(
            inc,
            [{"$merge": {"into": path, "on": "k",
                         "whenMatched": [{"$group": {"_id": None}}]}}],
        )


def test_unwind_document_form_options(spark):
    """$unwind document form: includeArrayIndex adds the element's
    position (long; null for preserved docs), and
    preserveNullAndEmptyArrays passes null/empty docs through with a
    null element — the default drops them."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, []), (3, None)],
        "i long, arr array<string>",
    )
    plain = apply_pipeline(df, [{"$unwind": "$arr"}]).collect()
    assert sorted((r["i"], r["arr"]) for r in plain) == [(1, "a"), (1, "b")]

    kept = apply_pipeline(
        df,
        [{"$unwind": {"path": "$arr",
                      "preserveNullAndEmptyArrays": True,
                      "includeArrayIndex": "pos"}}],
    ).collect()
    got = sorted((r["i"], r["arr"], r["pos"]) for r in kept)
    assert got == [
        (1, "a", 0), (1, "b", 1), (2, None, None), (3, None, None),
    ]

    idx_only = apply_pipeline(
        df, [{"$unwind": {"path": "$arr", "includeArrayIndex": "pos"}}]
    ).collect()
    assert sorted((r["i"], r["pos"]) for r in idx_only) == [(1, 0), (1, 1)]


def test_graph_lookup_restrict_search_with_match(spark):
    """restrictSearchWithMatch filters the documents CONSIDERED at each
    recursion step: a restricted-out node truncates every path through
    it (Mongo), and the filter uses the full find dialect."""
    base = spark.createDataFrame(
        [(1, 1, "ok"), (2, 1, "blocked"), (4, 2, "ok"), (8, 4, "ok")],
        "doc_id long, parent long, status string",
    )
    for tier in GRAPH_LOOKUP_TIERS:
        with graph_lookup_tier(tier):
            out = apply_pipeline(
                base,
                [{"$graphLookup": {
                    "from": "base",
                    "startWith": "$parent",
                    "connectFromField": "parent",
                    "connectToField": "doc_id",
                    "as": "anc",
                    "restrictSearchWithMatch": {"status": {"$ne": "blocked"}},
                }}],
                tables={"base": base},
            )
            rows = {r["doc_id"]: sorted(a["doc_id"] for a in r["anc"])
                    for r in out.collect()}
            # node 2 is restricted out: 8's chain stops at 4; 4's at nothing
            # past 2; and 2's own ancestry (1) is still reachable? no — the
            # restriction removes doc 2's PARENT step target only if that doc
            # itself is blocked; 1 is ok so 2 -> [1]
            assert rows[8] == [4]
            assert rows[4] == []  # parent 2 is blocked
            assert rows[2] == [1]
            assert rows[1] == [1]  # self-loop root, unrestricted


def test_union_with_documents_source(spark):
    """Coll-less $unionWith (Mongo 6): the pipeline starts with a
    $documents literal source; missing fields null-fill on both sides."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame([(1, "a")], "i long, s string")
    out = apply_pipeline(
        df,
        [{"$unionWith": {"pipeline": [
            {"$documents": [{"i": 2, "extra": True}, {"i": 3}]},
            {"$match": {"i": {"$gte": 2}}},
        ]}}],
    )
    rows = sorted(
        (r["i"], r["s"], r["extra"]) for r in out.collect()
    )
    assert rows == [(1, "a", None), (2, None, True), (3, None, None)]

    with pytest.raises(ValueError, match="documents"):
        apply_pipeline(df, [{"$unionWith": {"pipeline": [{"$match": {}}]}}])


def test_query_comment_ignored(spark):
    """{$comment: ...} in a find filter is an annotation, not a
    predicate — it must not affect matching or raise."""
    from topic_store_spark.query.compiler import compile_query

    df = spark.createDataFrame([(1,), (2,)], "n long")
    q = {"n": {"$gte": 2}, "$comment": "audit trail"}
    assert [r["n"] for r in df.filter(compile_query(q, df.schema)).collect()] == [2]
    assert df.filter(compile_query({"$comment": "only"}, df.schema)).count() == 2


def test_array_to_object_pair_form(spark):
    """$arrayToObject's [k, v] pair form, supported when the static
    type is array<array<..>> (typed 2-arrays); keys coerce to string."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, [["a", "1"], ["b", "2"]]), (2, None)],
        "i long, pairs array<array<string>>",
    )
    rows = {
        r["i"]: r["m"]
        for r in apply_pipeline(
            df, [{"$project": {"i": 1, "m": {"$arrayToObject": "$pairs"}}}]
        ).collect()
    }
    assert rows[1] == {"a": "1", "b": "2"}
    assert rows[2] is None


def test_index_of_bytes(spark):
    """$indexOfBytes returns the BYTE index of the first occurrence
    (multibyte prefixes count their UTF-8 length); -1 when absent, null
    input nulls; the byte-ranged form refuses loudly."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, "héllo x", "x"), (2, "plain", "zz"), (3, None, "a")],
        "i long, s string, sub string",
    )
    rows = {
        r["i"]: r["b"]
        for r in apply_pipeline(
            df,
            [{"$project": {"i": 1, "b": {"$indexOfBytes": ["$s", "$sub"]}}}],
        ).collect()
    }
    # "héllo " is 7 bytes (é = 2), so x sits at byte 7 (cp index 6)
    assert rows[1] == 7
    assert rows[2] == -1
    assert rows[3] is None

    with pytest.raises(NotImplementedError, match="byte-ranged"):
        apply_pipeline(
            df,
            [{"$project": {"b": {"$indexOfBytes": ["$s", "$sub", 0]}}}],
        )


def test_cmp_and_merge_objects_accumulator(spark):
    """$cmp three-way comparison over the BSON order (null lowest,
    two-valued), and $mergeObjects as a $group accumulator (last
    non-null wins per field — the fixed-schema reading of Mongo's
    later-overwrites rule)."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, 3, 5), (2, 5, 5), (3, 7, 5), (4, None, 5)],
        "i long, a long, b long",
    )
    rows = {
        r["i"]: r["c"]
        for r in apply_pipeline(
            df, [{"$project": {"i": 1, "c": {"$cmp": ["$a", "$b"]}}}]
        ).collect()
    }
    assert rows == {1: -1, 2: 0, 3: 1, 4: -1}  # null sorts below 5

    docs = spark.createDataFrame(
        [("g", (1, None)), ("g", (None, "x")), ("g", (2, None))],
        "k string, st struct<u: long, w: string>",
    )
    merged = apply_pipeline(
        docs,
        [{"$group": {"_id": "$k", "m": {"$mergeObjects": "$st"}}}],
    ).first()["m"]
    assert merged["u"] in (1, 2) and merged["w"] == "x"

    with pytest.raises(ValueError, match="document field"):
        apply_pipeline(
            docs, [{"$group": {"_id": "$k", "m": {"$mergeObjects": "$k"}}}]
        )


def test_linear_fill_repeated_sort_key_raises(spark):
    """Mongo ERRORS when $linearFill meets repeated sortBy values in a
    partition (r8 advisor find: the denominator is 0 there and the old
    code emitted NaN/Infinity silently)."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, None), (1, 1, 30.0), (1, 2, 20.0)],
        "g int, k int, v double",
    )
    stages = [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"k": 1},
            "output": {"li": {"$linearFill": "$v"}},
        }},
        # $fill linear desugars to the same $linearFill, so it raises too
        {"$fill": {
            "partitionBy": "$g", "sortBy": {"k": 1},
            "output": {"v": {"method": "linear"}},
        }},
    ]
    for stage in stages:
        with pytest.raises(Exception, match="repeated sortBy"):
            apply_pipeline(df, [stage]).collect()


def test_linear_fill_null_first_sort_key_is_not_a_duplicate(spark):
    """r9 advice fix: lag() on a partition's FIRST row returns an
    out-of-frame NULL — a first row whose sortBy key is itself NULL
    must not trip the duplicate guard (eqNullSafe(NULL, NULL) aliased
    the two before the in-partition indicator was ANDed in).  Two REAL
    null keys in one partition still raise."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, None, 5.0), (1, 1, 10.0), (1, 3, None), (1, 5, 30.0)],
        "g int, k int, v double",
    )
    spec = {"partitionBy": "$g", "sortBy": {"k": 1},
            "output": {"li": {"$linearFill": "$v"}}}
    got = {r["k"]: r["li"]
           for r in apply_pipeline(df, [{"$setWindowFields": spec}]).collect()}
    assert got[3] == 20.0 and got[None] == 5.0

    dup = spark.createDataFrame(
        [(1, None, 5.0), (1, None, 6.0), (1, 1, 10.0)],
        "g int, k int, v double",
    )
    with pytest.raises(Exception, match="repeated sortBy"):
        apply_pipeline(dup, [{"$setWindowFields": spec}]).collect()


def test_bits_on_string_field_never_matches(spark):
    """$bits* on a string-typed field: Mongo matches numbers only, so a
    castable string like "5" must NOT match — and under ANSI the old
    plain cast ERRORED the whole query (r8 advisor find: try_cast +
    typeof guard)."""
    from topic_store_spark.query.compiler import compile_query

    df = spark.createDataFrame(
        [(1, "5"), (2, "abc"), (3, None)], "i long, s string"
    )

    def ids(q):
        return sorted(
            r["i"] for r in df.filter(compile_query(q, df.schema)).collect()
        )

    assert ids({"s": {"$bitsAllSet": 0b101}}) == []
    assert ids({"s": {"$bitsAnyClear": 0b101}}) == []
    assert ids({"s": {"$bitsAllClear": 1}}) == []


def test_date_trunc_full_start_of_week(spark):
    """$dateTrunc week honors every startOfWeek weekday (r8: the
    sunday/monday-only refusal is closed; shift-trunc-unshift on
    Spark's Monday-started week)."""
    from datetime import datetime, timedelta

    from topic_store_spark.query.pipeline import apply_pipeline

    # 2021-06-10 is a Thursday
    df = spark.createDataFrame([(datetime(2021, 6, 10, 15, 30),)], "t timestamp")
    names = ["monday", "tuesday", "wednesday", "thursday", "friday",
             "saturday", "sunday"]
    row = apply_pipeline(
        df,
        [{"$project": {
            n: {"$dateTrunc": {"date": "$t", "unit": "week",
                               "startOfWeek": n}}
            for n in names
        }}],
    ).collect()[0]
    # most recent <weekday> on-or-before Thursday 2021-06-10
    want = {
        "monday": datetime(2021, 6, 7), "tuesday": datetime(2021, 6, 8),
        "wednesday": datetime(2021, 6, 9), "thursday": datetime(2021, 6, 10),
        "friday": datetime(2021, 6, 4), "saturday": datetime(2021, 6, 5),
        "sunday": datetime(2021, 6, 6),
    }
    got = {n: row[n] for n in names}
    assert got == want
    # truncated values sit exactly one day apart mod 7 — and abbreviated
    # / mixed-case names resolve too
    abbr = apply_pipeline(
        df,
        [{"$project": {"x": {"$dateTrunc": {
            "date": "$t", "unit": "week", "startOfWeek": "Fri"}}}}],
    ).collect()[0]["x"]
    assert abbr == want["friday"]


def test_lookup_suffix_row_local_stages(spark):
    """r8: the $lookup sub-pipeline suffix allowlist extends past
    [$sort]/[$sort,$limit] — row-local $match/$project/$addFields/
    $unset/$skip after the correlated stage run per-element over the
    collected array (transform/filter/slice), on both join paths."""
    from topic_store_spark.query.pipeline import apply_pipeline

    custs = spark.createDataFrame(
        [(10, "ada"), (20, "bob"), (30, "cee")], "cid int, name string"
    )
    orders = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 9.0), (3, 10, 7.0), (4, 20, 1.0), (5, 20, 8.0)],
        "oid int, cust int, total double",
    )

    def run(pipeline):
        out = apply_pipeline(
            custs,
            [{"$lookup": {"from": "orders", "let": {"c": "$cid"},
                          "pipeline": pipeline, "as": "a"}}],
            tables={"orders": orders},
        )
        return {r["cid"]: r["a"] for r in out.collect()}

    eq = {"$match": {"$expr": {"$eq": ["$cust", "$$c"]}}}

    # fast path: sort + suffix $match + $project (computed field)
    rows = run([
        eq,
        {"$sort": {"total": -1}},
        {"$match": {"total": {"$gte": 5.0}}},
        {"$project": {"oid": 1, "twice": {"$multiply": ["$total", 2]},
                      "_id": 0}},
    ])
    assert [tuple(o) for o in rows[10]] == [(2, 18.0), (3, 14.0), (1, 10.0)]
    assert [tuple(o) for o in rows[20]] == [(5, 16.0)]
    assert rows[30] == []

    # $addFields then $unset then $skip
    rows = run([
        eq,
        {"$sort": {"oid": 1}},
        {"$addFields": {"flag": {"$gt": ["$total", 6.0]}}},
        {"$unset": ["cust"]},
        {"$skip": 1},
    ])
    assert [o.asDict() for o in rows[10]] == [
        {"oid": 2, "total": 9.0, "flag": True},
        {"oid": 3, "total": 7.0, "flag": True},
    ]
    assert rows[20] == [] or len(rows[20]) == 1  # skip 1 of 2
    assert len(rows[20]) == 1 and rows[20][0]["oid"] == 5

    # suffix $match with $expr; general path (residual correlation)
    out = apply_pipeline(
        spark.createDataFrame([(10, 4.0)], "cid int, m double"),
        [{"$lookup": {"from": "orders",
                      "let": {"c": "$cid", "m": "$m"},
                      "pipeline": [
                          {"$match": {"$expr": {"$and": [
                              {"$eq": ["$cust", "$$c"]},
                              {"$gte": ["$total", "$$m"]}]}}},
                          {"$sort": {"total": 1}},
                          {"$match": {"$expr": {"$lt": ["$total", 8.0]}}},
                          {"$project": {"oid": 1, "_id": 0}},
                      ], "as": "a"}}],
        tables={"orders": orders},
    )
    got = [[o["oid"] for o in r["a"]] for r in out.collect()]
    assert got == [[1, 3]]

    # exclusion $project in the suffix
    rows = run([eq, {"$sort": {"oid": 1}}, {"$project": {"cust": 0}}])
    assert rows[20][0].asDict() == {"oid": 4, "total": 1.0}

    # {"$match": {}} is valid Mongo (matches everything) — previously
    # an IndexError inside the filter closure (r9 advice fix)
    rows = run([eq, {"$sort": {"oid": 1}}, {"$match": {}}])
    assert [o["oid"] for o in rows[10]] == [1, 2, 3]


def test_lookup_mixed_form_foreign_field_rewrite(spark):
    """r8 advisor find: Mongo applies the localField equality to the
    ORIGINAL foreign documents before the pipeline.  A pipeline stage
    that rewrites the foreignField must therefore run AFTER the
    equality (per-element over the array), not be hoisted ahead of it —
    and joining must use the original value."""
    from topic_store_spark.query.pipeline import apply_pipeline

    custs = spark.createDataFrame([(10,), (99,)], "cid int")
    orders = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99)], "oid int, cust int"
    )
    out = apply_pipeline(
        custs,
        [{"$lookup": {"from": "orders", "localField": "cid",
                      "foreignField": "cust",
                      "pipeline": [{"$set": {"cust": {"$literal": -1}}}],
                      "as": "a"}}],
        tables={"orders": orders},
    )
    rows = {r["cid"]: sorted((o["oid"], o["cust"]) for o in r["a"])
            for r in out.collect()}
    # joined on ORIGINAL cust, but elements carry the rewritten value
    assert rows[10] == [(1, -1), (2, -1)]
    assert rows[99] == [(3, -1)]

    # a VAR-FREE stage after the rewrite commutes through the array
    # path — only a rewriting stage before a CORRELATED $match (which
    # pins the stage order ahead of the equality) must refuse
    with pytest.raises(NotImplementedError, match="foreignField"):
        apply_pipeline(
            custs,
            [{"$lookup": {"from": "orders", "localField": "cid",
                          "foreignField": "cust", "let": {"x": "$cid"},
                          "pipeline": [
                              {"$set": {"cust": {"$literal": -1}}},
                              {"$match": {"$expr": {"$gt": ["$$x", 0]}}},
                          ],
                          "as": "a"}}],
            tables={"orders": orders},
        )


def test_json_schema_find_operator(spark):
    """r8: $jsonSchema (MongoDB's draft-4 subset) — type/required/
    properties core plus scalar keywords; a property schema constrains
    only documents where the property is present; $where stays a loud
    documented non-goal."""
    from topic_store_spark.query.compiler import compile_query

    df = spark.createDataFrame(
        [
            (1, "ab", 5.0, [1, 2], (3,)),
            (2, "abcdef", -1.0, [1, 1], (None,)),
            (3, None, 2.5, None, None),
            (4, "zz", 99.0, [], (7,)),
        ],
        "i long, s string, d double, arr array<long>, st struct<u: long>",
    )

    def ids(schema_doc):
        return sorted(
            r["i"]
            for r in df.filter(
                compile_query({"$jsonSchema": schema_doc}, df.schema)
            ).collect()
        )

    # required: presence (engine convention: null == missing)
    assert ids({"required": ["s"]}) == [1, 2, 4]
    # properties constrain only present values: doc 3 (s missing) passes
    assert ids({"properties": {"s": {"maxLength": 3}}}) == [1, 3, 4]
    assert ids({"properties": {"s": {"pattern": "^a"}}}) == [1, 2, 3]
    assert ids({"properties": {"d": {"minimum": 0,
                                     "maximum": 10}}}) == [1, 3]
    assert ids({"properties": {"d": {"minimum": 2.5,
                                     "exclusiveMinimum": True}}}
               ) == [1, 4]  # 2.5 itself excluded by the strict bound
    # bsonType
    assert ids({"properties": {"d": {"bsonType": "double"}}}) == [1, 2, 3, 4]
    assert ids({"properties": {"s": {"bsonType": "int"}}}) == [3]
    # arrays
    assert ids({"properties": {"arr": {"minItems": 1}}}) == [1, 2, 3]
    assert ids({"properties": {"arr": {"uniqueItems": True}}}) == [1, 3, 4]
    assert ids({"properties": {"arr": {"items": {"maximum": 1}}}}) == [2, 3, 4]
    # nested object properties + required
    assert ids({"properties": {"st": {"required": ["u"]}}}) == [1, 3, 4]
    assert ids({"properties": {"st": {"properties": {"u": {"minimum": 5}}}}}
               ) == [2, 3, 4]
    # numeric keywords are statically inapplicable to a string-typed
    # property: a numeric-LOOKING string must pass (r9 advice fix — an
    # unconditional try_cast range-checked "3" against minimum/maximum)
    num_strs = spark.createDataFrame(
        [(1, "3"), (2, "zz"), (3, "150")], "i long, s string"
    )
    got = sorted(
        r["i"]
        for r in num_strs.filter(
            compile_query(
                {"$jsonSchema": {"properties": {"s": {"minimum": 5,
                                                      "maximum": 10,
                                                      "multipleOf": 2}}}},
                num_strs.schema,
            )
        ).collect()
    )
    assert got == [1, 2, 3]
    # ... including via items over a string array and nested properties
    arr_strs = spark.createDataFrame(
        [(1, ["3", "9"], ("4",))],
        "i long, a array<string>, st struct<u: string>",
    )
    assert arr_strs.filter(
        compile_query(
            {"$jsonSchema": {"properties": {
                "a": {"items": {"minimum": 100}},
                "st": {"properties": {"u": {"multipleOf": 3}}}}}},
            arr_strs.schema,
        )
    ).count() == 1
    # enum + combinators
    assert ids({"properties": {"s": {"enum": ["ab", "zz"]}}}) == [1, 3, 4]
    assert ids({"anyOf": [{"required": ["arr"]},
                          {"properties": {"d": {"minimum": 50}}}]}
               ) == [1, 2, 4]
    assert ids({"not": {"required": ["s"]}}) == [3]
    # additionalProperties: false (r9) — closed field set enumerated
    # from the static struct type; null == missing
    assert ids({"additionalProperties": False,
                "properties": {"i": {}, "s": {}, "d": {}, "arr": {}}}) == [3]
    # _id parity (r10 ADVICE): Mongo does NOT implicitly admit _id —
    # a closed schema that omits it from `properties` fails every
    # document whose _id is present (the server footgun, reproduced)
    with_id = spark.createDataFrame(
        [(10, 1, "a"), (11, 2, None)], "_id long, i long, s string"
    )

    def with_id_ids(schema_doc):
        return sorted(
            r["i"]
            for r in with_id.filter(
                compile_query({"$jsonSchema": schema_doc}, with_id.schema)
            ).collect()
        )

    assert with_id_ids({"additionalProperties": False,
                        "properties": {"i": {}, "s": {}}}) == []
    assert with_id_ids({"additionalProperties": False,
                        "properties": {"_id": {}, "i": {}, "s": {}}}) == [1, 2]
    assert ids({"properties": {"st": {"additionalProperties": False}}}
               ) == [2, 3]
    assert ids({"properties": {"st": {"additionalProperties": False,
                                      "properties": {"u": {"minimum": 5}}}}}
               ) == [2, 3, 4]
    # per-position items (r9): element i validates against schema i;
    # shorter arrays and elements past the list are unconstrained
    assert ids({"properties": {"arr": {"items": [{"minimum": 2},
                                                 {"maximum": 1}]}}}
               ) == [3, 4]
    assert ids({"properties": {"arr": {"items": [{"minimum": 1}]}}}
               ) == [1, 2, 3, 4]
    # additionalItems (r10): false caps length at the schema list;
    # schema-form validates the suffix elements
    assert ids({"properties": {"arr": {"items": [{"minimum": 0}],
                                       "additionalItems": False}}}
               ) == [3, 4]
    assert ids({"properties": {"arr": {"items": [{"minimum": 0}],
                                       "additionalItems": {"maximum": 1}}}}
               ) == [2, 3, 4]
    # minProperties/maxProperties (r10): count of present (non-null)
    # fields, document level and nested-struct level
    assert ids({"minProperties": 3}) == [1, 2, 4]  # doc 3 has only i, d
    assert ids({"maxProperties": 2}) == [3]
    assert ids({"properties": {"st": {"minProperties": 1}}}) == [1, 3, 4]
    # minProperties on a known non-object property: inapplicable -> pass
    assert ids({"properties": {"d": {"minProperties": 3}}}) == [1, 2, 3, 4]
    # dependencies (r10): presence-triggered; schema- and list-form;
    # a statically-absent trigger is vacuous, an absent dep fails
    assert ids({"dependencies": {"s": {"properties": {"d": {"minimum": 0}}}}}
               ) == [1, 3, 4]
    assert ids({"dependencies": {"ghost": ["s"]}}) == [1, 2, 3, 4]
    assert ids({"dependencies": {"s": ["ghost"]}}) == [3]
    # patternProperties (r10): compile-time name match; matched fields
    # are not "additional" under a closed document
    assert ids({"patternProperties": {"^d$": {"minimum": 0}}}) == [1, 3, 4]
    assert ids({"additionalProperties": False,
                "properties": {"i": {}, "d": {}, "arr": {}, "st": {}},
                "patternProperties": {"^s$": {}}}) == [1, 2, 3, 4]
    # schema-form additionalProperties stays a loud refusal
    with pytest.raises(NotImplementedError, match="schema-form"):
        ids({"properties": {"st": {"additionalProperties": {"bsonType": "long"}}}})
    with pytest.raises(NotImplementedError, match="where"):
        df.filter(compile_query({"$where": "this.i > 1"}, df.schema))


def test_range_window_fractional(spark):
    """r8: fractional range windows — double sortBy keys and/or
    non-integral bounds ride Spark SQL's RANGE frame, rendered over
    pre-projected temp columns (the DataFrame API's rangeBetween is
    long-only).  Membership is value-based and inclusive both ends,
    direction-free under descending sort; the n-ary accumulators
    collect over the SQL frame and sort/slice with their comparator
    lambdas outside it."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, 1.0, 10), (1, 2.2, 20), (1, 2.9, 40), (1, 10.5, 7),
         (2, 0.5, 3)],
        "g int, k double, v long",
    )
    spec = {"partitionBy": "$g", "sortBy": {"k": 1},
            "output": {"s": {"$sum": "$v", "window": {"range": [-1.5, 0.5]}},
                       "c": {"$count": {}, "window": {"range": [-1.5, 0.5]}}}}
    rows = {(r["g"], r["k"]): (r["s"], r["c"])
            for r in apply_pipeline(df, [{"$setWindowFields": spec}]).collect()}
    assert rows == {(1, 1.0): (10, 1), (1, 2.2): (30, 2), (1, 2.9): (60, 2),
                    (1, 10.5): (7, 1), (2, 0.5): (3, 1)}

    # descending double sortBy: same value-based membership
    desc = dict(spec, sortBy={"k": -1},
                output={"s": {"$sum": "$v", "window": {"range": [-1.5, 0.5]}}})
    rows2 = {(r["g"], r["k"]): r["s"]
             for r in apply_pipeline(df, [{"$setWindowFields": desc}]).collect()}
    assert rows2 == {k: v[0] for k, v in rows.items()}

    # fractional bounds over an INTEGER key
    df2 = spark.createDataFrame([(1, 1, 10), (1, 2, 20), (1, 4, 40)],
                                "g int, k long, v long")
    rows3 = {r["k"]: r["s"] for r in apply_pipeline(df2, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"k": 1},
        "output": {"s": {"$sum": "$v", "window": {"range": [-1.5, 0.5]}}}}}]
    ).collect()}
    assert rows3 == {1: 10, 2: 30, 4: 40}

    # n-ary accumulators on the SQL-frame path
    nary = apply_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"k": 1},
        "output": {"t": {"$topN": {"sortBy": {"v": 1}, "output": "$v",
                                   "n": 2},
                         "window": {"range": [-1.5, 0.5]}},
                   "b": {"$bottom": {"sortBy": {"v": 1}, "output": "$v"},
                         "window": {"range": [-1.5, 0.5]}}}}}])
    assert {(r["g"], r["k"]): (r["t"], r["b"]) for r in nary.collect()} == {
        (1, 1.0): ([10], 10), (1, 2.2): ([10, 20], 20),
        (1, 2.9): ([20, 40], 40), (1, 10.5): ([7], 7), (2, 0.5): ([3], 3)}


def test_range_window_unit_rejects_fractional_bounds(spark):
    """r9 advice fix (high): a fractional bound combined with ``unit``
    must raise, not silently truncate — -1.5 hours scales to an
    integral -5400000.0 ms, which previously slipped past the
    fractional detection into the integer path and computed
    int(-1.5) * 3600000 = -1 hour (Mongo rejects non-integer bounds
    whenever unit is set)."""
    from datetime import datetime

    from topic_store_spark.query.pipeline import apply_pipeline

    ts = spark.createDataFrame(
        [(1, datetime(2021, 1, 1, 12), 1), (1, datetime(2021, 1, 1, 13), 2),
         (1, datetime(2021, 1, 1, 14, 30), 4)],
        "g int, t timestamp, v long",
    )
    spec = {"partitionBy": "$g", "sortBy": {"t": 1},
            "output": {"s": {"$sum": "$v",
                             "window": {"range": [-1.5, 0], "unit": "hour"}}}}
    with pytest.raises(ValueError, match="integers when unit"):
        apply_pipeline(ts, [{"$setWindowFields": spec}])

    # integral bounds (incl. float-typed 2.0) with unit still compute
    spec["output"]["s"]["window"]["range"] = [-2.0, 0]
    got = {r["v"]: r["s"]
           for r in apply_pipeline(ts, [{"$setWindowFields": spec}]).collect()}
    # 14:30-row's 2h window reaches back to 12:30 -> only the 13:00 row
    assert got == {1: 1, 2: 3, 4: 6}


def test_range_window_fractional_full_operator_matrix(spark):
    """r9: the SQL-frame path (fractional range windows) renders every
    supported window aggregate from temp columns — covariance,
    $median/$percentile, $push/$addToSet (null-keeping struct wrap),
    $first/$last, $avg/$min/$max/$stdDev* — with no private-API
    expression->SQL round-trip."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame(
        [(1, 1.0, 10, 1.0), (1, 2.0, None, 2.0), (1, 2.5, 40, 5.0),
         (2, 0.5, 3, 1.0)],
        "g int, k double, v long, w double",
    )
    win = {"range": [-1.5, 0.5]}
    out = apply_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"k": 1},
        "output": {
            "avg_v": {"$avg": "$v", "window": win},
            "push_v": {"$push": "$v", "window": win},
            "set_v": {"$addToSet": "$v", "window": win},
            "first_v": {"$first": "$v", "window": win},
            "last_v": {"$last": "$v", "window": win},
            "med_w": {"$median": {"input": "$w"}, "window": win},
            "pcts": {"$percentile": {"input": "$w", "p": [0.0, 1.0]},
                     "window": win},
            "cov": {"$covariancePop": ["$k", "$w"], "window": win},
            "mx": {"$max": "$v", "window": win},
            "sd": {"$stdDevPop": "$w", "window": win},
        }}}])
    r = {row["k"]: row for row in out.where("g = 1").collect()}
    # k=2.0's frame is [0.5, 2.5] -> all three g=1 rows
    assert r[2.0]["avg_v"] == 25.0
    assert r[2.0]["push_v"] == [10, None, 40]   # $push keeps nulls
    # $addToSet keeps null as a distinct element (Mongo parity)
    assert sorted(r[2.0]["set_v"], key=lambda x: (x is None, x)) == \
        [10, 40, None]
    assert r[2.0]["first_v"] == 10 and r[2.0]["last_v"] == 40
    assert r[2.0]["med_w"] == 2.0
    assert r[2.0]["pcts"] == [1.0, 5.0]
    assert r[2.0]["mx"] == 40
    # k=1.0's frame is [-0.5, 1.5] -> just itself
    assert r[1.0]["cov"] == 0.0 and r[1.0]["sd"] == 0.0
    # temp columns never leak into the stage output
    assert not [c for c in out.columns if c.startswith("__ts_wf_")]


def test_no_private_jvm_api_in_package():
    """r9 (VERDICT #1): the engine must survive Spark Connect, where
    ``SparkSession._jvm`` / ``Column._jc`` / ``DataFrame._jdf`` do not
    exist.  Grep-pin: no source file in the package touches any of
    them.  (``_jsc`` remains in exactly one place as a GRACEFUL
    capability probe inside try/except — materialize_iter's
    checkpoint-dir check, which degrades to localCheckpoint.)"""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    offenders = []
    for py in (root / "topic_store_spark").rglob("*.py"):
        text = py.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if "._jvm" in line or "._jc" in line or "._jdf" in line:
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_no_unguarded_classic_only_surface():
    """r10 (VERDICT #1): the r9 pin above misses the OTHER classic-only
    surface — bare ``sparkContext`` / ``.rdd`` (absent under Spark
    Connect).  AST-pin every attribute access to the explicit allowlist:
    the ``binaryFiles`` pickle scan (documented classic-only), the local
    classic session factory, and the two PROBES that carry a Connect
    fallback in their try/except (``ensure_parallelism`` +
    ``materialize_iter`` in operators/util.py, ``_respread_target`` in
    streaming/ingest.py).  A new use must either gain a fallback and a
    row here, or not exist."""
    import ast
    import pathlib
    from collections import Counter

    allowed = {
        ("filesystem.py", "sparkContext"): 1,  # binaryFiles pickle scan
        ("session.py", "sparkContext"): 1,  # local classic session factory
        # guarded probes (Connect fallback): ensure_parallelism,
        # materialize_iter, and r11's hash_partition
        ("util.py", "sparkContext"): 3,
        # guarded probes (Connect fallback): ensure_parallelism +
        # expose_cached_partitioning's plan-finalization probe (r12)
        ("util.py", "rdd"): 2,
        ("ingest.py", "sparkContext"): 1,  # _respread_target (no-op fallback)
        ("ingest.py", "rdd"): 1,  # _respread_target (no-op fallback)
    }
    root = pathlib.Path(__file__).resolve().parent.parent
    seen: Counter = Counter()
    where: dict = {}
    for py in (root / "topic_store_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in (
                "rdd",
                "sparkContext",
            ):
                seen[(py.name, node.attr)] += 1
                where.setdefault((py.name, node.attr), []).append(node.lineno)
    assert dict(seen) == allowed, {
        k: (seen.get(k), allowed.get(k), where.get(k))
        for k in set(seen) | set(allowed)
        if seen.get(k) != allowed.get(k)
    }


def test_lookup_suffix_dotted_paths(spark):
    """r8: dotted paths in $lookup suffix $addFields/$set/$unset write
    into / drop from NESTED structs per element; unsetting a missing
    path is a no-op (Mongo)."""
    from topic_store_spark.query.pipeline import apply_pipeline

    custs = spark.createDataFrame([(10,)], "cid int")
    orders = spark.createDataFrame(
        [(1, 10, ("x", 2)), (2, 10, ("y", 5))],
        "oid int, cust int, meta struct<tag:string, lvl:int>",
    )
    out = apply_pipeline(
        custs,
        [{"$lookup": {"from": "orders", "let": {"c": "$cid"},
                      "pipeline": [
                          {"$match": {"$expr": {"$eq": ["$cust", "$$c"]}}},
                          {"$sort": {"oid": 1}},
                          {"$set": {"meta.lvl": {"$add": ["$meta.lvl", 10]}}},
                          {"$unset": ["meta.tag", "nope.deep"]},
                      ], "as": "a"}}],
        tables={"orders": orders},
    )
    arr = out.collect()[0]["a"]
    assert [e["meta"].asDict() for e in arr] == [{"lvl": 12}, {"lvl": 15}]
    assert [e["oid"] for e in arr] == [1, 2]


def test_merge_let_variables(spark, tmp_path):
    """r10: $merge 'let' (Mongo 5.0) — variables evaluated against the
    INCOMING document, usable from the whenMatched pipeline; a custom
    let REPLACES the default {"new": "$$ROOT"} so $$new becomes unbound
    (server parity); let with a non-pipeline whenMatched and unknown
    $merge options refuse loudly."""
    import topic_store_spark as ts
    from topic_store_spark.query.pipeline import apply_pipeline

    path = str(tmp_path / "let_store.parquet")
    store = ts.load(path, spark)
    store.write_df(
        spark.createDataFrame([(1, 10), (2, 20)], "_id long, n long")
    )
    inc = spark.createDataFrame([(1, 5), (3, 7)], "_id long, n long")
    apply_pipeline(
        inc,
        [{"$merge": {
            "into": path,
            "let": {"boost": {"$multiply": ["$n", 10]}, "whole": "$$ROOT"},
            "whenMatched": [{"$set": {
                "n": {"$add": ["$n", "$$boost"]},
                "inc_n": "$$whole.n",
            }}],
        }}],
    )
    rows = {r["_id"]: (r["n"], r["inc_n"])
            for r in ts.load(path, spark).to_df().collect()}
    assert rows[1] == (60, 5)      # 10 + 5*10, $$whole.n carries 5
    assert rows[2] == (20, None)   # untouched; new column null
    assert rows[3] == (7, None)    # inserted as-is

    # custom let omits "new" -> $$new unbound, loud
    with pytest.raises(Exception, match="unbound.*new"):
        apply_pipeline(
            inc,
            [{"$merge": {
                "into": path, "let": {"x": 1},
                "whenMatched": [{"$set": {"n": "$$new.n"}}],
            }}],
        )
    # let without a whenMatched pipeline is a loud error (Mongo)
    with pytest.raises(ValueError, match="requires a whenMatched pipeline"):
        apply_pipeline(
            inc,
            [{"$merge": {"into": path, "let": {"x": 1},
                         "whenMatched": "replace"}}],
        )
    # unknown options never silently change what gets written
    with pytest.raises(ValueError, match="unsupported options"):
        apply_pipeline(inc, [{"$merge": {"into": path, "bogus": 1}}])


def test_merge_refuses_duplicate_on_keys(spark, tmp_path):
    """r10: Mongo requires a unique index on the 'on' fields — a
    set-oriented join over duplicate keys would silently DUPLICATE rows
    into the store (incoming side: the server applies them
    sequentially; target side: matching is ill-defined).  Both refuse
    loudly before anything is written."""
    import topic_store_spark as ts
    from topic_store_spark.query.pipeline import apply_pipeline

    path = str(tmp_path / "dup_store.parquet")
    ts.load(path, spark).write_df(
        spark.createDataFrame([(1, 10), (2, 20)], "_id long, n long")
    )
    dup_inc = spark.createDataFrame([(1, 5), (1, 6)], "_id long, n long")
    with pytest.raises(ValueError, match="duplicate 'on' keys.*incoming"):
        apply_pipeline(dup_inc, [{"$merge": {"into": path}}])
    # nothing was written
    assert ts.load(path, spark).to_df().count() == 2

    dup_path = str(tmp_path / "dup_target.parquet")
    ts.load(dup_path, spark).write_df(
        spark.createDataFrame([(1, 10), (1, 11)], "_id long, n long")
    )
    inc = spark.createDataFrame([(1, 5)], "_id long, n long")
    with pytest.raises(ValueError, match="duplicate 'on' keys.*target"):
        apply_pipeline(inc, [{"$merge": {"into": dup_path}}])


def test_out_merge_db_coll_form_refuses(spark):
    """r10: Mongo's {db, coll} target form has no storage-path analog —
    loud NotImplementedError instead of api.load choking on a dict."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame([(1,)], "n long")
    with pytest.raises(NotImplementedError, match="db, coll"):
        apply_pipeline(df, [{"$out": {"db": "d", "coll": "c"}}])
    with pytest.raises(NotImplementedError, match="db, coll"):
        apply_pipeline(
            df, [{"$merge": {"into": {"db": "d", "coll": "c"}}}]
        )


def test_count_on_empty_input_emits_no_document(spark):
    """Mongo $count desugars to $group{_id:null}+$project: an EMPTY
    input produces NO document (r11 fix — the engine's bare agg()
    emitted {c: 0})."""
    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame([(1, 5)], "n long, a long")
    out = apply_pipeline(
        df, [{"$match": {"a": {"$gt": 100}}}, {"$count": "c"}]
    ).collect()
    assert out == []
    out = apply_pipeline(df, [{"$count": "c"}]).collect()
    assert len(out) == 1 and out[0]["c"] == 1


def test_strip_physical_sort_edges():
    """r12 _strip_physical_sort: terminal sorts die (the facet/lookup
    collect+array_sort reimposes order), order-CONSUMING tails keep
    them, $sortByCount keeps its grouping half, and non-tail stages
    block the walk."""
    from topic_store_spark.query.pipeline import _strip_physical_sort

    m = {"$match": {"a": 1}}
    srt = {"$sort": {"n": 1}}
    # terminal sort stripped
    assert _strip_physical_sort([m, srt]) == [m]
    # sort followed by order-insensitive stages stripped too
    assert _strip_physical_sort([m, srt, {"$project": {"n": 1}}]) == [
        m, {"$project": {"n": 1}}]
    # $limit / $skip consume the order: kept
    for consumer in ({"$limit": 3}, {"$skip": 2}):
        sub = [m, srt, consumer]
        assert _strip_physical_sort(sub) == sub
    # $sortByCount -> internal grouping-only stage, spec wrapped in the
    # compiler-private marker (r12 ADVICE: the bare stage name must not
    # be constructible from user JSON)
    from topic_store_spark.query.pipeline import _InternalSpec

    stripped = _strip_physical_sort([m, {"$sortByCount": "$a"}])
    assert stripped[0] == m and list(stripped[1]) == ["$_countByValue"]
    assert isinstance(stripped[1]["$_countByValue"], _InternalSpec)
    assert stripped[1]["$_countByValue"].spec == "$a"
    # a grouping stage after the sort blocks the walk (sort feeds it)
    sub = [srt, {"$group": {"_id": "$a"}}]
    assert _strip_physical_sort(sub) == sub
    # no sort at all: unchanged
    assert _strip_physical_sort([m]) == [m]


def test_user_supplied_countbyvalue_rejected(spark):
    """r12 ADVICE: $_countByValue is compiler-internal; a user pipeline
    containing the bare name must error like any unknown stage, not
    silently compile as an unsorted $sortByCount."""
    import pytest as _pytest

    from topic_store_spark.query.pipeline import apply_pipeline

    df = spark.createDataFrame([(1,), (1,), (2,)], "a int")
    with _pytest.raises(ValueError, match=r"unsupported pipeline stage"):
        apply_pipeline(df, [{"$_countByValue": "$a"}])
    # the public stage still works, sorted
    out = apply_pipeline(df, [{"$sortByCount": "$a"}]).collect()
    assert [(r["_id"], r["count"]) for r in out] == [(1, 2), (2, 1)]
