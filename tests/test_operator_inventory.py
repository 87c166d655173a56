"""Inventory test pinning the "value-language complete vs the Mongo 7
manual" claim (COVERAGE.md §A4, r7; this test is the r8 judge ask).

The operator lists below are transcribed from the MongoDB 7.0 manual's
reference pages (aggregation expression operators, accumulators, window
operators, aggregation stages, query operators).  For every name the
test asserts exactly one of:

- a minimal probe form COMPILES (through ``compile_value`` /
  ``apply_pipeline`` / ``compile_query`` — Spark analysis runs, so an
  unresolved or unsupported operator fails loudly), or
- the name is on the DOCUMENTED-SKIPS list — in which case it must (a)
  be mentioned in COVERAGE.md so the docs can't silently rot, and (b)
  still REFUSE loudly when probed, so an accidental half-implementation
  can't hide behind the skip list.

If MongoDB adds operators in a later manual revision, extend the lists;
if an operator regresses, the probe breaks the build.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.usefixtures("spark")

#: minimal probe schema every probe compiles against
SCHEMA = (
    "_id long, n long, d double, s string, ts timestamp, "
    "arr array<long>, st struct<u: long, w: string>, b boolean"
)

OID = {"$literal": "0123456789abcdef01234567"}

# -- aggregation expression operators (manual: "Aggregation Operators") -----

EXPRESSION_PROBES: dict[str, object] = {
    # arithmetic
    "$abs": {"$abs": "$d"},
    "$add": {"$add": ["$d", 1]},
    "$ceil": {"$ceil": "$d"},
    "$divide": {"$divide": ["$d", 2]},
    "$exp": {"$exp": "$d"},
    "$floor": {"$floor": "$d"},
    "$ln": {"$ln": "$d"},
    "$log": {"$log": ["$d", 2]},
    "$log10": {"$log10": "$d"},
    "$mod": {"$mod": ["$n", 3]},
    "$multiply": {"$multiply": ["$d", 2]},
    "$pow": {"$pow": ["$d", 2]},
    "$round": {"$round": ["$d", 1]},
    "$sqrt": {"$sqrt": "$d"},
    "$subtract": {"$subtract": ["$d", 1]},
    "$trunc": {"$trunc": ["$d", 1]},
    # array
    "$arrayElemAt": {"$arrayElemAt": ["$arr", 0]},
    "$arrayToObject": {"$arrayToObject": [[{"k": "a", "v": 1}]]},
    "$concatArrays": {"$concatArrays": ["$arr", "$arr"]},
    "$filter": {"$filter": {"input": "$arr", "as": "x",
                            "cond": {"$gt": ["$$x", 0]}}},
    "$first": {"$first": "$arr"},
    "$firstN": {"$firstN": {"input": "$arr", "n": 2}},
    "$in": {"$in": [1, "$arr"]},
    "$indexOfArray": {"$indexOfArray": ["$arr", 1]},
    "$isArray": {"$isArray": ["$arr"]},
    "$last": {"$last": "$arr"},
    "$lastN": {"$lastN": {"input": "$arr", "n": 2}},
    "$map": {"$map": {"input": "$arr", "as": "x",
                      "in": {"$add": ["$$x", 1]}}},
    "$maxN": {"$maxN": {"input": "$arr", "n": 2}},
    "$minN": {"$minN": {"input": "$arr", "n": 2}},
    "$objectToArray": {"$objectToArray": "$st"},
    "$range": {"$range": [0, 5]},
    "$reduce": {"$reduce": {"input": "$arr", "initialValue": 0,
                            "in": {"$add": ["$$value", "$$this"]}}},
    "$reverseArray": {"$reverseArray": "$arr"},
    "$size": {"$size": "$arr"},
    "$slice": {"$slice": ["$arr", 2]},
    "$sortArray": {"$sortArray": {"input": "$arr", "sortBy": 1}},
    "$zip": {"$zip": {"inputs": ["$arr", "$arr"]}},
    # bitwise (6.3+)
    "$bitAnd": {"$bitAnd": ["$n", 1]},
    "$bitNot": {"$bitNot": "$n"},
    "$bitOr": {"$bitOr": ["$n", 1]},
    "$bitXor": {"$bitXor": ["$n", 1]},
    # boolean
    "$and": {"$and": ["$b", True]},
    "$not": {"$not": ["$b"]},
    "$or": {"$or": ["$b", False]},
    # comparison
    "$cmp": {"$cmp": ["$n", 1]},
    "$eq": {"$eq": ["$n", 1]},
    "$gt": {"$gt": ["$n", 1]},
    "$gte": {"$gte": ["$n", 1]},
    "$lt": {"$lt": ["$n", 1]},
    "$lte": {"$lte": ["$n", 1]},
    "$ne": {"$ne": ["$n", 1]},
    # conditional
    "$cond": {"$cond": {"if": "$b", "then": 1, "else": 2}},
    "$ifNull": {"$ifNull": ["$s", "x"]},
    "$switch": {"$switch": {"branches": [{"case": "$b", "then": 1}],
                            "default": 0}},
    # data size
    "$binarySize": {"$binarySize": "$s"},
    # date
    "$dateAdd": {"$dateAdd": {"startDate": "$ts", "unit": "day",
                              "amount": 1}},
    "$dateDiff": {"$dateDiff": {"startDate": "$ts", "endDate": "$ts",
                                "unit": "day"}},
    "$dateFromParts": {"$dateFromParts": {"year": 2020}},
    "$dateFromString": {"$dateFromString": {"dateString": "2020-01-01"}},
    "$dateSubtract": {"$dateSubtract": {"startDate": "$ts", "unit": "day",
                                        "amount": 1}},
    "$dateToParts": {"$dateToParts": {"date": "$ts"}},
    "$dateToString": {"$dateToString": {"date": "$ts"}},
    "$dateTrunc": {"$dateTrunc": {"date": "$ts", "unit": "week",
                                  "startOfWeek": "thursday"}},
    "$dayOfMonth": {"$dayOfMonth": "$ts"},
    "$dayOfWeek": {"$dayOfWeek": "$ts"},
    "$dayOfYear": {"$dayOfYear": "$ts"},
    "$hour": {"$hour": "$ts"},
    "$isoDayOfWeek": {"$isoDayOfWeek": "$ts"},
    "$isoWeek": {"$isoWeek": "$ts"},
    "$isoWeekYear": {"$isoWeekYear": "$ts"},
    "$millisecond": {"$millisecond": "$ts"},
    "$minute": {"$minute": "$ts"},
    "$month": {"$month": "$ts"},
    "$second": {"$second": "$ts"},
    "$toDate": {"$toDate": "$ts"},
    "$week": {"$week": "$ts"},
    "$year": {"$year": "$ts"},
    # literal
    "$literal": {"$literal": 5},
    # miscellaneous
    "$getField": {"$getField": {"field": "u", "input": "$st"}},
    "$rand": {"$rand": {}},
    # object
    "$mergeObjects": {"$mergeObjects": ["$st", "$st"]},
    "$setField": {"$setField": {"field": "u", "input": "$st", "value": 1}},
    "$unsetField": {"$unsetField": {"field": "u", "input": "$st"}},
    # set
    "$allElementsTrue": {"$allElementsTrue": ["$arr"]},
    "$anyElementTrue": {"$anyElementTrue": ["$arr"]},
    "$setDifference": {"$setDifference": ["$arr", "$arr"]},
    "$setEquals": {"$setEquals": ["$arr", "$arr"]},
    "$setIntersection": {"$setIntersection": ["$arr", "$arr"]},
    "$setIsSubset": {"$setIsSubset": ["$arr", "$arr"]},
    "$setUnion": {"$setUnion": ["$arr", "$arr"]},
    # string
    "$concat": {"$concat": ["$s", "x"]},
    "$indexOfBytes": {"$indexOfBytes": ["$s", "a"]},
    "$indexOfCP": {"$indexOfCP": ["$s", "a"]},
    "$ltrim": {"$ltrim": {"input": "$s"}},
    "$regexFind": {"$regexFind": {"input": "$s", "regex": "a"}},
    "$regexFindAll": {"$regexFindAll": {"input": "$s", "regex": "a"}},
    "$regexMatch": {"$regexMatch": {"input": "$s", "regex": "a"}},
    "$replaceOne": {"$replaceOne": {"input": "$s", "find": "a",
                                    "replacement": "b"}},
    "$replaceAll": {"$replaceAll": {"input": "$s", "find": "a",
                                    "replacement": "b"}},
    "$rtrim": {"$rtrim": {"input": "$s"}},
    "$split": {"$split": ["$s", ","]},
    "$strLenBytes": {"$strLenBytes": "$s"},
    "$strLenCP": {"$strLenCP": "$s"},
    "$strcasecmp": {"$strcasecmp": ["$s", "a"]},
    "$substr": {"$substr": ["$s", 0, 1]},
    "$substrBytes": {"$substrBytes": ["$s", 0, 1]},
    "$substrCP": {"$substrCP": ["$s", 0, 1]},
    "$toLower": {"$toLower": "$s"},
    "$toUpper": {"$toUpper": "$s"},
    "$trim": {"$trim": {"input": "$s"}},
    # trigonometry
    "$sin": {"$sin": "$d"},
    "$cos": {"$cos": "$d"},
    "$tan": {"$tan": "$d"},
    "$asin": {"$asin": {"$divide": ["$d", 100]}},
    "$acos": {"$acos": {"$divide": ["$d", 100]}},
    "$atan": {"$atan": "$d"},
    "$atan2": {"$atan2": ["$d", 1]},
    "$asinh": {"$asinh": "$d"},
    "$acosh": {"$acosh": {"$add": ["$d", 2]}},
    "$atanh": {"$atanh": {"$divide": ["$d", 100]}},
    "$sinh": {"$sinh": "$d"},
    "$cosh": {"$cosh": "$d"},
    "$tanh": {"$tanh": "$d"},
    "$degreesToRadians": {"$degreesToRadians": "$d"},
    "$radiansToDegrees": {"$radiansToDegrees": "$d"},
    # type
    "$convert": {"$convert": {"input": "$n", "to": "long"}},
    "$isNumber": {"$isNumber": "$d"},
    "$toBool": {"$toBool": "$n"},
    "$toDecimal": {"$toDecimal": "$n"},
    "$toDouble": {"$toDouble": "$n"},
    "$toInt": {"$toInt": "$n"},
    "$toLong": {"$toLong": "$n"},
    "$toObjectId": {"$toObjectId": OID},
    "$toString": {"$toString": "$n"},
    "$type": {"$type": "$d"},
    # variables
    "$let": {"$let": {"vars": {"x": 1}, "in": {"$add": ["$$x", 1]}}},
}

#: documented expression-language skips (COVERAGE.md §A4) — none used by
#: the reference
EXPRESSION_SKIPS = {
    "$bsonSize": {"$bsonSize": "$st"},
    "$meta": {"$meta": "textScore"},
    "$function": {"$function": {"body": "x", "args": [], "lang": "js"}},
    "$toHashedIndexKey": {"$toHashedIndexKey": "$s"},
    "$tsSecond": {"$tsSecond": "$ts"},
    "$tsIncrement": {"$tsIncrement": "$ts"},
}

# -- accumulators ($group; manual: "Accumulators ($group)") ------------------

GROUP_PROBES: dict[str, object] = {
    "$addToSet": {"$addToSet": "$n"},
    "$avg": {"$avg": "$d"},
    "$bottom": {"$bottom": {"sortBy": {"n": 1}, "output": "$n"}},
    "$bottomN": {"$bottomN": {"sortBy": {"n": 1}, "output": "$n", "n": 2}},
    "$count": {"$count": {}},
    "$first": {"$first": "$n"},
    "$firstN": {"$firstN": {"input": "$n", "n": 2}},
    "$last": {"$last": "$n"},
    "$lastN": {"$lastN": {"input": "$n", "n": 2}},
    "$max": {"$max": "$n"},
    "$maxN": {"$maxN": {"input": "$n", "n": 2}},
    "$median": {"$median": {"input": "$d", "method": "approximate"}},
    "$mergeObjects": {"$mergeObjects": "$st"},
    "$min": {"$min": "$n"},
    "$minN": {"$minN": {"input": "$n", "n": 2}},
    "$percentile": {"$percentile": {"input": "$d", "p": [0.5],
                                    "method": "approximate"}},
    "$push": {"$push": "$n"},
    "$stdDevPop": {"$stdDevPop": "$d"},
    "$stdDevSamp": {"$stdDevSamp": "$d"},
    "$sum": {"$sum": "$n"},
    "$top": {"$top": {"sortBy": {"n": 1}, "output": "$n"}},
    "$topN": {"$topN": {"sortBy": {"n": 1}, "output": "$n", "n": 2}},
}

GROUP_SKIPS = {
    "$accumulator": {"$accumulator": {
        "init": "x", "accumulate": "x", "accumulateArgs": [],
        "merge": "x", "lang": "js",
    }},
}

# -- window operators beyond the accumulators ($setWindowFields) -------------

WINDOW_PROBES: dict[str, object] = {
    "$covariancePop": {"$covariancePop": ["$d", "$d"]},
    "$covarianceSamp": {"$covarianceSamp": ["$d", "$d"]},
    "$denseRank": {"$denseRank": {}},
    "$derivative": {"$derivative": {"input": "$d"},
                    "window": {"documents": [-1, 0]}},
    "$documentNumber": {"$documentNumber": {}},
    "$expMovingAvg": {"$expMovingAvg": {"input": "$d", "N": 2}},
    "$integral": {"$integral": {"input": "$d"},
                  "window": {"documents": [-1, 0]}},
    "$linearFill": {"$linearFill": "$d"},
    "$locf": {"$locf": "$d"},
    "$rank": {"$rank": {}},
    "$shift": {"$shift": {"output": "$d", "by": 1}},
}

# -- aggregation stages ------------------------------------------------------

STAGE_PROBES: dict[str, object] = {
    "$addFields": {"$addFields": {"x": 1}},
    "$bucket": {"$bucket": {"groupBy": "$n", "boundaries": [0, 100],
                            "default": "o", "output": {"c": {"$sum": 1}}}},
    "$bucketAuto": {"$bucketAuto": {"groupBy": "$n", "buckets": 2}},
    "$count": {"$count": "c"},
    "$densify": {"$densify": {"field": "n",
                              "range": {"step": 1, "bounds": [0, 2]}}},
    "$documents": {"$documents": [{"a": 1}]},
    "$facet": {"$facet": {"a": [{"$count": "c"}]}},
    "$fill": {"$fill": {"sortBy": {"n": 1},
                        "output": {"d": {"method": "locf"}}}},
    "$graphLookup": {"$graphLookup": {
        "from": "t2", "startWith": "$n", "connectFromField": "n",
        "connectToField": "n", "as": "g"}},
    "$group": {"$group": {"_id": "$s", "c": {"$sum": 1}}},
    "$limit": {"$limit": 1},
    "$lookup": {"$lookup": {"from": "t2", "localField": "n",
                            "foreignField": "n", "as": "m"}},
    "$match": {"$match": {"n": {"$gte": 0}}},
    "$project": {"$project": {"n": 1}},
    "$redact": {"$redact": {"$cond": [{"$eq": [1, 1]},
                                      "$$KEEP", "$$PRUNE"]}},
    "$replaceRoot": {"$replaceRoot": {"newRoot": "$st"}},
    "$replaceWith": {"$replaceWith": "$st"},
    "$sample": {"$sample": {"size": 1}},
    "$set": {"$set": {"x": 1}},
    "$setWindowFields": {"$setWindowFields": {
        "sortBy": {"n": 1}, "output": {"r": {"$rank": {}}}}},
    "$skip": {"$skip": 1},
    "$sort": {"$sort": {"n": 1}},
    "$sortByCount": {"$sortByCount": "$s"},
    "$unionWith": {"$unionWith": {"coll": "t2"}},
    "$unset": {"$unset": "s"},
    "$unwind": {"$unwind": "$arr"},
}

#: side-effectful stages exercised by dedicated tests (probing here
#: would write): $out -> test_query_compiler.py::test_pipeline_out,
#: $merge -> test_query_compiler.py merge-matrix tests
STAGE_EXEMPT = {"$out", "$merge"}

#: server-administration / change-stream / Atlas-search stages with no
#: batch-engine analog — documented non-goals (COVERAGE.md)
STAGE_SKIPS = {
    "$changeStream", "$changeStreamSplitLargeEvent", "$collStats",
    "$currentOp", "$indexStats", "$listLocalSessions",
    "$listSampledQueries", "$listSearchIndexes", "$listSessions",
    "$planCacheStats", "$queryStats", "$shardedDataDistribution",
    "$geoNear", "$search", "$searchMeta", "$vectorSearch",
}

# -- query (find-dialect) operators ------------------------------------------

FIND_PROBES: dict[str, object] = {
    "$eq": {"n": {"$eq": 1}},
    "$ne": {"n": {"$ne": 1}},
    "$gt": {"n": {"$gt": 1}},
    "$gte": {"n": {"$gte": 1}},
    "$lt": {"n": {"$lt": 1}},
    "$lte": {"n": {"$lte": 1}},
    "$in": {"n": {"$in": [1]}},
    "$nin": {"n": {"$nin": [1]}},
    "$and": {"$and": [{"n": 1}]},
    "$not": {"n": {"$not": {"$gt": 1}}},
    "$nor": {"$nor": [{"n": 1}]},
    "$or": {"$or": [{"n": 1}]},
    "$exists": {"n": {"$exists": True}},
    "$type": {"n": {"$type": "long"}},
    "$expr": {"$expr": {"$gt": ["$n", 0]}},
    "$jsonSchema": {"$jsonSchema": {"required": ["n"]}},
    "$mod": {"n": {"$mod": [2, 0]}},
    "$regex": {"s": {"$regex": "a", "$options": "i"}},
    "$all": {"arr": {"$all": [1]}},
    "$elemMatch": {"arr": {"$elemMatch": {"$gt": 0}}},
    "$size": {"arr": {"$size": 1}},
    "$bitsAllClear": {"n": {"$bitsAllClear": 1}},
    "$bitsAllSet": {"n": {"$bitsAllSet": 1}},
    "$bitsAnyClear": {"n": {"$bitsAnyClear": 1}},
    "$bitsAnySet": {"n": {"$bitsAnySet": 1}},
    "$comment": {"$comment": "x", "n": 1},
    "$sampleRate": {"$sampleRate": 0.5},
}

FIND_SKIPS = {
    "$where": {"$where": "this.n > 1"},
    "$text": {"$text": {"$search": "x"}},
    "$near": {"n": {"$near": {"$geometry": {}}}},
    "$nearSphere": {"n": {"$nearSphere": {"$geometry": {}}}},
    "$geoIntersects": {"n": {"$geoIntersects": {"$geometry": {}}}},
    "$geoWithin": {"n": {"$geoWithin": {"$geometry": {}}}},
}


@pytest.fixture(scope="module")
def probe_df(spark):
    return spark.createDataFrame([], SCHEMA)


@pytest.fixture(scope="module")
def tables(probe_df):
    return {"t2": probe_df}


def test_expression_operators_compile(spark, probe_df):
    from topic_store_spark.query.pipeline import _schema_scope, compile_value

    failures = []
    for op, probe in EXPRESSION_PROBES.items():
        try:
            with _schema_scope(probe_df.schema):
                probe_df.select(compile_value(probe).alias("x"))
        except Exception as exc:  # noqa: BLE001
            failures.append((op, repr(exc)[:120]))
    assert not failures, f"{len(failures)} expression ops broke: {failures}"


def test_group_accumulators_compile(spark, probe_df):
    from topic_store_spark.query.pipeline import apply_pipeline

    containers = {
        "$group": lambda probe: {"_id": None, "x": probe},
        "$bucket": lambda probe: {"groupBy": "$n", "boundaries": [0, 100],
                                  "default": "o", "output": {"x": probe}},
        "$bucketAuto": lambda probe: {"groupBy": "$n", "buckets": 2,
                                      "output": {"x": probe}},
    }
    failures = []
    for op, probe in GROUP_PROBES.items():
        for stage, spec in containers.items():
            try:
                apply_pipeline(probe_df, [{stage: spec(probe)}])
            except Exception as exc:  # noqa: BLE001
                failures.append((stage, op, repr(exc)[:120]))
    assert not failures, f"{len(failures)} accumulators broke: {failures}"


def test_window_operators_compile(spark, probe_df):
    from topic_store_spark.query.pipeline import apply_pipeline

    failures = []
    for op, probe in WINDOW_PROBES.items():
        try:
            apply_pipeline(
                probe_df,
                [{"$setWindowFields": {"sortBy": {"n": 1},
                                       "output": {"x": dict(probe)}}}],
            )
        except Exception as exc:  # noqa: BLE001
            failures.append((op, repr(exc)[:120]))
    assert not failures, f"{len(failures)} window ops broke: {failures}"


def test_stages_compile(spark, probe_df, tables):
    from topic_store_spark.query.pipeline import apply_pipeline

    failures = []
    for op, probe in STAGE_PROBES.items():
        try:
            apply_pipeline(probe_df, [probe], tables=tables)
        except Exception as exc:  # noqa: BLE001
            failures.append((op, repr(exc)[:120]))
    assert not failures, f"{len(failures)} stages broke: {failures}"


def test_find_operators_compile(spark, probe_df):
    from topic_store_spark.query.compiler import compile_query

    failures = []
    for op, probe in FIND_PROBES.items():
        try:
            probe_df.filter(compile_query(probe, probe_df.schema))
        except Exception as exc:  # noqa: BLE001
            failures.append((op, repr(exc)[:120]))
    assert not failures, f"{len(failures)} find ops broke: {failures}"


def test_documented_skips_refuse_and_stay_documented(spark, probe_df):
    """Every skip must BOTH refuse loudly when probed AND be named in
    COVERAGE.md — implementing one silently, or dropping it from the
    docs, breaks this test (the r8 anti-rot pin)."""
    from topic_store_spark.query.compiler import compile_query
    from topic_store_spark.query.pipeline import (
        _schema_scope,
        apply_pipeline,
        compile_value,
    )

    coverage = open("COVERAGE.md").read()
    undocumented, compiled = [], []

    def compile_value_scoped(df, probe):
        with _schema_scope(df.schema):
            return compile_value(probe).alias("x")

    def probe_must_fail(name, fn):
        if name not in coverage:
            undocumented.append(name)
        try:
            fn()
        except Exception:  # noqa: BLE001 — loud refusal is the contract
            return
        compiled.append(name)

    for op, probe in EXPRESSION_SKIPS.items():
        probe_must_fail(
            op,
            lambda probe=probe: probe_df.select(
                compile_value_scoped(probe_df, probe)
            ),
        )
    for op, probe in GROUP_SKIPS.items():
        probe_must_fail(
            op,
            lambda probe=probe: apply_pipeline(
                probe_df, [{"$group": {"_id": None, "x": probe}}]
            ),
        )
    for op in sorted(STAGE_SKIPS):
        probe_must_fail(
            op,
            lambda op=op: apply_pipeline(probe_df, [{op: {}}]),
        )
    for op, probe in FIND_SKIPS.items():
        probe_must_fail(
            op,
            lambda probe=probe: probe_df.filter(
                compile_query(probe, probe_df.schema)
            ),
        )

    assert not undocumented, (
        f"skipped operators missing from COVERAGE.md: {undocumented}"
    )
    assert not compiled, (
        f"operators on the skip list now compile — move them to the "
        f"probe lists: {compiled}"
    )


def test_inventories_are_disjoint():
    assert not set(EXPRESSION_PROBES) & set(EXPRESSION_SKIPS)
    assert not set(GROUP_PROBES) & set(GROUP_SKIPS)
    assert not set(STAGE_PROBES) & (STAGE_SKIPS | STAGE_EXEMPT)
    assert not set(FIND_PROBES) & set(FIND_SKIPS)
