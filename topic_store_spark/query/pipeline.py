"""Mongo aggregation pipeline subset -> DataFrame operations.

Parity (SURVEY §2.5 A4, reference database.py:206-217 pass-through):
``$match $project $group $sort $limit $skip $unwind $count $addFields
$set $unset $replaceRoot $replaceWith $sample $setWindowFields $fill
$densify $facet $graphLookup $unionWith $bucket $bucketAuto $sortByCount
$out $merge`` with accumulator operators ``$sum $avg $min $max $first
$last $push $addToSet`` and a value-expression language covering field
refs (``"$a.b"``), literals, arithmetic/boolean/comparison/math ops,
string and cast ops, set ops (``$setUnion/$setIntersection/
$setDifference``), array higher-order ops (``$filter/$map/$reduce`` with
``$$variable`` bindings -> Spark higher-order functions), branch/doc ops
(``$switch $mergeObjects $objectToArray $arrayToObject $getField``),
array ops (``$concatArrays $slice $indexOfArray $range $zip
$reverseArray $sortArray``), set predicates (``$setEquals $setIsSubset
$anyElementTrue $allElementsTrue``), ``$isNumber``, the time-series
window ops (``$derivative $integral`` — trapezoidal, documents frames,
single-WindowExec), string ops
(``$trim/$ltrim/$rtrim $replaceOne $replaceAll $regexMatch
$regexFind $regexFindAll``), bit ops (``$bitAnd $bitOr $bitXor $bitNot``), ``$let`` variable
binding, ``$strcasecmp $indexOfCP $indexOfBytes``,
accumulators ``$median $percentile`` (exact continuous percentiles) and
the n-ary family ``$top $bottom $topN $bottomN $firstN $lastN $maxN
$minN`` (in ``$group``, ``$setWindowFields``, ``$bucket`` and
``$bucketAuto`` — one collect per group, sorted/sliced JVM-side), the
``$convert``/``$toX`` cast family with ``onError``/``onNull`` (incl.
``$toObjectId``), ``$rand``, ``$substrBytes``/``$substr``/
``$strLenBytes``, the trig/angle/log family (``$sin .. $atanh $atan2
$log $log10 $degreesToRadians $radiansToDegrees``), window gap-fill
operators ``$locf``/``$linearFill``, value-based window frames
(``window: {range: [lo, hi], unit?}`` -> Spark rangeBetween over the
ascending sortBy key), date arithmetic (``$dateAdd $dateSubtract $dateDiff
$dateTrunc $dateFromString $dateToParts`` — boundary-crossing
$dateDiff; timezone-aware throughout: UTC, fixed ±HH:MM offsets AND
IANA zone names with real DST rules via the JVM tzdb, differentially
checked against Python zoneinfo in tests/test_tz_differential.py),
type introspection (``$type $isArray $binarySize``), array-expression
forms of the accumulator names (``$first $last $firstN $lastN $maxN
$minN $sum $avg``) and the date-part operators the reference's legacy
session pipeline uses (reference database.py:243-256:
``$dateFromParts`` + ``$year`` .. ``$second`` applied to ObjectId
creation time).

Static-schema dialect decisions (documented divergences): ``$switch``
with no default and no matching branch yields null (Mongo errors);
``$arrayToObject`` returns a MAP (dynamic keys can't be a static
struct); ``$mergeObjects`` treats a null struct FIELD as
present-with-null; ``$regexFind`` non-participating captures are ``""``
not null; ``$indexOfArray`` can't search FOR null; ``$type`` reports a missing
field as ``"null"``, never ``"missing"`` (parquet cannot distinguish
them); truthiness of statically UNclassifiable expressions falls back
to a boolean cast (see ``_truthy_expr``).

Each stage maps to one declarative DataFrame op, so Catalyst still owns
optimization: a ``$match`` early in the pipeline pushes into the scan,
``$group`` gets map-side partial aggregation, ``$sort``+``$limit``
becomes TakeOrderedAndProject.

Error/null semantics follow MongoDB, differentially fuzz-verified
(tests/test_value_expr_fuzz.py): comparisons and boolean ops are
TWO-VALUED (null-safe ``$eq``, null-lowest ordering, truthiness in
``$cond``/``$and``/``$or``/``$not``); ``$arrayElemAt`` out of range is
missing, never an error; ``$sum`` is 0 over nothing numeric and
``$push``/``$addToSet`` keep null elements.  Where Mongo itself ERRORS
(``$divide``/``$mod`` by zero, ``$toLong``/``$toInt`` of a malformed
string), ANSI Spark erroring is parity, deliberately kept.
"""

from __future__ import annotations

import contextlib as _contextlib
import re as _re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from topic_store_spark.objectid import generation_time
from topic_store_spark.query.compiler import compile_query, path_col


#: schema of the document stream the CURRENT stage's value expressions
#: run against (a stack — $facet/$lookup sub-pipelines nest).  Field
#: refs to paths absent from the active schema resolve to NULL (Mongo:
#: a missing field is simply missing), instead of failing analysis.
#: Stages that compile against a DIFFERENT relation (the $lookup foreign
#: side) push their own scope, so outer-schema checks never misfire.
_ACTIVE_SCHEMA: list = []


@_contextlib.contextmanager
def _schema_scope(schema):
    _ACTIVE_SCHEMA.append(schema)
    try:
        yield
    finally:
        _ACTIVE_SCHEMA.pop()


def _truthy(col: Column) -> Column:
    """Mongo expression truthiness as a non-null boolean: null/missing,
    false and 0 are falsy, everything else truthy.  The two-valued
    boundary every `$cond`/`$and`/`$or`/`$not` input crosses — a bare
    NULL literal condition must select the else-branch, not fail
    analysis as a VOID CASE WHEN.

    This is the UNTYPED fallback (boolean cast).  Prefer
    :func:`_truthy_expr`, which statically classifies the expression and
    gets string/array/document truthiness right (Mongo: ANY string is
    truthy, including ``""`` and ``"false"`` — a boolean cast would
    throw under ANSI or parse ``"false"`` to falsy)."""
    return F.coalesce(col.cast("boolean"), F.lit(False))


#: operator -> static result KIND for truthiness classification.
#: "always": truthy iff non-null (strings, arrays, documents, dates,
#: binary — every BSON value except booleans and numbers is truthy when
#: present); "bool"/"number": value-dependent; "null": constant falsy.
_STRING_OPS = {
    "$concat", "$toLower", "$toUpper", "$toString", "$substrCP",
    "$dateToString", "$trim", "$ltrim", "$rtrim", "$replaceOne",
    "$replaceAll", "$toObjectId", "$substrBytes", "$type",
}
_ARRAY_OPS = {
    "$filter", "$map", "$setUnion", "$setIntersection", "$setDifference",
    "$concatArrays", "$slice", "$range", "$zip", "$objectToArray",
    "$split", "$reverseArray", "$sortArray", "$regexFindAll",
    "$firstN", "$lastN", "$maxN", "$minN",
}
_NUMBER_OPS = {
    "$add", "$subtract", "$multiply", "$divide", "$mod", "$abs", "$ceil",
    "$floor", "$round", "$trunc", "$sqrt", "$exp", "$ln", "$pow", "$size",
    "$strLenCP", "$indexOfArray", "$toInt", "$toLong", "$toDouble",
    "$toDecimal", "$millisecond", "$dateDiff", "$year", "$month",
    "$dayOfMonth", "$hour", "$minute", "$second", "$dayOfYear",
    "$dayOfWeek", "$isoDayOfWeek", "$isoWeek", "$isoWeekYear", "$week",
    "$bitAnd", "$bitOr", "$bitXor", "$bitNot", "$strcasecmp", "$indexOfCP",
    "$indexOfBytes", "$cmp",
    "$rand", "$log", "$log10", "$atan2", "$binarySize", "$sum", "$avg",
    "$degreesToRadians", "$radiansToDegrees",
    "$sin", "$cos", "$tan", "$asin", "$acos", "$atan",
    "$sinh", "$cosh", "$tanh", "$asinh", "$acosh", "$atanh",
}
#: Mongo unary trig op -> same-named pyspark.sql.functions function
_TRIG_UNARY = {
    f"${n}": n
    for n in ("sin", "cos", "tan", "asin", "acos", "atan",
              "sinh", "cosh", "tanh", "asinh", "acosh", "atanh")
}
_BOOL_OPS = {
    "$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$and", "$or", "$not",
    "$in", "$toBool", "$regexMatch", "$setEquals", "$setIsSubset",
    "$anyElementTrue", "$allElementsTrue", "$isNumber", "$isArray",
}
_ALWAYS_OPS = (
    _STRING_OPS
    | _ARRAY_OPS
    | {"$mergeObjects", "$regexFind", "$arrayToObject", "$toDate",
       "$dateFromParts", "$dateAdd", "$dateSubtract", "$dateTrunc",
       "$dateFromString", "$setField", "$unsetField", "$dateToParts"}
)


def _truthy_kind(expr: Any, vars_: dict[str, Column] | None = None) -> str | None:
    """Statically classify an expression for truthiness: "always"
    (truthy iff non-null), "bool", "number", "null", or None (unknown,
    falls back to the boolean-cast path)."""
    if expr is None:
        return "null"
    if isinstance(expr, bool):
        return "bool"
    if isinstance(expr, (int, float)):
        return "number"
    if isinstance(expr, list):
        return "always"
    if isinstance(expr, str):
        if expr.startswith("$$"):
            return None
        if expr.startswith("$"):
            return _kind_of_type(_resolve_path_type(expr[1:]))
        return "always"  # string literal — Mongo: all strings truthy
    if not isinstance(expr, dict):
        return None
    if len(expr) == 1:
        op, arg = next(iter(expr.items()))
        if op.startswith("$"):
            if op == "$literal":
                return _truthy_kind(arg if not isinstance(arg, (dict, list)) else [])
            if op in _ALWAYS_OPS:
                return "always"
            if op in _NUMBER_OPS:
                return "number"
            if op in _BOOL_OPS:
                return "bool"
            if op == "$cond":
                branches = (
                    [arg.get("then"), arg.get("else")]
                    if isinstance(arg, dict)
                    else arg[1:]
                )
                return _same_kind(branches, vars_)
            if op == "$ifNull":
                return _same_kind(arg, vars_)
            if op == "$switch":
                branches = [b.get("then") for b in arg.get("branches", [])]
                if "default" in arg:
                    branches.append(arg["default"])
                return _same_kind(branches, vars_)
            if op == "$let":
                return _truthy_kind(arg.get("in"), vars_)
            return None
    return "always"  # plain document -> struct(), never null


def _same_kind(exprs: list, vars_) -> str | None:
    kinds = {_truthy_kind(e, vars_) for e in exprs}
    kinds.discard("null")  # a null branch is falsy under every kind
    return kinds.pop() if len(kinds) == 1 and None not in kinds else None


def _kind_of_type(t) -> str | None:
    from pyspark.sql import types as T

    if t is None:
        return None
    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, T.NullType):
        return "null"
    if isinstance(t, (T.StringType, T.ArrayType, T.StructType, T.MapType,
                      T.TimestampType, T.TimestampNTZType, T.DateType,
                      T.BinaryType)):
        return "always"
    if isinstance(t, T.NumericType):
        return "number"
    return None


def _resolve_path_type(path: str):
    """Resolved Spark type of a dotted path against the active stage
    schema, or None when no schema is active / the path is absent.
    (A path that traverses an array reports the ELEMENT-level type; for
    truthiness both map to "always", so the distinction is moot here.)"""
    if not _ACTIVE_SCHEMA or _ACTIVE_SCHEMA[-1] is None:
        return None
    from pyspark.sql import types as T

    node = _ACTIVE_SCHEMA[-1]
    for part in path.split("."):
        while isinstance(node, T.ArrayType):
            node = node.elementType
        if not isinstance(node, T.StructType):
            return None
        match = next((f for f in node.fields if f.name == part), None)
        if match is None:
            return T.NullType()
        node = match.dataType
    return node


def _truthy_expr(expr: Any, vars_: dict[str, Column] | None = None) -> Column:
    """Compile ``expr`` and apply Mongo truthiness using its STATIC kind:
    strings/arrays/documents/dates are truthy whenever present (no
    boolean cast — ANSI would throw on ``"abc"`` and silently parse
    ``"false"``), numbers test ``!= 0``, booleans pass through.  Only
    statically UNclassifiable expressions ($$var refs, $arrayElemAt /
    $reduce / $getField results, mixed-kind $cond branches) fall back to
    the boolean cast, where a boolean-parseable string operand would
    still diverge — the one documented truthiness gap."""
    kind = _truthy_kind(expr, vars_)
    col = compile_value(expr, vars_)
    if kind == "null":
        return F.lit(False)
    if kind == "always":
        return col.isNotNull()
    if kind == "bool":
        return F.coalesce(col, F.lit(False))
    if kind == "number":
        return F.coalesce(col != F.lit(0), F.lit(False))
    return _truthy(col)


def _as_timestamp(col: Column) -> Column:
    """Date-part helper: ObjectId strings resolve to their generation time,
    anything else casts to timestamp (reference database.py:250-256 applies
    date parts to ObjectId-derived times)."""
    text = col.cast("string")
    return F.when(
        text.rlike("^[0-9a-fA-F]{24}$"), generation_time(text)
    ).otherwise(col.cast("timestamp"))


def compile_value(expr: Any, vars_: dict[str, Column] | None = None) -> Column:
    """Mongo value expression -> Column.

    ``vars_`` carries ``$$variable`` bindings introduced by the array
    higher-order operators (``$filter``/``$map``/``$reduce``): ``"$$x"``
    resolves to the bound Column, ``"$$x.field"`` to a field access on
    it.

    Field refs resolve against the enclosing stage's ``_schema_scope``
    when one is active: a path absent from the document stream is NULL
    (Mongo: a missing field is missing), never an analysis error."""
    if isinstance(expr, str) and expr.startswith("$$"):
        name, _, rest = expr[2:].partition(".")
        if not vars_ or name not in vars_:
            raise ValueError(f"unbound expression variable: $${name}")
        col = vars_[name]
        for part in rest.split(".") if rest else []:
            col = col[part]
        return col
    if isinstance(expr, str) and expr.startswith("$"):
        schema = _ACTIVE_SCHEMA[-1] if _ACTIVE_SCHEMA else None
        return path_col(expr[1:], schema)
    if isinstance(expr, (int, float, bool)) or expr is None:
        return F.lit(expr)
    if isinstance(expr, str):
        return F.lit(expr)
    if isinstance(expr, list):
        return F.array(*[compile_value(e, vars_) for e in expr])
    if not isinstance(expr, dict):
        raise ValueError(f"unsupported value expression: {expr!r}")
    if len(expr) == 1:
        op, arg = next(iter(expr.items()))
        if op.startswith("$"):
            return _compile_value_op(op, arg, vars_)
    # plain document -> struct
    return F.struct(
        *[compile_value(v, vars_).alias(str(k)) for k, v in expr.items()]
    )


def _iso_day_of_week(ts: Column) -> Column:
    return F.weekday(ts) + 1  # Spark weekday: 0=Monday; ISO: 1=Monday


_DATE_PARTS = {
    "$year": F.year,
    "$month": F.month,
    "$dayOfMonth": F.dayofmonth,
    "$hour": F.hour,
    "$minute": F.minute,
    "$second": F.second,
    "$dayOfYear": F.dayofyear,
    # Mongo and Spark agree: 1=Sunday .. 7=Saturday
    "$dayOfWeek": F.dayofweek,
    "$isoDayOfWeek": _iso_day_of_week,
    "$isoWeek": F.weekofyear,  # Spark weekofyear IS the ISO week
    # ISO week-numbering year = calendar year of the week's Thursday
    "$isoWeekYear": lambda ts: F.year(
        F.date_add(F.to_date(ts), F.lit(4) - _iso_day_of_week(ts))
    ),
    # strftime %U: Sunday-started week, days before the first Sunday
    # are week 0 — (yday + 7 - wday) // 7 with 1-based yday/wday
    "$week": lambda ts: F.floor(
        (F.dayofyear(ts) + F.lit(7) - F.dayofweek(ts)) / 7
    ).cast("int"),
}

_VARIADIC = {
    "$add": lambda cols: _fold(cols, lambda a, b: a + b),
    "$subtract": lambda cols: _fold(cols, lambda a, b: a - b),
    "$multiply": lambda cols: _fold(cols, lambda a, b: a * b),
    "$divide": lambda cols: _fold(cols, lambda a, b: a / b),
    "$concat": lambda cols: F.concat(*cols),
}


def _fold(cols: list[Column], fn) -> Column:
    out = cols[0]
    for col in cols[1:]:
        out = fn(out, col)
    return out


def _compile_value_op(
    op: str, arg: Any, vars_: dict[str, Column] | None = None
) -> Column:
    def cv(e: Any) -> Column:
        return compile_value(e, vars_)

    if op == "$literal":
        return F.lit(arg)
    if op in _VARIADIC:
        return _VARIADIC[op]([cv(a) for a in arg])
    if op in _DATE_PARTS:
        # bare-expression form, or {date: ..., timezone: ...}
        if isinstance(arg, dict) and "date" in arg:
            ts = _tz_local(_as_timestamp(cv(arg["date"])), _tz_name(op, arg))
        else:
            ts = _as_timestamp(cv(arg))
        return _DATE_PARTS[op](ts)
    if op == "$millisecond":
        # dict form accepted for parity; milliseconds are tz-invariant
        # (every zone offset is whole minutes)
        inner = arg["date"] if isinstance(arg, dict) and "date" in arg else arg
        ts = _as_timestamp(cv(inner))
        return (ts.cast("double") * 1000 % 1000).cast("int")
    if op == "$dateFromParts":
        get = lambda k, d: cv(arg[k]) if k in arg else F.lit(d)  # noqa: E731
        # the parts describe WALL time in `timezone`; store-side is UTC
        return _tz_unlocal(
            F.make_timestamp(
                cv(arg["year"]),
                get("month", 1),
                get("day", 1),
                get("hour", 0),
                get("minute", 0),
                get("second", 0).cast("double")
                + get("millisecond", 0) / 1000.0,
            ),
            _tz_name(op, arg),
        )
    if op == "$floor":
        return F.floor(cv(arg))
    if op == "$mod":
        left, right = (cv(a) for a in arg)
        return left % right
    if op == "$round":
        if isinstance(arg, list):
            value, place = cv(arg[0]), arg[1] if len(arg) > 1 else 0
        else:
            value, place = cv(arg), 0
        return F.round(value, int(place))
    if op == "$arrayElemAt":
        array, idx = cv(arg[0]), int(arg[1])
        # Mongo is 0-based (negative = from the end); element_at is
        # 1-based.  try_element_at, not element_at: an out-of-range
        # index is MISSING (null) in Mongo, where ANSI element_at
        # raises and kills the whole job (caught by
        # tests/test_value_expr_fuzz.py).
        return F.try_element_at(array, F.lit(idx + 1 if idx >= 0 else idx))
    if op == "$split":
        # Mongo $split is a literal-delimiter split; Spark's is regex
        if not (isinstance(arg[1], str) and not arg[1].startswith("$")):
            raise ValueError("$split delimiter must be a string literal")
        import re

        return F.split(cv(arg[0]), re.escape(arg[1]))
    if op == "$toLower":
        return F.lower(cv(arg))
    if op == "$toUpper":
        return F.upper(cv(arg))
    if op == "$size":
        return F.size(cv(arg))
    if op == "$ifNull":
        return F.coalesce(*[cv(a) for a in arg])
    if op == "$cond":
        if isinstance(arg, dict):
            branches = [arg["if"], arg["then"], arg["else"]]
        else:
            branches = arg
        return F.when(
            _truthy_expr(branches[0], vars_), cv(branches[1])
        ).otherwise(cv(branches[2]))
    if op in ("$eq", "$ne", "$gt", "$gte", "$lt", "$lte"):
        # Mongo aggregation comparisons are TWO-VALUED over the BSON
        # total order, never SQL three-valued: {$eq: [x, null]} is the
        # null test (true/false), and null sorts BELOW every value, so
        # {$gt: [5, null]} is TRUE and {$lt: [null, 5]} is TRUE.
        # (Cross-TYPE ordering is out of the dialect's scope; within a
        # type the order is the engine's.)  Differentially verified by
        # tests/test_value_expr_fuzz.py.
        left, right = (cv(a) for a in arg)
        eq = left.eqNullSafe(right)
        gt = (left.isNotNull() & right.isNull()) | F.coalesce(
            left > right, F.lit(False)
        )
        lt = (left.isNull() & right.isNotNull()) | F.coalesce(
            left < right, F.lit(False)
        )
        return {
            "$eq": eq, "$ne": ~eq, "$gt": gt, "$gte": gt | eq,
            "$lt": lt, "$lte": lt | eq,
        }[op]
    if op == "$cmp":
        # three-way comparator over the same BSON total order as the
        # comparison family above (null below every value, two-valued)
        left, right = (cv(a) for a in arg)
        eq = left.eqNullSafe(right)
        gt = (left.isNotNull() & right.isNull()) | F.coalesce(
            left > right, F.lit(False)
        )
        return (
            F.when(eq, F.lit(0)).when(gt, F.lit(1)).otherwise(F.lit(-1))
        )
    if op == "$and":
        # Mongo $and/$or/$not evaluate TRUTHINESS (null/false/0 falsy)
        # and always return true/false, never null
        return _fold([_truthy_expr(a, vars_) for a in arg], lambda a, b: a & b)
    if op == "$or":
        return _fold([_truthy_expr(a, vars_) for a in arg], lambda a, b: a | b)
    if op == "$not":
        inner = arg[0] if isinstance(arg, list) else arg
        return ~_truthy_expr(inner, vars_)
    if op == "$in":
        needle, haystack = cv(arg[0]), cv(arg[1])
        return F.array_contains(haystack, needle)
    if op == "$abs":
        return F.abs(cv(arg))
    if op == "$ceil":
        return F.ceil(cv(arg))
    if op == "$sqrt":
        return F.sqrt(cv(arg))
    if op == "$exp":
        return F.exp(cv(arg))
    if op == "$ln":
        return F.log(cv(arg))
    if op == "$log":
        num, base = cv(arg[0]), cv(arg[1])
        return F.log(num) / F.log(base)
    if op == "$log10":
        return F.log10(cv(arg))
    if op in _TRIG_UNARY:
        inner = arg[0] if isinstance(arg, list) else arg
        return getattr(F, _TRIG_UNARY[op])(cv(inner))
    if op == "$atan2":
        return F.atan2(cv(arg[0]).cast("double"), cv(arg[1]).cast("double"))
    if op == "$degreesToRadians":
        return F.radians(cv(arg))
    if op == "$radiansToDegrees":
        return F.degrees(cv(arg))
    if op == "$pow":
        base, exponent = (cv(a) for a in arg)
        return F.pow(base, exponent)
    if op == "$trunc":
        if isinstance(arg, list):
            value, place = cv(arg[0]), int(arg[1]) if len(arg) > 1 else 0
        else:
            value, place = cv(arg), 0
        scale = 10**place
        return F.floor(value * scale) / scale if place else F.floor(value)
    if op == "$min":  # expression form (aggregation form handled by $group)
        return F.least(*[cv(a) for a in arg])
    if op == "$max":
        return F.greatest(*[cv(a) for a in arg])
    if op == "$strLenCP":
        return F.length(cv(arg))
    if op == "$strLenBytes":
        return F.octet_length(cv(arg))
    if op == "$substrCP":
        value, start, count = cv(arg[0]), cv(arg[1]), cv(arg[2])
        return F.substring(value, start + F.lit(1), count)  # Mongo is 0-based
    if op in ("$substrBytes", "$substr"):
        # BYTE-indexed substring ($substr is its legacy alias): slice the
        # UTF-8 encoding, then decode.  Mongo ERRORS when the range
        # splits a multi-byte char; the dialect yields replacement chars
        # instead (can't raise per-row) — exact for ASCII, documented.
        value, start, count = cv(arg[0]), cv(arg[1]), cv(arg[2])
        return F.decode(
            F.substring(F.encode(value, "UTF-8"), start + F.lit(1), count),
            "UTF-8",
        )
    if op == "$rand":
        # uniform [0, 1) per document; nondeterministic, like Mongo
        return F.rand()
    if op in _CONVERT_ALIASES:
        return _convert_value(arg, _CONVERT_ALIASES[op], None, None, vars_)
    if op == "$convert":
        return _convert_value(
            arg["input"], arg["to"], arg.get("onError"), arg.get("onNull"),
            vars_,
        )
    if op == "$setUnion":
        return _fold([cv(a) for a in arg], F.array_union)
    if op == "$setIntersection":
        return _fold([cv(a) for a in arg], F.array_intersect)
    if op == "$setDifference":
        left, right = (cv(a) for a in arg)
        return F.array_except(left, right)
    if op == "$dateToString":
        fmt = arg.get("format", "%Y-%m-%dT%H:%M:%S")
        tz = _tz_name(op, arg)
        ts_utc = _as_timestamp(cv(arg["date"]))
        local = _tz_local(ts_utc, tz)
        if any(d in fmt for d in _COMPOSED_DIRECTIVES):
            formatted = _compose_date_format(fmt, local, ts_utc)
        else:
            formatted = F.date_format(local, _java_date_fmt(fmt))
        if "onNull" in arg:
            return F.coalesce(formatted, cv(arg["onNull"]).cast("string"))
        return formatted
    if op == "$filter":
        inp = cv(arg["input"])
        name = arg.get("as", "this")

        def _fpred(x: Column) -> Column:
            # Mongo $filter cond uses expression truthiness too
            return _truthy_expr(arg["cond"], {**(vars_ or {}), name: x})

        return F.filter(inp, _fpred)
    if op == "$map":
        inp = cv(arg["input"])
        name = arg.get("as", "this")

        def _fmap(x: Column) -> Column:
            return compile_value(arg["in"], {**(vars_ or {}), name: x})

        return F.transform(inp, _fmap)
    if op == "$reduce":
        inp = cv(arg["input"])
        init = cv(arg["initialValue"])
        # Spark's aggregate() requires the merge lambda's type to equal the
        # init type exactly; widen numeric literal inits so {initialValue: 0}
        # folds bigint/double arrays the way Mongo's dynamic typing does
        if isinstance(arg["initialValue"], bool):
            pass
        elif isinstance(arg["initialValue"], int):
            init = init.cast("long")
        elif isinstance(arg["initialValue"], float):
            init = init.cast("double")

        def _fred(acc: Column, x: Column) -> Column:
            return compile_value(
                arg["in"], {**(vars_ or {}), "value": acc, "this": x}
            )

        return F.aggregate(inp, init, _fred)
    if op == "$switch":
        branches = arg["branches"]
        if not branches:
            raise ValueError("$switch requires at least one branch")
        built: Column | None = None
        for b in branches:
            cond, then = _truthy_expr(b["case"], vars_), cv(b["then"])
            built = F.when(cond, then) if built is None else built.when(cond, then)
        if "default" in arg:
            built = built.otherwise(cv(arg["default"]))
        # no default + no matching branch: Mongo raises at runtime; a
        # Column cannot raise per-row, so the document gets NULL
        # (documented divergence, fuzzer-excluded)
        return built
    if op == "$mergeObjects":
        return _merge_objects(arg if isinstance(arg, list) else [arg], vars_)
    if op == "$objectToArray":
        return _object_to_array(arg, vars_)
    if op == "$arrayToObject":
        # Mongo returns a document; documents with data-dependent keys
        # cannot be a static Spark struct, so the engine's honest
        # representation is a MAP.  Both input forms: {k, v} structs,
        # and — when the STATIC type is array<array<..>> (homogeneous
        # values, so the pair is a typed 2-array) — the [k, v] pair
        # form (r7).  A pair form with MIXED value types would need a
        # heterogeneous array, which a fixed schema cannot hold.
        from pyspark.sql import types as T

        inner = arg[0] if isinstance(arg, list) and len(arg) == 1 else arg
        entries = cv(inner)
        pair_form = False
        if (
            isinstance(inner, str)
            and inner.startswith("$")
            and not inner.startswith("$$")
        ):
            t = _resolve_path_type(inner[1:])
            pair_form = isinstance(t, T.ArrayType) and isinstance(
                t.elementType, T.ArrayType
            )
        if pair_form:
            return F.map_from_entries(
                F.transform(
                    entries,
                    lambda x: F.struct(
                        F.element_at(x, 1).cast("string").alias("k"),
                        F.element_at(x, 2).alias("v"),
                    ),
                )
            )
        return F.map_from_entries(
            F.transform(entries, lambda x: F.struct(x["k"], x["v"]))
        )
    if op == "$getField":
        return _get_field(arg, vars_)
    if op in ("$setField", "$unsetField"):
        # literal field names only (static schema); backticks stop any
        # dot in the name from being traversed as a path — the whole
        # point of the $*Field family
        field = arg["field"]
        if not isinstance(field, str):
            raise ValueError(f"{op}: field must be a string literal")
        inp = cv(arg["input"])
        if op == "$unsetField" or arg.get("value") == "$$REMOVE":
            return inp.dropFields(f"`{field}`")
        return inp.withField(f"`{field}`", cv(arg["value"]))
    if op == "$concatArrays":
        # Mongo: null if ANY operand is null — matches Spark concat
        return F.concat(*[cv(a) for a in arg])
    if op == "$slice":
        arr = cv(arg[0])
        if len(arg) == 2:
            n = cv(arg[1]).cast("int")
            start = F.when(n >= 0, F.lit(1)).otherwise(
                F.greatest(F.size(arr) + n + 1, F.lit(1))
            )
            return F.slice(arr, start, F.abs(n))
        pos, n = cv(arg[1]).cast("int"), cv(arg[2]).cast("int")
        # pos >= 0 skips pos elements; pos < 0 counts from the end,
        # clamped to the start (Mongo).  slice() past the end is empty.
        start = F.when(pos >= 0, pos + 1).otherwise(
            F.greatest(F.size(arr) + pos + 1, F.lit(1))
        )
        return F.slice(arr, start, n)
    if op == "$indexOfArray":
        arr, needle = cv(arg[0]), cv(arg[1])
        start = cv(arg[2]).cast("int") if len(arg) > 2 else F.lit(0)
        end = cv(arg[3]).cast("int") if len(arg) > 3 else F.size(arr)
        window = F.slice(arr, start + 1, F.greatest(end - start, F.lit(0)))
        pos = F.array_position(window, needle)
        # array_position cannot locate NULL elements (returns null) —
        # Mongo can; searching FOR null is the one unsupported corner
        return (
            F.when(arr.isNull(), F.lit(None).cast("long"))
            .when(pos > 0, pos - 1 + start)
            .otherwise(F.lit(-1))
        )
    if op == "$range":
        start, end = cv(arg[0]).cast("int"), cv(arg[1]).cast("int")
        step = cv(arg[2]).cast("int") if len(arg) > 2 else F.lit(1)
        # Mongo's end is EXCLUSIVE, sequence()'s stop is inclusive; and
        # sequence errors when the step sign disagrees with the
        # direction, where Mongo yields [] — guard both
        ascending = (step > 0) & (start < end)
        descending = (step < 0) & (start > end)
        return (
            F.when(
                ascending, F.sequence(start, end - 1, step)
            )
            .when(descending, F.sequence(start, end + 1, step))
            .otherwise(F.array().cast("array<int>"))
        )
    if op == "$zip":
        return _zip_arrays(arg, vars_)
    if op == "$let":
        # bind each var Column (expressions, not materializations — the
        # substitution is free), then compile `in` under the extended
        # scope; vars may reference earlier vars in the same spec (Mongo)
        scope = dict(vars_ or {})
        for vname, vexpr in arg["vars"].items():
            scope[vname] = compile_value(vexpr, scope)
        return compile_value(arg["in"], scope)
    if op == "$strcasecmp":
        # Mongo coerces null/missing to "" ($toLower-family semantics):
        # strcasecmp(null, "x") is -1, not 0 (r6 advisor find — the
        # previous otherwise-0 fallback swallowed null operands)
        a, b = (F.coalesce(F.lower(cv(x)), F.lit("")) for x in arg)
        return (
            F.when(a < b, F.lit(-1)).when(a > b, F.lit(1)).otherwise(F.lit(0))
        )
    if op == "$indexOfCP":
        s, sub = cv(arg[0]), cv(arg[1])
        start = cv(arg[2]).cast("int") if len(arg) > 2 else F.lit(0)
        end = cv(arg[3]).cast("int") if len(arg) > 3 else F.length(s)
        pos = F.position(sub, s, start + 1) - 1
        # Mongo searches the [start, end) SUBSTRING: the match must lie
        # fully inside the range, so a match that starts before `end` but
        # extends past it is -1 (r6 advisor find — was `pos < end`)
        return (
            F.when(s.isNull(), F.lit(None).cast("int"))
            .when((pos >= start) & (pos + F.length(sub) <= end), pos.cast("int"))
            .otherwise(F.lit(-1))
        )
    if op == "$indexOfBytes":
        # BYTE index of the first occurrence (Mongo's UTF-8 sibling of
        # $indexOfCP): locate by code point, then measure the prefix's
        # UTF-8 length.  The byte-ranged 3/4-arg form would have to
        # slice mid-code-point, which decode() cannot represent —
        # refused loudly rather than silently wrong.
        if isinstance(arg, list) and len(arg) > 2:
            raise NotImplementedError(
                "$indexOfBytes: byte-ranged start/end not supported "
                "(byte offsets can split UTF-8 code points)"
            )
        s, sub = cv(arg[0]), cv(arg[1])
        pos_cp = F.position(sub, s)
        byte_idx = F.octet_length(F.substring(s, F.lit(1), pos_cp - 1))
        return (
            F.when(s.isNull(), F.lit(None).cast("int"))
            .when(pos_cp > 0, byte_idx.cast("int"))
            .otherwise(F.lit(-1))
        )
    if op == "$reverseArray":
        return F.reverse(cv(arg))
    if op == "$sortArray":
        by = arg.get("sortBy", 1)
        if by not in (1, -1):
            raise ValueError("$sortArray: only scalar sortBy 1/-1 is supported")
        # Spark sort_array: asc nulls first, desc nulls last — exactly
        # Mongo's null-lowest order in both directions
        return F.sort_array(cv(arg["input"]), asc=by == 1)
    if op == "$setEquals":
        raw = [cv(a) for a in arg]
        sets = [F.sort_array(F.array_distinct(r)) for r in raw]
        eq = _fold(
            [s.eqNullSafe(sets[0]) for s in sets[1:]], lambda a, b: a & b
        )
        # dialect: a null operand nulls the result (Mongo errors)
        any_null = _fold([r.isNull() for r in raw], lambda a, b: a | b)
        return F.when(~any_null, eq)
    if op == "$setIsSubset":
        left, right = (cv(a) for a in arg)
        return F.size(F.array_except(left, right)) == 0
    if op in ("$anyElementTrue", "$allElementsTrue"):
        inner = arg[0] if isinstance(arg, list) else arg
        quantifier = F.exists if op == "$anyElementTrue" else F.forall
        return F.coalesce(
            quantifier(cv(inner), _truthy), F.lit(op == "$allElementsTrue")
        )
    if op == "$isNumber":
        kind = _truthy_kind(arg, vars_)
        if kind == "number":
            return cv(arg).isNotNull()
        if kind in ("always", "bool", "null"):
            return F.lit(False)
        raise ValueError("$isNumber: cannot statically type the operand")
    if op == "$dateFromString":
        # the string is LOCAL time in `timezone`; store-side is UTC.
        # With onError the parse runs lenient (try_to_timestamp -> null
        # -> onError); without it, ANSI erroring IS Mongo parity.
        # onNull replaces a null/missing dateString.
        fmt = arg.get("format")
        ds = cv(arg["dateString"])
        parse = F.try_to_timestamp if "onError" in arg else F.to_timestamp
        ts = parse(ds) if fmt is None else parse(ds, F.lit(_java_date_fmt(fmt)))
        res = _tz_unlocal(ts, _tz_name(op, arg))
        if "onError" in arg:
            res = F.coalesce(res, cv(arg["onError"]).cast("timestamp"))
        if "onError" in arg or "onNull" in arg:
            # a null dateString is the onNull case (plain null when
            # absent) — it must NOT fall through to onError
            on_null = (
                cv(arg["onNull"]).cast("timestamp")
                if "onNull" in arg
                else F.lit(None).cast("timestamp")
            )
            res = F.when(ds.isNull(), on_null).otherwise(res)
        return res
    if op in ("$trim", "$ltrim", "$rtrim"):
        inp = cv(arg["input"])
        # Mongo's default trim set: null, tab, LF, VT, FF, CR, space
        chars = (
            cv(arg["chars"]) if "chars" in arg
            else F.lit(" \t\n\r\x00\x0b\x0c")
        )
        fn = {"$trim": F.btrim, "$ltrim": F.ltrim, "$rtrim": F.rtrim}[op]
        return fn(inp, chars)
    if op == "$replaceAll":
        # literal (non-regex) replacement, like Mongo
        return F.replace(cv(arg["input"]), cv(arg["find"]), cv(arg["replacement"]))
    if op == "$replaceOne":
        inp, find, repl = cv(arg["input"]), cv(arg["find"]), cv(arg["replacement"])
        pos = F.position(find, inp)
        return F.when(pos == 0, inp).otherwise(
            F.concat(
                F.substring(inp, F.lit(1), pos - 1),
                repl,
                F.substring(inp, pos + F.length(find), F.length(inp)),
            )
        )
    if op == "$regexMatch":
        # null/missing input doesn't match (false, not null), per Mongo
        return F.coalesce(
            cv(arg["input"]).rlike(_regex_pattern(arg)), F.lit(False)
        )
    if op == "$regexFind":
        return _regex_find(arg, vars_)
    if op == "$regexFindAll":
        return _regex_find_all(arg, vars_)
    if op in ("$bitAnd", "$bitOr", "$bitXor"):
        vals = [cv(a).cast("long") for a in arg]
        fns = {
            "$bitAnd": lambda a, b: a.bitwiseAND(b),
            "$bitOr": lambda a, b: a.bitwiseOR(b),
            "$bitXor": lambda a, b: a.bitwiseXOR(b),
        }
        return _fold(vals, fns[op])
    if op == "$bitNot":
        inner = arg[0] if isinstance(arg, list) else arg
        return F.bitwise_not(cv(inner).cast("long"))
    if op in ("$dateAdd", "$dateSubtract"):
        # Calendar (day+) units add in the LOCAL wall time — keeping
        # 09:00 local 09:00 across a DST transition is the point of the
        # timezone argument (Mongo's documented behavior).  Sub-day
        # units add ABSOLUTE elapsed time (also Mongo): straight
        # timestamp_add on the UTC instant, no localization — which
        # sidesteps DST-gap resolution entirely.
        unit = _date_unit(arg["unit"])
        tz = _tz_name(op, arg)
        amount = cv(arg["amount"]).cast("int")
        if op == "$dateSubtract":
            amount = -amount
        ts = _as_timestamp(cv(arg["startDate"]))
        if unit in ("HOUR", "MINUTE", "SECOND", "MILLISECOND"):
            return F.timestamp_add(unit, amount, ts)
        return _tz_unlocal(
            F.timestamp_add(unit, amount, _tz_local(ts, tz)), tz
        )
    if op == "$dateDiff":
        # Mongo counts unit-BOUNDARY crossings, not elapsed whole units
        # (23:00 -> 01:00 next day is 1 "day"): truncate both ends to
        # the unit boundary, then diff — aligned starts make
        # timestamp_diff exact.  Boundaries live in the local timezone.
        unit = _date_unit(arg["unit"])
        tz = _tz_name(op, arg)
        trunc = _unit_trunc(arg["unit"], arg.get("startOfWeek"))
        s = trunc(_tz_local(_as_timestamp(cv(arg["startDate"])), tz))
        e = trunc(_tz_local(_as_timestamp(cv(arg["endDate"])), tz))
        return F.timestamp_diff(unit, s, e)
    if op == "$dateTrunc":
        tz = _tz_name(op, arg)
        if int(arg.get("binSize", 1)) != 1:
            raise ValueError("$dateTrunc: only binSize=1 is supported")
        trunc = _unit_trunc(arg["unit"], arg.get("startOfWeek"))
        return _tz_unlocal(
            trunc(_tz_local(_as_timestamp(cv(arg["date"])), tz)), tz
        )
    if op == "$dateToParts":
        ts = _tz_local(_as_timestamp(cv(arg["date"])), _tz_name(op, arg))
        ms = (ts.cast("double") * 1000 % 1000).cast("int")
        if arg.get("iso8601"):
            return F.struct(
                _DATE_PARTS["$isoWeekYear"](ts).alias("isoWeekYear"),
                F.weekofyear(ts).alias("isoWeek"),
                _iso_day_of_week(ts).alias("isoDayOfWeek"),
                F.hour(ts).alias("hour"),
                F.minute(ts).alias("minute"),
                F.second(ts).alias("second"),
                ms.alias("millisecond"),
            )
        return F.struct(
            F.year(ts).alias("year"),
            F.month(ts).alias("month"),
            F.dayofmonth(ts).alias("day"),
            F.hour(ts).alias("hour"),
            F.minute(ts).alias("minute"),
            F.second(ts).alias("second"),
            ms.alias("millisecond"),
        )
    if op == "$isArray":
        inner = arg[0] if isinstance(arg, list) and len(arg) == 1 else arg
        kind = _static_value_type(inner, vars_)
        if kind == "array":
            return compile_value(inner, vars_).isNotNull()
        if kind is None:
            raise ValueError("$isArray: cannot statically type the operand")
        return F.lit(False)
    if op == "$type":
        # BSON type name from the STATIC Spark type; null-ness is the
        # one runtime test.  Fixed-schema divergence (documented in the
        # module header): a missing field reads as "null", never
        # "missing" — parquet cannot distinguish the two.
        inner = arg[0] if isinstance(arg, list) and len(arg) == 1 else arg
        return _bson_type_name(inner, vars_)
    if op == "$binarySize":
        # bytes of a string's UTF-8 encoding or of a binary value;
        # null input -> null (Mongo)
        inner = arg[0] if isinstance(arg, list) and len(arg) == 1 else arg
        return F.octet_length(cv(inner))
    if op in ("$first", "$last"):
        # ARRAY-expression form (Mongo 4.4): first/last element; null
        # array -> null, empty array -> missing (null).  The $group /
        # $setWindowFields ACCUMULATOR of the same name never reaches
        # compile_value.
        inner = arg[0] if isinstance(arg, list) and len(arg) == 1 else arg
        return F.try_element_at(cv(inner), F.lit(1 if op == "$first" else -1))
    if op in ("$firstN", "$lastN", "$maxN", "$minN"):
        # ARRAY-expression forms (Mongo 5.2).  firstN/lastN keep nulls
        # (positional); maxN/minN IGNORE nulls (ordering), like their
        # accumulator namesakes.  n > size yields the whole (filtered)
        # array; n must be a positive integer literal or expression.
        arr = cv(arg["input"])
        n = cv(arg["n"]).cast("int")
        if op == "$firstN":
            return F.slice(arr, F.lit(1), n)
        if op == "$lastN":
            return F.slice(
                arr, F.greatest(F.size(arr) - n + 1, F.lit(1)), n
            )
        nn = F.filter(arr, lambda x: x.isNotNull())
        ordered = F.sort_array(nn, asc=op == "$minN")
        return F.slice(ordered, F.lit(1), n)
    if op in ("$sum", "$avg"):
        # EXPRESSION forms ($project/$addFields): a list sums/averages
        # its operands; a single array expression folds its elements.
        # Mongo ignores null/missing operands; $sum of nothing is 0,
        # $avg of nothing is null.  (The $group accumulators of the
        # same names never reach compile_value.)
        if isinstance(arg, list):
            # statically non-numeric operands are IGNORED (Mongo skips
            # non-numeric values, booleans included) — and skipping them
            # here also avoids a per-row ANSI cast failure
            numeric = [
                a for a in arg
                if _static_value_type(a, vars_)
                not in ("string", "array", "struct", "bool")
            ]
            if not numeric:
                return F.lit(0) if op == "$sum" else F.lit(None).cast("double")
            cols = [cv(a) for a in numeric]
            if op == "$sum":
                return _fold(
                    [F.coalesce(c, F.lit(0)) for c in cols],
                    lambda a, b: a + b,
                )
            cnt = _fold(
                [c.isNotNull().cast("int") for c in cols], lambda a, b: a + b
            )
            total = _fold(
                [F.coalesce(c.cast("double"), F.lit(0.0)) for c in cols],
                lambda a, b: a + b,
            )
            return F.when(cnt > 0, total / cnt)
        return _fold_array_numeric(op, arg, vars_)
    raise ValueError(f"unsupported value operator: {op}")


def _fold_array_numeric(op: str, arg: Any, vars_) -> Column:
    """``{$sum: <array>}`` / ``{$avg: <array>}``: fold the non-null
    elements.  The accumulator type follows the array's STATIC element
    type when the operand is a plain field path (integral -> long,
    else double); $avg is always double (Mongo).  A scalar operand is
    its own sum ($sum: missing -> 0) and its own average."""
    from pyspark.sql import types as T

    col = compile_value(arg, vars_)
    kind = _static_value_type(arg, vars_)
    if kind == "number":
        if op == "$sum":
            return F.coalesce(col, F.lit(0))
        return col.cast("double")
    if kind in ("string", "struct", "bool", "null"):
        # non-numeric, non-array operand: $sum -> 0, $avg -> null
        return F.lit(0) if op == "$sum" else F.lit(None).cast("double")
    if kind != "array":
        raise ValueError(f"{op}: cannot statically type the operand")
    elem = None
    if (
        isinstance(arg, str)
        and arg.startswith("$")
        and not arg.startswith("$$")
    ):
        t = _resolve_path_type(arg[1:])
        if isinstance(t, T.ArrayType):
            elem = t.elementType
    if elem is not None and not isinstance(elem, T.NumericType):
        # Mongo ignores non-numeric elements entirely: a string array
        # sums to 0 / averages to null.  Static, so no per-row ANSI
        # cast failure.
        return F.lit(0) if op == "$sum" else F.lit(None).cast("double")
    acc_t = (
        "long"
        if isinstance(elem, (T.IntegralType,))
        else "double"
    )
    nn = F.filter(col, lambda x: x.isNotNull())
    if op == "$sum":
        total = F.aggregate(
            nn, F.lit(0).cast(acc_t), lambda a, x: a + x.cast(acc_t)
        )
        return F.coalesce(total, F.lit(0).cast(acc_t))
    total = F.aggregate(nn, F.lit(0.0), lambda a, x: a + x.cast("double"))
    return F.when(F.size(nn) > 0, total / F.size(nn))


#: $toX shorthand -> $convert target name
_CONVERT_ALIASES = {
    "$toBool": "bool", "$toInt": "int", "$toLong": "long",
    "$toDouble": "double", "$toDecimal": "decimal",
    "$toString": "string", "$toDate": "date", "$toObjectId": "objectId",
}

#: BSON numeric type ids accepted by $convert's `to`
_CONVERT_IDS = {
    1: "double", 2: "string", 7: "objectId", 8: "bool",
    9: "date", 16: "int", 18: "long", 19: "decimal",
}

#: conversion target -> Spark result type (decimal maps to double —
#: the engine's numeric tower, documented divergence from decimal128)
_CONVERT_SPARK_T = {
    "int": "int", "long": "long", "double": "double", "decimal": "double",
    "string": "string", "bool": "boolean", "date": "timestamp",
    "objectId": "string",
}

_OBJECTID_RE = "^[0-9a-fA-F]{24}$"


def _convert_value(
    input_expr: Any, to: Any, on_error: Any, on_null: Any, vars_
) -> Column:
    """``$convert`` and the ``$toX`` shorthands, with Mongo
    ``onError``/``onNull`` semantics.

    - ``onNull`` replaces a null/missing INPUT; ``onError`` replaces a
      failed conversion.  With ``onError`` present the conversion runs
      lenient (``try_cast`` -> null -> onError); without it, ANSI cast
      erroring IS Mongo parity ($convert without onError errors too).
    - Mongo rules per target: any string/date/array/document is truthy
      for ``bool``; date -> numeric is epoch MILLIS; numeric -> date
      reads epoch millis; string -> int/long accepts integer strings
      only; ``objectId`` accepts 24-hex strings (lowercased).
    - Dialect decisions (documented): ``decimal`` maps to double;
      ``onError``/``onNull`` values must cast to the TARGET type (Spark
      columns are single-typed — Mongo would let them be any type);
      an invalid objectId with no onError yields null (can't raise
      per-row from a vectorized plan); statically-untypeable inputs
      (``$$var`` refs) use a numeric-first fallback for ``bool``.
    """
    from pyspark.sql import types as T

    to_name = _CONVERT_IDS.get(to, to)
    if to_name not in _CONVERT_SPARK_T:
        raise ValueError(f"$convert: unsupported target type {to!r}")
    col = compile_value(input_expr, vars_)
    kind = _static_value_type(input_expr, vars_)
    is_date_in = False
    if (
        isinstance(input_expr, str)
        and input_expr.startswith("$")
        and not input_expr.startswith("$$")
    ):
        is_date_in = isinstance(
            _resolve_path_type(input_expr[1:]),
            (T.TimestampType, T.TimestampNTZType, T.DateType),
        )
    elif isinstance(input_expr, dict) and len(input_expr) == 1:
        is_date_in = next(iter(input_expr)) in {
            "$toDate", "$dateFromParts", "$dateAdd", "$dateSubtract",
            "$dateTrunc", "$dateFromString",
        }
    lenient = on_error is not None

    def cast(c: Column, t: str) -> Column:
        return c.try_cast(t) if lenient else c.cast(t)

    if to_name == "bool":
        if kind == "bool":
            conv = col
        elif kind == "number" and not is_date_in:
            conv = col != F.lit(0)
        elif kind in ("string", "array", "struct") or is_date_in:
            conv = F.lit(True)  # present non-numeric values are truthy
        else:
            d = col.try_cast("double")
            conv = F.when(d.isNotNull(), d != F.lit(0)).otherwise(F.lit(True))
    elif to_name == "string":
        conv = col.cast("string")
    elif to_name in ("int", "long", "double", "decimal"):
        t = _CONVERT_SPARK_T[to_name]
        if is_date_in:
            # Mongo: date -> numeric is epoch milliseconds
            conv = cast(col.cast("timestamp").cast("double") * 1000, t)
        else:
            conv = cast(col, t)
    elif to_name == "date":
        if kind == "number" and not is_date_in:
            # Mongo: numeric input is epoch milliseconds
            conv = F.timestamp_millis(cast(col, "long"))
        elif is_date_in:
            conv = col.cast("timestamp")
        elif lenient:
            s = col.cast("string")
            conv = F.when(
                s.rlike(_OBJECTID_RE), generation_time(s)
            ).otherwise(F.try_to_timestamp(s))
        else:
            conv = _as_timestamp(col)  # ObjectId-aware; ANSI error parity
    else:  # objectId
        s = col.cast("string")
        conv = F.when(s.rlike(_OBJECTID_RE), F.lower(s))

    target_t = _CONVERT_SPARK_T[to_name]
    null_repl = (
        compile_value(on_null, vars_).cast(target_t)
        if on_null is not None
        else F.lit(None).cast(target_t)
    )
    result = F.when(col.isNull(), null_repl)
    if on_error is not None:
        err_repl = compile_value(on_error, vars_).cast(target_t)
        return result.otherwise(F.coalesce(conv, err_repl))
    return result.otherwise(conv)


#: Mongo % directive -> Java DateTimeFormatter pattern.  Absent on
#: purpose: %G/%V/%u (ISO year/week/weekday — DateTimeFormatter's
#: Y/w/e are LOCALE week fields, silently wrong for ISO), %w
#: (1=Sunday weekday number, no Java pattern) and %z/%Z (the offset of
#: the LOCALIZED time, which a bare pattern letter can't render after
#: from_utc_timestamp strips the zone); ``$dateToString`` COMPOSES
#: those from part expressions instead (`_compose_date_format`);
#: ``$dateFromString`` refuses them loudly.
_JAVA_FMT = {
    "%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH", "%M": "mm",
    "%S": "ss", "%L": "SSS", "%j": "DDD",
}

#: directives date_format cannot render — formatted by part composition
_COMPOSED_DIRECTIVES = ("%G", "%V", "%u", "%w", "%z", "%Z")


def _compose_date_format(fmt: str, local: Column, ts_utc: Column) -> Column:
    """``$dateToString`` fallback for directives DateTimeFormatter has
    no (locale-safe) pattern for: build the string as a concat of
    per-directive part expressions.  ``local`` is the zone-localized
    wall time (parts read from it); ``ts_utc`` the original instant —
    their difference IS the utc offset ``%z``/``%Z`` render, computed
    per ROW because named zones change offset across DST transitions.
    All JVM-side; only used when the format needs it."""
    off_min = (
        (local.cast("long") - ts_utc.cast("long")) / 60
    ).cast("int")
    sign = F.when(off_min < 0, F.lit("-")).otherwise(F.lit("+"))
    abs_min = F.abs(off_min)

    def pad(col: Column, n: int) -> Column:
        return F.lpad(col.cast("string"), n, "0")

    parts: dict[str, Column] = {
        "%Y": pad(F.year(local), 4),
        "%m": pad(F.month(local), 2),
        "%d": pad(F.dayofmonth(local), 2),
        "%H": pad(F.hour(local), 2),
        "%M": pad(F.minute(local), 2),
        "%S": pad(F.second(local), 2),
        "%L": pad((local.cast("double") * 1000 % 1000).cast("int"), 3),
        "%j": pad(F.dayofyear(local), 3),
        "%G": pad(_DATE_PARTS["$isoWeekYear"](local), 4),
        "%V": pad(F.weekofyear(local), 2),
        "%u": _iso_day_of_week(local).cast("string"),
        "%w": F.dayofweek(local).cast("string"),
        "%z": F.concat(
            sign,
            pad((abs_min / 60).cast("int"), 2),
            pad(abs_min % 60, 2),
        ),
        "%Z": off_min.cast("string"),
    }
    segments: list[Column] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            d = fmt[i : i + 2]
            if d == "%%":
                segments.append(F.lit("%"))
            elif d in parts:
                segments.append(parts[d])
            else:
                raise ValueError(
                    f"unsupported date format directive {d!r} in {fmt!r}"
                )
            i += 2
            continue
        j = i
        while j < len(fmt) and fmt[j] != "%":
            j += 1
        segments.append(F.lit(fmt[i:j]))
        i = j
    return F.concat(*segments)


def _java_date_fmt(fmt: str) -> str:
    """Mongo ``%``-style date format -> Java DateTimeFormatter pattern
    (the subset both ``$dateToString`` and ``$dateFromString`` share).

    Literal text is QUOTED: Mongo treats any non-``%`` character as a
    literal, but DateTimeFormatter assigns meaning to every ASCII
    letter — the previous straight substitution turned the default
    format's ``T`` separator into an invalid pattern letter.
    Unsupported directives raise at compile time instead of passing
    through as silent pattern-letter garbage."""
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            d = fmt[i : i + 2]
            if d == "%%":
                out.append("'%'")
            elif d in _JAVA_FMT:
                out.append(_JAVA_FMT[d])
            else:
                raise ValueError(
                    f"unsupported date format directive {d!r} in {fmt!r}"
                )
            i += 2
            continue
        j = i
        while j < len(fmt) and fmt[j] != "%":
            j += 1
        lit = fmt[i:j]
        if any(c.isalpha() for c in lit) or "'" in lit:
            out.append("'" + lit.replace("'", "''") + "'")
        else:
            out.append(lit)
        i = j
    return "".join(out)


_DATE_UNITS = {
    "year": "YEAR", "quarter": "QUARTER", "month": "MONTH", "week": "WEEK",
    "day": "DAY", "hour": "HOUR", "minute": "MINUTE", "second": "SECOND",
    "millisecond": "MILLISECOND",
}


def _date_unit(unit: Any) -> str:
    if not isinstance(unit, str) or unit not in _DATE_UNITS:
        raise ValueError(f"unsupported date unit: {unit!r}")
    return _DATE_UNITS[unit]


_TZ_OFFSET_RE = _re.compile(r"^([+-])(\d{2})(?::?(\d{2}))?$")


def _tz_name(op: str, arg: dict) -> str | None:
    """``timezone`` support for the date operators: Mongo's fixed
    ``±HH`` / ``±HHMM`` / ``±HH:MM`` offsets (normalized to ``±HH:MM``)
    and Olson/IANA zone names (``America/New_York``), validated against
    the zoneinfo database at compile time so a typo fails the QUERY,
    not silently every row.  ``None`` means UTC/absent (no-op).

    Calendar arithmetic runs on the zone-LOCAL wall time
    (``from_utc_timestamp``) and converts back (``to_utc_timestamp``) —
    exact for fixed offsets; for named zones the JVM's tzdb applies
    real DST rules, resolving nonexistent local times (spring-forward
    gaps) by shifting past the gap, Java's standard resolution."""
    tz = arg.get("timezone")
    if tz in (None, "UTC", "Z", "+00", "+0000", "+00:00"):
        return None
    if not isinstance(tz, str):
        raise ValueError(f"{op}: timezone must be a string, got {tz!r}")
    m = _TZ_OFFSET_RE.match(tz)
    if m is not None:
        sign, hh, mm = m.group(1), int(m.group(2)), int(m.group(3) or 0)
        if hh > 18 or mm > 59:
            raise ValueError(f"{op}: invalid timezone offset {tz!r}")
        if hh == 0 and mm == 0:
            return None
        return f"{sign}{hh:02d}:{mm:02d}"
    try:
        import zoneinfo

        zoneinfo.ZoneInfo(tz)
    except Exception:
        raise ValueError(
            f"{op}: unknown timezone {tz!r} (expected a fixed ±HH:MM "
            f"offset or an IANA zone name)"
        ) from None
    return tz


def _tz_local(col: Column, tz: str | None) -> Column:
    """UTC instant -> wall time in ``tz`` (no-op for UTC)."""
    return F.from_utc_timestamp(col, tz) if tz else col


def _tz_unlocal(col: Column, tz: str | None) -> Column:
    """Wall time in ``tz`` -> UTC instant (no-op for UTC)."""
    return F.to_utc_timestamp(col, tz) if tz else col


def _unit_trunc(unit: str, start_of_week: Any):
    """Truncate-to-unit-boundary callable; weeks honor ``startOfWeek``
    (Mongo default Sunday; Spark date_trunc weeks start Monday, so the
    Sunday form shifts +1 day, truncates, shifts back)."""
    _date_unit(unit)  # validate
    if unit != "week":
        return lambda c: F.date_trunc(unit, c)
    sow = (start_of_week or "sunday").lower()[:3]
    idx = {"mon": 0, "tue": 1, "wed": 2, "thu": 3,
           "fri": 4, "sat": 5, "sun": 6}.get(sow)
    if idx is None:
        raise ValueError(f"startOfWeek {start_of_week!r}: not a weekday")
    # shift so the requested weekday lands on Monday, truncate with
    # Spark's Monday-start week, shift back (sunday -> +1/-1 etc.)
    delta = (7 - idx) % 7
    if delta == 0:
        return lambda c: F.date_trunc("week", c)
    return lambda c: F.timestamp_add(
        "DAY", F.lit(-delta),
        F.date_trunc("week", F.timestamp_add("DAY", F.lit(delta), c)),
    )


def _regex_pattern(arg: dict) -> str:
    pat, opts = arg["regex"], arg.get("options") or ""
    if not isinstance(pat, str):
        raise ValueError("$regexMatch/$regexFind: regex must be a string literal")
    flags = "".join(sorted(set("imsx") & set(opts)))
    return f"(?{flags}){pat}" if flags else pat


def _java_group_count(pat: str) -> int:
    """Count CAPTURING groups the way ``java.util.regex.Pattern`` does.
    Execution runs Java regex, so Python ``re`` must not be the
    authority (r6 advisor find): it rejects Java-only syntax (possessive
    quantifiers ``a*+``) at compile time and counts ``(?P<name>)`` where
    Java spells it ``(?<name>)``.  A linear scan is exact for counting:
    ``(`` opens a capturing group unless escaped, inside ``[...]`` or
    ``\\Q...\\E``, or followed by ``?`` — except Java's named group
    ``(?<name>`` (where the char after ``<`` is not the lookbehind
    ``=``/``!``)."""
    n = i = 0
    in_class = False
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            if i + 1 < len(pat) and pat[i + 1] == "Q":
                q = pat.find("\\E", i + 2)
                i = len(pat) if q < 0 else q + 2
            else:
                i += 2
            continue
        if in_class:
            in_class = c != "]"
        elif c == "[":
            in_class = True
        elif c == "(":
            if i + 1 >= len(pat) or pat[i + 1] != "?":
                n += 1
            elif (
                i + 3 < len(pat)
                and pat[i + 2] == "<"
                and pat[i + 3] not in "=!"
            ):
                n += 1  # Java named capturing group (?<name>...)
        i += 1
    return n


def _regex_find(arg: dict, vars_) -> Column:
    """``$regexFind`` -> ``{match, idx, captures}`` struct or null.
    Capture groups ride regexp_extract (group count read off the literal
    pattern); a non-participating group yields ``""`` where Mongo has
    null — the one documented divergence."""
    pat = _regex_pattern(arg)
    ngroups = _java_group_count(arg["regex"])
    inp = compile_value(arg["input"], vars_)
    match = F.regexp_substr(inp, F.lit(pat))
    idx = (F.regexp_instr(inp, F.lit(pat)) - 1).cast("int")
    captures = F.array(
        *[F.regexp_extract(inp, pat, g + 1) for g in range(ngroups)]
    )
    return F.when(
        match.isNotNull(),
        F.struct(
            match.alias("match"), idx.alias("idx"), captures.alias("captures")
        ),
    )


def _regex_find_all(arg: dict, vars_) -> Column:
    """``$regexFindAll`` -> array of ``{match, idx, captures}``.

    Matches come from JVM ``regexp_extract_all``; per-match ``idx`` is
    recovered by a single left fold over the match list with a cursor
    (locate each match at or after the previous end — exact for the
    non-overlapping, in-order matches regexp_extract_all returns).
    Dialect notes (documented divergences): captures are re-extracted
    from the MATCHED TEXT, so context-dependent patterns (lookarounds,
    anchors mid-pattern) may differ; non-participating captures are
    ``""`` not null (same as ``$regexFind``); null input yields ``[]``,
    like Mongo."""
    pat = _regex_pattern(arg)
    ngroups = _java_group_count(arg["regex"])
    inp = compile_value(arg["input"], vars_)
    matches = F.regexp_extract_all(inp, F.lit(pat), F.lit(0))
    row_t = (
        "struct<match: string, idx: int, captures: array<string>>"
    )

    def _step(acc: Column, m: Column) -> Column:
        idx = F.position(m, inp, acc["cur"].cast("int")) - 1
        captures = F.array(
            *[F.regexp_extract(m, pat, g + 1) for g in range(ngroups)]
        )
        row = F.struct(
            m.alias("match"), idx.cast("int").alias("idx"),
            captures.alias("captures"),
        )
        return F.struct(
            F.array_append(acc["out"], row).alias("out"),
            (idx + F.length(m) + 1).alias("cur"),
        )

    folded = F.aggregate(
        matches,
        F.struct(
            F.array().cast(f"array<{row_t}>").alias("out"),
            F.lit(1).cast("int").alias("cur"),
        ),
        _step,
        lambda acc: acc["out"],
    )
    return F.coalesce(folded, F.array().cast(f"array<{row_t}>"))


def _static_fields(expr: Any, vars_) -> list[str] | None:
    """Field NAMES of a document-valued expression, when statically
    knowable: an inline document literal, a ``$path`` ref resolving to a
    struct in the active stage schema, or a ``$mergeObjects`` of such."""
    from pyspark.sql import types as T

    if isinstance(expr, dict) and not (
        len(expr) == 1 and next(iter(expr)).startswith("$")
    ):
        return [str(k) for k in expr]
    if isinstance(expr, dict) and len(expr) == 1:
        op, arg = next(iter(expr.items()))
        if op == "$mergeObjects":
            out: list[str] = []
            for o in arg if isinstance(arg, list) else [arg]:
                if o is None:
                    continue
                sub = _static_fields(o, vars_)
                if sub is None:
                    return None
                out.extend(f for f in sub if f not in out)
            return out
    if isinstance(expr, str) and expr.startswith("$") and not expr.startswith("$$"):
        t = _resolve_path_type(expr[1:])
        if isinstance(t, T.StructType):
            return [f.name for f in t.fields]
    return None


def _merge_objects(operands: list, vars_) -> Column:
    """``$mergeObjects``: later documents' fields overwrite earlier ones;
    null OPERANDS are ignored (Mongo).  Static-schema dialect: a struct
    field holding null counts as present-with-null (Spark cannot
    distinguish a null field from a missing one inside a non-null
    struct), and all-null operands yield an all-null-fields struct where
    Mongo has ``{}``."""
    entries: list[tuple[Column, list[str]]] = []
    for o in operands:
        if o is None:
            continue
        fields = _static_fields(o, vars_)
        if fields is None:
            raise ValueError(
                "$mergeObjects operands must be inline documents or "
                "struct-typed field refs resolvable from the stage schema"
            )
        entries.append((compile_value(o, vars_), fields))
    order: list[str] = []
    for _, fs in entries:
        order.extend(f for f in fs if f not in order)
    out_fields = []
    for f in order:
        built: Column | None = None
        for col, fs in reversed(entries):  # last operand wins
            if f in fs:
                cond, val = col.isNotNull(), col[f]
                built = (
                    F.when(cond, val) if built is None else built.when(cond, val)
                )
        out_fields.append((built if built is not None else F.lit(None)).alias(f))
    return F.struct(*out_fields)


def _bson_type_name(expr: Any, vars_) -> Column:
    """``$type``: BSON type-name string for a value expression, derived
    from the STATIC Spark type (single-typed columns make the name a
    constant; only null-ness needs a runtime test).  Missing fields
    read as "null", not "missing" — parquet cannot distinguish them
    (documented divergence)."""
    from pyspark.sql import types as T

    def _name_of(t) -> str | None:
        if isinstance(t, T.StringType):
            return "string"
        if isinstance(t, T.BooleanType):
            return "bool"
        if isinstance(t, (T.IntegerType, T.ShortType, T.ByteType)):
            return "int"
        if isinstance(t, T.LongType):
            return "long"
        if isinstance(t, (T.DoubleType, T.FloatType)):
            return "double"
        if isinstance(t, T.DecimalType):
            return "decimal"
        if isinstance(t, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            return "date"
        if isinstance(t, T.ArrayType):
            return "array"
        if isinstance(t, (T.StructType, T.MapType)):
            return "object"
        if isinstance(t, T.BinaryType):
            return "binData"
        if isinstance(t, T.NullType):
            return "null"
        return None

    if expr is None:
        return F.lit("null")
    if isinstance(expr, bool):
        return F.lit("bool")
    if isinstance(expr, int):
        return F.lit("int" if -(2**31) <= expr < 2**31 else "long")
    if isinstance(expr, float):
        return F.lit("double")
    name: str | None = None
    if isinstance(expr, str) and not expr.startswith("$"):
        return F.lit("string")
    if (
        isinstance(expr, str)
        and expr.startswith("$")
        and not expr.startswith("$$")
    ):
        name = _name_of(_resolve_path_type(expr[1:]))
    elif isinstance(expr, list):
        name = "array"
    elif isinstance(expr, dict):
        if len(expr) == 1 and next(iter(expr)).startswith("$"):
            op = next(iter(expr))
            if op in _STRING_OPS:
                name = "string"
            elif op in _ARRAY_OPS:
                name = "array"
            elif op in ("$avg", "$rand"):
                # most numeric ops' width depends on their operands
                # (int vs long vs double) and stays unsupported; only
                # the always-double ones have a static name
                name = "double"
            elif op in _BOOL_OPS or op == "$isArray":
                name = "bool"
            elif op in (
                "$toDate", "$dateFromParts", "$dateAdd", "$dateSubtract",
                "$dateTrunc", "$dateFromString",
            ):
                name = "date"
            elif op in ("$mergeObjects", "$dateToParts"):
                name = "object"
        else:
            name = "object"
    if name is None:
        raise ValueError(
            f"$type: cannot statically type the operand {expr!r}"
        )
    col = compile_value(expr, vars_)
    return F.when(col.isNull(), F.lit("null")).otherwise(F.lit(name))


def _static_value_type(expr: Any, vars_) -> str | None:
    """Finer-than-truthiness static TYPE of a value expression
    ("string"/"array"/"struct"/"number"/"bool"/"null", None = unknown),
    for deciding whether an inline document's field types are
    heterogeneous.  ``_truthy_kind`` is the wrong tool there: it lumps
    strings, arrays and structs into one "always" kind, so
    ``{a: 'x', b: [1]}`` looked homogeneous and ``F.array`` of the
    incompatible values failed analysis instead of taking the documented
    stringify fallback (r6 advisor find)."""
    from pyspark.sql import types as T

    def _of_type(t) -> str | None:
        if t is None:
            return None
        if isinstance(t, T.StringType):
            return "string"
        if isinstance(t, T.ArrayType):
            return "array"
        if isinstance(t, (T.StructType, T.MapType)):
            return "struct"
        if isinstance(t, T.BooleanType):
            return "bool"
        if isinstance(t, T.NullType):
            return "null"
        if isinstance(t, T.NumericType):
            return "number"
        return None

    if expr is None:
        return "null"
    if isinstance(expr, bool):
        return "bool"
    if isinstance(expr, (int, float)):
        return "number"
    if isinstance(expr, list):
        return "array"
    if isinstance(expr, str):
        if expr.startswith("$$"):
            return None
        if expr.startswith("$"):
            return _of_type(_resolve_path_type(expr[1:]))
        return "string"
    if isinstance(expr, dict):
        if len(expr) == 1 and next(iter(expr)).startswith("$"):
            op, inner = next(iter(expr.items()))
            if op == "$literal":
                return _static_value_type(
                    inner if not isinstance(inner, dict) else {}, vars_
                )
            if op in _STRING_OPS:
                return "string"
            if op in _ARRAY_OPS:
                return "array"
            if op in _NUMBER_OPS:
                return "number"
            if op in _BOOL_OPS:
                return "bool"
            return None
        return "struct"
    return None


def _object_to_array(arg: Any, vars_) -> Column:
    """``$objectToArray`` -> ``array<struct<k, v>>``.  Map-typed inputs
    use map_entries; struct inputs need statically-knowable field names.
    A struct whose field TYPES differ cannot be a single-typed ``v``
    column, so heterogeneous structs stringify ``v`` (dialect decision —
    otherwise Spark's implicit array coercion ANSI-throws casting e.g. a
    string field to the numeric majority type)."""
    from pyspark.sql import types as T

    col = compile_value(arg, vars_)
    hetero = False
    if isinstance(arg, str) and arg.startswith("$") and not arg.startswith("$$"):
        t = _resolve_path_type(arg[1:])
        if isinstance(t, T.MapType):
            return F.when(
                col.isNotNull(),
                F.transform(
                    F.map_entries(col),
                    lambda e: F.struct(e["key"].alias("k"), e["value"].alias("v")),
                ),
            )
        if isinstance(t, T.StructType):
            hetero = len({f.dataType.simpleString() for f in t.fields}) > 1
    elif isinstance(arg, dict) and not (
        len(arg) == 1 and next(iter(arg)).startswith("$")
    ):
        kinds = {_static_value_type(v, vars_) for v in arg.values()}
        kinds.discard("null")  # a null field coerces under any type
        # unknown (None) types are conservatively heterogeneous: the
        # documented stringify fallback beats an analysis-time crash
        hetero = len(kinds) > 1 or None in kinds
    fields = _static_fields(arg, vars_)
    if fields is None:
        raise ValueError(
            "$objectToArray input must be a map, an inline document, or a "
            "struct-typed field ref resolvable from the stage schema"
        )
    vals = [col[f].cast("string") if hetero else col[f] for f in fields]
    arr = F.array(
        *[
            F.struct(F.lit(f).alias("k"), v.alias("v"))
            for f, v in zip(fields, vals)
        ]
    )
    return F.when(col.isNotNull(), arr)


def _get_field(arg: Any, vars_) -> Column:
    """``$getField``: field access WITHOUT dot-path traversal (its whole
    point — the field name may itself contain dots)."""
    from pyspark.sql import types as T

    if isinstance(arg, str):
        field, input_expr = arg, None
    else:
        field, input_expr = arg["field"], arg.get("input")
    if not isinstance(field, str):
        raise ValueError("$getField: field must be a string literal")
    if input_expr is None:  # field of the current document
        schema = _ACTIVE_SCHEMA[-1] if _ACTIVE_SCHEMA else None
        if schema is not None and not any(f.name == field for f in schema.fields):
            return F.lit(None)
        return F.col(f"`{field}`")
    col = compile_value(input_expr, vars_)
    if (
        isinstance(input_expr, str)
        and input_expr.startswith("$")
        and not input_expr.startswith("$$")
    ):
        t = _resolve_path_type(input_expr[1:])
        if isinstance(t, T.MapType):
            return F.try_element_at(col, F.lit(field))
        if isinstance(t, T.StructType):
            if not any(f.name == field for f in t.fields):
                return F.lit(None)
            return col[field]
    fields = _static_fields(input_expr, vars_)
    if fields is not None and field not in fields:
        return F.lit(None)
    return col[field]


def _zip_arrays(arg: dict, vars_) -> Column:
    """``$zip``: transpose N arrays into an array of N-element rows
    (element types must share a common Spark type).  Default truncates
    to the shortest input; ``useLongestLength`` pads with ``defaults``
    (or nulls) — only positions BEYOND an input's end take the default,
    per Mongo."""
    inputs = [compile_value(i, vars_) for i in arg["inputs"]]
    longest = bool(arg.get("useLongestLength", False))
    defaults = arg.get("defaults")
    if defaults is not None and not longest:
        raise ValueError("$zip: defaults requires useLongestLength")
    if defaults is not None and len(defaults) != len(inputs):
        raise ValueError("$zip: defaults must match inputs length")
    sizes = [F.size(c) for c in inputs]
    if len(inputs) == 1:
        n = sizes[0]
    else:
        n = F.greatest(*sizes) if longest else F.least(*sizes)
    any_null = _fold([c.isNull() for c in inputs], lambda a, b: a | b)

    def _row(i: Column) -> Column:
        elems = []
        for k, c in enumerate(inputs):
            e = F.try_element_at(c, (i + 1).cast("int"))
            if defaults is not None:
                e = F.when(i < F.size(c), e).otherwise(
                    compile_value(defaults[k], vars_)
                )
            elems.append(e)
        return F.array(*elems)

    # sequence needs start<=stop with an explicit +1 step; build one row
    # minimum, then slice to the true length so n==0 yields [] with the
    # right type
    body = F.slice(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(1)), _row
        ),
        1,
        F.greatest(n, F.lit(0)),
    )
    return F.when(any_null, F.lit(None)).otherwise(body)


def _attach(
    df: DataFrame, exprs: dict[str, Column], columns: list[str] | None = None
) -> DataFrame:
    """Select ``columns`` (default: all of ``df``'s) with the computed
    ``exprs`` attached in ONE ``select``, so every expression reads the
    stage's INPUT document — Mongo's rule for ``$project``/``$addFields``
    and ``$setWindowFields`` outputs: a field that shadows an input
    column overwrites it in place, but sibling expressions still read
    the input.  A dotted name writes into the nested document
    (``withField`` over quoted segments); writing under a MISSING
    top-level document refuses loudly (Mongo would create it)."""
    columns = df.columns if columns is None else columns
    names = list(exprs)
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            if _path_overlaps(a, b):
                raise ValueError(f"conflicting output paths {a!r} and {b!r}")
    top: dict[str, Column] = {}
    for name, e in exprs.items():
        head, dot, rest = name.partition(".")
        if not dot:
            top[name] = e
            continue
        if head not in columns:
            raise ValueError(
                f"cannot write {name!r}: there is no document {head!r} "
                "to write it into"
            )
        path = ".".join(f"`{p}`" for p in rest.split("."))
        top[head] = top.get(head, F.col(f"`{head}`")).withField(path, e)
    cols = [
        top[c].alias(c) if c in top else F.col(f"`{c}`") for c in columns
    ]
    cols += [e.alias(n) for n, e in top.items() if n not in columns]
    return df.select(*cols)


#: Mongo accumulator -> Spark SQL aggregate name: the one table the
#: Column path and the fractional-frame SQL path both render from.
#: Where Mongo and SQL differ, the finisher repairs the aggregate:
#: - $sum skips non-numeric/missing and returns 0 (never null) when
#:   nothing numeric was seen — SQL SUM would return NULL;
#: - $push/$addToSet KEEP null elements — collect_list/collect_set drop
#:   them, so elements ride inside a struct and unwrap in the finisher.
#: $avg/$min/$max ignore nulls and null out on empty input in both
#: worlds; $first/$last take the first/last document's value even when
#: it is null (SQL first/last default to ignoreNulls=false).
_ACC_SQL = {
    "$sum": "sum", "$avg": "avg", "$min": "min", "$max": "max",
    "$first": "first", "$last": "last",
    "$push": "collect_list", "$addToSet": "collect_list",
    "$stdDevPop": "stddev_pop", "$stdDevSamp": "stddev_samp",
}

_ACC_FINISH = {
    "$sum": lambda c: F.coalesce(c, F.lit(0)),
    "$push": lambda c: F.transform(c, lambda s: s["v"]),
    "$addToSet": lambda c: F.array_distinct(
        F.transform(c, lambda s: s["v"])
    ),
}


def _identity(c: Column) -> Column:
    return c


def _aggregate(name: str, *args: Any) -> Column:
    """The bare SQL aggregate ``name(args...)``; Python scalars and lists
    of them become literals.  The ``call`` of :func:`_accumulator` for
    grouped outputs."""
    return F.call_function(
        name, *[a if isinstance(a, Column) else F.lit(a) for a in args]
    )


def _accumulator(op: str, arg: Any, call=_aggregate) -> tuple[Column, Any]:
    """A Mongo accumulator as ``(raw, finish)``: ``raw`` is its SQL
    aggregate, built through ``call(name, *args)``, and ``finish`` the
    Mongo-semantics repair applied on top.  ``$group``, ``$bucket`` and
    ``$bucketAuto`` take the bare aggregate; ``$setWindowFields`` passes
    a ``call`` that applies the window frame, so the finisher wraps the
    WINDOWED aggregate (Spark rejects ``coalesce(sum(c), 0).over(w)``)."""
    if op == "$count" or (op == "$sum" and arg == 1):
        return call("count", 1), _identity
    if op in ("$median", "$percentile"):
        return _percentile_agg(op, arg, call), _identity
    if op in _NARY_ACCS:
        return _nary_acc(op, arg, call)
    if op == "$mergeObjects":
        return _merge_objects_acc(arg, call), _identity
    if op in _ACC_SQL:
        c = compile_value(arg)
        if op in ("$push", "$addToSet"):
            c = F.struct(c.alias("v"))
        return call(_ACC_SQL[op], c), _ACC_FINISH.get(op, _identity)
    raise ValueError(f"unsupported accumulator: {op}")


def _accumulate(
    df: DataFrame, keys: list[str], outputs: dict[str, Any], *extra: Column
) -> DataFrame:
    """``df`` grouped by the ``keys`` columns with one aggregate per Mongo
    accumulator output (after the ``extra`` aggregates) — the output
    loop of ``$group``, ``$bucket`` and ``$bucketAuto``.  With no
    aggregate at all the keys come back alone, like Mongo's ``$group``
    with only ``_id``."""
    aggs = list(extra)
    for name, acc in outputs.items():
        if not isinstance(acc, dict) or len(acc) != 1:
            raise ValueError(f"bad accumulator for {name}: {acc!r}")
        raw, finish = _accumulator(*next(iter(acc.items())))
        aggs.append(finish(raw).alias(name))
    grouped = df.groupBy(*keys)
    if aggs:
        return grouped.agg(*aggs)
    return grouped.agg(F.count(F.lit(1)).alias("__ts_rows")).drop("__ts_rows")


def _compile_group(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    key_expr = spec["_id"]
    outputs = {k: v for k, v in spec.items() if k != "_id"}
    if key_expr is None:
        # Mongo returns ``_id: null`` in the one result document; typed,
        # because a ``void`` column cannot be written by ``$out``/``$merge``
        return _accumulate(df, [], outputs).select(
            F.lit(None).cast("string").alias("_id"), "*"
        )
    if isinstance(key_expr, dict) and not any(
        k.startswith("$") for k in key_expr
    ):
        # scratch names so a key alias that shadows an input column (e.g.
        # {"lang": "$lang"}) never creates a duplicate/ambiguous column
        keys = [f"_gk_{k}" for k in key_expr]
        df = df.select(
            *[compile_value(v).alias(f"_gk_{k}") for k, v in key_expr.items()],
            "*",
        )
        return _accumulate(df, keys, outputs).withColumnsRenamed(
            {f"_gk_{k}": str(k) for k in key_expr}
        )
    df = df.withColumn("_id__group", compile_value(key_expr))
    return _accumulate(df, ["_id__group"], outputs).withColumnRenamed(
        "_id__group", "_id"
    )


def _merge_objects_acc(arg: Any, call) -> Column:
    """``$mergeObjects`` as a GROUP accumulator: merge the group's
    documents, later fields overwriting — per FIELD, the last non-null
    value wins (the fixed schema cannot distinguish a missing field,
    which must not overwrite, from an explicit null — the same
    documented divergence the value-op form carries).  The operand must
    be a struct-typed field path (a static schema is what makes the
    per-field fold expressible)."""
    from pyspark.sql import types as T

    if not (
        isinstance(arg, str)
        and arg.startswith("$")
        and not arg.startswith("$$")
    ):
        raise ValueError(
            "$mergeObjects accumulator: operand must be a field path"
        )
    t = _resolve_path_type(arg[1:])
    if not isinstance(t, T.StructType):
        raise ValueError(
            f"$mergeObjects accumulator: {arg} is not a document field"
        )
    col = compile_value(arg)
    return F.struct(
        *[call("last", col[f.name], True).alias(f.name) for f in t.fields]
    )


def _percentile_agg(op: str, arg: Any, call) -> Column:
    """``$median`` / ``$percentile`` (Mongo 7 accumulators).  Mongo's
    'approximate' method is t-digest; the dialect computes the EXACT
    continuous percentile instead (Spark ``percentile`` — deterministic,
    SQL-oracle-able, and never less accurate than what it replaces), so
    ``method`` is accepted and ignored.  ``$percentile`` with ``p`` of
    several probabilities yields the array, like Mongo.

    Scale note + dialect extension: Spark's exact ``percentile`` holds
    a value->count map PER GROUP, so a group with billions of distinct
    values is a memory hazard at 100 TB.  Passing ``accuracy: N``
    switches to ``percentile_approx`` (Greenwald-Khanna sketch, memory
    bounded by the accuracy parameter, error <= 1/N of the rank) — the
    shape Mongo's own t-digest method has, made explicit instead of
    silently lossy."""
    if not isinstance(arg, dict) or "input" not in arg:
        raise ValueError(f"{op} requires {{input: ...}}")
    col = compile_value(arg["input"]).cast("double")
    if op == "$median":
        p = 0.5
    else:
        p = arg["p"]
        if not isinstance(p, list) or not p:
            raise ValueError("$percentile requires a non-empty p array")
        p = [float(x) for x in p]
    if "accuracy" in arg:
        return call("percentile_approx", col, p, int(arg["accuracy"]))
    return call("percentile", col, p)


_NARY_ACCS = {
    "$top", "$bottom", "$topN", "$bottomN",
    "$firstN", "$lastN", "$maxN", "$minN",
}


def _nary_acc(op: str, arg: Any, call) -> tuple[Column, Any]:
    """N-ary accumulator family (Mongo 5.2+): the collect_list aggregate
    plus its finisher, the ``(raw, finish)`` pair of :func:`_accumulator`.

    - ``$top/$topN/$bottom/$bottomN`` are sort-aware: collect
      ``struct(sortBy keys..., output)``, array_sort with the
      (key, direction) comparator, slice from the head ($top*) or tail
      ($bottom* — Mongo keeps SORT order and takes the last n), project
      the output.  ONE aggregate per group — no shuffle beyond the
      groupBy/window itself, no per-group top-k join.
    - ``$maxN/$minN``: the n largest/smallest values (desc/asc), nulls
      and missing ignored (collect_list drops them — Mongo parity).
    - ``$firstN/$lastN``: first/last n values in document order, null
      elements KEPT (the $push struct-wrap trick); inherits $first's
      document-order caveat — deterministic only after a preceding
      $sort, same as Mongo.
    """
    if op in ("$top", "$topN", "$bottom", "$bottomN"):
        sort_by = arg["sortBy"]
        if op in ("$top", "$bottom"):
            if "n" in arg:
                raise ValueError(f"{op} does not accept n (use {op}N)")
            n = 1
        else:
            n = int(arg["n"])
            if n < 1:
                raise ValueError(f"{op}: n must be a positive integer")
        keys = list(sort_by.items())
        fields = [path_col(k).alias(f"s{i}") for i, (k, _) in enumerate(keys)]
        raw = call(
            "collect_list",
            F.struct(*fields, compile_value(arg["output"]).alias("o")),
        )
        order = [(f"s{i}", d) for i, (_, d) in enumerate(keys)]

        def fin(c: Column) -> Column:
            s = F.array_sort(c, _struct_comparator(order))
            if op in ("$bottom", "$bottomN"):
                sliced = F.slice(
                    s, F.greatest(F.size(s) - F.lit(n) + 1, F.lit(1)), n
                )
            else:
                sliced = F.slice(s, 1, n)
            vals = F.transform(sliced, lambda e: e["o"])
            if op in ("$top", "$bottom"):
                # empty window frame -> null, never an ANSI error
                return F.try_element_at(vals, F.lit(1))
            return vals

        return raw, fin
    n = int(arg["n"])
    if n < 1:
        raise ValueError(f"{op}: n must be a positive integer")
    val = compile_value(arg["input"])
    if op in ("$maxN", "$minN"):
        raw = call("collect_list", val)

        def fin(c: Column) -> Column:
            s = F.array_sort(c)
            if op == "$maxN":
                s = F.reverse(s)
            return F.slice(s, 1, n)

        return raw, fin
    # $firstN / $lastN
    raw = call("collect_list", F.struct(val.alias("v")))

    def fin(c: Column) -> Column:
        if op == "$firstN":
            sliced = F.slice(c, 1, n)
        else:
            sliced = F.slice(
                c, F.greatest(F.size(c) - F.lit(n) + 1, F.lit(1)), n
            )
        return F.transform(sliced, lambda e: e["v"])

    return raw, fin


_RANK_OPS = {
    "$rank": F.rank,
    "$denseRank": F.dense_rank,
    "$documentNumber": F.row_number,
}

_FRAME_BOUNDS = {"unbounded": None, "current": 0}


def _frame_bound(spec: Any, side: int) -> int:
    """Mongo window bound -> Spark rowsBetween offset.  ``side`` is -1 for
    the lower bound, +1 for the upper (picks the unbounded direction)."""
    from pyspark.sql import Window as W

    if spec == "unbounded":
        return W.unboundedPreceding if side < 0 else W.unboundedFollowing
    if spec == "current":
        return W.currentRow
    return int(spec)


class _TempAlloc:
    """Stage-level allocator of uniquely-named projected temp columns
    (collision-proof against the input's column names)."""

    def __init__(self, taken) -> None:
        self.cols: dict[str, Column] = {}
        self._taken = set(taken)
        self._i = 0

    def add(self, value: Column) -> str:
        """Register ``value`` as a temp column; return its backticked
        SQL identifier."""
        while True:
            name = f"__ts_wf_{self._i}"
            self._i += 1
            if name not in self._taken:
                break
        self._taken.add(name)
        self.cols[name] = value
        return f"`{name}`"


class _SqlFrame:
    """Fractional RANGE frame as a SQL ``OVER`` clause — the DataFrame
    API's ``rangeBetween(long, long)`` cannot express fractional bounds,
    but Spark SQL's frame syntax can.  Every column input (partition
    key, ordering key, aggregate arguments) rides a PRE-PROJECTED temp
    column, so the rendered SQL contains only backticked identifiers and
    scalar literals: no expression->SQL round-trip, no ``_jvm`` /
    ``_jc`` private API (the classic-only ColumnNodeToExpressionConverter
    bridge this replaces breaks under Spark Connect, where managed
    clusters land).  Physical shape is unchanged: one Exchange on the
    partition key + one WindowExec, same as the API path."""

    def __init__(self, alloc: "_TempAlloc", over: str = "") -> None:
        self.alloc = alloc
        self.over = over

    def add(self, value: Column) -> str:
        return self.alloc.add(value)

    def call(self, name: str, *args: Any) -> Column:
        """``name(args...)`` applied over this frame — the ``call`` of
        :func:`_accumulator` on this path.  Column arguments ride temp
        identifiers; Python scalars (and lists of them) render as SQL
        literals, so a percentage stays foldable."""
        return F.expr(f"{name}({', '.join(map(self._sql, args))}) {self.over}")

    def _sql(self, a: Any) -> str:
        if isinstance(a, Column):
            return self.add(a)
        if isinstance(a, list):
            return f"array({', '.join(map(self._sql, a))})"
        if isinstance(a, bool):
            return "true" if a else "false"
        return f"{a!r}D" if isinstance(a, float) else repr(a)


def _over(frame) -> Any:
    """The ``call`` of :func:`_accumulator` over a DataFrame-API window."""
    return lambda name, *args: _aggregate(name, *args).over(frame)


def _compile_window_fields(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """``$setWindowFields``: Mongo 5 window functions -> Spark window
    expressions.  Every output field is computed against the stage's
    input in one ``select`` (same input-document rule as ``$project``).

    Scale note: one exchange on the partition key (plus a sort within
    partitions when ``sortBy`` is present) — exactly the plan a
    hand-written ``Window.partitionBy`` gets; rank-family ops compile to
    the same ``WindowExec`` and AQE still handles a skewed partition key
    like any other window query.
    """
    from pyspark.sql import Window as W

    part_expr = spec.get("partitionBy")
    parts = [compile_value(part_expr)] if part_expr is not None else []
    sort_by = spec.get("sortBy") or {}
    order = [
        path_col(k).asc() if direction >= 0 else path_col(k).desc()
        for k, direction in sort_by.items()
    ]
    base = W.partitionBy(*parts)
    sorted_base = base.orderBy(*order) if order else base

    computed: dict[str, Column] = {}
    out_columns = list(df.columns)
    temp_alloc = _TempAlloc(out_columns)
    for name, out_spec in spec["output"].items():
        out_spec = dict(out_spec)
        window = out_spec.pop("window", None)
        if len(out_spec) != 1:
            raise ValueError(f"bad $setWindowFields output for {name}")
        op, arg = next(iter(out_spec.items()))
        if op in _RANK_OPS:
            if not order:
                raise ValueError(f"{op} requires sortBy")
            if window is not None:
                raise ValueError(f"{op} does not accept a window")
            computed[name] = _RANK_OPS[op]().over(sorted_base)
            continue
        if op == "$shift":
            # by > 0 looks forward (lead), by < 0 backward (lag)
            if not order:
                raise ValueError("$shift requires sortBy")
            by = int(arg.get("by", 1))
            default = arg.get("default")
            value = compile_value(arg["output"])
            fn = F.lead(value, by) if by >= 0 else F.lag(value, -by)
            if default is None:
                computed[name] = fn.over(sorted_base)
            else:
                # Mongo applies `default` ONLY outside the partition —
                # an in-range null VALUE stays null, so a plain coalesce
                # is wrong (r6 fuzzer find).  lead/lag of a TRUE literal
                # with default False is the in-range indicator.
                probe = (
                    F.lead(F.lit(True), by, False)
                    if by >= 0
                    else F.lag(F.lit(True), -by, False)
                )
                computed[name] = F.when(
                    probe.over(sorted_base), fn.over(sorted_base)
                ).otherwise(F.lit(default))
            continue
        if window is not None and "range" in window:
            # VALUE-based frame over the single ascending sortBy key
            # (Mongo range-window rules).  Spark rangeBetween carries
            # the same inclusive-both-ends semantics; time units ride an
            # epoch-millis integer ordering column (fixed-length units
            # only — Mongo refuses month/year here too).  Unit-less
            # range windows take the key on the integer grid (cast to
            # long — non-integral numeric sort keys are refused, Spark's
            # range frame needs an integral ordering expression).
            if len(sort_by) != 1:
                raise ValueError(
                    "$setWindowFields range window requires exactly one "
                    "sortBy field"
                )
            (rkey, rdir), = sort_by.items()
            lo, hi = window["range"]
            unit = window.get("unit")
            if unit is not None:
                ms = {
                    "week": 7 * 86400000, "day": 86400000,
                    "hour": 3600000, "minute": 60000, "second": 1000,
                    "millisecond": 1,
                }.get(unit)
                if ms is None:
                    raise ValueError(
                        f"range window unit {unit!r}: fixed-length units "
                        "only (week..millisecond)"
                    )
                # Mongo rejects non-integer bounds when unit is set —
                # refuse loudly BEFORE scaling: a fractional bound like
                # -1.5 hours scales to an integral -5400000.0 ms, which
                # would otherwise slip past the fractional detection
                # into the integer path and truncate (r9 advice fix).
                for b in (lo, hi):
                    if not isinstance(b, str) and float(b) != int(float(b)):
                        raise ValueError(
                            "$setWindowFields range window: bounds must "
                            f"be integers when unit is set (got {b!r})"
                        )
                okey = (
                    path_col(rkey).cast("timestamp").cast("double") * 1000
                ).cast("long")
                scale = ms
            else:
                t = _resolve_path_type(rkey)
                from pyspark.sql import types as T

                if isinstance(
                    t, (T.FloatType, T.DoubleType, T.DecimalType)
                ):
                    # fractional sortBy (r8): the DataFrame API's
                    # rangeBetween takes long bounds only, but Spark
                    # SQL's RANGE frame accepts fractional bounds over
                    # a fractional ordering column — route through the
                    # SQL-frame path below
                    okey, scale = path_col(rkey).cast("double"), 1
                elif not isinstance(
                    t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                        T.NullType)
                ) and t is not None:
                    raise NotImplementedError(
                        "$setWindowFields range window: sortBy must be "
                        f"numeric (got {t.simpleString()})"
                    )
                else:
                    okey, scale = path_col(rkey).cast("long"), 1

            def _num_bound(v):
                return None if isinstance(v, str) else float(v) * scale

            fractional = (
                unit is None
                and isinstance(
                    _resolve_path_type(rkey),
                    (T.FloatType, T.DoubleType, T.DecimalType),
                )
            ) or any(
                b is not None and b != int(b)
                for b in (_num_bound(lo), _num_bound(hi))
            )

            if rdir < 0:
                # descending sortBy: bounds are VALUE offsets, so
                # membership (v in [cur+lo, cur+hi]) is direction-free —
                # negate the ordering key and mirror the bounds to get
                # the same set through Spark's ascending range frame.
                okey = -okey if fractional else (-okey).cast("long")

                def _mirror(v):
                    return v if v in ("unbounded", "current") else -v

                lo, hi = _mirror(hi), _mirror(lo)

            if fractional:
                # SQL-frame path: render the frame as an OVER clause
                # over pre-projected temp columns (no private-API
                # expression->SQL round-trip); the aggregate applies via
                # frame.call(...) in the op branches below.  Same
                # Exchange + WindowExec physical shape as the API path.
                def _sb(spec_v, side):
                    if spec_v == "unbounded":
                        return ("UNBOUNDED PRECEDING" if side < 0
                                else "UNBOUNDED FOLLOWING")
                    if spec_v == "current":
                        return "CURRENT ROW"
                    x = float(spec_v) * scale
                    return (f"{-x!r} PRECEDING" if x < 0
                            else f"{x!r} FOLLOWING")

                frame = _SqlFrame(temp_alloc)
                part_sql = (
                    f"PARTITION BY {frame.add(parts[0])} " if parts else ""
                )
                frame.over = (
                    f"OVER ({part_sql}ORDER BY {frame.add(okey)} ASC "
                    f"RANGE BETWEEN {_sb(lo, -1)} AND {_sb(hi, +1)})"
                )
            else:

                def _rb(spec_v, side):
                    b = _frame_bound(spec_v, side)
                    if spec_v not in ("unbounded", "current"):
                        # the unscaled bound is validated integral when
                        # unit is set; int() after float() so a float
                        # literal like 2.0 rides too
                        b = int(float(spec_v)) * scale
                    return b

                frame = base.orderBy(okey.asc()).rangeBetween(
                    _rb(lo, -1), _rb(hi, +1)
                )
        elif window is not None:
            lo, hi = window["documents"]
            frame = sorted_base.rowsBetween(
                _frame_bound(lo, -1), _frame_bound(hi, +1)
            )
        elif order:
            # Mongo default with sortBy: unbounded preceding .. current
            frame = sorted_base.rowsBetween(W.unboundedPreceding, W.currentRow)
        else:
            frame = base.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        call = frame.call if isinstance(frame, _SqlFrame) else _over(frame)
        if op in ("$derivative", "$integral"):
            if isinstance(frame, _SqlFrame):
                raise NotImplementedError(
                    f"{op}: fractional range windows are not supported"
                )
            computed[name] = _calculus_window(
                op, arg, sort_by, sorted_base, frame
            )
            continue
        if op in ("$covariancePop", "$covarianceSamp"):
            x, y = (compile_value(a).cast("double") for a in arg)
            fn = "covar_pop" if op == "$covariancePop" else "covar_samp"
            computed[name] = call(fn, x, y)
            continue
        if op == "$expMovingAvg":
            # no window param in Mongo: always the running frame.  Exact
            # recursive fold over the running collect_list — EMA_0 = y_0,
            # EMA_i = alpha*y_i + (1-alpha)*EMA_{i-1}; nulls are skipped
            # (collect_list drops them).  O(p^2) transient per partition
            # — fine for bounded telemetry partitions, the op's habitat.
            if not order:
                raise ValueError("$expMovingAvg requires sortBy")
            alpha = (
                float(arg["alpha"]) if "alpha" in arg
                else 2.0 / (int(arg["N"]) + 1)
            )
            y = compile_value(arg["input"]).cast("double")
            running = sorted_base.rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
            arr = F.collect_list(y).over(running)
            computed[name] = F.when(
                F.size(arr) > 0,
                F.aggregate(
                    F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
                    F.element_at(arr, 1),
                    lambda acc, x: x * F.lit(alpha) + acc * F.lit(1.0 - alpha),
                ),
            )
            continue
        if op in ("$locf", "$linearFill"):
            # gap-fill window OUTPUT operators (Mongo 5.2), also what
            # the $fill stage's locf/linear methods desugar to.  Neither
            # takes a window param; $linearFill interpolates against the
            # single (numeric or date) sortBy key and never extrapolates.
            if window is not None:
                raise ValueError(f"{op} does not accept a window")
            if not order:
                raise ValueError(f"{op} requires sortBy")
            col = compile_value(arg)
            fwd = sorted_base.rowsBetween(W.unboundedPreceding, W.currentRow)
            if op == "$locf":
                computed[name] = F.last(col, ignorenulls=True).over(fwd)
                continue
            if len(sort_by) != 1:
                raise ValueError(
                    "$linearFill requires exactly one sortBy field"
                )
            key = path_col(next(iter(sort_by))).cast("double")
            bwd = sorted_base.rowsBetween(W.currentRow, W.unboundedFollowing)
            prev_v = F.last(col, ignorenulls=True).over(fwd)
            prev_k = F.last(
                F.when(col.isNotNull(), key), ignorenulls=True
            ).over(fwd)
            next_v = F.first(col, ignorenulls=True).over(bwd)
            next_k = F.first(
                F.when(col.isNotNull(), key), ignorenulls=True
            ).over(bwd)
            # Mongo ERRORS on repeated sortBy values with $linearFill
            # (the interpolation denominator would be 0).  Detect via
            # adjacent-key equality under the stage sort — flags any
            # duplicate in the partition without adding an exchange —
            # and raise, rather than silently emitting NaN/Infinity.
            # The eqNullSafe must be ANDed with an in-partition
            # indicator: lag() on a partition's FIRST row returns an
            # out-of-frame NULL, which would alias a null sortBy key
            # (eqNullSafe(NULL, NULL) = TRUE) and raise with no
            # duplicate present (r9 advice fix).
            in_part = F.lag(F.lit(True), 1, False).over(sorted_base)
            dup_here = in_part & F.lag(key).over(sorted_base).eqNullSafe(key)
            computed[name] = (
                F.when(
                    dup_here,
                    F.raise_error(F.lit(
                        "$linearFill: repeated sortBy value within a "
                        "partition (Mongo requires distinct sort keys)"
                    )),
                )
                .when(col.isNotNull(), col)
                .when(prev_v.isNull() | next_v.isNull(), F.lit(None))
                .otherwise(
                    prev_v
                    + (next_v - prev_v) * ((key - prev_k) / (next_k - prev_k))
                )
            )
            continue
        # the accumulators: sort-aware n-ary ones ($top*'s own sortBy)
        # sort/slice the frame's collect per row in their finisher, so
        # their comparator lambdas stay outside a SQL frame's rendering;
        # still one WindowExec
        raw, finish = _accumulator(op, arg, call)
        computed[name] = finish(raw)

    if temp_alloc.cols:
        # fractional SQL frames reference pre-projected temp inputs;
        # they exist only between these two selects and never reach the
        # stage output (out_columns was captured before)
        df = df.select(
            "*", *[c.alias(n) for n, c in temp_alloc.cols.items()]
        )
    return _attach(df, computed, out_columns)


#: seconds per $derivative/$integral unit (timestamp sortBy only)
_CALC_UNIT_SECONDS = {
    "week": 604800.0, "day": 86400.0, "hour": 3600.0, "minute": 60.0,
    "second": 1.0, "millisecond": 0.001,
}


def _calculus_window(
    op: str, arg: dict, sort_by: dict, sorted_base, frame
) -> Column:
    """``$derivative`` / ``$integral`` (Mongo 5 time-series window ops)
    over DOCUMENTS frames.

    derivative = (last(y) - first(y)) / (last(t) - first(t)), t scaled
    to ``unit`` for timestamp sortBy; null when the frame has one row
    (zero time span).  integral is the trapezoidal rule: the per-row
    increment ``(y_{i-1}+y_i)/2 * (t_i - t_{i-1})`` (a lag over the sort
    order) summed over the frame MINUS the frame's first increment —
    the increment attributed to the edge before the frame's first row
    must not count.  Both stay single-WindowExec expressions: no self
    join, no Python."""
    if len(sort_by) != 1:
        raise ValueError(f"{op} requires exactly one sortBy field")
    t_field = next(iter(sort_by))
    t = path_col(t_field)
    t = t.cast("double") if arg.get("unit") is None else (
        t.cast("timestamp").cast("double")
        / F.lit(_CALC_UNIT_SECONDS[arg["unit"]])
    )
    y = compile_value(arg["input"]).cast("double")
    if op == "$derivative":
        dy = F.last(y, ignorenulls=False).over(frame) - F.first(y).over(frame)
        dt = F.last(t, ignorenulls=False).over(frame) - F.first(t).over(frame)
        return dy / F.nullif(dt, F.lit(0.0))
    inc = (y + F.lag(y).over(sorted_base)) / 2 * (
        t - F.lag(t).over(sorted_base)
    )
    return F.coalesce(
        F.sum(inc).over(frame) - F.coalesce(F.first(inc).over(frame), F.lit(0.0)),
        F.lit(0.0),
    )


#: $fill method -> the window gap-fill operator it desugars to
_FILL_METHODS = {"locf": "$locf", "linear": "$linearFill"}


def _fill_stages(spec: dict[str, Any]) -> list[dict[str, Any]]:
    """``$fill`` as the stages MongoDB's server desugars it to: one
    ``$setWindowFields`` computing every ``method`` output with ``$locf``
    (last observation carried forward) or ``$linearFill`` (interpolation
    against the single sortBy key: no extrapolation, an error on
    repeated keys), then one ``$addFields`` giving every ``value``
    output ``{$ifNull: [field, value]}``."""
    methods: dict[str, Any] = {}
    values: dict[str, Any] = {}
    for name, fill in spec["output"].items():
        if "value" in fill:
            values[name] = {"$ifNull": [f"${name}", fill["value"]]}
        elif fill.get("method") in _FILL_METHODS:
            methods[name] = {_FILL_METHODS[fill["method"]]: f"${name}"}
        else:
            raise ValueError(f"unsupported $fill method: {fill!r}")
    stages: list[dict[str, Any]] = []
    if methods:
        window = {k: spec[k] for k in ("partitionBy", "sortBy") if k in spec}
        stages.append({"$setWindowFields": {**window, "output": methods}})
    if values:
        stages.append({"$addFields": values})
    return stages


def _compile_unwind(out: DataFrame, spec: dict[str, Any] | str) -> DataFrame:
    """``$unwind`` — string form or the document form with
    ``includeArrayIndex`` (element's position as a long column; null
    for preserved null/empty docs) and ``preserveNullAndEmptyArrays``
    (null/missing/empty-array docs pass through with a null element —
    Spark's ``explode_outer``/``posexplode_outer`` ARE those semantics;
    the default drops them, like ``explode``)."""
    if isinstance(spec, dict):
        path = spec["path"]
        idx_name = spec.get("includeArrayIndex")
        preserve = bool(spec.get("preserveNullAndEmptyArrays", False))
    else:
        path, idx_name, preserve = spec, None, False
    field = path[1:] if path.startswith("$") else path
    arr = path_col(field)

    def _put_back(df: DataFrame, elem: Column) -> DataFrame:
        if "." not in field:
            return df.withColumn(field, elem)
        # Mongo replaces the array at its original path: rebuild the
        # enclosing struct with the element put back where the array was
        top, rest = field.split(".", 1)
        return df.withColumn(
            top, F.col(f"`{top}`").withField(rest, elem)
        )

    if idx_name is None:
        exploded = F.explode_outer(arr) if preserve else F.explode(arr)
        out = out.withColumn("_unwind_elem", exploded)
        out = _put_back(out, F.col("_unwind_elem"))
        return out.drop("_unwind_elem")
    gen = F.posexplode_outer(arr) if preserve else F.posexplode(arr)
    cols = [F.col(f"`{c}`") for c in out.columns]
    out = out.select(*cols, gen.alias("_uw_pos", "_uw_elem"))
    out = _put_back(out, F.col("_uw_elem"))
    out = out.withColumn(idx_name, F.col("_uw_pos").cast("long"))
    return out.drop("_uw_pos", "_uw_elem")


def _compile_densify(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """``$densify``: add documents for missing step values of a numeric
    or DATE field (``range.unit`` selects calendar stepping — Spark
    ``sequence`` over a calendar interval, so month/quarter/year steps
    land on true calendar boundaries, not fixed second counts).  The
    generated grid is tiny relative to the data ((range / step) ×
    partitions rows), so the anti-join that finds missing values keys
    on (partition, field) and the union appends a small relation — no
    full-data shuffle.
    """
    field = spec["field"]
    part_fields = spec.get("partitionByFields") or []
    rng = spec["range"]
    step = rng["step"]
    bounds = rng.get("bounds", "full")
    unit = rng.get("unit")
    if unit is not None:
        _date_unit(unit)  # validate against the Mongo unit set
        n = int(step)
        # INTERVAL has no QUARTER literal; a quarter is exactly 3 months
        ivl_unit, ivl_n = (
            ("MONTH", 3 * n) if unit == "quarter" else (unit.upper(), n)
        )
        step_expr = F.expr(f"INTERVAL '{ivl_n}' {ivl_unit}")

        def _bound_lit(v: Any) -> Column:
            return F.to_timestamp(F.lit(v))
    else:
        step_expr = F.lit(step)

        def _bound_lit(v: Any) -> Column:
            return F.lit(v)

    # renamed projection so the grid-vs-data anti-join below is never an
    # ambiguous self-join (grid and data share lineage)
    existing = df.select(
        *[path_col(p).alias(f"_dx_{p}") for p in part_fields],
        path_col(field).alias("_dx_field"),
    ).distinct()
    parts_df = (
        df.select(*[path_col(p).alias(p) for p in part_fields]).distinct()
        if part_fields
        else None
    )

    if bounds == "full":
        lohi = df.agg(
            F.min(path_col(field)).alias("_lo"), F.max(path_col(field)).alias("_hi")
        )
        grid_base = parts_df.crossJoin(F.broadcast(lohi)) if parts_df is not None else lohi
    elif bounds == "partition":
        if not part_fields:
            raise ValueError("$densify bounds='partition' needs partitionByFields")
        grid_base = df.groupBy(*[path_col(p).alias(p) for p in part_fields]).agg(
            F.min(path_col(field)).alias("_lo"), F.max(path_col(field)).alias("_hi")
        )
    else:
        lo, hi = bounds
        one = df.sparkSession.range(1).select(
            _bound_lit(lo).alias("_lo"),
            (_bound_lit(hi) - step_expr).alias("_hi"),
        )
        grid_base = parts_df.crossJoin(F.broadcast(one)) if parts_df is not None else one

    grid = grid_base.select(
        *[F.col(f"`{p}`") for p in part_fields],
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), step_expr)
        ).alias(field),
    )
    cond = F.col(f"`{field}`").eqNullSafe(F.col("_dx_field"))
    for p in part_fields:
        cond = cond & F.col(f"`{p}`").eqNullSafe(F.col(f"_dx_{p}"))
    missing = grid.join(existing, cond, "left_anti")
    return df.unionByName(missing, allowMissingColumns=True)


# Frontier row count above which the per-level BFS join is NOT hinted as a
# broadcast: keys are scalars (~tens of bytes), so 500k rows ~ 10-20 MB —
# past that the planner falls back to a shuffled hash join (AQE may still
# pick better at runtime; the point is never to FORCE a huge broadcast).
_GL_BROADCAST_MAX_ROWS = 500_000

# Driver-local tier bound K: the most start-key rows and (key, next)
# edge rows the driver fetches, and the most (start, key) pairs its BFS
# may reach.  Past it the distributed BFS runs.  Measured on
# q_mongo_graph_lookup-shaped inputs (halving hierarchy, maxDepth 3,
# every doc a start; local[2] on a 4-vCPU VM), wall s / CPU s of build
# plus one action, local vs distributed: 80k pairs 1.05/2.5 vs 2.1/5.2,
# 200k pairs 2.8/3.0 vs 3.8/5.7, 400k pairs 5.5/4.7 vs 5.4/7.2, 800k
# pairs 10.6/9.6 vs 9.8/14.7.  Wall time crosses near 400k pairs; K
# stays below it, where the local tier wins on both.
_GL_LOCAL_MAX_ROWS = 1 << 18


def _graph_lookup(
    out: DataFrame, spec: dict[str, Any], tables: dict[str, DataFrame] | None
) -> DataFrame:
    """``$graphLookup``: BFS over ``from`` following
    ``connectFromField -> connectToField`` edges, starting at
    ``startWith``; attaches the set of reached documents as an array.

    The traversal runs once per DISTINCT start key (results depend only
    on the key, so rows sharing a key share the work).  A key expands
    at most once per start, which is also the cycle guard (Mongo detects
    cycles internally; reference README documents the collection as a
    DAG of session documents).  Either tier below yields the reached
    ``(start, doc, depth)`` rows; one shared Spark tail keeps each
    document's first-arrival (min) depth, which also collapses duplicate
    documents by value, sets ``depthField``, collects and sorts the
    array per start, and the input left-joins it on the start key.
    Document sets never reach the driver on either tier.

    1. **Driver-local.**  Two eager ``limit(K+1).toArrow()`` probes,
       K = ``_GL_LOCAL_MAX_ROWS``: first the non-null start keys, then
       the non-null ``(key, next)`` edge pairs — scalar columns only.
       Within K rows each probe is the complete relation, and the BFS
       runs over Python key sets on the driver (keys compare as in
       Spark's join: integral against fractional as double, NaN equal
       to NaN, -0.0 equal to 0.0; other key type mixes take tier 2).
       Its output is the ``(start, key, depth)`` relation, one row per
       key a start reaches, appended as an Arrow local relation and
       broadcast-joined with the edges to pick up the documents: two
       jobs while the pipeline is built, none per depth level.  Driver
       memory: at most K+1 rows of each probe and K reached pairs, all
       scalars (K = 2^18: tens of MB of Python objects, a few MB of
       Arrow); a BFS that passes K pairs is abandoned for tier 2.
    2. **Distributed** (any bound exceeded, or key types tier 1 does
       not model).  One distributed equi-join per depth level.  The
       frontier shrinks by a subtract against already-expanded keys.
       It is materialized per level (checkpoint — truncates lineage,
       gives an exact row count; the checkpoint is lazy, so it is
       written by the count() that follows it — one eager job per
       level, not a checkpoint job plus a count job) and the broadcast
       hint is GATED on that count: a small frontier broadcasts
       (frontier<->edges join with zero edge shuffle), a frontier past
       ``_GL_BROADCAST_MAX_ROWS`` joins un-hinted so the planner/AQE
       picks a shuffled join — a skewed fan-out graph can no longer
       force an executor-OOM broadcast at depth k.  Overflow cost: the
       tier-1 probes already ran.
    """
    if not tables or spec["from"] not in tables:
        raise ValueError(f"$graphLookup: unknown collection {spec.get('from')!r}")
    foreign = tables[spec["from"]]
    if spec.get("restrictSearchWithMatch"):
        # the restriction filters the documents CONSIDERED at every
        # recursion step (Mongo) — pre-filtering the foreign relation
        # is exactly that, and it pushes into the scan
        foreign = foreign.filter(
            compile_query(spec["restrictSearchWithMatch"], foreign.schema)
        )
    to_field, from_field = spec["connectToField"], spec["connectFromField"]
    as_name = spec["as"]
    depth_field = spec.get("depthField")
    max_depth = int(spec.get("maxDepth", 20))

    fstruct = F.struct(*[F.col(f"`{c}`").alias(c) for c in foreign.columns])
    edges = foreign.select(
        path_col(to_field).alias("_gl_key"),
        path_col(from_field).alias("_gl_next"),
        fstruct.alias("_gl_doc"),
    )
    starts = out.select(compile_value(spec["startWith"]).alias("_gl_start"))
    all_levels = _graph_lookup_local(edges, starts, max_depth)
    if all_levels is None:
        all_levels = _graph_lookup_distributed(edges, starts, max_depth)

    # document SET per start key: first arrival (min depth) wins.  Hash
    # partitioning on the start alone clusters both aggregations below,
    # so they share one exchange instead of one each
    reached = (
        all_levels.repartition("_gl_start")
        .groupBy("_gl_start", "_gl_doc")
        .agg(F.min("_gl_depth").alias("_gl_depth"))
    )
    doc = (
        F.col("_gl_doc").withField(depth_field, F.col("_gl_depth"))
        if depth_field
        else F.col("_gl_doc")
    )
    grouped = reached.select("_gl_start", doc.alias("_gl_doc")).groupBy(
        "_gl_start"
    ).agg(F.array_sort(F.collect_list("_gl_doc")).alias(as_name))
    arr_type = grouped.schema[as_name].dataType.simpleString()
    return (
        out.join(
            grouped,
            compile_value(spec["startWith"]) == F.col("_gl_start"),
            "left",
        )
        .drop("_gl_start")
        .withColumn(
            as_name,
            F.coalesce(F.col(f"`{as_name}`"), F.array().cast(arr_type)),
        )
    )


def _gl_key_function(*types):
    """A Python key with Spark's equi-join equality over values of the
    given Spark types, or None when the local tier does not model it."""
    from pyspark.sql import types as T

    numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
               T.FloatType, T.DoubleType)
    exact = (T.StringType, T.BooleanType, T.DateType, T.TimestampType,
             T.TimestampNTZType, T.BinaryType, T.DecimalType)
    types = [t for t in types if not isinstance(t, T.NullType)]
    if not types:
        return None
    if all(isinstance(t, numeric) for t in types):
        if any(isinstance(t, (T.FloatType, T.DoubleType)) for t in types):
            # the join widens to double; NaN keys match each other (a
            # sentinel, as NaN != NaN), and -0.0 == 0.0 with one hash
            return lambda v: v if v is None else "NaN" if v != v else float(v)
        return lambda v: v
    first = types[0]
    if not isinstance(first, exact) or any(t != first for t in types):
        return None
    if isinstance(first, T.StringType) and first.collation != "UTF8_BINARY":
        return None
    return lambda v: v


def _graph_lookup_local(
    edges: DataFrame, starts: DataFrame, max_depth: int
) -> DataFrame | None:
    """Tier 1 of ``_graph_lookup``: the BFS over keys on the driver,
    from two bounded Arrow probes; None when a bound is exceeded."""
    import pyarrow as pa
    from pyspark.sql import types as T

    key = _gl_key_function(
        starts.schema["_gl_start"].dataType,
        edges.schema["_gl_key"].dataType,
        edges.schema["_gl_next"].dataType,
    )
    if key is None:
        return None
    start_probe = (
        starts.where(F.col("_gl_start").isNotNull())
        .limit(_GL_LOCAL_MAX_ROWS + 1)
        .toArrow()
    )
    if start_probe.num_rows > _GL_LOCAL_MAX_ROWS:
        return None
    edge_probe = (
        edges.select("_gl_key", "_gl_next")
        .where(F.col("_gl_key").isNotNull())
        .limit(_GL_LOCAL_MAX_ROWS + 1)
        .toArrow()
    )
    if edge_probe.num_rows > _GL_LOCAL_MAX_ROWS:
        return None

    # key -> (a row holding it, its next keys); the row's raw value is
    # what the relation below carries, so it joins the edges' own type
    index: dict = {}
    for i, (k, n) in enumerate(
        zip(
            edge_probe.column("_gl_key").to_pylist(),
            edge_probe.column("_gl_next").to_pylist(),
        )
    ):
        index.setdefault(key(k), (i, set()))[1].add(key(n))
    start_col = start_probe.column("_gl_start").combine_chunks()
    distinct: dict = {}
    for j, v in enumerate(start_col.to_pylist()):
        distinct.setdefault(key(v), j)

    start_rows, key_rows, depths = [], [], []
    for start, j in distinct.items():
        frontier, expanded = {start}, set()
        for depth in range(max_depth + 1):
            found = [index[k] for k in frontier if k in index]
            start_rows += [j] * len(found)
            key_rows += [i for i, _ in found]
            depths += [depth] * len(found)
            if len(key_rows) > _GL_LOCAL_MAX_ROWS:
                return None
            expanded |= frontier
            if depth == max_depth:
                break
            frontier = set().union(*(nexts for _, nexts in found)) - expanded
            frontier.discard(None)
            if not frontier:
                break

    reach = pa.table(
        {
            "_gl_start": start_col.take(pa.array(start_rows, pa.int64())),
            "_gl_key": edge_probe.column("_gl_key").take(
                pa.array(key_rows, pa.int64())
            ),
            "_gl_depth": pa.array(depths, pa.int32()),
        }
    )
    schema = T.StructType(
        [
            starts.schema["_gl_start"],
            edges.schema["_gl_key"],
            T.StructField("_gl_depth", T.IntegerType(), False),
        ]
    )
    return (
        F.broadcast(edges.sparkSession.createDataFrame(reach, schema))
        .join(edges, "_gl_key")
        .select("_gl_start", "_gl_doc", "_gl_depth")
    )


def _graph_lookup_distributed(
    edges: DataFrame, starts: DataFrame, max_depth: int
) -> DataFrame:
    """Tier 2 of ``_graph_lookup``: one distributed equi-join per level."""
    from topic_store_spark.operators.util import materialize_iter

    frontier = materialize_iter(
        starts.distinct().select("_gl_start", F.col("_gl_start").alias("_gl_key")),
        eager=False,
    )
    n_frontier = frontier.count()
    expanded = frontier.select("_gl_start", "_gl_key").limit(0)
    levels: list[DataFrame] = []
    for depth in range(max_depth + 1):
        probe = (
            F.broadcast(frontier)
            if n_frontier <= _GL_BROADCAST_MAX_ROWS
            else frontier
        )
        matched = probe.join(edges, "_gl_key").select(
            "_gl_start", "_gl_doc", F.lit(depth).alias("_gl_depth"), "_gl_next"
        )
        levels.append(matched.select("_gl_start", "_gl_doc", "_gl_depth"))
        # r13 exchange diet: ``subtract`` is EXCEPT DISTINCT — its output
        # is deduped and its right side is a membership set, so the
        # former ``.distinct()`` on the new frontier and on ``expanded``
        # were two redundant shuffles PER LEVEL (results identical by
        # EXCEPT semantics; oracle + $graphLookup fuzz re-checked r13)
        expanded = expanded.union(frontier)
        if depth == max_depth:
            break
        frontier = materialize_iter(
            matched.select("_gl_start", F.col("_gl_next").alias("_gl_key"))
            .subtract(expanded),
            eager=False,
        )
        n_frontier = frontier.count()
        if n_frontier == 0:
            break

    all_levels = levels[0]
    for lv in levels[1:]:
        all_levels = all_levels.union(lv)
    return all_levels


def _rewrite_var_refs(obj: Any, mapping: dict[str, str]) -> Any:
    """Rewrite ``$$var`` references in a ``whenMatched`` update pipeline
    to field refs on the staged columns the join carries for them
    (``$$new`` alone is the whole incoming doc; ``$$new.x`` a field of
    it; custom ``let`` variables likewise).  A ``$$var`` whose name is
    not staged is left alone, so an undefined variable still fails
    loudly in ``compile_value`` (Mongo: ``$$new`` is unbound when a
    custom ``let`` omits it).  Caveat (same as Mongo's shadowing rules
    are NOT reproduced): a HOF ``as``-variable with the same name as a
    let variable would be rewritten too — pick distinct names."""
    if isinstance(obj, str):
        if obj.startswith("$$"):
            name, _, rest = obj[2:].partition(".")
            if name in mapping:
                return "$" + mapping[name] + ("." + rest if rest else "")
        return obj
    if isinstance(obj, dict):
        return {k: _rewrite_var_refs(v, mapping) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_rewrite_var_refs(v, mapping) for v in obj]
    return obj


_MERGE_PIPELINE_STAGES = {
    "$addFields", "$set", "$project", "$unset", "$replaceRoot",
    "$replaceWith",
}


def _merge_update_pipeline(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    stages: list,
    let: dict[str, Any] | None = None,
) -> DataFrame:
    """``whenMatched: [<custom update pipeline>]``: each matched pair
    runs the pipeline with the EXISTING document as input and ``$$new``
    bound to the incoming one (Mongo's counter-upsert idiom:
    ``{"$set": {"n": {"$add": ["$n", "$$new.n"]}}}``).  ``let``
    (Mongo 5.0) replaces the default ``{"new": "$$ROOT"}`` binding:
    each variable is an expression evaluated against the INCOMING
    document (``$$ROOT`` = the whole incoming doc), staged as a join
    column; when a custom ``let`` omits ``new``, ``$$new`` is unbound
    and fails loudly, like the server.  Compiled as one equi-join
    staging the incoming doc / let values as columns, then the
    ordinary row-local pipeline compiler over the rewritten stages —
    Mongo's own stage allowlist enforced."""
    for st in stages:
        op_name = next(iter(st))
        if op_name not in _MERGE_PIPELINE_STAGES:
            raise ValueError(
                f"$merge whenMatched pipeline: stage {op_name} not "
                f"allowed (Mongo permits {sorted(_MERGE_PIPELINE_STAGES)})"
            )
    if let is None:
        let = {"new": "$$ROOT"}
    root = F.struct(
        *[F.col(f"`{c}`").alias(c) for c in incoming.columns]
    )
    staged: dict[str, str] = {}
    cols = [F.col(f"`{k}`") for k in keys]
    for name, expr in let.items():
        col_name = f"_m_let_{name}"
        staged[name] = col_name
        cols.append(
            compile_value(expr, vars_={"ROOT": root}).alias(col_name)
        )
    inc = incoming.select(*cols)
    joined = existing.join(inc, keys)
    result = apply_pipeline(joined, _rewrite_var_refs(stages, staged))
    return result.drop(*staged.values())


def _merge_into(out: DataFrame, spec: dict[str, Any] | str, load_storage) -> None:
    """``$merge`` with Mongo's mode matrix.

    ``{"into": path, "on": key(s), "let": {var: expr}, "whenMatched":
    "merge"|"replace"|"keepExisting"|"fail"|[custom update pipeline],
    "whenNotMatched": "insert"|"discard"|"fail"}`` (defaults
    ``merge``/``insert``, ``on: _id``, ``let: {"new": "$$ROOT"}`` —
    Mongo's).  Matching is one equi-join on the ``on`` keys; ``merge``
    coalesces incoming non-null fields over existing ones field-wise; a
    LIST runs the custom update pipeline per matched pair with the
    ``let`` variables evaluated against the incoming doc
    (`_merge_update_pipeline`; r10: custom ``let`` supported, unknown
    options refuse loudly instead of silently changing what is
    written).  Any mode that touches existing rows
    rewrites through the storage's atomic ``_overwrite`` swap; pure
    inserts stay on the append path.
    """
    if isinstance(spec, str):
        spec = {"into": spec}
    unknown = set(spec) - {"into", "on", "let", "whenMatched", "whenNotMatched"}
    if unknown:
        # silent ignoring of an unknown option would silently change
        # what gets written — refuse loudly
        raise ValueError(f"$merge: unsupported options {sorted(unknown)}")
    if isinstance(spec.get("into"), dict):
        raise NotImplementedError(
            "$merge: the {db, coll} 'into' form is not supported — "
            "pass a storage path string"
        )
    target = load_storage(spec["into"], out.sparkSession)
    on = spec.get("on", "_id")
    keys = [on] if isinstance(on, str) else list(on)
    when_matched = spec.get("whenMatched", "merge")
    when_not_matched = spec.get("whenNotMatched", "insert")
    let = spec.get("let")
    if let is not None and not isinstance(when_matched, list):
        # Mongo: let is only usable from a whenMatched update pipeline
        raise ValueError("$merge: 'let' requires a whenMatched pipeline")

    existing = target.to_df()
    if not all(k in out.columns for k in keys):
        # Mongo errors when the "on" field is absent from an incoming doc
        raise ValueError(f"$merge: 'on' fields {keys} missing from incoming documents")

    def _refuse_duplicate_keys(df_, side: str) -> None:
        # Mongo requires a UNIQUE index on the "on" fields: duplicate
        # keys in the target make matching ill-defined, and duplicate
        # keys across incoming documents are applied sequentially by
        # the server — a set-oriented join would instead silently
        # DUPLICATE rows into the store (writer corruption beats a
        # wrong query result, so this is worth one aggregate per
        # side; partial aggregation keeps it one cheap pass).
        dup = (
            df_.groupBy(*[F.col(f"`{k}`") for k in keys])
            .count()
            .filter(F.col("count") > 1)
        )
        if not dup.isEmpty():
            raise ValueError(
                f"$merge: duplicate 'on' keys {keys} in {side} — Mongo "
                "requires a unique index on the 'on' fields"
            )

    _refuse_duplicate_keys(out, "the incoming documents")
    if existing.isEmpty():
        # empty target: every incoming doc is "not matched"
        if when_not_matched == "discard":
            return
        if when_not_matched == "fail" and not out.isEmpty():
            raise ValueError("$merge: whenNotMatched=fail and new documents exist")
        target.write_df(out)
        return
    if not all(k in existing.columns for k in keys):
        # non-empty target whose docs lack the "on" field can never match
        # and Mongo's unique-index requirement on "on" cannot hold — error
        # instead of blind-appending
        raise ValueError(f"$merge: 'on' fields {keys} missing from target collection")
    _refuse_duplicate_keys(existing, "the target collection")

    key_df = existing.select(*keys)
    incoming_matched = out.join(key_df, keys, "left_semi")
    incoming_new = out.join(key_df, keys, "left_anti")

    if when_not_matched == "fail" and not incoming_new.isEmpty():
        raise ValueError("$merge: whenNotMatched=fail and new documents exist")
    if when_matched == "fail" and not incoming_matched.isEmpty():
        raise ValueError("$merge: whenMatched=fail and matching documents exist")

    inserts = incoming_new if when_not_matched == "insert" else None
    if when_matched == "keepExisting":
        if inserts is not None:
            target.write_df(inserts)
        return

    in_keys = incoming_matched.select(*keys)
    untouched = existing.join(in_keys, keys, "left_anti")
    if isinstance(when_matched, list):
        replaced = _merge_update_pipeline(
            existing, incoming_matched, keys, when_matched, let
        )
    elif when_matched == "replace":
        replaced = incoming_matched
    else:  # merge: incoming non-null fields override, field-wise
        inc = incoming_matched.select(
            *keys,
            *[
                F.col(f"`{c}`").alias(f"_in_{c}")
                for c in incoming_matched.columns
                if c not in keys
            ],
        )
        joined = existing.join(inc, keys)
        merged_cols = [F.col(f"`{k}`") for k in keys]
        for c in existing.columns:
            if c in keys:
                continue
            if f"_in_{c}" in joined.columns:
                merged_cols.append(
                    F.coalesce(F.col(f"`_in_{c}`"), F.col(f"`{c}`")).alias(c)
                )
            else:
                merged_cols.append(F.col(f"`{c}`"))
        for c in incoming_matched.columns:
            if c not in keys and c not in existing.columns:
                merged_cols.append(F.col(f"`_in_{c}`").alias(c))
        replaced = joined.select(*merged_cols)

    result = untouched.unionByName(replaced, allowMissingColumns=True)
    if inserts is not None:
        result = result.unionByName(inserts, allowMissingColumns=True)
    overwrite = getattr(target, "_overwrite", None)
    if overwrite is None:
        raise ValueError("$merge: target storage cannot rewrite existing rows")
    overwrite(result)


def _bucket_auto(out: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """``$bucketAuto``: ~equal-count buckets with data-derived boundaries.

    Scale shape: Mongo "attempts to evenly distribute documents"; the
    engine derives boundary values from quantiles (``percentile_approx``
    at high accuracy — exact on modest data, bounded-memory sketch at
    scale) and assigns buckets with a broadcast literal comparison — one
    aggregation + one groupBy, NO global sort / single-partition ntile.
    ``_id`` is Mongo's ``{min, max}`` doc: max of bucket k = min of
    bucket k+1, global max for the last (inclusive).
    """
    val = compile_value(spec["groupBy"])
    n = int(spec["buckets"])
    tmp = out.withColumn("_ba_v", val).filter(F.col("_ba_v").isNotNull())
    if n < 1:
        raise ValueError("$bucketAuto: buckets must be >= 1")
    qs = [k / n for k in range(1, n)]
    bounds_row = tmp.agg(
        F.percentile_approx("_ba_v", qs, 100_000).alias("b")
    ).first()
    bounds = sorted(set(bounds_row["b"] or []))  # dedupe collapsed quantiles
    # the quantile value itself closes its own bucket (rank <= p*n stays
    # below the cut), so assignment is strictly-greater
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + (F.col("_ba_v") > F.lit(b)).cast("int")
    output = spec.get("output", {"count": {"$sum": 1}})
    agged = _accumulate(
        tmp.withColumn("_ba_bucket", bucket),
        ["_ba_bucket"],
        output,
        F.min("_ba_v").alias("_ba_min"),
        F.max("_ba_v").alias("_ba_max"),
    )
    # _id.max chains to the next bucket's min (n rows — window is cheap)
    from pyspark.sql import Window as _W

    nxt = F.lead("_ba_min").over(_W.orderBy("_ba_bucket"))
    return (
        agged.withColumn(
            "_id",
            F.struct(
                F.col("_ba_min").alias("min"),
                F.coalesce(nxt, F.col("_ba_max")).alias("max"),
            ),
        )
        .orderBy("_ba_bucket")
        .drop("_ba_bucket", "_ba_min", "_ba_max")
        .select("_id", *[c for c in output])
    )


#: stages that keep their input's row order (for $facet order tracking)
_ORDER_PRESERVING_STAGES = {
    "$match", "$project", "$addFields", "$set", "$unset", "$limit",
    "$skip", "$replaceRoot", "$replaceWith", "$fill", "$count",
}


def _facet_final_order(sub: list[dict[str, Any]]) -> list[tuple[str, int]] | None:
    """The (key, direction) ordering a $facet sub-pipeline's output is
    defined to have, or None when no stage establishes one.  $sortByCount
    is $group + $sort {count: -1} with _id as Mongo's implicit tiebreak;
    grouping/bucketing stages reset any earlier order."""
    order: list[tuple[str, int]] | None = None
    for stage in sub:
        op = next(iter(stage))
        if op == "$sort":
            order = list(stage[op].items())
        elif op == "$sortByCount":
            order = [("count", -1), ("_id", 1)]
        elif op in _ORDER_PRESERVING_STAGES:
            continue
        else:
            order = None
    return order


#: tail stages after which a preceding physical sort is dead weight:
#: they neither consume row order ($limit/$skip do) nor reset it
_ORDER_INSENSITIVE_TAIL = _ORDER_PRESERVING_STAGES - {"$limit", "$skip"}


def _strip_physical_sort(sub: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Drop the terminal PHYSICAL sort of a $facet / uncorrelated
    $lookup sub-pipeline (r12 Exchange diet): the sub-result is
    gathered by ``collect_list`` — which discards row order — and
    re-ordered by the post-collect ``array_sort`` comparator built
    from ``_facet_final_order``, so a trailing ``$sort`` costs a
    range-partition Exchange + Sort whose output order is thrown away.
    ``$sortByCount`` keeps its grouping half via the internal
    ``$_countByValue`` stage.  The sort is KEPT when a later
    ``$limit``/``$skip`` consumes it, or any non-order-insensitive
    stage follows.  Callers must verify the final ordering's keys
    survive to the compiled output (else recompile unstripped) —
    the array_sort fallback on missing keys is whole-struct order,
    not the requested one."""
    out = list(sub)
    for i in range(len(out) - 1, -1, -1):
        op = next(iter(out[i]))
        if op in _ORDER_INSENSITIVE_TAIL:
            continue
        if op == "$sort":
            return out[:i] + out[i + 1:]
        if op == "$sortByCount":
            return (
                out[:i]
                + [{"$_countByValue": _InternalSpec(out[i][op])}]
                + out[i + 1:]
            )
        break
    return out


class _InternalSpec:
    """Marker wrapper for compiler-injected stage specs (r12 ADVICE):
    ``$_countByValue`` is private to :func:`_strip_physical_sort`, and a
    user-supplied JSON pipeline can never construct this Python object —
    so the dispatch can tell an injected stage from a leaked stage name
    and reject the latter like any other unknown stage."""

    __slots__ = ("spec",)

    def __init__(self, spec: Any) -> None:
        self.spec = spec


def _struct_comparator(order: list[tuple[str, int]]):
    """array_sort comparator over struct elements for a (key, direction)
    chain — restores the sub-pipeline's logical order after the
    physically-unordered collect_list."""

    def cmp(a: Column, b: Column) -> Column:
        expr: Column = F.lit(0)
        for key, direction in reversed(order):
            lt = F.lit(-1 if direction >= 0 else 1)
            gt = F.lit(1 if direction >= 0 else -1)
            # null sorts LOWEST (Mongo; also Spark's asc_nulls_first /
            # desc_nulls_last) — a bare </> comparison is null against a
            # null key, which would fall through to "equal" and scramble
            # the order whenever sort keys are null
            a_lt = (a[key].isNull() & b[key].isNotNull()) | F.coalesce(
                a[key] < b[key], F.lit(False)
            )
            a_gt = (a[key].isNotNull() & b[key].isNull()) | F.coalesce(
                a[key] > b[key], F.lit(False)
            )
            expr = F.when(a_lt, lt).when(a_gt, gt).otherwise(expr)
        return expr

    return cmp


def _contains_var(obj: Any) -> bool:
    """Does a pipeline fragment reference a ``$$variable`` anywhere?"""
    if isinstance(obj, str):
        return obj.startswith("$$")
    if isinstance(obj, dict):
        return any(_contains_var(v) for v in obj.values())
    if isinstance(obj, list):
        return any(_contains_var(v) for v in obj)
    return False


def _single_eq_correlation(expr: Any) -> tuple[Any, str] | None:
    """If a correlated ``$expr`` is exactly one ``$eq`` between a
    var-free foreign expression and a bare ``$$var`` reference, return
    ``(foreign_expr, var_name)`` — the shape eligible for the
    key-grouped fast path.  Anything else returns None."""
    if not (isinstance(expr, dict) and len(expr) == 1):
        return None
    op, arg = next(iter(expr.items()))
    if op != "$eq" or not isinstance(arg, list) or len(arg) != 2:
        return None
    a, b = arg
    for fexpr, var in ((a, b), (b, a)):
        if (
            isinstance(var, str)
            and var.startswith("$$")
            and "." not in var
            and not _contains_var(fexpr)
        ):
            return fexpr, var[2:]
    return None


def _element_scope(expr: Any, var: str = "__el") -> Any:
    """Rewrite field-path refs in a value expression to resolve against
    a bound ELEMENT variable (``"$a.b"`` -> ``"$$__el.a.b"``), so stage
    expressions written against the sub-pipeline's document stream can
    compile per-element inside ``transform``/``filter`` over a collected
    array.  ``$$`` system/let refs and ``$literal`` payloads pass
    through untouched."""
    if isinstance(expr, str):
        if expr.startswith("$$"):
            return expr
        if expr.startswith("$"):
            return f"$${var}." + expr[1:]
        return expr
    if isinstance(expr, dict):
        if set(expr) == {"$literal"}:
            return expr
        return {k: _element_scope(v, var) for k, v in expr.items()}
    if isinstance(expr, list):
        return [_element_scope(e, var) for e in expr]
    return expr


def _element_scope_schema(expr: Any, subschema, var: str = "__el") -> Any:
    """Schema-aware :func:`_element_scope`: field paths PRESENT in the
    subdocument's static schema rewrite to ``$$var.path``; paths absent
    from it become a NULL literal (Mongo: missing field), which keeps
    the per-level re-evaluation of ``$redact`` cond faithful for
    subdocuments that lack the referenced fields."""
    from topic_store_spark.query.compiler import _path_in_schema

    if isinstance(expr, str):
        if expr.startswith("$$"):
            return expr
        if expr.startswith("$"):
            path = expr[1:]
            if _path_in_schema(subschema, path):
                return f"$${var}." + path
            return {"$literal": None}
        return expr
    if isinstance(expr, dict):
        if set(expr) == {"$literal"}:
            return expr
        return {k: _element_scope_schema(v, subschema, var) for k, v in expr.items()}
    if isinstance(expr, list):
        return [_element_scope_schema(e, subschema, var) for e in expr]
    return expr


def _redact_marker(
    col: Column, node, spec: Any, redact_vars: dict[str, Column]
) -> Column:
    """``$redact`` cond re-evaluated against an embedded document."""
    return compile_value(
        _element_scope_schema(spec, node), {**redact_vars, "__el": col}
    )


def _redact_value(
    col: Column, dtype, spec: Any, redact_vars: dict[str, Column]
) -> Column:
    """Recursive ``$$DESCEND`` rewrite of one value: structs re-evaluate
    cond (KEEP -> as-is, PRUNE -> null, DESCEND -> recurse into
    children), array<struct> does the same per element with PRUNEd
    elements dropped, everything else passes through.  Recursion depth
    is bounded by the static schema."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StructType):
        m = _redact_marker(col, dtype, spec, redact_vars)
        return (
            # a missing subdocument stays missing (cond is not
            # evaluated for it — a constant $$DESCEND cond must not
            # materialize a struct of nulls)
            F.when(col.isNull(), F.lit(None))
            .when(m.eqNullSafe(F.lit("KEEP")), col)
            .when(
                m.eqNullSafe(F.lit("DESCEND")),
                _redact_struct(col, dtype, spec, redact_vars),
            )
        )  # anything else (PRUNE, unresolved) -> null
    if isinstance(dtype, T.ArrayType):
        inner = dtype.elementType
        if isinstance(inner, T.StructType):
            # a NULL element is not a document: Mongo's $$DESCEND keeps
            # non-document array values untouched, so cond is NOT
            # evaluated for it (r9 fuzzer-guard fix — the old filter
            # could drop a null element or materialize a struct of
            # nulls from one)
            kept = F.filter(
                col,
                lambda e: e.isNull()
                | _redact_marker(e, inner, spec, redact_vars).isin(
                    "KEEP", "DESCEND"
                ),
            )
            return F.transform(
                kept,
                lambda e: F.when(
                    e.isNull()
                    | _redact_marker(e, inner, spec, redact_vars).eqNullSafe(
                        F.lit("KEEP")
                    ),
                    e,
                ).otherwise(_redact_struct(e, inner, spec, redact_vars)),
            )
        if isinstance(inner, T.ArrayType):
            return F.transform(
                col, lambda e: _redact_value(e, inner, spec, redact_vars)
            )
        return col
    return col


def _redact_struct(
    col: Column, node, spec: Any, redact_vars: dict[str, Column]
) -> Column:
    from pyspark.sql import types as T  # noqa: F401

    return F.struct(
        *[
            _redact_value(col[f.name], f.dataType, spec, redact_vars).alias(
                f.name
            )
            for f in node.fields
        ]
    )


def _plain_include(v: Any) -> bool:
    return isinstance(v, (int, float, bool)) and bool(v)


def _falsy_flag(v: Any) -> bool:
    return v is False or v == 0


def _suffix_transforms(
    stages: list[dict[str, Any]], fields: list[str]
) -> tuple[list, list[str]]:
    """Row-local ``$lookup`` sub-pipeline stages AFTER the correlated
    ``$match``, compiled to transformations of the COLLECTED per-row
    array (Mongo runs them per matched document, so ``transform`` /
    ``filter`` / ``slice`` over the array preserves semantics with no
    extra shuffle or re-join — the at-scale shape).  Supported:
    ``$sort`` / ``$limit`` / ``$skip`` / ``$match`` (field predicates +
    var-free ``$expr``) / ``$addFields`` / ``$set`` / ``$unset``
    (dotted paths supported — withField/dropFields quoted segments) /
    ``$project`` with FLAT field names (dotted ``$project`` paths are
    refused loudly).  Returns ``(closures, final_fields)``
    where each closure maps the array Column to the transformed one."""
    from topic_store_spark.query.compiler import elem_match_predicate

    cur = list(fields)
    closures: list = []
    for st in stages:
        if len(st) != 1:
            raise ValueError(f"$lookup pipeline suffix: bad stage {st!r}")
        op, spec = next(iter(st.items()))
        if op == "$limit":
            n = int(spec)
            closures.append(lambda arr, n=n: F.slice(arr, 1, n))
        elif op == "$skip":
            n = int(spec)
            closures.append(
                lambda arr, n=n: F.slice(
                    arr, n + 1, F.greatest(F.size(arr) - n, F.lit(0))
                )
            )
        elif op == "$sort":
            order = list(spec.items())
            missing = [k for k, _ in order if k not in cur]
            if missing:
                raise ValueError(
                    f"$lookup pipeline suffix $sort: unknown fields {missing}"
                )
            closures.append(
                lambda arr, o=order: F.array_sort(arr, _struct_comparator(o))
            )
        elif op == "$match":
            mspec = dict(spec)
            expr = mspec.pop("$expr", None)
            bad = [k for k in mspec if k.startswith("$")]
            if bad:
                raise NotImplementedError(
                    f"$lookup pipeline suffix $match: top-level {bad} is "
                    "not supported after the correlated stage (field "
                    "predicates and $expr only)"
                )
            if expr is not None and _contains_var(expr):
                raise NotImplementedError(
                    "$lookup pipeline suffix $match: $$var refs would be "
                    "a second correlated stage"
                )

            def _pred(e, mspec=mspec, expr=expr):
                conds = []
                if mspec:
                    conds.append(elem_match_predicate(mspec)(e))
                if expr is not None:
                    conds.append(
                        _truthy_expr(_element_scope(expr), {"__el": e})
                    )
                if not conds:
                    # {"$match": {}} is valid Mongo: matches everything
                    return F.lit(True)
                out_c = conds[0]
                for c in conds[1:]:
                    out_c = out_c & c
                return F.coalesce(out_c, F.lit(False))

            # F.filter infers lambda arity from the signature — wrap to
            # arity 1 so the bound defaults aren't taken for (e, i)
            closures.append(
                lambda arr, p=_pred: F.filter(arr, lambda e: p(e))
            )
        elif op in ("$addFields", "$set"):
            # dotted keys write into nested structs (r8): withField's
            # quoted-segment path syntax.  Writing under a MISSING
            # intermediate document refuses loudly at analysis (Mongo
            # would create it) — faithful-or-loud.
            items = [(k, _element_scope(v)) for k, v in spec.items()]

            def _add(arr, items=items):
                def f(e):
                    for k, v in items:
                        path = ".".join(
                            f"`{p}`" for p in k.split(".")
                        )
                        e = e.withField(path, compile_value(v, {"__el": e}))
                    return e

                return F.transform(arr, f)

            closures.append(_add)
            for k, _ in items:
                top = k.split(".")[0]
                if "." not in k and top not in cur:
                    cur.append(top)
        elif op == "$unset":
            # dotted paths drop nested fields (r8: dropFields quoted
            # segments — a missing path is a no-op, same as Mongo)
            paths = [spec] if isinstance(spec, str) else list(spec)
            # a dotted path under a MISSING top-level field is a Mongo
            # no-op, but dropFields errors on it — skip those here
            # (deeper missing segments under an existing struct are
            # already no-ops)
            quoted = [
                ".".join(f"`{seg}`" for seg in p.split("."))
                for p in paths
                if p.split(".")[0] in cur
            ]

            def _drop(arr, quoted=list(quoted)):
                if not quoted:
                    return arr
                return F.transform(arr, lambda e: e.dropFields(*quoted))

            closures.append(_drop)
            cur = [f for f in cur if f not in paths]
        elif op == "$project":
            if any("." in k for k in spec):
                raise NotImplementedError(
                    "$lookup pipeline suffix $project: dotted paths are "
                    "not supported"
                )
            if not spec:
                raise ValueError("$project: empty specification")
            exclusion = all(
                _falsy_flag(v) for k, v in spec.items() if k != "_id"
            )
            if exclusion:
                dropped = {k for k, v in spec.items() if _falsy_flag(v)}
                kept = [f for f in cur if f not in dropped]

                def _excl(arr, kept=list(kept)):
                    return F.transform(
                        arr,
                        lambda e: F.struct(*[e[f].alias(f) for f in kept]),
                    )

                closures.append(_excl)
                cur = kept
            else:
                keys: list[tuple[str, Any]] = []
                if "_id" in cur and not _falsy_flag(spec.get("_id", 1)):
                    id_v = spec.get("_id", 1)
                    keys.append(
                        ("_id", 1 if _plain_include(id_v) else id_v)
                    )
                for k, v in spec.items():
                    if k == "_id" or _falsy_flag(v):
                        continue
                    keys.append((k, 1 if _plain_include(v) else v))
                scoped = [
                    (k, v if v == 1 else _element_scope(v)) for k, v in keys
                ]

                def _proj(arr, scoped=scoped):
                    def f(e):
                        cols = []
                        for k, v in scoped:
                            c = (
                                e[k]
                                if v == 1
                                else compile_value(v, {"__el": e})
                            )
                            cols.append(c.alias(k))
                        return F.struct(*cols)

                    return F.transform(arr, f)

                closures.append(_proj)
                cur = [k for k, _ in scoped]
        else:
            raise NotImplementedError(
                f"$lookup pipeline suffix: stage {op} after the "
                "correlated $match is not row-local (supported: $sort/"
                "$limit/$skip/$match/$project/$addFields/$set/$unset)"
            )
    return closures, cur


def _path_overlaps(k: str, ff: str) -> bool:
    return k == ff or k.startswith(ff + ".") or ff.startswith(k + ".")


def _preserves_field(st: dict[str, Any], ff: str) -> bool:
    """Does a row-local stage leave the dotted path ``ff`` (and its
    value) untouched?  Used by the mixed-form ``$lookup``: only stages
    that preserve the foreignField may be hoisted AHEAD of the equality
    match Mongo applies first (r8 advisor find — a prefix that rewrites
    the foreignField must not silently join on the rewritten value)."""
    op = next(iter(st))
    if op == "$match":
        return True
    if op == "$unset":
        paths = st["$unset"]
        paths = [paths] if isinstance(paths, str) else list(paths)
        return not any(_path_overlaps(p, ff) for p in paths)
    if op in ("$addFields", "$set"):
        return not any(_path_overlaps(k, ff) for k in st[op])
    if op == "$project":
        spec = st["$project"]
        exclusion = all(_falsy_flag(v) for k, v in spec.items() if k != "_id")
        if exclusion:
            return not any(
                _path_overlaps(k, ff)
                for k, v in spec.items()
                if _falsy_flag(v)
            )
        if ff == "_id":
            return not _falsy_flag(spec.get("_id", 1)) and not isinstance(
                spec.get("_id", 1), (dict, list)
            )
        covered = any(
            _plain_include(v) and (k == ff or ff.startswith(k + "."))
            for k, v in spec.items()
        )
        clobbered = any(
            _path_overlaps(k, ff)
            and not (
                _plain_include(v) and (k == ff or ff.startswith(k + "."))
            )
            for k, v in spec.items()
            if k != "_id"
        )
        return covered and not clobbered
    return False


def _lookup_pipeline(
    out: DataFrame,
    foreign: DataFrame,
    spec: dict[str, Any],
    tables: dict[str, DataFrame] | None,
) -> DataFrame:
    """``$lookup`` with ``let`` + ``pipeline`` (correlated sub-pipeline).

    Supported shape: ``[<var-free prefix stages...>, {"$match":
    {"$expr": E}}, <suffix: row-local stages>]`` — the prefix runs once
    over the foreign collection through the ordinary pipeline compiler;
    E correlates against the outer document via ``$$let`` vars; the
    suffix runs PER OUTER DOCUMENT: a leading ``$sort``/``$limit`` pair
    via the per-key window top-k, every further row-local stage
    (``$match``/``$project``/``$addFields``/``$set``/``$unset``/
    ``$sort``/``$skip``/``$limit``) as per-element transforms of the
    collected array (see :func:`_suffix_transforms`).
    An entirely var-free pipeline (no correlation) collects one shared
    array and cross-joins it — the broadcast-constant case.

    Physical strategy, in order of preference:

    - **key-grouped fast path** (E is a single ``$eq`` of a foreign
      expression against one ``$$var``): group the foreign side by the
      key expression — with the suffix's per-key window top-k applied
      BEFORE grouping — and equi-join the pre-aggregated arrays.  One
      shuffle of the (typically dimension-sized) foreign table keyed by
      the join key; the outer side joins broadcast/hash as Catalyst
      sees fit.  This is the 100 TB shape and covers the canonical
      "latest N per entity" pattern.
    - **general path** (extra residual conditions on ``$$vars``): tag
      outer rows with a monotonic row id, LEFT-join on the full compiled
      condition (Catalyst still extracts any embedded equality for the
      hash join), then collect per row id.  Honest cost: the collect
      shuffles the outer relation by row id — same as Mongo's own
      uncached pipeline lookup; prefer expressing pure-equi lookups in
      the fast-path shape at scale.  A suffix ``$limit`` slices the
      sorted per-row array AFTER the collect (every match is still
      gathered — a per-key window cannot pre-cut when residuals differ
      per outer row).

    The mixed form (``localField``/``foreignField`` together with
    ``pipeline``, Mongo 5.0's concise correlated subquery) folds the
    equality into this shape: merged via ``$and`` into the correlated
    ``$match`` when one exists (requiring the stages before it to be
    row-local, since Mongo applies the equality first), else inserted
    after the row-local prefix — where it usually IS the single ``$eq``
    and keeps the key-grouped fast path.

    Array ordering follows the suffix ``$sort`` exactly (array_sort
    comparator — collect_list order is physical, not logical); without
    a ``$sort`` the array is whole-struct sorted for determinism.
    """
    let = dict(spec.get("let") or {})
    sub = list(spec.get("pipeline") or [])
    as_name = spec["as"]
    if "localField" in spec or "foreignField" in spec:
        # mixed form (Mongo 5.0 "concise correlated subquery"): the
        # equality match applies FIRST, then the pipeline runs over the
        # equality-matched docs.  Compose by folding the equality into
        # the let+pipeline shape: row-local stages ($match without vars,
        # $project/$addFields/$set/$unset) commute with the equality
        # filter, so they may stay ahead of it; a non-row-local stage
        # ($group/$sort/$limit/...) before the correlation point would
        # change meaning and is refused loudly.
        if not ("localField" in spec and "foreignField" in spec):
            raise ValueError(
                "$lookup: localField and foreignField come as a pair"
            )
        var = "__ts_local"
        while var in let:
            var += "_"
        let[var] = "$" + spec["localField"]
        eq_expr = {"$eq": ["$" + spec["foreignField"], "$$" + var]}

        def _row_local(st: dict) -> bool:
            op_name = next(iter(st))
            return op_name in ("$project", "$addFields", "$set", "$unset") or (
                op_name == "$match" and not _contains_var(st)
            )

        ff = spec["foreignField"]
        corr = [i for i, st in enumerate(sub) if _contains_var(st)]
        if corr:
            i = corr[0]
            st = sub[i]
            if not (set(st) == {"$match"} and set(st["$match"]) == {"$expr"}):
                raise NotImplementedError(
                    "$lookup pipeline: the correlated stage must be "
                    '{"$match": {"$expr": ...}}'
                )
            if not all(_row_local(s) for s in sub[:i]):
                raise NotImplementedError(
                    "$lookup: localField equality composes with a "
                    "correlated pipeline only when the stages before the "
                    "correlated $match are row-local (Mongo applies the "
                    "equality first)"
                )
            if not all(_preserves_field(s, ff) for s in sub[:i]):
                # Mongo applies the equality to the ORIGINAL foreign
                # documents; a prefix that rewrites/removes the
                # foreignField would silently join on the new value
                raise NotImplementedError(
                    "$lookup: a pipeline stage before the correlated "
                    f"$match writes or removes foreignField {ff!r} — "
                    "Mongo applies the localField equality to the "
                    "original documents first"
                )
            sub[i] = {
                "$match": {
                    "$expr": {"$and": [eq_expr, st["$match"]["$expr"]]}
                }
            }
        else:
            # hoist row-local stages ahead of the equality only while
            # they PRESERVE the foreignField (Mongo matches on the
            # original value); a rewriting stage stays after the match
            # and runs per-element over the collected array
            k = 0
            while (
                k < len(sub)
                and _row_local(sub[k])
                and _preserves_field(sub[k], ff)
            ):
                k += 1
            sub = sub[:k] + [{"$match": {"$expr": eq_expr}}] + sub[k:]

    corr_idx = [i for i, st in enumerate(sub) if _contains_var(st)]
    if not corr_idx:
        # uncorrelated sub-pipeline: one shared array for every row.
        # r12: terminal physical sort stripped when the post-collect
        # array_sort reimposes it (same rule as $facet)
        order = _facet_final_order(sub)
        sub_df = apply_pipeline(foreign, _strip_physical_sort(sub), tables)
        if order and not all(k in sub_df.columns for k, _ in order):
            sub_df = apply_pipeline(foreign, sub, tables)
        fstruct = F.struct(*[F.col(f"`{c}`").alias(c) for c in sub_df.columns])
        collected = F.collect_list(fstruct)
        if order and all(k in sub_df.columns for k, _ in order):
            arr = F.array_sort(collected, _struct_comparator(order))
        else:
            arr = F.array_sort(collected)
        return out.crossJoin(F.broadcast(sub_df.agg(arr.alias(as_name))))
    if len(corr_idx) != 1:
        raise NotImplementedError(
            "$lookup pipeline: exactly one correlated stage is supported"
        )
    idx = corr_idx[0]
    stage = sub[idx]
    if set(stage) != {"$match"} or set(stage["$match"]) != {"$expr"}:
        raise NotImplementedError(
            "$lookup pipeline: the correlated stage must be "
            '{"$match": {"$expr": ...}}'
        )
    expr = stage["$match"]["$expr"]
    prefix, suffix = sub[:idx], sub[idx + 1 :]

    # suffix: a leading [$sort] / [$sort, $limit] pair rides the
    # key-grouped window top-k (pre-collect, the at-scale shape); any
    # remaining row-local stages compile to per-element transforms of
    # the collected array (r8: extended past the sort/limit allowlist)
    order: list[tuple[str, int]] | None = None
    limit: int | None = None
    rest = list(suffix)
    if rest and next(iter(rest[0])) == "$sort":
        order = list(rest.pop(0)["$sort"].items())
        if rest and next(iter(rest[0])) == "$limit":
            limit = int(rest.pop(0)["$limit"])

    prepped = apply_pipeline(foreign, prefix, tables) if prefix else foreign
    f_cols = list(prepped.columns)
    arr_transforms, _ = _suffix_transforms(rest, f_cols)

    def _apply_suffix(arr: Column) -> Column:
        for t in arr_transforms:
            arr = t(arr)
        return arr
    fstruct = F.struct(*[F.col(f"`{c}`").alias(c) for c in f_cols])
    arr_sorter = (
        _struct_comparator(order)
        if order and all(k in f_cols for k, _ in order)
        else None
    )

    def _sorted_collect(item: Column) -> Column:
        collected = F.collect_list(item)
        return (
            F.array_sort(collected, arr_sorter)
            if arr_sorter is not None
            else F.array_sort(collected)
        )

    eq = _single_eq_correlation(expr)
    if eq is not None and (eq[1] in let):
        fexpr, var = eq
        key_col = compile_value(fexpr)
        keyed = prepped.withColumn("_lk_key", key_col)
        if order is not None and limit is not None:
            sort_cols = [
                F.col(f"`{k}`").asc() if d >= 0 else F.col(f"`{k}`").desc()
                for k, d in order
            ]
            from pyspark.sql import Window as _W

            w = _W.partitionBy("_lk_key").orderBy(*sort_cols)
            keyed = keyed.withColumn("_lk_rn", F.row_number().over(w)).filter(
                F.col("_lk_rn") <= limit
            )
        grouped = keyed.groupBy("_lk_key").agg(
            _apply_suffix(_sorted_collect(fstruct)).alias(as_name)
        )
        outer_key = compile_value(let[var]).alias("_lk_okey")
        arr_type = grouped.schema[as_name].dataType.simpleString()
        return (
            out.withColumn("_lk_okey", outer_key)
            # eqNullSafe: $expr {$eq: [null, null]} is TRUE in Mongo's
            # aggregation expression semantics (compile_value's $eq is
            # null-safe for the same reason), so a null outer key joins
            # the null-key foreign group
            .join(grouped, F.col("_lk_okey").eqNullSafe(F.col("_lk_key")), "left")
            .drop("_lk_key", "_lk_okey")
            .withColumn(
                as_name,
                F.coalesce(F.col(f"`{as_name}`"), F.array().cast(arr_type)),
            )
        )

    # general path: rename outer columns, compile the full condition,
    # LEFT join, collect per outer row id.  A suffix $limit (always
    # after $sort — the suffix parser enforces it) is a slice of the
    # comparator-sorted per-row array: every match is collected first
    # (same cost as without the limit), then cut per outer row.
    out_cols = list(out.columns)
    clash = set(f_cols) & {f"_lkl_{c}" for c in out_cols}
    if clash:
        raise ValueError(f"$lookup pipeline: column name clash {clash}")
    l2 = out.select(
        *[F.col(f"`{c}`").alias(f"_lkl_{c}") for c in out_cols]
    ).withColumn("_lk_rowid", F.monotonically_increasing_id())
    r2 = prepped.withColumn("_lk_hit", F.lit(1))
    vars_ = {
        name: compile_value(_rewrite_outer_refs(vexpr)) for name, vexpr in let.items()
    }
    cond = compile_value(expr, vars_)
    joined = l2.join(r2, cond, "left")
    item = F.when(F.col("_lk_hit") == 1, fstruct)
    arr = _sorted_collect(item)
    if limit is not None:
        arr = F.slice(arr, 1, limit)
    arr = _apply_suffix(arr)
    res = joined.groupBy("_lk_rowid").agg(
        *[F.first(f"`_lkl_{c}`").alias(f"_lkl_{c}") for c in out_cols],
        arr.alias(as_name),
    )
    return res.select(
        *[F.col(f"`_lkl_{c}`").alias(c) for c in out_cols],
        F.col(f"`{as_name}`").alias(as_name),
    )


def _mentions_var(obj: Any, ref: str) -> bool:
    """Does a fragment contain the exact ``$$Variable`` string?"""
    if isinstance(obj, str):
        return obj == ref
    if isinstance(obj, dict):
        return any(_mentions_var(v, ref) for v in obj.values())
    if isinstance(obj, list):
        return any(_mentions_var(v, ref) for v in obj)
    return False


def _rewrite_outer_refs(expr: Any) -> Any:
    """Rewrite ``$path`` field refs in a ``let`` value expression to the
    ``_lkl_``-renamed outer columns (leaves ``$$`` and operators alone)."""
    if isinstance(expr, str) and expr.startswith("$") and not expr.startswith("$$"):
        return "$_lkl_" + expr[1:]
    if isinstance(expr, dict):
        return {k: _rewrite_outer_refs(v) for k, v in expr.items()}
    if isinstance(expr, list):
        return [_rewrite_outer_refs(v) for v in expr]
    return expr


#: stages whose specs hold value expressions: each compiles inside a
#: _schema_scope of its input, so a field path the stream lacks resolves
#: to NULL (Mongo: missing) instead of failing analysis
_EXPRESSION_STAGES = {
    "$project", "$addFields", "$set", "$replaceRoot", "$replaceWith",
    "$redact", "$setWindowFields", "$group", "$bucket", "$bucketAuto",
    "$sortByCount", "$_countByValue", "$graphLookup",
}


def apply_pipeline(
    df: DataFrame,
    pipeline: list[dict[str, Any]],
    tables: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Run a Mongo-style aggregation pipeline over a DataFrame.

    ``tables`` resolves ``$lookup.from`` names to DataFrames (the engine
    analog of "another collection in the same database")."""
    out = df
    for i, stage in enumerate(pipeline):
        if len(stage) != 1:
            raise ValueError(f"each stage must have exactly one operator: {stage}")
        op, spec = next(iter(stage.items()))
        scope = (
            _schema_scope(out.schema)
            if op in _EXPRESSION_STAGES
            else _contextlib.nullcontext()
        )
        with scope:
            out = _apply_stage(
                out, op, spec, tables,
                first=i == 0, last=i == len(pipeline) - 1,
            )
    return out


def _apply_stage(
    out: DataFrame,
    op: str,
    spec: Any,
    tables: dict[str, DataFrame] | None,
    first: bool,
    last: bool,
) -> DataFrame:
    """One pipeline stage over its input ``out``; ``first``/``last`` say
    where the stage sits in its pipeline."""
    from topic_store_spark.query.projection import apply_projection

    if op == "$lookup":
        if not tables or spec["from"] not in tables:
            raise ValueError(f"$lookup: unknown collection {spec.get('from')!r}")
        foreign = tables[spec["from"]]
        if "pipeline" in spec or "let" in spec:
            return _lookup_pipeline(out, foreign, spec, tables)
        local, remote, as_name = (
            spec["localField"],
            spec["foreignField"],
            spec["as"],
        )
        # Mongo $lookup: array of matching foreign docs per row (empty
        # array when none).  Pre-aggregate the foreign side per key —
        # only the (dimension-sized) foreign table shuffles; local rows
        # stay intact through a left join, duplicates preserved.  The
        # join is NULL-SAFE equality: Mongo matches a null/missing
        # localField to foreign docs whose foreignField is
        # null/missing (a plain equi-join silently drops those rows —
        # r6 $lookup fuzzer find); <=> remains a hash-joinable key.
        fstruct = F.struct(*[F.col(f"`{c}`").alias(c) for c in foreign.columns])
        fagg = foreign.groupBy(F.col(f"`{remote}`").alias("_lk_key")).agg(
            F.array_sort(F.collect_list(fstruct)).alias(as_name)
        )
        arr_type = fagg.schema[as_name].dataType.simpleString()
        out = (
            out.join(fagg, path_col(local).eqNullSafe(F.col("_lk_key")), "left")
            .drop("_lk_key")
            .withColumn(
                as_name,
                F.coalesce(F.col(f"`{as_name}`"), F.array().cast(arr_type)),
            )
        )
    elif op == "$match":
        out = out.filter(compile_query(spec, out.schema))
    elif op == "$redact":
        # document-level access filter: cond evaluates per document
        # to $$KEEP (keep) / $$PRUNE (drop).  $$DESCEND (r8): the
        # static schema bounds the recursion, so per-subdocument
        # redaction compiles to a depth-limited struct rewrite —
        # cond re-evaluates per embedded document (struct fields
        # and array<struct> elements), pruned subdocuments null
        # out, pruned array elements drop.  One projection, no
        # Python, no shuffle.
        redact_vars = {
            "KEEP": F.lit("KEEP"),
            "PRUNE": F.lit("PRUNE"),
            "DESCEND": F.lit("DESCEND"),
        }
        marker = compile_value(spec, redact_vars)
        if not _mentions_var(spec, "$$DESCEND"):
            out = out.filter(marker.eqNullSafe(F.lit("KEEP")))
        else:
            out = out.filter(
                marker.eqNullSafe(F.lit("KEEP"))
                | marker.eqNullSafe(F.lit("DESCEND"))
            )
            cols = []
            for f in out.schema.fields:
                src = F.col(f"`{f.name}`")
                rw = _redact_value(src, f.dataType, spec, redact_vars)
                cols.append(
                    F.when(marker.eqNullSafe(F.lit("KEEP")), src)
                    .otherwise(rw)
                    .alias(f.name)
                )
            out = out.select(*cols)
    elif op == "$documents":
        # literal source stage (Mongo: db-level aggregate only) —
        # replaces the input relation with the given documents;
        # restricted to the FIRST stage like Mongo
        if not first:
            raise ValueError("$documents must be the first stage")
        if not (isinstance(spec, list) and spec):
            raise ValueError("$documents takes a non-empty list")
        out = out.sparkSession.createDataFrame(spec)
    elif op == "$project":
        flags = {k: v for k, v in spec.items() if v in (0, 1, True, False)}
        computed = {k: v for k, v in spec.items() if k not in flags}
        if computed and any(
            v in (0, False) and k != "_id" for k, v in flags.items()
        ):
            raise ValueError(
                "Cannot use expression other than $meta in exclusion projection"
            )
        # computed fields see the *input* document (Mongo semantics):
        # every expression compiles against the stage input and all are
        # attached in ONE select, so a computed field that references
        # (or shadows) another projected field still reads the input
        # value, never a freshly computed one.
        if computed:
            out = _attach(
                out, {k: compile_value(v) for k, v in computed.items()}
            )
        if flags or any("." in k for k in computed):
            # computed fields are inclusions (``_id: 0`` the one exclusion
            # beside them), so a dotted one keeps only its own path of
            # the parent document
            out = apply_projection(out, {**flags, **dict.fromkeys(computed, 1)})
        elif computed:
            # computed-only $project is an INCLUSION projection in
            # Mongo: only the computed fields (plus _id) survive
            keep = list(computed)
            if "_id" in out.columns and "_id" not in keep:
                keep = ["_id"] + keep
            out = out.select(*[F.col(f"`{c}`") for c in keep])
    elif op in ("$addFields", "$set"):
        # same input-document semantics as $project computed fields
        if spec:
            out = _attach(out, {k: compile_value(v) for k, v in spec.items()})
    elif op == "$unset":
        fields = [spec] if isinstance(spec, str) else list(spec)
        out = apply_projection(out, {f: 0 for f in fields})
    elif op in ("$replaceRoot", "$replaceWith"):
        root = compile_value(
            spec["newRoot"] if op == "$replaceRoot" else spec
        )
        out = out.select(root.alias("_root")).select("_root.*")
    elif op == "$sample":
        # Deliberate deviation from Mongo's nondeterministic sample:
        # a hash-ordered pseudo-random sample keyed on the document
        # id, so reruns (and the DuckDB oracle) see the same rows —
        # reproducibility is a feature in a data pipeline.  The
        # ORDER BY md5 + LIMIT compiles to TakeOrderedAndProject:
        # per-partition partial top-k, no full sort at scale.
        if "_id" not in out.columns:
            raise ValueError(
                "$sample requires an _id column (deterministic "
                "hash-ordered sampling; $project one first)"
            )
        key = F.md5(F.col("_id").cast("string"))
        out = out.orderBy(key, F.col("_id")).limit(int(spec["size"]))
    elif op == "$setWindowFields":
        out = _compile_window_fields(out, spec)
    elif op == "$fill":
        out = apply_pipeline(out, _fill_stages(spec), tables)
    elif op == "$densify":
        out = _compile_densify(out, spec)
    elif op == "$facet":
        # Each sub-pipeline runs over the SAME input; results land as
        # one row of array<struct> fields.  Mongo guarantees each
        # facet array preserves its sub-pipeline's output order, and
        # collect_list over a shuffled agg does NOT — so the array is
        # re-sorted by the sub-pipeline's FINAL ordering (tracked
        # through order-preserving stages); sub-pipelines with no
        # defined order fall back to whole-struct array_sort so the
        # facet row stays deterministic.
        parts = []
        for name, sub in spec.items():
            order = _facet_final_order(sub)
            # r12: the physical sort is dead weight under the
            # collect + array_sort, but only when the ordering keys
            # survive to the output — otherwise the comparator
            # can't reimpose it and the sort must stay
            sub_df = apply_pipeline(out, _strip_physical_sort(sub), tables)
            if order and not all(k in sub_df.columns for k, _ in order):
                sub_df = apply_pipeline(out, sub, tables)
            sstruct = F.struct(
                *[F.col(f"`{c}`").alias(c) for c in sub_df.columns]
            )
            collected = F.collect_list(sstruct)
            if order and all(k in sub_df.columns for k, _ in order):
                arr = F.array_sort(collected, _struct_comparator(order))
            else:
                arr = F.array_sort(collected)
            parts.append(sub_df.agg(arr.alias(name)))
        row = parts[0]
        for p in parts[1:]:
            row = row.crossJoin(p)
        out = row
    elif op == "$graphLookup":
        out = _graph_lookup(out, spec, tables)
    elif op == "$group":
        out = _compile_group(out, spec)
    elif op == "$sort":
        order = [
            F.col(f"`{k}`").asc() if direction >= 0 else F.col(f"`{k}`").desc()
            for k, direction in spec.items()
        ]
        out = out.orderBy(*order)
    elif op == "$limit":
        out = out.limit(int(spec))
    elif op == "$skip":
        out = out.offset(int(spec))
    elif op == "$unwind":
        out = _compile_unwind(out, spec)
    elif op in ("$sortByCount", "$_countByValue"):
        # $_countByValue is INTERNAL: $sortByCount minus the
        # physical sort, substituted by _strip_physical_sort inside
        # $facet / uncorrelated $lookup sub-pipelines where the
        # post-collect array_sort reimposes the order anyway.
        # It is only accepted via the _InternalSpec marker the
        # compiler injects — the bare name in a user pipeline is an
        # unknown stage (r12 ADVICE: it silently compiled as an
        # unsorted $sortByCount).
        if op == "$_countByValue":
            if not isinstance(spec, _InternalSpec):
                raise ValueError(f"unsupported pipeline stage: {op}")
            spec = spec.spec
        if isinstance(spec, str) and not spec.startswith("$"):
            raise ValueError(
                f"{op}: {spec!r} is not a $-prefixed field path or an "
                "expression object"
            )
        out = out.groupBy(compile_value(spec).alias("_id")).agg(
            F.count(F.lit(1)).alias("count")
        )
        if op == "$sortByCount":
            out = out.orderBy(F.col("count").desc(), F.col("_id").asc())
    elif op == "$bucket":
        group_by = compile_value(spec["groupBy"])
        bounds = spec["boundaries"]
        default = spec.get("default")
        # Mongo bucket ids may mix numeric boundaries with a string
        # default; Spark columns are single-typed, so a non-numeric
        # default forces the id to string
        stringify = default is not None and not isinstance(
            default, (int, float)
        )

        def _id_lit(v):
            return F.lit(str(v) if stringify else v)

        bucket = _id_lit(default) if default is not None else F.lit(None)
        for lo, hi in zip(bounds, bounds[1:]):
            bucket = F.when(
                (group_by >= F.lit(lo)) & (group_by < F.lit(hi)), _id_lit(lo)
            ).otherwise(bucket)
        outputs = spec.get("output", {"count": {"$sum": 1}})
        bucketed = out.withColumn("_id__group", bucket)
        if default is None:
            bucketed = bucketed.filter(F.col("_id__group").isNotNull())
        out = _accumulate(bucketed, ["_id__group"], outputs).withColumnRenamed(
            "_id__group", "_id"
        )
    elif op == "$count":
        # Mongo desugars $count to $group{_id:null}+$project, so an
        # EMPTY input yields NO document, not {count: 0} — a bare
        # agg() always returns one row, hence the >0 filter (r11,
        # caught writing the $facet/$unionWith composition fuzzer)
        out = out.agg(F.count(F.lit(1)).alias(str(spec))).filter(
            F.col(f"`{spec}`") > 0
        )
    elif op == "$unionWith":
        # {"$unionWith": "coll"} or {"coll": ..., "pipeline": [...]}
        # or (Mongo 6) the coll-LESS form whose pipeline starts with
        # a $documents literal source; Mongo concatenates
        # heterogeneous documents — missing fields null-fill on
        # either side (unionByName allowMissingColumns)
        coll = spec if isinstance(spec, str) else spec.get("coll")
        if coll is None:
            sub = (spec or {}).get("pipeline") if isinstance(spec, dict) else None
            if not sub or next(iter(sub[0])) != "$documents":
                raise ValueError(
                    "$unionWith without coll requires a pipeline "
                    "starting with $documents"
                )
            other = apply_pipeline(out.limit(0), sub, tables)
        else:
            if not tables or coll not in tables:
                raise ValueError(f"$unionWith: unknown collection {coll!r}")
            other = tables[coll]
            if isinstance(spec, dict) and spec.get("pipeline"):
                other = apply_pipeline(other, spec["pipeline"], tables)
        out = out.unionByName(other, allowMissingColumns=True)
    elif op == "$bucketAuto":
        out = _bucket_auto(out, spec)
    elif op in ("$out", "$merge"):
        if not last:
            raise ValueError(f"{op} must be the final pipeline stage")
        from topic_store_spark.api import load as load_storage

        if op == "$out":
            if isinstance(spec, dict):
                # Mongo's {db, coll} form has no storage-path analog
                # here — refuse loudly rather than let api.load choke
                # on a dict (the engine addresses stores by path)
                raise NotImplementedError(
                    "$out: the {db, coll} document form is not "
                    "supported — pass a storage path string"
                )
            # Mongo $out replaces the target collection
            target = load_storage(spec, out.sparkSession)
            replace = getattr(target, "_overwrite", None)
            if replace is None:
                raise ValueError("$out target storage cannot be replaced")
            replace(out)
        else:
            _merge_into(out, spec, load_storage)
    else:
        raise ValueError(f"unsupported pipeline stage: {op}")
    return out
