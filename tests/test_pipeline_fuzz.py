"""Differential fuzzer for aggregation STAGE COMPOSITION: random short
pipelines ($match/$project/$unwind/$group/$sort+$limit/$count with
randomized parameters) run both through ``apply_pipeline`` on Spark and
through a pure-Python reference executing MongoDB's documented stage
semantics over the same documents.

The expression-level fuzzers (test_find_fuzz / test_value_expr_fuzz)
pin the leaf languages; this one pins how stages compose: $project
computing fields the next $match filters on, $unwind dropping
null/missing/empty arrays, $group's null key and accumulator behavior
over unwound rows, sort+limit determinism on a unique key.

$push order caveat: Mongo $push preserves document order; Spark's
collect_list order is partition-dependent, so pushed arrays are SORTED
on both sides before comparison (the one documented relaxation)."""

from __future__ import annotations

import random

import pytest

from tests.conftest import GRAPH_LOOKUP_TIERS, graph_lookup_tier
from tests.test_find_fuzz import _filter, _m_query
from tests.test_value_expr_fuzz import _m_eval, _num_expr
from topic_store_spark.query.pipeline import apply_pipeline

SCHEMA = "n long, a long, b long, c string, d array<long>"


def _docs(rng: random.Random, count: int = 40) -> list[dict]:
    return [
        {
            "n": i,
            "a": rng.choice([None, *range(-2, 5)]),
            "b": rng.choice([None, 0, 1, 3, 7]),
            "c": rng.choice([None, "x", "y", "z"]),
            "d": rng.choice([None, [], [1], [2, 5], [0, 3, 6]]),
        }
        for i in range(count)
    ]


def _scalar_filter(rng: random.Random) -> dict:
    while True:
        q = _filter(rng)

        def fields(node):
            out = set()
            for k, v in node.items():
                if k in ("$and", "$or", "$nor"):
                    for s in v:
                        out |= fields(s)
                else:
                    out.add(k)
            return out

        if fields(q) <= {"a", "b", "c"}:
            return q


# -- reference stage executor ----------------------------------------------

def _ref_match(docs, q):
    return [d for d in docs if _m_query(d, q)]


def _ref_project(docs, spec):
    out = []
    for d in docs:
        nd = {"n": d["n"]}
        for k, v in spec.items():
            if v == 1:
                nd[k] = d.get(k)
            elif v not in (0, False):
                nd[k] = _m_eval(d, v)
        out.append(nd)
    return out


def _ref_unwind(docs, field):
    out = []
    for d in docs:
        arr = d.get(field)
        if not arr:
            continue  # Mongo drops null/missing/empty by default
        for e in arr:
            nd = dict(d)
            nd[field] = e
            out.append(nd)
    return out


def _ref_group(docs, key_field, with_push):
    groups: dict = {}
    for d in docs:
        k = d.get(key_field)
        g = groups.setdefault(k, {"vals": [], "count": 0})
        g["count"] += 1
        g["vals"].append(d.get("b"))
    out = []
    for k, g in groups.items():
        nums = [v for v in g["vals"] if v is not None]
        row = {
            "_id": k,
            "s": sum(nums) if nums else 0,
            "mn": min(nums) if nums else None,
            "mx": max(nums) if nums else None,
            "ct": g["count"],
        }
        if with_push:
            row["p"] = g["vals"]  # nulls kept, order relaxed at compare
        out.append(row)
    return out


_GROUP_SPEC = lambda key, with_push: {  # noqa: E731
    "$group": {
        "_id": f"${key}",
        "s": {"$sum": "$b"},
        "mn": {"$min": "$b"},
        "mx": {"$max": "$b"},
        "ct": {"$sum": 1},
        **({"p": {"$push": "$b"}} if with_push else {}),
    }
}


def _q(v):
    """Quantize floats to 12 significant digits: JVM and Python libm
    disagree in the last ULP on transcendentals (atan2: ...850834 vs
    ...8508343, caught by a multi-seed fuzz run), which is library
    noise, not an engine bug — real numeric defects differ far above
    1e-12 relative."""
    if isinstance(v, float) and v == v and v not in (float("inf"), float("-inf")):
        return float(f"{v:.12g}")
    return v


def _canon(rows):
    """Multiset-comparable canonical form; pushed arrays sorted, floats
    quantized past libm ULP noise."""
    out = []
    for r in rows:
        d = {k: _q(v) for k, v in r.items()}
        if "p" in d and d["p"] is not None:
            d["p"] = sorted(
                (_q(v) for v in d["p"]),
                key=lambda v: (v is None, v if v is not None else 0),
            )
        out.append(tuple(sorted(
            (k, tuple(_q(x) for x in v) if isinstance(v, list) else v)
            for k, v in d.items()
        )))
    return sorted(out, key=repr)


# -- window / fill / densify family (r6) ------------------------------------

def _ref_window_unique(docs, by, default, frame):
    """$setWindowFields over sortBy {n:1} (unique): documentNumber,
    $shift (default only OUTSIDE the partition), windowed $sum."""
    parts: dict = {}
    for d in docs:
        parts.setdefault(d.get("c"), []).append(d)
    out = []
    for rows in parts.values():
        rows = sorted(rows, key=lambda d: d["n"])
        n = len(rows)
        for i, d in enumerate(rows):
            nd = dict(d)
            nd["dn"] = i + 1
            j = i + by
            nd["sh"] = rows[j]["b"] if 0 <= j < n else default
            if frame is None:
                lo, hi = 0, i
            else:
                lo = 0 if frame[0] == "unbounded" else (
                    i if frame[0] == "current" else max(0, i + frame[0])
                )
                hi = n - 1 if frame[1] == "unbounded" else (
                    i if frame[1] == "current" else min(n - 1, i + frame[1])
                )
            vals = [
                r["b"] for r in rows[lo : hi + 1] if r["b"] is not None
            ] if lo <= hi else []
            nd["ws"] = sum(vals) if vals else 0
            out.append(nd)
    return out


def _ref_calculus(docs, frame):
    """$derivative/$integral over sortBy {n: 1} (numeric, no unit):
    derivative = (y_last - y_first)/(t_last - t_first) over the frame,
    null on zero span or null edge values; integral = trapezoidal sum
    of per-edge increments strictly inside the frame, 0 when empty."""
    parts: dict = {}
    for d in docs:
        parts.setdefault(d.get("c"), []).append(d)
    out = []
    for rows in parts.values():
        rows = sorted(rows, key=lambda d: d["n"])
        n = len(rows)
        incs = [None]
        for i in range(1, n):
            a, b = rows[i - 1]["b"], rows[i]["b"]
            incs.append(
                None if a is None or b is None
                else (a + b) / 2 * (rows[i]["n"] - rows[i - 1]["n"])
            )
        for i, d in enumerate(rows):
            lo = 0 if frame[0] == "unbounded" else (
                i if frame[0] == "current" else max(0, i + frame[0])
            )
            hi = n - 1 if frame[1] == "unbounded" else (
                i if frame[1] == "current" else min(n - 1, i + frame[1])
            )
            nd = dict(d)
            if lo > hi:
                nd["dv"], nd["ig"] = None, 0.0
            else:
                y0, y1 = rows[lo]["b"], rows[hi]["b"]
                t0, t1 = rows[lo]["n"], rows[hi]["n"]
                nd["dv"] = (
                    None if y0 is None or y1 is None or t0 == t1
                    else (y1 - y0) / (t1 - t0)
                )
                nd["ig"] = float(sum(
                    v for v in incs[lo + 1 : hi + 1] if v is not None
                ))
            out.append(nd)
    return out


def _ref_window_ranks(docs, direction):
    """$rank/$denseRank over sortBy {b: direction} with ties and nulls
    (null sorts lowest, so first asc / last desc — Spark's defaults)."""
    parts: dict = {}
    for d in docs:
        parts.setdefault(d.get("c"), []).append(d)
    out = []
    for rows in parts.values():
        def key(d):
            return (d["b"] is not None, d["b"] if d["b"] is not None else 0)

        rows = sorted(rows, key=key, reverse=direction < 0)
        rank = {}
        dense = {}
        for i, d in enumerate(rows):
            k = key(d)
            rank.setdefault(k, i + 1)
            dense.setdefault(k, len(dense) + 1)
        for d in rows:
            nd = dict(d)
            nd["rk"] = rank[key(d)]
            nd["dr"] = dense[key(d)]
            out.append(nd)
    return out


def _ref_fill(docs, spec):
    parts: dict = {}
    for d in docs:
        parts.setdefault(d.get("c"), []).append(d)
    out = []
    for rows in parts.values():
        rows = sorted(rows, key=lambda d: d["n"])
        filled = []
        if "value" in spec:
            filled = [
                d["b"] if d["b"] is not None else spec["value"] for d in rows
            ]
        elif spec["method"] == "locf":
            last = None
            for d in rows:
                if d["b"] is not None:
                    last = d["b"]
                filled.append(last)
        else:  # linear against n; never extrapolates; column goes double
            known = [(i, d["n"], d["b"]) for i, d in enumerate(rows)
                     if d["b"] is not None]
            for i, d in enumerate(rows):
                if d["b"] is not None:
                    filled.append(float(d["b"]))
                    continue
                prev = max((k for k in known if k[0] < i), default=None)
                nxt = min((k for k in known if k[0] > i), default=None)
                if prev is None or nxt is None:
                    filled.append(None)
                else:
                    _, pk, pv = prev
                    _, nk, nv = nxt
                    filled.append(pv + (nv - pv) * ((d["n"] - pk) / (nk - pk)))
        for d, v in zip(rows, filled):
            nd = dict(d)
            nd["b"] = v
            out.append(nd)
    return out


def _ref_densify(docs, part_fields, bounds, step):
    """Engine-documented $densify semantics: grid = sequence(lo, hi,
    step) inclusive (full/partition bounds); appended docs carry only
    the partition fields + field, everything else null."""
    def vals(rows):
        return [d["b"] for d in rows if d["b"] is not None]

    out = [dict(d) for d in docs]
    if part_fields:
        parts: dict = {}
        for d in docs:
            parts.setdefault(d.get("c"), []).append(d)
        glob = vals(docs)
        for pv, rows in parts.items():
            if bounds == "partition":
                pv_vals = vals(rows)
                if not pv_vals:
                    continue
                lo, hi = min(pv_vals), max(pv_vals)
            else:
                if not glob:
                    continue
                lo, hi = min(glob), max(glob)
            have = {d["b"] for d in rows}
            for v in range(lo, hi + 1, step):
                if v not in have:
                    out.append(
                        {"n": None, "a": None, "b": v, "c": pv, "d": None}
                    )
    else:
        glob = vals(docs)
        if glob:
            lo, hi = min(glob), max(glob)
            have = {d["b"] for d in docs}
            for v in range(lo, hi + 1, step):
                if v not in have:
                    out.append(
                        {"n": None, "a": None, "b": v, "c": None, "d": None}
                    )
    return out


def test_window_fill_densify_match_reference(spark):
    rng = random.Random(0xD3_5EED)
    docs = _docs(rng)
    df = spark.createDataFrame(
        [tuple(d[k] for k in ["n", "a", "b", "c", "d"]) for d in docs],
        SCHEMA,
    )

    failures = []
    for trial in range(60):
        shape = rng.randrange(6)
        if shape == 5:
            # RANGE window (r7): value-based frame over the single
            # ascending sortBy key n (unique int) — every row whose key
            # lies in [n+lo, n+hi] inclusive, regardless of row adjacency
            # r8: fractional bounds ride the SQL-frame path (the
            # DataFrame API's rangeBetween is long-only)
            lo, hi = rng.choice(
                [[-2, 0], [-1, 1], [0, 3], ["unbounded", 0],
                 ["current", 2], [-3, "unbounded"],
                 [-1.5, 0.5], [-2.5, "unbounded"], ["current", 1.5]]
            )
            # r8: direction-free membership — a descending sortBy
            # must produce the same sums (bounds are value offsets)
            rdir = rng.choice([1, -1])
            # r9: the fractional-bound path renders the frame as SQL
            # from pre-projected temp columns — fuzz MORE aggregates
            # through it than $sum/$count ($avg/$min/$max null
            # handling, $median's per-element OVER attachment)
            pipe = [{
                "$setWindowFields": {
                    "partitionBy": "$c",
                    "sortBy": {"n": rdir},
                    "output": {
                        "ws": {"$sum": "$b",
                               "window": {"range": [lo, hi]}},
                        "wc": {"$count": {},
                               "window": {"range": [lo, hi]}},
                        "wa": {"$avg": "$b",
                               "window": {"range": [lo, hi]}},
                        "wmx": {"$max": "$b",
                                "window": {"range": [lo, hi]}},
                        "wmd": {"$median": {"input": "$b"},
                                "window": {"range": [lo, hi]}},
                    },
                }
            }]

            def _median(vals):
                if not vals:
                    return None
                vs = sorted(vals)
                h = (len(vs) - 1) * 0.5
                lo_i = int(h)
                hi_i = min(lo_i + 1, len(vs) - 1)
                return vs[lo_i] + (vs[hi_i] - vs[lo_i]) * (h - lo_i)

            parts: dict = {}
            for d in docs:
                parts.setdefault(d.get("c"), []).append(d)
            want = []
            for rows in parts.values():
                for d in rows:
                    klo = -10**9 if lo == "unbounded" else (
                        d["n"] if lo == "current" else d["n"] + lo
                    )
                    khi = 10**9 if hi == "unbounded" else (
                        d["n"] if hi == "current" else d["n"] + hi
                    )
                    sub = [r for r in rows if klo <= r["n"] <= khi]
                    vals = [r["b"] for r in sub if r["b"] is not None]
                    want.append({**d, "ws": sum(vals) if vals else 0,
                                 "wc": len(sub),
                                 "wa": (sum(vals) / len(vals)) if vals
                                 else None,
                                 "wmx": max(vals) if vals else None,
                                 "wmd": _median([float(v) for v in vals])})
        elif shape == 4:  # derivative/integral over a numeric sort
            frame = rng.choice(
                [["unbounded", "current"], ["unbounded", "unbounded"],
                 [-2, 0], [-1, 1], ["current", "unbounded"]]
            )
            pipe = [{
                "$setWindowFields": {
                    "partitionBy": "$c",
                    "sortBy": {"n": 1},
                    "output": {
                        "dv": {"$derivative": {"input": "$b"},
                               "window": {"documents": list(frame)}},
                        "ig": {"$integral": {"input": "$b"},
                               "window": {"documents": list(frame)}},
                    },
                }
            }]
            want = _ref_calculus(docs, frame)
        elif shape == 0:  # setWindowFields over a unique sort
            by = rng.choice([1, 2, -1])
            default = rng.choice([None, -99])
            frame = rng.choice(
                [None, ["unbounded", "current"], [-1, 1], [-2, 0],
                 ["current", "unbounded"]]
            )
            shift = {"output": "$b", "by": by}
            if default is not None:
                shift["default"] = default
            ws: dict = {"$sum": "$b"}
            if frame is not None:
                ws["window"] = {"documents": frame}
            pipe = [{
                "$setWindowFields": {
                    "partitionBy": "$c",
                    "sortBy": {"n": 1},
                    "output": {
                        "dn": {"$documentNumber": {}},
                        "sh": {"$shift": shift},
                        "ws": ws,
                    },
                }
            }]
            want = _ref_window_unique(docs, by, default, frame)
        elif shape == 1:  # rank family over a tied sort
            direction = rng.choice([1, -1])
            pipe = [{
                "$setWindowFields": {
                    "partitionBy": "$c",
                    "sortBy": {"b": direction},
                    "output": {
                        "rk": {"$rank": {}},
                        "dr": {"$denseRank": {}},
                    },
                }
            }]
            want = _ref_window_ranks(docs, direction)
        elif shape == 2:  # fill (value / locf / linear)
            spec = rng.choice(
                [{"value": rng.randint(-5, 5)}, {"method": "locf"},
                 {"method": "linear"}]
            )
            pipe = [{
                "$fill": {
                    "partitionBy": "$c",
                    "sortBy": {"n": 1},
                    "output": {"b": dict(spec)},
                }
            }]
            want = _ref_fill(docs, spec)
        else:  # densify
            part_fields = rng.choice([[], ["c"]])
            bounds = rng.choice(
                ["full"] if not part_fields else ["full", "partition"]
            )
            step = rng.choice([1, 2])
            pipe = [{
                "$densify": {
                    "field": "b",
                    **({"partitionByFields": part_fields}
                       if part_fields else {}),
                    "range": {"step": step, "bounds": bounds},
                }
            }]
            want = _ref_densify(docs, part_fields, bounds, step)

        got_rows = [
            r.asDict(recursive=True)
            for r in apply_pipeline(df, pipe).collect()
        ]
        if _canon(got_rows) != _canon(want):
            bad = [
                (g, w) for g, w in zip(_canon(got_rows), _canon(want))
                if g != w
            ]
            failures.append((pipe, bad[:2]))
    assert not failures, (
        f"{len(failures)}/60 window/fill/densify pipelines diverge; "
        f"first: {failures[0]}"
    )


# -- $lookup family (r6): equality form and correlated let+pipeline ---------

FOREIGN_SCHEMA = "fid long, fa long, fv long"


def _foreign_docs(rng: random.Random, n: int = 25) -> list[dict]:
    return [
        {
            "fid": i,
            "fa": rng.choice([None, *range(-2, 5)]),
            "fv": rng.choice([None, 0, 2, 5, 9]),
        }
        for i in range(n)
    ]


def _ref_lookup_eq(docs, fdocs, local, foreign):
    """Equality $lookup: matched foreign docs in a stable order (the
    engine sorts the collected array; comparison canon also sorts, so
    only SET equality is pinned).  Mongo: null local matches null
    foreign (both 'missing-as-null' here — the engine's documented
    schema-on-read equivalence)."""
    out = []
    for d in docs:
        lv = d.get(local)
        matched = [f for f in fdocs if f.get(foreign) == lv]
        nd = dict(d)
        nd["m"] = matched
        out.append(nd)
    return out


def _canon_lookup(rows, arr_field="m"):
    out = []
    for r in rows:
        d = dict(r)
        arr = d.pop(arr_field)
        arr_canon = tuple(sorted(
            tuple(sorted((k, v) for k, v in e.items())) for e in (arr or [])
        ))
        d[arr_field] = arr_canon
        out.append(tuple(sorted(
            (k, tuple(v) if isinstance(v, list) else v) for k, v in d.items()
        )))
    return sorted(out, key=repr)


def test_lookup_compositions_match_reference(spark):
    rng = random.Random(0x100C_AB)
    docs = _docs(rng, 30)
    fdocs = _foreign_docs(rng)
    df = spark.createDataFrame(
        [tuple(d[k] for k in ["n", "a", "b", "c", "d"]) for d in docs],
        SCHEMA,
    )
    fdf = spark.createDataFrame(
        [tuple(f[k] for k in ["fid", "fa", "fv"]) for f in fdocs],
        FOREIGN_SCHEMA,
    )
    def _sort_limit(matched, order, k):
        """Mongo per-outer sort (BSON compare via _m_cmp, null lowest;
        negated for desc) + limit."""
        def cmp(x, y):
            for key, direction in order:
                c = _m_cmp(x.get(key), y.get(key))
                if c:
                    return c if direction >= 0 else -c
            return 0

        return sorted(matched, key=cmp_to_key(cmp))[:k]

    failures = []
    for trial in range(35):
        shape = trial % 7
        thr = rng.randint(0, 6)
        k = rng.randint(1, 3)
        direction = rng.choice([1, -1])
        # fid is a unique tiebreak so the LIMIT-k SET is deterministic
        order = [("fv", direction), ("fid", 1)]
        if shape == 0:  # plain equality form
            pipe = [{"$lookup": {"from": "t2", "localField": "a",
                                 "foreignField": "fa", "as": "m"}}]
            want = _ref_lookup_eq(docs, fdocs, "a", "fa")
        elif shape == 1:  # correlated let+pipeline: match + threshold
            pipe = [{"$lookup": {
                "from": "t2",
                "let": {"la": "$a"},
                "pipeline": [
                    {"$match": {"$expr": {"$and": [
                        {"$eq": ["$fa", "$$la"]},
                        {"$gte": ["$fv", thr]},
                    ]}}},
                ],
                "as": "m",
            }}]
            want = [
                {**d, "m": [
                    f for f in fdocs
                    if f.get("fa") == d.get("a")
                    and f.get("fv") is not None and f["fv"] >= thr
                ]}
                for d in docs
            ]
        elif shape == 2:
            # mixed form (r7): localField equality + pipeline.  Even
            # trials: var-free prefix filter only (equality inserted
            # after it — fast path); odd: plus a correlated residual
            # (equality $and-merged into it — general path)
            sub = [{"$match": {"fv": {"$gte": thr}}}]
            residual = trial % 2 == 1
            if residual:
                sub.append(
                    {"$match": {"$expr": {"$lt": ["$fid", "$$ln"]}}}
                )
            pipe = [{"$lookup": {
                "from": "t2", "localField": "a", "foreignField": "fa",
                **({"let": {"ln": "$n"}} if residual else {}),
                "pipeline": sub, "as": "m",
            }}]
            want = [
                {**d, "m": [
                    f for f in fdocs
                    if f.get("fv") is not None and f["fv"] >= thr
                    and f.get("fa") == d.get("a")
                    and (not residual or f["fid"] < d["n"])
                ]}
                for d in docs
            ]
        elif shape == 3:
            # single-$eq + $sort + $limit: the key-grouped fast path's
            # per-key window cutoff, incl. NULL outer keys (null-safe
            # group join — $expr $eq(null,null) is true)
            pipe = [{"$lookup": {
                "from": "t2",
                "let": {"la": "$a"},
                "pipeline": [
                    {"$match": {"$expr": {"$eq": ["$fa", "$$la"]}}},
                    {"$sort": dict(order)},
                    {"$limit": k},
                ],
                "as": "m",
            }}]
            want = [
                {**d, "m": _sort_limit(
                    [f for f in fdocs if f.get("fa") == d.get("a")],
                    order, k,
                )}
                for d in docs
            ]
        elif shape == 5:
            # r8: row-local suffix stages AFTER the correlated match —
            # per-element transforms of the collected array ($match /
            # $addFields / $skip / $project), on the fast path
            pipe = [{"$lookup": {
                "from": "t2",
                "let": {"la": "$a"},
                "pipeline": [
                    {"$match": {"$expr": {"$eq": ["$fa", "$$la"]}}},
                    {"$sort": dict(order)},
                    {"$match": {"fv": {"$gte": thr}}},
                    # {} is valid Mongo: matches everything (r9 advice
                    # fix — previously IndexError in the filter closure)
                    {"$match": {}},
                    {"$addFields": {"fx": {"$add": ["$fv", 1]}}},
                    {"$skip": 1},
                    {"$project": {"fid": 1, "fx": 1}},
                ],
                "as": "m",
            }}]

            def _suffix_ref(d):
                matched = _sort_limit(
                    [f for f in fdocs if f.get("fa") == d.get("a")],
                    order, 10**9,
                )
                matched = [
                    f for f in matched
                    if f.get("fv") is not None and f["fv"] >= thr
                ]
                matched = [
                    {**f, "fx": None if f.get("fv") is None else f["fv"] + 1}
                    for f in matched
                ]
                matched = matched[1:]
                return [{"fid": f["fid"], "fx": f["fx"]} for f in matched]

            want = [{**d, "m": _suffix_ref(d)} for d in docs]
        elif shape == 6:
            # r8 advisor find: mixed form where a pipeline stage
            # REWRITES the foreignField — the equality must use the
            # ORIGINAL value, the array elements the rewritten one
            pipe = [{"$lookup": {
                "from": "t2", "localField": "a", "foreignField": "fa",
                "pipeline": [
                    {"$match": {"fv": {"$gte": thr}}},
                    {"$set": {"fa": {"$literal": -5}}},
                    {"$sort": dict(order)},
                    {"$limit": k},
                ],
                "as": "m",
            }}]
            want = [
                {**d, "m": _sort_limit(
                    [{**f, "fa": -5} for f in fdocs
                     if f.get("fv") is not None and f["fv"] >= thr
                     and f.get("fa") == d.get("a")],
                    order, k,
                )}
                for d in docs
            ]
        else:
            # residual correlation + $sort + $limit (r7): the general
            # row-id path's post-collect slice
            pipe = [{"$lookup": {
                "from": "t2",
                "let": {"la": "$a", "ln": "$n"},
                "pipeline": [
                    {"$match": {"$expr": {"$and": [
                        {"$eq": ["$fa", "$$la"]},
                        {"$lt": ["$fid", "$$ln"]},
                    ]}}},
                    {"$sort": dict(order)},
                    {"$limit": k},
                ],
                "as": "m",
            }}]
            want = [
                {**d, "m": _sort_limit(
                    [f for f in fdocs
                     if f.get("fa") == d.get("a") and f["fid"] < d["n"]],
                    order, k,
                )}
                for d in docs
            ]
        got = [
            r.asDict(recursive=True)
            for r in apply_pipeline(df, pipe, tables={"t2": fdf}).collect()
        ]
        if _canon_lookup(got) != _canon_lookup(want):
            bad = [
                (g, w)
                for g, w in zip(_canon_lookup(got), _canon_lookup(want))
                if g != w
            ]
            failures.append((pipe, bad[:2]))
    assert not failures, (
        f"{len(failures)}/35 $lookup pipelines diverge; first: {failures[0]}"
    )


def _project_safe(expr):
    """A bare numeric/None literal in $project position is Mongo's
    include/exclude FLAG syntax, not a value (both engines refuse the
    mix with includes) — wrap generated literal leaves as $literal, the
    way a real query must spell them (multi-seed-marathon find)."""
    return expr if isinstance(expr, (dict, str)) else {"$literal": expr}


def test_stage_compositions_match_reference(spark):
    rng = random.Random(0x51A6E5)
    docs = _docs(rng)
    df = spark.createDataFrame(
        [tuple(d[k] for k in ["n", "a", "b", "c", "d"]) for d in docs],
        SCHEMA,
    )

    failures = []
    for trial in range(80):
        shape = rng.randrange(9)
        if shape == 7:  # bucket over a numeric field
            bounds = sorted(rng.sample(range(-2, 6), rng.randint(2, 4)))
            pipe = [{
                "$bucket": {
                    "groupBy": "$a",
                    "boundaries": bounds,
                    "default": "other",
                    "output": {"ct": {"$sum": 1}, "mx": {"$max": "$b"}},
                }
            }]
            groups: dict = {}
            for d in docs:
                a = d["a"]
                key = "other"
                if a is not None and bounds[0] <= a < bounds[-1]:
                    key = max(b for b in bounds[:-1] if b <= a)
                g = groups.setdefault(key, {"ct": 0, "vals": []})
                g["ct"] += 1
                if d["b"] is not None:
                    g["vals"].append(d["b"])
            # string default forces the engine's single-typed _id column
            # to string — mirror (int boundary id -> its decimal string)
            want = [
                {"_id": str(k), "ct": g["ct"],
                 "mx": max(g["vals"]) if g["vals"] else None}
                for k, g in groups.items()
            ]
        elif shape == 8:  # unwind -> sortByCount
            pipe = [{"$unwind": "$d"}, {"$sortByCount": "$d"}]
            counts: dict = {}
            for d in _ref_unwind(docs, "d"):
                counts[d["d"]] = counts.get(d["d"], 0) + 1
            want = [{"_id": k, "count": v} for k, v in counts.items()]
        elif shape == 0:  # match only
            q = _scalar_filter(rng)
            pipe = [{"$match": q}]
            want = _ref_match(docs, q)
        elif shape == 1:  # match -> project (computed field)
            q = _scalar_filter(rng)
            expr = _project_safe(_num_expr(rng))
            pipe = [{"$match": q}, {"$project": {"n": 1, "a": 1, "t": expr}}]
            want = _ref_project(
                _ref_match(docs, q), {"a": 1, "t": expr}
            )
        elif shape == 2:  # project computed -> match on it
            expr = _project_safe(_num_expr(rng))
            thr = rng.randint(-2, 5)
            pipe = [
                {"$project": {"n": 1, "t": expr}},
                {"$match": {"t": {"$gte": thr}}},
            ]
            want = [
                d for d in _ref_project(docs, {"t": expr})
                if _m_query(d, {"t": {"$gte": thr}})
            ]
        elif shape == 3:  # unwind -> match
            q = _scalar_filter(rng)
            pipe = [{"$unwind": "$d"}, {"$match": q}]
            want = _ref_match(_ref_unwind(docs, "d"), q)
        elif shape == 4:  # match -> group
            q = _scalar_filter(rng)
            key = rng.choice(["a", "c"])
            wp = rng.random() < 0.5
            pipe = [{"$match": q}, _GROUP_SPEC(key, wp)]
            want = _ref_group(_ref_match(docs, q), key, wp)
        elif shape == 5:  # unwind -> group
            key = rng.choice(["a", "c"])
            wp = rng.random() < 0.5
            pipe = [{"$unwind": "$d"}, _GROUP_SPEC(key, wp)]
            want = _ref_group(_ref_unwind(docs, "d"), key, wp)
        else:  # match -> sort -> limit (unique key => deterministic)
            q = _scalar_filter(rng)
            k = rng.randint(1, 10)
            direction = rng.choice([1, -1])
            pipe = [
                {"$match": q},
                {"$sort": {"n": direction}},
                {"$limit": k},
            ]
            ordered = sorted(
                _ref_match(docs, q),
                key=lambda d: d["n"],
                reverse=direction < 0,
            )
            want = ordered[:k]

        got_rows = [
            r.asDict(recursive=True)
            for r in apply_pipeline(df, pipe).collect()
        ]
        if _canon(got_rows) != _canon(want):
            failures.append((pipe, got_rows[:3], want[:3]))
    assert not failures, (
        f"{len(failures)}/60 pipelines diverge; first: {failures[0]}"
    )


# -- n-ary accumulators + $convert family (r7) ------------------------------

from functools import cmp_to_key

from tests.test_value_expr_fuzz import _m_cmp


def _nary_sort_key(order):
    """cmp_to_key over (sortkey_tuple, output) pairs: per-key direction,
    null-lowest (BSON order), same as the engine's _struct_comparator."""

    def cmp(a, b):
        for i, (_, direction) in enumerate(order):
            c = _m_cmp(a[0][i], b[0][i])
            if c:
                return c if direction >= 0 else -c
        return 0

    return cmp_to_key(cmp)


def _ref_nary(docs, op, arg):
    """Reference n-ary accumulator over one doc group; `docs` order IS
    document order (the $firstN/$lastN axis)."""
    if op in ("$top", "$topN", "$bottom", "$bottomN"):
        order = list(arg["sortBy"].items())
        pairs = [
            (
                tuple(_m_eval(d, f"${k}") for k, _ in order),
                _m_eval(d, arg["output"]),
            )
            for d in docs
        ]
        pairs.sort(key=_nary_sort_key(order))
        n = arg.get("n", 1)
        sel = pairs[:n] if op in ("$top", "$topN") else pairs[-n:]
        vals = [p[1] for p in sel]
        return vals[0] if op in ("$top", "$bottom") else vals
    n = arg["n"]
    vals = [_m_eval(d, arg["input"]) for d in docs]
    if op in ("$maxN", "$minN"):
        nn = sorted(
            (v for v in vals if v is not None), reverse=op == "$maxN"
        )
        return nn[:n]
    return vals[:n] if op == "$firstN" else vals[-n:]


def _ref_convert(doc, spec):
    """Reference $convert with onError/onNull (targets the fuzzer uses:
    int/long/double/string/bool; replacements are generated already in
    the target type, mirroring the engine's cast-to-target rule)."""
    import math

    v = _m_eval(doc, spec["input"])
    if v is None:
        return spec.get("onNull")
    to = spec["to"]
    try:
        if to == "bool":
            if isinstance(v, bool):
                return v
            if isinstance(v, (int, float)):
                return v != 0
            return True  # any string/array/doc is truthy
        if to in ("int", "long"):
            if isinstance(v, float):
                return math.trunc(v)
            return int(v)  # str: integer strings only -> ValueError else
        if to == "double":
            return float(v)
        if to == "string":
            if isinstance(v, bool):
                return "true" if v else "false"
            return str(v)
    except (ValueError, TypeError, OverflowError):
        return spec.get("onError")
    raise AssertionError(to)


def test_nary_accumulators_and_convert_match_reference(spark):
    rng = random.Random(0x7A7_0B07)
    docs = _docs(rng, 50)
    df = spark.createDataFrame(
        [tuple(d[k] for k in ["n", "a", "b", "c", "d"]) for d in docs],
        SCHEMA,
    )

    failures = []
    for trial in range(60):
        shape = rng.randrange(3)
        if shape == 0:
            # $group with a sort-aware / value n-ary accumulator; sortBy
            # ends in the unique n for determinism
            key = rng.choice(["a", "c"])
            op = rng.choice(
                ["$top", "$bottom", "$topN", "$bottomN", "$maxN", "$minN"]
            )
            if op in ("$top", "$bottom"):
                arg = {
                    "sortBy": {rng.choice(["b", "a"]): rng.choice([1, -1]),
                               "n": 1},
                    "output": rng.choice(["$n", "$b", {"$add": ["$n", 10]}]),
                }
            elif op in ("$topN", "$bottomN"):
                arg = {
                    "n": rng.randint(1, 4),
                    "sortBy": {rng.choice(["b", "a"]): rng.choice([1, -1]),
                               "n": 1},
                    "output": rng.choice(["$n", "$b"]),
                }
            else:
                arg = {"input": rng.choice(["$b", "$n"]),
                       "n": rng.randint(1, 4)}
            pipe = [{"$group": {"_id": f"${key}", "v": {op: arg}}}]
            groups: dict = {}
            for d in docs:
                groups.setdefault(d.get(key), []).append(d)
            want = [
                {"_id": k, "v": _ref_nary(g, op, arg)}
                for k, g in groups.items()
            ]
        elif shape == 1:
            # $setWindowFields: n-ary ops over documents frames; frame
            # rows arrive in sortBy order so even $firstN/$lastN are
            # deterministic here
            op = rng.choice(
                ["$topN", "$bottom", "$maxN", "$minN", "$firstN", "$lastN"]
            )
            if op in ("$topN", "$bottom"):
                arg = {
                    "sortBy": {"b": rng.choice([1, -1]), "n": 1},
                    "output": rng.choice(["$n", "$b"]),
                    **({"n": rng.randint(1, 3)} if op == "$topN" else {}),
                }
            else:
                arg = {"input": rng.choice(["$b", "$n"]),
                       "n": rng.randint(1, 3)}
            frame = rng.choice([
                ["unbounded", "current"], ["unbounded", "unbounded"],
                [-2, "current"], [-1, 1],
            ])
            pipe = [{"$setWindowFields": {
                "partitionBy": "$c", "sortBy": {"n": 1},
                "output": {"v": {op: arg, "window": {"documents": frame}}},
            }}]
            parts: dict = {}
            for d in docs:
                parts.setdefault(d.get("c"), []).append(d)
            want = []
            for rows in parts.values():
                rows = sorted(rows, key=lambda d: d["n"])
                last = len(rows) - 1
                for i, d in enumerate(rows):
                    lo = 0 if frame[0] == "unbounded" else (
                        i if frame[0] == "current" else max(0, i + frame[0])
                    )
                    hi = last if frame[1] == "unbounded" else (
                        i if frame[1] == "current" else min(last, i + frame[1])
                    )
                    nd = dict(d)
                    sub = rows[lo:hi + 1] if lo <= hi else []
                    if sub:
                        nd["v"] = _ref_nary(sub, op, arg)
                    else:
                        nd["v"] = None if op == "$bottom" else []
                    want.append(nd)
        else:
            # $project with $convert / $toX shorthands
            to = rng.choice(["int", "long", "double", "string", "bool"])
            inp = rng.choice(["$a", "$b", "$c", {"$toString": "$a"}])
            repl = {
                "int": -99, "long": -99, "double": -99.5,
                "string": "ERR", "bool": False,
            }[to]
            spec = {"input": inp, "to": to, "onError": repl}
            if rng.random() < 0.6:
                spec["onNull"] = repl
            pipe = [{"$project": {"n": 1, "v": {"$convert": spec}}}]
            want = [
                {"n": d["n"], "v": _ref_convert(d, spec)} for d in docs
            ]

        got_rows = [
            r.asDict(recursive=True)
            for r in apply_pipeline(df, pipe).collect()
        ]
        if _canon(got_rows) != _canon(want):
            bad = [
                (g, w) for g, w in zip(_canon(got_rows), _canon(want))
                if g != w
            ]
            failures.append((pipe, bad[:2]))
    assert not failures, (
        f"{len(failures)}/60 n-ary/convert pipelines diverge; "
        f"first: {failures[0]}"
    )


# -- $redact $$DESCEND family (r9) -------------------------------------------
#
# Schema-recursive rewrite: cond re-evaluates per embedded document
# (struct fields, array<struct> elements) against a depth-limited
# static-schema recursion.  The reference mirrors the ENGINE's two
# documented conventions where Mongo differs by data model: a pruned
# struct FIELD nulls out (fixed columns cannot disappear), and null ==
# missing.  Everything else follows the Mongo 7 manual: KEEP keeps the
# subtree as-is without further evaluation, PRUNE drops it, DESCEND
# keeps non-document values at this level and recurses into embedded
# documents; pruned ARRAY elements are removed; NULL array elements are
# not documents and pass through untouched.

_REDACT_SCHEMA = (
    "n long, lvl long, tag string, "
    "sub struct<lvl: long, tag: string, "
    "items: array<struct<lvl: long, tag: string>>>, "
    "arr array<struct<lvl: long, tag: string, "
    "deep: struct<lvl: long, tag: string>>>"
)

#: field -> recursion shape at each level ("struct"/"arrstruct" + child
#: shape; absent = non-document leaf, kept as-is under DESCEND)
_REDACT_SHAPE = {
    "sub": ("struct", {"items": ("arrstruct", {})}),
    "arr": ("arrstruct", {"deep": ("struct", {})}),
}

_PRUNED = object()


def _leaf_doc(rng: random.Random) -> dict:
    return {
        "lvl": rng.choice([None, 0, 1, 2, 3]),
        "tag": rng.choice([None, "a", "b", "c"]),
    }


def _redact_docs(rng: random.Random, count: int = 30) -> list[dict]:
    docs = []
    for i in range(count):
        sub = rng.choice([None, True])
        arr = rng.choice([None, 0, 1, 3])
        docs.append({
            "n": i,
            **_leaf_doc(rng),
            "sub": None if sub is None else {
                **_leaf_doc(rng),
                "items": rng.choice(
                    [None, [], [_leaf_doc(rng)],
                     [_leaf_doc(rng), None, _leaf_doc(rng)]]
                ),
            },
            "arr": None if arr is None else [
                rng.choice([None, True]) and {**_leaf_doc(rng),
                                              "deep": rng.choice(
                                                  [None, _leaf_doc(rng)])}
                or None
                for _ in range(arr)
            ],
        })
    return docs


def _redact_cond(rng: random.Random) -> dict:
    """{"$cond": [pred, marker-or-nested, marker-or-nested]} with
    $$DESCEND guaranteed somewhere; preds are total (always yield a
    marker) over lvl/tag, which exist at every level."""
    def pred():
        return rng.choice([
            {"$gt": [{"$ifNull": ["$lvl", -1]}, rng.randint(-1, 3)]},
            {"$lte": [{"$ifNull": ["$lvl", -1]}, rng.randint(0, 3)]},
            {"$eq": ["$tag", rng.choice(["a", "b", "c"])]},
            {"$ne": ["$tag", rng.choice(["a", "b", "c"])]},
            {"$and": [{"$gte": [{"$ifNull": ["$lvl", 0]}, 1]},
                      {"$ne": ["$tag", "c"]}]},
            {"$or": [{"$eq": ["$tag", "a"]},
                     {"$gt": [{"$ifNull": ["$lvl", -1]}, 2]}]},
        ])

    other = rng.choice(["$$PRUNE", "$$KEEP"])
    if rng.random() < 0.3:
        # nested cond in one branch for marker variety
        nested = {"$cond": [pred(), "$$KEEP", "$$PRUNE"]}
        return {"$cond": [pred(), "$$DESCEND",
                          nested if rng.random() < 0.5 else other]}
    if rng.random() < 0.5:
        return {"$cond": [pred(), "$$DESCEND", other]}
    return {"$cond": [pred(), other, "$$DESCEND"]}


def _ref_redact_marker(doc: dict, cond) -> str:
    pred, then, els = cond["$cond"]
    v = _m_eval(doc, pred)
    branch = then if not (v is None or v is False or v == 0) else els
    if isinstance(branch, dict):
        return _ref_redact_marker(doc, branch)
    return branch


def _ref_redact_descend(doc: dict, cond, shape) -> dict:
    out = {}
    for k, v in doc.items():
        kind = shape.get(k)
        if kind is None:
            out[k] = v
        elif kind[0] == "struct":
            out[k] = _ref_redact_subdoc(v, cond, kind[1])
        else:  # arrstruct
            if v is None:
                out[k] = None
            else:
                new = []
                for e in v:
                    if e is None:
                        new.append(None)  # non-document element: kept
                        continue
                    r = _ref_redact_elem(e, cond, kind[1])
                    if r is not _PRUNED:
                        new.append(r)
                out[k] = new
    return out


def _ref_redact_subdoc(v, cond, shape):
    if v is None:
        return None  # missing subdocument: cond is not evaluated
    m = _ref_redact_marker(v, cond)
    if m == "$$KEEP":
        return v
    if m == "$$DESCEND":
        return _ref_redact_descend(v, cond, shape)
    return None  # pruned struct field nulls out (engine convention)


def _ref_redact_elem(e, cond, shape):
    m = _ref_redact_marker(e, cond)
    if m == "$$KEEP":
        return e
    if m == "$$DESCEND":
        return _ref_redact_descend(e, cond, shape)
    return _PRUNED  # pruned array element drops


def _freeze(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(_freeze(x) for x in v)
    return v


def test_redact_descend_matches_reference(spark):
    rng = random.Random(0x12EDAC7)
    docs = _redact_docs(rng)
    df = spark.createDataFrame(docs, _REDACT_SCHEMA)

    failures = []
    for trial in range(40):
        cond = _redact_cond(rng)
        got = [
            r.asDict(recursive=True)
            for r in apply_pipeline(df, [{"$redact": cond}]).collect()
        ]
        want = []
        for d in docs:
            m = _ref_redact_marker(d, cond)
            if m == "$$KEEP":
                want.append(d)
            elif m == "$$DESCEND":
                want.append(_ref_redact_descend(d, cond, _REDACT_SHAPE))
        got_c = sorted((_freeze(r) for r in got), key=repr)
        want_c = sorted((_freeze(r) for r in want), key=repr)
        if got_c != want_c:
            bad = [(g, w) for g, w in zip(got_c, want_c) if g != w]
            failures.append((cond, len(got), len(want), bad[:1]))
    assert not failures, (
        f"{len(failures)}/40 $redact $$DESCEND conds diverge; "
        f"first: {failures[0]}"
    )


# -- $graphLookup family (r9) ------------------------------------------------
#
# Reference BFS with the documented Mongo semantics: start at startWith,
# follow connectFromField -> connectToField, depth-bound by maxDepth
# (levels 0..maxDepth inclusive), cycle-guarded (a key expands once),
# restrictSearchWithMatch filters the documents CONSIDERED at every
# step, depthField records first-arrival depth, output is the SET of
# reached documents; null keys never match (equi-join semantics).

def _graph_nodes(rng: random.Random, count: int = 14) -> list[dict]:
    return [
        {
            "_id": i,
            "link": rng.choice([None, *[rng.randrange(count) for _ in range(3)],
                                count + 5]),  # dangling links too
            "grp": rng.choice(["x", "y", "z"]),
            "w": rng.randrange(10),
        }
        for i in range(count)
    ]


def _ref_graph_reach(start, nodes, max_depth, restrict):
    if restrict is not None:
        nodes = [n for n in nodes if _m_query(n, restrict)]
    frontier = {start} - {None}
    expanded: set = set()
    reached: dict = {}
    for depth in range(max_depth + 1):
        matched = [n for n in nodes if n["_id"] in frontier]
        for n in matched:
            if n["_id"] not in reached or reached[n["_id"]][0] > depth:
                reached[n["_id"]] = (depth, n)
        expanded |= frontier
        if depth == max_depth:
            break
        frontier = {
            n["link"] for n in matched if n["link"] is not None
        } - expanded
        if not frontier:
            break
    return reached


def test_graph_lookup_matches_reference(spark):
    rng = random.Random(0x96A9B00)

    failures = []
    for trial in range(8):
        nodes = _graph_nodes(rng)
        nodes_df = spark.createDataFrame(
            [tuple(n[k] for k in ["_id", "link", "grp", "w"]) for n in nodes],
            "_id long, link long, grp string, w long",
        )
        starts = [
            {"sid": i, "start": rng.choice([None, *range(len(nodes) + 2)])}
            for i in range(10)
        ]
        starts_df = spark.createDataFrame(
            [(s["sid"], s["start"]) for s in starts], "sid long, start long"
        )
        spec = {
            "from": "nodes",
            "startWith": "$start",
            "connectFromField": "link",
            "connectToField": "_id",
            "as": "reach",
        }
        max_depth = rng.choice([0, 1, 2, 4, None])
        if max_depth is not None:
            spec["maxDepth"] = max_depth
        depth_field = rng.random() < 0.5
        if depth_field:
            spec["depthField"] = "d"
        restrict = rng.choice(
            [None, {"grp": {"$ne": "x"}}, {"w": {"$gte": rng.randrange(5)}}]
        )
        if restrict is not None:
            spec["restrictSearchWithMatch"] = restrict

        got = {}
        for tier in GRAPH_LOOKUP_TIERS:
            with graph_lookup_tier(tier):
                out = apply_pipeline(
                    starts_df, [{"$graphLookup": spec}], tables={"nodes": nodes_df}
                )
                got[tier] = {
                    r["sid"]: sorted((_freeze(e) for e in r["reach"]), key=repr)
                    for r in (row.asDict(recursive=True) for row in out.collect())
                }
        want = {}
        for s in starts:
            reached = _ref_graph_reach(
                s["start"], nodes, 20 if max_depth is None else max_depth,
                restrict,
            )
            elems = []
            for depth, n in reached.values():
                e = dict(n)
                if depth_field:
                    e["d"] = depth
                elems.append(_freeze(e))
            want[s["sid"]] = sorted(elems, key=repr)
        for tier, rows in got.items():
            if rows != want:
                bad = {k: (rows[k], want[k]) for k in rows if rows[k] != want[k]}
                failures.append((tier, spec, list(bad.items())[:1]))
    assert not failures, (
        f"{len(failures)}/16 $graphLookup (spec, tier) runs diverge; "
        f"first: {failures[0]}"
    )


# ----------------------------------------------------------------- $merge
# Differential fuzz (r10, VERDICT #5): $merge is the one large pipeline
# surface with no fuzz harness — and a STATEFUL writer, where a bug
# corrupts the store rather than one query's result.  A pure-Python
# reference executes Mongo's whenMatched x whenNotMatched mode matrix
# (incl. custom update pipelines with $$new) over small generated
# store/incoming pairs; the engine side drives _merge_into through an
# in-memory target exposing the same to_df/write_df/_overwrite surface
# the parquet store does.

_MERGE_STORE_SCHEMA = "k1 long, k2 string, x long, y string, z long"
_MERGE_INC_SCHEMA = "k1 long, k2 string, x long, y string, w long"


class _MemTarget:
    def __init__(self, df):
        self._df_val = df

    def to_df(self):
        return self._df_val

    def write_df(self, df):
        self._df_val = self._df_val.unionByName(df, allowMissingColumns=True)

    def _overwrite(self, df):
        self._df_val = df


def _merge_docs(rng: random.Random, n: int, store: bool) -> list[dict]:
    keys = rng.sample([(i, c) for i in range(8) for c in "pq"], n)
    return [
        {
            "k1": k1,
            "k2": k2,
            "x": rng.choice([None, *range(-2, 7)]),
            "y": rng.choice([None, "u", "v", "w"]),
            ("z" if store else "w"): rng.choice([None, 0, 3, 11]),
        }
        for k1, k2 in keys
    ]


def _merge_update_stages(rng: random.Random) -> list[dict]:
    def numref():
        return rng.choice(
            ["$x", "$z", "$$new.x", {"$literal": rng.randint(-3, 9)},
             rng.randint(0, 5)]
        )

    def guarded():
        return {"$ifNull": [numref(), rng.randint(0, 3)]}

    shape = rng.randrange(4)
    if shape == 0:
        return [{"$set": {"x": {"$add": [guarded(), guarded()]}}}]
    if shape == 1:
        return [{"$set": {"y": "$$new.y",
                          "v": {"$multiply": [guarded(), guarded()]}}}]
    if shape == 2:
        return [{"$set": {"x": guarded()}}, {"$unset": ["y"]}]
    return [{"$unset": rng.sample(["x", "y", "z"], rng.randint(1, 2))}]


def _ref_merge_val(e, doc: dict, env: dict):
    if isinstance(e, str) and e.startswith("$$"):
        name, _, rest = e[2:].partition(".")
        v = env[name]
        for part in rest.split(".") if rest else []:
            v = v.get(part) if isinstance(v, dict) else None
        return v
    if isinstance(e, str) and e.startswith("$"):
        return doc.get(e[1:])
    if isinstance(e, dict):
        op, arg = next(iter(e.items()))
        if op == "$literal":
            return arg
        if op == "$ifNull":
            v = _ref_merge_val(arg[0], doc, env)
            return v if v is not None else _ref_merge_val(arg[1], doc, env)
        vs = [_ref_merge_val(a, doc, env) for a in arg]
        if any(v is None for v in vs):
            return None
        if op == "$add":
            return sum(vs)
        if op == "$multiply":
            out = 1
            for v in vs:
                out *= v
            return out
        raise ValueError(op)
    return e


def _ref_merge_update(d: dict, n: dict, stages: list, let=None) -> dict:
    # let variables evaluate against the INCOMING doc ($$ROOT = n)
    env = (
        {"new": n}
        if let is None
        else {name: _ref_merge_val(e, n, {"ROOT": n}) for name, e in let.items()}
    )
    doc = dict(d)
    for st in stages:
        op, spec = next(iter(st.items()))
        if op in ("$set", "$addFields"):
            # all RHS evaluate against the PRE-stage doc (Mongo + engine)
            vals = {f: _ref_merge_val(e, doc, env) for f, e in spec.items()}
            doc.update(vals)
        elif op == "$unset":
            for f in spec if isinstance(spec, list) else [spec]:
                doc.pop(f, None)
        else:
            raise ValueError(op)
    return doc


def _ref_merge(store_docs, inc_docs, on, wm, wnm, let=None):
    """Pure-Python $merge per the MongoDB manual (engine convention:
    null == missing).  Raises ValueError exactly where the engine must."""
    if not store_docs:
        if wnm == "discard":
            return []
        if wnm == "fail" and inc_docs:
            raise ValueError("whenNotMatched=fail")
        return [dict(d) for d in inc_docs]

    def key(d):
        return tuple(d[k] for k in on)

    store_keys = {key(d) for d in store_docs}
    matched = {key(d): d for d in inc_docs if key(d) in store_keys}
    new = [d for d in inc_docs if key(d) not in store_keys]
    if wnm == "fail" and new:
        raise ValueError("whenNotMatched=fail")
    if wm == "fail" and matched:
        raise ValueError("whenMatched=fail")
    inserts = [dict(d) for d in new] if wnm == "insert" else []
    if wm == "keepExisting":
        return [dict(d) for d in store_docs] + inserts
    out = []
    for d in store_docs:
        n = matched.get(key(d))
        if n is None:
            out.append(dict(d))
        elif wm == "replace":
            out.append(dict(n))
        elif isinstance(wm, list):
            out.append(_ref_merge_update(d, n, wm, let))
        else:  # merge: incoming non-null fields override field-wise
            m = dict(d)
            for c, v in n.items():
                if c not in on and v is not None:
                    m[c] = v
            out.append(m)
    return out + inserts


def _canon_merge(docs: list[dict], on: list[str]):
    cols = sorted({c for d in docs for c in d})
    return sorted(
        tuple((c, d.get(c)) for c in cols if d.get(c) is not None)
        for d in docs
    )


def test_merge_matches_reference(spark):
    from topic_store_spark.query.pipeline import _merge_into

    rng = random.Random(0x4E46E10)
    failures = []
    for case_i in range(25):
        on = rng.choice([["k1"], ["k1", "k2"]])
        # on=["k1"] needs k1 alone unique: thin the key space
        store_docs = _merge_docs(rng, rng.randint(0, 10), store=True)
        inc_docs = _merge_docs(rng, rng.randint(0, 8), store=False)
        if on == ["k1"]:
            store_docs = list({d["k1"]: d for d in store_docs}.values())
            inc_docs = list({d["k1"]: d for d in inc_docs}.values())
        wm = rng.choice(
            ["merge", "merge", "replace", "keepExisting", "fail",
             _merge_update_stages(rng), _merge_update_stages(rng)]
        )
        wnm = rng.choice(["insert", "insert", "discard", "fail"])
        let = None
        if isinstance(wm, list) and rng.random() < 0.4:
            # r10: custom let — vars evaluate against the INCOMING doc;
            # "new" present only sometimes (omitting it unbinds $$new)
            let = {"b": {"$add": [{"$ifNull": ["$x", 0]},
                                  rng.randint(1, 4)]}}
            wm = [{"$set": {"x": {"$add": [{"$ifNull": ["$x", 0]},
                                           "$$b"]}}}]
            if rng.random() < 0.7:
                let["new"] = "$$ROOT"
                if rng.random() < 0.5:
                    wm.append({"$set": {"y": "$$new.y"}})

        store_df = spark.createDataFrame(
            [tuple(d[c] for c in ["k1", "k2", "x", "y", "z"])
             for d in store_docs],
            _MERGE_STORE_SCHEMA,
        )
        inc_df = spark.createDataFrame(
            [tuple(d[c] for c in ["k1", "k2", "x", "y", "w"])
             for d in inc_docs],
            _MERGE_INC_SCHEMA,
        )
        tgt = _MemTarget(store_df)
        spec = {"into": "mem",
                "on": on[0] if len(on) == 1 else on,
                "whenMatched": wm, "whenNotMatched": wnm}
        if let is not None:
            spec["let"] = let
        try:
            _merge_into(inc_df, spec, lambda path, sp: tgt)
            got = _canon_merge(
                [r.asDict() for r in tgt.to_df().collect()], on
            )
            engine_err = None
        except ValueError as e:
            engine_err = str(e)
        try:
            want = _canon_merge(
                _ref_merge(store_docs, inc_docs, on, wm, wnm, let), on
            )
            ref_err = None
        except ValueError as e:
            ref_err = str(e)
        if (engine_err is None) != (ref_err is None):
            failures.append((case_i, spec, "raise-mismatch",
                             engine_err, ref_err))
        elif engine_err is None and got != want:
            diff = [p for p in got if p not in want] + \
                   [p for p in want if p not in got]
            failures.append((case_i, spec, "value-mismatch", diff[:4]))
    assert not failures, (
        f"{len(failures)}/25 $merge cases diverge; first: {failures[0]}"
    )

    # fixed corners the generator can't hit: default on=_id, and the
    # missing-'on'-field errors on either side
    store_df = spark.createDataFrame([(1, 10), (2, 20)], "_id long, x long")
    inc_df = spark.createDataFrame([(2, 99), (3, 30)], "_id long, x long")
    tgt = _MemTarget(store_df)
    _merge_into(inc_df, {"into": "mem"}, lambda path, sp: tgt)
    rows = {r["_id"]: r["x"] for r in tgt.to_df().collect()}
    assert rows == {1: 10, 2: 99, 3: 30}
    with pytest.raises(ValueError, match="missing from incoming"):
        _merge_into(
            inc_df.drop("_id"), {"into": "mem"}, lambda path, sp: tgt
        )
    with pytest.raises(ValueError, match="missing from target"):
        _merge_into(
            inc_df,
            {"into": "mem"},
            lambda path, sp: _MemTarget(store_df.drop("_id")),
        )


# -- $facet / $unionWith / $documents compositions (r11, harness 42) --------
#
# The r5-r10 marathons kept finding real bugs where SUB-pipelines meet
# the outer one (redact descend, lookup sub-pipelines, merge pipelines);
# this harness pins the three remaining sub-pipeline carriers: $facet
# (N sub-pipelines over one input, arrays out), $unionWith (concat with
# a collection or an inline $documents literal, null-filling missing
# fields on either side), and $documents (literal source).  Writing it
# caught a real bug immediately: $count on EMPTY input emitted {c: 0}
# where Mongo (desugaring to $group{_id:null}) emits no document.


def _ref_sort_by_count(docs, field):
    counts: dict = {}
    for d in docs:
        k = d.get(field)
        counts[k] = counts.get(k, 0) + 1
    return [{"_id": k, "count": v} for k, v in counts.items()]


def _sub_pipeline(rng: random.Random, docs: list[dict]):
    """(stages, reference rows) for a facet-safe random sub-pipeline
    over ``docs`` (documents may be union-padded: missing keys read as
    None on both sides)."""
    shape = rng.randrange(6)
    if shape == 0:
        q = _scalar_filter(rng)
        return [{"$match": q}], _ref_match(docs, q)
    if shape == 1:
        q = _scalar_filter(rng)
        key = rng.choice(["a", "c"])
        return (
            [{"$match": q}, _GROUP_SPEC(key, False)],
            _ref_group(_ref_match(docs, q), key, False),
        )
    if shape == 2:
        return (
            [{"$unwind": "$d"}, {"$sortByCount": "$d"}],
            _ref_sort_by_count(_ref_unwind(docs, "d"), "d"),
        )
    if shape == 3:  # unique sort key -> deterministic limit set
        k = rng.randint(1, 8)
        direction = rng.choice([1, -1])
        ordered = sorted(docs, key=lambda d: d["n"], reverse=direction < 0)
        return (
            [{"$sort": {"n": direction}}, {"$limit": k}],
            ordered[:k],
        )
    if shape == 4:  # $count — empty input must emit NO document
        q = _scalar_filter(rng)
        matched = _ref_match(docs, q)
        return (
            [{"$match": q}, {"$count": "ct"}],
            [{"ct": len(matched)}] if matched else [],
        )
    q = _scalar_filter(rng)
    thr = rng.randint(-2, 5)
    return (
        [{"$match": q}, {"$match": {"a": {"$lt": thr}}}],
        [d for d in _ref_match(docs, q) if _m_query(d, {"a": {"$lt": thr}})],
    )


def _union_docs(rng: random.Random, n: int = 20) -> list[dict]:
    """Second collection: overlapping keys (n unique vs the base ids,
    a shared) plus an extra z so unionByName must null-fill BOTH ways
    (base lacks z; these lack b/c/d)."""
    return [
        {
            "n": 1000 + i,
            "a": rng.choice([None, *range(-2, 5)]),
            "z": rng.choice([None, 1, 4]),
        }
        for i in range(n)
    ]


def _pad(docs: list[dict], keys) -> list[dict]:
    return [{k: d.get(k) for k in keys} for d in docs]


def test_facet_union_documents_match_reference(spark):
    rng = random.Random(0xFACE7)
    docs = _docs(rng, 30)
    df = spark.createDataFrame(
        [tuple(d[k] for k in ["n", "a", "b", "c", "d"]) for d in docs],
        SCHEMA,
    )
    udocs = _union_docs(rng)
    udf = spark.createDataFrame(
        [(d["n"], d["a"], d["z"]) for d in udocs], "n long, a long, z long"
    )
    tables = {"other": udf}
    all_keys = ["n", "a", "b", "c", "d", "z"]

    failures = []
    for trial in range(60):
        kind = rng.randrange(5)
        if kind == 0:  # $facet over the base relation
            spec, want = {}, {}
            for name in ["f1", "f2", "f3"][: rng.randint(2, 3)]:
                spec[name], want[name] = _sub_pipeline(rng, docs)
            got_row = (
                apply_pipeline(df, [{"$facet": spec}])
                .collect()[0]
                .asDict(recursive=True)
            )
            if set(got_row) != set(want) or any(
                _canon(got_row[f]) != _canon(want[f]) for f in want
            ):
                failures.append((trial, {"$facet": spec}, got_row, want))
            continue
        if kind == 1:  # match -> unionWith(coll [, pipeline]) -> match
            q = _scalar_filter(rng)
            uspec: dict = {"coll": "other"}
            uref = list(udocs)
            if rng.random() < 0.6:
                t = rng.randint(-2, 4)
                uspec["pipeline"] = [{"$match": {"a": {"$gte": t}}}]
                uref = [d for d in udocs if _m_query(d, {"a": {"$gte": t}})]
            pipe = [{"$match": q}, {"$unionWith": uspec}]
            want = _pad(_ref_match(docs, q), all_keys) + _pad(uref, all_keys)
            if rng.random() < 0.5:
                thr = rng.randint(-1, 4)
                pipe.append({"$match": {"a": {"$gte": thr}}})
                want = [d for d in want if _m_query(d, {"a": {"$gte": thr}})]
        elif kind == 2:  # $documents literal source -> sub-pipeline
            lit = [
                {
                    "n": i,
                    "a": rng.randint(-2, 4),
                    "c": rng.choice(["x", "y", "z"]),
                }
                for i in range(rng.randint(3, 12))
            ]
            sub, want = _sub_pipeline(
                rng, [dict(d, b=None, d=None) for d in lit]
            )
            # shapes referencing b/d would read literal-absent columns
            if any("$unwind" in s or "$group" in s for s in sub):
                continue
            pipe = [{"$documents": lit}, *sub]
            want = [
                {k: d.get(k) for k in ("n", "a", "c") if k in lit[0]}
                for d in want
            ] if sub and "$count" not in sub[-1] else want
        elif kind == 3:  # coll-less unionWith: inline $documents branch
            lit = [
                {"n": 2000 + i, "a": rng.randint(-2, 4)}
                for i in range(rng.randint(2, 8))
            ]
            q = _scalar_filter(rng)
            pipe = [
                {"$match": q},
                {"$unionWith": {"pipeline": [{"$documents": lit}]}},
                {"$sortByCount": "$a"},
            ]
            unioned = _pad(_ref_match(docs, q), all_keys) + _pad(
                lit, all_keys
            )
            want = _ref_sort_by_count(unioned, "a")
        else:  # unionWith -> $facet over the concatenated relation
            q = _scalar_filter(rng)
            unioned = _pad(_ref_match(docs, q), all_keys) + _pad(
                udocs, all_keys
            )
            spec, want_f = {}, {}
            for name in ["f1", "f2"]:
                spec[name], want_f[name] = _sub_pipeline(rng, unioned)
            got_row = (
                apply_pipeline(
                    df,
                    [{"$match": q}, {"$unionWith": "other"},
                     {"$facet": spec}],
                    tables,
                )
                .collect()[0]
                .asDict(recursive=True)
            )
            if set(got_row) != set(want_f) or any(
                _canon(got_row[f]) != _canon(want_f[f]) for f in want_f
            ):
                failures.append((trial, spec, got_row, want_f))
            continue

        got = [
            r.asDict(recursive=True)
            for r in apply_pipeline(df, pipe, tables).collect()
        ]
        got = _pad(got, sorted(got[0])) if got else got
        want = _pad(want, sorted(want[0])) if want else want
        if _canon(got) != _canon(want):
            failures.append((trial, pipe, got[:3], want[:3]))
    assert not failures, (
        f"{len(failures)}/60 compositions diverge; first: {failures[0]}"
    )


# -- full find dialect INSIDE $facet / $lookup sub-pipelines (r12, 43) -------
#
# The find dialect and the pipeline compiler are each fuzzed to death
# separately (harnesses 3-6 and the pipeline families), and harness 42
# covers sub-pipeline COMPOSITIONS — but its sub-pipeline $matches are
# simple scalar filters.  The one untested joint surface was a $match
# carrying the FULL find dialect ($elemMatch/$all/$size/$type/$regex/
# $mod/$exists/nested $nor...) compiled INSIDE a $facet or $lookup
# sub-pipeline, where the compiler stack (tables/var scoping, the r12
# physical-sort strip, collect+array_sort reassembly) wraps it.


def test_find_dialect_in_subpipelines_matches_reference(spark):
    from tests.test_find_fuzz import _docs as _dialect_docs

    rng = random.Random(0xF1D43)
    docs = _dialect_docs(rng, 40)
    FSCHEMA = "_id long, a long, b double, c string, d array<long>"
    cols = ["_id", "a", "b", "c", "d"]
    df = spark.createDataFrame([tuple(d[k] for k in cols) for d in docs],
                               FSCHEMA)
    fdocs = [dict(d, _id=d["_id"] + 1000) for d in _dialect_docs(rng, 25)]
    fdf = spark.createDataFrame([tuple(f[k] for k in cols) for f in fdocs],
                                FSCHEMA)
    tables = {"other": fdf}

    def doc_key(d):
        return d["_id"]

    def canon_docs(rows):
        return _canon([{k: r.get(k) for k in cols} for r in rows])

    failures = []
    for trial in range(40):
        q = _filter(rng)
        kind = trial % 4
        if kind == 0:
            # $facet: one dialect-matched branch (unordered), one
            # dialect-matched + $count branch (empty -> NO document)
            q2 = _filter(rng)
            spec = {"f1": [{"$match": q}],
                    "f2": [{"$match": q2}, {"$count": "ct"}]}
            got = (apply_pipeline(df, [{"$facet": spec}], tables)
                   .collect()[0].asDict(recursive=True))
            w1 = [d for d in docs if _m_query(d, q)]
            m2 = [d for d in docs if _m_query(d, q2)]
            w2 = [{"ct": len(m2)}] if m2 else []
            if canon_docs(got["f1"]) != canon_docs(w1) or list(
                    map(dict, got["f2"])) != w2:
                failures.append((trial, spec, got, (w1, w2)))
        elif kind == 1:
            # $facet branch with dialect match + terminal $sort: the
            # r12 physical-sort strip must hand back the EXACT order
            sub = [{"$match": q}, {"$sort": {"a": 1, "_id": 1}}]
            got = (apply_pipeline(df, [{"$facet": {"f": sub}}], tables)
                   .collect()[0].asDict(recursive=True))
            def cmp(x, y):
                c = _m_cmp(x.get("a"), y.get("a"))
                return c if c else _m_cmp(x["_id"], y["_id"])
            want = sorted((d for d in docs if _m_query(d, q)),
                          key=cmp_to_key(cmp))
            got_ids = [r["_id"] for r in got["f"]]
            if got_ids != [d["_id"] for d in want]:
                failures.append((trial, sub, got_ids,
                                 [d["_id"] for d in want]))
        elif kind == 2:
            # uncorrelated $lookup sub-pipeline: every outer row gets
            # the same dialect-matched foreign array
            pipe = [{"$lookup": {"from": "other",
                                 "pipeline": [{"$match": q}], "as": "m"}}]
            rows = apply_pipeline(df, pipe, tables).collect()
            want_arr = canon_docs([f for f in fdocs if _m_query(f, q)])
            for r in rows[:3]:
                got_arr = canon_docs(
                    [m.asDict(recursive=True) for m in (r["m"] or [])])
                if got_arr != want_arr:
                    failures.append((trial, q, got_arr, want_arr))
                    break
        else:
            # correlated $lookup: dialect prefix + $expr equality
            # residual ($eq is null-safe aggregation equality)
            pipe = [{"$lookup": {
                "from": "other", "let": {"la": "$a"},
                "pipeline": [{"$match": q},
                             {"$match": {"$expr": {"$eq": ["$a", "$$la"]}}}],
                "as": "m",
            }}]
            rows = sorted(
                (r.asDict(recursive=True)
                 for r in apply_pipeline(df, pipe, tables).collect()),
                key=doc_key)
            for d, r in zip(sorted(docs, key=doc_key), rows):
                want_arr = canon_docs([
                    f for f in fdocs
                    if _m_query(f, q) and f.get("a") == d.get("a")])
                got_arr = canon_docs(r["m"] or [])
                if got_arr != want_arr:
                    failures.append((trial, q, d["_id"], got_arr, want_arr))
                    break
    assert not failures, failures[:3]


# -- harness 44 (r13, VERDICT r12 #5): $jsonSchema and $expr compiled
# INSIDE $facet / $lookup sub-pipelines BELOW a $project/$addFields that
# reshapes the struct.  The jsonSchema compiler's static struct-field
# reasoning (additionalProperties:false enumerates the struct; missing
# paths resolve to typed NULL) must reason over the RESHAPED schema the
# sub-pipeline stage produced, not the source table's.


def _reshape(rng):
    """One struct-reshaping stage + its dict-level reference apply +
    the post-reshape field->fuzztype map (for schema generation)."""
    from tests.test_value_expr_fuzz import _m_eval

    base = {"a": "int", "b": "float", "c": "str", "d": "arr"}
    kind = rng.randrange(4)
    if kind == 0:
        # new computed field (long-typed)
        e = rng.choice(["$a", {"$add": ["$a", 1]}, {"$multiply": ["$a", "$a"]}])
        stage = {"$addFields": {"e": e}}

        def apply(d, _e=e):
            d2 = dict(d)
            d2["e"] = _m_eval(d, _e)
            return d2

        return stage, apply, {**base, "e": "int"}
    if kind == 1:
        # overwrite: a becomes b's DOUBLE (type change under same name)
        stage = {"$addFields": {"a": "$b"}}

        def apply(d):
            d2 = dict(d)
            d2["a"] = d.get("b")
            return d2

        return stage, apply, {**base, "a": "float"}
    if kind == 2:
        # inclusion projection: struct narrows to _id + a subset —
        # additionalProperties:false must enumerate ONLY the survivors
        keep = rng.sample(list(base), rng.randint(1, 3))
        stage = {"$project": {"_id": 1, **{f: 1 for f in keep}}}

        def apply(d, _keep=tuple(keep)):
            return {"_id": d["_id"], **{f: d.get(f) for f in _keep}}

        return stage, apply, {f: base[f] for f in keep}
    # exclusion projection: drop 1-2 fields, keep the rest
    drop = rng.sample(list(base), rng.randint(1, 2))
    stage = {"$project": {f: 0 for f in drop}}

    def apply(d, _drop=tuple(drop)):
        return {k: v for k, v in d.items() if k not in _drop}

    return stage, apply, {f: t for f, t in base.items() if f not in drop}


def _reshaped_js_schema(rng, fields):
    """_js_schema over the post-reshape field set (the generator reads
    the module-global FIELDS; scope it)."""
    import tests.test_find_fuzz as ffz

    old = ffz.FIELDS
    ffz.FIELDS = fields
    try:
        return ffz._js_schema(rng)
    finally:
        ffz.FIELDS = old


def _expr_over(rng, fields):
    """Comparison $expr over the reshaped NUMERIC fields (falls back to
    _id, which every reshape keeps)."""
    nums = [f for f, t in fields.items() if t in ("int", "float")] or ["_id"]

    def operand():
        r = rng.random()
        if r < 0.5:
            return "$" + rng.choice(nums)
        if r < 0.75:
            return rng.randint(-3, 8)
        return {"$add": ["$" + rng.choice(nums), rng.randint(-2, 2)]}

    op = rng.choice(["$gt", "$lt", "$gte", "$lte", "$eq", "$ne"])
    return {op: [operand(), operand()]}


def test_jsonschema_expr_after_subpipeline_reshape_matches_reference(spark):
    from tests.test_find_fuzz import _docs as _dialect_docs
    from tests.test_find_fuzz import _js_ok
    from tests.test_value_expr_fuzz import _m_eval, _truthy

    rng = random.Random(0x44E5A9E)
    docs = _dialect_docs(rng, 40)
    FSCHEMA = "_id long, a long, b double, c string, d array<long>"
    cols = ["_id", "a", "b", "c", "d"]
    df = spark.createDataFrame([tuple(d[k] for k in cols) for d in docs],
                               FSCHEMA)
    fdocs = [dict(d, _id=d["_id"] + 1000) for d in _dialect_docs(rng, 25)]
    fdf = spark.createDataFrame([tuple(f[k] for k in cols) for f in fdocs],
                                FSCHEMA)
    tables = {"other": fdf}

    def canon_rows(rows, fields):
        keys = ["_id", *fields]
        return _canon([{k: r.get(k) for k in keys} for r in rows])

    failures = []
    for trial in range(40):
        stage, apply_ref, fields = _reshape(rng)
        if trial % 2 == 0:
            match = {"$jsonSchema": _reshaped_js_schema(rng, fields)}

            def keeps(d2, _m=match):
                return _js_ok(d2, _m["$jsonSchema"])
        else:
            match = {"$expr": _expr_over(rng, fields)}

            def keeps(d2, _m=match):
                return _truthy(_m_eval(d2, _m["$expr"]))
        sub = [stage, {"$match": match}]
        if trial % 4 < 2:
            # $facet branch
            got = (apply_pipeline(df, [{"$facet": {"f": sub}}], tables)
                   .collect()[0].asDict(recursive=True))
            want = [apply_ref(d) for d in docs]
            want = [d2 for d2 in want if keeps(d2)]
            g = canon_rows(got["f"], fields)
            w = canon_rows(want, fields)
            if g != w:
                failures.append((trial, sub, g[:3], w[:3]))
        else:
            # uncorrelated $lookup sub-pipeline
            pipe = [{"$lookup": {"from": "other", "pipeline": sub,
                                 "as": "m"}}]
            rows = apply_pipeline(df, pipe, tables).collect()
            want = [apply_ref(f) for f in fdocs]
            want_arr = canon_rows([d2 for d2 in want if keeps(d2)], fields)
            for r in rows[:3]:
                got_arr = canon_rows(
                    [m.asDict(recursive=True) for m in (r["m"] or [])],
                    fields)
                if got_arr != want_arr:
                    failures.append((trial, sub, got_arr[:3], want_arr[:3]))
                    break
    assert not failures, failures[:3]
