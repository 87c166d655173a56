"""Dump ``df.explain("formatted")`` for declared queries to files.

Writes ``plans/<tag>/<query>_<suffix>.txt`` for every requested query
(default: all of ``queries()``).  Every id that changes from one build
of the same plan to the next is masked (:func:`normalize_plan`), so two
dumps of an unchanged plan are byte-identical and ``diff -r`` of two
tags shows only real plan changes.

Usage:
    python tools/dump_plans.py <tag> <suffix> [sf_dir] [query ...]
e.g.
    python tools/dump_plans.py r13 before /root/testdata/sf0.01
    python tools/dump_plans.py r13 after  /root/testdata/sf0.01 ann_pq
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

#: per-build counters in plan text: expression ids (``#123``/``#123L``),
#: fresh lambda-variable suffixes (``x_45``) and exchange ``plan_id=6``
_VOLATILE = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"_\d+\b"), "_"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
)


def normalize_plan(text: str) -> str:
    """``text`` with the per-build ids of :data:`_VOLATILE` masked."""
    for pattern, mask in _VOLATILE:
        text = pattern.sub(mask, text)
    return text


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r13"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    names = sys.argv[4:]

    import __spark_entry__ as entry_mod
    from tools.audit_plans import _plan_text
    from topic_store_spark.operators.util import cache_scope
    from topic_store_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(_REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    queries = entry_mod.queries()
    if not names:
        names = list(queries)

    for name in names:
        with cache_scope():
            try:
                df = queries[name](spark, sf_dir)
                text = normalize_plan(_plan_text(df))
            except Exception as exc:  # noqa: BLE001 - record the failure
                text = f"ERROR building plan: {type(exc).__name__}: {exc}\n"
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(text)
            print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
