"""Spans around the program's public calls, and Spark counters read
from outside the program.

``Tracer.install`` wraps the library's public functions at the sites
where callers look them up: module attributes that another module binds
by name are patched in that module's namespace (``filesystem.py`` binds
``infer_schema`` / ``documents_to_rows`` / ``TopicStore``, ``api.py``
binds ``compile_query`` / ``apply_projection`` / ``apply_pipeline``),
functions imported inside a function body are patched on their home
module, and methods are patched on the class.  Spans stay in memory
until the run ends; ``layers.layer_metrics`` turns them into per-layer
numbers.

Span: (name, start, end, parent index, op id).  Self time is a span's
duration minus the time its child spans cover.  A planning span (named
in ``PLANNING``, or ``operators.<query>.build``) builds a plan on the
Spark driver: jobs it launches run under the Spark job group
``<op id>:build``, so eager collects during the build are counted apart
from the op's action.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager

#: span names that build plans on the Spark driver, not the op's action
PLANNING = {
    "api.find",
    "api.find_by_session_id",
    "api.aggregate",
    "api.get_unique_sessions",
    "filesystem.to_df",
    "query.compile_query",
    "query.apply_projection",
    "query.apply_pipeline",
    "blob.externalize",
    "blob.rehydrate",
}

LAYERS = ("api", "query", "filesystem", "codec", "data", "blob", "convert", "operators")


def is_planning(name: str) -> bool:
    return name in PLANNING or name.endswith(".build")


class Tracer:
    """Records spans while ``active``; inactive, a wrapper costs one call."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[tuple[str, float, float, int, str]] = []
        self.active = False
        self.op_id = ""
        self._stack: list[int] = []
        self._planning_depth = 0

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        planning = is_planning(name)
        if planning:
            if self._planning_depth == 0:
                self.sc.setJobGroup(f"{self.op_id}:build", name)
            self._planning_depth += 1
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, p, op = self.spans[idx]
            self.spans[idx] = (n, start, time.perf_counter(), p, op)
            if planning:
                self._planning_depth -= 1
                if self._planning_depth == 0:
                    self.sc.setJobGroup(self.op_id, "op")

    def _wrap(self, owner, attr: str, name: str) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import topic_store_spark.api as api
        import topic_store_spark.blob as blob
        import topic_store_spark.codec as codec
        import topic_store_spark.convert as convert
        import topic_store_spark.filesystem as fs
        import topic_store_spark.query as query

        for owner in (api, convert, query):
            for fn in ("compile_query", "apply_projection", "apply_pipeline"):
                if fn in vars(owner):
                    self._wrap(owner, fn, f"query.{fn}")
        self._wrap(fs, "infer_schema", "codec.infer_schema")
        self._wrap(fs, "documents_to_rows", "codec.documents_to_rows")
        # imported inside ParquetStorage.write_df at call time
        self._wrap(codec, "schema_merge_conflicts", "codec.schema_merge_conflicts")
        self._wrap(blob, "externalize_blobs", "blob.externalize")
        self._wrap(blob, "rehydrate_blobs", "blob.rehydrate")
        self._wrap(convert, "copy", "convert.copy")
        for meth in ("to_df", "write_df", "insert_many"):
            self._wrap(fs.ParquetStorage, meth, f"filesystem.{meth}")
        for meth in ("find", "count"):
            self._wrap(fs.ParquetStorage, meth, f"api.{meth}")
        for meth in (
            "find_one",
            "find_by_id",
            "find_by_session_id",
            "distinct",
            "get_unique_sessions",
            "aggregate",
        ):
            self._wrap(api.Storage, meth, f"api.{meth}")

        tracer = self
        original = fs.TopicStore

        class TracedTopicStore(original):  # filesystem.py binds TopicStore
            def __init__(self, *args, **kwargs):
                with tracer.span("data.topicstore"):
                    super().__init__(*args, **kwargs)

        fs.TopicStore = TracedTopicStore

    # -- analysis -----------------------------------------------------
    def self_times(self) -> list[float]:
        """Self time of every span, in span order."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += end - start
        return [end - start - child[i] for i, (_, start, end, _, _) in enumerate(self.spans)]

    def by_op(self) -> dict[str, dict[str, list[float]]]:
        """{op id: {span name: [duration, ...]}} plus ``<layer>.self`` lists."""
        selfs = self.self_times()
        out: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        for i, (name, start, end, _, op) in enumerate(self.spans):
            out[op][name].append(end - start)
            out[op][name.split(".", 1)[0] + ".self"].append(selfs[i])
        return out

    def planning_s(self, op: str) -> float:
        """Time covered by the outermost planning spans of one op."""
        total = 0.0
        for name, start, end, parent, op_id in self.spans:
            if op_id != op or not is_planning(name):
                continue
            while parent >= 0 and not is_planning(self.spans[parent][0]):
                parent = self.spans[parent][3]
            if parent < 0:
                total += end - start
        return total

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for name, start, end, parent, op in self.spans:
                fh.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end, "parent": parent, "op": op}
                    )
                    + "\n"
                )


# -- Spark counters from the status tracker and status store -------------

ENGINE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def group_counters(sc, group: str) -> dict[str, float]:
    """Jobs, completed stages and their task metrics for one job group.

    ``AppStatusStore.stageList`` has Scala default arguments that py4j
    cannot supply, so stages are read one id at a time with
    ``lastStageAttempt``.  The listener bus is drained first so the
    store has seen every event of the group's finished jobs."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(ENGINE_FIELDS, 0.0)
    stage_ids: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            continue  # skipped: its output was reused
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["input_bytes"] += sd.inputBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def op_counters(sc, op: str) -> dict[str, float]:
    """Counters of one op: its action group plus its build group, and
    ``build_jobs`` for the jobs launched while the plan was built."""
    total = group_counters(sc, op)
    build = group_counters(sc, f"{op}:build")
    for key in ENGINE_FIELDS:
        total[key] += build[key]
    total["build_jobs"] = build["jobs"]
    return total
