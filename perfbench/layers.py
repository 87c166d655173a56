"""Per-layer metrics of a traced run, named after the library's modules.

Times are per traced op of the timed loop unless the name says
otherwise; the ingest workload's closing clone is kept apart and feeds
only the ``convert`` metrics.  ``PER_LAYER`` is the catalogue, in the
order ``BENCHMARK.json`` lists it.
"""

from __future__ import annotations

from statistics import mean

from spans import LAYERS
from workloads import CORPUS_QUERIES

API_OPS = ("find", "find_by_id", "find_by_session_id", "count", "distinct", "unique_sessions", "aggregate")
ENGINE = (
    ("jobs", "count"),
    ("build_jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("input_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
)
QUERY_LAYER = (
    ("query.compile_query_ms", "ms"),
    ("query.apply_projection_ms", "ms"),
    ("query.apply_pipeline_ms", "ms"),
)

PER_LAYER: list[tuple[str, str, str]] = (
    [
        ("session.get_spark_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("data.topicstore_us_per_doc", "us", "lower"),
        ("codec.infer_schema_ms", "ms", "lower"),
        ("codec.documents_to_rows_ms", "ms", "lower"),
        ("codec.schema_merge_conflicts_ms", "ms", "lower"),
        ("filesystem.to_df_ms", "ms", "lower"),
        ("filesystem.to_df_calls", "count", "lower"),
        ("filesystem.write_df_ms", "ms", "lower"),
        ("filesystem.part_files", "count", "lower"),
        ("filesystem.bytes_per_doc_byte", "ratio", "lower"),
        ("blob.externalize_ms", "ms", "lower"),
        ("blob.rehydrate_ms", "ms", "lower"),
        ("blob.blobs_written", "count", "lower"),
        ("blob.blob_bytes", "bytes", "lower"),
        ("convert.copy_s", "s", "lower"),
        ("convert.copied", "count", "higher"),
        ("convert.skipped_duplicates", "count", "higher"),
        ("convert.copied_share", "ratio", "higher"),
    ]
    + [(f"api.{op}.{part}_ms", "ms", "lower") for op in API_OPS for part in ("build", "exec")]
    + [(name, unit, "lower") for name, unit in QUERY_LAYER]
    + [
        (f"operators.{q}.{field}", unit, "lower")
        for q in CORPUS_QUERIES
        for field, unit in (
            ("build_s", "s"),
            ("exec_s", "s"),
            ("build_jobs", "count"),
            ("stages", "count"),
            ("shuffle_write_bytes", "bytes"),
            ("spill_bytes", "bytes"),
        )
    ]
    + [(f"spark.{field}", unit, "lower") for field, unit in ENGINE]
    + [("jvm.jit_cpu_ms", "ms", "lower"), ("jvm.gc_cpu_ms", "ms", "lower")]
    + [(f"{layer}.self_ms", "ms", "lower") for layer in LAYERS]
    + [("trace.overhead_ms", "ms", "lower"), ("trace.overhead_share", "ratio", "lower")]
)


def _avg(values) -> float:
    values = list(values)
    return mean(values) if values else 0.0


def layer_metrics(run, workload, timed: list[tuple], session: dict[str, float]) -> dict:
    """Every ``PER_LAYER`` metric of one traced run; layers the workload
    bypasses read 0."""
    tracer = run.tracer
    spans = tracer.by_op()
    traced = [s for s in run.samples if s[3] and s[0] != "clone"]
    ids = [s[0] for s in traced]

    def per_op(name: str, scale: float = 1e3) -> float:
        return sum(sum(spans[i].get(name, ())) for i in ids) / max(1, len(ids)) * scale

    def op_span(op: str, kind: str) -> float:
        return spans[op][f"op.{kind}"][0]

    m: dict[str, float] = {
        "session.get_spark_s": session["get_spark_s"],
        "session.warmup_s": session["warmup_s"],
    }
    docs = [d for i in ids for d in spans[i].get("data.topicstore", ())]
    m["data.topicstore_us_per_doc"] = _avg(docs) * 1e6
    for fn in ("infer_schema", "documents_to_rows", "schema_merge_conflicts"):
        m[f"codec.{fn}_ms"] = per_op(f"codec.{fn}")
    m["filesystem.to_df_ms"] = per_op("filesystem.to_df")
    m["filesystem.to_df_calls"] = sum(len(spans[i].get("filesystem.to_df", ())) for i in ids) / max(1, len(ids))
    m["filesystem.write_df_ms"] = per_op("filesystem.write_df")
    stats = workload.storage_stats()
    m["filesystem.part_files"] = stats["part_files"]
    m["filesystem.bytes_per_doc_byte"] = stats["bytes_per_doc_byte"]
    m["blob.externalize_ms"] = per_op("blob.externalize")
    m["blob.rehydrate_ms"] = per_op("blob.rehydrate")
    inserts = sum(1 for s in run.samples if s[1] == "insert_many")
    m["blob.blobs_written"] = stats.get("blobs", 0) / max(1, inserts)
    m["blob.blob_bytes"] = stats.get("blob_bytes", 0) / max(1, inserts)

    clone = getattr(workload, "clone_result", None) or {}
    copied, skipped = clone.get("copied", 0), clone.get("skipped_duplicates", 0)
    m["convert.copy_s"] = sum(spans["clone"].get("convert.copy", ())) if "clone" in spans else 0.0
    m["convert.copied"] = copied
    m["convert.skipped_duplicates"] = skipped
    m["convert.copied_share"] = copied / (copied + skipped) if copied + skipped else 0.0

    for op in API_OPS:
        of_kind = [s[0] for s in traced if s[1] == op]
        build = [tracer.planning_s(i) for i in of_kind]
        m[f"api.{op}.build_ms"] = _avg(build) * 1e3
        m[f"api.{op}.exec_ms"] = _avg(op_span(i, op) - b for i, b in zip(of_kind, build)) * 1e3

    m["query.compile_query_ms"] = per_op("query.compile_query")
    m["query.apply_projection_ms"] = per_op("query.apply_projection")
    m["query.apply_pipeline_ms"] = per_op("query.apply_pipeline")

    for q in CORPUS_QUERIES:
        of_q = [s[0] for s in traced if s[1] == q]
        build = [sum(spans[i].get(f"operators.{q}.build", ())) for i in of_q]
        m[f"operators.{q}.build_s"] = _avg(build)
        m[f"operators.{q}.exec_s"] = _avg(op_span(i, q) - b for i, b in zip(of_q, build))
        m[f"operators.{q}.build_jobs"] = _avg(run.counters[i]["build_jobs"] for i in of_q)
        m[f"operators.{q}.stages"] = _avg(run.counters[i]["stages"] for i in of_q)
        m[f"operators.{q}.shuffle_write_bytes"] = _avg(run.counters[i]["shuffle_write_bytes"] for i in of_q)
        m[f"operators.{q}.spill_bytes"] = _avg(run.counters[i]["spill_bytes"] for i in of_q)

    for field, _unit in ENGINE:
        m[f"spark.{field}"] = _avg(run.counters[i][field] for i in ids)
    # CPU the work metric leaves out, per op of the loop, traced or not
    m["jvm.jit_cpu_ms"] = run.loop_jit_s / max(1, len(timed)) * 1e3
    m["jvm.gc_cpu_ms"] = run.loop_gc_s / max(1, len(timed)) * 1e3
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = per_op(f"{layer}.self")

    on = [s[2] for s in timed if s[3]]
    off = [s[2] for s in timed if not s[3]]
    m["trace.overhead_ms"] = (_avg(on) - _avg(off)) * 1e3
    m["trace.overhead_share"] = (_avg(on) - _avg(off)) / _avg(off) if off else 0.0

    return {name: {"value": float(m[name]), "unit": unit} for name, unit, _ in PER_LAYER}
