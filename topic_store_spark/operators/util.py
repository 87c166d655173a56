"""Shared physical-plan helpers for operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition up to the cluster's default parallelism if
    the input has fewer partitions.

    CPU-bound per-row work (hashing, tokenization, signature computation)
    inherits the scan's partitioning; a corpus that arrives as a handful
    of files would otherwise run on a handful of cores.  At scale the
    input already has >= defaultParallelism partitions and this is a
    no-op — the repartition only fires when the data is too small for it
    to be expensive.

    Spark Connect (r9, hardened r10): ``df.rdd`` / ``sparkContext`` do
    not exist there, so the partition probe falls back to
    ``inputFiles()`` (file count approximates scan parallelism from
    below — parquet splits can only raise it) and the target to
    ``spark.sql.shuffle.partitions``.  The fallback is deliberately
    conservative at scale: a FILE-BACKED relation spread over fewer
    files than the target repartitions (the local-testdata case this
    helper exists for); an UNPROBEABLE relation (``inputFiles`` raises
    or is empty — views, in-memory, post-shuffle plans) is left alone
    unless the caller passed an explicit ``min_partitions`` — the r9
    behavior of unconditionally round-robin-shuffling it could re-spread
    a 100 TB relation that was already parallel.  A non-numeric
    ``shuffle.partitions`` ("auto" on managed AQE) also degrades to
    no-op rather than raising.
    """
    spark = df.sparkSession
    try:
        # ``min_partitions`` is a FLOOR (r11): a caller-passed value raises
        # the target above defaultParallelism, never caps it below — the
        # old ``min_partitions or defaultParallelism`` silently did the
        # latter, contradicting the parameter name.
        target = max(min_partitions or 0, spark.sparkContext.defaultParallelism)
        current = df.rdd.getNumPartitions()
    except Exception:  # Spark Connect: no RDD / driver-context surface
        try:
            conf_target = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):  # e.g. "auto" under managed AQE
            conf_target = 0
        target = max(min_partitions or 0, conf_target)
        if target == 0:
            return df
        try:
            files = df.inputFiles()
        except Exception:
            files = None
        if files and len(files) < target:
            return df.repartition(target)
        if not files and min_partitions:
            return df.repartition(target)
        return df
    if current < target:
        return df.repartition(target)
    return df


def hash_partition(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition by ``cols`` to an EXPLICIT partition count (the
    session's parallelism target), pinning the count so AQE cannot
    coalesce the shuffle below the core count.

    Use when the partitioning is the POINT of the shuffle — every
    downstream doc-keyed aggregation inherits it and needs no further
    exchange — and the heavy per-row work (tokenize/explode/aggregate)
    runs AFTER it: a plain ``repartition(col)`` is REPARTITION_BY_COL,
    which AQE freely coalesces to however few partitions the byte size
    suggests (1-2 at test SFs), serializing every downstream stage.
    Pinned-count hash partitioning keeps the CPU spread; at real scale
    the target (max of defaultParallelism and shuffle.partitions) is
    the cluster's own sizing.  Spark Connect: the driver-context probe
    falls back to ``spark.sql.shuffle.partitions``; if that is
    non-numeric ("auto"), degrade to the coalescible column form
    rather than guessing a count."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    try:
        conf_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf_n = 0
    try:
        n = max(spark.sparkContext.defaultParallelism, conf_n)
    except Exception:  # Spark Connect: no sparkContext
        n = conf_n
    if n <= 0:
        return df.repartition(*[F.col(c) for c in cols])
    return df.repartition(n, *[F.col(c) for c in cols])


#: DataFrames persisted by operators that pin an intermediate relation
#: for multiple consumers.  Spark gives no hook to unpersist "after the
#: downstream action" from inside a lazy plan, so long-lived sessions
#: manage these explicitly: wrap one computation in :class:`cache_scope`
#: (releases ONLY its own pins on exit), or call
#: :func:`release_tracked_caches` once results are materialized.
#: ``spark.catalog.clearCache()`` does NOT drain this list — it leaves
#: stale references behind, and a later global release would unpersist
#: relations belonging to a different, possibly still-running
#: computation; scopes are the isolation mechanism.
_TRACKED_CACHES: list = []

#: active scopes, PER DRIVER THREAD; persist_tracked routes to the
#: innermost scope of the CALLING thread when one is set.  Thread-local
#: (r12): concurrent driver-thread computations each see only their own
#: scope stack, so one thread's scope exit can never unpersist a
#: relation a computation on another thread is still using — the
#: process-global stack made the innermost scope of WHICHEVER thread
#: claim every pin.  A scope is therefore only visible to the thread
#: that entered it; cross-thread sharing needs the scope object passed
#: explicitly (call ``scope._track(df)`` or pin outside any scope).
import threading as _threading

_SCOPE_TLS = _threading.local()


def _scope_stack() -> list:
    stack = getattr(_SCOPE_TLS, "scopes", None)
    if stack is None:
        stack = _SCOPE_TLS.scopes = []
    return stack


class cache_scope:
    """Context manager scoping operators' persisted intermediates to one
    computation: everything :func:`persist_tracked` pins while the scope
    is active ON THIS THREAD is released on exit (or via an explicit
    ``.release()``), without touching relations tracked by other scopes,
    other threads, or the module-global list.  Re-entrant (scopes nest;
    the innermost active scope owns new pins) and thread-isolated (the
    stack is ``threading.local``, so a scope never captures pins made by
    concurrent driver threads)."""

    def __init__(self) -> None:
        self._dfs: list = []
        self._lock = _threading.Lock()

    def _track(self, df) -> None:
        with self._lock:
            self._dfs.append(df)

    def release(self) -> None:
        with self._lock:
            dfs, self._dfs = self._dfs, []
        while dfs:
            dfs.pop().unpersist()

    def __enter__(self) -> "cache_scope":
        _scope_stack().append(self)
        return self

    def __exit__(self, *exc) -> None:
        stack = _scope_stack()
        if self in stack:
            stack.remove(self)
        self.release()


def persist_tracked(df: DataFrame) -> DataFrame:
    """MEMORY_AND_DISK-persist an intermediate relation consumed by
    multiple downstream plans, registering it for release (innermost
    active :class:`cache_scope`, else the global list drained by
    :func:`release_tracked_caches`).  Persisting is the only way to make
    N consumers of one DataFrame compute it ONCE: self-join/self-union
    plans duplicate the subtree, and AQE's exchange reuse does not fire
    across cached-relation scans (canonicalization), so without the pin
    the shared stage runs N times."""
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    stack = _scope_stack()
    if stack:
        stack[-1]._track(out)
    else:
        _TRACKED_CACHES.append(out)
    return out


def expose_cached_partitioning(df: DataFrame) -> DataFrame:
    """Finalize a PERSISTED relation's AQE plan so its output
    partitioning becomes visible to downstream planning, and return it.

    Under Spark 4 a cached plan is wrapped in its own
    ``AdaptiveSparkPlan``; until that plan finalizes, the cache reports
    UNKNOWN partitioning, so every downstream consumer plans its own
    Exchange even when the cache was explicitly ``hash_partition``-ed
    on the consumer's key (measured r12: a term-pinned tf relation
    still drew an ENSURE_REQUIREMENTS term exchange from its own
    aggregate).  A partition-count probe (``.rdd.getNumPartitions()``)
    forces ``getFinalPhysicalPlan`` — the cache's shuffle map stage
    runs EAGERLY as its own job, after which ``isFinalPlan=true`` and
    hash(key) satisfies downstream clustered distributions with no
    further exchange (the mechanism the unigram carrier has leaned on
    via ``ensure_parallelism``'s probe since r11).  The probe also
    builds the whole cache in a job of its own (a ``javaToPython``
    stage, one task per partition), so each call costs that job too
    before any consumer runs.

    The trade is explicit: call this ONLY when (a) the relation is
    persisted (the eagerly built cache is what later consumers read —
    nothing is computed twice) and (b) at least two downstream
    consumers key on the pinned columns (one consumer can just wear
    its own exchange).  On Spark Connect there is no ``.rdd``; the
    probe degrades to a no-op and consumers plan their own exchanges —
    correct, one exchange heavier."""
    try:
        df.rdd.getNumPartitions()
    except Exception:  # Spark Connect / exotic plans: no RDD surface
        pass
    return df


#: the row bound of every build-time collect (centroids, codebooks,
#: training samples, per-cluster sizes): facts an operator learns on the
#: driver while it builds a plan are sized by a model parameter, never
#: by the corpus
MAX_BUILD_ROWS = 1 << 16


class BoundedCollectOverflow(ValueError):
    """A build-time collect found more than its row bound."""

    def __init__(self, operator: str, max_rows: int) -> None:
        self.operator, self.max_rows = operator, max_rows
        super().__init__(
            f"{operator}: build-time collect exceeds max_rows={max_rows}"
        )


def bounded_collect(df: DataFrame, max_rows: int, operator: str):
    """``df``'s rows as a ``pyarrow.Table``, or
    :class:`BoundedCollectOverflow` naming ``operator`` and ``max_rows``
    when it has more than ``max_rows``.

    One Spark job: ``limit(max_rows + 1).toArrow()`` runs the limit as a
    single job however many partitions ``df`` has (its gather shuffle is
    a stage of that job), where ``collect()`` of a limit scans partitions
    in growing batches, one job per batch, whenever the result fits; and
    the limit keeps an oversized input from reaching the driver."""
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        raise BoundedCollectOverflow(operator, max_rows)
    return table


def release_tracked_caches() -> None:
    """Unpersist every UNSCOPED tracked intermediate.  Idempotent;
    relations pinned inside an active :class:`cache_scope` are owned by
    that scope and not touched here."""
    while _TRACKED_CACHES:
        _TRACKED_CACHES.pop().unpersist()


def materialize_iter(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize one step of an iterative algorithm, truncating lineage:
    reliable ``checkpoint`` when the app configured a checkpoint dir (the
    right choice on a real cluster — survives executor loss), else
    ``localCheckpoint`` (executor-local storage; fine for local or
    ephemeral jobs).  Without this, iteration k's action re-executes the
    entire chain of previous iterations — O(k^2) work and an unbounded
    plan.

    ``eager=False`` (r14) defers the checkpoint write to the caller's
    NEXT action — for call sites whose next statement is an eager
    ``count()``/``collect()`` on the result, the materialization and
    the gate action fuse into ONE Spark job (the CC probe-gate lesson)
    instead of a checkpoint job followed by a count job."""
    try:
        sc = df.sparkSession.sparkContext
        has_dir = sc._jsc.sc().getCheckpointDir().isDefined()
    except Exception:
        # py4j surface differences, or Spark Connect (no sparkContext);
        # localCheckpoint is in the Connect API since Spark 4
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def explode_nonempty(df: DataFrame, arr_col: str, out_name: str, *keep: str) -> DataFrame:
    """``explode`` an expensive computed array column WITHOUT the plan
    trap of plain ``explode``: Catalyst infers ``size(arr) > 0 AND
    isnotnull(arr)`` from a generator and pushes that predicate below
    projections and round-robin exchanges — re-evaluating the (non-cheap,
    never-subexpression-eliminated) array expression up to three times
    per row in the upstream stage, which at small-file scan parallelism
    means on ONE core.  ``explode_outer`` infers no such filter; the
    null-row drop afterwards references only the generator OUTPUT, which
    can never be pushed below the Generate.  Semantics are identical:
    empty/null arrays contribute no rows.
    """
    from pyspark.sql import functions as F

    out = df.select(*keep, F.explode_outer(F.col(arr_col)).alias(out_name))
    return out.filter(F.col(out_name).isNotNull())


def project_once(df: DataFrame, **cols) -> DataFrame:
    """Attach computed columns so each evaluates EXACTLY ONCE per row,
    behind a Generate-based optimizer barrier.

    The trap this exists for (r13, measured on every pair-verify plan):
    ``join(...).withColumn("dot", expensive).filter(f(dot))`` lets
    ``PushPredicateThroughNonJoin`` substitute the alias into the
    filter and then push the whole predicate INTO THE JOIN CONDITION —
    the ``dedup_semantic`` before-plan evaluates the 64-element dot
    fold 3x in the join condition plus once in the output projection
    (4x per candidate pair), and the overlap family evaluates
    ``array_intersect`` 3x.  Inlining the r13 unrolled expressions the
    same way additionally blows the JVM's 64 KB method limit and kicks
    the whole stage out of codegen.

    Mechanism: the computed columns ride a single-element
    ``explode_outer(array(struct(...)))``.  ``explode_outer`` infers no
    ``size(...) > 0`` predicate (the `explode_nonempty` lesson), and a
    filter referencing generator OUTPUT can never be pushed below its
    Generate — so every downstream reference resolves to a struct-field
    read of the once-computed value.  Predicates on the INPUT columns
    still push below the Generate into joins/scans as usual.  Row count
    and values are unchanged (the array is literally one non-null
    element); only the plan moves.
    """
    from pyspark.sql import functions as F

    struct = F.struct(*[c.alias(n) for n, c in cols.items()])
    gen = df.select("*", F.explode_outer(F.array(struct)).alias("_once"))
    return gen.select(
        *df.columns, *[F.col(f"_once.`{n}`").alias(n) for n in cols]
    )


def with_global_agg(df: DataFrame, **aggs) -> DataFrame:
    """Attach global-aggregate columns to every row of a SMALL relation
    via one unpartitioned window: ``with_global_agg(counts,
    nmin=F.min("n"), total=F.sum("n"))``.

    This is the scale-safe way to put a "grand total" next to grouped
    rows when the input is ALREADY bounded (a stratum rollup, a
    fixed-width feature table): ``crossJoin(broadcast(df.agg(...)))``
    creates a diamond lineage — Catalyst recomputes the input's whole
    upstream branch once per consumer because column pruning
    differentiates the subtrees, so no ReusedExchange fires (measured
    r9: unigram 22->13 Exchanges, resample 16->8 from removing these) —
    while the window reads the relation once.  The trade: the window
    gathers ALL rows into ONE task, so this is ONLY for relations whose
    row count is bounded by construction (strata, buckets, band
    tables), never for per-key relations with unbounded key cardinality
    (see salted_topk / SKEW.md for that cliff).
    """
    from pyspark.sql import Window, functions as F  # noqa: F401

    w = Window.partitionBy()
    return df.select("*", *[c.over(w).alias(n) for n, c in aggs.items()])
