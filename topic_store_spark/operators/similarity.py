"""Similarity search over embedding columns.

Every operator rests on one exact-integer contract, and each step of it
is written once here (``dedup.py``'s embedding and semantic operators
call the same helpers):

- ``_quantized``: components become ``round(x * 1000)`` longs next to
  their exact self-dot, so dot products and norms are exact integers;
- ``_with_affinity`` / ``_cen_rank``: a vector's centroid affinity
  ``dot / sqrt(|cen|^2)`` and its ``(aff desc, cen_id asc)`` order;
- ``_nearest_list`` (the max of that order: inverted-list assignment),
  ``_probe_lists`` (its ``nprobe`` best per query) and ``_topk`` (each
  query's ``k`` best neighbours, ties to the lower neighbour id);
- ``_cosine_q``: every reported cosine, the exact dot over the root of
  the exact self-dot product.

That contract is what lets the SQL oracle reproduce every result bit
for bit.

- ``topk_neighbors``      exact top-k by quantized inner product
  (embeddings here are unit-norm, so inner product == cosine ranking);
  broadcast the query side, rank with a per-query window.  The
  oracle-checkable baseline.
- ``lsh_ann_neighbors``   random-hyperplane LSH bucketing: the 100 TB
  scale path — each vector lands in a handful of buckets, candidate
  generation is a bucket-key join instead of a cross join.  Hyperplanes
  are deterministic pseudo-randoms derived from md5, so results are
  reproducible run-to-run and machine-to-machine.
"""

from __future__ import annotations

import functools as _functools
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from topic_store_spark.functions.vectors import (
    int_dot_sql,
    int_self_dot_sql,
    quantize_sql,
    quantize_vector,
)
from topic_store_spark.operators.util import MAX_BUILD_ROWS, bounded_collect

#: Spark-SQL literal suffix per integral centroid-id type — the id
#: literals :func:`argmax_best_sql` emits keep the centroid id dtype
_ID_LITERAL_SUFFIX = {"tinyint": "Y", "smallint": "S", "int": "", "bigint": "L"}


def _q(name: str) -> str:
    """Backtick-quote a column name for the SQL-string builders."""
    return f"`{name}`"


def argmax_best_sql(cen_rows, vec_sql: str, id_type) -> str:
    """``array_max(array(named_struct(...), ...))`` — the best-centroid
    struct for one row, as a Spark-SQL string over the collected
    quantized centroid rows (``cen_id``/``cen_qv``/``cen_n``).  Struct
    fields are ``(aff, neg_cen, cen_id)`` compared in order — the
    ``(aff desc, cen_id asc)`` deterministic tie-break (``neg_cen`` is
    unique, so later fields never decide); the affinity is the
    ``fold-dot / SQRT(CAST(n AS DOUBLE))`` double.  ``cen_id`` literals
    are emitted in ``id_type`` (the centroid id column's integral
    DataType), so the picked id keeps the centroid id dtype; any other
    type raises ``ValueError``."""
    suffix = _ID_LITERAL_SUFFIX.get(id_type.simpleString())
    if suffix is None:
        raise ValueError(
            "argmax_best_sql: centroid ids must be TINYINT, SMALLINT, INT "
            f"or BIGINT, got {id_type.simpleString().upper()}"
        )
    structs = []
    for r in cen_rows:
        lits = ",".join(f"{int(x)}L" for x in r["cen_qv"])
        cid = r["cen_id"]
        aff = (
            f"({int_dot_sql(vec_sql, f'array({lits})')}) "
            f"/ SQRT(CAST({int(r['cen_n'])}L AS DOUBLE))"
        )
        structs.append(
            f"named_struct('aff', {aff}, 'neg_cen', {-cid}L, "
            f"'cen_id', {cid}{suffix})"
        )
    return f"array_max(array({', '.join(structs)}))"


def _quantized(
    df: DataFrame, id_col: str, vec_col: str, prefix: str, **extra: Column
) -> DataFrame:
    """``(id, qv, n)`` quantized view, plus each ``extra`` column under
    its keyword name.  The quantized array is STAGED in its own
    projection and the self-dot reads the staged column — an inline form
    would re-evaluate the quantize transform three times per row (once
    for qv, twice inside the self-dot fold) because higher-order
    functions get no subexpression elimination and CollapseProject
    happily inlines the alias.  (Staging holds: the alias is referenced
    3x and the transform is non-cheap, so the two Projects do NOT
    collapse.)  ``extra`` columns are computed in the first projection
    from the raw vector and passed through the second."""
    staged = df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        F.expr(quantize_sql(_q(vec_col))).alias(f"{prefix}_qv"),
        *[col.alias(name) for name, col in extra.items()],
    )
    return staged.select(
        f"{prefix}_id",
        f"{prefix}_qv",
        F.expr(int_self_dot_sql(_q(f"{prefix}_qv"))).alias(f"{prefix}_n"),
        *extra,
    )


def _int_dot(a: str, b: str) -> Column:
    return F.expr(int_dot_sql(_q(a), _q(b)))


def _cosine_q(dot: str, a_n: str, b_n: str) -> Column:
    """``cosine_q``: the exact integer ``dot`` over the root of the exact
    self-dot product — every cosine the operators report."""
    return (
        F.col(dot) / F.sqrt((F.col(a_n) * F.col(b_n)).cast("double"))
    ).alias("cosine_q")


def _topk(scored: DataFrame, k: int, order: Column, value: Column) -> DataFrame:
    """``(query_id, neighbor_id, rank, value)``: each ``q_id``'s ``k``
    best ``scored`` rows by ``order``, ties to the lower ``c_id``."""
    w = Window.partitionBy("q_id").orderBy(order, F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.col("rank"),
            value,
        )
    )


def _scored_pairs(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Every (corpus, query) pair but a vector with itself, with its
    exact ``dot``; the query side is broadcast."""
    q = _quantized(queries, id_col, vec_col, "q")
    c = _quantized(corpus, id_col, vec_col, "c")
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("dot", _int_dot("q_qv", "c_qv"))
    )


def _with_affinity(rows: DataFrame, cen: DataFrame, vec: str) -> DataFrame:
    """``rows x cen`` (centroids broadcast) with ``aff``, the quantized
    ``vec``'s affinity to each centroid: ``dot / sqrt(cen_n)`` on exact
    integer dots, so every engine computes the identical double."""
    aff = _int_dot(vec, "cen_qv") / F.sqrt(F.col("cen_n").cast("double"))
    return rows.crossJoin(F.broadcast(cen)).withColumn("aff", aff)


def _cen_rank(*fields: str) -> Column:
    """``struct(aff, neg_cen, *fields)``: its max (or descending sort) is
    the best centroid under ``(aff desc, cen_id asc)`` — ``neg_cen`` is
    unique per row, so ``fields`` never decide."""
    return F.struct(
        F.col("aff"),
        (-F.col("cen_id")).alias("neg_cen"),
        *[F.col(f) for f in fields],
    )


def _nearest_list(c: DataFrame, cen: DataFrame, *fields: str) -> DataFrame:
    """``(c_id, best)``: each quantized corpus vector's nearest centroid,
    ``best`` the max :func:`_cen_rank` struct carrying ``fields``.

    Argmax via max(struct): the partial aggregate reduces each vector's
    |centroids| candidate rows to one BEFORE the exchange, so the
    assignment shuffle moves n rows, not n x |centroids|."""
    return (
        _with_affinity(c, cen, "c_qv")
        .groupBy("c_id")
        .agg(F.max(_cen_rank(*fields)).alias("best"))
    )


def _probe_lists(
    q: DataFrame, cen: DataFrame, nprobe: int, *cols: Column | str
) -> DataFrame:
    """``cols`` of each quantized query's ``nprobe`` nearest centroids,
    ranked ``(aff desc, cen_id asc)``.  The window is over Q x
    |centroids| rows, never corpus-scale."""
    w = Window.partitionBy("q_id").orderBy(
        F.col("aff").desc(), F.col("cen_id").asc()
    )
    return (
        _with_affinity(q, cen, "q_qv")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select(*cols)
    )


def topk_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by integer dot product, deterministic tie-break on
    neighbor id.  The query side is broadcast (it's the small dim side);
    the corpus never shuffles — the plan is scan + broadcast join +
    per-query TopK, which survives any corpus size."""
    return _topk(
        _scored_pairs(corpus, queries, id_col, vec_col), k,
        F.col("dot").desc(), _cosine_q("dot", "q_n", "c_n"),
    )


def topk_neighbors_partial(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k for LARGE query sets: partial top-k aggregation.

    ``topk_neighbors``'s per-query window shuffles every scored pair
    (corpus x Q rows) by ``q_id`` — fine at Q~10, a shuffle-volume wall
    when Q grows.  Here each scan partition reduces its scored pairs to a
    local top-k per query FIRST (map-side: the group key includes
    ``spark_partition_id()``, so the aggregate completes before the
    exchange), and only Q x partitions x k candidate rows ever move.
    The merge then takes the global top-k of the local winners.

    Ranking struct is ``(dot, -neighbor_id)`` sorted descending ==
    ``dot DESC, neighbor_id ASC`` — identical ordering and results to
    ``topk_neighbors``.
    """
    cand = F.struct(
        F.col("dot"),
        (-F.col("c_id")).alias("neg_id"),
        F.col("c_id"),
        F.col("q_n"),
        F.col("c_n"),
    )
    scored = _scored_pairs(corpus, queries, id_col, vec_col)
    local = scored.groupBy(
        "q_id", F.spark_partition_id().alias("_pid")
    ).agg(
        F.slice(F.sort_array(F.collect_list(cand), asc=False), 1, k).alias("top")
    )
    merged = (
        local.select("q_id", F.explode("top").alias("cand"))
        .groupBy("q_id")
        .agg(
            F.slice(
                F.sort_array(F.collect_list("cand"), asc=False), 1, k
            ).alias("top")
        )
    )
    return merged.select(
        "q_id", F.posexplode("top").alias("pos", "cand")
    ).select(
        F.col("q_id").alias("query_id"),
        F.col("cand.c_id").alias("neighbor_id"),
        (F.col("pos") + 1).alias("rank"),
        _cosine_q("cand.dot", "cand.q_n", "cand.c_n"),
    )


def assign_to_lists(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverted-list assignment: each corpus vector to its nearest
    centroid.  Returns ``(c_id, c_qv, c_n, list_id)`` — the relation
    ``search_lists`` probes (see :func:`_nearest_list`).  The assignment
    half of ``ivf_ann_neighbors``, kept callable on its own as the
    reference the exact-tie tests probe.
    """
    cen = _quantized(centroids, id_col, vec_col, "cen")
    c = _quantized(corpus, id_col, vec_col, "c")
    return _nearest_list(c, cen, "cen_id", "c_qv", "c_n").select(
        "c_id",
        F.col("best.c_qv").alias("c_qv"),
        F.col("best.c_n").alias("c_n"),
        F.col("best.cen_id").alias("list_id"),
    )


def search_lists(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe an inverted-list relation (``assign_to_lists`` output) with
    a query set — the search half of ``ivf_ann_neighbors``, kept
    callable on its own as the reference the exact-tie tests probe."""
    cen = _quantized(centroids, id_col, vec_col, "cen")
    q = _quantized(queries, id_col, vec_col, "q")
    probes = _probe_lists(
        q, cen, nprobe, "q_id", "q_qv", "q_n", F.col("cen_id").alias("list_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("dot", _int_dot("q_qv", "c_qv"))
    )
    return _topk(
        scored, k, F.col("dot").desc(), _cosine_q("dot", "q_n", "c_n")
    )


def ivf_ann_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors are partitioned into
    inverted lists by nearest centroid; a query probes only its ``nprobe``
    closest lists.

    The 100 TB shape: assignment is one broadcast pass over the corpus
    (centroid count is small by construction), the search join is
    equi-keyed on list id — candidate fan-out is corpus/|lists| * nprobe
    per query instead of the whole corpus.  Affinity ranking uses
    ``dot / sqrt(centroid_norm)`` on exact integer dots — IEEE ops on
    identical operands, so assignment is reproducible engine-to-engine.
    Composition of ``assign_to_lists`` + ``search_lists``.
    """
    assigned = assign_to_lists(corpus, centroids, id_col, vec_col)
    return search_lists(
        assigned, queries, centroids, k, nprobe, id_col, vec_col
    )


@_functools.lru_cache(maxsize=4096)
def _plane_weights(plane: int, dim: int) -> tuple[float, ...]:
    """Deterministic hyperplane weights, cached: weight_i =
    hexint(md5("p:i")[0:4])/65536 - 0.5 — exact binary fractions, so the
    doubles match the SQL oracle bit-for-bit.

    The weights are pure constants, but Catalyst does not constant-fold
    higher-order functions — an in-plan ``transform(sequence(...), md5)``
    formulation re-hashed dim x planes md5s PER ROW.  So they are
    computed driver-side with the byte-identical formula and emitted as
    a literal array (:func:`_proj_sql`)."""
    import hashlib

    return tuple(
        int(hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[:4], 16) / 65536.0
        - 0.5
        for i in range(dim)
    )


def _proj_sql(vec_sql: str, plane: int, dim: int) -> str:
    """<v, h_plane> as one Spark-SQL string: an ``aggregate(zip_with(...))``
    left-fold over the weights as ``D``-suffixed double literals (the
    oracle's operand order, bit-identical doubles), built in ONE py4j
    round trip instead of O(dim) Column calls.  See functions/vectors.py
    for the build-vs-exec rationale."""
    weights = ", ".join(
        f"{w!r}D" for w in _plane_weights(plane, dim)
    )
    return (
        f"aggregate(zip_with({vec_sql}, array({weights}), "
        "(x, w) -> CAST(x AS DOUBLE) * w), 0.0D, (acc, v) -> acc + v)"
    )


def _sign_sql(vec_sql: str, plane: int, dim: int) -> str:
    """'1'/'0' sign bit of the plane projection, as Spark SQL."""
    return f"(CASE WHEN {_proj_sql(vec_sql, plane, dim)} >= 0.0D THEN '1' ELSE '0' END)"


def lsh_bucket_key_sql(vec_sql: str, planes: int = 8, dim: int = 64) -> str:
    """`planes`-bit sign-pattern bucket id, as one Spark-SQL string."""
    return "concat(" + ", ".join(
        _sign_sql(vec_sql, p, dim) for p in range(planes)
    ) + ")"


def lsh_ann_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket.

    At scale: corpus bucketing is a one-pass map; the join is
    bucket-key-equi (shuffle on bucket, or broadcast of bucketed queries),
    pair fan-out ~ n/2^planes per query instead of n.

    ``probes > 1`` enables QUALITY-AWARE MULTI-PROBE (Lu et al. 2007,
    "Multi-Probe LSH"): beyond its own bucket, each query also probes the
    ``probes - 1`` buckets reached by flipping its SMALLEST-MARGIN sign
    bits (a vector near hyperplane p likely has true neighbors on p's
    other side).  Candidates grow ~linearly in ``probes`` while recall
    recovers most of what each added plane halves — the standard way to
    keep buckets small (cheap joins) without the recall cliff.  Only the
    probe-side fan-out changes; the corpus is still bucketed once."""

    def _bucketed(df: DataFrame, prefix: str) -> DataFrame:
        return _quantized(
            df, id_col, vec_col, prefix,
            bucket=F.expr(lsh_bucket_key_sql(_q(vec_col), planes, dim)),
        )

    c = _bucketed(corpus, "c")
    if probes <= 1:
        q_bucketed = _bucketed(queries, "q")
    else:
        # stage the per-plane projections ONCE (HOF folds get no CSE),
        # then derive signs, the margin order, and every probe key from
        # the staged columns
        staged = _quantized(
            queries, id_col, vec_col, "q",
            **{
                f"_pr{p}": F.expr(_proj_sql(_q(vec_col), p, dim))
                for p in range(planes)
            },
        )
        signs = F.array(
            *[
                F.when(F.col(f"_pr{p}") >= 0, F.lit("1")).otherwise(F.lit("0"))
                for p in range(planes)
            ]
        )
        margin_order = F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.abs(F.col(f"_pr{p}")).alias("m"),
                        F.lit(p).alias("p"),
                    )
                    for p in range(planes)
                ]
            )
        )
        staged = staged.select(
            "q_id", "q_qv", "q_n",
            signs.alias("_signs"), margin_order.alias("_order"),
        )
        keys = [F.array_join(F.col("_signs"), "")]
        for i in range(min(probes - 1, planes)):
            fp = F.element_at(F.col("_order"), i + 1)["p"]
            flipped = F.zip_with(
                F.col("_signs"),
                F.sequence(F.lit(0), F.lit(planes - 1)),
                lambda b, idx: F.when(
                    idx == fp,
                    F.when(b == "1", F.lit("0")).otherwise(F.lit("1")),
                ).otherwise(b),
            )
            keys.append(F.array_join(flipped, ""))
        q_bucketed = staged.select(
            "q_id", "q_qv", "q_n",
            F.explode(F.array(*keys)).alias("bucket"),
        )
    scored = c.join(F.broadcast(q_bucketed), "bucket").filter(
        F.col("q_id") != F.col("c_id")
    )
    if probes > 1:
        # a (query, candidate) pair can arrive via several probe buckets
        scored = scored.dropDuplicates(["q_id", "c_id"])
    scored = scored.withColumn("dot", _int_dot("q_qv", "c_qv"))
    return _topk(
        scored, k, F.col("dot").desc(), _cosine_q("dot", "q_n", "c_n")
    )


def pq_codebooks(
    sources: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Per-subspace product-quantization codebooks from an explicit
    source-vector table: codebook ``s`` code ``j`` is the ``s``-th
    sub-slice of the ``j``-th source vector (ordered by id — fully
    deterministic, SQL-reproducible).  Sources are codebook-sized by
    construction (k vectors, like the IVF centroid table), so the
    driver-side collect is O(k * dim) — dimension-sized, never corpus.

    Returns ``codebooks[s][j] = quantized int sub-vector`` for use as
    literals in :func:`ivf_pq_ann_neighbors`.  Over
    :func:`ivf_residual_vectors` output it is the distributed reference
    of the codebooks :func:`opq_sample_codebooks` derives on the driver.
    """
    rows = bounded_collect(
        sources.select(
            F.col(id_col).alias("_id"),
            quantize_vector(F.col(vec_col)).alias("_qv"),
        ).orderBy("_id"),
        MAX_BUILD_ROWS,
        "pq_codebooks",
    ).to_pylist()
    if not rows:
        raise ValueError("pq_codebooks: empty source table")
    dim = len(rows[0]["_qv"])
    if dim % m != 0:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [list(r["_qv"][s * sub : (s + 1) * sub]) for r in rows]
        for s in range(m)
    ]


class PQCoder:
    """Shared product-quantization expression builder: encodes vectors
    to per-subspace argmin codes and builds per-query ADC lookup tables
    against a fixed codebook set, for :func:`ivf_pq_ann_neighbors`.

    The per-subspace expressions are built as SQL STRINGS (one F.expr
    per subspace), not as Column trees: the Column form costs thousands
    of py4j round-trips for the m*k codebook literals and their
    zip_with/aggregate lambdas — ~2s of pure driver time per invocation
    at m=8, k=16, versus one JVM-side parse of a ~2 KB string here.
    Sub-vector slices are STAGED as plain attributes before the
    per-code lambdas reference them (HOFs are interpreted with no
    subexpression elimination, so an inline slice() would re-slice once
    per code — measured ~2x on the whole query at sf0.1)."""

    def __init__(self, codebooks: list[list[list[int]]]) -> None:
        if not codebooks:
            raise ValueError("PQCoder: empty codebooks")
        self.codebooks = codebooks
        self.m = len(codebooks)
        self.sub = len(codebooks[0][0])

    @staticmethod
    def _book_sql(book: list[list[int]]) -> str:
        return (
            "array("
            + ",".join(
                "array(" + ",".join(f"{int(v)}L" for v in code) + ")"
                for code in book
            )
            + ")"
        )

    def _stage_subs(self, df: DataFrame, vec_name: str, keep: list[str]) -> DataFrame:
        return df.selectExpr(
            *map(_q, keep),
            *[
                f"slice({_q(vec_name)}, {s * self.sub + 1}, {self.sub}) AS _sub{s}"
                for s in range(self.m)
            ],
        )

    def _stage_dists(self, df: DataFrame, keep: list[str]) -> DataFrame:
        """Stage the per-subspace distance arrays (_d0.._dm-1): exact
        integer L2^2 from the staged sub-slice to every code.  Staging
        means the downstream argmin (codes) reads a materialized array
        instead of re-evaluating the 16-way distance transform twice."""
        return df.selectExpr(
            *map(_q, keep),
            *[
                f"transform({self._book_sql(self.codebooks[s])}, cb -> "
                f"aggregate(zip_with(_sub{s}, cb, "
                f"(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)) AS _d{s}"
                for s in range(self.m)
            ],
        )

    def _staged(self, df: DataFrame, vec_name: str, keep: list[str]) -> DataFrame:
        """The ``keep + (_d0 .. _dm-1)`` relation both outputs read.

        Always the staged slice + transform-over-codebook SQL form: an
        r13 draft unrolled the per-code distance folds into flat
        ``try_element_at`` arithmetic instead, and execution regressed
        ~20x (janino 64 KB blowouts + per-plan compile churn — see
        functions/vectors.py); the staged HOF form is the measured
        winner."""
        return self._stage_dists(self._stage_subs(df, vec_name, keep), keep)

    @property
    def codes_sql(self) -> str:
        return (
            "array("
            + ",".join(
                f"cast(array_position(_d{s}, array_min(_d{s})) - 1 as int)"
                for s in range(self.m)
            )
            + ")"
        )

    def encode(self, df: DataFrame, vec_name: str, keep: list[str]) -> DataFrame:
        """``keep + (codes array<int>)``: per-subspace integer argmin
        (ties to the lower code id — array_position's first minimum)."""
        return self._staged(df, vec_name, keep).selectExpr(
            *map(_q, keep), f"{self.codes_sql} AS codes"
        )

    def luts(self, df: DataFrame, vec_name: str, keep: list[str]) -> DataFrame:
        """``keep + (lut array<array<bigint>>)``: the ADC lookup table —
        exact integer L2^2 from the vector's sub-slices to every code."""
        subs = ", ".join(f"_d{s}" for s in range(self.m))
        return self._staged(df, vec_name, keep).selectExpr(
            *map(_q, keep), f"array({subs}) AS lut"
        )


def ivf_residual_vectors(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id_col, vec_col)``: each corpus vector's RESIDUAL to its
    assigned IVF centroid (standard IVF-ADC, Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search" §IV).  Computed on the
    shared integer grid (quantized vector minus quantized centroid) and
    scaled back to floats, so downstream ``quantize_vector`` recovers
    the exact ints the search-time encoder subtracts.

    The distributed reference of the residuals
    :func:`opq_sample_codebooks` computes on the driver: composed with
    :func:`variance_balanced_permutation` and :func:`pq_codebooks` it
    is what the fused derivation is tested equal to, and its codebooks
    drive the residual-exactness and exact-tie tests."""
    cen = _quantized(centroids, id_col, vec_col, "cen")
    c = _quantized(corpus, id_col, vec_col, "c")
    return _nearest_list(c, cen, "c_qv", "cen_qv").select(
        F.col("c_id").alias(id_col),
        F.transform(
            F.zip_with(
                F.col("best.c_qv"), F.col("best.cen_qv"), lambda x, y: x - y
            ),
            lambda v: v.cast("double") / F.lit(1000.0),
        ).alias(vec_col),
    )


def ivf_pq_ann_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k (the FAISS IVFPQ composition): coarse
    IVF inverted lists bound the candidate set, and within the probed
    lists candidates are scored by ASYMMETRIC DISTANCE COMPUTATION over
    product-quantized codes — ``m`` sub-vector codes of ``ceil(log2 k)``
    bits each instead of the full vector.

    Why it matters at 100 TB: the searched representation shrinks ~32x
    (64 int cells -> 8 small codes per vector), so the inverted lists
    that actually move through the probe join carry codes, not vectors —
    ADC is ``m`` table lookups + adds per candidate, and each LUT
    (``m * k`` integer distances) is computed once on the tiny
    broadcast side.  Here the codes ride next to the vectors for
    oracle-checkability; a production index would persist codes only.

    The codes are the RESIDUAL (IVF-ADC) form, Jégou et al. 2011: each
    vector is encoded as its residual to its assigned coarse centroid,
    and the query LUT is built from the query's residual to each PROBED
    centroid (one LUT per (query, list) instead of per query).  The
    codebooks are residual sub-vectors too — :func:`opq_sample_codebooks`
    derives them, or :func:`pq_codebooks` over
    :func:`ivf_residual_vectors` output.

    Determinism contract (shared with the SQL oracle): encoding is
    integer argmin of exact L2^2 on the quantized grid, ties to the
    lower code id (``array_position`` returns the FIRST minimum); ADC
    sums exact integers; residual subtraction happens on the integer
    grid, so the result is bit-reproducible cross-engine.

    Returns ``(query_id, neighbor_id, rank, adc_dist)`` — rank 1 is the
    SMALLEST approximate distance, tie-broken on neighbor id.
    """
    coder = PQCoder(codebooks)
    cen = _quantized(centroids, id_col, vec_col, "cen")
    c = _quantized(corpus, id_col, vec_col, "c")
    q = _quantized(queries, id_col, vec_col, "q")
    encoded = _pq_encode_corpus(c, cen, coder)
    luts = _pq_query_luts(q, cen, coder, nprobe)
    return _pq_adc_rank(encoded, luts, k)


def _pq_encode_corpus(c: DataFrame, cen: DataFrame, coder: PQCoder) -> DataFrame:
    """``(c_id, list_id, codes)``: coarse-assign every corpus vector
    and PQ-encode its residual in staged projections.  The full vector
    is DROPPED here — downstream carries ``m`` codes/row."""
    enc_vec = F.zip_with(
        F.col("best.c_qv"), F.col("best.cen_qv"), lambda x, y: x - y
    )
    assigned = _nearest_list(c, cen, "cen_id", "c_qv", "cen_qv").select(
        "c_id", enc_vec.alias("c_ev"), F.col("best.cen_id").alias("list_id")
    )
    return coder.encode(assigned, "c_ev", ["c_id", "list_id"])


def _pq_query_luts(
    q: DataFrame, cen: DataFrame, coder: PQCoder, nprobe: int
) -> DataFrame:
    """``(q_id, list_id, lut)``: the nprobe nearest lists per query with
    the ADC lookup table of the query's residual to each probed
    centroid.  This side is probe-sized (the residual zip_with stays the
    HOF form deliberately: probe-count rows, never corpus-scale)."""
    q_enc = F.zip_with(F.col("q_qv"), F.col("cen_qv"), lambda x, y: x - y)
    probes = _probe_lists(
        q, cen, nprobe,
        "q_id", q_enc.alias("q_ev"), F.col("cen_id").alias("list_id"),
    )
    return coder.luts(probes, "q_ev", ["q_id", "list_id"])


def _pq_adc_rank(
    encoded: DataFrame, luts: DataFrame, k: int
) -> DataFrame:
    """Score every (probe, same-list code row) pair by integer ADC and
    keep each query's top-k (smallest distance, ties to lower id)."""
    adc = F.expr(
        "aggregate(zip_with(codes, lut, "
        "(cd, l) -> element_at(l, cd + 1)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = (
        encoded.join(F.broadcast(luts), "list_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("adc_dist", adc)
    )
    return _topk(scored, k, F.col("adc_dist").asc(), F.col("adc_dist"))


# ---------------------------------------------------------------------------
# OPQ: optimized product quantization (learned rotation)
# ---------------------------------------------------------------------------

def _variance_balanced_perm_of(vecs: list[list[int]]) -> list[int]:
    """The allocation rule of :func:`variance_balanced_permutation`,
    over already-quantized integer vectors (shared by the fused
    :func:`opq_sample_codebooks` so both paths use ONE formula)."""
    dims = len(vecs[0])
    if dims % 2:
        raise ValueError("variance_balanced_permutation: even dim count only")
    n = len(vecs)
    varnum = [
        n * sum(v[d] * v[d] for v in vecs) - sum(v[d] for v in vecs) ** 2
        for d in range(dims)
    ]
    order = sorted(range(dims), key=lambda d: (-varnum[d], d))
    perm: list[int] = []
    for s in range(dims // 2):
        perm += [order[s], order[dims - 1 - s]]
    return perm


def opq_sample_codebooks(
    sample: DataFrame,
    centroids: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[int], list[list[list[int]]]]:
    """Fused OPQ-permutation + PQ-codebook derivation from the residuals
    of a training ``sample`` to its nearest ``centroids``, from ONE
    bounded collect of both quantized relations and no exchange: both
    are training sized (the codebook sample and the coarse centroid
    table), so the residuals are computed on the driver.

    Exactly equal to the composed pipeline —
    ``perm = variance_balanced_permutation(ivf_residual_vectors(sample,
    centroids))`` followed by
    ``pq_codebooks(ivf_residual_vectors(permute_vectors(sample, perm),
    permute_vectors(centroids, perm)), m)`` (pinned by
    tests/test_dedup_similarity.py
    ::test_opq_fused_codebooks_equal_composed):

    - the vectors are quantized by the JVM with the same
      ``quantize_sql``, and quantization is per-element, so
      quantize∘permute = permute∘quantize bit-for-bit;
    - the nearest centroid maximizes ``(dot / sqrt(|cen|^2), -cen_id)``
      over exact integer dots, and Python's int-to-double conversion,
      ``sqrt`` and division are the same correctly rounded IEEE
      operations as Spark's, so every affinity and tie-break is the one
      ``ivf_residual_vectors`` computes; the assignment is
      permutation-invariant (the dot sums are the same multiset of
      exact integer addends);
    - the residual is an element-wise integer subtract, so permuting it
      equals subtracting permuted vectors, and ``pq_codebooks``'
      re-quantization of the residual floats (``ints/1000.0``) recovers
      the ints exactly (the grid contract ``round((i/1000.0)*1000.0) ==
      i``).

    The composed form costs two eager residual computations per build,
    each a broadcast, an assignment exchange and a sort.  ``sample`` ids
    are assumed unique.

    Returns ``(perm, codebooks)`` with ``codebooks[s][j]`` the ``s``-th
    sub-slice of the ``j``-th PERMUTED residual (ordered by id, exactly
    :func:`pq_codebooks`' layout).
    """

    def side(df: DataFrame, tag: int) -> DataFrame:
        return df.select(
            F.lit(tag).alias("_side"),
            F.col(id_col).alias("_id"),
            F.expr(quantize_sql(_q(vec_col))).alias("_qv"),
        )

    rows = bounded_collect(
        side(sample, 0).unionByName(side(centroids, 1)),
        MAX_BUILD_ROWS,
        "opq_sample_codebooks",
    ).to_pylist()
    cens = [
        (r["_id"], r["_qv"], math.sqrt(sum(x * x for x in r["_qv"])))
        for r in rows
        if r["_side"] == 1 and r["_qv"] is not None
    ]
    rows.sort(key=lambda r: r["_id"])
    vecs = [r["_qv"] for r in rows if r["_side"] == 0]
    if not vecs or not cens:
        raise ValueError("opq_sample_codebooks: empty sample or centroid table")
    if any(v is None for v in vecs):
        raise ValueError("opq_sample_codebooks: null sample vector")
    dims = len(vecs[0])
    if dims % m != 0:
        raise ValueError(f"opq_sample_codebooks: dim {dims} not divisible by m={m}")

    def affinity(vec: list[int], cen) -> tuple[float, int]:
        cid, cv, root = cen
        return sum(x * y for x, y in zip(vec, cv)) / root, -cid

    residuals = []
    for vec in vecs:
        best = max(cens, key=lambda cen: affinity(vec, cen))[1]
        residuals.append([x - y for x, y in zip(vec, best)])
    perm = _variance_balanced_perm_of(residuals)
    sub = dims // m
    permuted = [[v[p] for p in perm] for v in residuals]
    books = [
        [v[s * sub : (s + 1) * sub] for v in permuted] for s in range(m)
    ]
    return perm, books


def variance_balanced_permutation(
    residuals: DataFrame, vec_col: str = "embedding"
) -> list[int]:
    """OPQ-lite learned "rotation" as a variance-balanced DIMENSION
    PERMUTATION (the parametric-OPQ allocation intuition of Ge et al.
    2013 §4: spread variance evenly across subspaces).  A signless
    permutation is an exactly-orthogonal matrix whose application is
    EXACT on the shared integer grid — so the permuted encoding
    reproduces bit-for-bit in the DuckDB oracle.

    Allocation for 2-d subspaces: sort dims by residual variance
    (exact integer numerator ``n*sum(x^2) - sum(x)^2``, ties by dim
    index) and pair the s-th highest with the s-th lowest —
    ``perm[2s], perm[2s+1] = sorted[s], sorted[D-1-s]``.

    ``residuals`` is the (BOUNDED — the codebook sample, 16 vectors in
    the carried config) residual relation from `ivf_residual_vectors`.
    The distributed reference :func:`opq_sample_codebooks` is tested
    equal to; ``q_ann_pq`` runs the fused form."""
    rows = bounded_collect(
        residuals.select(vec_col), MAX_BUILD_ROWS, "variance_balanced_permutation"
    ).to_pylist()
    if not rows:
        raise ValueError("variance_balanced_permutation: empty sample")
    vecs = [
        [int(round(x * 1000.0)) for x in r[vec_col]] for r in rows
    ]  # back to the exact integer grid
    return _variance_balanced_perm_of(vecs)


def permute_vectors(
    df: DataFrame, perm: list[int], vec_col: str = "embedding"
) -> DataFrame:
    """Apply a dimension permutation to a vector column — one JVM-side
    array rebuild, exact for any value (no float arithmetic at all)."""
    cells = ", ".join(f"element_at({_q(vec_col)}, {i + 1})" for i in perm)
    return df.withColumn(vec_col, F.expr(f"array({cells})"))
