"""Vector math over ``array<float>`` embedding columns.

Two tiers:

- double-precision Column expressions (``dot_product``/
  ``cosine_similarity``) for the Python API — built-in higher-order
  functions, JVM-side;
- an exact integer-quantized tier used by the oracle-checked operators:
  components scale to ``round(x * 1000)`` longs (``quantize_vector``,
  or ``quantize_sql`` as a Spark-SQL string), so dot products and norms
  are exact integer arithmetic (``int_dot_sql``) and threshold tests
  can be cross-multiplied — bit-identical in any engine, no
  floating-point summation-order hazards.  The operators build these
  as SQL strings (see below); ``operators/similarity.py`` composes them
  into its quantized view, affinity and top-k helpers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

QUANT_SCALE = 1000


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def quantize_vector(a: Column, scale: int = QUANT_SCALE) -> Column:
    """array<float> -> array<long> of round(x * scale)."""
    return F.transform(
        a, lambda x: F.round(x.cast("double") * scale).cast("long")
    )


# ---------------------------------------------------------------------------
# SQL-string forms (r13 optimization round).
#
# These emit the higher-order-function expressions of the integer tier
# — `aggregate(zip_with(...))` folds in the oracle's operand order —
# as Spark-SQL STRINGS: one ``F.expr`` is one py4j
# round trip plus one JVM-side parse, versus O(dim-independent but
# still dozens of) Python Column calls per composite expression.  The
# r13 build/exec decomposition (`tools/profile_queries.py`) showed
# DataFrame-BUILD time, i.e. driver-side Python + py4j, dominating the
# ANN/LSH query family (ann_lsh 3.9s build vs 0.9s exec at sf0.1), so
# the win here is build-side only and deliberate.
#
# An earlier r13 draft unrolled the folds into flat per-element
# arithmetic (`try_element_at(v, 1) * ... + try_element_at(v, 64)`)
# hoping whole-stage codegen would compile them to straight-line JVM
# code.  Measured result: 2-20x EXECUTION regressions — the 64-term
# trees blow janino's 64 KB method limit in stage after stage
# (10 `Code grows beyond 64 KB` failures per run), kick the whole
# stage out of codegen, and interpret a ~256-node Add/Multiply tree
# per row, far slower than the fold's tight loop; what still compiled
# churned seconds of janino per plan.  Hence: SQL strings for the
# build, the r12 fold semantics for execution, bit-identical results
# by construction (it is the same expression tree after parsing).
#
# The same holds for per-element staging projections: building a
# ``select`` of 32 ``F.slice(...).alias(...)`` Columns (``ann_pq``'s
# sub-vector staging) measured ~97 ms of driver wall time, 68 ms of it
# Python CPU (one py4j call per Column, literal and alias), against
# ~10 ms (3 ms Python) for the same projection through one
# ``selectExpr`` (warm, mean of 50 builds, local[2], 4 vCPUs).  So
# ``PQCoder``'s stagings, its LUT array and ``permute_vectors`` are SQL
# strings too; the parsed plans are byte-identical to the Column forms'.
# ---------------------------------------------------------------------------


def int_dot_sql(a: str, b: str) -> str:
    """Exact integer dot product of two quantized-vector column names
    (a bigint ``aggregate(zip_with(...))`` fold), as one Spark-SQL
    string."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def int_self_dot_sql(a: str) -> str:
    return int_dot_sql(a, a)


def sub_vec_sql(a: str, b: str) -> str:
    """``zip_with(a, b, (x, y) -> x - y)`` over two column names, as
    Spark SQL (element-wise long subtraction)."""
    return f"zip_with({a}, {b}, (x, y) -> x - y)"


def quantize_sql(a: str, scale: int = QUANT_SCALE) -> str:
    """:func:`quantize_vector` over a column name, as Spark SQL — the
    identical per-element op chain (cast double, * scale, round, cast
    bigint; the ``D`` suffix keeps the scale a double literal exactly
    like the Column form's int-promoted-to-double multiplicand)."""
    return (
        f"transform({a}, x -> CAST(ROUND((CAST(x AS DOUBLE)"
        f" * {float(scale)!r}D), 0) AS BIGINT))"
    )
