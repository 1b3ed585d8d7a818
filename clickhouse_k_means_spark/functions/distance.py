"""Vector distance expressions over ``array<double>`` columns.

Pure Column functions — JVM-side higher-order functions, no Python
UDFs, so they stay inside whole-stage codegen (the reference makes the
same argument for in-engine SQL distance at README.md:16; its workhorse
is ``L2Distance`` at k-means.sql:24,38,53 and OptimalK.sql:5,12-14).

All functions accept either a Column or a column name, and the "other"
side may be a plain Python list (folded into an array literal — this is
how the k-row centroid model is injected without a join, mirroring the
reference's scalar-subquery model arrays at k-means.sql:36).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = "Column | str"


def _as_vec(v: Column | str | Sequence[float]) -> Column:
    if isinstance(v, Column):
        return v
    if isinstance(v, str):
        return F.col(v)
    return F.array(*[F.lit(float(x)) for x in v])


def sq_l2_distance(a, b) -> Column:
    """Squared Euclidean distance between two double-array vectors.

    ``aggregate(zip_with(a, b, (x,y) -> (x-y)^2), 0.0, +)`` — one fused
    pass, arity-generic (reference is dimension-generic too, SURVEY
    §1.3), no shuffle, no UDF.
    """
    a, b = _as_vec(a), _as_vec(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_distance(a, b) -> Column:
    """Euclidean distance (reference ``L2Distance``, k-means.sql:24)."""
    return F.sqrt(sq_l2_distance(a, b))


def dot(a, b) -> Column:
    """Dot product of two double-array vectors."""
    a, b = _as_vec(a), _as_vec(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a) -> Column:
    """Euclidean norm of a double-array vector."""
    a = _as_vec(a)
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine_similarity(a, b) -> Column:
    """Cosine similarity; NULL-safe-ish (0-norm vectors yield NULL)."""
    a, b = _as_vec(a), _as_vec(b)
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# ---- fixed-arity (unrolled) variants -------------------------------------
#
# Spark's higher-order functions (aggregate/zip_with/transform) run
# INTERPRETED per element and break whole-stage codegen for the whole
# stage. When the vector arity is known at plan-build time (it always
# is: the reference resolves it at parse time too, SURVEY §1.3), the
# same left-fold unrolls into plain arithmetic that codegens. The fold
# order matches the HOF form term-for-term (0 + d0 == d0 in IEEE), so
# results are bit-identical and DuckDB oracles stay valid.
#
# Construction cost matters too: building a 64-term unroll out of
# Python Column operators is ~130 py4j round-trips PER EXPRESSION
# (~80 s for a 48-plane SRP projection, measured r3). When the
# operands are plain column names or Python number vectors, the same
# tree is rendered as ONE SQL string and parsed JVM-side by a single
# ``F.expr`` call; ``+``/``*`` parse left-associative, so the tree —
# and therefore the IEEE fold order — is identical to the loop form.


def _lit_f(x: float) -> str:
    """Exact SQL double literal (repr round-trips float64). NaN and
    ±inf print as ``nan``/``inf``, which SQL would read as column
    names, so those cast from a string."""
    return f"CAST({x!r} AS DOUBLE)" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def _idx(name: str, d: int) -> str:
    # backticked so SQL reserved words used as column names (`order`,
    # `group`, ...) parse the same as the Column-based path would
    return f"`{name}`[{d}]"


def _vec_elem_sql(v, d: int) -> str | None:
    """SQL for element ``d`` of a name-or-numbers vector, else None."""
    if isinstance(v, str):
        return _idx(v, d)
    if isinstance(v, Sequence) and not isinstance(v, (str, bytes)):
        return _lit_f(float(v[d]))
    return None


def _sq_l2_sql(a, b, dim: int) -> str | None:
    terms = []
    for d in range(dim):
        ea, eb = _vec_elem_sql(a, d), _vec_elem_sql(b, d)
        if ea is None or eb is None:
            return None
        terms.append(f"(({ea}) - ({eb})) * (({ea}) - ({eb}))")
    return " + ".join(terms)


def _dot_sql(a, b, dim: int) -> str | None:
    terms = []
    for d in range(dim):
        ea, eb = _vec_elem_sql(a, d), _vec_elem_sql(b, d)
        if ea is None or eb is None:
            return None
        terms.append(f"({ea}) * ({eb})")
    return " + ".join(terms)


def sq_l2_fixed(a, b, dim: int) -> Column:
    """Unrolled squared L2 distance for a known arity."""
    s = _sq_l2_sql(a, b, dim)
    if s is not None:
        return F.expr(s)
    a, b = _as_vec(a), _as_vec(b)
    out: Column | None = None
    for d in range(dim):
        t = a[d] - b[d]
        term = t * t
        out = term if out is None else out + term
    return out


def l2_fixed(a, b, dim: int) -> Column:
    """Unrolled Euclidean distance for a known arity."""
    s = _sq_l2_sql(a, b, dim)
    if s is not None:
        return F.expr(f"sqrt({s})")
    return F.sqrt(sq_l2_fixed(a, b, dim))


# Above this arity the unrolled form stops being a codegen win: the
# ~dim-term expression tree blows Janino's 64 KB method limit, the
# whole stage falls back to INTERPRETED execution, and every
# GetArrayItem in the ~3·dim-node tree is then a per-row tree walk.
# The HOF fold below is interpreted too, but it walks ONE zip_with
# array per row instead of that tree — measured r14 on knn_join's
# 2.5M-pair verify at dim=64: unrolled cosine 9.6 s, HOF cosine 7.3 s,
# HOF dot with per-vector norms (operators/similarity._cosine_scored)
# 2.7 s, all three bit-identical on float32 AND float64 fixtures.
# Below the cutoff the unrolled form codegens and stays the fastest
# shape (the dim<=3 k-means paths are plan-guarded to it,
# tests/test_plan_quality.py). Literal vectors always stay unrolled:
# their terms constant-fold, and the HOF form would rebuild the
# literal array per row.
_HOF_DIM_CUTOFF = 16


def _is_literal_vec(v) -> bool:
    return isinstance(v, Sequence) and not isinstance(v, (str, bytes))


def _hof_dot(a: Column | str, b: Column | str, dim: int) -> Column:
    """Dot product as one JVM higher-order fold with the EXACT
    unrolled semantics: init = a[0]*b[0] so the accumulator inherits
    the multiply's own type (a float32 column keeps float32 partial
    sums — seeding with a double 0.0 literal silently promotes every
    partial and changes results, measured r14); fold order
    t0 + t1 + ... + t_{dim-1}, the unrolled tree's left-association,
    so IEEE results are bit-identical; inputs sliced to ``dim``
    elements so extra elements are ignored exactly like the unrolled
    form; a side shorter than ``dim`` RAISES, matching the unrolled
    form's ANSI out-of-range a[d] error (zip_with would otherwise
    null-pad and silently return NULL — a quiet no-op on malformed
    input, against the repo's loud-failure rule)."""
    a, b = _as_vec(a), _as_vec(b)
    zw = F.zip_with(F.slice(a, 1, dim), F.slice(b, 1, dim), lambda x, y: x * y)
    s = F.aggregate(F.slice(zw, 2, dim - 1), a[0] * b[0], lambda acc, v: acc + v)
    return (
        F.when(a.isNull() | b.isNull(), F.lit(None))  # null propagates
        .when((F.size(a) >= dim) & (F.size(b) >= dim), s)
        .otherwise(
            F.raise_error(
                F.lit(f"fixed-arity dot: input array shorter than dim={dim}")
            )
        )
    )


def dot_fixed(a, b, dim: int) -> Column:
    """Dot product for a known arity: unrolled (codegen) below
    ``_HOF_DIM_CUTOFF``, the bit-identical HOF fold above it."""
    if dim >= _HOF_DIM_CUTOFF and not (_is_literal_vec(a) or _is_literal_vec(b)):
        return _hof_dot(a, b, dim)
    s = _dot_sql(a, b, dim)
    if s is not None:
        return F.expr(s)
    a, b = _as_vec(a), _as_vec(b)
    out: Column | None = None
    for d in range(dim):
        term = a[d] * b[d]
        out = term if out is None else out + term
    return out


def cosine_fixed(a, b, dim: int) -> Column:
    """Cosine similarity for a known arity: unrolled (codegen) below
    ``_HOF_DIM_CUTOFF``, the bit-identical HOF folds above it."""
    if dim >= _HOF_DIM_CUTOFF and not (_is_literal_vec(a) or _is_literal_vec(b)):
        return _hof_dot(a, b, dim) / (
            F.sqrt(_hof_dot(a, a, dim)) * F.sqrt(_hof_dot(b, b, dim))
        )
    ab, aa, bb = _dot_sql(a, b, dim), _dot_sql(a, a, dim), _dot_sql(b, b, dim)
    if ab is not None and aa is not None and bb is not None:
        return F.expr(f"({ab}) / (sqrt({aa}) * sqrt({bb}))")
    a, b = _as_vec(a), _as_vec(b)
    return dot_fixed(a, b, dim) / (
        F.sqrt(dot_fixed(a, a, dim)) * F.sqrt(dot_fixed(b, b, dim))
    )
