"""Vector math over ``array<float>`` embedding columns (SURVEY §2.4 X3).

Floats are widened to double *before* any arithmetic (float×float is
exactly representable in double, so the only rounding is in the
summation), and dot products are sequential left folds — the exact shape
the DuckDB oracle mirrors, making similarity values bit-identical across
engines.

The scoring entry points (:func:`dot`, :func:`norm`, :func:`cosine`,
:func:`cosine_prenormed`) evaluate as Arrow-batched pandas UDFs: Catalyst
higher-order functions (``zip_with``/``aggregate``) have no codegen and
run INTERPRETED — each candidate pair in a top-k join pays ~3·dim
interpreted expression nodes (guide §4.2: hand whole batches to
vectorized native code instead). The numpy kernels vectorize ACROSS ROWS
while keeping every reduction SEQUENTIAL ACROSS DIMENSIONS — each float64
multiply/add happens in the exact order the Catalyst fold defines, and
IEEE-754 ops are deterministic given order, so the scores are
BIT-IDENTICAL to the interpreted folds (and to the DuckDB oracle). The
``*_expr`` twins keep the pure Column forms for callers that must stay
JVM-only (constant-folded plane literals, codegen-only surfaces).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..serde import pickle_module_by_value as _pmv

# the Arrow kernels below are MODULE-LEVEL functions shipped to executors
# (pandas UDFs) — register the module for cloudpickle by-value pickling
# so workers need no repo on sys.path (see serde.py)
_pmv(__name__)


def to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (order-stable for the oracle) —
    pure Column expression form (interpreted; see module doc)."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


# --- Arrow-batched exact kernels ----------------------------------------
#
# Semantics replicated from the Column folds, per row:
#   dot:  ((0.0 + a0·b0) + a1·b1) + …    (zip_with pads length mismatch
#         with NULL and any NULL element nullifies the fold → None)
#   norm: sqrt(((0.0 + a0²) + a1²) + …)
# numpy evaluates the same IEEE ops column-by-column across the batch —
# identical order per row, identical bits. NaN propagates identically.


def _mat(vals):
    """rows → (n × dim) float64 matrix; None when the rows are ragged or
    hold a null vector — the caller then scores row by row with
    :func:`_row_dot`."""
    import numpy as np

    try:
        return np.stack([np.asarray(v, dtype=np.float64) for v in vals])
    except (ValueError, TypeError):
        return None


def _fold_dot(A, B):
    """Batched sequential-fold dot: per row, float64 adds in ascending
    dimension order — the Catalyst ``aggregate`` fold, vectorized across
    rows only."""
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    tmp = np.empty(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        np.multiply(A[:, i], B[:, i], out=tmp)
        np.add(acc, tmp, out=acc)
    return acc


def _rows_mat(vals, dim: int):
    """rows → (n × ``dim``) float64 matrix in which a null row, or one
    whose length is not ``dim``, is a row of NaN: every cosine against
    it comes out undefined (NaN), as the Column fold's NULL does. Null
    elements become NaN too."""
    import numpy as np

    M = np.full((len(vals), dim), np.nan)
    for i, v in enumerate(vals):
        if v is not None and len(v) == dim:
            M[i] = v
    return M


def _fold_cos(Q, C):
    """(nq × dim), (m × dim) → (nq × m) cosine matrix. Each cell's dot
    accumulates float64 products in ascending dimension order and
    divides by the same ``qn·cn`` product as :func:`_row_dot` and the
    Catalyst fold — bit-identical per cell, vectorized across cells. A
    NaN row (see :func:`_rows_mat`) or a zero norm gives NaN cells."""
    import numpy as np

    acc = np.zeros((Q.shape[0], C.shape[0]), dtype=np.float64)
    tmp = np.empty_like(acc)
    for d in range(Q.shape[1]):
        np.multiply(Q[:, d, None], C[None, :, d], out=tmp)
        np.add(acc, tmp, out=acc)
    qn = np.sqrt(_fold_dot(Q, Q))
    cn = np.sqrt(_fold_dot(C, C))
    with np.errstate(divide="ignore", invalid="ignore"):
        return acc / (qn[:, None] * cn[None, :])


def _row_dot(a, b):
    """Exact scalar fallback (ragged/null rows) — mirrors zip_with +
    aggregate: length mismatch or a null element → None."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + float(x) * float(y)
    return acc


def _series_dot(a, b):
    import numpy as np
    import pandas as pd

    av, bv = a.to_numpy(), b.to_numpy()
    if not len(av):
        return pd.Series([], dtype="float64")
    na_mask = a.isna().to_numpy() | b.isna().to_numpy()
    if not na_mask.any():
        A, B = _mat(av), _mat(bv)
        if A is not None and B is not None and A.shape == B.shape:
            return pd.Series(_fold_dot(A, B))
    # ragged or null-bearing batch: exact row-wise fold
    return pd.Series(
        [_row_dot(x, y) for x, y in zip(av, bv)], dtype="object"
    ).astype("float64")


_DOT_UDF = None


def _dot_udf():
    # singleton: one UDF object (one cloudpickle registration) per
    # process instead of one per call site per query construction
    global _DOT_UDF
    if _DOT_UDF is None:
        _DOT_UDF = F.pandas_udf(_series_dot, "double")
    return _DOT_UDF


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product, Arrow-batched (bit-identical to
    :func:`dot_expr` — see module doc)."""
    return _dot_udf()(a, b)


def norm(a: Column) -> Column:
    """√(Σ x²), sequential fold. Deliberately the INTERPRETED expression
    form: norm is a per-ROW projection (O(n·dim), not O(pairs·dim)) that
    rides inside every lifecycle commit's write job — an Arrow version
    adds a Python stage to each tiny write for work the interpreter does
    in ms at any batch size, and measured +1-2 s on the add()-per-batch
    ANN ingest lifecycle. The per-PAIR folds (:func:`dot`,
    :func:`cosine`) are the ones that scale with candidate volume and go
    through Arrow."""
    return norm_expr(a)


def _series_cos(sa, sb):
    import numpy as np
    import pandas as pd

    av, bv = sa.to_numpy(), sb.to_numpy()
    if not len(av):
        return pd.Series([], dtype="float64")
    na_mask = sa.isna().to_numpy() | sb.isna().to_numpy()
    if not na_mask.any():
        A, B = _mat(av), _mat(bv)
        if A is not None and B is not None and A.shape == B.shape:
            return pd.Series(
                _fold_dot(A, B) / (np.sqrt(_fold_dot(A, A)) * np.sqrt(_fold_dot(B, B)))
            )
    import math

    out = []
    for x, y in zip(av, bv):
        d, dx, dy = _row_dot(x, y), _row_dot(x, x), _row_dot(y, y)
        out.append(
            None
            if d is None or dx is None or dy is None
            else d / (math.sqrt(dx) * math.sqrt(dy))
        )
    return pd.Series(out, dtype="object").astype("float64")


_COS_UDF = None


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two (float) vectors, computed in double —
    one Arrow crossing for cast + dot + norms; the division happens in
    numpy (IEEE — identical bits to the JVM divide)."""
    global _COS_UDF
    if _COS_UDF is None:
        _COS_UDF = F.pandas_udf(_series_cos, "double")
    return _COS_UDF(a, b)


def cosine_prenormed(a_d: Column, b_d: Column, na: Column, nb: Column) -> Column:
    """Cosine with the per-ROW work hoisted: callers project the double
    cast and the norm once per input row BEFORE a join, so each candidate
    pair pays one dot fold instead of two casts + two norm folds.
    ``dot/(na*nb)`` performs the same double ops in the same order as
    :func:`cosine`, so results are bit-identical; the division runs in
    the JVM (one codegen'd double op). A zero norm scores NULL
    (``try_divide``) instead of raising ``DIVIDE_BY_ZERO`` under ANSI."""
    return F.try_divide(dot(a_d, b_d), na * nb)


def hyperplane_bits(arr: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane (sign) sketch: bit j = [dot(v, r_j) >= 0].
    Packed into a long — the LSH bucket key for approximate cosine search.
    ``planes`` are deterministic (seeded) driver-side literals.

    The plane matrix is bound as ONE all-literal ``array<array<double>>``
    expression — constant-folded by Catalyst into a single Literal — and
    the per-plane dot products are a single ``transform`` + ``aggregate``
    fold. Unrolling a separate dot-product subtree per plane (the naive
    shape) generates ``n_planes × dim`` expression nodes, which at real
    embedding dims (768–3072) × 16 planes blows past whole-stage-codegen
    limits; this shape stays O(1) in the optimized plan regardless of
    dim."""
    ad = to_double(arr)
    # build the literal via ONE parsed SQL string: constructing n_planes×dim
    # F.lit Column objects costs a py4j round-trip per element (~0.6s per
    # call site at 12×64 — dominated ANN query build time); one F.expr
    # parse is ~100× cheaper and yields the identical constant-folded
    # Literal. %.17e round-trips doubles exactly and always carries an
    # exponent, so Spark's parser types every element DOUBLE (bare decimal
    # literals would parse as DECIMAL).
    planes_lit = F.expr(
        "array(" + ",".join("array(" + ",".join(f"{v:.17e}" for v in p) + ")" for p in planes) + ")"
    )
    bits = F.transform(planes_lit, lambda p: (dot_expr(ad, p) >= 0).cast("long"))
    # Horner fold over reversed bits ⇒ Σ bit_j · 2^j, same packing as the
    # per-plane shift-add (bit 0 = first plane)
    return F.aggregate(
        F.reverse(bits),
        F.lit(0).cast("long"),
        lambda acc, b: acc * F.lit(2).cast("long") + b,
    )
