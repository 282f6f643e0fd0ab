"""Vector math over ``array<float>`` embedding columns (SURVEY §2.4 X3).

Floats are widened to double *before* any arithmetic (float×float is
exactly representable in double, so the only rounding is in the
summation), and every exact cosine is one fold, :func:`_fold_dot`: per
row, float64 products added in ascending dimension order — the shape
the DuckDB oracle mirrors, making similarity values bit-identical across
engines. numpy vectorizes the fold ACROSS ROWS while each row's
reduction stays SEQUENTIAL ACROSS DIMENSIONS, and IEEE-754 ops are
deterministic given order.

Two entry points share that fold:

* :func:`cosine` scores pairs — one Arrow-batched pandas UDF computing
  the dot and both norms of each (a, b) row (the filter-then-refine
  verify step of every ANN, LSH, PQ and embedding-dedup path);
* :func:`_fold_cos` scores a query matrix against a candidate matrix —
  the streamed top-k kernel and the probe ranking (:func:`_probe_order`).

Both return an undefined cosine (null vector, length mismatch, NaN or
null element, zero norm) as NaN, which reaches Spark as NULL.
:func:`dot_expr` keeps the pure Column fold only for the constant-folded
hyperplane literal of :func:`hyperplane_bits`.
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


# --- Arrow-batched exact kernels ----------------------------------------
#
# Per row: dot = ((0.0 + a0·b0) + a1·b1) + …, norm = √dot(a, a) and
# cosine = dot(a, b) / (norm(a)·norm(b)). numpy evaluates these IEEE ops
# column by column across the rows — the same order per row, the same
# bits; a NaN element propagates to a NaN cosine.


def _fold_dot(A, B):
    """Batched sequential-fold dot: per row, float64 adds in ascending
    dimension order, vectorized across rows only."""
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
    it comes out undefined (NaN). Null elements become NaN too."""
    import numpy as np

    M = np.full((len(vals), dim), np.nan)
    for i, v in enumerate(vals):
        if v is not None and len(v) == dim:
            M[i] = v
    return M


def _fold_cos(Q, C):
    """(nq × dim), (m × dim) → (nq × m) cosine matrix. Each cell's dot
    accumulates float64 products in ascending dimension order and
    divides by the same ``qn·cn`` product as :func:`cosine` —
    bit-identical per cell, vectorized across cells. A NaN row (see
    :func:`_rows_mat`) or a zero norm gives NaN cells."""
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


def _probe_order(Q, C, lids, n: int):
    """(nq × dim) queries, (m × dim) centroids and their m list ids →
    (nq × min(n, m)) list ids per query, nearest first: centroid cosine
    (:func:`_fold_cos`) descending, an undefined cosine (null or ragged
    query, NaN element, zero norm) after every real one, ties by list
    id. The one probe ranking of every IVF path, driver- or
    executor-side."""
    import numpy as np

    lids = np.asarray(lids)
    cos = _fold_cos(Q, C)
    # numpy sorts NaN after every number and NaNs as equal, so undefined
    # cosines come last and fall through to the list-id key
    order = np.lexsort((np.broadcast_to(lids, cos.shape), -cos))
    return lids[order[:, :n]]


def _series_cos(a, b):
    """The :func:`cosine` kernel: rows are grouped by vector length and
    each group of equal-length pairs is scored with :func:`_fold_dot` —
    the dot and both norms, as :func:`_fold_cos` computes them. A row
    with a null vector or two lengths stays NaN."""
    import numpy as np
    import pandas as pd

    av, bv = a.to_numpy(), b.to_numpy()
    la = np.array([-1 if v is None else len(v) for v in av], dtype=np.int64)
    lb = np.array([-1 if v is None else len(v) for v in bv], dtype=np.int64)
    ok = (la == lb) & (la >= 0)
    out = np.full(len(av), np.nan)
    for dim in np.unique(la[ok]):
        rows = np.flatnonzero(ok & (la == dim))
        A, B = _rows_mat(av[rows], dim), _rows_mat(bv[rows], dim)
        den = np.sqrt(_fold_dot(A, A)) * np.sqrt(_fold_dot(B, B))
        with np.errstate(divide="ignore", invalid="ignore"):
            out[rows] = _fold_dot(A, B) / den
    return pd.Series(out)


_COS_UDF = None


def cosine(a: Column, b: Column) -> Column:
    """Exact cosine of two ``array<double>`` columns, row by row, in one
    Arrow-batched pandas UDF (see module doc). An undefined cosine — a
    null vector, two lengths, a NaN or null element, a zero norm — is
    NaN in the kernel and NULL in Spark."""
    global _COS_UDF
    if _COS_UDF is None:
        # one UDF object (one cloudpickle registration) per process
        _COS_UDF = F.pandas_udf(_series_cos, "double")
    return _COS_UDF(a, b)


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
