"""The IEEE-exact numpy chains every Arrow kernel in ``similarity.py`` runs.

Each function accumulates over DIMENSIONS left to right — one vectorized
multiply-add per dimension — which is the float order of the JVM's
unrolled chains (``_dot_unrolled``, ``_l2_unrolled``) and of the DuckDB
twins' ``list_sum(list_transform(...))``. Elementwise numpy ``*``/``+``/
``/`` are single correctly-rounded IEEE ops (only matmul/BLAS reductions
reorder), so every double these return is bit-identical to the JVM's.

The module imports numpy only. ``similarity.py`` registers it with
cloudpickle's pickle-by-value, so a kernel closure that calls these
functions ships them to the Python workers by value: workers never
import this package.
"""

from __future__ import annotations

import math

import numpy as np

INT64_MAX = (1 << 63) - 1
INT64_MIN = -(1 << 63)
_TWO63 = 9223372036854775808.0  # 2**63, exact in float64


def stack_rows(col, d: int) -> np.ndarray:
    """(n, d) float64 matrix of the first ``d`` components of each array
    in ``col`` (a pandas Series of arrays). A row shorter than ``d``
    raises, as the JVM's ANSI ``element_at`` does."""
    V = np.vstack([np.asarray(x, dtype=np.float64)[:d] for x in col])
    if V.shape[1] != d:
        raise ValueError(f"vectors have {V.shape[1]} components, fewer than dim={d}")
    return V


def centroid_norms(C) -> np.ndarray:
    """Per-centroid norms computed driver-side as Python's left-to-right
    ``acc += x*x`` and the correctly-rounded ``math.sqrt``: the same
    double the JVM's ``sqrt(_dot_unrolled(c, c))`` gives."""
    out = []
    for cv in C:
        acc = 0.0
        for x in cv:
            acc += float(x) * float(x)
        out.append(math.sqrt(acc))
    return np.asarray(out, dtype=np.float64)


def sq_norms(V: np.ndarray) -> np.ndarray:
    """Row-wise ``sum_i v_i * v_i``, left to right: (n,)."""
    acc = np.zeros(V.shape[0], dtype=np.float64)
    for i in range(V.shape[1]):
        acc += V[:, i] * V[:, i]
    return acc


def dots(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Every row of ``V`` (n, d) against every row of ``C`` (k, d):
    (n, k) dot products, each accumulated left to right over d."""
    acc = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
    for i in range(V.shape[1]):
        acc += V[:, i][:, None] * C[None, :, i]
    return acc


def row_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row ``r`` of ``A`` (n, d) against row ``r`` of ``B`` (n, d), or
    against ``B`` itself when it is one (d,) vector: (n,)."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        acc += A[:, i] * B[..., i]
    return acc


def cos_argmax(V: np.ndarray, C: np.ndarray, nv: np.ndarray, ncv: np.ndarray):
    """(cid int32, cos) of each row's best centroid by cosine
    ``dot / (nv * ncv)``. ``argmax`` returns the FIRST maximum (ties to
    the lowest cid) and stops at the first NaN, which is where Spark's
    NaN-greatest ``ORDER BY cos DESC, cid`` lands as well."""
    S = dots(V, C) / (nv[:, None] * ncv[None, :])
    cid = S.argmax(axis=1)
    return cid.astype(np.int32), S[np.arange(len(cid)), cid]


def l2_argmin(S: np.ndarray, C: np.ndarray) -> np.ndarray:
    """int32 index of each row's nearest row of ``C`` by squared L2,
    ``sum_i (s_i - c_i) * (s_i - c_i)`` left to right. NaN distances
    count as +inf (Spark orders NaN above every number) and ``argmin``
    returns the FIRST minimum (ties to the lowest cid)."""
    D = np.zeros((S.shape[0], C.shape[0]), dtype=np.float64)
    for i in range(S.shape[1]):
        diff = S[:, i][:, None] - C[None, :, i]
        D += diff * diff
    D[np.isnan(D)] = np.inf
    return D.argmin(axis=1).astype(np.int32)


def quantize(V: np.ndarray, scale: float) -> np.ndarray:
    """int64 ``floor(v * scale + 0.5)`` with Spark's ``floor(double)``
    conversion: NaN gives 0, and values beyond the int64 range saturate
    at INT64_MIN / INT64_MAX (the JVM's ``(long)`` cast), where numpy's
    ``astype`` would give INT64_MIN for all three."""
    with np.errstate(over="ignore", invalid="ignore"):
        f = np.floor(V * scale + 0.5)
    f = np.where(np.isnan(f), 0.0, np.maximum(f, -_TWO63))
    top = f >= _TWO63
    q = np.where(top, 0.0, f).astype(np.int64)
    q[top] = INT64_MAX
    return q


def group_sums(keys: np.ndarray, Q: np.ndarray):
    """Exact per-key column sums of the int64 matrix ``Q`` (n, w).

    Returns ``(present keys, row counts, sums)`` with ``sums`` an object
    array of Python ints, so nothing wraps. Each value is split into
    its high and low 32 bits, which numpy sums in int64 without
    overflow for any batch under 2**31 rows."""
    order = np.argsort(keys, kind="stable")
    ks = keys[order]
    starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
    Qs = Q[order]
    hi = np.add.reduceat(Qs >> 32, starts, axis=0).astype(object)
    lo = np.add.reduceat(Qs & 0xFFFFFFFF, starts, axis=0).astype(object)
    counts = np.diff(np.r_[starts, len(ks)])
    return ks[starts], counts, hi * (1 << 32) + lo


def check_int64(sums, what: str) -> None:
    """Raise where Spark's ANSI ``sum(bigint)`` must raise: an exact sum
    outside the int64 range. ``sums`` is a flat iterable of Python ints."""
    for s in sums:
        if not INT64_MIN <= s <= INT64_MAX:
            raise ArithmeticError(
                f"long overflow in {what}: the quantized sum {s} leaves the "
                "int64 range (Spark's ANSI sum raises ARITHMETIC_OVERFLOW)"
            )
