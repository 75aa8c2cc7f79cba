"""The IEEE-exact numpy chains every Arrow kernel in ``similarity.py`` runs.

Each chain accumulates over DIMENSIONS left to right — one vectorized
multiply-add per dimension — which is the float order of the JVM's
unrolled chain (``_dot_unrolled``) and of the DuckDB twins'
``list_sum(list_transform(...))``. Elementwise numpy ``*``/``+``/``/``
are single correctly-rounded IEEE ops, so every double these return is
bit-identical to the twin's. The two argmax/argmin kernels score with
one BLAS product first, whose summation order differs, and keep its
answer only on rows where a proven error bound shows it cannot differ
from the chain's (filter and refine, see ``cos_argmax``/``l2_argmin``).

Edge contract. Every kernel built on these chains (the Lloyd rounds,
the encode, the list assignment, the SRP codes, the IVF query probes)
ranks as the twins' ``ORDER BY score, cid`` does:

- A short row raises. ``stack_rows`` refuses a vector with fewer than
  ``dim`` components, as ANSI ``element_at`` does.
- NaN is the greatest value, as in Spark and DuckDB. A NaN cosine wins
  the argmax and comes first under ``cos DESC``; a NaN squared-L2
  distance loses the argmin. ``l2_argmin`` counts it as +inf, so on a
  row whose every distance is +inf or NaN it picks the lowest such cid
  where the twin would prefer a +inf one (reachable only with infinite
  components).
- Ties go to the lowest cid: ``argmax``/``argmin`` return the first
  best index, which is ``ORDER BY ..., cid ASC``.
- An empty batch yields no rows.

These rules are pinned against the twins in
``tests/test_vector_exact_kernels.py``.

The module imports numpy only (``arrow_rows`` imports pyarrow when
called). ``similarity.py`` registers it with
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


def arrow_rows(col, d: int) -> np.ndarray:
    """``stack_rows`` for a pyarrow list array: a uniform non-null column
    reshapes its flat values without a Python object per component. A
    NULL component is NaN either way."""
    import pyarrow.compute as pc

    if len(col) == 0:
        return np.zeros((0, d))
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if col.null_count == 0 and (lens == lens[0]).all() and lens[0] >= d:
        flat = col.flatten().to_numpy(zero_copy_only=False)
        return np.ascontiguousarray(flat.reshape(len(col), lens[0])[:, :d])
    return stack_rows(col.to_pylist(), d)


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


def unit_rows(V: np.ndarray):
    """``(nv, VN)``: each row's norm ``sqrt(sq_norms)`` and the row divided
    by it, a zero norm dividing by 1 — one correctly rounded division per
    component, the JVM's ``_normalized``."""
    nv = np.sqrt(sq_norms(V))
    return nv, V / np.where(nv == 0, 1.0, nv)[:, None]


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


_U = 2.0**-53  # unit roundoff of float64
# certified rows keep every norm in [_LO, _HI]: far from underflow and
# overflow, so the absolute error terms below stay under u times the
# scale and no intermediate leaves the finite range
_LO, _HI = 2.0**-300, 2.0**300


def _gamma(n: int) -> float:
    """Higham's gamma_n = n*u / (1 - n*u)."""
    return n * _U / (1.0 - n * _U)


def _top2(X: np.ndarray, best_is_max: bool):
    """(index of each row's first best, best value, runner-up value).
    Overwrites the best entry of ``X``."""
    idx = X.argmax(axis=1) if best_is_max else X.argmin(axis=1)
    rows = np.arange(X.shape[0])
    best = X[rows, idx]
    X[rows, idx] = -np.inf if best_is_max else np.inf
    second = X.max(axis=1) if best_is_max else X.min(axis=1)
    return idx, best, second


def _cos_argmax_chain(V, C, nv, ncv) -> np.ndarray:
    S = dots(V, C) / (nv[:, None] * ncv[None, :])
    return S.argmax(axis=1)


def cos_argmax(V: np.ndarray, C: np.ndarray, nv: np.ndarray, ncv: np.ndarray):
    """(cid int32, cos) of each row's best centroid by the chain's cosine
    ``dots(V, C) / (nv * ncv)``. ``argmax`` returns the FIRST maximum
    (ties to the lowest cid) and stops at the first NaN, which is where
    Spark's NaN-greatest ``ORDER BY cos DESC, cid`` lands as well.

    Filter and refine. A row is scored with one BLAS product,
    ``S^ = (V @ C.T) / nv / ncv``, and keeps the argmax of ``S^`` when
    its norm and every centroid norm lie in [2**-300, 2**300] and its
    best two scores differ by more than ``tol = 5 * gamma_{d+5}``. Every
    other row (NaN, inf, zero norm, huge scale, near tie) reruns the
    chain. ``cos`` is always the chain's double, recomputed for the
    winner with ``row_dots``, so results are bit-identical to the chain.

    Proof that a kept row has the chain's argmax. Let u = 2**-53,
    gamma_n = n*u/(1 - n*u) (Higham, Accuracy and Stability of Numerical
    Algorithms, §3.1), v a row and c a centroid over their first d
    components, a = ||v||, b = ||c|| exactly, nv and nc the norms passed
    in, and T = (v.c) / (nv*nc) in exact arithmetic.

    1. Any evaluation of v.c as d rounded products (or fused
       multiply-adds) and rounded sums, in any order, returns P with
       |P - v.c| <= gamma_d * sum|v_i c_i| + d * 2**-1074. The first term
       is Higham (3.5), for the chain's order and for any BLAS blocking
       alike. The second covers underflow: a product or fma that
       underflows errs by at most 2**-1075, a sum that underflows is
       exact, and the later (1 + delta) factors at most double it.
    2. The row norm is nv = fl(sqrt(s)) with s = fl(sum v_i^2), so
       a^2 <= (s + d*2**-1074) / (1 - gamma_d) and s <= (nv/(1-u))^2. As
       nv >= 2**-300, d*2**-1074 <= u*nv^2, so a <= nv*(1 + gamma_{d+3});
       likewise b <= nc*(1 + gamma_{d+3}). By Cauchy-Schwarz,
       sum|v_i c_i| <= a*b <= rho * nv*nc with rho = (1+gamma_{d+3})^2,
       and |T| <= rho. For any d below 10**13, rho <= 1.01.
    3. The chain's score fl(D / fl(nv*nc)) and the estimate
       fl(fl(P / nv) / nc) both divide a dot product by nv*nc with two
       roundings: (x / (nv*nc)) * (1 + theta_2), |theta_2| <= gamma_2,
       plus an absolute error below 2**-770 if a quotient underflows
       (2**-1075, divided by nc >= 2**-300 when it is the first of two;
       nv*nc >= 2**-600 itself does not underflow). With 1., 2. and
       d*2**-1074 <= u*nv*nc, each lies within (gamma_d*rho + u)(1 +
       gamma_2) + gamma_2*rho + 2**-770 <= rho*gamma_{d+5} + 2**-770 of
       T (Higham Lemma 3.3: gamma_j + gamma_k + gamma_j*gamma_k <=
       gamma_{j+k}). Hence every estimate is within E = 2*rho*gamma_{d+5}
       + 2**-769 <= 2.03*gamma_{d+5} of the chain's score for the same
       centroid.
    4. If best - second > 2E, the chain scores the estimate's winner
       strictly above every other centroid: it is the chain's unique
       maximum, and the chain has no NaN on that row (all values are
       finite, see 5). The test computes fl(best - second), which is at
       most (best - second)*(1 + u), against tol = 5*gamma_{d+5} >=
       2E*(1 + u) with room for the rounding of tol itself.
    5. Overflow: with norms at most 2**300, every product, partial sum
       and score is below 2**601 in magnitude, so nothing overflows; a
       NaN or inf component makes nv NaN or inf and fails the range
       test, as does a zero vector. The BLAS product must be a
       conventional one (each output a rounded sum of rounded products,
       as in OpenBLAS/MKL dgemm), which is what 1. assumes."""
    n, k = V.shape[0], C.shape[0]
    cid = np.zeros(n, dtype=np.intp)
    if k > 1 and n:
        if np.all((ncv >= _LO) & (ncv <= _HI)):
            with np.errstate(all="ignore"):
                S = V @ C.T
                S /= nv[:, None]
                S /= ncv[None, :]
                idx, best, second = _top2(S, best_is_max=True)
                ok = (nv >= _LO) & (nv <= _HI) & (best - second > 5 * _gamma(V.shape[1] + 5))
            cid[ok] = idx[ok]
            bad = ~ok
        else:
            bad = np.ones(n, dtype=bool)
        if bad.any():
            cid[bad] = _cos_argmax_chain(V[bad], C, nv[bad], ncv)
    return cid.astype(np.int32), row_dots(V, C[cid]) / (nv * ncv[cid])


def _l2_argmin_chain(S, C) -> np.ndarray:
    D = np.zeros((S.shape[0], C.shape[0]), dtype=np.float64)
    for i in range(S.shape[1]):
        diff = S[:, i][:, None] - C[None, :, i]
        D += diff * diff
    D[np.isnan(D)] = np.inf
    return D.argmin(axis=1)


def l2_argmin(S: np.ndarray, C: np.ndarray) -> np.ndarray:
    """int32 index of each row's nearest row of ``C`` by the chain's
    squared L2, ``sum_i (s_i - c_i) * (s_i - c_i)`` left to right. NaN
    distances count as +inf (Spark orders NaN above every number) and
    ``argmin`` returns the FIRST minimum (ties to the lowest cid).

    Filter and refine, as in ``cos_argmax``. A row is scored with one
    BLAS product, ``Q^_j = |c_j|^2 - 2 * s.c_j`` (``|c_j|^2`` by
    ``sq_norms``; the row's own ``|s|^2`` shifts every centroid equally),
    and keeps the argmin of ``Q^`` when ``R = (sqrt(|s|^2) +
    max_j |c_j|)^2`` lies in [2**-600, 2**600] and its best two scores
    differ by more than ``tol = 5 * gamma_{d+2} * R``. Every other row
    reruns the chain.

    Proof that a kept row has the chain's argmin (notation of
    ``cos_argmax``; a = ||s||, b_j = ||c_j||, B = max_j b_j exactly).

    1. Chain: each term is fl(fl(s_i - c_i)^2) (a subtraction that
       underflows is exact, a square errs by at most 2**-1075 more) and
       the d non-negative terms are summed left to right, so
       |D_j - ||s - c_j||^2| <= gamma_{d+2}*(a + B)^2 + d*2**-1074.
    2. Estimate: |N_j - b_j^2| <= gamma_d*b_j^2 + d*2**-1074 for the
       chain norm N_j, |P_j - s.c_j| <= gamma_d*a*b_j + d*2**-1074 for
       the BLAS dot in any order, 2*P_j is exact, and the final
       subtraction rounds once, by at most u*|N_j - 2P_j| <=
       u*(1 + gamma_d)*(a + B)^2 + 3u*d*2**-1074. So with X_j =
       b_j^2 - 2 s.c_j = ||s - c_j||^2 - a^2,
       |Q^_j - X_j| <= gamma_{d+1}*(a + B)^2 + 4d*2**-1074.
    3. Together, |Q^_j - (D_j - a^2)| <= E = 2*gamma_{d+2}*(a + B)^2 +
       5d*2**-1074 for every j. The chain's D_j - a^2 orders the
       centroids as D_j does, so if second - best > 2E, the estimate's
       winner is the chain's unique minimum.
    4. R bounds (a + B)^2: a^2 <= (fl(|s|^2) + d*2**-1074)/(1 - gamma_d),
       likewise B^2, and R >= 2**-600 makes the d*2**-1074 terms and the
       six roundings of R cost at most a factor 1 + gamma_{d+6}, and
       5d*2**-1074 <= u*R. So 2E*(1 + u) <= 4.7*gamma_{d+2}*R for any
       d >= 1, below tol after tol's own rounding.
    5. R <= 2**600 keeps every |s_i|, |c_i| below 2**300 and every
       product and partial sum below 2**602, so nothing overflows; NaN or inf anywhere in the row
       or in ``C`` makes R NaN or inf and fails the range test."""
    n, k = S.shape[0], C.shape[0]
    cid = np.zeros(n, dtype=np.intp)
    if k > 1 and n:
        c2 = sq_norms(C)
        with np.errstate(all="ignore"):
            Q = S @ C.T
            Q *= -2.0
            Q += c2[None, :]
            idx, best, second = _top2(Q, best_is_max=False)
            R = (np.sqrt(sq_norms(S)) + np.sqrt(c2.max())) ** 2
            ok = (R >= _LO * _LO) & (R <= _HI * _HI)
            ok &= second - best > 5 * _gamma(S.shape[1] + 2) * R
        cid[ok] = idx[ok]
        bad = ~ok
        if bad.any():
            cid[bad] = _l2_argmin_chain(S[bad], C)
    return cid.astype(np.int32)


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
