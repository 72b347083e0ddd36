"""GCP-based georeferencing transformers: polynomial, RPC, TPS.

The reference tier this re-expresses:
- ``/root/reference/alg/gdal_crs.cpp`` — least-squares polynomial fit
  from ground control points (order 1: affine, 6 coeffs; order 2:
  quadratic, 12 coeffs; order 3 avoided as unstable, :206).
- ``/root/reference/alg/gdal_rpc.cpp:196-219`` — the RPC00B 20-term
  cubic rational basis with offset/scale normalization and the
  ``num/den * SCALE + OFF + 0.5`` pixel convention (:460-467).
- ``/root/reference/alg/thinplatespline.cpp`` — TPS: affine part +
  radial r^2 ln(r^2) kernel per control point.

Split of labor (the 100 TB shape): the FIT runs driver-side over the
control points (GCP sets are tiny by definition — tens of points); the
APPLY is generated as native SQL (functions/sqlgen.py) so the billion-
row side stays JVM-native with the oracle sharing the identical
expression text. The fit here uses explicit Gaussian elimination with
partial pivoting (deterministic operation order — no LAPACK variance),
and pytest pins that fitting points sampled from an exact polynomial
recovers it.
"""

from __future__ import annotations

import numpy as np


def _solve_gauss(A, b):
    """Gaussian elimination with partial pivoting, fixed op order."""
    A = [row[:] for row in A]
    b = list(b)
    n = len(b)
    for col in range(n):
        piv = max(range(col, n), key=lambda r: abs(A[r][col]))
        if A[piv][col] == 0.0:
            raise ValueError("singular normal equations (degenerate GCPs)")
        A[col], A[piv] = A[piv], A[col]
        b[col], b[piv] = b[piv], b[col]
        for r in range(col + 1, n):
            f = A[r][col] / A[col][col]
            for c in range(col, n):
                A[r][c] -= f * A[col][c]
            b[r] -= f * b[col]
    x = [0.0] * n
    for r in range(n - 1, -1, -1):
        s = b[r]
        for c in range(r + 1, n):
            s -= A[r][c] * x[c]
        x[r] = s / A[r][r]
    return x


def poly_basis(x, y, order: int):
    """gdal_crs term order: [1, x, y] (order 1) + [x*y, x*x, y*y]
    (order 2)."""
    t = [1.0, float(x), float(y)]
    if order >= 2:
        t += [float(x) * float(y), float(x) * float(x),
              float(y) * float(y)]
    return t


def fit_gcp_polynomial(gcps, order: int = 1):
    """Least-squares polynomial fit from [(x, y, u, v), ...] GCPs
    (pixel -> geo or geo -> pixel, caller's choice of direction).
    Returns (coeffs_u, coeffs_v). Order 1 needs >= 3 GCPs, order 2
    >= 6 (gdal_crs.cpp:342)."""
    need = 3 if order == 1 else 6
    if len(gcps) < need:
        raise ValueError(f"order {order} needs >= {need} GCPs")
    T = [poly_basis(x, y, order) for x, y, _u, _v in gcps]
    n = len(T[0])
    A = [[sum(Ti[i] * Ti[j] for Ti in T) for j in range(n)]
         for i in range(n)]
    bu = [sum(Ti[i] * g[2] for Ti, g in zip(T, gcps)) for i in range(n)]
    bv = [sum(Ti[i] * g[3] for Ti, g in zip(T, gcps)) for i in range(n)]
    return _solve_gauss(A, bu), _solve_gauss(A, bv)


# --- RPC (RPC00B 20-term cubic rational, gdal_rpc.cpp:196-219) ----------

RPC_TERMS = [
    "1", "L", "P", "H", "L*P", "L*H", "P*H", "L*L", "P*P", "H*H",
    "L*P*H", "L*L*L", "L*P*P", "L*H*H", "L*L*P", "P*P*P", "P*H*H",
    "L*L*H", "P*P*H", "H*H*H",
]


def rpc_eval(coef, L, P, H):
    """Reference term order (padfTerms[0..19]); plain left-to-right
    sum — the same order the sqlgen fragment emits."""
    t = [1.0, L, P, H, L * P, L * H, P * H, L * L, P * P, H * H,
         L * P * H, L * L * L, L * P * P, L * H * H, L * L * P,
         P * P * P, P * H * H, L * L * H, P * P * H, H * H * H]
    s = 0.0
    for c, v in zip(coef, t):
        s = s + c * v
    return s


# --- TPS (thinplatespline.cpp) ------------------------------------------


def fit_tps(controls):
    """Thin-plate spline fit from [(x, y, u, v), ...] controls:
    f(p) = a0 + a1 x + a2 y + sum_i w_i * U(|p - c_i|) with
    U(r) = r^2 ln(r^2) (the reference's kernel, thinplatespline.cpp).
    Returns (params_u, params_v) where params = [a0, a1, a2,
    w_0..w_{n-1}]. Solved with the deterministic Gaussian kernel."""
    n = len(controls)
    xs = [float(c[0]) for c in controls]
    ys = [float(c[1]) for c in controls]

    def U(r2):
        return 0.0 if r2 == 0.0 else r2 * np.log(r2)

    m = n + 3
    A = [[0.0] * m for _ in range(m)]
    for i in range(n):
        A[i][0] = 1.0
        A[i][1] = xs[i]
        A[i][2] = ys[i]
        for j in range(n):
            r2 = (xs[i] - xs[j]) ** 2 + (ys[i] - ys[j]) ** 2
            A[i][3 + j] = U(r2)
    for j in range(n):
        A[n][3 + j] = 1.0
        A[n + 1][3 + j] = xs[j]
        A[n + 2][3 + j] = ys[j]
    bu = [float(c[2]) for c in controls] + [0.0, 0.0, 0.0]
    bv = [float(c[3]) for c in controls] + [0.0, 0.0, 0.0]
    pu = _solve_gauss(A, bu)
    pv = _solve_gauss(A, bv)
    # reorder to [a0, a1, a2, w...] (they already are: rows 0..n-1 are
    # interpolation eqs; unknown vector is [a0, a1, a2, w...])
    return pu, pv


def tps_apply(params, controls, x, y):
    """Evaluate a fitted TPS at (x, y) — left-to-right sum order
    matching the sqlgen fragment.

    Test-only: the evaluator in the ``fit_tps`` test (queries use the
    sqlgen fragment)."""
    a0, a1, a2 = params[0], params[1], params[2]
    s = a0 + a1 * x + a2 * y
    for (cx, cy, _u, _v), w in zip(controls, params[3:]):
        r2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
        if r2 > 0.0:
            s = s + w * (r2 * np.log(r2))
    return s


def rpc_inverse(rpc: dict, samp, line, h, iters: int = 10):
    """Image->ground RPC inversion (``alg/gdal_rpc.cpp``
    RPCInverseTransformPoint): Newton iteration on the normalized 2x2
    system  num/den(L, P, H) = target, with a central-difference
    Jacobian — fully vectorized over numpy arrays (the Arrow-batch
    shape: a billion-row image-to-ground job is one map-only kernel,
    heights joining as a column — the DEM-intersected variant is the
    same kernel with h coming from a raster join).

    samp/line follow the reference's ``num/den * SCALE + OFF + 0.5``
    pixel convention (gdal_rpc.cpp:460-467). Returns (lon, lat) arrays.
    Converges quadratically (|forward(inverse(p)) - p| < 1e-9 px in
    4-6 iterations for RPC00B-conditioned coefficients — pytest-pinned).
    """
    samp = np.asarray(samp, dtype=np.float64)
    line = np.asarray(line, dtype=np.float64)
    h = np.asarray(h, dtype=np.float64)

    ts = (samp - 0.5 - rpc["SAMP_OFF"]) / rpc["SAMP_SCALE"]
    tl = (line - 0.5 - rpc["LINE_OFF"]) / rpc["LINE_SCALE"]
    Hn = (h - rpc["HEIGHT_OFF"]) / rpc["HEIGHT_SCALE"]

    def fwd(L, P):
        s = rpc_eval(rpc["SAMP_NUM"], L, P, Hn) / \
            rpc_eval(rpc["SAMP_DEN"], L, P, Hn)
        ln = rpc_eval(rpc["LINE_NUM"], L, P, Hn) / \
            rpc_eval(rpc["LINE_DEN"], L, P, Hn)
        return s, ln

    # initial guess: the RPC00B normalization makes num ~ identity in
    # (L, P), so the normalized targets are already a good start
    L = ts.copy()
    P = tl.copy()
    eps = 1e-6
    for _ in range(int(iters)):
        fs, fl = fwd(L, P)
        rs, rl = fs - ts, fl - tl
        # central-difference Jacobian
        fsL1, flL1 = fwd(L + eps, P)
        fsL0, flL0 = fwd(L - eps, P)
        fsP1, flP1 = fwd(L, P + eps)
        fsP0, flP0 = fwd(L, P - eps)
        a = (fsL1 - fsL0) / (2 * eps)   # d fs / dL
        b = (fsP1 - fsP0) / (2 * eps)   # d fs / dP
        c = (flL1 - flL0) / (2 * eps)
        d = (flP1 - flP0) / (2 * eps)
        det = a * d - b * c
        L = L - (d * rs - b * rl) / det
        P = P - (-c * rs + a * rl) / det
    # loud-failure discipline (viewshed/shortest-paths precedent): a
    # (near-)singular Jacobian or zero denominator polynomial would
    # otherwise emit silent NaN/inf coordinates
    bad = ~(np.isfinite(L) & np.isfinite(P))
    if bad.any():
        idx = np.nonzero(bad)[0][:8]
        raise ValueError(
            f"rpc_inverse: Newton diverged (singular Jacobian or zero "
            f"denominator) at {int(bad.sum())} point(s), first indices "
            f"{idx.tolist()}"
        )
    return (L * rpc["LONG_SCALE"] + rpc["LONG_OFF"],
            P * rpc["LAT_SCALE"] + rpc["LAT_OFF"])
