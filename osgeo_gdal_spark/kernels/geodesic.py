"""Ellipsoidal (WGS84) geodesic polygon area and line length.

The reference reaches geodesic measures through PROJ's geodesic
(Karney, "Algorithms for geodesics", J. Geod. 87, 2013 — the
GeographicLib algorithm; ``ogr/ogrsqlitesqlfunctions.cpp`` exposes
them as ST_GeodesicArea / ST_GeodesicLength). Neither PROJ nor
GeographicLib is in this container, so this module implements the
same mathematics from first principles WITHOUT the paper's series
expansions — every relation below is exact and the two integrals are
evaluated by fixed-order Gauss-Legendre quadrature (the integrands
are smooth with k^2 ~ e'^2 ~ 0.007 perturbations, so GL-20 is
converged to machine precision):

Auxiliary-sphere relations (exact, derived from Clairaut's constant
``cos(beta) sin(alpha) = sin(alpha0)`` on the reduced latitude
``tan(beta) = (1-f) tan(phi)``):

- position on the great circle: sin(beta) = cos(alpha0) sin(sigma),
  sigma1 = atan2(sin(beta1), cos(beta1) cos(alpha1));
- arc length:  ds/dsigma = b sqrt(1 + k^2 sin^2 sigma),
  k^2 = e'^2 cos^2(alpha0);
- longitude:  dlambda/dsigma =
  (1-f) sin(alpha0) sqrt(1 + e'^2 cos^2(alpha0) sin^2 sigma)
  / (1 - cos^2(alpha0) sin^2 sigma).

Area by Green's theorem on the ellipsoid: with
q(phi) = (1-e^2) [ sin(phi)/(1 - e^2 sin^2 phi) + atanh(e sin phi)/e ]
(the authalic q-function), dA = (a^2/2) q'(phi) dphi dlambda exactly,
so the area enclosed by a closed curve is (a^2/2) * contour-integral
of q(phi) dlambda — evaluated along each geodesic edge in the sigma
parameter. The inverse problem is solved in the AXIS-azimuth
parameterization alpha0 (well-conditioned even when an endpoint sits
at the geodesic's vertex latitude): the latitude-crossing sigma
candidates are explicit per branch, each symbolically-keyed branch is
scanned and bisected on lambda12(alpha0), and the shortest-s12 root
wins.

Scope: shortest-path edges (sigma12 < pi), non-polar rings.
Meridional edges contribute zero area (dlambda = 0) and their length
is the exact meridian arc integral.
"""

from __future__ import annotations

import math

import numpy as np

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B = WGS84_A * (1.0 - WGS84_F)
_E2 = WGS84_F * (2.0 - WGS84_F)
_EP2 = _E2 / (1.0 - _E2)
_E = math.sqrt(_E2)

# 20-point Gauss-Legendre nodes/weights on [-1, 1]
_GLX, _GLW = np.polynomial.legendre.leggauss(20)


def ellipsoid_area() -> float:
    """Closed-form WGS84 surface area (the analytic anchor):
    2*pi*a^2 * (1 + (1-e^2)/e * atanh(e)).

    Test-only: the closed form the geodesic-area tests check the
    quadrature against."""
    return 2.0 * math.pi * WGS84_A ** 2 * (
        1.0 + (1.0 - _E2) / _E * math.atanh(_E))


def _q(sinphi):
    """Authalic q-function (exact): q'(phi) matches the ellipsoidal
    area element, q(pi/2) integrates to the closed-form total."""
    return (1.0 - _E2) * (
        sinphi / (1.0 - _E2 * sinphi * sinphi)
        + np.arctanh(_E * sinphi) / _E)


def _beta(phi):
    return math.atan2((1.0 - WGS84_F) * math.sin(phi), math.cos(phi))


def _gl(f, lo, hi):
    """Fixed GL-20 quadrature of a vectorized integrand."""
    mid, half = 0.5 * (hi + lo), 0.5 * (hi - lo)
    return half * float(np.dot(_GLW, f(mid + half * _GLX)))


def _edge_integrals(alpha0, sig1, sig2):
    """(lambda12, s12, S12_area_term) along the great-circle arc
    sigma in [sig1, sig2] for axis azimuth alpha0 (all exact
    integrands, GL-20)."""
    sa0, ca0 = math.sin(alpha0), math.cos(alpha0)
    k2 = _EP2 * ca0 * ca0

    def dlam(sig):
        s2 = np.sin(sig) ** 2
        return (1.0 - WGS84_F) * sa0 * np.sqrt(1.0 + k2 * s2) \
            / (1.0 - ca0 * ca0 * s2)

    def ds(sig):
        return WGS84_B * np.sqrt(1.0 + k2 * np.sin(sig) ** 2)

    def darea(sig):
        # sin(phi) = sin(beta) / ((1-f) sqrt(1 + e'^2 sin^2 beta))
        sinbeta = ca0 * np.sin(sig)
        sinphi = np.clip(
            sinbeta / ((1.0 - WGS84_F) * np.sqrt(
                1.0 + _EP2 * sinbeta * sinbeta)), -1.0, 1.0)
        return _q(sinphi) * dlam(sig)

    lam = _gl(dlam, sig1, sig2)
    s12 = _gl(ds, sig1, sig2)
    area = 0.5 * WGS84_A ** 2 * _gl(darea, sig1, sig2)
    return lam, s12, area


def _solve_edge(phi1, lam1, phi2, lam2):
    """Inverse geodesic for one edge -> (area_term, s12).

    area_term is the Green-integral contribution
    (a^2/2) * integral of q(phi) dlambda along the edge (signed with
    the direction of travel)."""
    lam12 = math.remainder(lam2 - lam1, 2.0 * math.pi)
    beta1, beta2 = _beta(phi1), _beta(phi2)
    if abs(phi1) >= math.pi / 2 - 1e-12 or \
            abs(phi2) >= math.pi / 2 - 1e-12:
        # pole-incident edge: the geodesic is the meridian, plus a
        # zero-length lambda-slide AT the pole where the contour
        # picks up q(+-pi/2) * dlambda — exactly the polar-cap term
        # (this is how the octant closes to total/8)
        pole = phi1 if abs(phi1) >= math.pi / 2 - 1e-12 else phi2
        qp = float(_q(np.array([math.copysign(1.0, pole)]))[0])
        area = 0.5 * WGS84_A ** 2 * qp * lam12

        def dsm(phi):
            w2 = 1.0 - _E2 * np.sin(phi) ** 2
            return WGS84_A * (1.0 - _E2) / w2 ** 1.5
        s12 = abs(_gl(dsm, min(phi1, phi2), max(phi1, phi2)))
        return area, s12
    if abs(lam12) < 1e-15:
        # meridional edge: dlambda = 0 -> zero area; exact meridian arc
        def ds(phi):
            w2 = 1.0 - _E2 * np.sin(phi) ** 2
            return WGS84_A * (1.0 - _E2) / w2 ** 1.5
        return 0.0, abs(_gl(ds, min(phi1, phi2), max(phi1, phi2)))
    # westward edges solve the EAST-mirrored problem (negated
    # longitudes preserve latitudes and geodesy); the signed area
    # contribution negates back at return
    flip = lam12 < 0.0
    if flip:
        lam12 = -lam12
    if abs(beta1) < 1e-12 and abs(beta2) < 1e-12:
        # equatorial edge: the geodesic IS the equator (q(0) = 0 so
        # the area term vanishes; length = a * lam12 exactly)
        return 0.0, WGS84_A * lam12
    # Solve parameterized by the AXIS azimuth alpha0 in (0, amax],
    # amax = acos(max |sin beta|): the azimuth-at-P1 parameterization
    # is ill-conditioned when an endpoint sits near the geodesic's
    # vertex latitude (the asin clamps and secant steps explode — the
    # same-latitude-edge pathology). In alpha0 the crossing latitudes
    # are explicit: sigma candidates are asin(sin beta / cos alpha0)
    # and its supplements; each (sigma1, sigma2) branch pair with
    # 0 < sigma12 < pi is a smooth configuration of lambda12(alpha0),
    # scanned coarsely and bisected per bracket; ALL roots are
    # collected and the shortest s12 wins.
    sb1 = math.sin(beta1)
    sb2 = math.sin(beta2)
    amax = math.acos(min(1.0, max(abs(sb1), abs(sb2))))
    if amax <= 0.0:
        amax = 1e-12

    def branches(alpha0):
        """Symbolically-keyed (sigma1, sigma2) configurations: the key
        names the asin-branch choices and period shift, so the same
        configuration tracks continuously across the alpha0 scan."""
        ca0 = math.cos(alpha0)
        t1 = min(1.0, max(-1.0, sb1 / ca0))
        t2 = min(1.0, max(-1.0, sb2 / ca0))
        b1, b2 = math.asin(t1), math.asin(t2)
        out = {}
        for i1, sig1 in ((0, b1), (1, math.pi - b1)):
            for k in (-1, 0, 1):
                for i2, sig2 in ((0, b2 + 2 * math.pi * k),
                                 (1, math.pi - b2 + 2 * math.pi * k)):
                    d = sig2 - sig1
                    if 1e-15 < d < math.pi - 1e-15:
                        out[(i1, i2, k)] = (sig1, sig2)
        return out

    n_scan = 48
    roots = []
    prev = {}
    for i in range(n_scan + 2):
        # the final sample sits just INSIDE amax: branches degenerate
        # (sigma12 -> 0) exactly at the vertex-at-endpoint limit, and
        # same-latitude edges root there
        a0 = amax * min(1.0 - 1e-12, (i + 0.5) / (n_scan + 1))
        cur = {}
        for key, (sig1, sig2) in branches(a0).items():
            lam, s12, area = _edge_integrals(a0, sig1, sig2)
            cur[key] = (lam - lam12, a0)
        for key, (g, a0v) in cur.items():
            if key in prev:
                gp, ap = prev[key]
                if gp == 0.0 or (gp < 0) != (g < 0):
                    lo, hi, glo = ap, a0v, gp
                    for _ in range(80):
                        mid = 0.5 * (lo + hi)
                        bs = branches(mid)
                        if key not in bs:
                            break
                        lm, s12m, arm = _edge_integrals(mid, *bs[key])
                        gm = lm - lam12
                        if gm == 0.0 or hi - lo < 1e-16:
                            break
                        if (gm < 0) == (glo < 0):
                            lo, glo = mid, gm
                        else:
                            hi = mid
                    mid = 0.5 * (lo + hi)
                    bs = branches(mid)
                    if key in bs:
                        lm, s12m, arm = _edge_integrals(mid, *bs[key])
                        if abs(lm - lam12) < 1e-9:
                            roots.append((s12m, arm))
        prev = cur
    if not roots:
        raise ValueError(
            f"geodesic inverse failed for edge "
            f"({math.degrees(phi1):.6f},{math.degrees(lam1):.6f}) -> "
            f"({math.degrees(phi2):.6f},{math.degrees(lam2):.6f})")
    s12, area = min(roots)
    return (-area if flip else area), s12


def polygon_area(lons, lats) -> float:
    """Signed ellipsoidal area (m^2) of a geodesic-edged ring given
    vertex lon/lat DEGREES (CCW positive; callers sum shells and
    CW holes). The ring must not enclose a pole."""
    lons = np.radians(np.asarray(lons, dtype=np.float64))
    lats = np.radians(np.asarray(lats, dtype=np.float64))
    n = len(lons)
    if n and lons[0] == lons[-1] and lats[0] == lats[-1]:
        n -= 1
    total = 0.0
    for i in range(n):
        j = (i + 1) % n
        area, _s = _solve_edge(lats[i], lons[i], lats[j], lons[j])
        total += area
    # Green in the (lambda, phi) plane: contour-integral of L dlambda
    # equals MINUS the enclosed double integral of dL/dphi for CCW
    return -total


def line_length(lons, lats) -> float:
    """Geodesic length (m) of a lon/lat-DEGREES polyline."""
    lons = np.radians(np.asarray(lons, dtype=np.float64))
    lats = np.radians(np.asarray(lats, dtype=np.float64))
    total = 0.0
    for i in range(len(lons) - 1):
        _a, s12 = _solve_edge(lats[i], lons[i], lats[i + 1], lons[i + 1])
        total += s12
    return total
