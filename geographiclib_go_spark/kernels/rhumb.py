"""Ellipsoidal rhumb line (loxodrome), vectorized.

The Go reference (pymaxion/geographiclib-go) ports geodesics only;
this kernel extends the engine's navigation surface with the rhumb
problem following the published geographiclib Rhumb formulation: a
rhumb crosses every meridian at the constant azimuth

    azi12 = atan2(dlambda, dpsi)

where psi is the ISOMETRIC latitude psi = asinh(tan(phi)) -
e*atanh(e*sin(phi)), and the arc length is

    s12 = hypot(dpsi, dlambda) * m12 / dpsi

with m12 the MERIDIAN ARC difference.  Everything is evaluated with
stable divided differences, so the east-west limit (dphi -> 0, where
m12/dpsi -> nu(phi)*cos(phi)) needs no branch and costs no digits:

- m12 via the even-sine rectifying series in the third flattening n
  (Krueger coefficients to n^5), differenced exactly with
  sin(2k*phi2) - sin(2k*phi1) = 2*cos(k*(phi1+phi2))*sin(k*dphi);
- dpsi/dphi as Dasinh(tan) * Dtan - Deatanh(sin) * Dsin, each factor
  a closed-form divided difference (the asinh/atanh subtraction
  identities), exact down to dphi == 0.

Series accuracy: truncation ~ a*n^6, i.e. < 1e-9 m for |f| <= 0.01
(WGS84 n = 0.00168); for the |f| = 0.2 conformance ellipsoids the
rhumb surface degrades gracefully (~meters) and tests use matched
tolerances.  The direct problem inverts the rectifying series
(mu -> phi, same order); runs past a pole return NaN.
"""

from __future__ import annotations

import numpy as np

from geographiclib_go_spark.kernels import geomath as gm


class RhumbModel:
    """Precomputed rhumb constants for an ellipsoid (a, f).

    Mirrors GeodesicModel's role; kept separate because the rhumb
    needs the rectifying series, not the geodesic C1..C4 tables.
    """

    def __init__(self, a: float = 6378137.0,
                 f: float = 1 / 298.257223563):
        self.a = float(a)
        self.f = float(f)
        self.e2 = f * (2.0 - f)
        # signed sqrt: es > 0 oblate, es < 0 prolate (drives the
        # atanh-vs-atan analytic continuation of e*atanh(e*x))
        self.es = np.copysign(np.sqrt(abs(self.e2)), self.f) \
            if self.e2 != 0.0 else 0.0
        n = f / (2.0 - f)
        self.n = n
        # A * (phi + sum c2k sin 2k phi) = meridian distance;
        # A * pi/2 = quarter meridian (Krueger, third flattening)
        self.A = a / (1.0 + n) * (1.0 + n ** 2 / 4.0 + n ** 4 / 64.0
                                  + n ** 6 / 256.0)
        self.c_mu = (  # phi -> rectifying mu (sin 2k phi), k = 1..5
            -3.0 / 2.0 * n + 9.0 / 16.0 * n ** 3 - 3.0 / 32.0 * n ** 5,
            15.0 / 16.0 * n ** 2 - 15.0 / 32.0 * n ** 4,
            -35.0 / 48.0 * n ** 3 + 105.0 / 256.0 * n ** 5,
            315.0 / 512.0 * n ** 4,
            -693.0 / 1280.0 * n ** 5,
        )
        self.c_phi = (  # mu -> phi inverse series (sin 2k mu)
            3.0 / 2.0 * n - 27.0 / 32.0 * n ** 3 + 269.0 / 512.0 * n ** 5,
            21.0 / 16.0 * n ** 2 - 55.0 / 32.0 * n ** 4,
            151.0 / 96.0 * n ** 3 - 417.0 / 128.0 * n ** 5,
            1097.0 / 512.0 * n ** 4,
            8011.0 / 2560.0 * n ** 5,
        )


WGS84 = RhumbModel()


def mu_from_phi(r: RhumbModel, phi):
    """Rectifying series argument: meridian_dist(phi) / A."""
    out = np.asarray(phi, dtype=np.float64).copy()
    for k, c in enumerate(r.c_mu, start=1):
        out += c * np.sin(2.0 * k * phi)
    return out


def phi_from_mu(r: RhumbModel, mu):
    """Invert mu_from_phi: the inverse rectifying series seeds two
    Newton steps on the FORWARD series, so direct is the exact
    inverse of the kernel's own meridian function (roundtrip error
    ~1 ulp for any f, not just |f| << 1 where the series pair are
    mutual inverses)."""
    mu = np.asarray(mu, dtype=np.float64)
    phi = mu.copy()
    for k, c in enumerate(r.c_phi, start=1):
        phi = phi + c * np.sin(2.0 * k * mu)
    for _ in range(2):
        dmu_dphi = np.ones_like(phi)
        for k, c in enumerate(r.c_mu, start=1):
            dmu_dphi = dmu_dphi + 2.0 * k * c * np.cos(2.0 * k * phi)
        phi = phi - (mu_from_phi(r, phi) - mu) / dmu_dphi
    return phi


def _sinc(x):
    """sin(x)/x with the x == 0 limit."""
    x = np.asarray(x, dtype=np.float64)
    small = np.abs(x) < 1e-150
    safe = np.where(small, 1.0, x)
    return np.where(small, 1.0, np.sin(safe) / safe)


def _d_mu(r: RhumbModel, sm, dm):
    """(mu2 - mu1)/(phi2 - phi1), exact at dm == 0.
    sm = phi1 + phi2, dm = phi2 - phi1 (radians)."""
    out = np.ones_like(np.asarray(sm, dtype=np.float64))
    for k, c in enumerate(r.c_mu, start=1):
        # sin(2k p2) - sin(2k p1) = 2 cos(k sm) sin(k dm)
        out = out + c * 2.0 * np.cos(k * sm) * k * _sinc(k * dm)
    return out


def _hyp(x):
    return np.hypot(1.0, x)


def _d_asinh(x, y):
    """(asinh(x) - asinh(y)) / (x - y), stable for x ~ y
    (rhumb divided difference: asinh subtraction identity)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    d = x - y
    hx, hy = _hyp(x), _hyp(y)
    same_sign = x * y > 0
    num = np.where(same_sign,
                   np.where(d == 0, 0.0, d) * (x + y)
                   / np.where(x * hy + y * hx == 0, 1.0, x * hy + y * hx),
                   x * hy - y * hx)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.arcsinh(num) / d
    return np.where(d == 0, 1.0 / hx, out)


def _d_eatanhe_sin(r: RhumbModel, s1, s2):
    """(eatanhe(s2) - eatanhe(s1)) / (s2 - s1) over s = sin(phi),
    via the atanh/atan subtraction identities (no cancellation)."""
    s1 = np.asarray(s1, dtype=np.float64)
    s2 = np.asarray(s2, dtype=np.float64)
    ds = s2 - s1
    e2 = r.e2
    if e2 == 0.0:
        return np.zeros_like(ds)
    if e2 > 0:
        t = np.sqrt(e2)
        arg = t * ds / (1.0 - e2 * s1 * s2)
        num = t * np.arctanh(arg)
    else:
        t = np.sqrt(-e2)
        arg = t * ds / (1.0 + (-e2) * s1 * s2)
        num = t * np.arctan(arg)
    deriv = e2 / (1.0 - e2 * s1 * s1)  # d/ds at ds == 0
    with np.errstate(invalid="ignore", divide="ignore"):
        out = num / ds
    return np.where(ds == 0, deriv, out)


def _d_psi(r: RhumbModel, phi1, phi2, sm, dm):
    """(psi2 - psi1)/(phi2 - phi1), exact at dm == 0."""
    t1, t2 = np.tan(phi1), np.tan(phi2)
    c1, c2 = np.cos(phi1), np.cos(phi2)
    # (tan p2 - tan p1)/dm = sinc(dm)/(cos p1 cos p2)
    d_tan = _sinc(dm) / (c1 * c2)
    # (sin p2 - sin p1)/dm = cos(sm/2) * sinc(dm/2)
    d_sin = np.cos(sm / 2.0) * _sinc(dm / 2.0)
    return (_d_asinh(t2, t1) * d_tan
            - _d_eatanhe_sin(r, np.sin(phi1), np.sin(phi2)) * d_sin)


def rhumb_inverse(r: RhumbModel, lat1, lon1, lat2, lon2) -> dict:
    """Rhumb inverse: s12 (m), azi12 (deg), m12 (meridian-arc
    difference, m).  Inputs degrees.  Exact limits at dphi == 0; a
    pole endpoint (|lat| == 90) follows the meridian branch
    (azi12 = 0/180, s12 = |m12|)."""
    lat1 = gm.lat_fix(gm.arr(lat1))
    lat2 = gm.lat_fix(gm.arr(lat2))
    lon1 = gm.arr(lon1)
    lon2 = gm.arr(lon2)
    lat1, lon1, lat2, lon2 = [a.astype(np.float64) for a in
                              np.broadcast_arrays(lat1, lon1, lat2, lon2)]
    phi1 = np.deg2rad(lat1)
    phi2 = np.deg2rad(lat2)
    sm, dm = phi1 + phi2, phi2 - phi1
    dlam = np.deg2rad(gm.ang_diff(lon1, lon2)[0])

    dmu = _d_mu(r, sm, dm)          # (mu2-mu1)/dphi
    dpsi_dphi = _d_psi(r, phi1, phi2, sm, dm)
    dpsi = dpsi_dphi * dm
    m12 = r.A * dmu * dm

    pole = (np.abs(lat1) == 90.0) | (np.abs(lat2) == 90.0)
    with np.errstate(invalid="ignore", divide="ignore"):
        azi12 = np.rad2deg(np.arctan2(dlam, dpsi))
        s12 = np.hypot(dpsi, dlam) * r.A * dmu / dpsi_dphi
    # meridian branch at a pole: dpsi is +/-inf there
    azi12 = np.where(pole, np.where(dm >= 0, 0.0, 180.0), azi12)
    s12 = np.where(pole, np.abs(m12), s12)
    return {"s12": s12, "azi12": azi12, "m12": m12}


def rhumb_direct(r: RhumbModel, lat1, lon1, azi12, s12) -> dict:
    """Rhumb direct: destination after s12 meters at constant course
    azi12.  Runs past a pole (|mu2| > 90 deg) return NaN."""
    lat1 = gm.lat_fix(gm.arr(lat1))
    lon1 = gm.arr(lon1)
    azi12 = gm.arr(azi12)
    s12 = gm.arr(s12)
    lat1, lon1, azi12, s12 = [a.astype(np.float64) for a in
                              np.broadcast_arrays(lat1, lon1, azi12, s12)]
    phi1 = np.deg2rad(lat1)
    salp, calp = gm.sincosd(azi12)

    mu1 = mu_from_phi(r, phi1)
    mu2 = mu1 + s12 * calp / r.A
    ok = np.abs(mu2) <= np.pi / 2.0
    phi2 = phi_from_mu(r, np.where(ok, mu2, 0.0))

    sm, dm = phi1 + phi2, phi2 - phi1
    dmu = _d_mu(r, sm, dm)
    dpsi_dphi = _d_psi(r, phi1, phi2, sm, dm)
    # s12*sin(alpha) = dlam * (A*dmu/dpsi) -- the same mean radius
    # that scales the inverse, so E-W courses need no tan(alpha)
    dlam = s12 * salp * dpsi_dphi / (r.A * dmu)

    lat2 = np.where(ok, np.rad2deg(phi2), np.nan)
    lon2 = np.where(ok, gm.ang_normalize(lon1 + np.rad2deg(dlam)), np.nan)
    return {"lat2": lat2, "lon2": lon2, "azi2": np.where(ok, azi12, np.nan)}
