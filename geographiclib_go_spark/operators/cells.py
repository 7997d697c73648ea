"""From-scratch S2-style cube-face quadtree cell index (pure numpy).

Engine-added operator (north rule): hierarchical, equal-ish-area cell
codes used as (a) spatial equi-join keys, (b) partitioning keys for
shuffle control, (c) kNN ring-expansion frontiers, and (d) tile ids.

Design (public-knowledge construction, after the S2 geometry library's
cube-face + quadratic-ST scheme, reimplemented from scratch):

  lat/lon -> unit vector -> cube face (dominant axis, 6 faces)
          -> (u, v) in [-1, 1]  (gnomonic per-face projection)
          -> (s, t) in [0, 1]   (quadratic reprojection: evens out the
                                 ~5.2x area distortion of raw cube
                                 projection to ~2.1x)
          -> (i, j) integer grid at resolution R (2^R x 2^R per face)
          -> cell_id int64 = face(3 bits) << 2R | morton(i, j)

A cell id is meaningful only together with its resolution; parent =
cell_id >> 2.  Cross-face neighbor steps use an adjacency table built
programmatically at import time (exact: position along a shared edge
is preserved by construction of the per-face frames), so ring
expansion is exact everywhere including face edges and corners.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 30

# face frames: normal, e1 (u axis), e2 (v axis)
_FACE_N = np.array([[1, 0, 0], [-1, 0, 0], [0, 1, 0],
                    [0, -1, 0], [0, 0, 1], [0, 0, -1]], dtype=np.float64)
_FACE_E1 = np.array([[0, 1, 0], [0, 1, 0], [1, 0, 0],
                     [1, 0, 0], [1, 0, 0], [1, 0, 0]], dtype=np.float64)
_FACE_E2 = np.array([[0, 0, 1], [0, 0, 1], [0, 0, 1],
                     [0, 0, 1], [0, 1, 0], [0, 1, 0]], dtype=np.float64)


def latlon_to_xyz(lat, lon):
    latr = np.deg2rad(np.asarray(lat, dtype=np.float64))
    lonr = np.deg2rad(np.asarray(lon, dtype=np.float64))
    cl = np.cos(latr)
    return cl * np.cos(lonr), cl * np.sin(lonr), np.sin(latr)


def xyz_to_latlon(x, y, z):
    hyp = np.hypot(x, y)
    return np.degrees(np.arctan2(z, hyp)), np.degrees(np.arctan2(y, x))


def _face_of(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    f = np.where(ax >= ay,
                 np.where(ax >= az,
                          np.where(x >= 0, 0, 1),
                          np.where(z >= 0, 4, 5)),
                 np.where(ay >= az,
                          np.where(y >= 0, 2, 3),
                          np.where(z >= 0, 4, 5)))
    return f.astype(np.int64)


def _face_uv(x, y, z, f):
    p = np.stack([x, y, z], axis=-1)
    w = np.einsum("...k,...k->...", p, _FACE_N[f])
    u = np.einsum("...k,...k->...", p, _FACE_E1[f]) / w
    v = np.einsum("...k,...k->...", p, _FACE_E2[f]) / w
    return u, v


def _uv_to_xyz(f, u, v):
    u = np.asarray(u, dtype=np.float64)[..., None]
    v = np.asarray(v, dtype=np.float64)[..., None]
    p = _FACE_N[f] + u * _FACE_E1[f] + v * _FACE_E2[f]
    return p[..., 0], p[..., 1], p[..., 2]


def _uv_to_st(u):
    """S2 quadratic projection: evens cell areas across a face."""
    return np.where(u >= 0,
                    0.5 * np.sqrt(np.maximum(0.0, 1 + 3 * u)),
                    1 - 0.5 * np.sqrt(np.maximum(0.0, 1 - 3 * u)))


def _st_to_uv(s):
    return np.where(s >= 0.5,
                    (4 * s * s - 1) / 3.0,
                    (1 - 4 * (1 - s) * (1 - s)) / 3.0)


def _interleave(i, j):
    """Morton interleave of two 30-bit ints -> 60-bit int (vectorized)."""
    def spread(x):
        x = x.astype(np.uint64)
        x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
        x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
        return x
    return (spread(i) | (spread(j) << np.uint64(1))).astype(np.int64)


def _deinterleave(m):
    def unspread(x):
        x = x & np.uint64(0x5555555555555555)
        x = (x | (x >> np.uint64(1))) & np.uint64(0x3333333333333333)
        x = (x | (x >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        x = (x | (x >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
        x = (x | (x >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
        x = (x | (x >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
        return x
    m = m.astype(np.uint64)
    i = unspread(m)
    j = unspread(m >> np.uint64(1))
    return i.astype(np.int64), j.astype(np.int64)


def fij_to_cell(f, i, j, res: int):
    return (np.asarray(f, dtype=np.int64) << np.int64(2 * res)) | \
        _interleave(np.asarray(i), np.asarray(j))


def cell_to_fij(cell, res: int):
    cell = np.asarray(cell, dtype=np.int64)
    f = cell >> np.int64(2 * res)
    mort = cell & ((np.int64(1) << np.int64(2 * res)) - np.int64(1))
    i, j = _deinterleave(mort)
    return f, i, j


def cell_from_latlon(lat, lon, res: int):
    """The core indexing function: (lat, lon) degrees -> int64 cell."""
    x, y, z = latlon_to_xyz(lat, lon)
    return cell_from_xyz(x, y, z, res)


def cell_from_xyz(x, y, z, res: int):
    f = _face_of(x, y, z)
    u, v = _face_uv(x, y, z, f)
    n = 1 << res
    s = _uv_to_st(u)
    t = _uv_to_st(v)
    i = np.clip((s * n).astype(np.int64), 0, n - 1)
    j = np.clip((t * n).astype(np.int64), 0, n - 1)
    return fij_to_cell(f, i, j, res)


def cell_center(cell, res: int):
    """Cell center (lat, lon)."""
    f, i, j = cell_to_fij(cell, res)
    n = 1 << res
    u = _st_to_uv((i + 0.5) / n)
    v = _st_to_uv((j + 0.5) / n)
    x, y, z = _uv_to_xyz(f, u, v)
    return xyz_to_latlon(x, y, z)


def cell_parent(cell, res: int, parent_res: int):
    """Ancestor cell id (hierarchy is a shift: face prefix preserved)."""
    return np.asarray(cell, dtype=np.int64) >> np.int64(
        2 * (res - parent_res))


# ---------------------------------------------------------------------------
# Cross-face adjacency.  Built programmatically: for each face edge we
# probe a point just beyond the edge, find the target face, and recover
# the exact (+/-1-coefficient) linear relation between the along-edge
# coordinate on the source face and the target face's (u, v).
# ---------------------------------------------------------------------------

def _build_adjacency():
    # edge index: 0: +u, 1: -u, 2: +v, 3: -v
    table = {}
    eps = 2.0 ** -16
    for f in range(6):
        for edge in range(4):
            axis_u = edge < 2  # stepping in u?
            sign = 1.0 if edge % 2 == 0 else -1.0
            recs = []
            for t in (0.25, 0.5):
                uu = sign * (1 + eps) if axis_u else t
                vv = t if axis_u else sign * (1 + eps)
                x, y, z = _uv_to_xyz(np.int64(f), uu, vv)
                g = int(_face_of(np.asarray(x), np.asarray(y),
                                 np.asarray(z)))
                gu, gv = _face_uv(np.asarray(x), np.asarray(y),
                                  np.asarray(z), np.int64(g))
                recs.append((g, float(gu), float(gv), t))
            g = recs[0][0]
            assert g == recs[1][0]
            # which target coordinate is pinned to +/-1?
            du = abs(recs[1][1] - recs[0][1])
            pinned_is_u = du < 1e-6
            pin_val = recs[0][1] if pinned_is_u else recs[0][2]
            pin_sign = 1 if pin_val > 0 else -1
            # along coordinate relation: along_target = a * t (a = +/-1)
            a0 = (recs[0][2] if pinned_is_u else recs[0][1]) / recs[0][3]
            a = 1 if a0 > 0 else -1
            assert abs(abs(a0) - 1) < 1e-3
            table[(f, edge)] = (g, pinned_is_u, pin_sign, a)
    return table

_ADJ = _build_adjacency()

# vectorizable arrays: indexed by f*4+edge
_ADJ_G = np.zeros(24, dtype=np.int64)
_ADJ_PIN_IS_U = np.zeros(24, dtype=bool)
_ADJ_PIN_SIGN = np.zeros(24, dtype=np.int64)
_ADJ_ALONG_SIGN = np.zeros(24, dtype=np.int64)
for (f_, e_), (g_, piu_, ps_, a_) in _ADJ.items():
    _ADJ_G[f_ * 4 + e_] = g_
    _ADJ_PIN_IS_U[f_ * 4 + e_] = piu_
    _ADJ_PIN_SIGN[f_ * 4 + e_] = ps_
    _ADJ_ALONG_SIGN[f_ * 4 + e_] = a_


def _step1(f, i, j, res: int, di: int, dj: int):
    """Single-axis neighbor step (|di| + |dj| == 1), exact across
    face edges.  Returns (f, i, j) arrays."""
    n = 1 << res
    ni = i + di
    nj = j + dj
    inside = (ni >= 0) & (ni < n) & (nj >= 0) & (nj < n)
    if inside.all():
        return f, ni, nj
    # out-of-face rows: resolve via adjacency table
    out = ~inside
    if di != 0:
        edge = 0 if di > 0 else 1
        along = j[out]
    else:
        edge = 2 if dj > 0 else 3
        along = i[out]
    key = f[out] * 4 + edge
    g = _ADJ_G[key]
    pin_is_u = _ADJ_PIN_IS_U[key]
    pin_sign = _ADJ_PIN_SIGN[key]
    a_sign = _ADJ_ALONG_SIGN[key]
    pin_idx = np.where(pin_sign > 0, n - 1, 0)
    along_idx = np.where(a_sign > 0, along, n - 1 - along)
    gi = np.where(pin_is_u, pin_idx, along_idx)
    gj = np.where(pin_is_u, along_idx, pin_idx)
    rf, ri, rj = f.copy(), ni, nj
    rf[out] = g
    ri[out] = gi
    rj[out] = gj
    return rf, ri, rj


def neighbors(cells, res: int) -> np.ndarray:
    """All edge/corner neighbors of each cell (deduped union, includes
    the cells themselves) — i.e. ring<=1 coverage.  Corner steps are
    composed of two single steps in both orders, which is exact at cube
    corners (where the diagonal neighbor does not exist)."""
    cells = np.unique(np.asarray(cells, dtype=np.int64))
    f, i, j = cell_to_fij(cells, res)
    acc = [cells]
    # single steps
    sides = {}
    for di, dj, name in ((1, 0, "E"), (-1, 0, "W"), (0, 1, "N"),
                         (0, -1, "S")):
        sf, si, sj = _step1(f, i, j, res, di, dj)
        sides[name] = (sf, si, sj)
        acc.append(fij_to_cell(sf, si, sj, res))
    # diagonals: compose in both orders
    for first, second in (("E", (0, 1)), ("E", (0, -1)),
                          ("W", (0, 1)), ("W", (0, -1)),
                          ("N", (1, 0)), ("N", (-1, 0)),
                          ("S", (1, 0)), ("S", (-1, 0))):
        sf, si, sj = sides[first]
        tf, ti, tj = _step1(sf, si, sj, res, second[0], second[1])
        acc.append(fij_to_cell(tf, ti, tj, res))
    return np.unique(np.concatenate(acc))


def ring_expand(cells, res: int, rings: int) -> np.ndarray:
    """Cells within `rings` king-move steps of the input set (includes
    the input).  BFS union; exact across faces."""
    out = np.unique(np.asarray(cells, dtype=np.int64))
    for _ in range(rings):
        out = neighbors(out, res)
    return out


# ---------------------------------------------------------------------------
# Distance lower bound for ring expansion (kNN termination).
# ---------------------------------------------------------------------------

_MIN_WIDTH_CACHE: dict = {}


def min_cell_width_rad(res: int) -> float:
    """Conservative lower bound on the angular width of any cell at
    this resolution — i.e. a point in cell A and a point in any cell
    NOT within r rings of A are separated by at least
    (r) * min_cell_width_rad radians.  Estimated once per resolution by
    sampling the narrowest cells (face corners have maximum ST
    compression) with a 2x safety margin; validated against the
    geodesic kernel in tests."""
    if res in _MIN_WIDTH_CACHE:
        return _MIN_WIDTH_CACHE[res]
    n = 1 << res
    # narrowest cells sit at face corners (u,v ~ +/-1); sample a band
    ks = np.unique(np.clip(np.array([0, 1, 2, 3, n // 8, n // 4,
                                     n // 2, n - 2, n - 1]), 0, n - 1))
    ii, jj = np.meshgrid(ks, ks)
    ii = ii.ravel()
    jj = jj.ravel()
    f = np.zeros_like(ii)
    # adjacent center separations in i and j
    base = fij_to_cell(f, ii, jj, res)
    widths = []
    for di, dj in ((1, 0), (0, 1)):
        sf, si, sj = _step1(f, ii, jj, res, di, dj)
        nb = fij_to_cell(sf, si, sj, res)
        la1, lo1 = cell_center(base, res)
        la2, lo2 = cell_center(nb, res)
        x1 = np.stack(latlon_to_xyz(la1, lo1), -1)
        x2 = np.stack(latlon_to_xyz(la2, lo2), -1)
        d = np.arccos(np.clip(np.einsum("...k,...k->...", x1, x2), -1, 1))
        widths.append(d[d > 0].min())
    w = 0.5 * min(widths)  # 2x safety: center spacing -> width bound
    _MIN_WIDTH_CACHE[res] = float(w)
    return float(w)


_MAX_WIDTH_CACHE: dict = {}


def max_cell_width_rad(res: int) -> float:
    """Conservative upper bound on any cell's diagonal at this
    resolution (sampled adjacent center spacing x 2 safety)."""
    if res in _MAX_WIDTH_CACHE:
        return _MAX_WIDTH_CACHE[res]
    n = 1 << res
    ks = np.unique(np.clip(np.array([0, 1, n // 4, n // 2,
                                     3 * n // 4, n - 2, n - 1]), 0, n - 1))
    ii, jj = np.meshgrid(ks, ks)
    ii = ii.ravel()
    jj = jj.ravel()
    f = np.zeros_like(ii)
    base = fij_to_cell(f, ii, jj, res)
    worst = 0.0
    for di, dj in ((1, 0), (0, 1)):
        sf, si, sj = _step1(f, ii, jj, res, di, dj)
        nb = fij_to_cell(sf, si, sj, res)
        la1, lo1 = cell_center(base, res)
        la2, lo2 = cell_center(nb, res)
        x1 = np.stack(latlon_to_xyz(la1, lo1), -1)
        x2 = np.stack(latlon_to_xyz(la2, lo2), -1)
        d = np.arccos(np.clip(np.einsum("...k,...k->...", x1, x2), -1, 1))
        worst = max(worst, float(d.max()))
    w = 2.0 * worst
    _MAX_WIDTH_CACHE[res] = w
    return w


def cap_cover(lat: float, lon: float, res: int,
              radius_rad: float) -> np.ndarray:
    """Complete cell cover of a spherical cap (disc-shaped, ~pi r^2/w^2
    cells).  Samples a local tangent grid at half the minimum cell
    width (every intersecting cell is hit), reflects samples across
    the poles, and pads with a 1-ring expansion."""
    w_min = min_cell_width_rad(res)
    pad = max_cell_width_rad(res) / 2  # >= any cell circumradius
    r = radius_rad + pad
    if r >= np.pi / 2:  # cap covers a hemisphere+ — just take all cells
        n = 1 << res
        f, i, j = np.meshgrid(np.arange(6), np.arange(n), np.arange(n),
                              indexing="ij")
        return fij_to_cell(f.ravel(), i.ravel(), j.ravel(), res)
    step = w_min / 2
    k = int(np.ceil(r / step))
    g = np.arange(-k, k + 1) * step
    dv, du = np.meshgrid(g, g)
    disc = (du ** 2 + dv ** 2) <= r * r
    du = du[disc]
    dv = dv[disc]
    la = lat + np.degrees(dv)
    coslat = np.cos(np.radians(np.clip(la, -89.9999, 89.9999)))
    lo = lon + np.degrees(du) / np.maximum(coslat, np.degrees(step) / 360)
    # reflect across poles
    over_n = la > 90
    over_s = la < -90
    la = np.where(over_n, 180 - la, np.where(over_s, -180 - la, la))
    lo = np.where(over_n | over_s, lo + 180, lo)
    lo = gm_ang_normalize(lo)
    cand = np.unique(cell_from_latlon(la, lo, res))
    # near-pole caps: the tangent-grid lon spread underestimates;
    # include full pole rows when the cap reaches a pole
    if lat + np.degrees(r) > 90 or lat - np.degrees(r) < -90:
        pole_lat = 90.0 if lat > 0 else -90.0
        lons = np.arange(-180, 180, np.degrees(step))
        extra = cell_from_latlon(
            np.full(lons.size, np.clip(pole_lat, -90, 90)), lons, res)
        cand = np.unique(np.concatenate([cand, extra]))
    return ring_expand(cand, res, 1)


def gm_ang_normalize(x):
    y = np.mod(np.asarray(x, dtype=np.float64) + 180.0, 360.0) - 180.0
    return y


def ring_bound_m(res: int, rings: int, b_radius: float) -> float:
    """Lower bound (meters) on the geodesic distance from a point in a
    cell to any point outside `rings` rings, on an ellipsoid with polar
    semi-axis b_radius (the smallest radius -> conservative)."""
    if rings <= 1:
        return 0.0
    return (rings - 1) * min_cell_width_rad(res) * b_radius


def pick_resolution(target_width_m: float, radius_m: float = 6371e3,
                    lo: int = 2, hi: int = 20) -> int:
    """Smallest resolution whose typical cell width is <= target.
    Typical width ~ (pi/2) * radius / 2^res (face spans ~90 deg)."""
    for res in range(lo, hi + 1):
        if (np.pi / 2) * radius_m / (1 << res) <= target_width_m:
            return res
    return hi
