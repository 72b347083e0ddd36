"""The native join predicate against the numpy reference.

``spatial_join`` decides each (page, polygon) pair inside the broadcast
join's condition from the polygon's cover row alone. Its contract is the
kernel's: a pair matches exactly when the page lies strictly inside the
polygon's envelope and ``kernels/pip.points_in_polygon`` holds. These
cases check that through Spark, on random (multi)polygons with holes —
valid or not — and on the points where a shortcut would go wrong:
vertices, the edges of rect parts and lon = -180.
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from osgeo_gdal_spark.kernels import pip as PIP, wkb as W
from osgeo_gdal_spark.operators import spatial_join as SJ


class Poly:
    def __init__(self, fid, parts):
        self.fid, self.eas_id, self.parts = fid, 100 + fid, parts

    def wkb(self):
        if len(self.parts) == 1:
            return W.polygon_wkb(self.parts[0])
        return W.multipolygon_wkb(self.parts)


def _grid(v):
    """Snap to the millidegree grid the geocoder uses."""
    return np.round(np.asarray(v, dtype=np.float64), 3)


def _rect(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def _star(rng, cx, cy, radius, n, simple):
    """n vertices around (cx, cy); shuffled angles give a self-crossing ring."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    if not simple:
        rng.shuffle(ang)
    r = radius * rng.uniform(0.2, 1.0, n)
    xs = np.clip(_grid(cx + r * np.cos(ang)), -180.0, 180.0)
    ys = np.clip(_grid(cy + r * np.sin(ang)), -89.9, 89.9)
    return list(zip(xs.tolist(), ys.tolist()))


@st.composite
def layers(draw):
    """1-3 polygons of 1-2 parts; a part is a rect (possibly on the -180
    meridian) or a star ring of up to 1k vertices, with 0-2 holes that may
    stick out of it."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    polys = []
    for fid in range(draw(st.integers(1, 3))):
        parts = []
        cx = draw(st.integers(-179000, 179000)) / 1000
        cy = draw(st.integers(-85000, 85000)) / 1000
        for _ in range(draw(st.integers(1, 2))):
            size = draw(st.integers(100, 12000)) / 1000
            kind = draw(st.sampled_from(["rect", "star", "dateline"]))
            if kind == "star":
                n = draw(st.one_of(st.integers(3, 12), st.integers(13, 1000)))
                shell = _star(rng, cx, cy, size, n, draw(st.booleans()))
            else:
                x0 = -180.0 if kind == "dateline" else cx
                x1, y1 = _grid([min(x0 + size, 180.0), min(cy + size * 0.7, 89.9)])
                shell = _rect(x0, cy, float(x1), float(y1))
            holes = [
                _star(rng, cx + rng.uniform(-size, size) / 2,
                      cy + rng.uniform(-size, size) / 2, size / 3,
                      draw(st.integers(3, 40)), True)
                for _ in range(draw(st.integers(0, 2)))
            ]
            parts.append([shell] + holes)
            cx, cy = cx + draw(st.integers(-8000, 8000)) / 1000, cy + size / 2
        polys.append(Poly(fid, parts))
    return polys, rng


def _points(polys, rng):
    """Random millidegree points over the layer, every vertex, points on
    every rect edge and points on lon = -180."""
    geoms = [W.parse_wkb(p.wkb()) for p in polys]
    xs = np.concatenate([g.xs for g in geoms])
    ys = np.concatenate([g.ys for g in geoms])
    x0, x1 = max(xs.min() - 1, -180.0), min(xs.max() + 1, 179.999)
    y0, y1 = ys.min() - 1, ys.max() + 1
    px = [_grid(rng.uniform(x0, x1, 600)), xs, np.full(20, -180.0)]
    py = [_grid(rng.uniform(y0, y1, 600)), ys, _grid(rng.uniform(y0, y1, 20))]
    for g in geoms:
        for rx, ry in g.rings():
            if len(rx) == 5:  # rect rings: their four edges
                t = rng.uniform(0, 1, 4)
                px.append(_grid([rx.min(), rx.max(), rx.min() + t[0] * np.ptp(rx),
                                 rx.min() + t[1] * np.ptp(rx)]))
                py.append(_grid([ry.min() + t[2] * np.ptp(ry), ry.min() + t[3] * np.ptp(ry),
                                 ry.min(), ry.max()]))
    return np.concatenate(px), np.concatenate(py)


def _check(spark, polys, px, py):
    """spatial_join == strict envelope AND points_in_polygon, pair for pair."""
    want = set()
    for p in polys:
        g = W.parse_wkb(p.wkb())
        gx0, gy0, gx1, gy1 = g.envelope()
        m = (px > gx0) & (px < gx1) & (py > gy0) & (py < gy1)
        m &= PIP.points_in_polygon(px, py, g)
        want |= {(int(i), p.eas_id) for i in np.nonzero(m)[0]}
    pages = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(len(px)), "lon": px, "lat": py}))
    joined = SJ.spatial_join(spark, pages, polys).select("pid", "eas_id")
    assert {(r["pid"], r["eas_id"]) for r in joined.collect()} == want
    return joined


@settings(max_examples=30, deadline=None, derandomize=True)
@given(layers())
def test_native_join_equals_points_in_polygon(spark, layer):
    polys, rng = layer
    _check(spark, polys, *_points(polys, rng))


def test_layer_mixing_rect_and_ray_cast_rows(spark):
    """A rect and a triangle over the same cells: the cover mixes rows that
    need the ray cast and rows that do not in one broadcast table."""
    polys = [Poly(0, [[_rect(10.0005, 10.0005, 20.0005, 20.0005)]]),
             Poly(1, [[[(9.0, 9.0), (21.0, 11.0), (12.0, 22.0)]]])]
    cover = SJ.polygon_cover_df(spark, polys).toPandas()
    assert cover["ray"].any() and not cover["ray"].all()
    rng = np.random.default_rng(0)
    _check(spark, polys, _grid(rng.uniform(8, 23, 3000)), _grid(rng.uniform(8, 23, 3000)))


def test_holes_sharing_one_vertex(spark):
    """70 wedge holes fan out from one shared vertex, as a valid polygon's
    holes may touch: every cell near that vertex needs all of their rings,
    and points on and around the vertex must compose them exactly."""
    cx, cy = 10.5, 10.5
    ang = np.linspace(0, 2 * np.pi, 71)
    holes = [[(cx, cy)] + [tuple(_grid([cx + 0.4 * np.cos(t), cy + 0.4 * np.sin(t)]))
                           for t in (a0, a0 + 0.6 * (a1 - a0))]
             for a0, a1 in zip(ang[:-1], ang[1:])]
    polys = [Poly(0, [[_rect(10.0005, 10.0005, 11.0005, 11.0005)] + holes])]
    cover = SJ.polygon_cover_df(spark, polys).toPandas()
    assert cover["edges"].map(lambda e: e is not None and len(e) > 70).any()
    rng = np.random.default_rng(1)
    near = np.arange(-10, 11) / 1000
    px = np.concatenate([_grid(rng.uniform(9.9, 11.1, 3000)), _grid(cx + np.repeat(near, 21)),
                         np.concatenate([np.asarray(h)[:, 0] for h in holes])])
    py = np.concatenate([_grid(rng.uniform(9.9, 11.1, 3000)), _grid(cy + np.tile(near, 21)),
                         np.concatenate([np.asarray(h)[:, 1] for h in holes])])
    _check(spark, polys, px, py)


def _ngon(n, cx, cy):
    """A regular n-gon of radius 0.5 inside one join cell, with no
    horizontal edge: its cell's row needs all n edges."""
    a = np.arange(n) * 2 * np.pi / n + 0.1
    return list(zip(_grid(cx + 0.5 * np.cos(a)).tolist(), _grid(cy + 0.5 * np.sin(a)).tolist()))


def _edge_layer(widest):
    """A ``widest``-gon, a triangle (its row padded to the widest) and a
    rect (rows with no ray cast), with points over all three."""
    polys = [Poly(0, [[_ngon(widest, 10.0, 10.0)]]), Poly(1, [[_ngon(3, 12.5, 10.0)]]),
             Poly(2, [[_rect(10.6005, 9.6005, 11.9005, 10.4005)]])]
    rng = np.random.default_rng(widest)
    geoms = [W.parse_wkb(p.wkb()) for p in polys]
    px = np.concatenate([_grid(rng.uniform(9.4, 13.1, 4000))] + [g.xs for g in geoms])
    py = np.concatenate([_grid(rng.uniform(9.4, 10.6, 4000))] + [g.ys for g in geoms])
    return polys, px, py


def test_four_edge_cover_takes_flat_slots(spark):
    """The widest row has 4 edges: the cover holds them in 4 flat slots and
    the join casts the ray in compiled code, with no aggregate."""
    polys, px, py = _edge_layer(4)
    cover = SJ.polygon_cover_df(spark, polys)
    assert "e3_k" in cover.columns and "e4_k" not in cover.columns
    assert "edges" not in cover.columns
    plan = _check(spark, polys, px, py)._jdf.queryExecution().executedPlan().toString()
    assert "aggregate(" not in plan


def test_five_edge_cover_keeps_the_aggregate(spark):
    """The widest row has 5 edges, over the slot bound: the cover keeps
    its ``edges`` array and the join folds it with an aggregate."""
    polys, px, py = _edge_layer(5)
    cover = SJ.polygon_cover_df(spark, polys)
    assert "edges" in cover.columns and "e0_k" not in cover.columns
    plan = _check(spark, polys, px, py)._jdf.queryExecution().executedPlan().toString()
    assert "aggregate(" in plan
