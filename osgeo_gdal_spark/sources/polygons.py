"""The golden polygon layer — shaped like the reference's poly.shp fixture.

Mirrors ``/root/reference/autotest/ogr/data/poly.shp`` (fields
``AREA N(12,3), EAS_ID N(11), PRFEDEA C(16)``, 10 features, used throughout
``autotest/ogr/ogr_sql_test.py``) but with geometries chosen so the exact
strict-interior point-in-polygon predicate is *independently expressible in
ANSI SQL* — that's what lets the DuckDB oracle verify the engine's ray-cast
kernel end-to-end:

- rectangles        -> strict bbox comparisons,
- rect with hole    -> outer AND NOT inner,
- triangle          -> three strict half-plane (cross-product sign) tests,
- antimeridian rect -> split disjunction (the engine stores the split
  MultiPolygon, mirroring OGR's WRAPDATELINE splitting,
  ``/root/reference/ogr/ogrgeometryfactory.cpp:4550``).

All bounds except the antimeridian split edges sit on half-millidegree
offsets (x.xxx5), so a geocoded point (which lives on the exact
millidegree grid) falls on a polygon boundary only at lon = -180, on the
split edge of the ``dateline`` polygon. Strict ``Contains`` (SURVEY §7
hard part (f)) puts such a point outside — it is on the polygon's
envelope boundary — and the ``dateline`` predicate says so, as the
engine's strict-envelope-and-ray-cast join does.

Each polygon carries both a WKB geometry (engine side) and a SQL predicate
factory (oracle side).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..kernels import wkb as W
from ..session import local_df


@dataclass
class PolyFeature:
    fid: int
    eas_id: int
    prfedea: str
    kind: str               # rect | rect_hole | tri | dateline
    params: dict = field(default_factory=dict)

    def wkb(self) -> bytes:
        p = self.params
        if self.kind == "rect":
            x0, y0, x1, y1 = p["bounds"]
            return W.polygon_wkb([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]])
        if self.kind == "rect_hole":
            x0, y0, x1, y1 = p["bounds"]
            hx0, hy0, hx1, hy1 = p["hole"]
            return W.polygon_wkb(
                [
                    [(x0, y0), (x1, y0), (x1, y1), (x0, y1)],
                    [(hx0, hy0), (hx1, hy0), (hx1, hy1), (hx0, hy1)],
                ]
            )
        if self.kind == "tri":
            return W.polygon_wkb([list(p["vertices"])])
        if self.kind == "dateline":
            # stored pre-split at +-180 (WRAPDATELINE semantics)
            y0, y1 = p["lat"]
            xw = p["west_lon"]   # e.g. 175.0005 -> [xw, 180]
            xe = p["east_lon"]   # e.g. -175.0005 -> [-180, xe]
            return W.multipolygon_wkb(
                [
                    [[(xw, y0), (180.0, y0), (180.0, y1), (xw, y1)]],
                    [[(-180.0, y0), (xe, y0), (xe, y1), (-180.0, y1)]],
                ]
            )
        raise ValueError(self.kind)

    def sql_predicate(self, lon: str, lat: str) -> str:
        """Strict-interior containment as portable SQL."""
        p = self.params
        if self.kind == "rect":
            x0, y0, x1, y1 = p["bounds"]
            return f"({lon} > {x0} AND {lon} < {x1} AND {lat} > {y0} AND {lat} < {y1})"
        if self.kind == "rect_hole":
            x0, y0, x1, y1 = p["bounds"]
            hx0, hy0, hx1, hy1 = p["hole"]
            outer = f"({lon} > {x0} AND {lon} < {x1} AND {lat} > {y0} AND {lat} < {y1})"
            inner = (
                f"({lon} > {hx0} AND {lon} < {hx1} AND {lat} > {hy0} AND {lat} < {hy1})"
            )
            return f"({outer} AND NOT {inner})"
        if self.kind == "tri":
            (ax, ay), (bx, by), (cx, cy) = p["vertices"]
            # CCW ordering assumed; strict interior = left of all 3 edges
            e1 = f"(({bx} - {ax}) * ({lat} - {ay}) - ({by} - {ay}) * ({lon} - {ax}) > 0)"
            e2 = f"(({cx} - {bx}) * ({lat} - {by}) - ({cy} - {by}) * ({lon} - {bx}) > 0)"
            e3 = f"(({ax} - {cx}) * ({lat} - {cy}) - ({ay} - {cy}) * ({lon} - {cx}) > 0)"
            return f"({e1} AND {e2} AND {e3})"
        if self.kind == "dateline":
            y0, y1 = p["lat"]
            xw, xe = p["west_lon"], p["east_lon"]
            return (
                f"(({lon} > {xw} OR ({lon} > -180 AND {lon} < {xe})) "
                f"AND {lat} > {y0} AND {lat} < {y1})"
            )
        raise ValueError(self.kind)

    def envelope(self):
        g = W.parse_wkb(self.wkb())
        return g.envelope()

    def area(self) -> float:
        return W.polygon_area(W.parse_wkb(self.wkb()))


# eas_id values follow the reference fixture's set
# (autotest/ogr/ogr_sql_test.py: 168,179,171,173,172,169,166,158,165,170)
POLYGONS = [
    PolyFeature(0, 168, "35043411", "rect",
                {"bounds": (-10.0005, 20.0005, 10.0005, 40.0005)}),
    PolyFeature(1, 179, "35043412", "rect",
                {"bounds": (100.0005, -30.0005, 130.0005, -5.0005)}),
    PolyFeature(2, 171, "35043413", "rect",
                {"bounds": (-120.0005, 30.0005, -80.0005, 50.0005)}),
    PolyFeature(3, 173, "35043414", "rect",
                {"bounds": (20.0005, -60.0005, 60.0005, -20.0005)}),
    PolyFeature(4, 172, "35043415", "rect",
                {"bounds": (-60.0005, -40.0005, -20.0005, 0.0005)}),
    PolyFeature(5, 169, "35043416", "rect",
                {"bounds": (60.0005, 40.0005, 100.0005, 70.0005)}),
    PolyFeature(6, 166, "35043417", "rect_hole",
                {"bounds": (-170.0005, -80.0005, -130.0005, -50.0005),
                 "hole": (-160.0005, -70.0005, -140.0005, -60.0005)}),
    PolyFeature(7, 158, "35043418", "tri",
                {"vertices": ((130.0005, 10.0005), (160.0005, 15.0005),
                              (142.3455, 44.8885))}),
    PolyFeature(8, 165, "35043419", "dateline",
                {"lat": (50.0005, 70.0005),
                 "west_lon": 170.0005, "east_lon": -170.0005}),
    # covers the Paris hot cluster (doc_id % 20 == 0 -> 5% of all pages)
    PolyFeature(9, 170, "35043420", "rect",
                {"bounds": (1.9995, 48.4005, 2.5005, 49.0005)}),
]


def polygons_df(spark):
    """The layer as a DataFrame: poly.shp schema + WKB geometry + flat bbox
    struct (the GeoParquet-covering-column pattern for pruning,
    ogrparquetlayer.cpp:1000-1094)."""
    from pyspark.sql import types as T

    rows = []
    for pf in POLYGONS:
        xmin, ymin, xmax, ymax = pf.envelope()
        rows.append(
            (pf.fid, pf.area(), pf.eas_id, pf.prfedea, bytearray(pf.wkb()),
             {"xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax})
        )
    schema = T.StructType(
        [
            T.StructField("fid", T.LongType()),
            T.StructField("area", T.DoubleType()),
            T.StructField("eas_id", T.LongType()),
            T.StructField("prfedea", T.StringType()),
            T.StructField("geometry", T.BinaryType()),
            T.StructField(
                "bbox",
                T.StructType(
                    [
                        T.StructField("xmin", T.DoubleType()),
                        T.StructField("ymin", T.DoubleType()),
                        T.StructField("xmax", T.DoubleType()),
                        T.StructField("ymax", T.DoubleType()),
                    ]
                ),
            ),
        ]
    )
    return local_df(spark, rows, schema)


def polygons_values_sql() -> str:
    """The layer's attributes as an inline VALUES relation (no geometry)
    for oracle SQL: (fid, area, eas_id, prfedea)."""
    rows = ", ".join(
        f"({p.fid}, {p.area()!r}, {p.eas_id}, '{p.prfedea}')" for p in POLYGONS
    )
    return f"(VALUES {rows}) AS poly(fid, area, eas_id, prfedea)"


def st_oracle_select_sql() -> str:
    """Per-polygon ST-function expectations as SQL arithmetic over the raw
    coordinate literals (kind-specific area/centroid formulas — a code
    path independent of the engine's WKB/shoelace kernels)."""
    rows = []
    for p in POLYGONS:
        pr = p.params
        if p.kind == "rect":
            x0, y0, x1, y1 = pr["bounds"]
            area = f"(({x1}) - ({x0})) * (({y1}) - ({y0}))"
            cx = f"((({x0}) + ({x1})) / CAST(2.0 AS DOUBLE))"
            cy = f"((({y0}) + ({y1})) / CAST(2.0 AS DOUBLE))"
            gtype = "Polygon"
        elif p.kind == "rect_hole":
            x0, y0, x1, y1 = pr["bounds"]
            hx0, hy0, hx1, hy1 = pr["hole"]
            outer = f"(({x1}) - ({x0})) * (({y1}) - ({y0}))"
            inner = f"(({hx1}) - ({hx0})) * (({hy1}) - ({hy0}))"
            area = f"({outer} - {inner})"
            ocx = f"((({x0}) + ({x1})) / CAST(2.0 AS DOUBLE))"
            ocy = f"((({y0}) + ({y1})) / CAST(2.0 AS DOUBLE))"
            icx = f"((({hx0}) + ({hx1})) / CAST(2.0 AS DOUBLE))"
            icy = f"((({hy0}) + ({hy1})) / CAST(2.0 AS DOUBLE))"
            cx = f"(({outer} * {ocx} - {inner} * {icx}) / {area})"
            cy = f"(({outer} * {ocy} - {inner} * {icy}) / {area})"
            gtype = "Polygon"
        elif p.kind == "tri":
            (ax, ay), (bx, by), (cx_, cy_) = pr["vertices"]
            area = (f"ABS((({bx}) - ({ax})) * (({cy_}) - ({ay})) - "
                    f"(({cx_}) - ({ax})) * (({by}) - ({ay}))) / CAST(2.0 AS DOUBLE)")
            cx = f"((({ax}) + ({bx}) + ({cx_})) / CAST(3.0 AS DOUBLE))"
            cy = f"((({ay}) + ({by}) + ({cy_})) / CAST(3.0 AS DOUBLE))"
            gtype = "Polygon"
        else:  # dateline: two equal-height rects split at +-180
            y0, y1 = pr["lat"]
            xw, xe = pr["west_lon"], pr["east_lon"]
            aw = f"((180.0 - ({xw})) * (({y1}) - ({y0})))"
            ae = f"(((({xe})) - (-180.0)) * (({y1}) - ({y0})))"
            area = f"({aw} + {ae})"
            wcx = f"((({xw}) + 180.0) / CAST(2.0 AS DOUBLE))"
            ecx = f"(((({xe})) + (-180.0)) / CAST(2.0 AS DOUBLE))"
            cx = f"(({aw} * {wcx} + {ae} * {ecx}) / {area})"
            cy = f"((({y0}) + ({y1})) / CAST(2.0 AS DOUBLE))"
            gtype = "MultiPolygon"
        rows.append(
            f"SELECT {p.fid} AS fid, CAST({area} AS DOUBLE) AS area, "
            f"CAST({cx} AS DOUBLE) AS cx, CAST({cy} AS DOUBLE) AS cy, "
            f"'{gtype}' AS gtype"
        )
    return " UNION ALL ".join(rows)


def pip_pairs_sql(lon: str, lat: str) -> str:
    """CASE-free oracle for the spatial join: a UNION ALL of per-polygon
    strict predicates producing (point, eas_id) pairs. Caller wraps:
    ``SELECT url, {eas_id} FROM pages WHERE {pred}`` per polygon."""
    return " UNION ALL ".join(
        f"SELECT url, doc_id, {p.eas_id} AS eas_id FROM pages "
        f"WHERE {p.sql_predicate(lon, lat)}"
        for p in POLYGONS
    )


# --- second vector layer: a tile-index-style rect grid (gdaltindex /
# GTI analog, apps/gdaltindex_lib.cpp — one bbox polygon per "file") -------

def tindex_rects():
    """48 deterministic axis rects. Edge coordinates are chosen OFF the
    POLYGONS layer's .0005/.9995 grids (offsets differ mod 30 in x and by
    half-integers in y), so polygon-polygon predicates never hit
    boundary-touch ties."""
    rects = []
    for i in range(48):
        cx = -175.0005 + (i % 12) * 30.0
        cy = -75.0005 + (i // 12) * 40.0
        w2 = 4.0 + (i % 5) * 3.0     # half-width 4..16
        h2 = 3.0 + (i % 7) * 2.5     # half-height 3..18
        rects.append((i, cx - w2, cy - h2, cx + w2, cy + h2))
    return rects


def tindex_features():
    """The rect layer as PolyFeature objects (fid = index, eas_id = 1000+i)."""
    return [
        PolyFeature(i, 1000 + i, f"T{i:04d}", "rect",
                    {"bounds": (x0, y0, x1, y1)})
        for i, x0, y0, x1, y1 in tindex_rects()
    ]


def tindex_df(spark):
    """The rect layer as a DataFrame with WKB + flat bbox (GeoParquet
    covering-column pattern)."""
    from pyspark.sql import types as T

    rows = []
    for pf in tindex_features():
        x0, y0, x1, y1 = pf.envelope()
        rows.append((pf.fid, pf.eas_id, bytearray(pf.wkb()),
                     {"xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1}))
    schema = T.StructType([
        T.StructField("fid", T.LongType()),
        T.StructField("a_id", T.LongType()),
        T.StructField("geometry", T.BinaryType()),
        T.StructField("bbox", T.StructType([
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
        ])),
    ])
    return local_df(spark, rows, schema)


def tindex_values_sql() -> str:
    rows = ", ".join(
        f"({i}, {x0!r}, {y0!r}, {x1!r}, {y1!r})"
        for i, x0, y0, x1, y1 in tindex_rects()
    )
    return (f"(VALUES {rows}) AS ti(fid, ax0, ay0, ax1, ay1)")


def rect_intersects_sql(p: "PolyFeature") -> str:
    """Strict-interior 'A rect intersects B polygon' as SQL over the A
    rect columns (ax0, ay0, ax1, ay1) — separating-axis logic, exact for
    the fixture kinds (no boundary ties by construction)."""
    prm = p.params

    def overlap(x0, y0, x1, y1):
        return (f"(ax0 < {x1} AND ax1 > {x0} AND ay0 < {y1} AND ay1 > {y0})")

    if p.kind == "rect":
        return overlap(*prm["bounds"])
    if p.kind == "rect_hole":
        hx0, hy0, hx1, hy1 = prm["hole"]
        inside_hole = (f"(ax0 > {hx0} AND ax1 < {hx1} "
                       f"AND ay0 > {hy0} AND ay1 < {hy1})")
        return f"({overlap(*prm['bounds'])} AND NOT {inside_hole})"
    if p.kind == "tri":
        (ax, ay), (bx, by), (cx, cy) = prm["vertices"]
        bx0 = min(ax, bx, cx); bx1 = max(ax, bx, cx)
        by0 = min(ay, by, cy); by1 = max(ay, by, cy)
        conds = [overlap(bx0, by0, bx1, by1)]
        # SAT: not separated by any triangle edge (CCW, interior cross>0)
        for (ex0, ey0), (ex1, ey1) in (((ax, ay), (bx, by)),
                                       ((bx, by), (cx, cy)),
                                       ((cx, cy), (ax, ay))):
            outs = []
            for cxs, cys in (("ax0", "ay0"), ("ax1", "ay0"),
                             ("ax1", "ay1"), ("ax0", "ay1")):
                outs.append(
                    f"(({ex1} - {ex0}) * ({cys} - {ey0}) "
                    f"- ({ey1} - {ey0}) * ({cxs} - {ex0}) < 0)"
                )
            conds.append(f"NOT ({' AND '.join(outs)})")
        return "(" + " AND ".join(conds) + ")"
    if p.kind == "dateline":
        y0, y1 = prm["lat"]
        xw, xe = prm["west_lon"], prm["east_lon"]
        return (f"({overlap(xw, y0, 180.0, y1)} "
                f"OR {overlap(-180.0, y0, xe, y1)})")
    raise ValueError(p.kind)


# --- third vector layer: overlapping-rect groups for dissolve ------------

def dissolve_rects():
    """12 groups x 3 axis rects with known union topology — the dissolve
    (UnaryUnion per attribute, apps/gdalalg_vector_dissolve.cpp:120)
    fixture. Pattern by gid % 3:

      0: diagonal chain r0-r1-r2 (r0∩r1 > 0, r1∩r2 > 0, r0∩r2 = 0)  -> 1 part
      1: overlapping pair + isolated third                           -> 2 parts
      2: three pairwise-disjoint rects                               -> 3 parts

    Union AREA is inclusion-exclusion over axis boxes (closed-form in
    SQL); N_PARTS is fixed by the construction above. Coordinates sit on
    the .1235 offset grid — off every other fixture grid, so no
    boundary-touch ties arise anywhere.

    Returns (gid, rid, x0, y0, x1, y1) tuples.
    """
    out = []
    for g in range(12):
        bx = -168.1235 + (g % 4) * 80.0
        by = -62.1235 + (g // 4) * 40.0
        w, h = 10.0 + (g % 2) * 2.0, 8.0 + (g % 2)
        pattern = g % 3
        if pattern == 0:
            r0 = (bx, by, bx + w, by + h)
            r1 = (bx + 6.2, by + 4.4, bx + 6.2 + w, by + 4.4 + h)
            r2 = (bx + 12.4, by + 8.8, bx + 12.4 + w, by + 8.8 + h)
        elif pattern == 1:
            r0 = (bx, by, bx + w, by + h)
            r1 = (bx + 6.2, by + 4.4, bx + 6.2 + w, by + 4.4 + h)
            r2 = (bx + 24.0, by, bx + 30.0, by + 6.0)
        else:
            r0 = (bx, by, bx + 6.0, by + 6.0)
            r1 = (bx + 12.0, by, bx + 18.0, by + 6.0)
            r2 = (bx + 24.0, by, bx + 30.0, by + 6.0)
        for rid, r in enumerate((r0, r1, r2)):
            out.append((g, rid, *r))
    return out


def dissolve_parts_expected():
    """gid -> number of connected parts, fixed by the construction."""
    return {g: (1, 2, 3)[g % 3] for g in range(12)}


def dissolve_df(spark):
    """The dissolve fixture as a DataFrame (fid, gid, geometry WKB, flat
    bbox struct)."""
    from pyspark.sql import types as T

    rows = []
    for i, (g, rid, x0, y0, x1, y1) in enumerate(dissolve_rects()):
        wkb = W.polygon_wkb([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]])
        rows.append((i, g, bytearray(wkb),
                     {"xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1}))
    schema = T.StructType([
        T.StructField("fid", T.LongType()),
        T.StructField("gid", T.LongType()),
        T.StructField("geometry", T.BinaryType()),
        T.StructField("bbox", T.StructType([
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
        ])),
    ])
    return local_df(spark, rows, schema)


def dissolve_values_sql() -> str:
    rows = ", ".join(
        f"({g}, {rid}, {x0!r}, {y0!r}, {x1!r}, {y1!r})"
        for g, rid, x0, y0, x1, y1 in dissolve_rects()
    )
    return f"(VALUES {rows}) AS dr(gid, rid, x0, y0, x1, y1)"


# --- contact-pair fixture family: deliberate NON-general-position
# contacts (vertex-on-edge, shared collinear edges, corner touches,
# near-coincident boundaries) for the snap-rounding overlay tier
# (kernels/snap.py; GEOS snap-rounding semantics, the reference's
# layer-algebra SNAP options ogr/ogrsf_frmts/generic/ogrlayer.cpp:5402).
# Every coordinate is an exact small integer (class 7 adds an exactly
# representable 2^-30 dyadic jitter that the 2^-10 snap grid absorbs),
# so every op area is closed-form integer box algebra for the oracle. --

_J = 2.0 ** -30           # dyadic jitter, exactly representable
CONTACT_GRID = 2.0 ** -10  # snap resolution used by the contact queries


def contact_pairs():
    """48 isolated (A, B) pairs, 6 per contact class (i % 8):

    0 shared full edge | 1 partial shared edge | 2 corner touch |
    3 containment sharing part of A's bottom edge | 4 identical rects |
    5 proper crossing (general-position control) | 6 T-contact triangle
    (apex ON A's edge interior, outside) | 7 class-0 geometry jittered
    by ±2^-30 (snapping must recover the exact contact).

    Returns dicts with integer A/B bounds (B UNJITTERED for the oracle;
    the engine-side WKB applies the jitter for class 7), b_kind
    ('rect'|'tri') and tri vertices where applicable.
    """
    out = []
    for i in range(48):
        cx = -170 + (i % 16) * 21
        cy = -60 + (i // 16) * 30
        w = 4 + (i % 3) * 2
        h = 4 + (i % 5)
        cls = i % 8
        a = (cx, cy, cx + w, cy + h)
        tri = None
        jitter = False
        if cls == 0:
            b = (cx + w, cy, cx + w + 5, cy + h)
        elif cls == 1:
            b = (cx + w, cy + 1, cx + w + 5, cy + h + 3)
        elif cls == 2:
            b = (cx + w, cy + h, cx + w + 4, cy + h + 4)
        elif cls == 3:
            b = (cx + 1, cy, cx + 3, cy + 2)
        elif cls == 4:
            b = a
        elif cls == 5:
            b = (cx + 2, cy + 2, cx + w + 3, cy + h + 3)
        elif cls == 6:
            b = (cx + w, cy + 1, cx + w + 4, cy + 3)   # tri bbox
            tri = ((cx + w, cy + 2), (cx + w + 4, cy + 1),
                   (cx + w + 4, cy + 3))
        else:
            b = (cx + w, cy, cx + w + 5, cy + h)
            jitter = True
        out.append({"a_id": i, "eas_id": 5000 + i, "cls": cls,
                    "a": a, "b": b, "tri": tri, "jitter": jitter})
    return out


def contact_polys():
    """B side of the contact pairs as PolyFeature payload (class-7
    coordinates carry the dyadic jitter the snap must undo)."""
    feats = []
    for p in contact_pairs():
        if p["tri"] is not None:
            feats.append(PolyFeature(p["a_id"], p["eas_id"], "tri",
                                     "tri", {"vertices": [
                                         (float(x), float(y))
                                         for x, y in p["tri"]]}))
        else:
            x0, y0, x1, y1 = (float(v) for v in p["b"])
            if p["jitter"]:
                x0, x1 = x0 + _J, x1 + _J
                y0, y1 = y0 - _J, y1 - _J
            feats.append(PolyFeature(p["a_id"], p["eas_id"], "rect",
                                     "rect", {"bounds": (x0, y0, x1, y1)}))
    return feats


def contact_feats_df(spark):
    """A side of the contact pairs as a features DataFrame (fid, a_id,
    WKB geometry, flat bbox struct — the GeoParquet covering pattern)."""
    from pyspark.sql import types as T

    rows = []
    for p in contact_pairs():
        x0, y0, x1, y1 = (float(v) for v in p["a"])
        wkb = W.polygon_wkb([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]])
        rows.append((p["a_id"], p["a_id"], bytearray(wkb),
                     {"xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1}))
    schema = T.StructType([
        T.StructField("fid", T.LongType()),
        T.StructField("a_id", T.LongType()),
        T.StructField("geometry", T.BinaryType()),
        T.StructField("bbox", T.StructType([
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
        ])),
    ])
    return local_df(spark, rows, schema)


def contact_values_sql() -> str:
    """Oracle-side VALUES table of the UNJITTERED integer parameters:
    (a_id, eas_id, ax0, ay0, ax1, ay1, bx0, by0, bx1, by1, b_is_tri,
    b_area). Intersection/union/difference areas derive by box algebra
    — an arithmetic path fully independent of the engine's
    snap+node+classify+shoelace pipeline."""
    rows = []
    for p in contact_pairs():
        ax0, ay0, ax1, ay1 = p["a"]
        bx0, by0, bx1, by1 = p["b"]
        if p["tri"] is not None:
            (x1, y1), (x2, y2), (x3, y3) = p["tri"]
            b_area = abs((x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1)) / 2
        else:
            b_area = (bx1 - bx0) * (by1 - by0)
        rows.append(
            f"({p['a_id']}, {p['eas_id']}, {ax0}, {ay0}, {ax1}, {ay1}, "
            f"{bx0}, {by0}, {bx1}, {by1}, "
            f"{'TRUE' if p['tri'] is not None else 'FALSE'}, {b_area!r})"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(a_id, eas_id, "
        "ax0, ay0, ax1, ay1, bx0, by0, bx1, by1, b_is_tri, b_area)"
    )


# --- snapped-dissolve fixture: groups of rectangles TILING blocks with
# shared internal borders (the admin-layer dissolve case — every
# internal boundary is a shared edge, outside the general-position
# union fold's contract) --------------------------------------------------

def tiling_dissolve_rects():
    """18 groups; group g tiles a block at a deterministic origin into
    an nx x ny grid of edge-sharing rects (union = the block, 1 part);
    every third group adds one DISJOINT member (2 parts). Returns
    [(gid, fid, x0, y0, x1, y1)] plus the expected (gid -> (n_parts,
    union_area)) map."""
    rows, expect = [], {}
    fid = 0
    for g in range(18):
        ox = -160.0 + (g % 12) * 26.0
        oy = -60.0 + (g // 12) * 30.0
        nx, ny = 2 + g % 3, 1 + g % 2
        w, h = 3.0 * nx, 4.0 * ny
        for i in range(nx):
            for j in range(ny):
                rows.append((g, fid, ox + 3.0 * i, oy + 4.0 * j,
                             ox + 3.0 * (i + 1), oy + 4.0 * (j + 1)))
                fid += 1
        area, parts = w * h, 1
        if g % 3 == 2:
            rows.append((g, fid, ox + w + 5.0, oy, ox + w + 7.0, oy + 2.0))
            fid += 1
            area += 4.0
            parts = 2
        expect[g] = (parts, area)
    return rows, expect


def tiling_dissolve_df(spark):
    from pyspark.sql import types as T

    rows, _ = tiling_dissolve_rects()
    out = []
    for (gid, fid, x0, y0, x1, y1) in rows:
        wkb = W.polygon_wkb([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]])
        out.append((gid, fid, bytearray(wkb)))
    schema = T.StructType([
        T.StructField("gid", T.LongType()),
        T.StructField("fid", T.LongType()),
        T.StructField("geometry", T.BinaryType()),
    ])
    return local_df(spark, out, schema)
