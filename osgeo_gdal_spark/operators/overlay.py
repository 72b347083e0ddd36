"""Overlay operators emitting geometries.

- CLIP against an axis rect (the ogr2ogr ``-clipsrc xmin ymin xmax ymax``
  path, ``apps/ogr2ogr_lib.cpp:2460-2545``; layer-algebra Clip
  ``ogrlayer.cpp:7537``), Sutherland-Hodgman per ring;
- the layer algebra emitting geometries (``ogrlayer.cpp:5385``
  Intersection, ``:5803`` Union, ``:6158`` Erase, ``:6770`` Identity,
  ``:7188`` Update) via the GEOS-free edge-classification kernel in
  ``kernels/overlay_kernel.py``, and its snap-rounded tier
  (``kernels/snap.py``);
- DISSOLVE per attribute value.

Distributed shape of the layer algebra, one method family as in OGR:
candidate (feature, polygon) pairs come from the broadcast cell-cover
join of ``operators/spatial_join.py`` (``_pairs``: the big feature side
never shuffles), and the method layer ships once through
``spatial_join.broadcast_layer``. Every per-pair operator is a field
list plus a kernel call run by one pair loop (``_per_pair``); Erase,
Identity and Update share one per-feature fold and one pass-through for
untouched features (``_split``). A native bbox prefilter drops features
entirely outside the window before any Python runs, and — the GeoParquet
covering-column pattern — lets Catalyst prune files on the flat bbox
struct.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernels import clip as CL, overlay_kernel as OVK, snap as SN, wkb as W
from ..session import local_df
from . import spatial_join as SJ

_CLIP_SCHEMA_EXTRA = [
    T.StructField("clip_wkb", T.BinaryType()),
    T.StructField("clip_area", T.DoubleType()),
    T.StructField("clip_npts", T.IntegerType()),
]


def clip_features_rect(feats: DataFrame, rect, geom_col="geometry",
                       keep_cols=("fid", "eas_id")) -> DataFrame:
    """Clip every feature's polygon rings to ``rect`` = (x0, y0, x1, y1).

    Returns keep_cols + (clip_wkb, clip_area, clip_npts); features whose
    clipped geometry is empty are DROPPED (ogr2ogr -clipsrc drops
    fully-outside features). clip_area is |shoelace| summed signed over
    rings, so holes subtract.
    """
    x0, y0, x1, y1 = (float(v) for v in rect)
    cols = list(keep_cols)

    # native bbox prefilter: no Python for features fully outside
    pre = feats.filter(
        (F.col("bbox.xmin") <= x1) & (F.col("bbox.xmax") >= x0)
        & (F.col("bbox.ymin") <= y1) & (F.col("bbox.ymax") >= y0)
    ) if "bbox" in feats.columns else feats

    out_schema = T.StructType(
        [feats.schema[c] for c in cols] + _CLIP_SCHEMA_EXTRA
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                g = W.parse_wkb(bytes(row[geom_col]))
                rings = []
                area = 0.0
                ring_i = 0
                for nrings in g.part_rings:
                    for j in range(int(nrings)):
                        s, e = (g.ring_offsets[ring_i],
                                g.ring_offsets[ring_i + 1])
                        cx, cy = CL.sh_clip_ring(
                            g.xs[s:e], g.ys[s:e], x0, y0, x1, y1)
                        ring_i += 1
                        if len(cx) < 3:
                            continue
                        a = CL.ring_area(cx, cy)
                        # ring orientation encodes shell vs hole; the
                        # signed sum is the clipped area
                        if j == 0:
                            area += abs(a)
                        else:
                            area -= abs(a)
                        rings.append(list(zip(cx.tolist(), cy.tolist())))
                if not rings or area <= 0:
                    continue
                rows.append(
                    {**{c: row[c] for c in cols},
                     "clip_wkb": W.polygon_wkb(rings),
                     "clip_area": float(area),
                     "clip_npts": int(sum(len(r) for r in rings))}
                )
            if rows:
                yield pd.DataFrame(rows)

    return pre.mapInPandas(kernel, out_schema)


# --- general layer algebra (Intersection / Union / Erase / Identity) -----

_PIECE_FIELDS = [
    T.StructField("piece_wkb", T.BinaryType()),
    T.StructField("piece_area", T.DoubleType()),
    T.StructField("piece_npts", T.IntegerType()),
]


def _piece(rings, area):
    """The _PIECE_FIELDS values of a ring soup of even-odd area ``area``."""
    return (OVK.rings_to_wkb(rings), float(area),
            int(sum(len(xs) for xs, _ in rings)))


def _areal(rings):
    """[_piece] of a set-op result, or [] when it has no positive area."""
    area = OVK.rings_area(rings)
    return [_piece(rings, area)] if rings and area > 0 else []


def _pairs(spark, feats, polys, grid=None):
    """Candidate (feature, polygon) pairs from spatial_join_polygons: the
    exact strict-interior intersects refine, or, for the snapped tier, the
    closed-envelope candidates dilated by the snap ``grid`` (boundary-only
    contacts must reach the kernel, which decides emptiness itself)."""
    if grid is None:
        return SJ.spatial_join_polygons(spark, feats, polys)
    return SJ.spatial_join_polygons(spark, feats, polys,
                                    predicate="candidates_closed",
                                    dilate=float(grid))


def _per_pair(spark, pairs, polys, fields, fn):
    """The layer-algebra pair loop (ogrlayer.cpp:5385+): one Arrow pass
    over the candidate pairs. It parses feature A's rings once per pair,
    looks polygon B's rings up in the broadcast layer and emits
    ``(fid, a_id, eas_id, *t)`` for every field tuple t of
    ``fn(ra, rb)``. Features never shuffle."""
    layer = SJ.broadcast_layer(spark, polys)
    schema = T.StructType([pairs.schema["fid"], pairs.schema["a_id"],
                           T.StructField("eas_id", T.LongType())] + fields)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rings_by_fid = layer.geoms(OVK.geometry_rings)
            rows = []
            for fid, a_id, eas, buf, bf in zip(
                    pdf["fid"], pdf["a_id"], pdf["eas_id"], pdf["geometry"],
                    pdf["b_fid"]):
                ra = OVK.geometry_rings(W.parse_wkb(bytes(buf)))
                rows += [(fid, a_id, int(eas), *t)
                         for t in fn(ra, rings_by_fid[int(bf)])]
            if rows:
                yield pd.DataFrame(rows, columns=schema.fieldNames())

    return pairs.mapInPandas(kernel, schema)


def overlay_features(spark, feats: DataFrame, polys, op: str) -> DataFrame:
    """Pairwise layer-algebra overlay: for every intersecting
    (feature, polygon) pair, emit the boolean-op geometry.

    op='intersection' is OGRLayer::Intersection (ogrlayer.cpp:5385): one
    output row per intersecting pair with both sides' attributes.
    op='union' emits the PAIRWISE union piece (the A∪B geometry per
    matched pair — area oracle: |A| + |B| − |A∩B|).

    feats needs (fid, a_id, geometry WKB, bbox struct); every layer-algebra
    function here returns (fid, a_id, eas_id, ...) rows.
    """
    return _per_pair(spark, _pairs(spark, feats, polys), polys, _PIECE_FIELDS,
                     lambda ra, rb: _areal(OVK.overlay_rings(ra, rb, op)))


def _split(spark, feats, polys, pieces: bool) -> DataFrame:
    """Each feature minus the union of every polygon it intersects, as
    (fid, a_id, eas_id NULL, piece fields); with ``pieces`` also one A∩B
    piece per intersecting polygon (eas_id set). Features intersecting
    nothing pass through whole; features fully erased are dropped.

    Plan shape: matched pairs -> groupBy(feature) -> applyInPandas fold
    (the method layer broadcasts; each feature's fold is O(matched polys)
    kernel calls), then a left-anti union for the untouched features —
    two jobs total, no feature payload shuffle beyond the matched subset.
    """
    # pin the matched-pair table: both the piece fold and the untouched
    # left-anti read it — unmaterialized, the whole cell-cover join +
    # PIP refine chain evaluates twice (measured ~0.3s/query at sf0.1);
    # the standard materialize-reused-intermediate move (guide §3.3),
    # bounded by the join's matched subset
    matched = _pairs(spark, feats, polys).localCheckpoint()
    layer = SJ.broadcast_layer(spark, polys)
    schema = T.StructType([feats.schema["fid"], feats.schema["a_id"],
                           T.StructField("eas_id", T.LongType())]
                          + _PIECE_FIELDS)
    names = schema.fieldNames()

    def fold(pdf):
        import pandas as pd

        rings_by_fid = layer.geoms(OVK.geometry_rings)
        fid, a_id = pdf["fid"].iloc[0], pdf["a_id"].iloc[0]
        ra = OVK.geometry_rings(W.parse_wkb(bytes(pdf["geometry"].iloc[0])))
        eas_by_bfid = {int(b): int(e)
                       for b, e in zip(pdf["b_fid"], pdf["eas_id"])}
        acc, rows = ra, []
        # sorted fold order: difference results are order-independent in
        # exact arithmetic but not in floats — keep runs reproducible
        for bf in sorted(eas_by_bfid):
            rb = rings_by_fid[bf]
            if pieces:
                rows += [(fid, a_id, eas_by_bfid[bf], *t) for t in
                         _areal(OVK.overlay_rings(ra, rb, "intersection"))]
            if acc:
                acc = OVK.overlay_rings(acc, rb, "difference")
        rows += [(fid, a_id, None, *t) for t in _areal(acc)]
        return pd.DataFrame(rows, columns=names)

    def whole(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for fid, a_id, buf in zip(pdf["fid"], pdf["a_id"], pdf["geometry"]):
                rings = OVK.geometry_rings(W.parse_wkb(bytes(buf)))
                rows.append((fid, a_id, None,
                             *_piece(rings, OVK.rings_area(rings))))
            if rows:
                yield pd.DataFrame(rows, columns=names)

    untouched = feats.join(
        matched.select("fid").distinct(), "fid", "left_anti"
    )
    return matched.groupBy("fid").applyInPandas(fold, schema).unionByName(
        untouched.mapInPandas(whole, schema))


def erase_features(spark, feats: DataFrame, polys) -> DataFrame:
    """Layer-algebra Erase (ogrlayer.cpp:6158): each feature minus the
    union of every polygon it intersects; features intersecting nothing
    pass through whole. Output: (fid, a_id, piece_wkb, piece_area,
    piece_npts); features fully erased are dropped."""
    return _split(spark, feats, polys, pieces=False).drop("eas_id")


def identity_features(spark, feats: DataFrame, polys) -> DataFrame:
    """Layer-algebra Identity (``ogrlayer.cpp:6770``): every input
    feature split by the method layer — one A∩B piece per intersecting
    method polygon (method attributes set) plus the A − ∪B residual
    piece with method attributes NULL; features touching nothing pass
    through whole (also NULL method attrs).

    SINGLE-PASS shape (not Intersection ∪ Erase, which would scan and
    join the 100 TB feature side twice): the Erase plan, whose fold also
    emits every intersection piece from the same Arrow batch.
    """
    return _split(spark, feats, polys, pieces=True)


def update_features(spark, feats: DataFrame, polys) -> DataFrame:
    """Layer-algebra Update (``ogrlayer.cpp:7188``): the input layer
    with the method-layer footprints replaced by the method features —
    A − ∪B pieces carrying the input attributes, plus every method
    feature whole (input attributes NULL; OGR keeps only the A schema,
    so like OGR we surface no method fields beyond the identifying
    ``eas_id``).

    The method layer is the broadcast-scale dim side (it already ships
    to every executor), so its whole-feature rows are built driver-side
    — no extra job.
    """
    er = _split(spark, feats, polys, pieces=False)
    rows = []
    for pf in polys:
        rings = OVK.geometry_rings(W.parse_wkb(pf.wkb()))
        wkb, area, npts = _piece(rings, OVK.rings_area(rings))
        rows.append((None, None, int(pf.eas_id), bytearray(wkb), area, npts))
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in er.schema]
    )
    return er.unionByName(local_df(spark, rows, schema))


def overlay_features_snapped(spark, feats: DataFrame, polys, op: str,
                             grid: float) -> DataFrame:
    """Layer-algebra overlay WITHOUT the general-position contract: both
    sides pass through the snap-rounding kernel (kernels/snap.py), so
    vertex-on-edge contacts, shared collinear edges and near-coincident
    boundaries — the cases overlay_features refuses — are handled.  The
    GEOS analog is ST_SetPrecision + snap-rounded overlay; the reference
    reaches the same semantics via the layer-algebra SNAP options
    (ogr/ogrsf_frmts/generic/ogrlayer.cpp:5402).

    Plan shape matches overlay_features with one difference: candidates
    use the CLOSED envelope comparison dilated by ``grid`` and skip the
    strict-interior refine (``_pairs``); pairs whose op result is empty
    simply emit nothing.

    ``grid`` is the snap resolution in world units (power of two). Output
    rows carry the AREAL result only (boundary-only contacts yield no row
    for op='intersection').
    """
    return _per_pair(
        spark, _pairs(spark, feats, polys, grid), polys, _PIECE_FIELDS,
        lambda ra, rb: _areal(SN.overlay_rings_snapped(ra, rb, op, grid)))


def overlay_areas_features_snapped(spark, feats: DataFrame, polys,
                                   grid: float) -> DataFrame:
    """Per-pair snapped overlay AREAS — intersection, union and A−B in
    ONE noding+classification pass per pair (kernels/snap.
    overlay_areas_snapped), over the same closed-envelope candidate
    plan as overlay_features_snapped. The shape for per-pair area
    reports where the geometries themselves aren't needed."""
    def areas(ra, rb):
        ar = SN.overlay_areas_snapped(ra, rb, float(grid))
        return [(float(ar["i"]), float(ar["u"]), float(ar["d"]))]

    fields = [T.StructField(c, T.DoubleType())
              for c in ("i_area", "u_area", "d_area")]
    return _per_pair(spark, _pairs(spark, feats, polys, grid), polys,
                     fields, areas)


def overlay_lines_features_snapped(spark, feats: DataFrame, polys,
                                   grid: float) -> DataFrame:
    """Per-pair LOWER-DIMENSIONAL overlay component — the LINESTRING
    rows GDAL's layer algebra emits for boundary-only intersections
    (KEEP_LOWER_DIMENSION_GEOMETRIES, ogrlayer.cpp:5402-5411; GEOS
    returns the shared edge when two polygons touch along a border).
    kernels/snap.overlay_lines_snapped classifies snap-rounded
    sub-segments by boundary provenance + side membership and
    stitches shared polylines; rows report count and exact total
    length per pair (pairs with an empty line component emit no row,
    mirroring the areal queries' >0 filters)."""
    def lines(ra, rb):
        got = SN.overlay_lines_snapped(ra, rb, float(grid))
        if not got:
            return []
        return [(len(got), float(sum(
            float(np.hypot(np.diff(xs), np.diff(ys)).sum())
            for xs, ys in got)))]

    fields = [T.StructField("n_lines", T.IntegerType()),
              T.StructField("total_len", T.DoubleType())]
    return _per_pair(spark, _pairs(spark, feats, polys, grid), polys,
                     fields, lines)


def overlay_points_features_snapped(spark, feats: DataFrame, polys,
                                    grid: float) -> DataFrame:
    """Per-pair dimension-0 overlay component — the POINT rows of
    KEEP_LOWER_DIMENSION_GEOMETRIES (corner touches, T-contact
    apexes); kernels/snap.overlay_points_snapped. Pairs with an empty
    point component emit no row."""
    def points(ra, rb):
        return [(float(px), float(py))
                for px, py in SN.overlay_points_snapped(ra, rb, float(grid))]

    fields = [T.StructField(c, T.DoubleType()) for c in ("px", "py")]
    return _per_pair(spark, _pairs(spark, feats, polys, grid), polys,
                     fields, points)


def predicates_snapped(spark, feats: DataFrame, polys,
                       grid: float) -> DataFrame:
    """Boundary-aware OGC predicates on SNAPPED inputs — the predicate
    half of the snap-rounding tier (ogrlayer.cpp SetSpatialFilter +
    OGRGeometry::Touches :6082 / Overlaps :6409 / Equals :1239, GEOS
    replaced by the exact-lattice kernel): vertex-on-edge and
    shared-edge contacts that the general-position polypoly predicates
    refuse are first made exact by the snap, then every predicate
    derives from two exact quantities — the areal overlay areas and the
    lattice boundary-contact test (kernels/snap.
    boundaries_touch_snapped):

      intersects = touch OR i > 0          touches = touch AND i == 0
      equals     = i == |A| == |B|         covers  = |B − A| == 0
      overlaps   = 0 < i < min(|A|, |B|)

    Same candidate plan as overlay_features_snapped (closed envelopes +
    grid dilation, no refine UDF)."""
    g = float(grid)

    def predicates(ra, rb):
        a_area = SN.rings_area(SN.snap_rings(ra, g))
        b_area = SN.rings_area(SN.snap_rings(rb, g))
        # one arrangement pass yields every needed area
        ar = SN.overlay_areas_snapped(ra, rb, g)
        i_area = ar["i"]
        touch = SN.boundaries_touch_snapped(ra, rb, g)
        return [(bool(touch or i_area > 0), bool(touch and i_area == 0),
                 bool(i_area == a_area == b_area), bool(ar["db"] == 0.0),
                 bool(0 < i_area < min(a_area, b_area)))]

    fields = [T.StructField(c, T.BooleanType()) for c in
              ("intersects", "touches", "equals", "covers", "overlaps")]
    return _per_pair(spark, _pairs(spark, feats, polys, grid), polys,
                     fields, predicates)


def dissolve(spark, feats: DataFrame, group_col: str = "gid",
             geom_col: str = "geometry", fanin: int = 8,
             snap_grid: float = None) -> DataFrame:
    """Dissolve / UnaryUnion per attribute value
    (``apps/gdalalg_vector_dissolve.cpp:120``; per-group set op =
    ``ogrgeometry.cpp:5437`` UnionCascaded, GEOS replaced by the
    edge-classification union fold of kernels/overlay_kernel.py).

    Distributed shape — the partial-aggregation (map-side combine)
    pattern, NOT one giant per-group fold: stage 1 unions each
    (group, salt) slice independently (salt = xxhash64(geometry) mod
    fanin, deterministic), stage 2 folds the ≤fanin partials per group.
    A group 1000× larger only widens stage 1; stage 2 stays O(fanin)
    per group. Disjoint-envelope pairs short-circuit inside the kernel,
    so mostly-disjoint groups cost envelope tests, not overlays.

    Returns (group_col, n_parts, u_area, union_wkb): number of connected
    parts (CCW shells of the union), even-odd union area, union WKB.

    ``snap_grid`` (round 4): union through the SNAP-ROUNDING n-way
    kernel instead of the general-position fold — members sharing
    borders (the standard admin-layer dissolve: every internal boundary
    is a shared edge) are outside the general-position contract; the
    snapped path handles them exactly (one arrangement pass per
    partial, kernels/snap.overlay_rings_snapped_n).
    """
    import pandas as pd

    def _union(soups):
        if snap_grid is not None:
            if not soups:
                return []
            return SN.overlay_rings_snapped_n(
                soups[0], [[r] for sp in soups[1:] for r in sp],
                "union", snap_grid)
        return OVK.union_all_rings(soups)

    gfield = feats.schema[group_col]

    partial_schema = T.StructType(
        [gfield, T.StructField("partial_wkb", T.BinaryType())]
    )

    def partial(pdf: "pd.DataFrame") -> "pd.DataFrame":
        soups = [
            OVK.geometry_rings(W.parse_wkb(bytes(b)))
            for b in sorted(pdf[geom_col], key=bytes)
        ]
        u = _union(soups)
        return pd.DataFrame(
            [{group_col: pdf[group_col].iloc[0],
              "partial_wkb": OVK.rings_to_wkb(u)}]
        )

    out_schema = T.StructType(
        [
            gfield,
            T.StructField("n_parts", T.IntegerType()),
            T.StructField("u_area", T.DoubleType()),
            T.StructField("union_wkb", T.BinaryType()),
        ]
    )

    def final(pdf: "pd.DataFrame") -> "pd.DataFrame":
        soups = [
            OVK.geometry_rings(W.parse_wkb(bytes(b)))
            for b in sorted(pdf["partial_wkb"], key=bytes)
        ]
        u = _union(soups)
        n_parts = sum(1 for xs, ys in u if CL.ring_area(xs, ys) > 0)
        return pd.DataFrame(
            [{group_col: pdf[group_col].iloc[0],
              "n_parts": int(n_parts),
              "u_area": float(OVK.rings_area(u)),
              "union_wkb": OVK.rings_to_wkb(u)}]
        )

    staged = (
        feats.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(geom_col)), F.lit(int(fanin)))
        )
        .groupBy(group_col, "_salt")
        .applyInPandas(partial, partial_schema)
    )
    return staged.groupBy(group_col).applyInPandas(final, out_schema)
