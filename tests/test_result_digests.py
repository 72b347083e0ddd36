"""Result-digest pin for the spatial-join, overlay, zonal and per-tile
raster operators.

Each case's Spark rows are canonicalized (columns ordered by name, rows
sorted by their repr, floats and the raw ``piece_wkb`` / ``geometry``
bytes kept exactly) and hashed with SHA-256. The pinned digests make a
refactor of these operators prove byte-identical output: the DuckDB
oracles round areas and never see the emitted WKB.

The overlay cases hash the operator's full output, not the registered
query's projection, so the emitted geometry bytes are covered too.

The raster cases (``RASTER_CASES``) hash each per-tile operator's full
output the same way: every column, with the raw ``pixels`` / ``png`` /
``tif`` / ``cog`` bytes, ``dtype`` and ``checksum``. Their digests were
taken at commit 04dfce3, before the operators moved onto
``sources.raster.tile_map`` / ``tile_cogroup``; those of the pyramid,
overview-refresh, warp, resize, viewshed, fractional-zonal, calc and
rasterize cases at commit 6237064, before their box -> tile gathers moved
onto ``sources.raster.tile_cover`` and their mosaic loops onto
``tile_cogroup``.
"""

import hashlib

import pytest

from osgeo_gdal_spark import entry_queries as EQ
from pyspark.sql import functions as F

from osgeo_gdal_spark.operators import (
    contour as CT, focal as FO, overlay as OV, polygonize as PZ,
    proximity as PX, raster_ops as RO, rasterize as RZ, spatial_join as SJ,
    tiling as TL)
from osgeo_gdal_spark.sources import (
    pages as PG, polygons as PL, raster as RS)
from tests.conftest import SF_DIR_ORACLE


def _tindex(op):
    return lambda s: OV.overlay_features(s, PL.tindex_df(s), PL.POLYGONS, op)


def _contact(fn, *args):
    return lambda s: fn(s, PL.contact_feats_df(s), PL.contact_polys(),
                        *args, grid=PL.CONTACT_GRID)


def _query(name):
    return lambda s: EQ.QUERIES[name](s, SF_DIR_ORACLE)


def _pages(how):
    return lambda s: SJ.spatial_join(
        s, PG.pages_df(s, SF_DIR_ORACLE), PL.POLYGONS, how=how)


CASES = {
    "overlay_intersection": _tindex("intersection"),
    "overlay_union": _tindex("union"),
    "overlay_symdiff": _tindex("symdifference"),
    "overlay_erase": lambda s: OV.erase_features(
        s, PL.tindex_df(s), PL.POLYGONS),
    "overlay_identity": lambda s: OV.identity_features(
        s, PL.tindex_df(s), PL.POLYGONS),
    "overlay_update": lambda s: OV.update_features(
        s, PL.tindex_df(s), PL.POLYGONS),
    "overlay_snapped": _contact(OV.overlay_areas_features_snapped),
    "overlay_snapped_lines": _contact(OV.overlay_lines_features_snapped),
    "overlay_snapped_points": _contact(OV.overlay_points_features_snapped),
    "predicates_snapped": _contact(OV.predicates_snapped),
    "spatial_join_polygons": lambda s: SJ.spatial_join_polygons(
        s, PL.tindex_df(s), SJ.broadcast_layer(s, PL.POLYGONS)),
    "raster_zonal": _query("raster_zonal"),
    "raster_zonal_full": _query("raster_zonal_full"),
    "spatial_semi_anti": _query("spatial_semi_anti"),
    "spatial_join_semi": _pages("semi"),
    "spatial_join_anti": _pages("anti"),
}

Z = EQ.RASTER_ZOOM


def _synth(s):
    return RS.synth_tiles(s, Z)


def _rgba(s, name="base"):
    return RS.synth_rgba_tiles(s, Z, name)


def _patch(s):
    return RS.synth_tiles(s, Z, dataset_id="patch", coeffs=(13, 5),
                          nodata=EQ.UPDATE_NODATA).filter(F.col("gx") == 0)


def _rgb3(s):
    out = None
    for b, cf in {1: (7, 11), 2: (5, 13), 3: (3, 17)}.items():
        t = RS.synth_tiles(s, Z, dataset_id=f"b{b}", coeffs=cf) \
            .withColumn("band", F.lit(b))
        out = t if out is None else out.unionByName(t)
    return out


def _warp_cutline(s):
    w = EQ.WARP
    shapes = RZ.shapes_from_features(EQ._cutline_features(), lambda p: 1.0)
    return RO.warp_cutline(_synth(s), Z, ("affine", w["a"], w["b"], w["c"],
                                         w["d"]), shapes, nodata=-1.0)


def _scale(s):
    s0, s1, d0, d1, e = EQ.SCALE_PARAMS
    return RO.scale_tiles(_synth(s), s0, s1, d0, d1, exponent=e)


def _overview_refresh(s):
    base = RS.synth_tiles(s, 2)
    patch = RS.synth_tiles(s, 2, dataset_id="patch", coeffs=(13, 5),
                           nodata=EQ.UPDATE_NODATA).filter(F.col("gx") == 0)
    return RO.overview_refresh(RO.update_tiles(base, patch, EQ.UPDATE_NODATA),
                               patch.select("gx", "gy"))


def _warp_agg(method):
    a, b = EQ.WARP_AGG["a"], EQ.WARP_AGG["b"]
    return lambda s: RO.warp_tiles(_synth(s), Z, ("affine", a, b, a, b),
                                   method=method, nodata=-1.0)


def _raster_calc(s):
    a = _synth(s)
    b = RO.translate_tiles(a, scale=2.0, offset=3.0, out_dtype="float64") \
        .drop("_ox0", "_oy0")
    return RO.raster_calc({"A": a, "B": b},
                          "where(A > 128, A - B / 4, A + sqrt(B))")


def _rasterize(s):
    shapes = RZ.shapes_from_features(PL.POLYGONS, lambda p: p.eas_id)
    return RZ.rasterize(s, shapes, EQ.RASTERIZE_ZOOM)


def _small(s):
    """A 20x20 pixel window over the z1 tile seam: four small tiles that
    carry ``_ox0`` / ``_oy0``."""
    return RO.translate_tiles(_synth(s), srcwin=(246, 246, 20, 20))


RASTER_CASES = {
    "raster_translate_tiles": lambda s: RO.translate_tiles(
        _synth(s), scale=0.5, offset=3.0, out_dtype="int16",
        srcwin=(100, 200, 300, 150)),
    "raster_explode_pixels": lambda s: RO.explode_pixels(
        _synth(s), window=(250, 250, 12, 12)),
    "raster_explode_pixels_origin": lambda s: RO.explode_pixels(_small(s)),
    "raster_explode_pixels_banded": lambda s: RO.explode_pixels_banded(
        _rgba(s), window=(252, 252, 8, 8)),
    "raster_resample_tiles": lambda s: RO.resample_tiles(
        _synth(s), 128, "cubic"),
    "raster_warp_cutline": _warp_cutline,
    "raster_histogram": lambda s: RO.histogram(_synth(s), 16.0),
    "raster_reclassify_tiles": lambda s: RO.reclassify_tiles(
        _synth(s), EQ.RECLASS_MAPPING, nodata=EQ.RECLASS_NODATA),
    "raster_scale_tiles": _scale,
    "raster_band_classify": lambda s: CT.band_classify(
        _synth(s), [50.0, 100.0, 200.0]),
    "raster_focal_strips": lambda s: FO.focal_dem(_synth(s), Z, "hillshade"),
    "raster_footprint": lambda s: PZ.footprint(
        RS.synth_category_tiles(s, Z, block=96), Z, lambda g: g == 1,
        shuffle_partitions=1, walk_partitions=16),
    "raster_extract_targets": lambda s: PX.extract_targets(_synth(s), 17.0),
    "raster_explode_tile_pixels": lambda s: TL.explode_tile_pixels(_small(s)),
    "raster_encode_png": lambda s: TL.encode_png_tiles(_synth(s), band=1),
    "raster_encode_gtiff": lambda s: TL.encode_gtiff_tiles(_synth(s),
                                                           band=1),
    "raster_encode_cog": lambda s: TL.encode_cog_tiles(_synth(s), band=1),
    "raster_q_mosaic_overlay": _query("mosaic_overlay"),
    "raster_q_fillnodata": _query("fillnodata_checksums"),
    "raster_mosaic_overlay": lambda s: RO.mosaic_overlay(
        [_synth(s), _patch(s)], 0.0),
    "raster_blend_tiles": lambda s: RO.blend_tiles(
        _rgba(s), _rgba(s, "over"), mode="src_over", opacity=60),
    "raster_blend_tiles_multiply": lambda s: RO.blend_tiles(
        _rgba(s), _rgba(s, "over"), mode="multiply", opacity=60),
    "raster_compare_tiles": lambda s: RO.compare_tiles(
        _rgba(s), _rgba(s, "over")),
    "raster_update_tiles": lambda s: RO.update_tiles(
        _synth(s), _patch(s), EQ.UPDATE_NODATA),
    "raster_nodata_to_alpha": lambda s: RO.nodata_to_alpha_tiles(
        _synth(s).withColumn("nodata", F.lit(77.0))),
    "raster_pansharpen": lambda s: RO.pansharpen(
        RS.synth_tiles(s, Z, dataset_id="pan", coeffs=(2, 9)), _rgb3(s),
        weights=EQ.PANSHARP_W),
    "raster_encode_png_rgb": lambda s: TL.encode_png_tiles(_rgba(s),
                                                           rgb=True),
    "raster_encode_gtiff_rgb": lambda s: TL.encode_gtiff_tiles(
        _rgba(s), compression="deflate", rgb=True),
    "raster_pyramid_average": lambda s: RO.pyramid_reduce(_synth(s),
                                                          "average"),
    "raster_pyramid_mode": lambda s: RO.pyramid_reduce(_synth(s), "mode"),
    "raster_pyramid_rms": lambda s: RO.pyramid_reduce(_synth(s), "rms"),
    "raster_overview_refresh": _overview_refresh,
    "raster_warp_bilinear": lambda s: RO.warp_affine(
        _synth(s), Z, EQ.WARP["a"], EQ.WARP["b"], EQ.WARP["c"],
        EQ.WARP["d"]),
    "raster_warp_average": _warp_agg("average"),
    "raster_warp_med": _warp_agg("amed"),
    "raster_warp_geodetic": lambda s: RO.warp_reproject_geodetic(
        _synth(s), Z),
    "raster_resize_tiles": lambda s: RO.resize_tiles(_synth(s), Z, 0),
    "raster_viewshed": lambda s: RO.viewshed(
        _synth(s), Z, EQ.VIEWSHED_OBS, EQ.VIEWSHED_R, EQ.VIEWSHED_H),
    "raster_viewshed_cumulative": lambda s: RO.viewshed(
        _synth(s), Z, EQ.CUMVS_OBS, EQ.CUMVS_R, EQ.VIEWSHED_H),
    "raster_zonal_frac": lambda s: RO.raster_zonal_frac(
        _synth(s), EQ.FRAC_ZONES, Z),
    "raster_zonal_frac_poly": lambda s: RO.raster_zonal_frac_poly(
        _synth(s), EQ.FRAC_POLY_ZONES, Z),
    "raster_calc": _raster_calc,
    "raster_rasterize": _rasterize,
}
CASES.update(RASTER_CASES)

# SHA-256 of canonical_rows(), taken before the broadcast-layer refactor
# (the raster cases: see the module docstring)
DIGESTS = {
    "overlay_erase": "7b857733938fe7311470d7a6d9881e1467487325c6e0c7e9bb5dc1023764cdaa",
    "overlay_identity": "6f2dff49793b0878e351b0fb63169cf16c81b5ae7951188bdc5e54eef5e36c13",
    "overlay_intersection": "193d47635cd122cb2dbbcebe196c0abccf92d7e530b9cdbc22f3b39b7fa24f84",
    "overlay_snapped": "0105e7e1d6374f65484f6e729815f4c04878bb98fe9e994d6d7065dd4dc16656",
    "overlay_snapped_lines": "c6663304fe49b9fb3bf8d4bc12c90c1e58cebb1072202d646a061f318544f3bf",
    "overlay_snapped_points": "bf3a21819b1192ee18b740d7e5ace92989e9228b23de7c34b39967c2d66fca74",
    "overlay_symdiff": "d61fa9ddbd32b752a4eddca45528c7cfb202d5b248171dd41526dd88c31588da",
    "overlay_union": "e9d6ce693434238ae711242298daefa61264d92e65553e6ce177153b6d92e2dc",
    "overlay_update": "f38f0f4a49c8d74f4cd18573078b0158547f758e985ce4094e700ab810acb6fc",
    "predicates_snapped": "f65f961cdf55b189e18881a22e36399685114585f7ec8b499d638030757a6617",
    "raster_band_classify": "acf5dc936ee6058b27e4a3aa1f895dfc0f1e7c0090b473b15b94dd295e243624",
    "raster_blend_tiles": "c11bcd855127bc708517c46de07f1793aa629f0b9195a6236e3dc997bdd7bf0b",
    "raster_blend_tiles_multiply": "703c8be1663238ef30ccf52747a253432fe34a34b340d2a8e4098d620d4943fd",
    "raster_calc": "ece6366e27f3acb8112943cc5279ef434145b5d5d4e4df8b1270fa0a35697680",
    "raster_compare_tiles": "26c5bee22243923672a84ef67fc1d60084855f83bafec746440772580367b8c2",
    "raster_encode_cog": "fd1c48adfa7856563ae511907d168c889999bf76261970a2effdc423a8d19a9e",
    "raster_encode_gtiff": "ceeb85d79169fc98b60d581a415b5e26479ea0104e854272414e17a0a50030ce",
    "raster_encode_gtiff_rgb": "2ddd9d8770987841140d65089ec9c890626d05ebef3a291e0e2595c37d5c74cf",
    "raster_encode_png": "e10513a63ca7fbef039220273e285b851426bb0395f22aaf499b590a30a61a68",
    "raster_encode_png_rgb": "6e46e2a659f83610b36341907c15af90d2fee80d9ca56b129d3e9bb9a0c1070f",
    "raster_explode_pixels": "6ba6d0036139de320cce67df54cb7befceae6d8c3aa38f5b93661d1af493d5f3",
    "raster_explode_pixels_banded": "6a11dffc36c148ce4bf5cb254fbd392608d41203791e48b015a99a71df6b76dd",
    "raster_explode_pixels_origin": "a95a6a499f0b29efc876f2ae4fd31abf7f6a0f908e19fd54526a9ee49ad317f8",
    "raster_explode_tile_pixels": "a9caace4a28346d16eb65bc5850fdb6e784ddb81560331bba00c1a10510981ca",
    "raster_extract_targets": "f65164f47e6f5122b6393c3073d610e88ecb2b18f40a952f726f55bde3edc599",
    "raster_focal_strips": "5359ea01b2a3c783d1d1f07a4b4f8ec00f166a2e715f72afdbb062d155a1c60e",
    "raster_footprint": "064d8a88d844c1a0a0fe1238325c45e710bf57626bb268e704b5598c73829b15",
    "raster_histogram": "2c8acf9652d7b0b61281bed1671ba85ddc209d38534d31459a6f8bae3c357ea3",
    "raster_mosaic_overlay": "b1786f4ec96f336bae6bb21918208fda4027108e85a2ce41607aa08dfb5f15b7",
    "raster_nodata_to_alpha": "fab98e2f314e6e964117bb5136ce1dc7472fa1e5892cae461271aecf289f9d17",
    "raster_overview_refresh": "6664f39e4732e962919673502ece179169617d8e38266f5febf396d7254dc1ab",
    "raster_pansharpen": "04af897ce97a721884da5d538db3437c15a19197f49b1674b1f0c21db3345f6e",
    "raster_pyramid_average": "cd3936488c06eb001e276949a7c0ae7f2e646f3f12ec19380f84940aa8ce46fc",
    "raster_pyramid_mode": "967ce415da99143f9864cc294567bbbb7e4c55e5c4e23fac727f9b6e4ac39667",
    "raster_pyramid_rms": "ff9810dab305bd52c6ea5fd012cad434bdccfd60bc867cd8381c382b732d05fc",
    "raster_q_fillnodata": "a87ed7155fcc74b89e2316619158ace5cf5519bc3833aeacf65e992c23cd4da9",
    "raster_q_mosaic_overlay": "1783e0c441a169918c029696baecee8fa17fa96e722767f219536f601cbc02a7",
    "raster_rasterize": "ade7f7c29600d1eb1ceb74aa117ee2eef2c96733fe6ba1ca0905caca9db41113",
    "raster_reclassify_tiles": "abe14a94da5ce9f5e9d5813d17f3510d0ebff66722b845ea2a4840be4d46abc1",
    "raster_resample_tiles": "76901bc270080b4e616fa191ecce3fd8531c02b177a47632eb183a9ac93ec99c",
    "raster_resize_tiles": "d8c898f45ac65d03318eb8e0e116197b15b33f3b7b041b00e4886319760d7da5",
    "raster_scale_tiles": "24449b87e51ac3bc039c26c0897af0ec408901f5a3db4fb9412832d64d17226d",
    "raster_translate_tiles": "0920ba4b01d18a0ef3df8bb8be8fb121ee9ed9faa3038cf1c8c044ced0d37a09",
    "raster_update_tiles": "2532d854afa24ef7978190ac21614984c49af9b82dff79e88c5543f91fe6978f",
    "raster_viewshed": "ac11e29aa865bdc2f68797e1edddb90393c1b9c180796c7abc1f3abeb9ac58d4",
    "raster_viewshed_cumulative": "f056a4b57baffaf17df44d191f284cb9f91446b39e82223eed30fc765b9481aa",
    "raster_warp_average": "38e509a9247f112848b02e9c829116ae4f846cc016ad4a17612fd0157f17ffcb",
    "raster_warp_bilinear": "7897451f7f386c83841cd1345bb92b2848919dc5ef8f6fa2ae5f3a0022b0a336",
    "raster_warp_cutline": "995659423d3573453bd65c4632694b4ccaa029eb4c2cd99e80f25574d3a9e41b",
    "raster_warp_geodetic": "734da4c97641633449ce56626dc5ccb5fef26bc9ce91b248940fd74df8d6d13b",
    "raster_warp_med": "e65e8544dacde56e3a7a8aa43850706759d3525c02e7a874884e622953b5e5f7",
    "raster_zonal": "3f728297c3872d899d45dc14694d036d5cfce6610b82a07bd22ed14546b7aafc",
    "raster_zonal_frac": "f3553a518b3db191acac0879e262909cd941c08c09fb37e9f8d41004f8b376ee",
    "raster_zonal_frac_poly": "c915e23dc5d34070508e196eec75b04fd127ddda209284c4fec295c1d93624be",
    "raster_zonal_full": "ad3cca9c1eff53622d1b979180e1a4922451f5d0c5c7702dd6633f378fc9852b",
    "spatial_join_anti": "e9525255317ab7174c448fa71004da062e822965c9da92722d977ff5d807170d",
    "spatial_join_polygons": "78a811a95957867b0b5dc76a3021fb8ad2cccceeb32d383f19dec4027daeece0",
    "spatial_join_semi": "2754e372c3706df926be6f3af767e203cf7cb6511a7b5067e7419e4e9240d172",
    "spatial_semi_anti": "d02f766c91ecb0441c9a2f852dd3350dce16c06f264ef2b7ad7001db3624d3fd",
}


def _canon(v):
    if isinstance(v, bytearray):
        return bytes(v)
    if hasattr(v, "asDict"):
        return tuple(_canon(x) for x in v)
    return v


def canonical_rows(df) -> str:
    """The rows as one string: columns ordered by name, each row the repr
    of its value tuple, rows sorted."""
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(_canon(r[c]) for c in cols))
                  for r in df.select(*cols).collect())
    return repr(cols) + "\n" + "\n".join(rows)


def digest(df) -> str:
    return hashlib.sha256(canonical_rows(df).encode()).hexdigest()


@pytest.mark.parametrize("name", sorted(CASES))
def test_result_digest(spark, name):
    assert digest(CASES[name](spark)) == DIGESTS[name]
