"""Result-digest pin for the spatial-join, overlay and zonal operators.

Each case's Spark rows are canonicalized (columns ordered by name, rows
sorted by their repr, floats and the raw ``piece_wkb`` / ``geometry``
bytes kept exactly) and hashed with SHA-256. The pinned digests make a
refactor of these operators prove byte-identical output: the DuckDB
oracles round areas and never see the emitted WKB.

The overlay cases hash the operator's full output, not the registered
query's projection, so the emitted geometry bytes are covered too.
"""

import hashlib

import pytest

from osgeo_gdal_spark import entry_queries as EQ
from osgeo_gdal_spark.operators import overlay as OV, spatial_join as SJ
from osgeo_gdal_spark.sources import pages as PG, polygons as PL
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
    "overlay_snapped_intersection": _contact(
        OV.overlay_features_snapped, "intersection"),
    "overlay_snapped_union": _contact(OV.overlay_features_snapped, "union"),
    "overlay_snapped_difference": _contact(
        OV.overlay_features_snapped, "difference"),
    "overlay_snapped_lines": _contact(OV.overlay_lines_features_snapped),
    "overlay_snapped_points": _contact(OV.overlay_points_features_snapped),
    "predicates_snapped": _contact(OV.predicates_snapped),
    "spatial_join_polygons": lambda s: SJ.spatial_join_polygons(
        s, PL.tindex_df(s), PL.POLYGONS),
    "raster_zonal": _query("raster_zonal"),
    "raster_zonal_full": _query("raster_zonal_full"),
    "spatial_semi_anti": _query("spatial_semi_anti"),
    "spatial_join_semi": _pages("semi"),
    "spatial_join_anti": _pages("anti"),
}

# SHA-256 of canonical_rows(), taken before the broadcast-layer refactor
DIGESTS = {
    "overlay_erase": "7b857733938fe7311470d7a6d9881e1467487325c6e0c7e9bb5dc1023764cdaa",
    "overlay_identity": "6f2dff49793b0878e351b0fb63169cf16c81b5ae7951188bdc5e54eef5e36c13",
    "overlay_intersection": "193d47635cd122cb2dbbcebe196c0abccf92d7e530b9cdbc22f3b39b7fa24f84",
    "overlay_snapped": "0105e7e1d6374f65484f6e729815f4c04878bb98fe9e994d6d7065dd4dc16656",
    "overlay_snapped_difference": "d52b0dfcc96615feaea43af021e165a7c5a9d76a5784200a22ecc8dbac37faa3",
    "overlay_snapped_intersection": "6497c71c5ec0444b278463e9372c93c8d772aed0bafbe7797eaac29d6eb6bf24",
    "overlay_snapped_lines": "c6663304fe49b9fb3bf8d4bc12c90c1e58cebb1072202d646a061f318544f3bf",
    "overlay_snapped_points": "bf3a21819b1192ee18b740d7e5ace92989e9228b23de7c34b39967c2d66fca74",
    "overlay_snapped_union": "a89823a7ab221b34e0c72bc0a183f10d59f8cb3c1072a308da78f8182b46fc8d",
    "overlay_symdiff": "d61fa9ddbd32b752a4eddca45528c7cfb202d5b248171dd41526dd88c31588da",
    "overlay_union": "e9d6ce693434238ae711242298daefa61264d92e65553e6ce177153b6d92e2dc",
    "overlay_update": "f38f0f4a49c8d74f4cd18573078b0158547f758e985ce4094e700ab810acb6fc",
    "predicates_snapped": "f65f961cdf55b189e18881a22e36399685114585f7ec8b499d638030757a6617",
    "raster_zonal": "3f728297c3872d899d45dc14694d036d5cfce6610b82a07bd22ed14546b7aafc",
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
