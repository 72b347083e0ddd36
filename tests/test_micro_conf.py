"""session.micro_conf: the one scoped micro-state conf primitive."""

import pytest

from osgeo_gdal_spark.session import micro_conf

KEYS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.codegen.wholeStage")


def _conf(spark):
    return tuple(spark.conf.get(k) for k in KEYS)


def test_micro_conf_restores_when_body_raises(spark):
    before = _conf(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with micro_conf(spark, 3):
            assert _conf(spark) == ("3", "false", "false")
            raise RuntimeError("boom")
    assert _conf(spark) == before


def test_micro_conf_none_leaves_conf_untouched(spark):
    before = _conf(spark)
    with micro_conf(spark, None):
        assert _conf(spark) == before
    assert _conf(spark) == before
