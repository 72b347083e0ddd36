"""Stage-writer checkpoint/resume, and the count-min sketch under
Structured Streaming."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark.plans.lineage import StageWriter
from tests.conftest import SF_DIR


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="lineage_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_lineage_checkpoint_and_resume(spark, tmpdir):
    w = StageWriter(spark, tmpdir, run_id="r1")
    calls = []

    def build(unit):
        calls.append(unit)
        n = int(unit)
        return spark.range(n * 10).withColumn("v", F.col("id") * 2)

    out = w.run_stage("tens", ["1", "2", "3"], build)
    assert sorted(calls) == ["1", "2", "3"]
    assert out.count() == 60
    m = w.metrics("tens")
    assert m.count() == 3
    assert set(m.columns) >= {"stage", "unit_id", "run_id", "rows", "secs",
                              "rows_per_sec", "ts"}
    # resume: nothing recomputed
    calls.clear()
    out2 = w.run_stage("tens", ["1", "2", "3"], build)
    assert calls == [] and out2.count() == 60
    # crash-resume: add a unit -> only it runs
    w.run_stage("tens", ["1", "2", "3", "4"], build)
    assert calls == ["4"]


def test_completed_units_of_a_fresh_root_is_empty(spark, tmpdir):
    """A stage that was never written has no metrics path: nothing done."""
    w = StageWriter(spark, os.path.join(tmpdir, "fresh"), run_id="r1")
    assert w.completed_units("tens") == set()


def test_completed_units_raises_on_unreadable_metrics(spark, tmpdir):
    """A metrics table that exists but cannot be read must not read as
    "nothing done" (which would silently re-run every unit)."""
    w = StageWriter(spark, tmpdir, run_id="r1")
    os.makedirs(w._metrics_path("tens"))
    with open(os.path.join(w._metrics_path("tens"), "part-0.parquet"),
              "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        w.completed_units("tens")


def test_completed_units_ignores_uncommitted_temporary(spark, tmpdir):
    """A crash during a stage's first metrics append leaves only Spark's
    hidden ``_temporary`` output: no committed row, so nothing done."""
    w = StageWriter(spark, tmpdir, run_id="r1")
    spark.createDataFrame([("tens", "1")], "stage STRING, unit_id STRING") \
        .write.parquet(os.path.join(tmpdir, "staged"))
    part = [f for f in os.listdir(os.path.join(tmpdir, "staged"))
            if f.endswith(".parquet")][0]
    tmp = os.path.join(w._metrics_path("tens"), "_temporary", "0")
    os.makedirs(tmp)
    shutil.copy(os.path.join(tmpdir, "staged", part), tmp)
    assert w.completed_units("tens") == set()


def test_streaming_count_min_equal_batch(spark):
    """The count-min sketch under Structured Streaming: the merge-by-
    addition property means the streamed d×w counters (complete mode,
    availableNow) equal the batch sketch exactly."""
    from osgeo_gdal_spark.operators.corpus import (
        CMS_A0, CMS_B0, CMS_DA, CMS_DB, FP_MOD, FP_WORD_BASE,
        count_min_sketch)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs_stream = (spark.readStream.schema(docs.schema)
                   .option("pathGlobFilter", "documents.parquet")
                   .option("maxFilesPerTrigger", 4)
                   .parquet(SF_DIR))
    words = docs_stream.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    h = words.select(F.expr(
        f"aggregate(split(word, ''), 0L, "
        f"(acc, c) -> (acc * {FP_WORD_BASE} + ascii(c)) % {FP_MOD})"
    ).alias("h"))
    pairs = ", ".join(
        f"{i}, (({CMS_A0 + CMS_DA * i}L * h + {CMS_B0 + CMS_DB * i}) "
        f"% {FP_MOD}) % 64"
        for i in range(4))
    sk = (h.select(F.expr(f"stack(4, {pairs}) AS (row, bucket)"))
          .groupBy("row", "bucket").count())
    q = (sk.writeStream.format("memory").queryName("cms_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["row"], r["bucket"]): r["count"]
           for r in spark.sql("SELECT * FROM cms_stream").collect()}
    want = {(r["row"], r["bucket"]): r["cnt"]
            for r in count_min_sketch(docs, d=4, w=64).collect()}
    assert got == want

