"""Checkpointed stage writes with per-partition lineage + resumability.

North-rule requirement: every stage checkpoints with per-partition lineage
and throughput metrics so any run is resumable mid-pyramid. The GDAL
precedent is the pipeline's ``materialize`` step
(``/root/reference/apps/gdalalg_vector_pipeline.cpp`` registry; SURVEY
§2.L: materialize ≙ checkpoint).

Layout (parquet here; the Iceberg mapping is 1:1 — ``writeTo(...).append()``
with the same lineage columns, and the metrics table as a separate Iceberg
table; this container has no Iceberg runtime jars so the parquet layout is
the tested path):

    {root}/{stage}/data/...            partitioned by unit_id
    {root}/{stage}/_metrics/...        one row per written unit

A **unit** is the resumability grain — e.g. a zoom level, a tile-key range,
a date bucket. ``completed_units`` reads the metrics table; ``run_stage``
anti-joins the unit list against it so a re-run only computes missing
units (crash-resume = re-invoke the same driver)."""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F


class StageWriter:
    def __init__(self, spark: SparkSession, root: str, run_id: str):
        self.spark = spark
        self.root = root
        self.run_id = run_id

    def _data_path(self, stage: str) -> str:
        return f"{self.root}/{stage}/data"

    def _metrics_path(self, stage: str) -> str:
        return f"{self.root}/{stage}/_metrics"

    def completed_units(self, stage: str) -> set:
        """Unit ids with a metrics row. A stage that was never written (no
        metrics path), or whose metrics dir holds no committed file (only
        the hidden ``_temporary`` output of a crashed first append), reads
        as empty; an unreadable metrics table raises, so it cannot silently
        re-run every unit."""
        try:
            rows = (
                self.spark.read.parquet(self._metrics_path(stage))
                .select("unit_id").distinct().collect()
            )
        except AnalysisException as e:
            cond = e.getCondition()
            if cond == "PATH_NOT_FOUND" or (
                    cond == "UNABLE_TO_INFER_SCHEMA"
                    and not self._has_committed_file(stage)):
                return set()
            raise
        return {r["unit_id"] for r in rows}

    def _has_committed_file(self, stage: str) -> bool:
        """True when the metrics dir holds a file or dir that is not
        hidden (``_`` / ``.`` prefix), i.e. some committed output."""
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self._metrics_path(stage))
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return any(not st.getPath().getName().startswith(("_", "."))
                   for st in fs.listStatus(path))

    def run_stage(self, stage: str, units: list, build_unit) -> DataFrame:
        """Compute and persist each not-yet-completed unit.

        units: list of unit ids (strings). build_unit(unit_id) -> DataFrame.
        Each unit lands atomically: data first (overwrite of its partition
        dir), then the metrics row — a unit missing its metrics row is
        re-run, so partial writes never count as done."""
        done = self.completed_units(stage)
        todo = [u for u in units if u not in done]
        for unit in todo:
            t0 = time.perf_counter()
            df = build_unit(unit).withColumn("unit_id", F.lit(unit)).withColumn(
                "run_id", F.lit(self.run_id)
            )
            df.write.mode("overwrite").parquet(f"{self._data_path(stage)}/{unit}")
            secs = time.perf_counter() - t0
            rows = self.spark.read.parquet(f"{self._data_path(stage)}/{unit}").count()
            metrics = self.spark.createDataFrame(
                [(stage, unit, self.run_id, rows, float(secs),
                  float(rows / secs) if secs > 0 else 0.0, int(time.time()))],
                "stage STRING, unit_id STRING, run_id STRING, rows BIGINT, "
                "secs DOUBLE, rows_per_sec DOUBLE, ts BIGINT",
            )
            metrics.write.mode("append").parquet(self._metrics_path(stage))
        return self.read_stage(stage)

    def read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.option("recursiveFileLookup", "false").parquet(
            f"{self._data_path(stage)}/*"
        )

    def metrics(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._metrics_path(stage))
