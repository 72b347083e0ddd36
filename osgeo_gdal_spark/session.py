"""SparkSession helper with the engine's scale-oriented defaults."""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app="osgeo-gdal-spark", cores=None, shuffle_partitions=None,
              pin_cpus=False) -> SparkSession:
    """Local session tuned like the cluster profile.

    - AQE on (runtime coalesce + skew-join splitting — the cluster-side
      complement of our explicit hot-cell salting).
    - AQE coalescing SIZES partitions instead of padding them out to the
      core count (``parallelismFirst=false`` — the documented "reasonable
      partition size" policy, optimization guide §2.2): a shuffle's
      post-coalesce width follows its BYTES (advisory size
      $SPARK_GRAFT_ADVISORY_PARTITION; min 1m), so a large exchange
      still fans out to many tasks while a 100 KB label-propagation
      round collapses to one task instead of 32 scheduler round-trips.
      The LOCAL default is 4m (measured sweep of {1m, 4m, 8m, 64m}
      across the text, polygonize, blend and packing families): local
      CPU-heavy stages carry only a few MB per useful core, and a 64m
      advisory measurably serialized them onto one task (decontaminate
      1.2->2.5s) while 1m over-coalesced the mid-size packing/blend
      shuffles (pack_sequences 0.18->0.31s); production clusters should
      set 64-256m per the guide, which the env var does without a code
      change.
    - Arrow enabled for all pandas UDF / toPandas paths; Arrow batches
      bounded by BYTES (64 MiB) rather than only the 10k-row default, so
      skinny pixel tables cross the Python boundary in fewer, larger
      batches while fat binary-tile rows stay memory-bounded
      ($SPARK_GRAFT_ARROW_BATCH rows, default 65536 — guide §4.2).
    - UTC session timezone (oracle comparisons are TZ-sensitive).
    - shuffle partitions ~ cores for local runs (200 is wrong at both
      ends); AQE's size-based coalescing above is what adapts the
      EFFECTIVE width to the data, so this initial width only bounds the
      map-side fan-out.
    """
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "4m"))
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "1m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if pin_cpus:
        # honest N-core simulation for scaling-efficiency runs: without
        # this, a local[8] JVM still runs GC/JIT/IO threads on all machine
        # cores and the 8-core timing looks better than 8 cores deliver
        b = b.config(
            "spark.driver.extraJavaOptions", f"-XX:ActiveProcessorCount={cores}"
        )
    return b.getOrCreate()


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-testdata table. In production these are Iceberg
    tables (spark.read.table); parquet here — same columnar scan path,
    same Catalyst pushdown behavior."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def local_df(spark: SparkSession, rows, schema):
    """``createDataFrame`` for DRIVER-BUILT local tables, routed through
    pandas + Arrow. The plain-list path parallelizes PICKLED rows into a
    Python-RDD scan — every downstream evaluation then launches a Python
    worker per partition just to deserialize the rows (measured ~0.13 s
    per task on this VM; the flagship join paid two such 32-task stages
    per run). The Arrow path yields a JVM-side local relation with exact
    size stats (so broadcast decisions see the true size). Falls back to
    the classic path for rows pandas/Arrow cannot represent faithfully
    (the caller loses nothing but the speedup)."""
    try:
        import pandas as pd

        names = (schema.fieldNames() if hasattr(schema, "fieldNames")
                 else None)
        pdf = pd.DataFrame(list(rows), columns=names)
        if len(pdf) == 0:
            return spark.createDataFrame(rows, schema)
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


_MICRO_KEYS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
               "spark.sql.codegen.wholeStage")


@contextmanager
def micro_conf(spark: SparkSession, shuffle_partitions):
    """Scoped micro-state conf for iterative loops whose per-round state
    is known to be tiny (min-label propagation, shortest-path
    relaxation): shuffle width ``shuffle_partitions``, with AQE and
    whole-stage codegen off alongside (AQE splits every round's action
    into one job per query stage, and codegen compiles throwaway janino
    classes — pure overhead at micro row counts). The three keys are
    restored on exit, also when the body raises; ``None`` is a no-op
    (the at-scale default)."""
    if shuffle_partitions is None:
        yield
        return
    saved = [spark.conf.get(k) for k in _MICRO_KEYS]
    for k, v in zip(_MICRO_KEYS, (str(int(shuffle_partitions)), "false",
                                  "false")):
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in zip(_MICRO_KEYS, saved):
            spark.conf.set(k, v)
