"""Explicit hot-key skew handling: salting + adaptive repartitioning.

The north rule names this directly: at 10^12 rows, a hot cell (all pages
geocoding to one city — our fixture plants 5% of pages in one Paris cell)
turns any ``groupBy(cell)`` / shuffle-join on the cell key into one
straggler task. GDAL has no analog (single machine, SURVEY §4 skew row).
Three tools, composable:

- ``salted_count``: two-phase aggregation — groupBy((key, salt)) partial,
  then groupBy(key) merge. For algebraic aggs (count/sum/min/max) this is
  exactly what map-side combine already does, so use it only when the
  *post-shuffle* per-key row count is the bottleneck (e.g. collecting
  per-key structures).
- ``salted_join``: replicate the small side S times (key, salt=0..S-1),
  scatter the big side with salt = pmod(hash, S) — every hot key's rows
  spread over S reducers. The classic broadcast-free skew join.
- ``adaptive_repartition``: repartition the big side by (key, salt) where
  the salt fan-out per key is *derived from measured per-key counts* (the
  EDBT'25 adaptive-replication idea from PAPERS.md): heavy keys get more
  splits, light keys get 1 — bounded memory per task without exploding
  task count.

AQE's skew-join splitting (enabled in session.py) is the runtime safety
net; these are the explicit, plan-level levers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_count(df: DataFrame, key_cols: list, salt_buckets=16) -> DataFrame:
    """Two-phase count per key via an explicit salt column.

    Test-only: waits for the skew-aware spatial join (ROADMAP direction
    8), which uses or deletes it."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*key_cols, F.monotonically_increasing_id()),
                        F.lit(salt_buckets))
    )
    partial = salted.groupBy(*key_cols, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(*key_cols).agg(F.sum("_c").alias("cnt"))


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt_buckets=16) -> DataFrame:
    """Skew-resistant equi-join: small side replicated x salt_buckets,
    big side scattered — hot keys spread over salt_buckets reducers.

    Use when the small side is too big to broadcast; otherwise
    broadcast() wins (no shuffle at all).

    Test-only: waits for the skew-aware spatial join (ROADMAP direction
    8), which uses or deletes it."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))).alias("_salt")
    small_rep = small.select("*", salts)
    big_salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                        F.lit(salt_buckets)).cast("int")
    )
    return big_salted.join(small_rep, [key, "_salt"]).drop("_salt")


def key_histogram(df: DataFrame, key_cols: list, top=100) -> DataFrame:
    """Measured per-key counts — the input to adaptive decisions (and the
    thing to log: silent skew reads as 'slow cluster').

    Test-only: waits for the skew-aware spatial join (ROADMAP direction
    8), which uses or deletes it."""
    return (
        df.groupBy(*key_cols).agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt")).limit(top)
    )


def adaptive_repartition(df: DataFrame, key: str, target_rows_per_task=1_000_000,
                         sample_fraction=None) -> DataFrame:
    """Repartition by (key, adaptive salt): each key's fan-out is
    ceil(count/target), measured from the data (optionally from a sample).
    Heavy keys split across many tasks; light keys stay single.

    Test-only: waits for the skew-aware spatial join (ROADMAP direction
    8), which uses or deletes it."""
    src = df if sample_fraction is None else df.sample(sample_fraction, seed=42)
    scale = 1.0 if sample_fraction is None else 1.0 / sample_fraction
    counts = src.groupBy(key).agg(
        F.ceil(F.count("*") * scale / target_rows_per_task).alias("_fanout")
    )
    withf = df.join(F.broadcast(counts), key, "left").withColumn(
        "_fanout", F.coalesce(F.col("_fanout"), F.lit(1))
    )
    salted = withf.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.col("_fanout")),
    )
    return salted.repartition(F.col(key), F.col("_salt")).drop("_fanout", "_salt")
