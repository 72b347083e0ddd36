"""Streaming ingest: the engine's stateless kernels wrapped in readStream.

GDAL has no streaming operators (SURVEY §2.N: pull-iterator batch model;
nearest artifacts are the async reader stub ``gcore/gdal_asyncreader.h``
and the streamed-recipe driver ``frmts/gdalg/``). Because every page-side
stage (geocode, cell encode, tile assignment) is a stateless projection,
the same native expressions run unchanged under Structured Streaming:

    readStream(parquet dir) -> geocode/cell encode -> withWatermark ->
    windowed tile aggregation -> writeStream (checkpointed)

Late data is handled by the watermark; the tumbling-window tile counts on
a bounded input equal the batch result on the same data (asserted in
tests with the availableNow trigger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import sqlgen as G


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one driver-testdata table (the table is a
    single parquet file, so stream the directory with a glob filter — the
    file source requires a directory basePath)."""
    schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .option("maxFilesPerTrigger", 4)
        .parquet(sf_dir)
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table_stream(spark, sf_dir, "events")


def windowed_event_counts(events: DataFrame, window="1 hour",
                          watermark="2 hours") -> DataFrame:
    """Tumbling-window counts per event_type with late-data watermark."""
    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("win.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


def streaming_tile_counts(pages_stream: DataFrame, zoom: int,
                          window="1 hour", watermark="2 hours") -> DataFrame:
    """The tiling engine under streaming: per-window per-tile page counts.
    pages_stream needs (warc_ts, lon, lat) — the geocode expressions are
    the same native columns as batch."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("win"),
            F.expr(G.tile_x_sql("lon", zoom)).alias("gx"),
            F.expr(G.tile_y_sql("lat", zoom)).alias("gy"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("win.start").alias("win_start"), "gx", "gy", "cnt")
    )


def _first_seen_fn(out_key: str, timeout_minutes: int):
    """Shared group function for the first-seen stateful operators
    (dedup by text hash, crawl-frontier by canonical URL): emit the
    first row per key across triggers, drop later ones; on a TIMEOUT
    invocation evict the key (bounded state for unbounded key spaces —
    an evicted key passes again if re-seen, the documented trade).
    Module-level factory so the timeout path is unit-testable without
    wall-clock streaming (tests/test_streaming_plans.py)."""
    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return iter(())
        if state.exists:
            for _ in pdfs:
                pass
            if timeout_minutes > 0:
                state.setTimeoutDuration(timeout_minutes * 60 * 1000)
            return iter(())
        first = None
        for pdf in pdfs:
            if len(pdf) and (first is None or pdf["doc_id"].min() < first):
                first = int(pdf["doc_id"].min())
        state.update((True,))
        if timeout_minutes > 0:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        if first is None:
            return iter(())
        return iter([pd.DataFrame({out_key: [key[0]], "doc_id": [first]})])

    return fn


def streaming_dedup_first_seen(docs_stream: DataFrame,
                               timeout_minutes: int = 0) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): exact
    first-seen dedup over a document stream — only the FIRST row of each
    text hash ever passes; later duplicates are dropped across triggers.
    The per-group state is one boolean; with ``timeout_minutes > 0`` the
    state expires after processing-time inactivity (bounding state for
    unbounded hash spaces, the production knob).

    GDAL precedent: none (batch-only reference); this is the engine-side
    extension SURVEY §2.N plans — the streaming twin of
    operators/dedup.exact_dup_groups.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("text_hash", T.StringType()),
        T.StructField("doc_id", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    dedup_fn = _first_seen_fn("text_hash", timeout_minutes)

    keyed = docs_stream.select(
        F.md5(F.col("text")).alias("text_hash"), F.col("doc_id")
    ).groupBy("text_hash")
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if timeout_minutes > 0
               else GroupStateTimeout.NoTimeout)
    return keyed.applyInPandasWithState(
        dedup_fn, out_schema, state_schema, "update", timeout
    )


def streaming_line_dedup(docs_stream: DataFrame, width: int = 2,
                         ts_col=None, delay: str = "10 minutes") -> DataFrame:
    """Streaming twin of the batch line-level global dedup
    (operators/corpus.line_dedup_stats, hash-first since r6): documents
    explode into fixed-width lines, each line is digested to md5
    BEFORE any state (the stream's state key is 16 bytes/line, never
    the text), and the first arrival of each digest passes.

    With ``ts_col`` set the stream uses withWatermark +
    dropDuplicatesWithinWatermark — per-key state expires once the
    watermark passes (bounded state for an unbounded line space, the
    production shape); without it plain dropDuplicates keeps exact
    global state (bounded fixtures / finite reprocessing).

    First-arrival vs the batch twin's (doc_id, line_idx) order: equal
    whenever the stream delivers documents in doc_id order (the
    file-per-trigger replay contract the frontier screen also uses);
    duplicates INSIDE one micro-batch keep one arbitrary copy.
    """
    from ..operators.corpus import doc_lines

    extra = [ts_col] if ts_col else []
    lines = doc_lines(docs_stream.select("doc_id", "text", *extra),
                      width, carry=extra)
    keyed = lines.select(
        F.md5("line").alias("lh"), "doc_id", "line_idx",
        # Spark 4 reads parquet timestamps as TIMESTAMP_NTZ; watermarks
        # need TIMESTAMP (the sqlgen.py dialect note)
        *([F.col(ts_col).cast("timestamp").alias(ts_col)]
          if ts_col else []))
    if ts_col:
        return (keyed.withWatermark(ts_col, delay)
                .dropDuplicatesWithinWatermark(["lh"])
                .select("lh", "doc_id", "line_idx"))
    return keyed.dropDuplicates(["lh"]).select("lh", "doc_id", "line_idx")


def streaming_quality_gate(docs_stream: DataFrame,
                           max_rep_frac: float = 0.18,
                           min_uniq_frac: float = 0.2) -> DataFrame:
    """Streaming corpus quality gate: the Gopher repetition metrics
    (operators/corpus.repetition_stats) computed on a document stream,
    with the pass/drop verdict attached, via the PER-ROW metric form
    (corpus.repetition_stats_rowwise: the top-bigram count is a fold
    over the doc's own sorted bigram array) — no aggregation state at
    all, so append mode works and each document is gated the moment it
    arrives: the ingest-time filter a live crawl pipeline applies
    before documents ever land in the corpus."""
    from ..operators.corpus import repetition_stats_rowwise

    stats = repetition_stats_rowwise(docs_stream)
    return stats.withColumn(
        "keep",
        (F.coalesce(F.col("rep_frac"), F.lit(0.0)) <= max_rep_frac)
        & (F.col("uniq_frac") >= min_uniq_frac),
    )


def streaming_hex_counts(pages_stream: DataFrame, size: float = 3.0,
                         window="1 hour", watermark="2 hours") -> DataFrame:
    """Hex-cell density under streaming: per-window per-hex page counts
    — the H3-style index live. The cube-round expressions are the SAME
    sqlgen fragments as batch, so the windowed stream equals batch
    aggregation exactly (pytest)."""
    qf = G.hex_qf_sql("lon", "lat", size)
    rf = G.hex_rf_sql("lat", size)
    ax = pages_stream.withColumn("qf", F.expr(qf)).withColumn(
        "rf", F.expr(rf))
    return (
        ax.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("win"),
            F.expr(G.hex_q_sql("qf", "rf")).alias("hq"),
            F.expr(G.hex_r_sql("qf", "rf")).alias("hr"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("win.start").alias("win_start"),
                "hq", "hr", "cnt")
    )


def streaming_url_frontier(docs_stream: DataFrame,
                           url_col: str = "url",
                           timeout_minutes: int = 0) -> DataFrame:
    """Streaming crawl-frontier URL screen: canonicalize every incoming
    URL (functions/text.canonical_url_spark — lowercase/default-port/
    www/fragment/utm/query-sort normalization) and pass only the FIRST
    document per canonical URL across triggers — the stateful ingest
    twin of the batch ``url_dedup`` query, one boolean of state per
    canonical URL (``timeout_minutes`` bounds it for unbounded URL
    spaces, as in streaming_dedup_first_seen)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    from ..functions import text as TX

    out_schema = T.StructType([
        T.StructField("canon_url", T.StringType()),
        T.StructField("doc_id", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    screen_fn = _first_seen_fn("canon_url", timeout_minutes)

    keyed = docs_stream.select(
        TX.canonical_url_spark(url_col).alias("canon_url"), F.col("doc_id")
    ).groupBy("canon_url")
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if timeout_minutes > 0
               else GroupStateTimeout.NoTimeout)
    return keyed.applyInPandasWithState(
        screen_fn, out_schema, state_schema, "update", timeout
    )
