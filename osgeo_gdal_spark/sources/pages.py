"""The pages table — Common-Crawl-style web pages geocoded to points.

Shape per BASELINE.json input_hint: ``(url, warc_ts, html, text, lang)``.
Synthesized deterministically from the driver's ``documents`` parquet table
(doc_id, text, lang, source, n_chars) so tests, the DuckDB oracle, and the
bench all see the same rows at every scale factor. ``text`` passes through
BYTE-IDENTICAL (the end-to-end invariant); ``html`` wraps it; ``lon/lat``
derive from doc_id by exact integer arithmetic (functions/sqlgen.py) with a
5% hot cluster for skew tests.

Everything here is native Spark SQL expressions — JVM-side, codegen'd,
pushdown-friendly. In production the source is an Iceberg table; the
derivation maps 1:1 onto an ingest view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import sqlgen as G

# epoch seconds of 2026-01-01T00:00:00Z — warc_ts = base + doc_id seconds
WARC_EPOCH0 = 1767225600


def pages_df(spark: SparkSession, sf_dir: str, with_geo: bool = True) -> DataFrame:
    """documents.parquet -> pages DataFrame (+ lon/lat when with_geo)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pages_df_from_documents(docs, with_geo)


def pages_df_from_documents(docs: DataFrame, with_geo: bool = True) -> DataFrame:
    """Any documents-shaped DataFrame -> pages (shared by tests + bench)."""
    df = docs.select(
        F.expr(G.url_sql("doc_id", G.SPARK)).alias("url"),
        F.timestamp_seconds(F.lit(WARC_EPOCH0) + F.col("doc_id")).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")),
            "utf-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )
    if with_geo:
        df = df.withColumn("lon", F.expr(G.lon_sql("doc_id"))).withColumn(
            "lat", F.expr(G.lat_sql("doc_id"))
        )
    return df


def pages_cte_sql(dialect: str = G.DUCKDB) -> str:
    """The same derivation as a SQL CTE body over the ``documents`` view —
    embedded by DuckDB oracles: ``WITH pages AS ({pages_cte_sql()}) ...``.
    warc_ts is exposed as epoch seconds (warc_epoch BIGINT) because
    timestamp rendering differs between engines."""
    return (
        f"SELECT {G.url_sql('doc_id', dialect)} AS url, "
        f"({WARC_EPOCH0} + doc_id) AS warc_epoch, "
        f"text, lang, doc_id, "
        f"{G.lon_sql('doc_id')} AS lon, "
        f"{G.lat_sql('doc_id')} AS lat "
        f"FROM documents"
    )


def extract_text(html_col):
    """Inverse of the html wrapper: strip the fixed template BYTES and
    decode — pure substring arithmetic on the binary column (no regex,
    no Python), so extraction is exact and cheap.

    Test-only: it pins the north-rule invariant, byte-identical
    extracted text per url through a shuffle."""
    from pyspark.sql import functions as F

    # b"<html><body>" = 12 bytes, b"</body></html>" = 14 bytes
    return F.decode(
        F.expr(f"substring({html_col}, 13, length({html_col}) - 26)"),
        "utf-8",
    )
