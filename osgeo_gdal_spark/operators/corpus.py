"""Corpus-curation operators for the training-data pipeline tier.

The filters every 100 TB web-text run applies between dedup and
training (all public-recipe methods — Gopher/C4 repetition quality
rules, benchmark decontamination by contiguous n-gram overlap, and
deterministic stratified sampling). Everything here is native Spark SQL
(JVM-side, codegen'd) — no Python in the hot path — and each operator
has an exact DuckDB oracle in entry_queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import shingles
from ..session import local_df


def doc_lines(docs: DataFrame, width: int, text_col="text",
              id_col="doc_id", punctuate=True, carry=()) -> DataFrame:
    """Deterministic line synthesis for the line-tier operators: split
    each document into fixed-``width`` word chunks with an
    index-dependent terminal ((doc_id+i)%4 -> '.', '', '?', ' {').
    Real crawl pages carry newlines and skip this step — the line ops
    below take any (doc_id, line_idx, line, n_words) relation.

    Native throughout (split + sequence explode + slice/array_join, all
    codegen'd); one narrow projection, no shuffle."""
    carry = list(carry)
    w = F.split(F.col(text_col), " ")
    d = docs.select(F.col(id_col).alias("doc_id"), w.alias("w"), *carry)
    d = d.filter(F.size("w") > 0).withColumn(
        "nl", ((F.size("w") + (width - 1)) / width).cast("long"))
    d = d.select(
        "doc_id", "w", *carry,
        F.explode(F.sequence(F.lit(0).cast("long"),
                             F.col("nl") - 1)).alias("line_idx"),
    )
    lw = F.slice(F.col("w"), F.col("line_idx") * width + 1, width)
    d = d.select("doc_id", "line_idx", lw.alias("lw"), *carry)
    if punctuate:
        suffix = (
            F.when((F.col("doc_id") + F.col("line_idx")) % 4 == 0, ".")
            .when((F.col("doc_id") + F.col("line_idx")) % 4 == 2, "?")
            .when((F.col("doc_id") + F.col("line_idx")) % 4 == 3, " {")
            .otherwise("")
        )
    else:
        suffix = F.lit("")
    return d.select(
        "doc_id", "line_idx", *carry,
        F.concat(F.array_join("lw", " "), suffix).alias("line"),
        F.size("lw").alias("n_words"),
    )


def c4_line_stats(lines: DataFrame, min_words: int = 5,
                  min_kept_lines: int = 3) -> DataFrame:
    """C4-recipe line filters (Raffel et al. 2020 §2.2, public recipe;
    mirrored by every big curation run): keep lines that end in terminal
    punctuation ('.', '?', '!', '\"'), have >= min_words words, and
    contain no '{' (the code/boilerplate tell); keep documents with
    >= min_kept_lines surviving lines.

    Per-doc ALL-INTEGER stats (driver-gate armor): n_lines, n_kept,
    kept_words, doc_keep as 0/1. One map-side-combinable groupBy."""
    kept = (
        F.substring(F.col("line"), -1, 1).isin(".", "?", "!", "\"")
        & (F.col("n_words") >= min_words)
        & ~F.col("line").contains("{")
    )
    per = lines.select(
        "doc_id", "n_words", kept.cast("long").alias("k"))
    return (
        per.groupBy("doc_id")
        .agg(F.count("*").alias("n_lines"),
             F.sum("k").alias("n_kept"),
             F.sum(F.col("k") * F.col("n_words")).alias("kept_words"))
        .select("doc_id", "n_lines", "n_kept", "kept_words",
                (F.col("n_kept") >= min_kept_lines)
                .cast("long").alias("doc_keep"))
    )


def line_dedup_stats(lines: DataFrame) -> DataFrame:
    """Corpus-global line-level exact dedup (the CCNet / FineWeb
    duplicated-line removal, public recipes): every copy of a line after
    its FIRST occurrence (ordered by doc_id, line_idx) is dropped;
    report per-doc n_lines / n_dropped / n_kept.

    Shape at 100 TB: the line text is hashed to a fixed 16-byte digest
    BEFORE the shuffle, so the exchange carries (md5, doc_id, line_idx)
    — ~32 bytes/row regardless of line length — instead of the corpus
    itself (md5 is in both engines, so the oracle stays hash-exact; a
    2^64 birthday collision over 16 bytes is ~10^-20 at 10^12 lines).
    Then a row_number window inside each duplicate group — group sizes
    are the duplicate multiplicities, never corpus-sized — and a
    map-side-combinable per-doc aggregate."""
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("lh").orderBy("doc_id", "line_idx"))
    # project line -> digest BEFORE the window: the Exchange input is
    # the skinny (doc_id, line_idx, lh) relation (plan-guarded in
    # tests/test_scale_plans.py)
    tagged = lines.select(
        "doc_id", "line_idx", F.md5("line").alias("lh")
    ).withColumn("rn", rn)
    return (
        tagged.groupBy("doc_id")
        .agg(F.count("*").alias("n_lines"),
             F.sum((F.col("rn") > 1).cast("long")).alias("n_dropped"))
        .select("doc_id", "n_lines", "n_dropped",
                (F.col("n_lines") - F.col("n_dropped")).alias("n_kept"))
    )


def repetition_stats(docs: DataFrame, text_col="text",
                     id_col="doc_id") -> DataFrame:
    """Word-level repetition quality metrics (the Gopher rules' word
    tier; the documents table is single-line so the line-based rules
    don't apply): per doc —

      n_words        whitespace token count,
      top2_cnt       occurrences of the MOST FREQUENT word bigram,
      rep_frac       top2_cnt / (n_words - 1)  (top-2-gram fraction),
      uniq_frac      distinct words / words.

    A Gopher-style filter drops docs with rep_frac above ~0.18; emitting
    the metrics (not the verdict) keeps the threshold a caller choice.

    Plan: split + native transform builds bigrams (no UDF), one
    groupBy(doc, bigram) partial-aggregated count, one per-doc max —
    shuffles carry (doc, bigram) counts, never text.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("ts"),
    )
    base = toks.select(
        "doc_id",
        F.size("ts").alias("n_words"),
        F.size(F.array_distinct("ts")).alias("n_uniq"),
    )
    # guard: sequence(0, -1) DESCENDS in Spark (ROUND_NOTES trap), so a
    # 1-word doc would index ts[1]; single-word docs have no bigrams.
    bg = toks.filter(F.size("ts") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 2), "
                "i -> concat(ts[i], ' ', ts[i + 1]))"
            )
        ).alias("bigram"),
    )
    top = (
        bg.groupBy("doc_id", "bigram").count()
        .groupBy("doc_id").agg(F.max("count").alias("top2_cnt"))
    )
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id", "n_words",
            F.coalesce("top2_cnt", F.lit(0)).alias("top2_cnt"),
            # guard: ANSI div-by-zero on 1-word docs -> NULL rep_frac
            F.when(
                F.col("n_words") > 1,
                F.coalesce("top2_cnt", F.lit(0))
                / (F.col("n_words") - F.lit(1)).cast("double"),
            ).alias("rep_frac"),
            (F.col("n_uniq") / F.col("n_words").cast("double")).alias("uniq_frac"),
        )
    )


def benchmark_phrases(docs: DataFrame, seed_ids, n=5, text_col="text",
                      id_col="doc_id"):
    """Deterministic 'benchmark' set: the first ``n`` words of each seed
    document — the planted eval-set stand-in for decontamination tests.
    Returns a list of phrase strings (driver-side; benchmarks are tiny
    by nature)."""
    rows = (
        docs.filter(F.col(id_col).isin(list(seed_ids)))
        .select(
            F.col(id_col).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(F.split(F.col(text_col), " "), 1, n)
            ).alias("phrase"),
        )
        .collect()
    )
    return sorted(r["phrase"] for r in rows)


def decontaminate(docs: DataFrame, phrases, n=5, text_col="text",
                  id_col="doc_id") -> DataFrame:
    """Benchmark decontamination by contiguous word n-gram overlap (the
    GPT-3/PaLM 13-gram recipe at fixture-friendly n): a document is
    contaminated when it CONTAINS any benchmark phrase as a contiguous
    word run. Returns (doc_id, n_hits) for contaminated docs, where
    n_hits is the number of DISTINCT benchmark phrases present (corpus
    shingles are distinct per doc — matching the LIKE-join oracle,
    which also counts each phrase at most once per doc).

    Plan: corpus word n-gram shingles (native transform) equi-join the
    broadcast benchmark phrase table — the join key is the shingle
    string, so work is O(matching shingles), never text × benchmarks.
    """
    spark = docs.sparkSession
    bench = local_df(spark, 
        [(p,) for p in phrases], "shingle STRING"
    )
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    hits = sh.join(F.broadcast(bench), "shingle")
    return hits.groupBy("doc_id").agg(F.count("*").alias("n_hits"))


def stratified_sample(docs: DataFrame, rates: dict, default_pct=20,
                      strat_col="lang", id_col="doc_id") -> DataFrame:
    """Deterministic stratified sampling: keep a document when
    ``doc_id % 100 < pct(stratum)``. Reproducible across runs/engines
    (no RNG), exactly the property a 100 TB curation run needs for
    resumable sampling. Returns per-stratum (stratum, n_total, n_kept).
    """
    pct = F.lit(int(default_pct))
    for k, v in sorted(rates.items()):
        pct = F.when(F.col(strat_col) == k, F.lit(int(v))).otherwise(pct)
    keep = (F.col(id_col) % 100) < pct
    return (
        docs.groupBy(F.col(strat_col).alias("stratum"))
        .agg(
            F.count("*").alias("n_total"),
            F.sum(keep.cast("long")).alias("n_kept"),
        )
    )


def repetition_stats_rowwise(docs: DataFrame, text_col="text",
                             id_col="doc_id") -> DataFrame:
    """The SAME metrics as repetition_stats, computed entirely per row:
    the top-bigram count is the longest equal-run in the doc's SORTED
    bigram array (one named_struct fold, no groupBy). Zero shuffle —
    this is both the streaming-safe form (no aggregation state, append
    mode works) and the preferred 100 TB batch form when the downstream
    doesn't already shuffle: the groupBy variant moves (doc, bigram)
    pairs, this one moves nothing.

    Test-only: the reference ``repetition_stats`` is checked against."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("ts"),
    )
    bgs = (
        "CASE WHEN size(ts) >= 2 THEN "
        "transform(sequence(0, size(ts) - 2), "
        "i -> concat(ts[i], ' ', ts[i + 1])) "
        "ELSE array() END"
    )
    top = (
        f"aggregate(array_sort({bgs}), "
        "named_struct('prev', '', 'run', 0L, 'best', 0L), "
        "(s, x) -> named_struct("
        "  'prev', x, "
        "  'run', IF(x = s.prev, s.run + 1, 1L), "
        "  'best', GREATEST(s.best, IF(x = s.prev, s.run + 1, 1L))), "
        "s -> s.best)"
    )
    return toks.select(
        "doc_id",
        F.size("ts").alias("n_words"),
        F.expr(top).alias("top2_cnt"),
        F.when(
            F.size("ts") > 1,
            F.expr(top) / (F.size("ts") - F.lit(1)).cast("double"),
        ).alias("rep_frac"),
        (F.size(F.array_distinct("ts"))
         / F.size("ts").cast("double")).alias("uniq_frac"),
    )


# --- document fingerprinting (winnowing over a rolling hash) ------------

FP_MOD = 2147483647        # 2^31 - 1 (Mersenne); every step fits a long
FP_WORD_BASE = 31          # char-level fold base (K&R polynomial hash)
FP_GRAM_BASE = 65599       # word-gram fold base (SDBM)


def _fp_arrays(docs: DataFrame, k: int, w: int, text_col, id_col):
    """(doc_id, gs, fps): rolling-hash k-gram array and winnowed
    fingerprint array per doc — shared by the stats and pair paths.

    All arithmetic is exact 64-bit integer mod 2^31-1 with mod applied
    at every fold step (max intermediate ~2^48), so Spark and DuckDB
    produce bit-identical values — unlike xxhash64/md5, this hash is
    engine-portable, which is what makes the oracle exact.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"filter(split({text_col}, ' '), x -> x != '')").alias("ws"),
    )
    # per-word polynomial char hash: fold (acc*31 + codepoint) % M
    hs = toks.withColumn(
        "hs",
        F.expr(
            f"transform(ws, x -> aggregate(split(x, ''), 0L, "
            f"(acc, c) -> (acc * {FP_WORD_BASE} + ascii(c)) % {FP_MOD}))"
        ),
    )
    # k-gram rolling hash over word hashes (k fixed at call sites so the
    # fold is unrolled; guard: sequence() DESCENDS for docs shorter
    # than k)
    expr = "hs[i]"
    for j in range(1, k):
        expr = f"(({expr}) * {FP_GRAM_BASE} + hs[i + {j}]) % {FP_MOD}"
    gs = hs.withColumn(
        "gs",
        F.when(
            F.size("hs") >= k,
            F.expr(f"transform(sequence(0, size(hs) - {k}), i -> {expr})"),
        ).otherwise(F.expr("array()").cast("array<bigint>")),
    )
    # winnowing (Schleimer/Wilkerson/Aiken MOSS): fingerprints = the
    # DISTINCT minima of every w-window over the gram sequence — any two
    # docs sharing a run of >= w+k-1 words share a fingerprint.
    return gs.withColumn(
        "fps",
        F.when(
            F.size("gs") >= w,
            F.expr(
                f"array_distinct(transform(sequence(0, size(gs) - {w}), "
                f"i -> array_min(slice(gs, i + 1, {w}))))"
            ),
        ).otherwise(F.expr("array_distinct(gs)")),
    )


def _fp_exploded(docs: DataFrame, k: int, w: int, text_col, id_col,
                 cut_tag: str = "winnow_fps"):
    """(doc_id, fp) exploded fingerprint rows, with the lineage CUT
    (cache) before the explode. Mandatory, not cosmetic:
    Catalyst inlines the fps expression into the Generate operator, and
    inside a higher-order-function lambda the inlined gs/hs subtrees
    re-evaluate PER ELEMENT — turning an O(words) column into
    O(grams x words x chars) per document (hours at sf0.01). The cache
    materializes the arrays once THROUGH WHOLE-STAGE CODEGEN — a
    localCheckpoint would also cut the lineage but materializes via the
    RDD path where these higher-order lambdas run interpreted (~50x
    slower, measured round 4)."""
    from .dedup import _bounded_cache_cut

    # cut_tag must be UNIQUE per live lineage: _bounded_cache_cut
    # unpersists the tag's previous relation, so two _fp_exploded calls
    # sharing a tag inside one query would evict each other's cut
    # mid-plan and re-expose the interpreted-HOF blowup (the round-5
    # dedup_incremental regression: one task, 25 min at sf0.1)
    fp = _bounded_cache_cut(
        cut_tag,
        _fp_arrays(docs, k, w, text_col, id_col).select("doc_id", "fps"))
    return fp.select("doc_id", F.explode("fps").alias("fp"))


def winnow_fingerprints(docs: DataFrame, k=3, w=4, text_col="text",
                        id_col="doc_id") -> DataFrame:
    """Per-doc winnowing fingerprint summary: gram count, fingerprint
    count, min fingerprint, and an order-insensitive additive digest.
    Map-only (no shuffle at all): every column derives from the doc's
    own text."""
    fp = _fp_arrays(docs, k, w, text_col, id_col)
    return fp.select(
        "doc_id",
        F.size("gs").alias("n_grams"),
        F.size("fps").alias("n_fp"),
        F.expr("array_min(fps)").alias("min_fp"),
        F.expr("aggregate(fps, 0L, (a, x) -> a + x)").alias("fp_digest"),
    )


def fingerprint_candidates(docs: DataFrame, k=3, w=4, min_shared=2,
                           max_bucket=200, text_col="text",
                           id_col="doc_id") -> DataFrame:
    """Near-dup candidate pairs: docs sharing >= min_shared winnowed
    fingerprints. The same bucketed equi-join shape as LSH banding —
    explode (fp, doc), self-join on fp, never all-pairs — with the
    standard hot-bucket cap (a boilerplate fingerprint shared by
    thousands of docs is dropped, not O(bucket^2)-joined)."""
    from pyspark.sql import Window

    fp = _fp_exploded(docs, k, w, text_col, id_col)
    n = F.count("*").over(Window.partitionBy("fp"))
    fp = fp.withColumn("bucket_n", n).filter(
        F.col("bucket_n") <= max_bucket
    ).drop("bucket_n")
    a, b = fp.alias("a"), fp.alias("b")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs


def pack_sequences(docs: DataFrame, budget: int, shard_size: int = 1000,
                   text_col="text", id_col="doc_id") -> DataFrame:
    """GPT-style sequence packing (concat-and-chunk): documents are
    concatenated in doc_id order and chunked into fixed token budgets;
    a document may straddle chunk boundaries. Returns per doc:

      shard      doc_id // shard_size (the packing unit),
      n_tok      whitespace token count,
      seq_id     chunk index its FIRST token lands in,
      seq_off    offset of its first token within that chunk,
      n_seqs     chunks the document spans.

    Scale shape: packing is per-shard (the window partitions by shard),
    so the cumsum never needs a global sort — shards pack in parallel
    and the layout is deterministic/resumable (no RNG, doc_id order).
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"{id_col} div {int(shard_size)}").alias("shard"),
        F.size(F.expr(
            f"filter(split({text_col}, ' '), x -> x != '')"
        )).alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = int(budget)
    cum = toks.withColumn("cum", F.sum("n_tok").over(w))
    return cum.select(
        "doc_id", "shard", "n_tok",
        F.expr(f"(cum - n_tok) div {b}").alias("seq_id"),
        F.expr(f"(cum - n_tok) % {b}").alias("seq_off"),
        F.expr(
            f"(cum - 1) div {b} - (cum - n_tok) div {b} + 1"
        ).alias("n_seqs"),
    )


def top_term(docs: DataFrame, min_len: int = 4, text_col="text",
             id_col="doc_id") -> DataFrame:
    """Keyword extraction: per document, the single most significant
    term — max term frequency, ties broken by LOWEST document frequency
    (rarer wins, the tf-idf ordering without the engine-variant log),
    then lexicographically. Words shorter than min_len are skipped
    (stopword proxy). Returns (doc_id, term, tf, df).

    Plan: one word explode; df via a groupBy reused through a broadcast
    join (vocabulary << corpus); per-doc winner via one min_by struct
    aggregation — two shuffles total, both on skinny keys.
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(
            f"filter(split({text_col}, ' '), x -> length(x) >= {min_len})"
        )).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = words.select("doc_id", "term").distinct() \
        .groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df), "term")
    # single winner per doc: order by (-tf, df, term)
    pick = scored.groupBy("doc_id").agg(
        F.min_by(
            F.struct("term", "tf", "df"),
            F.struct((-F.col("tf")).alias("ntf"), "df", "term"),
        ).alias("w")
    )
    return pick.select("doc_id", "w.term", "w.tf", "w.df")


def dedup_incremental(index_docs: DataFrame, new_docs: DataFrame,
                      k=3, w=4, min_shared=1, max_bucket=1000,
                      text_col="text", id_col="doc_id") -> DataFrame:
    """Incremental near-dup screening: flag NEW documents that share
    >= min_shared winnowed fingerprints with the existing corpus — the
    ingest-time gate of a growing 100 TB corpus (the index side's
    fingerprints are a precomputed, incrementally-appended table in
    production; here they derive from index_docs directly).

    Returns (doc_id, n_hits, best_match): per flagged new doc, the
    number of shared fingerprints and the index doc sharing the most.

    Plan: both sides explode to (fp, doc); hot fingerprints above
    max_bucket on the INDEX side are dropped (boilerplate guard);
    the join is a plain hash equi-join on fp — never all-pairs.
    """
    from pyspark.sql import Window

    idx = _fp_exploded(index_docs, k, w, text_col, id_col,
                       cut_tag="winnow_fps_idx") \
        .withColumnRenamed("doc_id", "idx_id")
    n = F.count("*").over(Window.partitionBy("fp"))
    idx = idx.withColumn("bn", n).filter(F.col("bn") <= max_bucket).drop("bn")
    new = _fp_exploded(new_docs, k, w, text_col, id_col,
                       cut_tag="winnow_fps_new")
    hits = (
        new.join(idx, "fp")
        .groupBy("doc_id", "idx_id").agg(F.count("*").alias("n_pair"))
    )
    # arg-max key: most shared fingerprints, ties to the SMALLEST index
    # id (single scalar so the oracle's arg_max matches exactly).
    # Bound: correct while idx ids < 1e8; for larger id spaces switch
    # both sides to a (n_pair, -idx_id) struct ordering
    best = hits.groupBy("doc_id").agg(
        F.sum("n_pair").alias("n_hits"),
        F.max_by(
            "idx_id",
            F.col("n_pair") * F.lit(100000000) - F.col("idx_id"),
        ).alias("best_match"),
    )
    return best.filter(F.col("n_hits") >= min_shared)


def bm25_topk(docs: DataFrame, terms, k: int = 50, k1: float = 1.2,
              b: float = 0.75, text_col="text",
              id_col="doc_id") -> DataFrame:
    """BM25 ranked retrieval (Robertson/Spärck Jones; the search tier
    over the tf/df machinery): score(d) = Σ_t idf_t · tf·(k1+1) /
    (tf + k1·(1−b+b·dl/avgdl)) with idf = ln(1 + (N−df+0.5)/(df+0.5)).

    Distributed shape: one words explode filtered to the query terms
    (map-side), tf per (doc, term), df per term (tiny — broadcast),
    corpus stats (N, avgdl) as a broadcast scalar row. The per-doc term
    sum folds SEQUENTIALLY in term order (the repo-wide bit-exact-sum
    discipline); Java/DuckDB LN differ in the last ulp, so consumers
    round(9) — the tps_warp pattern.

    Returns the top-``k`` (doc_id, score) by (score DESC, doc_id)."""
    from pyspark.sql import Window

    term_list = sorted(set(terms))
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"size(filter(split({text_col}, ' '), x -> x != ''))")
        .cast("double").alias("dl"),
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter(F.col("w").isin(term_list))
    tf = words.groupBy("doc_id", "w").agg(
        F.count("*").cast("double").alias("tf"))
    df = tf.groupBy("w").agg(
        F.countDistinct("doc_id").cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", F.expr(
            "sum_dl / CAST(n_docs AS DOUBLE)"))
        .withColumn("s", F.expr(
            f"LN(CAST(1.0 AS DOUBLE) + (CAST(n_docs AS DOUBLE) - df "
            f"+ CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) "
            f"* (tf * CAST({k1 + 1.0!r} AS DOUBLE)) "
            f"/ (tf + CAST({k1!r} AS DOUBLE) * (CAST({1.0 - b!r} AS DOUBLE) "
            f"+ CAST({b!r} AS DOUBLE) * dl / avgdl))"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(w, s))), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.s)"
        ).alias("score")
    )
    # distributed top-k FIRST (TakeOrderedAndProject — no global
    # single-partition window over all docs), then rank the <= k
    # survivors with the tiny window
    topk = (per_doc.withColumn("score", F.round("score", 9))
            .orderBy(F.col("score").desc(), F.col("doc_id")).limit(k))
    win = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (topk.withColumn("rank", F.row_number().over(win))
            .select("rank", "doc_id", "score"))


def duplicate_substring_spans(docs: DataFrame, k: int = 3,
                              min_count: int = 2,
                              text_col="text", id_col="doc_id") -> DataFrame:
    """Repeated-substring removal planning — the ExactSubstr dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499): any k-token gram occurring >=
    ``min_count`` times corpus-wide marks its token span as
    duplicated; per doc, overlapping/adjacent duplicated spans merge
    into maximal removal intervals. The reference has no analog (LLM
    curation tier). Returns one row per doc that HAS duplicated
    spans: (doc_id, n_spans, dup_tokens, span_digest).

    Fully NATIVE and engine-portable: the mod-2^31-1 rolling gram
    hashes (_fp_arrays) are bit-identical in DuckDB, interval merging
    is the gaps-and-islands window pattern, and the digest is integer
    arithmetic — an exact oracle end to end. 100 TB shape: one
    map-side-combinable groupBy(gram) for the corpus counts, one
    broadcast-friendly semi-join back, one per-doc window (bounded by
    doc length). The paper's suffix-array formulation is sequential;
    gram-count marking finds the same >= k-token duplicated regions
    (a span of length L >= k duplicated elsewhere duplicates all its
    L-k+1 grams)."""
    from pyspark.sql import Window

    from .dedup import _bounded_cache_cut

    g = _bounded_cache_cut(
        "substr_grams",
        _fp_arrays(docs, k, 4, text_col, id_col).select("doc_id", "gs"))
    ex = g.select("doc_id", F.posexplode("gs").alias("pos", "g"))
    dup_grams = (
        ex.groupBy("g").agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= int(min_count)).select("g")
    )
    dup = ex.join(dup_grams, "g").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        dup.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_isl",
            (F.col("prev").isNull()
             | (F.col("pos") - F.col("prev") > k)).cast("int"))
        .withColumn("isl", F.sum("new_isl").over(w))
    )
    spans = isl.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("start"),
        (F.max("pos") + F.lit(k - 1)).alias("end"))
    return spans.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_spans"),
        F.sum(F.col("end") - F.col("start") + 1).cast("long")
        .alias("dup_tokens"),
        F.expr(f"CAST(sum((start * {FP_GRAM_BASE} + end) % {FP_MOD}) "
               f"AS BIGINT)").alias("span_digest"))


def lm_quality_scores(docs: DataFrame, ref_mod: int = 10,
                      text_col="text", id_col="doc_id") -> DataFrame:
    """N-gram language-model quality scoring — the perplexity-proxy
    filter of CCNet/Gopher-style curation (score each document by a
    reference-corpus LM; low log-likelihood = gibberish / boilerplate;
    no reference analog, LLM curation tier). A bigram add-one model
    is fit on the deterministic reference slice ``doc_id % ref_mod ==
    0`` and every document scores

        sum over bigrams of  ln( (c(w1, w2) + 1) / (c(w1) + V) )

    with each LOG TERM quantized to the dyadic 2^-20 grid and emitted
    as an INTEGER sum (x 2^20) — partial sums are exactly
    representable, so the result is order-free and bit-identical in
    DuckDB (the grid_avg_distance_pts armor; LN's last-ulp libm
    differences sit ~1e-9 below the quantum).

    100 TB shape: the LM is vocabulary-bounded (two broadcast-size
    count tables from one map-side-combinable groupBy each); scoring
    is two broadcast joins + one groupBy(doc) — documents never
    shuffle."""
    w = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"filter(split({text_col}, ' '), x -> x != '')").alias("ws"),
    )
    bi = w.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(ws) - 2), "
            "i -> struct(ws[i] AS w1, ws[i + 1] AS w2))")).alias("b"),
    ).select("doc_id", "b.w1", "b.w2").filter(F.col("w2").isNotNull())
    ref = bi.filter((F.col("doc_id") % ref_mod) == 0)
    uni = ref.groupBy("w1").agg(F.count("*").alias("c1"))
    big = ref.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    vocab = ref.select("w1").union(ref.select("w2")).distinct().count()
    scored = (
        bi.join(F.broadcast(big), ["w1", "w2"], "left")
        .join(F.broadcast(uni), ["w1"], "left")
        .withColumn(
            "term_q",
            F.floor(F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                / (F.coalesce(F.col("c1"), F.lit(0)) + float(vocab))
            ) * 1048576.0 + 0.5).cast("long"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("term_q").alias("lm_score_q"))


# --- count-min sketch (engine-portable heavy-hitter counters) ----------

CMS_A0, CMS_DA = 137, 31      # same universal family as the MinHash tier
CMS_B0, CMS_DB = 12345, 1009


def count_min_sketch(docs: DataFrame, d: int = 4, w: int = 64,
                     text_col="text", id_col="doc_id") -> DataFrame:
    """Count-min sketch over the corpus token stream (Cormode &
    Muthukrishnan 2005, public algorithm): a d×w counter matrix with
    bucket_i(t) = ((a_i·h(t) + b_i) mod M) mod w over the engine-
    portable mod-2³¹−1 word hash (same family as minhash_portable, so
    the whole matrix is hash-exact in DuckDB).

    Heavy-hitter estimate for any term = min_i counter[i][bucket_i] —
    the skew probe the hot-cell salting tier needs, O(d·w) state.

    100 TB shape: explode words (narrow), hash + d buckets as native
    codegen'd exprs, ONE stack to (row, bucket) and ONE map-side-
    combinable groupBy count — the sketch merges across partitions by
    addition, which is also what makes it streamable (same aggregate
    under a watermark). Returns (row, bucket, cnt); absent buckets are
    zero (not emitted)."""
    from pyspark.sql import functions as F

    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.col("word") != "")
    h = words.select(F.expr(
        f"aggregate(split(word, ''), 0L, "
        f"(acc, c) -> (acc * {FP_WORD_BASE} + ascii(c)) % {FP_MOD})"
    ).alias("h"))
    pairs = ", ".join(
        f"{i}, (({CMS_A0 + CMS_DA * i}L * h + {CMS_B0 + CMS_DB * i}) "
        f"% {FP_MOD}) % {w}"
        for i in range(d)
    )
    stacked = h.select(F.expr(
        f"stack({d}, {pairs}) AS (row, bucket)"))
    return (stacked.groupBy("row", "bucket")
            .agg(F.count("*").alias("cnt")))
