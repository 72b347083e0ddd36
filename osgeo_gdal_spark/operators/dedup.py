"""Deduplication operators for web-scale text corpora.

Four tiers, each a distinct shuffle/scale profile:

- **exact**: groupBy(md5(text)) — one hash shuffle carrying (hash, id)
  only (map-side partial keeps it tiny at 10^12 rows).
- **prefix-shingle exact**: same, on a normalized prefix shingle.
- **MinHash + LSH**: word shingles -> k permuted min-hashes (xxhash64 with
  k seeds, all JVM-side) -> band buckets -> candidate pairs from bucket
  groups. The classic near-dup pipeline (Broder; used by every web-corpus
  dedup). Only (band_hash -> doc ids) shuffles; the quadratic step is
  confined to same-bucket groups.
- **SimHash**: 64-bit sign-aggregated token-hash fingerprint (Charikar),
  computed with native bit arithmetic + groupBy — Hamming-near candidates
  join on rotated prefix bands.
- **word-Jaccard**: exact Jaccard between specific pairs via explode +
  distinct-word joins (the verification step after LSH).

All hot paths are native Spark SQL — no Python in any per-row loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .graph import connected_components


def exact_dup_groups(docs: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """(text_hash, n_docs, keep_id) for duplicate groups; keep = min id."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def prefix_dup_groups(docs: DataFrame, nchars=40, text_col="text",
                      id_col="doc_id") -> DataFrame:
    """Duplicate groups by normalized prefix shingle (cheap near-dup)."""
    return (
        docs.select(
            F.md5(F.lower(F.substring(F.col(text_col), 1, nchars))).alias("shingle"),
            F.col(id_col),
        )
        .groupBy("shingle")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def _words(docs: DataFrame, text_col, id_col) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter(F.col("w") != "")


def shingles(docs: DataFrame, n=3, text_col="text", id_col="doc_id") -> DataFrame:
    """Word n-gram shingles per doc (distinct)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("ts")
    )
    # n-gram via transform over token indices (native, no UDF). Docs
    # shorter than n have no shingles — and MUST be filtered first:
    # sequence(0, size-n) DESCENDS when size < n (Spark trap), which
    # would emit bogus sub-n-grams / negative slice starts.
    ng = toks.filter(F.size("ts") >= n).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(ts) - {n}), "
                f"i -> concat_ws(' ', slice(ts, i + 1, {n})))"
            )
        ).alias("shingle"),
    )
    return ng.filter(F.length("shingle") > 0).distinct()


def minhash_signatures(sh: DataFrame, num_hashes=16) -> DataFrame:
    """MinHash signature per doc: min over shingles of xxhash64(shingle, seed)
    for each of `num_hashes` seeds. One groupBy; all JVM-side."""
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(seed))).alias(f"mh{seed}")
        for seed in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


DEFAULT_MAX_BUCKET = 1000


def lsh_candidate_pairs(sig: DataFrame, bands=4, rows_per_band=4,
                        max_bucket: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Band the signature and emit candidate pairs sharing any band bucket.

    Returns distinct (doc_a, doc_b) with doc_a < doc_b. At 10^12 scale the
    bucket join is the only shuffle; the self-join inside one bucket is
    O(bucket^2), so hot buckets (boilerplate/template pages hashing to one
    band value) are the blow-up risk. ``max_bucket`` caps that: buckets
    with more than ``max_bucket`` members are DROPPED from pair generation
    (the standard web-dedup mitigation — members of a mega-bucket are
    near-certain duplicates of each other and are better handled by the
    exact-hash pass; a 1M-doc bucket would emit 5*10^11 pairs). The cap
    is ON BY DEFAULT (1000 members ⇒ ≤ ~500k pairs per bucket); pass
    ``max_bucket=None`` to disable explicitly.
    """
    stacked = _banded(sig, bands, rows_per_band)
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket")
        stacked = (
            stacked.withColumn("_n", F.count("*").over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    left = stacked.alias("l")
    right = stacked.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


def _banded(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    band_cols = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        band_cols.append(
            F.xxhash64(*[F.col(c) for c in cols], F.lit(b)).alias(f"band{b}")
        )
    banded = sig.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def simhash64(docs: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """64-bit SimHash per doc: per-bit majority vote of word hashes,
    assembled natively with shiftright/sum/case — zero Python."""
    w = _words(docs, text_col, id_col).withColumn("h", F.xxhash64("w"))
    votes = w.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    expr = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST(1 AS BIGINT) << {b} ELSE 0 END)"
        for b in range(63)  # bit 63 excluded: keep the value positive int64
    )
    return votes.select("doc_id", F.expr(f"({expr})").alias("simhash"))


def jaccard_pairs(docs: DataFrame, pairs: DataFrame, text_col="text",
                  id_col="doc_id") -> DataFrame:
    """Exact word-set Jaccard for given (doc_a, doc_b) pairs — the verify
    stage after LSH candidate generation."""
    words = _words(docs, text_col, id_col).distinct()
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("nw"))
    wa = words.withColumnRenamed("doc_id", "doc_a")
    wb = words.withColumnRenamed("doc_id", "doc_b")
    inter = (
        pairs.join(wa, "doc_a")
        .join(wb, ["doc_b", "w"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("nw", "nw_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("nw", "nw_b"), "doc_b")
        .select(
            "doc_a", "doc_b", "inter",
            (F.col("nw_a") + F.col("nw_b") - F.col("inter")).alias("union_n"),
            (F.col("inter") / (F.col("nw_a") + F.col("nw_b") - F.col("inter"))
             ).alias("jaccard"),
        )
    )


def near_dup_groups_portable(docs: DataFrame, num_hashes=8, k=3,
                             jaccard_threshold=0.8,
                             max_bucket: int | None = DEFAULT_MAX_BUCKET,
                             text_col="text", id_col="doc_id",
                             shuffle_partitions=None) -> DataFrame:
    """The END-TO-END near-duplicate pipeline every web corpus runs,
    over the engine-portable mod-2^31-1 sketch path (lsh_pairs_portable):
    grams -> MinHash -> LSH bands -> candidate pairs -> exact
    word-Jaccard verify (>= threshold) -> connected components -> one
    keeper per group (min doc_id). Every stage is bit-reproducible in
    ANSI SQL, so the chain has a full hash oracle. Returns
    (group_id, doc_id, keep) over docs that appear in a verified pair;
    ``keep=false`` rows are the documents a dedup pass would drop."""
    cand = lsh_pairs_portable(docs, num_hashes, k, max_bucket,
                              text_col, id_col).select("doc_a", "doc_b")
    verified = jaccard_pairs(docs, cand, text_col, id_col).filter(
        F.col("jaccard") >= jaccard_threshold
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return _keepers(connected_components(
        verified, shuffle_partitions=shuffle_partitions))


def _keepers(labels: DataFrame) -> DataFrame:
    """(group_id, doc_id, keep) from component labels: the group is the
    component's min doc_id, which is also its one keeper."""
    return labels.select(
        F.col("label").alias("group_id"), F.col("node").alias("doc_id"),
        (F.col("node") == F.col("label")).alias("keep"),
    )


# Lineage-cut caches (the explode-codegen trick below) cannot be
# unpersisted before the caller materializes the lazy result, but the
# leak is BOUNDED by evicting the PREVIOUS cut when the same call site
# runs again (the bench suite was pinning one InMemoryRelation per
# invocation for the session lifetime — ADVICE r4). Round-6 refinement:
# evict-always cost ~2x on the portable-sketch tier (minhash/simhash/
# lsh_pairs all cut the SAME gram relation, and each invocation threw
# away the previous materialization), so the cut is keyed by the
# CANONICALIZED plan — an identical input plan returns the live cached
# relation; only a genuinely different input (new sf dir / new params)
# evicts. One live relation per tag, as before.
#
# SAME-SESSION INVARIANT: the cache key is the analyzed plan's
# semanticHash, which sees paths/params but NOT file contents — if the
# files under an already-cached path are REWRITTEN within one session,
# the stale materialization is served. That matches Spark's own
# semantics (a cached scan does not see in-place file rewrites either);
# callers that regenerate inputs in-session must
# spark.catalog.clearCache() (what the test suite does between
# fixtures) or write to a fresh path.
_CUT_CACHE: dict = {}


def _bounded_cache_cut(tag: str, df: DataFrame) -> DataFrame:
    try:
        key = df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # non-classic DataFrame (connect) — no reuse
        key = object()
    prev = _CUT_CACHE.get(tag)
    if prev is not None:
        pkey, pdf = prev
        if pkey == key:
            return pdf
        try:
            pdf.unpersist()
        except Exception:
            pass
    c = df.cache()
    _CUT_CACHE[tag] = (key, c)
    return c


# --- engine-portable MinHash (hash-verifiable end to end) ---------------

MH_A0, MH_DA = 137, 31        # a_i = 137 + 31 i  (any a != 0 works: mod prime)
MH_B0, MH_DB = 12345, 1009    # b_i = 12345 + 1009 i


def minhash_portable(docs: DataFrame, num_hashes=8, k=3,
                     text_col="text", id_col="doc_id") -> DataFrame:
    """MinHash signatures + LSH band buckets over the PORTABLE mod-2^31-1
    k-gram rolling hashes (operators/corpus._fp_arrays) instead of
    xxhash64 — every value is bit-identical in DuckDB, upgrading the
    MinHash/LSH component from rows-only to a full hash oracle
    (the xxhash64 path in minhash_signatures stays as the fast
    JVM-native production default; this is the verifiable twin).

    Universal-hash family h_i(g) = (a_i·g + b_i) mod M over the gram
    hashes g (a_i·g < 2^42 — exact in int64); signature_i = min over
    the doc's grams. Bands pair consecutive signature rows through the
    SDBM fold, giving ``num_hashes/2`` band buckets.

    Returns (doc_id, n_grams, mh0.., band0..) — docs with no k-gram
    (shorter than k words) are dropped, as in the xxhash64 path."""
    from . import corpus as CP

    # EXPLODE the grams once and take the mins as NATIVE groupBy
    # aggregations (map-side partial — the 100 TB shape). The lineage
    # cut before the explode uses cache(), NOT localCheckpoint: the
    # checkpoint materializes through the RDD path where the
    # higher-order gs lambdas run INTERPRETED (52s at sf0.1), while the
    # cache populates through whole-stage codegen (<1s) and still stops
    # Catalyst from inlining the gs expression into Generate
    # no size-filter: a higher-order expression inside a Filter
    # predicate evaluates INTERPRETED (43s at sf0.1 vs <1s codegen'd);
    # explode drops empty arrays by itself
    g = _bounded_cache_cut(
        "minhash_grams",
        CP._fp_arrays(docs, k, 4, text_col, id_col).select("doc_id", "gs")
    ).select("doc_id", F.explode("gs").alias("g"))
    aggs = [F.count("*").cast("int").alias("n_grams")]
    for i in range(num_hashes):
        a = MH_A0 + MH_DA * i
        b = MH_B0 + MH_DB * i
        aggs.append(F.min(
            F.expr(f"({a}L * g + {b}) % {CP.FP_MOD}")).alias(f"mh{i}"))
    sig = g.groupBy("doc_id").agg(*aggs)
    bands = [
        F.expr(f"(mh{2 * j} * {CP.FP_GRAM_BASE} + mh{2 * j + 1}) "
               f"% {CP.FP_MOD}").alias(f"band{j}")
        for j in range(num_hashes // 2)
    ]
    return sig.select("doc_id", "n_grams",
                      *[f"mh{i}" for i in range(num_hashes)], *bands)


def simhash_portable(docs: DataFrame, bits=16, k=3,
                     text_col="text", id_col="doc_id") -> DataFrame:
    """Engine-portable SimHash (the hash-verifiable twin of ``simhash``,
    which uses xxhash64): each of ``bits`` output bits is the majority
    vote of that bit across the doc's portable k-gram hashes
    (+1/-1 sum > 0) — Charikar's scheme over the mod-2^31-1 grams.
    Returns (doc_id, n_grams, simhash) with every value bit-identical
    in DuckDB (integer shifts and masks only)."""
    from . import corpus as CP

    # exploded grams + native bit-vote sums (the simhash64 shape);
    # cache-not-checkpoint lineage cut — see minhash_portable
    g = _bounded_cache_cut(
        "simhash_grams",
        CP._fp_arrays(docs, k, 4, text_col, id_col).select("doc_id", "gs")
    ).select("doc_id", F.explode("gs").alias("g"))
    votes = g.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_grams"),
        *[F.sum(F.expr(
            f"CASE WHEN (g div {1 << b}) % 2 = 1 THEN 1 ELSE -1 END"
        )).alias(f"v{b}") for b in range(bits)]
    )
    bit_terms = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return votes.select(
        "doc_id", "n_grams",
        F.expr(f"CAST({bit_terms} AS BIGINT)").alias("simhash"),
    )


def lsh_pairs_portable(docs: DataFrame, num_hashes=8, k=3,
                       max_bucket: int | None = DEFAULT_MAX_BUCKET,
                       text_col="text", id_col="doc_id") -> DataFrame:
    """Candidate near-dup pairs from the PORTABLE MinHash bands — the
    fully hash-verifiable LSH pair step (the xxhash64 pipeline's pairs
    are rows-only checkable). Same shape as lsh_candidate_pairs: band
    bucket explode, hot-bucket cap, in-bucket self-join with a < b;
    returns (doc_a, doc_b, n_shared_bands)."""
    from pyspark.sql import Window

    sig = minhash_portable(docs, num_hashes, k, text_col, id_col)
    nb = num_hashes // 2
    stacked = sig.select(
        "doc_id",
        F.expr("stack({}, {}) AS (band, bucket)".format(
            nb, ", ".join(f"{j}, band{j}" for j in range(nb)))),
    )
    if max_bucket is not None:
        w = Window.partitionBy("band", "bucket")
        stacked = (stacked.withColumn("_n", F.count("*").over(w))
                   .filter(F.col("_n") <= max_bucket).drop("_n"))
    left = stacked.alias("l")
    right = stacked.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(F.col("l.doc_id").alias("doc_a"),
                 F.col("r.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("int").alias("n_shared_bands"))
    )
