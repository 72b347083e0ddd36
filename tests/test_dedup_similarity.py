"""Operator-level semantics for the training-data pipeline ops (the parts
the SQL-oracle gate can't see: LSH candidate quality, SimHash locality,
ANN recall vs the exact baseline)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark.operators import dedup as DD, similarity as SIM
from tests.conftest import SF_DIR_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet").cache()


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    """Plant exact near-dups (doc copies with one word changed) and check
    the LSH pipeline surfaces them as candidates."""
    base = docs.limit(5).select("doc_id", "text")
    clones = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    corpus = base.unionByName(clones)
    sig = DD.minhash_signatures(DD.shingles(corpus, n=3), num_hashes=16)
    pairs = {(r["doc_a"], r["doc_b"])
             for r in DD.lsh_candidate_pairs(sig, 4, 4).collect()}
    for r in base.collect():
        assert (r["doc_id"], r["doc_id"] + 1_000_000) in pairs


def test_simhash_locality(spark, docs):
    """A doc and its near-copy get near-identical simhashes (small Hamming
    distance); unrelated docs are far."""
    base = docs.limit(2).select("doc_id", "text")
    clone = base.limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
    )
    sh = {r["doc_id"]: r["simhash"]
          for r in DD.simhash64(base.unionByName(clone)).collect()}
    ids = sorted(k for k in sh if k < 1_000_000)
    near = bin(sh[ids[0]] ^ sh[ids[0] + 1_000_000]).count("1")
    far = bin(sh[ids[0]] ^ sh[ids[1]]).count("1")
    assert near <= 8 < far


def test_jaccard_identical_is_one(spark, docs):
    base = docs.limit(3).select("doc_id", "text")
    pairs = base.select(
        F.col("doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    out = DD.jaccard_pairs(base, pairs).collect()
    assert all(r["jaccard"] == 1.0 for r in out)


def test_ann_lsh_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = SIM.cosine_topk(emb, queries, k=3)
    tables = [SIM.hyperplanes(64, 3, seed=s) for s in range(1, 9)]
    approx = SIM.ann_topk_lsh(emb, queries, tables, k=3)
    ex = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.5  # 8 tables x 3 bits: high union recall
    # every approx hit must be a genuine embedding (sanity)
    assert all(q != v for q, v in ap)


def test_lsh_bucket_is_deterministic(spark, emb):
    planes = SIM.hyperplanes(64, 6)
    a = {r["vec_id"]: r["lsh_bucket"]
         for r in SIM.with_lsh_bucket(emb.limit(50), planes).collect()}
    b = {r["vec_id"]: r["lsh_bucket"]
         for r in SIM.with_lsh_bucket(emb.limit(50), planes).collect()}
    assert a == b and len(set(a.values())) > 1


def test_ann_lsh_plan_is_hash_join_not_bnlj(spark, emb):
    from osgeo_gdal_spark.operators import similarity as SIM

    queries = emb.limit(2).selectExpr("vec_id AS qid", "embedding AS qvec")
    tables = [SIM.hyperplanes(16, 4, seed=s) for s in (1, 2)]
    plan = (SIM.ann_topk_lsh(emb, queries, tables, k=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_lsh_hot_bucket_cap_drops_mega_bucket(spark, docs):
    from osgeo_gdal_spark.operators import dedup as DD

    # plant a template family: 40 docs with IDENTICAL text -> identical
    # minhash signatures -> one bucket of 40 per band
    import pandas as pd

    template = pd.DataFrame({
        "doc_id": range(100000, 100040),
        "text": ["the same boilerplate template page body " * 4] * 40,
    })
    base = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(template))
    sig = DD.minhash_signatures(DD.shingles(base), 16)

    uncapped = DD.lsh_candidate_pairs(sig, 4, 4)
    capped = DD.lsh_candidate_pairs(sig, 4, 4, max_bucket=10)
    mega = uncapped.filter((F.col("doc_a") >= 100000) & (F.col("doc_b") >= 100000))
    assert mega.count() == 40 * 39 // 2
    assert capped.filter(
        (F.col("doc_a") >= 100000) & (F.col("doc_b") >= 100000)
    ).count() == 0
    # pairs among normal docs are unaffected by the cap
    norm_a = {tuple(r) for r in uncapped.filter(F.col("doc_b") < 100000).collect()}
    norm_b = {tuple(r) for r in capped.filter(F.col("doc_b") < 100000).collect()}
    assert norm_a == norm_b


def test_near_dup_groups_end_to_end(spark, docs):
    from osgeo_gdal_spark.operators import dedup as DD
    import pandas as pd

    # plant two clusters of near-identical docs + leave the corpus alone
    base_text = ("the quick brown fox jumps over the lazy dog again and "
                 "again while the band plays on " * 3)
    rows = []
    for i in range(5):   # cluster A: one word tweaked per copy
        rows.append((200000 + i, base_text + f"suffix{i}"))
    other = ("completely different content about tile pyramids and "
             "mercator mathematics in spark engines " * 4)
    for i in range(3):   # cluster B
        rows.append((300000 + i, other + f"tail{i}"))
    planted = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]))
    base = docs.select("doc_id", "text").unionByName(planted)

    out = DD.near_dup_groups_portable(base, jaccard_threshold=0.7).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["group_id"], set()).add(r["doc_id"])
    ga = [g for g, m in by_group.items() if 200000 in m]
    gb = [g for g, m in by_group.items() if 300000 in m]
    assert ga and by_group[ga[0]] == {200000 + i for i in range(5)}
    assert gb and by_group[gb[0]] == {300000 + i for i in range(3)}
    # exactly one keeper per group, the min id
    for g, m in by_group.items():
        keeps = [r["doc_id"] for r in out
                 if r["group_id"] == g and r["keep"]]
        assert keeps == [min(m)]


def test_ann_ivf_recall_and_plan(spark, emb):
    from osgeo_gdal_spark.operators import similarity as SIM
    import numpy as np

    pdf = emb.select("vec_id", "embedding").toPandas()
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    cent = SIM.kmeans_centroids(X[:200], k=8)
    queries = [(int(pdf["vec_id"][i]), X[i]) for i in (3, 77, 211)]
    approx = SIM.ann_topk_ivf(emb, queries, cent, k=3, nprobe=3)
    exact = SIM.cosine_topk(emb, spark.createDataFrame(
        [(q, [float(x) for x in v]) for q, v in queries],
        "qid LONG, qvec ARRAY<FLOAT>"), k=3)
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.5   # nprobe=3 of 8 clusters on clustered fixture
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_pairs(spark, emb):
    from osgeo_gdal_spark.operators import similarity as SIM
    from pyspark.sql import functions as F
    import pandas as pd
    import numpy as np

    # plant an exact duplicate vector pair + a noisy near-dup
    pdf = emb.limit(2).toPandas()
    v0 = np.asarray(pdf["embedding"][0], dtype=np.float64)
    rng = np.random.default_rng(3)
    near = v0 + rng.normal(0, 0.01 * np.abs(v0).mean(), size=v0.shape)
    extra = spark.createDataFrame(pd.DataFrame({
        "vec_id": [900001, 900002],
        "embedding": [v0.tolist(), near.tolist()],
        "label": [0, 0],
    }))
    base = emb.unionByName(extra)
    tables = [SIM.hyperplanes(64, 6, seed=s) for s in (1, 2, 3)]
    pairs = SIM.embedding_near_dup_pairs(base, tables, threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (int(pdf["vec_id"][0]), 900001) in got
    assert any(900002 in p for p in got)


def test_embedding_near_dup_hot_bucket_cap(spark, emb):
    """A degenerate bucket (many identical vectors, e.g. empty pages) is
    dropped by max_bucket; pairs among normal vectors are unchanged."""
    from osgeo_gdal_spark.operators import similarity as SIM
    import numpy as np
    import pandas as pd

    pdf = emb.limit(1).toPandas()
    v0 = np.asarray(pdf["embedding"][0], dtype=np.float64)
    clones = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(800000, 800030),
        "embedding": [v0.tolist()] * 30,
        "label": [0] * 30,
    }))
    base = emb.unionByName(clones)
    tables = [SIM.hyperplanes(64, 6, seed=s) for s in (1, 2, 3)]

    uncapped = SIM.embedding_near_dup_pairs(base, tables, threshold=0.99,
                                            max_bucket=None)
    capped = SIM.embedding_near_dup_pairs(base, tables, threshold=0.99,
                                          max_bucket=20)
    from pyspark.sql import functions as F

    clone_pairs = uncapped.filter(
        (F.col("id_a") >= 800000) & (F.col("id_b") >= 800000)
    )
    assert clone_pairs.count() == 30 * 29 // 2
    assert capped.filter(
        (F.col("id_a") >= 800000) & (F.col("id_b") >= 800000)
    ).count() == 0
    norm_u = {(r["id_a"], r["id_b"])
              for r in uncapped.filter(F.col("id_b") < 800000).collect()}
    norm_c = {(r["id_a"], r["id_b"])
              for r in capped.filter(F.col("id_b") < 800000).collect()}
    assert norm_u == norm_c


def test_quantize_int8_codes_and_error_bound(spark, emb):
    """Codes are in [0,255] with near-saturated range, and the
    reconstruction error per dim is bounded by half a quantization
    step."""
    import numpy as np

    from osgeo_gdal_spark.operators import similarity as SIM

    q = SIM.quantize_int8(emb)
    rows = q.collect()
    assert all(0 <= r["code_min"] <= r["code_max"] <= 255 for r in rows)
    # mid-rise max error per dim = step/2 = (mx-mn)/512; err sums 64 dims
    # -> bound err by 64 * max_range/512
    base = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()}
    mat = np.stack(list(base.values()))
    ranges = mat.max(axis=0) - mat.min(axis=0)
    bound = float((ranges / 512.0).sum()) + 1e-9
    assert all(r["err"] <= bound for r in rows)


def test_minhash_portable_locality_and_parity(spark):
    """Portable-hash MinHash: near-identical docs collide on at least
    one LSH band, dissimilar docs on none; signatures equal the direct
    python recomputation of the universal-hash mins."""
    from osgeo_gdal_spark.operators import corpus as CP, dedup as DD

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight")
    near = base.replace("tonight", "today")
    other = ("completely different words describing an unrelated topic "
             "with zero overlapping grams whatsoever here")
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id LONG, text STRING")
    rows = {r["doc_id"]: r for r in
            DD.minhash_portable(df, num_hashes=8, k=3).collect()}
    shared_12 = sum(rows[1][f"band{j}"] == rows[2][f"band{j}"]
                    for j in range(4))
    shared_13 = sum(rows[1][f"band{j}"] == rows[3][f"band{j}"]
                    for j in range(4))
    assert shared_12 >= 1
    assert shared_13 == 0

    # direct python parity for doc 1
    M, WB, GB = CP.FP_MOD, CP.FP_WORD_BASE, CP.FP_GRAM_BASE
    ws = [w for w in base.split(" ") if w]
    hs = []
    for w in ws:
        acc = 0
        for c in w:
            acc = (acc * WB + ord(c)) % M
        hs.append(acc)
    gs = [(((hs[i] * GB + hs[i + 1]) % M) * GB + hs[i + 2]) % M
          for i in range(len(hs) - 2)]
    for i in range(8):
        a = DD.MH_A0 + DD.MH_DA * i
        b = DD.MH_B0 + DD.MH_DB * i
        want = min((a * g + b) % M for g in gs)
        assert rows[1][f"mh{i}"] == want


def test_simhash_portable_hamming_locality(spark):
    """Portable SimHash: near-identical docs sit within small Hamming
    distance, dissimilar docs far."""
    from osgeo_gdal_spark.operators import dedup as DD

    # long docs: one changed word flips only 3 of ~120 gram votes
    base = " ".join(f"word{(i * 7) % 41} token{(i * 11) % 29}"
                    for i in range(60))
    near = base.replace("word13", "changed", 1)
    other = " ".join(f"alpha{(i * 5) % 37} beta{(i * 13) % 31}"
                     for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id LONG, text STRING")
    rows = {r["doc_id"]: r["simhash"] for r in
            DD.simhash_portable(df, bits=16, k=3).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(rows[1], rows[2]) <= 3
    assert ham(rows[1], rows[3]) > ham(rows[1], rows[2]) + 2
