"""Dedup / text-analysis / ANN operator semantics."""

import pytest
from pyspark.sql import functions as F

from libpysal_spark.text import dedup as D
from libpysal_spark.text import quality as Q
from libpysal_spark.text.ann import cosine_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    # unpersist at module teardown: a lingering InMemoryRelation over
    # documents.parquet substitutes into later plan-text assertions
    # (tests/test_plans.py) and makes them order-dependent
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()


def test_exact_duplicates(spark):
    rows = [(0, "a b c"), (1, "a b c"), (2, "x y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.keep_id: r.n_dups for r in D.exact_duplicates(df).collect()}
    assert out == {0: 2, 2: 1}


def test_jaccard_identical_docs(spark):
    rows = [(0, "w1 w2 w3 w4 w5"), (1, "w1 w2 w3 w4 w5"), (2, "zz qq rr ss tt")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_a, r.doc_b): r.jaccard for r in D.ngram_jaccard(df).collect()}
    assert out[(0, 1)] == 1.0
    assert (0, 2) not in out


def test_minhash_finds_near_duplicates(spark, docs):
    # plant a near-duplicate pair
    base = docs.limit(1).select(F.lit(9000).alias("doc_id"), "text")
    dup = docs.limit(1).select(F.lit(9001).alias("doc_id"), F.concat(F.col("text"), F.lit(" tail")).alias("text"))
    df = docs.select("doc_id", "text").unionByName(base).unionByName(dup)
    pairs = {(r.doc_a, r.doc_b) for r in D.minhash_candidates(df).collect()}
    assert (9000, 9001) in pairs


def test_simhash_identical_is_zero_hamming(spark):
    rows = [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"), (2, "one two three four")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sims = D.simhash(df)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in D.simhash_near_pairs(sims, max_hamming=7).collect()}
    assert pairs[(0, 1)] == 0
    # pigeonhole premise enforced in both schemes
    import pytest as _pytest

    with _pytest.raises(ValueError):  # legacy uniform: blocks <= max_hamming
        D.simhash_near_pairs(sims, max_hamming=15, block_bits=4)
    with _pytest.raises(ValueError):  # auto-wide: more blocks than bits
        D.simhash_near_pairs(sims, max_hamming=60)


def test_simhash_wide_blocks_bucket_entropy(spark):
    """VERDICT r4 #1: on a SKEWED near-dup corpus (one shared template, small
    per-doc noise) the wide pigeonhole blocks must still spread docs across
    many join buckets — candidate pairs stay near the true-pair count instead
    of the ~n^2/16 the 4-bit blocks produced — while recall stays exact
    (pigeonhole guarantee, verified against the brute-force pair set)."""
    import pyspark.sql.functions as F

    n = 400
    template = " ".join(f"w{i}" for i in range(30))
    rows = [
        # skewed minority: 40 near-identical template docs
        (i, template + f" extra{i % 7}") if i < 40
        # diverse majority: disjoint vocabularies
        else (i, " ".join(f"t{i}_{j}" for j in range(25)))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sims = D.simhash(df).cache()

    wide = D.simhash_near_pairs(sims, max_hamming=6)
    legacy = D.simhash_near_pairs(sims, max_hamming=6, block_bits=4, bits=60)
    got = {(r.doc_a, r.doc_b) for r in wide.collect()}
    # exact recall: brute-force reference
    a = sims.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sims.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 6)
        .collect()
    }
    assert got == brute

    # candidate volume: sum over buckets of C(sz, 2), straight from the
    # block tables each scheme joins on
    def candidates(pairs_df_blocks):
        sz = pairs_df_blocks.groupBy("blk", "blkval").count()
        return sz.select(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("c")
        ).collect()[0].c

    wide_blocks = D.simhash_blocks(sims, max_hamming=6)
    legacy_blocks = D.simhash_blocks(sims, max_hamming=6, block_bits=4, bits=60)
    c_wide = candidates(wide_blocks)
    c_legacy = candidates(legacy_blocks)
    # the wide scheme must examine far fewer candidates than the 4-bit one
    # on skewed data, and stay sub-quadratic
    assert c_wide < c_legacy / 4
    assert c_wide < 0.25 * n * (n - 1) / 2
    sims.unpersist()


def test_language_id_markers(spark):
    rows = [(0, "the cat and the dog of the house is here"),
            (1, "der hund und die katze ist nicht hier")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.lang_pred for r in Q.language_id(df).collect()}
    assert out == {0: "en", 1: "de"}


def test_token_stats(spark):
    df = spark.createDataFrame([(0, "aa bbb c")], "doc_id long, text string")
    r = Q.token_stats(df).first()
    assert r.n_tokens == 3 and r.n_chars == 8
    assert abs(r.avg_token_len - 2.0) < 1e-12


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(0, "b a c"), (1, "c b a a")], "doc_id long, text string"
    )
    out = {r.doc_id: r.fingerprint for r in Q.fingerprint(df).collect()}
    assert out[0] == out[1]


def test_cosine_topk_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    out = cosine_topk(emb, q, k=4).toPandas()
    assert set(out["query_id"]) == {0, 1, 2}
    assert (out.groupby("query_id")["rank"].max() == 4).all()
    # scores sorted descending per query
    for _, grp in out.groupby("query_id"):
        s = grp.sort_values("rank")["cosine"].to_numpy()
        assert (s[:-1] >= s[1:]).all()
    assert (out["query_id"] != out["neighbor_id"]).all()


def test_pages_text_byte_identity(spark):
    from libpysal_spark.pages import pages

    p = pages(spark, SF).select("doc_id", "text").toPandas()
    raw = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").toPandas()
    m = p.merge(raw, on="doc_id", suffixes=("_p", "_r"))
    assert (m["text_p"] == m["text_r"]).all()


def test_cosine_threshold_pairs_equals_brute_force(spark):
    """Tiled block-pair GEMM + exact rescore == the all-pairs theta join,
    row-for-row (VERDICT r2 #1 fix)."""
    from libpysal_spark.text.ann import _cosine, cosine_threshold_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    tiled = cosine_threshold_pairs(emb, threshold=0.35, blocks=5).orderBy(
        "doc_a", "doc_b"
    )
    a = emb.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("__a"))
    b = emb.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("__b"))
    brute = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("cosine", F.round(_cosine("__a", "__b"), 6))
        .filter(F.col("cosine") > 0.35)
        .select("doc_a", "doc_b", "cosine")
        .orderBy("doc_a", "doc_b")
    )
    assert tiled.collect() == brute.collect()


def test_srp_threshold_pairs_subset_and_recall(spark):
    """SRP candidates + exact rescore: output is a SUBSET of the true pair
    set (no false positives — candidates are exactly rescored), recall is in
    the documented band, and the candidate join inspects well under the full
    pair space."""
    from libpysal_spark.text.ann import cosine_threshold_pairs, srp_threshold_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    true_pairs = {
        (r.doc_a, r.doc_b)
        for r in cosine_threshold_pairs(emb, threshold=0.35, blocks=5).collect()
    }
    got = {(r.doc_a, r.doc_b) for r in srp_threshold_pairs(emb, threshold=0.35).collect()}
    assert got <= true_pairs
    assert len(got) >= 0.25 * len(true_pairs)  # measured ~0.41 on the fixture


def test_ngram_jaccard_max_df_bounds_hot_shingles(spark):
    """VERDICT r2 #4: a shingle present in EVERY doc would alone contribute
    n^2/2 candidate pairs; with max_df the filtered inverted index drops it
    and the pair space stays bounded by the rare shingles."""
    n = 300
    rows = [(i, f"aaa bbb ccc u{i} v{i} w{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # candidate pair space with the guard: reconstruct the filtered inverted
    # index exactly as ngram_jaccard does and count join rows
    sh = docs.select(
        "doc_id", F.explode(D.word_shingles("text", 3)).alias("sh")
    ).distinct()
    keep = sh.groupBy("sh").count().filter(F.col("count") <= 10).select("sh")
    shf = sh.join(keep, "sh", "left_semi")
    cand = (
        shf.alias("a")
        .join(shf.alias("b"), "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .count()
    )
    assert cand == 0  # every shared shingle is hot -> filtered out

    out = D.ngram_jaccard(docs, threshold=0.0, max_df=10)
    assert out.count() == 0

    # without the guard, the hot shingle alone yields n*(n-1)/2 pairs
    unguarded = D.ngram_jaccard(docs, threshold=0.0)
    assert unguarded.count() == n * (n - 1) // 2


def test_ivf_kmeans_quantizer(spark):
    """VERDICT r3 #4: IVF with the deterministic integer-Lloyd quantizer.
    Probing ALL lists must equal the exact top-k (candidate set == corpus);
    the quantizer itself must be stable across recomputation."""
    from libpysal_spark.text.ann import (
        cosine_topk,
        ivf_topk_kmeans,
        kmeans_centroids_int,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.rank): r.neighbor_id for r in cosine_topk(emb, q, k=3).collect()}
    n_cent = 8
    full = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_topk_kmeans(
            emb, q, k=3, n_centroids=n_cent, n_probe=n_cent
        ).collect()
    }
    assert full == exact  # all-lists probe == brute force
    # deterministic: two independent builds give identical centroids
    c1 = kmeans_centroids_int(emb, n_centroids=n_cent)
    c2 = kmeans_centroids_int(emb, n_centroids=n_cent)
    assert c1 == c2
    # partial probe: a sane approximation (most of top-k retained on the
    # 50-vector fixture), never a superset error
    part = ivf_topk_kmeans(emb, q, k=3, n_centroids=n_cent, n_probe=4)
    got = {(r.query_id, r.neighbor_id) for r in part.collect()}
    want = {(k_[0], v) for k_, v in exact.items()}
    assert len(got & want) >= 0.5 * len(want)


def test_dedup_clusters_canonical_keep(spark):
    """pairs {(0,1),(1,2)} + {(5,6)}: one 3-cluster keeps 0, the pair keeps
    5, everyone else keeps themselves."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.keep_id for r in D.dedup_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}
