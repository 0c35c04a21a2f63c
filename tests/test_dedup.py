"""Property tests for the approximate operators (MinHash LSH, sign-LSH
ANN, SimHash) — these have no SQL oracle, so we assert the statistical
contracts instead: determinism, recall against the exact computation,
and candidate quality."""

from __future__ import annotations

from pyspark.sql import functions as F

from crate_spark.operators import dedup as dd
from crate_spark.operators.knn import knn_exact, knn_lsh_cosine
from crate_spark.session import load_tables

SF_DIR = "/root/testdata/sf0.001"


def test_minhash_deterministic(spark):
    t = load_tables(spark, SF_DIR)
    a = dd.minhash_lsh_candidates(t["documents"], "text", "doc_id").collect()
    b = dd.minhash_lsh_candidates(t["documents"], "text", "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_minhash_finds_high_jaccard_pairs(spark):
    """Every pair with true Jaccard >= 0.8 must be an LSH candidate
    (with 32 hashes / 8 bands / r=4: P(miss | j=0.8) = (1-0.8^4)^8 ≈ 0.9%
    per pair; the sf0.001 corpus has few such pairs, so a miss is a bug,
    not noise)."""
    t = load_tables(spark, SF_DIR)
    docs = t["documents"]
    sh = docs.select("doc_id", dd.shingles("text", 3).alias("g"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb"))
    truth = (
        a.join(b, F.col("id_b") > F.col("id_a"))
        .withColumn("j", dd.jaccard(F.col("ga"), F.col("gb")))
        .filter(F.col("j") >= 0.8)
        .select("id_a", "id_b")
        .collect()
    )
    cands = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_candidates(docs, "text", "doc_id").collect()
    }
    missed = [t_ for t_ in ((r["id_a"], r["id_b"]) for r in truth) if t_ not in cands]
    assert not missed, f"high-jaccard pairs missed by LSH: {missed}"


def test_lsh_knn_recall_vs_exact(spark):
    """Multi-table sign-LSH top-5 should recover a reasonable fraction of
    the exact cosine top-5 (random 64-dim data: bucket collision is the
    only pruning). We assert >= 20% average recall — the point is the
    operator wiring, the knob is n_planes."""
    t = load_tables(spark, SF_DIR)
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = knn_exact(emb, q, k=5, metric="cosine").collect()
    approx = knn_lsh_cosine(emb, q, k=5, dim=64).collect()
    exact_pairs = {(r["q_id"], r["vec_id"]) for r in exact}
    approx_pairs = {(r["q_id"], r["vec_id"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.2, f"LSH recall too low: {recall}"


def test_ivf_knn_recall_vs_exact(spark):
    """IVF top-5 (16 cells, nprobe=4) should recover a reasonable
    fraction of the exact euclidean top-5, and be deterministic (fixed
    sample hash seed + Lloyd iterations)."""
    from crate_spark.operators.knn import knn_ivf

    t = load_tables(spark, SF_DIR)
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"), "embedding")
    exact = knn_exact(emb, q, k=5, metric="euclidean").collect()
    approx1 = knn_ivf(emb, q, k=5).collect()
    approx2 = knn_ivf(emb, q, k=5).collect()
    assert sorted(map(tuple, approx1)) == sorted(map(tuple, approx2))
    exact_pairs = {(r["q_id"], r["vec_id"]) for r in exact}
    approx_pairs = {(r["q_id"], r["vec_id"]) for r in approx1}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.2, f"IVF recall too low: {recall}"


def test_simhash_selfsimilar(spark):
    """A doc is Hamming-0 from itself and deterministic across runs."""
    t = load_tables(spark, SF_DIR)
    d = t["documents"].filter(F.col("doc_id") < 20)
    fp1 = {r["doc_id"]: r["fp"] for r in d.select("doc_id", dd.simhash64("text").alias("fp")).collect()}
    fp2 = {r["doc_id"]: r["fp"] for r in d.select("doc_id", dd.simhash64("text").alias("fp")).collect()}
    assert fp1 == fp2
    assert all(isinstance(v, int) for v in fp1.values())


def test_exact_dup_of_itself(spark):
    """Union a table with itself -> every doc is an exact-dup group."""
    t = load_tables(spark, SF_DIR)
    d = t["documents"].limit(50)
    doubled = d.unionAll(d.withColumn("doc_id", F.col("doc_id") + 100000))
    groups = dd.exact_duplicates(doubled, "text", "doc_id").collect()
    assert len(groups) == 50
    assert all(r["n_dups"] == 2 for r in groups)

def test_minhash_bucket_cap_bounds_degenerate_corpus(spark):
    """1000 identical docs land in ONE bucket per band; without the cap
    the band self-join is ~1000^2/2 * bands pairs. With the default cap
    the bucket is dropped and the pair count is bounded (the docs are
    exact duplicates — exact_duplicates handles them linearly)."""
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated in every document").alias("text"),
    )
    capped = dd.minhash_lsh_candidates(docs, "text", "doc_id", max_bucket_size=100)
    assert capped.count() == 0
    # a small over-cap corpus still pairs normally
    small = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated in every document").alias("text"),
    )
    pairs = dd.minhash_lsh_candidates(small, "text", "doc_id", max_bucket_size=100)
    assert pairs.count() == 45  # 10 choose 2, every pair in every band
    # and exact dedup catches the capped cluster with one linear shuffle
    exact = dd.exact_duplicates(docs, "text", "doc_id")
    assert exact.count() == 1


def test_knn_lsh_bucket_cap(spark):
    """A degenerate corpus (all-identical vectors -> one bucket per
    table) is droppable via max_bucket_size without shuffling the
    corpus; normal corpora are unaffected by a generous cap."""
    t = load_tables(spark, SF_DIR)
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("q_id"), "embedding")
    uncapped = knn_lsh_cosine(emb, q, k=5, dim=64).collect()
    generous = knn_lsh_cosine(emb, q, k=5, dim=64, max_bucket_size=10**9).collect()
    assert sorted(map(tuple, uncapped)) == sorted(map(tuple, generous))
    # cap below every bucket population -> no candidates survive
    none = knn_lsh_cosine(emb, q, k=5, dim=64, max_bucket_size=1)
    assert none.count() == 0


def test_minhash_null_text_pairs_with_nothing(spark):
    """A NULL text has no shingles: it must not collide with another
    NULL-text doc in every band (NULL signatures all bucket alike)."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, None), (3, None),
         (4, "lorem ipsum dolor sit amet")],
        "doc_id bigint, text string",
    )
    assert dd.minhash_lsh_candidates(docs, "text", "doc_id").collect() == []
