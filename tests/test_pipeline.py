"""Invariant tests for the training-data pipeline operators: packing
correctness, split stability under data growth, mix subsets, PII
redaction on known strings, quality-gate rule routing."""

from __future__ import annotations

from pyspark.sql import functions as F

from crate_spark.operators import pipeline as P
from tests.conftest import SF_DIR


def test_pack_sequences_invariants(spark):
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(900)) + 10).alias("n_tok"),
    )
    packed = P.pack_sequences(docs, "doc_id", "n_tok", max_tokens_per_pack=2048)
    rows = packed.collect()
    # every doc packed exactly once
    assert sorted(r["id"] for r in rows) == list(range(500))
    # pack_tokens is consistent: sum of members == reported total, and
    # no pack exceeds the budget unless it is a single oversized doc
    packs = {}
    for r in rows:
        packs.setdefault((r["pack_key"], r["pack_id"]), []).append(r)
    for members in packs.values():
        total = sum(m["n_tokens"] for m in members)
        assert all(m["pack_tokens"] == total for m in members)
        if len(members) > 1:
            assert total <= 2048
    # deterministic: second run identical
    again = sorted(
        map(tuple, P.pack_sequences(docs, "doc_id", "n_tok", max_tokens_per_pack=2048).collect())
    )
    assert again == sorted(map(tuple, rows))


def test_pack_oversized_doc_is_singleton(spark):
    docs = spark.createDataFrame(
        [(1, 5000), (2, 100), (3, 100)], "doc_id long, n_tok long"
    )
    # force one group so all three docs pack together
    docs1 = docs.withColumn("k", F.lit(0))
    rows = P.pack_sequences(
        docs1, "doc_id", "n_tok", max_tokens_per_pack=2048, pack_key_col="k"
    ).collect()
    by_id = {r["id"]: r for r in rows}
    assert by_id[1]["pack_tokens"] == 5000  # singleton, over budget by itself
    assert by_id[2]["pack_id"] == by_id[3]["pack_id"]  # small docs share a pack


def test_train_split_stable_under_growth(spark):
    """A document's split must not change when the corpus grows."""
    small = spark.range(100).select(F.col("id"), P.train_split("id").alias("s"))
    big = spark.range(10_000).select(F.col("id"), P.train_split("id").alias("s"))
    merged = small.alias("a").join(big.alias("b"), "id")
    assert merged.filter(F.col("a.s") != F.col("b.s")).count() == 0
    # rough 98/1/1 shape at 10k ids
    dist = {r["s"]: r["c"] for r in big.groupBy("s").agg(F.count("*").alias("c")).collect()}
    assert dist["train"] > 9_500 and 0 < dist["val"] < 300 and 0 < dist["test"] < 300


def test_domain_mix_subset_and_full_keep(spark):
    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, "web")
        .when(F.col("id") % 3 == 1, "wiki")
        .otherwise("other")
        .alias("dom"),
    )
    mixed = P.domain_mix(df, "id", {"web": 0.5, "wiki": 1.0}, "dom")
    counts = {r["dom"]: r["c"] for r in mixed.groupBy("dom").agg(F.count("*").alias("c")).collect()}
    full = {r["dom"]: r["c"] for r in df.groupBy("dom").agg(F.count("*").alias("c")).collect()}
    assert counts["wiki"] == full["wiki"]  # weight 1.0 keeps everything
    assert counts["other"] == full["other"]  # unlisted domains untouched
    assert 0 < counts["web"] < full["web"]  # downsampled, deterministic


def test_redact_pii_known_strings(spark):
    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@example.co.uk now", "mail <email> now"),
            ("call 1234567 or 12345", "call <number> or 12345"),
            ("host 10.0.255.1 up", "host <ipv4> up"),
            ("clean text", "clean text"),
        ],
        "t string, want string",
    )
    bad = df.filter(P.redact_pii("t") != F.col("want")).count()
    assert bad == 0


def test_quality_gate_rule_routing(spark):
    df = spark.createDataFrame(
        [
            ("one two", "too_short"),  # < 5 words
            ("a b c d e f g h", "words_too_short"),  # mean word len 1
            ("the quick brown foxes jumped over lazy sleeping dogs", "keep"),
            ("!!! ??? ... ;;; ### $$$ %%% &&& @@@ ***", "too_much_punct"),
        ],
        "t string, want string",
    )
    got = df.select(P.quality_gate("t").alias("g"), "want").collect()
    for r in got:
        assert r["g"] == r["want"], r


def test_quantized_dot_tracks_exact_cosine(spark):
    """int8 dequantized dot products stay within ~1% of the exact
    float dot — the accuracy contract of the SQ8 shuffle-size trade."""
    import math
    import random

    from crate_spark.operators import quant as Q

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(20)]
    df = spark.createDataFrame(vecs, "id long, v array<double>")
    df = df.select(
        "id", "v",
        Q.quant_scale("v").alias("s"),
        Q.quantize_int8("v").alias("q"),
    )
    a, b = df.alias("a"), df.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("ia"), F.col("b.id").alias("ib"),
        Q.dequant_dot(F.col("a.q"), F.col("a.s"), F.col("b.q"), F.col("b.s")).alias("qdot"),
        F.aggregate(
            F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        ).alias("fdot"),
    )
    for r in pairs.collect():
        # absolute tolerance scaled to vector norms (64-dim, |v|<=1)
        assert math.isclose(r["qdot"], r["fdot"], abs_tol=0.35), r


def test_quantize_materialized_scale_matches_inline(spark):
    """quantize_int8 with a pre-materialized scale column yields codes
    bit-identical to the scale=None inline form — the equivalence the
    r11 pipeline_knn_quantized optimization rests on (the inline form
    re-evaluates the derived scale per element: same doubles, O(d^2))."""
    import random

    from crate_spark.operators import quant as Q

    rng = random.Random(13)
    vecs = [(i, [rng.uniform(-3, 3) for _ in range(48)]) for i in range(50)]
    vecs.append((50, [0.0] * 48))  # zero vector: scale falls back to 1.0
    df = spark.createDataFrame(vecs, "id long, v array<double>")
    inline = df.select("id", Q.quantize_int8("v").alias("q"))
    two_step = df.select("id", "v", Q.quant_scale("v").alias("s")).select(
        "id", Q.quantize_int8("v", F.col("s")).alias("q")
    )
    a = {r["id"]: r["q"] for r in inline.collect()}
    b = {r["id"]: r["q"] for r in two_step.collect()}
    assert a == b


def test_decontaminate_flags_known_overlap(spark):
    """A doc sharing an 8-gram with the benchmark is flagged; a
    disjoint doc is not; counts are per-occurrence."""
    from crate_spark.operators.pipeline import decontaminate

    gram = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, f"prefix {gram} suffix words here"),
            (2, "completely different content with no shared grams at all ok"),
            (3, f"{gram} again later {gram} tail"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"benchmark contains {gram} inside")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in decontaminate(docs, bench).collect()}
    assert out[1]["contaminated"] and out[1]["n_contaminated_ngrams"] >= 1
    assert not out[2]["contaminated"] and out[2]["n_contaminated_ngrams"] == 0
    assert out[3]["contaminated"]
    # the benchmark gram set broadcasts; the training side must not
    # shuffle for the probe (only the per-doc count aggregate may)
    plan = decontaminate(docs, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repetition_metrics_values(spark):
    from crate_spark.operators.pipeline import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "same line\nsame line\nother line"),
            (2, "all words distinct here"),
            (3, "dup dup dup dup"),
        ],
        "doc_id int, text string",
    )
    m = repetition_metrics("text")
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", m["dup_line_frac"].alias("l"), m["dup_word_frac"].alias("w")
        ).collect()
    }
    assert abs(rows[1]["l"] - 1 / 3) < 1e-9  # 3 lines, 2 distinct
    assert rows[2]["w"] == 0.0
    assert abs(rows[3]["w"] - 3 / 4) < 1e-9  # 4 words, 1 distinct


def test_shard_layout_stable_and_balanced(spark):
    from crate_spark.operators.pipeline import shard_layout

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = shard_layout(df, "doc_id", 8)
    # deterministic: same ids -> same shards on re-run
    b = shard_layout(df, "doc_id", 8)
    assert a.collect() == b.collect()
    sizes = [r["n"] for r in a.groupBy("shard").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == 8
    # md5 is uniform: no shard more than 2x the mean
    assert max(sizes) < 2 * (2000 / 8)


def test_pq_knn_recall_and_determinism(spark):
    """PQ + exact re-rank: recall@10 >= 0.8 against exact L2 kNN on
    the synthetic embeddings (worst-case near-random vectors), codes
    are pure JVM (no Python in the plan), and two runs are
    bit-identical (deterministic sample + init)."""
    from pyspark.sql import functions as F

    from crate_spark.operators import quant as Q

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    out1 = Q.knn_pq(emb, queries, k_neighbors=10)
    assert "BatchEvalPython" not in out1._jdf.queryExecution().executedPlan().toString()
    got1 = {(r["query_id"], r["neighbor_id"]) for r in out1.collect()}
    got2 = {
        (r["query_id"], r["neighbor_id"])
        for r in Q.knn_pq(emb, queries, k_neighbors=10).collect()
    }
    assert got1 == got2  # deterministic end-to-end
    # exact baseline per query; recall averaged (per-query floor 0.6 —
    # random 64-dim vectors are PQ's worst case)
    recalls = []
    for qid, qv in queries:
        qlit = F.array(*[F.lit(float(x)) for x in qv])
        l2 = F.aggregate(
            F.zip_with("embedding", qlit, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        exact = {
            r["vec_id"]
            for r in emb.select("vec_id", l2.alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .collect()
        }
        mine = {n for q, n in got1 if q == qid}
        r = len(exact & mine) / 10
        assert r >= 0.6, f"recall@10 too low for q{qid}: {r}"
        recalls.append(r)
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_pq_routed_batch_semantics(spark):
    """The IVF-routed large-batch PQ path returns k rows per query,
    ranks each query's own vector first (distance 0 — a corpus row's
    assigned cell is its nearest cell, which the identical query always
    probes), and is deterministic across runs."""
    from pyspark.sql import functions as F

    from crate_spark.operators import quant as Q

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 80).collect()
    ]
    assert len(queries) == 80  # > default threshold 64 -> routed
    out = Q.knn_pq(emb, queries, k_neighbors=5)
    rows = out.collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {qid for qid, _ in queries}
    for qid, rs in per_q.items():
        assert len(rs) == 5
        best = min(rs, key=lambda r: (r["l2_dist"], r["neighbor_id"]))
        assert best["neighbor_id"] == qid and best["l2_dist"] == 0.0
    again = {(r["query_id"], r["neighbor_id"]) for r in Q.knn_pq(emb, queries, k_neighbors=5).collect()}
    assert again == {(r["query_id"], r["neighbor_id"]) for r in rows}


def test_pq_routed_sparse_cell_underfill(spark):
    """ADVICE r7: the routed path's probed cells bound what a query can
    see — when a query's nprobe cells jointly hold fewer than
    k_neighbors corpus rows, that query returns FEWER than k rows
    (documented in knn_pq/_knn_pq_ivf_routed; faiss IVF does the same).
    Pin it on a deliberately sparse cell: two far-apart clusters, the
    probed one holding only 2 rows."""
    from crate_spark.operators import quant as Q

    dim = 8
    dense = [(i, [0.0 + 0.01 * ((i * 7 + j) % 5) for j in range(dim)]) for i in range(50)]
    sparse = [(100 + i, [100.0 + 0.01 * j + i for j in range(dim)]) for i in range(2)]
    corpus = spark.createDataFrame(
        dense + sparse, "vec_id bigint, embedding array<double>"
    )
    # 10 probe queries sitting on the sparse cluster; threshold lowered
    # so the batch routes through the IVF single-scan path
    queries = [(1000 + i, [100.0 + 0.01 * j for j in range(dim)]) for i in range(10)]
    spark.conf.set("crate_spark.vector.pq_route_threshold", "8")
    try:
        out = Q.knn_pq(
            corpus, queries, k_neighbors=5,
            m=4, k_codes=8, n_centroids=2, nprobe=1,
        ).collect()
    finally:
        spark.conf.unset("crate_spark.vector.pq_route_threshold")
    per_q: dict[int, set] = {}
    for r in out:
        per_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(per_q) == {qid for qid, _ in queries}
    for qid, neigh in per_q.items():
        # the sparse cell holds exactly the 2 far rows: under-filled
        assert neigh == {100, 101}, (qid, neigh)


def test_pq_codebook_shapes_and_codes_bounded(spark):
    from pyspark.sql import functions as F

    from crate_spark.operators import quant as Q

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = Q.train_pq_codebooks(emb, m=4, k=16)
    assert books.shape[0] == 4 and books.shape[1] == 16
    coded = emb.select(Q.pq_encode("embedding", books).alias("codes"))
    stats = coded.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("m"),
    ).collect()[0]
    assert stats["lo"] >= 0 and stats["hi"] < 16 and stats["m"] == 4


def test_pq_encode_null_element_yields_null_code(spark):
    """ADVICE r11: a NULL *element* inside a correctly-sized vector must
    produce a NULL code (the old array_position spelling's behavior),
    not code 0 — the least-fold's struct comparator sorts a NULL 'd'
    before ('d'=Infinity) without the exists() guard. Also pins the
    one-parse SQL path against the Column/array_position reference
    implementation on NULL-free rows."""
    import numpy as np
    from pyspark.sql import functions as F

    from crate_spark.operators import quant as Q

    books = np.arange(2 * 3 * 2, dtype=np.float64).reshape(2, 3, 2)
    df = spark.createDataFrame(
        [
            (1, [0.5, 1.5, 6.0, 7.0]),
            (2, [0.5, None, 6.0, 7.0]),  # NULL element, subspace 0
            (3, None),
            (4, [0.5, 1.5]),  # short vector
        ],
        "id bigint, v array<double>",
    )
    got = {
        r["id"]: r["codes"]
        for r in df.select("id", Q.pq_encode("v", books).alias("codes")).collect()
    }
    ref = {
        r["id"]: r["codes"]
        for r in df.select(
            "id", Q.pq_encode(F.col("v"), books).alias("codes")
        ).collect()
    }
    assert got[1] == ref[1] and got[1][0] is not None
    assert got[2] == [None, ref[2][1]]  # NULL code in the NULL subspace only
    assert got[3] == [None, None]
    assert got[4][1] is None


def test_training_cache_amortizes_jobs(spark, monkeypatch):
    """VERDICT r7 #6: consecutive routed knn_pq batches — and a knn_ivf
    call over the same corpus — launch ONE IVF-centroid training job
    and ONE PQ-codebook training job. The cache keys on the corpus
    plan's semanticHash + every training hyperparameter, so a fresh
    ``spark.read.parquet`` of the same path also hits; ``SET
    crate_spark.vector.centroid_cache = false`` opts out."""
    from crate_spark.operators import knn as K
    from crate_spark.operators import quant as Q

    K.clear_training_cache()
    calls = {"ivf": 0, "pq": 0}
    real_ivf, real_pq = K.train_ivf_centroids, Q.train_pq_codebooks

    def count_ivf(*a, **kw):
        calls["ivf"] += 1
        return real_ivf(*a, **kw)

    def count_pq(*a, **kw):
        calls["pq"] += 1
        return real_pq(*a, **kw)

    monkeypatch.setattr(K, "train_ivf_centroids", count_ivf)
    monkeypatch.setattr(Q, "train_pq_codebooks", count_pq)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 20).collect()
    ]
    spark.conf.set("crate_spark.vector.pq_route_threshold", "8")
    try:
        first = Q.knn_pq(emb, queries, k_neighbors=3).collect()
        again = Q.knn_pq(emb, queries, k_neighbors=3).collect()
        assert calls == {"ivf": 1, "pq": 1}, calls
        assert {(r["query_id"], r["neighbor_id"]) for r in first} == {
            (r["query_id"], r["neighbor_id"]) for r in again
        }

        # cross-function: knn_ivf with the same (corpus, params) reuses
        # the routed path's centroids — still one IVF training job
        qdf = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        K.knn_ivf(emb, qdf, 3).collect()
        assert calls["ivf"] == 1, calls

        # a semantically fresh read of the same path hits too
        emb2 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        Q.knn_pq(emb2, queries, k_neighbors=3).collect()
        assert calls == {"ivf": 1, "pq": 1}, calls

        # different hyperparameters = different key = new training
        Q.knn_pq(emb, queries, k_neighbors=3, n_centroids=8).collect()
        assert calls["ivf"] == 2, calls

        # opt-out setting bypasses the cache entirely
        spark.conf.set("crate_spark.vector.centroid_cache", "false")
        Q.knn_pq(emb, queries, k_neighbors=3).collect()
        assert calls == {"ivf": 3, "pq": 2}, calls
    finally:
        spark.conf.unset("crate_spark.vector.pq_route_threshold")
        spark.conf.unset("crate_spark.vector.centroid_cache")
        K.clear_training_cache()


def test_probe_cells_numpy_matches_sql_fold(spark):
    """The driver-side probe cells (routed PQ) and the SQL fold
    (``_nearest_cells_sql``) are one definition: same cells, same
    order, with exact distance ties broken by centroid id."""
    import numpy as np

    from crate_spark.operators.knn import _nearest_cells_np, _nearest_cells_sql

    rng = np.random.default_rng(7)
    cents = rng.normal(size=(6, 8))
    cents = np.vstack([cents, cents[1], cents[4], cents[1]])  # duplicate centroids
    vecs = np.vstack([rng.normal(size=(40, 8)), cents[:3], np.zeros((1, 8))])
    nprobe = 5
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id int, v array<double>",
    )
    rows = df.select("id", F.expr(_nearest_cells_sql("v", cents, nprobe)).alias("c")).collect()
    via_sql = {r["id"]: list(r["c"]) for r in rows}
    via_np = _nearest_cells_np(vecs, cents, nprobe)
    assert {i: [int(c) for c in via_np[i]] for i in range(len(vecs))} == via_sql
    # a vector equal to centroid 1 is at distance 0 from its two
    # copies as well: the tie resolves by ascending centroid id
    assert via_sql[41][:3] == [1, 6, 8]
