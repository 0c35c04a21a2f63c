"""k-nearest-neighbor search over embedding columns.

Reference: ``expression/scalar/KnnMatch.java:52-84`` runs Lucene HNSW
(approximate) with EUCLIDEAN similarity (``types/FloatVectorType.java:56``).
We implement EXACT brute-force as the correctness baseline (exact
supersedes approximate) and random-hyperplane LSH as the scale path.

Scale design (100 TB):
- Query vectors are always the broadcast side; the corpus is never
  shuffled for a kNN probe.
- Per-partition top-k happens before the global top-k (Spark's
  TakeOrderedAndProject already does this for single-query searches;
  for batched query sets the window is per query id, shuffled by
  query id — bounded by k * n_queries rows into the final stage).
- The LSH variant prunes candidates by signature bucket so the
  cross product never materializes: cost goes from |Q|x|C| to
  sum over buckets of |Q_b|x|C_b|.
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crate_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_squared,
)


def knn_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    metric: str = "euclidean",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k join: for every query row, the k nearest corpus rows.

    Output: (query_id, corpus_id, distance, rank). The query side is
    broadcast (it is small by contract); distances run as JVM HOFs
    inside the corpus scan stage.
    """
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("_qvec")
    )
    joined = corpus.select(
        F.col(corpus_id), F.col(vec_col).alias("_cvec")
    ).crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(corpus_id) != F.col(query_id))
    if metric == "euclidean":
        dist = l2_distance(F.col("_cvec"), F.col("_qvec"))
        order = F.col("distance").asc()
    elif metric == "cosine":
        dist = cosine_similarity(F.col("_cvec"), F.col("_qvec"))
        order = F.col("distance").desc()
    else:
        raise ValueError(f"unknown metric: {metric}")
    w = Window.partitionBy(query_id).orderBy(order, F.col(corpus_id))
    return (
        joined.withColumn("distance", dist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "distance", "rank")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _lsh_signature_sql(v: str, planes: np.ndarray) -> str:
    """SQL spelling of the sign-bit signature — the same left-assoc
    sum of ``CAST(dot > 0 AS BIGINT) * 2^i`` bits as the Column form,
    with each dot the same zip_with/aggregate fold, so signatures are
    bit-identical."""
    from crate_spark.operators.quant import _sql_double

    bits = []
    for i, plane in enumerate(planes):
        arr = ", ".join(_sql_double(x) for x in plane)
        dot = (
            f"aggregate(zip_with({v}, array({arr}), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, x) -> acc + x)"
        )
        bits.append(f"(CAST(({dot} > 0) AS BIGINT) * {2 ** i})")
    return " + ".join(bits)


def lsh_signature(vec: Column | str, planes: np.ndarray) -> Column:
    """Sign-bit signature of ``vec`` against fixed hyperplanes, as a
    bigint. JVM-side: each bit is a dot product against a literal array
    (no Python in the row path). A column NAME compiles via ONE sql
    parse — the py4j builder cost ~2 socket round-trips per plane plus
    a literal parse each (r11 optimization round: the 8-table x
    4-plane bucket expression was ~3 s of driver time per plan build).
    """
    if isinstance(vec, str):
        return F.expr(_lsh_signature_sql(f"`{vec}`", planes))
    from crate_spark.operators.quant import _lit_vec

    bits = []
    for i, plane in enumerate(planes):
        lit_plane = _lit_vec(plane)
        bit = (dot_product(vec, lit_plane) > 0).cast("bigint") * F.lit(2**i)
        bits.append(bit)
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _lsh_buckets(
    vec: Column | str, dim: int, n_planes: int, n_tables: int, seed: int
) -> Column:
    """Array of (table, bucket) structs — one signature per hash table.
    A column NAME compiles the whole array via ONE sql parse (see
    lsh_signature)."""
    if isinstance(vec, str):
        entries = ", ".join(
            "named_struct('table', {t}, 'bucket', {sig})".format(
                t=t,
                sig=_lsh_signature_sql(
                    f"`{vec}`", random_hyperplanes(dim, n_planes, seed + t)
                ),
            )
            for t in range(n_tables)
        )
        return F.expr(f"array({entries})")
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                lsh_signature(vec, random_hyperplanes(dim, n_planes, seed + t)).alias(
                    "bucket"
                ),
            )
            for t in range(n_tables)
        ]
    )


# ---- training-job amortization ---------------------------------------------
# IVF centroids and PQ codebooks are pure functions of (the corpus
# plan, the column names, the training hyperparameters): repeated ANN
# calls against the same corpus — e.g. consecutive routed knn_pq
# batches, or a knn_ivf probe followed by a routed knn_pq over the
# same table — would otherwise each launch an identical bounded-sample
# collect job. A small LRU keyed on the DataFrame's semanticHash()
# (Catalyst's canonicalized-plan hash, so `spark.read.parquet(p)`
# built twice hits the same entry) plus every training parameter
# amortizes that to one job. The cached values are tiny driver-side
# numpy arrays (<= sample_size * dim doubles), never distributed
# state. Staleness window: if the files UNDER an identical plan are
# rewritten mid-session the cache returns the previous centroids —
# which only shifts ANN recall, never correctness of the distances —
# and `SET crate_spark.vector.centroid_cache = false` (or
# `clear_training_cache()`) opts out.

_TRAINING_CACHE: "OrderedDict[tuple, np.ndarray]" = OrderedDict()
_TRAINING_CACHE_MAX = 64


def clear_training_cache() -> None:
    """Drop all cached IVF centroids / PQ codebooks."""
    _TRAINING_CACHE.clear()


def _training_cache_enabled(df: DataFrame) -> bool:
    return (
        df.sparkSession.conf.get("crate_spark.vector.centroid_cache", "true").lower()
        != "false"
    )


def _training_cache_key(kind: str, df: DataFrame, *params):
    try:
        plan_hash = df.semanticHash()
    except Exception:  # plan not canonicalizable (e.g. local relation quirk)
        return None
    return (kind, plan_hash, *params)


def _training_cached(kind: str, df: DataFrame, params: tuple, train):
    """Return ``train()``, memoized on (kind, corpus plan, params)."""
    if not _training_cache_enabled(df):
        return train()
    key = _training_cache_key(kind, df, *params)
    if key is None:
        return train()
    hit = _TRAINING_CACHE.get(key)
    if hit is not None:
        _TRAINING_CACHE.move_to_end(key)
        return hit
    out = train()
    _TRAINING_CACHE[key] = out
    while len(_TRAINING_CACHE) > _TRAINING_CACHE_MAX:
        _TRAINING_CACHE.popitem(last=False)
    return out


def ivf_centroids_cached(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    sample_size: int = 512,
    n_iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """``train_ivf_centroids`` behind the session training cache —
    consecutive ANN calls over the same corpus plan launch ONE
    centroid-training job (pinned in tests/test_pipeline.py)."""
    return _training_cached(
        "ivf",
        corpus,
        (vec_col, id_col, n_centroids, sample_size, n_iters, seed),
        lambda: train_ivf_centroids(
            corpus,
            vec_col=vec_col,
            id_col=id_col,
            n_centroids=n_centroids,
            sample_size=sample_size,
            n_iters=n_iters,
            seed=seed,
        ),
    )


def train_ivf_centroids(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    sample_size: int = 512,
    n_iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """IVF coarse quantizer: k-means over a bounded deterministic sample.

    The sample is selected by a hash of the id (not ``.sample()``, whose
    row order dependence breaks determinism) and is bounded by
    ``sample_size`` regardless of corpus size — at 100 TB this collect
    is still a few hundred vectors. Lloyd iterations run driver-side in
    numpy on that sample only; the distributed corpus is never pulled.
    Deterministic init: first ``n_centroids`` sample rows in id order.
    """
    sample = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("_h")
        .limit(sample_size)
        .orderBy(id_col)
        .select(vec_col)
        .collect()
    )
    pts = np.array([r[0] for r in sample], dtype=np.float64)
    cents = pts[:n_centroids].copy()
    for _ in range(n_iters):
        # (sample, centroid) distance matrix; argmin assignment
        d2 = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_centroids):
            mask = assign == c
            if mask.any():
                cents[c] = pts[mask].mean(axis=0)
    return cents


def _nearest_cells_sql(vec_col: str, cents: np.ndarray, nprobe: int) -> str:
    """SQL text of ``_nearest_cells`` — exposed so one-parse callers
    (the routed-PQ single-statement pipeline, r12) can inline it into
    a larger ``spark.sql`` string. Identical expression tree."""
    from crate_spark.operators.quant import _sql_double

    v = f"`{vec_col}`"
    entries = ", ".join(
        "named_struct('d', aggregate(zip_with({v}, array({c}), "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (a, x) -> a + x), 'cid', {i})".format(
            v=v, i=i, c=", ".join(_sql_double(x) for x in c)
        )
        for i, c in enumerate(cents)
    )
    return (
        f"transform(slice(array_sort(array({entries})), 1, {nprobe}), "
        f"s -> s.cid)"
    )


def _nearest_cells_np(vecs: np.ndarray, cents: np.ndarray, nprobe: int) -> np.ndarray:
    """``_nearest_cells_sql`` evaluated in numpy for a batch of vectors
    already on the driver, bit-identical to the SQL fold: (v - c)^2
    elementwise then a cumulative sum reproduces the left-to-right
    ``aggregate`` rounding step for step, and the stable argsort breaks
    distance ties by centroid id, as ``array_sort`` on (d, cid) does."""
    v = np.asarray(vecs, dtype=np.float64)
    c = np.asarray(cents, dtype=np.float64)
    diff = v[:, None, :] - c[None, :, :]
    dist = np.cumsum(diff * diff, axis=2)[:, :, -1]
    return np.argsort(dist, axis=1, kind="stable")[:, :nprobe]


def _nearest_cells(vec_col: str, cents: np.ndarray, nprobe: int) -> Column:
    """Array of the ``nprobe`` nearest centroid ids for column
    ``vec_col``.

    Pure JVM: squared distance to each literal centroid, struct-sort
    (lexicographic on (dist, cid)), slice. No Python in the row path —
    and ONE sql parse for the whole expression: the previous
    per-centroid ``F.struct(l2_squared(...))`` spelling cost ~50 ms of
    py4j lambda round-trips per centroid (~0.85 s per call at 16
    centroids, the top driver-side cost in the routed-PQ profile,
    r11)."""
    return F.expr(_nearest_cells_sql(vec_col, cents, nprobe))


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate euclidean top-k via an IVF coarse quantizer.

    Every corpus row is assigned to its nearest centroid cell (map-side,
    literal-centroid expressions); each query probes its ``nprobe``
    nearest cells. The exact distance is then computed only inside the
    probed cells: cost drops from |Q|x|C| to ~|Q|x|C|*nprobe/n_centroids
    with the usual IVF recall trade-off. At 100 TB the corpus can be
    written bucketed/partitioned by ``_cell`` so a probe prunes whole
    files (partition pruning), not just rows.
    """
    if centroids is None:
        centroids = ivf_centroids_cached(
            corpus,
            vec_col=vec_col,
            id_col=corpus_id,
            n_centroids=n_centroids,
            seed=seed,
        )
    from crate_spark.session import spread_small_input

    # the literal-centroid cell assignment is the heavy map stage
    # (n_centroids interpreted L2 folds per row) and a single-row-group
    # file runs it on ONE task — spread first (size-gated no-op at
    # scale; r11 optimization round, same pattern as the routed-PQ
    # encode)
    c = spread_small_input(corpus).select(
        F.col(corpus_id),
        F.col(vec_col).alias("_cvec"),
        _nearest_cells(vec_col, centroids, 1)[0].alias("_cell"),
    )
    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("_qvec"),
        F.explode(_nearest_cells(vec_col, centroids, nprobe)).alias("_cell"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("distance").asc(), F.col(corpus_id))
    return (
        c.join(F.broadcast(q), "_cell")
        .filter(F.col(corpus_id) != F.col(query_id))
        .withColumn("distance", l2_distance(F.col("_cvec"), F.col("_qvec")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "distance", "rank")
    )


def knn_lsh_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    dim: int,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-table sign-LSH
    (OR-amplification): a corpus row is a candidate for a query if they
    share a bucket in ANY of ``n_tables`` independent hash tables.

    P(candidate) = 1 - (1 - (1 - theta/pi)^n_planes)^n_tables — the
    standard S-curve; recall tunes via (n_planes, n_tables). At 100 TB
    the (table, bucket) equi-join replaces the |Q|x|C| cross product
    and the per-query window is bounded by the candidate set.

    ``max_bucket_size`` guards skew: a degenerate bucket (e.g. a mass
    of zero/identical embeddings) would otherwise blow up the candidate
    join. Oversized buckets are dropped via a tiny broadcast anti-join
    — bucket counts aggregate to at most n_tables * 2^n_planes rows, so
    the corpus itself is never shuffled for the cap. Size it well above
    |corpus| / 2^n_planes (the expected bucket population); the other
    hash tables still cover queries whose bucket was dropped.
    """
    from crate_spark.session import spread_small_input

    # the signature stage is n_tables * n_planes interpreted dot folds
    # per corpus row and a single-row-group file runs it on ONE task —
    # spread first (size-gated no-op at scale; r11 optimization round)
    # ONE parsed bucket expression reused on both sides (same column
    # name) — the Column builder paid ~100 py4j round-trips per side
    tb = _lsh_buckets(vec_col, dim, n_planes, n_tables, seed)
    c = spread_small_input(corpus).select(
        F.col(corpus_id),
        F.col(vec_col).alias("_cvec"),
        F.explode(tb).alias("_tb"),
    )
    if max_bucket_size is not None:
        oversized = (
            c.groupBy("_tb")
            .agg(F.count("*").alias("_bsz"))
            .filter(F.col("_bsz") > max_bucket_size)
            .select("_tb")
        )
        c = c.join(F.broadcast(oversized), "_tb", "left_anti")
    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("_qvec"),
        F.explode(tb).alias("_tb"),
    )
    # similarity computes BEFORE the (query, corpus) dedup (r12,
    # guide §2.3 shuffle keys/metadata, not payloads): the dedup used
    # to shuffle both 64-double vectors (~1 KB/row) just to drop
    # multi-table duplicates; computing the cosine map-side on the
    # join output lets the dedup run as a map-side-combining first()
    # aggregate over skinny (q_id, c_id, sim) rows (~24 B). Duplicate
    # candidates compute the same cosine more than once map-side —
    # bounded per-row work traded for shuffle bytes, the trade that
    # wins at 100 TB. first() over per-pair-identical values is
    # deterministic; outputs collect-equal at sf0.1 and the recall
    # tests pin semantics (scripts/profile_lsh.py: 0.97 -> 0.86 s).
    cands = (
        c.join(F.broadcast(q), c["_tb"] == q["_tb"])
        .filter(F.col(corpus_id) != F.col(query_id))
        .withColumn("similarity", cosine_similarity(F.col("_cvec"), F.col("_qvec")))
        .groupBy(query_id, corpus_id)
        .agg(F.first("similarity").alias("similarity"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("similarity").desc(), F.col(corpus_id))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "similarity", "rank")
    )
