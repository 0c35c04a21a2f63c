"""Embedding quantization: float32 → int8 with a per-vector scale.

LLM-pipeline extension (no reference analog — CrateDB float_vector is
float32-only). At 100 TB the embedding column dominates shuffle bytes
in every vector operation; symmetric per-vector int8 quantization cuts
them 4× while keeping cosine ranking nearly intact (the standard
faiss-style SQ8 trade). All expressions are JVM builtins; rounding is
spelled floor(x + 0.5) so the oracle (DuckDB) computes bit-identical
results — both engines evaluate the same IEEE double ops in the same
array order.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def quant_scale(vec) -> F.Column:
    """Per-vector scale: max |v| / 127 (symmetric, zero-point-free).
    Zero vectors get scale 1.0 so quantization is a no-op, not a NaN."""
    v = F.col(vec) if isinstance(vec, str) else vec
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    return F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(1.0))


def quantize_int8(vec, scale=None) -> F.Column:
    """int8 codes: floor(v/scale + 0.5), clamped to [-127, 127].

    Prefer passing ``scale`` as a pre-materialized column: with
    ``scale=None`` the derived scale subtree is inlined into the
    per-element lambda, and interpreted HOFs have no CSE — every
    element re-evaluates the whole-vector ``array_max`` (O(d^2) per
    row)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    s = quant_scale(v) if scale is None else scale
    return F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.floor(x.cast("double") / s + F.lit(0.5)).cast("int")),
        ),
    )


def dequant_dot(qa, sa, qb, sb) -> F.Column:
    """Dot product of two quantized vectors: int accumulation (exact)
    times the two scales — the cheap inner loop of quantized kNN."""
    acc = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return acc.cast("double") * sa * sb


def reconstruction_rmse(vec, q, scale) -> F.Column:
    """Root-mean-square quantization error of one vector — the audit
    metric for choosing a quantization level."""
    v = F.col(vec) if isinstance(vec, str) else vec
    sq = F.aggregate(
        F.zip_with(v, q, lambda x, c: F.pow(x.cast("double") - c * scale, F.lit(2.0))),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return F.sqrt(sq / F.size(v))


# ---- product quantization -------------------------------------------------
# The second rung of the vector-compression ladder (after SQ8 above):
# split each d-dim vector into m subvectors, learn a k-centroid
# codebook per subspace over a bounded deterministic sample, store
# ceil(log2 k) bits per subspace. At 100 TB with m=8/k=256 a 768-dim
# float32 embedding compresses 384x, and ADC search never decodes the
# corpus — queries carry per-subspace lookup tables instead.


def train_pq_codebooks(
    corpus,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    sample_size: int = 512,
    n_iters: int = 5,
    seed: int = 42,
):
    """Per-subspace k-means codebooks ``(m, k, d/m)`` over a bounded
    deterministic sample — identical sampling discipline to
    ``knn.train_ivf_centroids`` (hash-of-id order, driver-side numpy
    on <= sample_size rows, init = first k sample rows per subspace);
    the distributed corpus is never collected."""
    import numpy as np

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
    if pts.size == 0:
        raise ValueError("train_pq_codebooks: empty corpus")
    d = pts.shape[1]
    if d % m:
        raise ValueError(f"vector dim {d} not divisible by m={m}")
    # fewer sample vectors than centroids: shrink k (a codebook can't
    # have more distinct centroids than training points)
    k = min(k, pts.shape[0])
    dsub = d // m
    books = np.empty((m, k, dsub), dtype=np.float64)
    for j in range(m):
        sub = pts[:, j * dsub : (j + 1) * dsub]
        cents = sub[:k].copy()
        for _ in range(n_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books[j] = cents
    return books


def pq_codebooks_cached(
    corpus,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    sample_size: int = 512,
    n_iters: int = 5,
    seed: int = 42,
):
    """``train_pq_codebooks`` behind the same session training cache as
    ``knn.ivf_centroids_cached`` — consecutive PQ searches over the
    same corpus plan train their codebooks once (key: canonicalized
    corpus plan hash + every hyperparameter; opt out via
    ``SET crate_spark.vector.centroid_cache = false``)."""
    from crate_spark.operators import knn

    return knn._training_cached(
        "pq",
        corpus,
        (vec_col, id_col, m, k, sample_size, n_iters, seed),
        lambda: train_pq_codebooks(
            corpus,
            vec_col=vec_col,
            id_col=id_col,
            m=m,
            k=k,
            sample_size=sample_size,
            n_iters=n_iters,
            seed=seed,
        ),
    )


def _sql_double(x) -> str:
    f = float(x)
    if f != f:
        return "double('NaN')"
    if f == float("inf"):
        return "double('Infinity')"
    if f == float("-inf"):
        return "double('-Infinity')"
    r = repr(f)
    return r if "e" in r or "E" in r else r + "D"


def _lit_vec(vals) -> F.Column:
    """array<double> literal via ONE sql parse — the
    ``F.array(*[F.lit(x) ...])`` spelling costs a py4j round-trip PER
    ELEMENT, which at codebook/centroid sizes is seconds of driver
    time per plan build (the routed 200-query batch spent 4+ s just
    constructing expressions)."""
    return F.expr("array(" + ", ".join(_sql_double(x) for x in vals) + ")")


def _lit_matrix(rows) -> F.Column:
    """array<array<double>> literal via one sql parse (see _lit_vec)."""
    body = ", ".join(
        "array(" + ", ".join(_sql_double(x) for x in r) + ")" for r in rows
    )
    return F.expr(f"array({body})")


def pq_encode(vec, codebooks) -> F.Column:
    """``array<int>`` of m codes for one vector — pure JVM, ONE sql
    parse for the whole expression (r11 optimization round).

    Per subspace: a least-fold argmin over the literal codebook —
    ``aggregate(sequence(1, k), (d=Inf, i=k+1), least)`` with a
    (distance, index) struct accumulator. vs the previous
    ``array_position(dists, array_min(dists))`` spelling this

    - costs ONE ``F.expr`` parse instead of m ``_lit_matrix`` parses
      plus per-subspace py4j lambda round-trips (~0.9 s of driver
      time per plan build at m=8/k=16, r11 profile), and
    - evaluates each centroid distance ONCE per row instead of twice:
      ``dists`` appeared as a child of both array_position and
      array_min, duplicating the transform subtree, and HOF lambdas
      run interpreted with no common-subexpression elimination.

    ``least`` on the (d, i) struct is lexicographic, so distance ties
    keep the lowest index — identical to array_position's first-match
    rule; the distance arithmetic is the same zip_with fold in the
    same order, so codes are bit-identical (pinned by the rows-only
    goldens and tests/test_pipeline.py recall tests)."""
    if isinstance(vec, str):
        return F.expr(_pq_encode_sql(vec, codebooks))
    # Column input (ad-hoc/test use): route through a one-column
    # projection is not possible here, so keep the py4j builder.
    m, k, dsub = codebooks.shape
    codes = []
    for j in range(m):
        sub = F.slice(vec, j * dsub + 1, dsub)
        dists = F.transform(
            _lit_matrix(codebooks[j]),
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
        )
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*codes)


def _pq_encode_sql(vec: str, codebooks) -> str:
    """SQL text of the column-NAME ``pq_encode`` fast path — exposed so
    one-parse callers (the routed-PQ single-statement pipeline, r12)
    can inline it. Identical expression tree to ``pq_encode(vec, cb)``."""
    m, k, dsub = codebooks.shape
    v = f"`{vec}`"
    subs = []
    for j in range(m):
        cb = ", ".join(
            "array(" + ", ".join(_sql_double(x) for x in c) + ")"
            for c in codebooks[j]
        )
        dist = (
            f"aggregate(zip_with(slice({v}, {j * dsub + 1}, {dsub}), "
            f"element_at(array({cb}), i), "
            f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            f"0.0D, (a, x) -> a + x)"
        )
        subs.append(
            # NULL/short-vector parity with the old array_position
            # spelling (whose null distances propagated to a null
            # code). The exists() leg covers a NULL *element* inside a
            # correctly-sized vector: every centroid distance is then
            # NULL, and least() on a struct whose 'd' is NULL would
            # sort it before ('d'=Infinity) and return code 0 where
            # the old path returned NULL (ADVICE r11).
            f"CASE WHEN {v} IS NULL OR size({v}) < {(j + 1) * dsub} "
            f"OR exists(slice({v}, {j * dsub + 1}, {dsub}), x -> x IS NULL) "
            f"THEN CAST(NULL AS INT) ELSE "
            f"aggregate(sequence(1, {k}), "
            f"named_struct('d', CAST('Infinity' AS DOUBLE), 'i', {k + 1}), "
            f"(acc, i) -> least(acc, named_struct('d', {dist}, 'i', i)), "
            f"acc -> CAST(acc.i - 1 AS INT)) END"
        )
    return "array(" + ", ".join(subs) + ")"


def pq_adc_distance(codes, query_vec, codebooks) -> F.Column:
    """Asymmetric distance: sum over subspaces of the PRECOMPUTED
    ``||q_sub - centroid||^2`` lookup table entry the code points at.
    The corpus is never decoded; each query contributes one literal
    (m, k) table — the faiss ADC search loop as a JVM expression."""
    import numpy as np

    m, k, dsub = codebooks.shape
    q = np.asarray(query_vec, dtype=np.float64)
    lut = np.array(
        [
            ((q[j * dsub : (j + 1) * dsub][None, :] - codebooks[j]) ** 2).sum(axis=1)
            for j in range(m)
        ]
    )  # (m, k)
    if isinstance(codes, str):
        # one sql parse for the whole 0.0 + e_1 + ... + e_m chain (same
        # left-assoc fold as the Column form below — r11, see
        # pq_adc_lut_col_expr)
        terms = " + ".join(
            "element_at(array({row}), element_at(`{c}`, {j}) + 1)".format(
                row=", ".join(_sql_double(x) for x in lut[j]),
                c=codes,
                j=j + 1,
            )
            for j in range(m)
        )
        return F.expr(f"0.0D + {terms}")
    c = codes
    total = F.lit(0.0)
    for j in range(m):
        row = _lit_vec(lut[j])
        total = total + F.element_at(row, F.element_at(c, j + 1) + 1)
    return total


def pq_adc_lut_col_expr(codes, lut_col, m: int) -> F.Column:
    """ADC distance with the per-query LUT riding AS A COLUMN — the
    batched counterpart of ``pq_adc_distance``'s literal table: the
    driver precomputes each query's (m, k) ``||q_sub - centroid||^2``
    table once (numpy) and ships it on the broadcast query batch, so
    the per-corpus-row work is m table lookups instead of m*dsub
    multiply-adds, and the plan carries no codebook literals at all
    (r11 — replaced pq_adc_distance_expr in the routed path).

    Column-NAME arguments compile via ONE sql parse (the py4j chain
    cost ~25 socket round-trips ≈ 75 ms per plan build at m=8, r11
    profile); the parsed tree is the same left-associative
    0.0 + e_1 + ... + e_m fold, so distances are bit-identical."""
    if isinstance(codes, str) and isinstance(lut_col, str):
        return F.expr(_adc_lut_sql(codes, lut_col, m))
    c = F.col(codes) if isinstance(codes, str) else codes
    lut = F.col(lut_col) if isinstance(lut_col, str) else lut_col
    total = F.lit(0.0)
    for j in range(m):
        total = total + F.element_at(
            F.element_at(lut, j + 1), F.element_at(c, j + 1) + 1
        )
    return total


def _adc_lut_sql(codes: str, lut_col: str, m: int) -> str:
    """SQL text of the column-NAME ``pq_adc_lut_col_expr`` fast path —
    exposed for the one-parse routed pipeline (r12). Same fold."""
    terms = " + ".join(
        f"element_at(element_at(`{lut_col}`, {j + 1}), "
        f"element_at(`{codes}`, {j + 1}) + 1)"
        for j in range(m)
    )
    return f"0.0D + {terms}"


def pq_adc_distance_expr(codes, qvec, codebooks) -> F.Column:
    """ADC distance with the query vector AS A COLUMN — the batched
    form of ``pq_adc_distance``: per subspace, element_at the code's
    centroid out of the literal codebook and accumulate
    ``||q_sub - centroid||^2``. Costlier per row than the per-query
    literal LUT (dsub multiply-adds instead of one table lookup) but
    still pure JVM, and it lets an entire query BATCH ride one corpus
    scan instead of one scan per query."""
    from crate_spark.functions.vector import l2_squared

    c = F.col(codes) if isinstance(codes, str) else codes
    q = F.col(qvec) if isinstance(qvec, str) else qvec
    m, _k, dsub = codebooks.shape
    total = F.lit(0.0)
    for j in range(m):
        cent = F.element_at(_lit_matrix(codebooks[j]), F.element_at(c, j + 1) + 1)
        total = total + l2_squared(F.slice(q, j * dsub + 1, dsub), cent)
    return total


def _knn_pq_ivf_routed(
    corpus,
    queries,
    *,
    vec_col: str,
    id_col: str,
    k_neighbors: int,
    m: int,
    k_codes: int,
    shortlist: int,
    codebooks,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids=None,
    seed: int = 42,
):
    """Large-batch PQ search: ONE corpus scan for the whole batch.

    IVFADC+refine proper — the corpus is cell-assigned (IVF coarse
    quantizer) and PQ-encoded in a single projection; the query batch
    rides a broadcast (exploded to its ``nprobe`` probe cells); the ADC
    shortlist and the exact-L2 re-rank are per-query windows over the
    candidate set only. Per-query recall is bounded by the probed
    cells (the usual IVF trade), vs the full-scan recall of the
    per-query path — and when a query's ``nprobe`` probed cells
    jointly hold fewer than ``k_neighbors`` corpus rows (sparse or
    skewed cell occupancy), that query returns FEWER than k rows
    (faiss IVF behaves the same). Callers needing a hard k guarantee
    on sparse corpora should raise ``nprobe`` (or lower
    ``n_centroids``); tests/test_pipeline.py pins the under-fill
    behavior on a deliberately sparse-celled corpus."""
    from crate_spark.functions.vector import l2_squared_sql
    from crate_spark.operators import knn

    if codebooks is None:
        codebooks = pq_codebooks_cached(
            corpus, vec_col=vec_col, id_col=id_col, m=m, k=k_codes, seed=seed
        )
    if centroids is None:
        # session training cache: repeated batches against the same
        # corpus — and knn_ivf calls over it — share ONE training job
        centroids = knn.ivf_centroids_cached(
            corpus, vec_col=vec_col, id_col=id_col,
            n_centroids=n_centroids, seed=seed,
        )
    from crate_spark.session import spread_small_input

    # r11 optimization round, measured: encode + cell-assign dominate
    # the batch's executor time and a single-row-group corpus file
    # runs them on ONE core. Spreading at FULL width (32) lost ~0.5 s
    # (the extra fan-out multiplies task/shuffle-block overhead
    # through the broadcast join + two windows downstream), but a
    # width-8 spread wins robustly: fresh-process alternating A/B
    # medians 2.55/2.30/2.79 s plain vs 1.54/1.80/1.55 s spread —
    # hence the max_partitions cap. Size-gated no-op at scale.
    spread = spread_small_input(corpus, max_partitions=8)
    # per-query ADC lookup tables, computed ONCE on the driver
    # (numpy): lut[q][j][c] = ||q_sub_j - codebook[j][c]||^2 — for a
    # 200-query batch at (m=8, k=16) this is ~200 KB on the broadcast,
    # and it turns the per-corpus-row ADC into m table lookups
    import numpy as np

    m_, _k, dsub = codebooks.shape
    qarr = np.asarray([qv for _, qv in queries], dtype=np.float64)
    qsub = qarr.reshape(len(queries), m_, dsub)
    luts = ((qsub[:, :, None, :] - codebooks[None, :, :, :]) ** 2).sum(-1)
    # Per-query probe cells, also computed ONCE on the driver (r12):
    # the query vectors are already in hand, so evaluating
    # _nearest_cells on the broadcast batch would re-ship the centroid
    # literal a second time in the SQL text (~20 KB of parse per
    # build) to compute 200 rows. The numpy form is bit-identical to
    # the SQL fold (tests/test_pipeline.py pins the parity, ties too).
    qcells = knn._nearest_cells_np(qarr, centroids, nprobe)
    # verifySchema=False: the rows are built right here with exact
    # types; per-element verification was ~0.1 s of the per-batch plan
    # build (r11 optimization-round profile)
    qdf = corpus.sparkSession.createDataFrame(
        [
            (
                int(qid),
                [float(x) for x in qv],
                [[float(d) for d in row] for row in lut],
                [int(c) for c in cells],
            )
            for (qid, qv), lut, cells in zip(queries, luts, qcells)
        ],
        "query_id bigint, _qvec array<double>, _lut array<array<double>>,"
        " _cells array<int>",
        verifySchema=False,
    )
    # The whole post-encode pipeline compiles to ONE spark.sql
    # statement (r12 optimization round): the r11 shape was 7 chained
    # DataFrame transformations, each of which re-analyzed the
    # codebook/centroid-literal tree (~60 ms apiece, ~0.6-1.0 s of
    # driver time per timed iteration — the 8-core bench beat the
    # 32-core bench on this query because the floor is driver-side).
    # One statement = one parse + one analysis. The SQL fragments are
    # the byte-identical texts the Column builders parse
    # (_pq_encode_sql / _nearest_cells_sql / _adc_lut_sql /
    # l2_squared_sql), so the analyzed tree — and every result bit —
    # is unchanged; the plan contract (1 corpus scan, probes + query
    # batch broadcast, ADC in a map-side Project BELOW the shortlist
    # window's exchange, exact L2 above the cut) is pinned in
    # tests/test_plans.py and the rows-only golden.
    idq = f"`{id_col}`"
    n_short = shortlist * k_neighbors
    sql = f"""
SELECT query_id, neighbor_id, round(_l2, 9) AS l2_dist
FROM (
  SELECT query_id, neighbor_id, _l2,
         row_number() OVER (PARTITION BY query_id ORDER BY _l2, neighbor_id) AS _rn
  FROM (
    SELECT /*+ BROADCAST(q) */ s.query_id, s.{idq} AS neighbor_id,
           {l2_squared_sql("_cvec", "_qvec")} AS _l2
    FROM (
      SELECT query_id, {idq}, _cvec
      FROM (
        SELECT query_id, {idq}, _cvec,
               row_number() OVER (PARTITION BY query_id ORDER BY _adc, {idq}) AS _srn
        FROM (
          SELECT /*+ BROADCAST(p) */ p.query_id, c.{idq}, c._cvec,
                 {_adc_lut_sql("_codes", "_lut", m_)} AS _adc
          FROM (
            SELECT {idq}, `{vec_col}` AS _cvec,
                   {_pq_encode_sql(vec_col, codebooks)} AS _codes,
                   {knn._nearest_cells_sql(vec_col, centroids, 1)}[0] AS _cell
            FROM {{corpus}}
          ) c
          JOIN (
            SELECT query_id, _lut, explode(_cells) AS _cell
            FROM {{qdf}}
          ) p ON c._cell = p._cell
        )
      ) WHERE _srn <= {n_short}
    ) s
    JOIN (SELECT query_id, _qvec FROM {{qdf}}) q ON s.query_id = q.query_id
  )
) WHERE _rn <= {k_neighbors}
"""
    return corpus.sparkSession.sql(sql, corpus=spread, qdf=qdf)


def knn_pq(
    corpus,
    queries,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_neighbors: int = 10,
    m: int = 8,
    k_codes: int = 16,
    shortlist: int = 10,
    codebooks=None,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids=None,
    seed: int = 42,
):
    """PQ top-k with exact re-rank: ADC shortlist of
    ``shortlist * k_neighbors`` candidates per query (corpus never
    decoded, scanned once, never shuffled — queries broadcast), then
    exact L2 re-ranking of the shortlist only. The faiss
    ``IVFADC+refine`` search shape; recall@10 ~0.9 on random vectors
    at the m=8/k=16 default (tests/test_pipeline.py pins it).

    ``queries`` is a list of (query_id, vector) pairs — resolved
    driver-side like the reference's knn_match query argument.

    Each query plans as its own TakeOrderedAndProject over the corpus
    (per-partition local top-N, driver merge — zero exchanges, pinned
    in tests/test_plans.py), so the corpus is scanned once PER QUERY:
    right for interactive batches of a few dozen queries. For large
    query batches the scan cost dominates, so batches above
    ``crate_spark.vector.pq_route_threshold`` (session setting,
    default 64: `SET`/`SHOW` round-trips) route automatically through
    the IVF-celled single-scan path (``_knn_pq_ivf_routed``) — one
    corpus scan for the whole batch, pinned in tests/test_plans.py.

    Routing trade (documented divergence between the two regimes): the
    routed path probes ``nprobe`` IVF cells per query, so its recall is
    cell-bounded and a query whose probed cells hold fewer than
    ``k_neighbors`` rows returns FEWER than k rows — the same query can
    therefore return different (or fewer) neighbors just above the
    threshold than just below it. Measured at the 10x adversarial
    corpus with a 200-query batch (scripts/bench_pq_routed.py, README
    "Routed PQ at scale"): per-query 0.72 recall@10 / 61.5 s / 200
    scans vs routed 0.67 / 3.3 s / 1 scan. Set
    ``crate_spark.vector.pq_route_threshold`` high to force the
    full-scan path, or raise ``nprobe``, when that matters more than
    batch throughput.

    Training amortization: codebooks and IVF centroids are memoized on
    (corpus plan semanticHash, hyperparameters) via the session
    training cache (``knn._training_cached``), so consecutive batches
    against the same corpus train once; pass ``codebooks=`` /
    ``centroids=`` for explicit reuse across distinct plans, or ``SET
    crate_spark.vector.centroid_cache = false`` to opt out."""
    from pyspark.sql import Window

    schema = "query_id bigint, neighbor_id bigint, l2_dist double"
    if not queries:  # before codebook training — no sample job to waste
        return corpus.sparkSession.createDataFrame([], schema)
    route_threshold = int(
        corpus.sparkSession.conf.get("crate_spark.vector.pq_route_threshold", "64")
    )
    if len(queries) > route_threshold:
        return _knn_pq_ivf_routed(
            corpus,
            queries,
            vec_col=vec_col,
            id_col=id_col,
            k_neighbors=k_neighbors,
            m=m,
            k_codes=k_codes,
            shortlist=shortlist,
            codebooks=codebooks,
            n_centroids=n_centroids,
            nprobe=nprobe,
            centroids=centroids,
            seed=seed,
        )
    if codebooks is None:
        codebooks = pq_codebooks_cached(
            corpus, vec_col=vec_col, id_col=id_col, m=m, k=k_codes, seed=seed
        )
    coded = corpus.select(
        F.col(id_col), F.col(vec_col), pq_encode(vec_col, codebooks).alias("_codes")
    )
    if len(queries) > 1:
        # Each per-query TakeOrdered job scans the corpus and re-runs
        # the PQ encode (the dominant per-scan cost: m interpreted-HOF
        # argmin folds per row). For SMALL inputs, materialize the
        # encoded corpus ONCE (localCheckpoint; spread first so the
        # encode job parallelizes a single-row-group file) and let
        # every query's TakeOrdered read the in-memory blocks — encode
        # runs once per batch instead of once per query, and the
        # final plans stay exchange-free TakeOrderedAndProject (the
        # spread + encode live in the checkpoint job, pinned in
        # tests/test_plans.py). Above the size gate this is a no-op:
        # materializing a 100 TB encode costs more than it saves, and
        # the per-query scan path keeps its bounded-memory contract.
        # (r11 optimization round; guide §1.2 "don't recompute what
        # you can compute once" / §5 localCheckpoint.)
        from crate_spark.session import input_is_small, spread_small_input

        if input_is_small(corpus):
            coded = spread_small_input(coded).localCheckpoint(eager=True)
    per_q = []
    for qid, qv in queries:
        # one sql parse for the literal-query L2 (the py4j zip_with/
        # aggregate builder cost ~4 round-trips + a literal parse per
        # query; same fold, bit-identical — r11 optimization round)
        qarr = ", ".join(_sql_double(x) for x in qv)
        l2 = F.expr(
            f"aggregate(zip_with(`{vec_col}`, array({qarr}), "
            "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            "0.0D, (a, x) -> a + x)"
        )
        # shortlist FIRST on the cheap ADC distance (the exact-L2
        # expression must sit ABOVE the TakeOrdered cut, or Spark
        # evaluates it for every corpus row and the shortlist saves
        # nothing), exact re-rank only on the shortlist rows
        short = (
            coded.select(
                # bigint to match the routed-path and empty-case schema
                F.lit(qid).cast("bigint").alias("query_id"),
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col),
                pq_adc_distance("_codes", qv, codebooks).alias("_adc"),
            )
            .orderBy("_adc", "neighbor_id")
            .limit(shortlist * k_neighbors)
        )
        per_q.append(
            short.select("query_id", "neighbor_id", l2.alias("_l2"))
        )
    allc = per_q[0]
    for c in per_q[1:]:
        allc = allc.unionAll(c)
    w = Window.partitionBy("query_id").orderBy("_l2", "neighbor_id")
    return (
        allc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k_neighbors)
        .select("query_id", "neighbor_id", F.round("_l2", 9).alias("l2_dist"))
    )
