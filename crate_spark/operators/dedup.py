"""Deduplication operators for large-scale text corpora.

Not in the reference (CrateDB has no dedup surface) — this is the
LLM-data-pipeline extension the BASELINE north star calls for. All
variants are distributed, collect-free, and deterministic (fixed
hash seeds) so they are testable against property oracles.

Scale design (100 TB):
- exact: hash-groupBy on a digest — one shuffle of (digest, id).
- MinHash+LSH: per-doc signature (map-side, Arrow-free JVM hashes),
  band -> bucket explode, shuffle on (band, bucket) only; candidate
  pairs verified with true Jaccard. The full pairwise product never
  materializes.
- SimHash: 64-bit fingerprint via per-bit vote, explode-free bit
  arithmetic; near-dups = equal fingerprint (or banded Hamming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def normalize_text(c) -> F.Column:
    """Lowercase, collapse whitespace — canonical form for hashing."""
    col = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of rows whose normalized text is byte-identical.

    Output: (digest, n_dups, doc_ids sorted). One shuffle on the digest.
    """
    return (
        df.select(
            F.md5(normalize_text(text_col).cast("binary")).alias("digest"),
            F.col(id_col),
        )
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def shingles(text_col, n: int = 3) -> F.Column:
    """Word n-gram shingle set (distinct) of the normalized text.

    Built by zipping n shifted copies of the word array — NOT by a
    transform over an index range: lambdas in higher-order functions
    run interpreted (no codegen, no subexpression elimination), so an
    index-lambda that slices the word array re-evaluates the full
    split per shingle = O(words^2) per document. The zip form keeps it
    O(words).
    """
    words = F.split(normalize_text(text_col), " ")
    shifted = [words if i == 0 else F.slice(words, i + 1, F.size(words)) for i in range(n)]
    zipped = F.arrays_zip(*[c.alias(f"w{i}") for i, c in enumerate(shifted)])
    # drop the tail entries whose later fields are null (incomplete grams)
    full = F.slice(zipped, 1, F.greatest(F.size(words) - n + 1, F.lit(1)))
    grams = F.transform(full, lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(n)]))
    return F.array_distinct(grams)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash.

    rows/band = num_hashes/bands; two docs collide if ANY band of
    their signatures is identical (standard S-curve: P(collide) =
    1-(1-j^r)^b for Jaccard j). Output: (id_a, id_b, n_shared_bands).

    ``max_bucket_size`` caps the band self-join: a bucket with more
    than that many docs is dropped before pairing. Without the cap a
    degenerate bucket — millions of identical boilerplate documents at
    100 TB — makes the self-join O(|bucket|^2). Docs in such a bucket
    are (near-)identical by construction, which is exactly what
    ``exact_duplicates`` already finds with one linear shuffle, so
    dropping the bucket loses no information the pipeline needs.
    Cap mechanics (r3 plan audit): the count window DOES add static
    exchanges (5 vs 2 uncapped — the r2 "no extra exchange" claim was
    wrong), but the windowed band-bucket exchange is one subtree
    shared by both self-join sides, so the signature pipeline runs
    once. The audited alternative — groupBy-count + broadcast
    anti-join on oversized buckets — avoids re-shuffling the banded
    stream but forces a third full signature-pipeline computation for
    the count branch; A/B at sf0.1 measured it ~40% slower (3.7-4.5 s
    vs 2.6-3.7 s median-of-3), and at 100 TB an extra full corpus
    pass loses to an extra shuffle of skinny (id, band, bucket) rows.
    The window form stays.
    """
    from pyspark.sql import Window

    from crate_spark.session import spread_small_input

    rows_per_band = num_hashes // bands
    # Signature is computed ENTIRELY map-side, per document row (r12
    # optimization round): zip-shift grams over the word array, hash
    # each gram string once, then ONE aggregate fold producing all
    # num_hashes minima. The previous shape — posexplode the words,
    # lead-window shingling, then a 32-buffer min aggregate — shuffled
    # the whole (id, pos, word) stream (the widest intermediate in the
    # pipeline at 100 TB) just to reassemble per-document state the
    # scan already had. Measured at sf0.1: signature stage 0.85 s ->
    # 0.41 s, signatures bit-identical over the full corpus
    # (OPTIMIZATION_r12.md, 0 diffs).
    # Interpreted-HOF discipline (the r3 trap this code used to avoid
    # by exploding): lambdas skip codegen AND common-subexpression
    # elimination, so every multiply-referenced intermediate must be a
    # bound column, not a repeated subexpression. _h0s (the per-gram
    # base hashes) is materialized by its own projection and referenced
    # exactly ONCE, as the aggregate's input; the fold does
    # O(grams x num_hashes) xxhash64(long, int) ops per row — the same
    # hash count the aggregate buffers paid, minus the shuffle.
    # Hash-family parity: gram string xxhash64'd once, family member i
    # = xxhash64(base, i) with i an INT (sequence(0, 31) elements are
    # INT like the old literals), and least-fold from Long.MaxValue
    # equals min() over the gram multiset — bit-identical signatures
    # (golden-pinned).
    words = F.col("_w")
    shifted = [words if i == 0 else F.slice(words, i + 1, F.size(words)) for i in range(shingle_n)]
    zipped = F.arrays_zip(*[c.alias(f"w{i}") for i, c in enumerate(shifted)])
    # keep complete grams; a doc shorter than the shingle contributes
    # its full text as one gram (slice length floors at 1)
    full = F.slice(zipped, 1, F.greatest(F.size(words) - shingle_n + 1, F.lit(1)))
    grams = F.transform(full, lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(shingle_n)]))
    maxlong = 9223372036854775807
    init = f"array({', '.join([f'CAST({maxlong} AS BIGINT)'] * num_hashes)})"
    sig_fold = (
        f"aggregate(_h0s, {init}, "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_hashes - 1}), (a, i) -> least(a, xxhash64(h, i))))"
    )
    sig = (
        spread_small_input(df.select(F.col(id_col).alias("_id"), F.split(normalize_text(text_col), " ").alias("_w")))
        .select("_id", F.transform(grams, lambda g: F.xxhash64(g)).alias("_h0s"))
        .select("_id", F.expr(sig_fold).alias("_sig"))
        # a NULL text has a NULL signature, whose band buckets would
        # all hash alike and pair every NULL-text doc with every other
        .filter(F.col("_sig").isNotNull())
    )
    band_structs = ", ".join(
        "named_struct('band', {b}, 'bucket', xxhash64(array_join("
        "transform(slice(`_sig`, {start}, {n}), x -> CAST(x AS STRING)), ',')))".format(
            b=b, start=b * rows_per_band + 1, n=rows_per_band
        )
        for b in range(bands)
    )
    banded = sig.select(
        "_id",
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")
    if max_bucket_size is not None:
        bw = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("_bsz", F.count("*").over(bw))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def jaccard(shingles_a, shingles_b) -> F.Column:
    """Exact Jaccard over two shingle arrays (JVM set ops)."""
    inter = F.size(F.array_intersect(shingles_a, shingles_b))
    union = F.size(F.array_union(shingles_a, shingles_b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def simhash64(text_col) -> F.Column:
    """64-bit SimHash: bit b of the fingerprint is the sign of the
    vote sum over tokens of (token_hash bit b ? +1 : -1).

    Implemented as pure bit arithmetic over the token array — no
    explode, no shuffle; the fingerprint computes inside the scan.

    ONE sql-parsed expression folding the token hashes ONCE into a
    64-long vote array, then folding the votes into the fingerprint
    (r11 optimization round). The previous spelling built 64 separate
    py4j aggregate folds — ~1.3 s of driver time per plan build — and
    each fold re-derived the token-hash array (HOFs run interpreted,
    no CSE), ~2.2x the execution cost. Integer arithmetic is
    identical per bit (same left-fold vote sums; ``shiftleft(1L, 63)``
    IS the two's-complement -(2^63) the old special case spelled), so
    fingerprints are bit-equal — verified 0 diffs over the sf0.1
    corpus and pinned by the text_simhash golden."""
    if not isinstance(text_col, str):
        raise TypeError("simhash64 takes a column NAME (sql-compiled)")
    norm = f"trim(regexp_replace(lower(`{text_col}`), '\\\\s+', ' '))"
    vote = "(CAST((shiftrightunsigned(h, b) & CAST(1 AS BIGINT)) AS INT) * 2 - 1)"
    return F.expr(
        "aggregate("
        f"  zip_with(aggregate(transform(split({norm}, ' '), w -> xxhash64(w)),"
        "            transform(sequence(0, 63), b -> 0),"
        f"            (acc, h) -> zip_with(acc, sequence(0, 63), (a, b) -> a + {vote})),"
        "           sequence(0, 63),"
        "           (v, b) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))),"
        "  CAST(0 AS BIGINT), (a, x) -> a + x)"
    )


def hamming64(a, b) -> F.Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of xor)."""
    return F.bit_count((F.col(a) if isinstance(a, str) else a).bitwiseXOR(F.col(b) if isinstance(b, str) else b))
