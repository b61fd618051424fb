"""Deduplication operators for large-scale document pipelines.

Beyond the reference's surface (its only dedup is idempotent msg-id
writes), these are the LLM-training-data operators the north star
calls for. All are shuffle-conscious:

- exact_dedup: one hash-groupBy shuffle on a 128-bit content hash —
  at 100 TB this is the cheapest possible exact pass (hash is computed
  map-side; the shuffle carries only (hash, id)).
- ngram_jaccard_pairs: candidate generation is bounded by a blocking
  key (e.g. `source`) so the self-join is per-block O(n_b^2), never a
  global cross join.
- minhash_lsh_pairs: shingle → K minhashes → B bands; the bucket join
  shuffles on (band, bucket-hash) so only colliding docs ever meet —
  the standard scale-out near-dup pass (Broder '97 / MMDS ch.3).
- simhash: 64-bit fingerprint via sign-aggregated word hashes
  (Charikar '02); near-dups = small Hamming distance, found by
  4x16-bit block blocking without a cross join.

Everything is built-in-expression based (xxhash64, transform,
aggregate, bit ops) — no Python UDF anywhere, so the whole pipeline
stays in whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unitdb_spark.operators.skew import fan_out


def content_hash(col: Column | str) -> Column:
    """128-bit-ish deterministic content hash (md5 hex) for exact dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("string"))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups: one row per distinct content, keeper =
    min id, plus the duplicate count. Output: (content_md5, keep_id,
    dup_count)."""
    return (
        df.select(content_hash(text_col).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization to a distinct-token array (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.array_distinct(F.filter(F.split(c, r"\s+"), lambda t: t != ""))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity over word sets for candidate pairs.

    ``block_col`` bounds the self-join (same-block pairs only); with no
    block column the caller accepts a full cross-join — refuse it here
    to keep the 100 TB contract honest.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    if block_col is None:
        raise ValueError("ngram_jaccard_pairs requires a blocking column at scale")
    # the per-pair verify is CPU-bound and sits directly on the scan:
    # spread small inputs (one parquet file/row group = one task)
    # across the cluster BEFORE tokenizing, same fan-out guard as the
    # MinHash signature build (r12: the sf0.1 probe side was ONE task
    # evaluating every same-block pair single-threaded).
    narrow = fan_out(df.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        F.col(text_col).alias("_txt"),
    ))
    t = narrow.select(
        "_id", "_blk", tokens("_txt").alias("_tok")
    ).withColumn("_n", F.size("_tok"))
    a = t.select(
        F.col("_id").alias("id_a"), "_blk",
        F.col("_tok").alias("tok_a"), F.col("_n").alias("_na"),
    )
    b = t.select(
        F.col("_id").alias("id_b"), "_blk",
        F.col("_tok").alias("tok_b"), F.col("_n").alias("_nb"),
    )
    pairs = a.join(b, on="_blk").filter(F.col("id_a") < F.col("id_b"))
    # |A∪B| = |A| + |B| - |A∩B| exactly (token arrays are distinct),
    # so the union array is never materialized: the pushed-down filter
    # evaluates ONE array_intersect per candidate pair instead of
    # intersect + union (r12: halves the per-pair work in the join
    # condition). Identical integers -> identical double division ->
    # bit-identical jaccard values.
    inter = F.size(F.array_intersect("tok_a", "tok_b"))
    union = F.col("_na") + F.col("_nb") - inter
    jac = (inter.cast("double") / union.cast("double")).alias("jaccard")
    return (
        pairs.select("id_a", "id_b", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def shingles_from_tokens(tok_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token array.

    Callers must bind the token array to a column first: an expression
    referenced inside the higher-order ``transform`` lambda is
    re-evaluated per element, so inlining the tokenizer would re-split
    the document once per shingle (quadratic in document length)."""
    toks = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def raw_tokens(col: Column | str) -> Column:
    """Ordered (non-distinct) lowercase whitespace tokens — the ONE
    tokenization shared with functions.text (delegating keeps minhash
    grams and the text-analysis token stream in lockstep)."""
    from unitdb_spark.functions.text import _toks

    return _toks(col)


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array of strings. Convenience form —
    prefer binding ``raw_tokens`` to a column and using
    ``shingles_from_tokens`` in hot paths (see its docstring)."""
    return shingles_from_tokens(raw_tokens(col), n)


def _minhash_sig_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    hash_family: str,
    cache: bool,
) -> tuple[DataFrame, DataFrame]:
    """Shared signature + banding pipeline for both hash families.

    Returns (sig, banded): sig = (_id, _sig array), banded =
    (_id, band, bucket) where bucket is the hash of the band's
    signature slice — the LSH shuffle key. ``cache`` caches the
    signatures, which the pair path reads twice (band join +
    est_jaccard); the overflow report reads them once.
    """
    rows_per_band = num_hashes // bands
    # signature computation is CPU-bound: spread small inputs (one
    # parquet file = one task) across the cluster BEFORE deriving
    # shingles, so the shuffle moves raw text, not shingle arrays
    narrow = fan_out(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
    )
    # explode + groupBy-min instead of K array_min(transform(...)) passes:
    # identical signatures, but the aggregate's codegen is K simple min
    # exprs instead of one huge K-lambda method (~2x faster cold), and
    # map-side partial min collapses each doc's shingles before the
    # exchange, so the added shuffle carries exactly one row per doc.
    # Tokens are bound to a column first — see shingles_from_tokens.
    sh = narrow.select("_id", raw_tokens("_txt").alias("_tk")).select(
        # explode_OUTER: identical to explode here (a shingle array is
        # never empty or NULL — an empty token list still yields [""]),
        # but InferFiltersFromGenerate skips outer generates, so the
        # planner cannot infer a size>0/isnotnull filter that INLINES the
        # tokenizer+shingle expression twice below the fan-out (r12: that
        # inferred filter made the sig build 7.6-11.4s cold vs 2-3s
        # without it — the giant codegen'd Filter is the cost, not the
        # filtering).
        "_id", F.explode_outer(shingles_from_tokens("_tk", shingle_n)).alias("_s")
    )
    if hash_family == "xxhash64":
        mins = [F.min(F.xxhash64("_s", F.lit(k))) for k in range(num_hashes)]
    else:  # md5: min over hex strings is lexicographic — engine-portable
        mins = [
            F.min(F.md5(F.concat(F.col("_s"), F.lit(f":{k}"))))
            for k in range(num_hashes)
        ]
    sig = sh.groupBy("_id").agg(F.array(*mins).alias("_sig"))
    if cache:
        sig = sig.cache()
    # explode to (band, bucket_hash, id): shuffle key is the bucket
    if hash_family == "xxhash64":
        band_exprs = [
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.get("_sig", b * rows_per_band + r).cast("string")
                        for r in range(rows_per_band)
                    ],
                ),
                F.lit(b),
            )
            for b in range(bands)
        ]
    else:
        band_exprs = [
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.get("_sig", b * rows_per_band + r) for r in range(rows_per_band)],
                    F.lit(str(b)),
                )
            )
            for b in range(bands)
        ]
    banded = sig.select(
        "_id", F.posexplode(F.array(*band_exprs)).alias("band", "bucket")
    )
    return sig, banded


def _cap_buckets(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop degenerate LSH buckets before the self-join.

    Identical signatures (empty docs, boilerplate) put O(n) docs into
    one (band, bucket); the self-join then builds O(n^2) pairs in a
    single task — at 100 TB one such cluster kills the stage. Buckets
    above the cap are whole-cluster duplicates anyway, which
    ``exact_dedup`` already catches for ~free; LSH's job is the long
    tail of *near* dups. The count agg and the join share the
    (band, bucket) partitioning with the pair join, so AQE reuses the
    exchange — no extra wide shuffle. ``lsh_overflow_report`` surfaces
    what was dropped.
    """
    if max_bucket_size is None:
        return banded
    from pyspark.sql import Window

    # a window count (no ORDER BY -> no sort) over (band, bucket)
    # instead of a count-agg + join: one shuffle that leaves the data
    # hash-partitioned on exactly the pair-join keys, so the self-join
    # downstream reuses the partitioning instead of exchanging again
    w = Window.partitionBy("band", "bucket")
    return (
        banded.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= max_bucket_size)
        .drop("_bn")
    )


def _minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    max_bucket_size: int | None,
    hash_family: str,
) -> DataFrame:
    sig, banded = _minhash_sig_banded(
        df, text_col, id_col, num_hashes, bands, shingle_n, hash_family, True
    )
    # materialize the (capped) banded relation: it feeds BOTH sides of
    # the bucket self-join, and without a persist each side re-runs
    # the band posexplode + Exchange + Sort + Window bucket-size count
    # from the cached signatures (the r12 before-plan shows the
    # Sort(14)/Window(15) subtree twice, ops 12-17 vs 20-25,
    # plans/r12/doc_minhash_lsh_before.txt) — the same duplicated-
    # subtree shape setjoin.prefix_jaccard_pairs had. The relation is
    # three narrow columns (_id, band, bucket), far smaller than the
    # signatures cached above.
    banded = _cap_buckets(banded, max_bucket_size).cache()
    a = banded.select(F.col("_id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("_id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"))
    sb = sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash + LSH banding.

    rows = num_hashes/bands; docs sharing any band bucket meet once.
    Buckets larger than ``max_bucket_size`` are dropped before the
    self-join (degenerate-cluster guard — see ``_cap_buckets``; audit
    the dropped mass with ``lsh_overflow_report``). The signatures
    and the capped band relation are cached: each feeds two consumers.
    Output: (id_a, id_b, est_jaccard) — est from full-signature
    agreement of the candidates (exact verify is a cheap follow-up on
    this tiny candidate set).
    """
    return _minhash_lsh_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_n, max_bucket_size,
        "xxhash64",
    )


def minhash_lsh_pairs_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """MinHash+LSH with md5 as the hash family — engine-portable, so
    the full pipeline (shingle → signature → banding → bucket join →
    est_jaccard) is reproducible bit-for-bit in any SQL engine with
    md5(), giving the driver's DuckDB oracle full coverage of the LSH
    path (including the bucket cap, replayed in SQL via HAVING).
    Same plan shape as ``minhash_lsh_pairs`` (which stays the fast
    path: xxhash64 is codegen'd JVM arithmetic, md5 is a digest).

    Output: (id_a, id_b, est_jaccard), id_a < id_b.
    """
    return _minhash_lsh_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_n, max_bucket_size,
        "md5",
    )


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = 500,
    threshold: float = 0.5,
    hash_family: str = "md5",
) -> DataFrame:
    """The full candidate→verify near-dup pipeline: LSH candidates
    (banded bucket join) confirmed by the EXACT Jaccard over distinct
    shingle sets, thresholded.

    This is the production composition the signature estimate alone
    doesn't give you: ``est_jaccard`` from signature agreement is a
    k-sample estimate (variance ~ J(1−J)/k); the verify stage joins the
    candidate ids back to the docs and computes the true
    |A∩B| / |A∪B| — touching ONLY candidate pairs, never the n² space,
    so the expensive exactness is bounded by what LSH surfaced.
    Output: (id_a, id_b, est_jaccard, jaccard) with jaccard >= threshold.
    """
    pairs_fn = minhash_lsh_pairs_md5 if hash_family == "md5" else minhash_lsh_pairs
    cand = pairs_fn(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        max_bucket_size=max_bucket_size,
    )
    verified = _join_candidate_shingles(df, cand, text_col, id_col, shingle_n)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.round(inter.cast("double") / union.cast("double"), 6)
    return verified.select(
        "id_a", "id_b", "est_jaccard", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= F.lit(threshold))


def _join_candidate_shingles(
    df: DataFrame,
    cand: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
) -> DataFrame:
    """Join candidate (id_a, id_b) pairs to both docs' distinct shingle
    sets — the shared verify-stage scaffolding (symmetric Jaccard,
    containment and incremental dedup all measure over the same
    (sh_a, sh_b) relation; keep the construction in ONE place so the
    bind-tokens-first quadratic-explode guard can't drift).

    Tokens are bound to a column FIRST (shingles_from_tokens contract:
    inlining the tokenizer re-splits the doc once per shingle —
    quadratic in document length).
    """
    sets = df.select(
        F.col(id_col).alias("_id"), raw_tokens(text_col).alias("_tk")
    ).select(
        "_id",
        shingles_from_tokens(F.col("_tk"), shingle_n).alias("_sh"),  # distinct
    )
    a = sets.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sets.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return cand.join(a, "id_a").join(b, "id_b")


def lsh_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = 500,
    threshold: float = 0.6,
    hash_family: str = "md5",
) -> DataFrame:
    """ASYMMETRIC near-dup: Jaccard containment C(A,B) = |A∩B| / |A|
    over LSH candidates (Broder '97 distinguishes resemblance from
    containment) — catches a quote, excerpt or boilerplate-wrapped
    copy whose symmetric Jaccard is low because the other doc is much
    larger. The dedup policy question it answers: "is the small doc
    already inside the big one?"

    Candidate generation is the SAME banded LSH as the symmetric path
    (signature agreement is resemblance-biased, so deeply-contained
    tiny docs can evade banding — the published trade-off; a
    containment-optimal scheme would band suffix-anchored sketches).
    Verification computes both directions on the exact distinct
    shingle sets and keeps pairs where max(c_ab, c_ba) >= threshold.
    Cost is bounded by the LSH candidate count, never n².

    Output: (id_a, id_b, c_ab, c_ba, containment) — round-6 doubles.
    """
    pairs_fn = minhash_lsh_pairs_md5 if hash_family == "md5" else minhash_lsh_pairs
    cand = pairs_fn(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        max_bucket_size=max_bucket_size,
    ).select("id_a", "id_b")
    verified = _join_candidate_shingles(df, cand, text_col, id_col, shingle_n)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    c_ab = F.round(inter / F.size("sh_a").cast("double"), 6)
    c_ba = F.round(inter / F.size("sh_b").cast("double"), 6)
    return verified.select(
        "id_a", "id_b", c_ab.alias("c_ab"), c_ba.alias("c_ba"),
        F.greatest(c_ab, c_ba).alias("containment"),
    ).filter(F.col("containment") >= F.lit(threshold))


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_family: str = "md5",
) -> DataFrame:
    """Ingestion-time dedup: admit a NEW batch against an EXISTING
    corpus — the production shape where yesterday's 100 TB is already
    deduped and today's crawl must not re-introduce copies.

    Two stages, cheap-first:

    1. exact — md5(text) lookup against the corpus (one semi-join-sized
       aggregate on the corpus side, keyed by content hash);
    2. near — banded MinHash-LSH over corpus ∪ new, with candidate
       pairs RESTRICTED to cross-side (a new doc is never rejected for
       matching another new doc — intra-batch dedup is `exact_dedup` /
       `lsh_verified_pairs`' job), verified by exact Jaccard and
       resolved to the best corpus match (max jaccard, min id).

    Ids must be disjoint across the two frames. In production the
    corpus side's signatures are precomputed once into a signature
    table; computing them here keeps the operator self-contained.

    Output: one row per NEW doc — (id, status, match_id, jaccard_r)
    with status in ('exact_dup', 'near_dup', 'kept'); exact wins over
    near; jaccard_r is NULL unless status = 'near_dup'.
    """
    new = new_df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    corp = corpus_df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    # stage 1: exact content-hash lookup
    corp_md5 = corp.select(F.md5("text").alias("_h"), "id").groupBy("_h").agg(
        F.min("id").alias("exact_match")
    )
    exact = (
        new.select("id", F.md5("text").alias("_h"))
        .join(corp_md5, "_h", "left")
        .select("id", "exact_match")
    )
    # stage 2: LSH candidates over the union, cross-side restriction
    # BEFORE the exact-Jaccard verify — intra-corpus candidate pairs
    # dominate the bucket join when corpus >> batch, and tokenizing/
    # intersecting shingle sets for pairs the side filter discards
    # would be the operator's dominant (wasted) cost
    union = corp.unionByName(new)
    pairs_fn = minhash_lsh_pairs_md5 if hash_family == "md5" else minhash_lsh_pairs
    cand = pairs_fn(
        union, "text", "id", num_hashes, bands, shingle_n
    ).select("id_a", "id_b")
    sides = corp.select("id", F.lit(0).alias("side")).unionByName(
        new.select("id", F.lit(1).alias("side"))
    )
    sa = sides.select(F.col("id").alias("id_a"), F.col("side").alias("side_a"))
    sb = sides.select(F.col("id").alias("id_b"), F.col("side").alias("side_b"))
    cand_cross = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("side_a") != F.col("side_b"))
    )
    verified = _join_candidate_shingles(
        union, cand_cross, "text", "id", shingle_n
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.round(inter.cast("double") / uni.cast("double"), 6)
    cross = (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select(
            F.when(F.col("side_a") == 1, F.col("id_a"))
            .otherwise(F.col("id_b")).alias("new_id"),
            F.when(F.col("side_a") == 1, F.col("id_b"))
            .otherwise(F.col("id_a")).alias("corp_id"),
            "jaccard",
        )
    )
    w = Window.partitionBy("new_id").orderBy(
        F.desc("jaccard"), F.asc("corp_id")
    )
    best = (
        cross.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("new_id").alias("id"),
            F.col("corp_id").alias("near_match"),
            F.col("jaccard").alias("near_jaccard"),
        )
    )
    out = (
        new.select("id")
        .join(exact, "id", "left")
        .join(best, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce("exact_match", "near_match").alias("match_id"),
            F.when(
                F.col("exact_match").isNull(), F.col("near_jaccard")
            ).alias("jaccard_r"),
        )
    )
    return out


def lsh_overflow_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int = 500,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Buckets the cap dropped: (band, bucket, n_docs, sample_ids).

    Run alongside ``minhash_lsh_pairs`` to audit what the degenerate-
    bucket guard excluded — at scale these are boilerplate/empty-doc
    clusters that belong to exact dedup, and a large report is a data-
    quality signal, not an LSH tuning problem.
    """
    _, banded = _minhash_sig_banded(
        df, text_col, id_col, num_hashes, bands, shingle_n, hash_family, False
    )
    return (
        banded.groupBy("band", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.slice(F.sort_array(F.collect_list("_id")), 1, 10).alias("sample_ids"),
        )
        .filter(F.col("n_docs") > max_bucket_size)
    )


def token_hashes(col: Column | str) -> Column:
    """xxhash64 per distinct token — computed JVM-side."""
    return F.transform(tokens(col), lambda t: F.xxhash64(t))


def simhash64(col: Column | str) -> Column:
    """64-bit SimHash fingerprint (Charikar '02).

    Split for scale: per-token hashing stays JVM-side (xxhash64 inside
    codegen); the 64-way bit vote is an Arrow-batched pandas UDF doing
    vectorized numpy bit unpacking — the sanctioned Python slow-path,
    ~100x faster than a row-at-a-time UDF and far smaller than a
    64-subexpression codegen blob.
    """
    return _simhash_from_hashes(token_hashes(col))


def _simhash_from_hashes(hashes: Column) -> Column:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _vote(hs: pd.Series) -> pd.Series:
        out = np.zeros(len(hs), dtype=np.uint64)
        for i, arr in enumerate(hs):
            if arr is None or len(arr) == 0:
                continue
            a = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            # unpack 64 bits -> (n_tokens, 64) of {0,1}
            bits = (a[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            votes = bits.sum(axis=0) * 2 > len(a)  # majority per bit
            out[i] = np.sum(votes.astype(np.uint64) << np.arange(64, dtype=np.uint64))
        return pd.Series(out.astype(np.int64))

    return _vote(hashes)


def token_hashes_md5(col: Column | str) -> Column:
    """Engine-portable 60-bit token hashes (functions.portable_hash)."""
    from unitdb_spark.functions.portable_hash import md5_int60

    return F.transform(tokens(col), lambda t: md5_int60(t))


def simhash64_md5(col: Column | str) -> Column:
    """Engine-portable twin of ``simhash64``: same majority bit-vote
    (Arrow-vectorized), but over md5-derived 60-bit token hashes so an
    external oracle can replay the exact fingerprint. xxhash64 variant
    stays the fast path."""
    return _simhash_from_hashes(token_hashes_md5(col))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 4,
    hash_family: str = "md5",
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``k`` via the
    pigeonhole banding of Manku et al. (WWW '07, Google's web dedup):
    split the 64-bit fingerprint into ``bands`` equal chunks — at most
    ``k`` differing bits can spoil at most ``k`` bands, so any pair
    within distance k shares AT LEAST one identical band chunk
    (requires bands ≥ k+1, enforced). Candidates meet on (band, chunk)
    equality — never all-pairs — then the exact popcount(xor) confirms.

    Portability note: both engines take bits s..s+15 of the signed
    fingerprint as ``(fp >> s) & 0xFFFF`` — after the mask, arithmetic
    vs logical shift is immaterial, so the md5 family replays exactly
    in SQL. Same degenerate-bucket cap as LSH (identical fingerprints
    are exact_dedup's job).

    Output: (id_a, id_b, hamming), id_a < id_b, hamming ≤ k.
    """
    if bands < k + 1:
        raise ValueError(
            f"bands={bands} cannot guarantee distance {k} (needs >= k+1)"
        )
    if 64 % bands:
        raise ValueError("bands must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    fp_expr = simhash64_md5(text_col) if hash_family == "md5" else simhash64(text_col)
    fps = df.select(F.col(id_col).alias("_id"), fp_expr.alias("_fp"))
    # the fingerprint UDF runs once; band explode + both join sides
    # reuse the cached result, as with the LSH signatures
    fps = fps.cache()
    banded = fps.select(
        "_id",
        F.posexplode(
            F.array(*[
                F.shiftright("_fp", b * width).bitwiseAND(F.lit(mask))
                for b in range(bands)
            ])
        ).alias("band", "chunk"),
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        bw = Window.partitionBy("band", "chunk")
        banded = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(bw))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a = banded.select(F.col("_id").alias("id_a"), "band", "chunk")
    b = banded.select(F.col("_id").alias("id_b"), "band", "chunk")
    cand = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    fa = fps.select(F.col("_id").alias("id_a"), F.col("_fp").alias("fp_a"))
    fb = fps.select(F.col("_id").alias("id_b"), F.col("_fp").alias("fp_b"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a", "id_b",
            hamming64(F.col("fp_a"), F.col("fp_b")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_count: int = 2,
    hash_key: bool = False,
) -> DataFrame:
    """Corpus-level duplicate-line removal (the C4/RefinedWeb cleanup
    rule: a line that appears ``min_count``+ times anywhere in the
    corpus is boilerplate — drop every occurrence).

    Returns one row per document: ``(id, n_lines, n_removed, text)``
    where ``text`` is the document with duplicated lines removed and
    original line order preserved (empty string if everything was
    boilerplate).

    Scale shape (100 TB): the duplicate-line set is built by a
    map-side-combined groupBy whose shuffle carries only the distinct
    lines per partition with partial counts — never the corpus. The
    corpus itself is filtered with a left-anti join against that
    (usually tiny) set, which AQE turns into a broadcast anti-join, so
    the only full-text shuffle is the final per-document reassembly
    groupBy. With ``hash_key=True`` the count/anti-join key is
    ``xxhash64(line)`` instead of the raw line — cheaper network/state
    at extreme scale, at the cost of a ~2^-64 false-drop chance per
    distinct line pair (fine for boilerplate removal; keep the exact
    default when an external oracle must replay the result).

    The reference has no corpus-level text cleanup (its closest surface
    is idempotent msg-id writes, /root/reference/db.go Put path); this
    is part of the LLM-training-data operator set the north star adds.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    key = F.xxhash64("line").alias("k") if hash_key else F.col("line").alias("k")
    dup = (
        lines.select(key)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("k")
    )
    kept = lines.withColumn("k", key).join(dup, "k", "left_anti")
    agg = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("kept_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), sep)).alias("n_lines"),
    )
    return totals.join(agg, "id", "left").select(
        "id",
        "n_lines",
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        F.coalesce("kept_text", F.lit("")).alias("text"),
    )
