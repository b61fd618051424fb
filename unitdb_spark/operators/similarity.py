"""Similarity search over embedding columns (array<float>).

North-star operators for the training-data pipeline:

- cosine_topk: brute-force exact top-K — the correctness baseline.
  Dot products run JVM-side via zip_with/aggregate; the query side is
  broadcast (queries << corpus), so the corpus is scanned exactly once
  with no shuffle of the big side; ranking is a per-query top-K window.
- lsh_bucket_topk: the scale path — random-hyperplane LSH (sign of
  dot with R fixed planes, Charikar '02) assigns each vector a bucket;
  search only compares query vs same-bucket vectors (+ optional
  multi-probe). At 100 TB the bucket column is a partition/cluster key
  so a query touches a handful of partitions instead of the corpus.
- ivf_topk: IVF-style coarse quantization without a trained codebook:
  centroid ids from seeded sample rows, assignment = nearest centroid
  (broadcast centroids), search probes the closest n_probe cells.

Plane/centroid generation is seeded numpy on the driver — a few KB
broadcast, never a shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unitdb_spark.functions.portable_hash import md5_int60
from unitdb_spark.operators.skew import fan_out


def dot_expr(a: Column | str, b: Column | str) -> Column:
    """JVM-side dot product of two float arrays."""
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ac, bc, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column | str) -> Column:
    ac = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.transform(ac, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a: Column | str, b: Column | str) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force cosine top-K per query vector.

    ``queries`` (small) is broadcast against ``corpus`` (huge): one
    corpus scan, no corpus shuffle; per-query ranking is a window over
    (query, sim). Output: (query_id, vec_id, cosine_sim, rank).

    ``exclude_self`` drops corpus rows whose id equals the query id —
    right when queries ARE corpus rows (self-search). Pass False when
    the two relations have independent id spaces (e.g. a labeled seed
    set vs a holdout set), where a numeric id collision is NOT the
    same vector and must stay rankable.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    # scoring is CPU-bound; spread a small (single-file) corpus across
    # the cluster
    c = fan_out(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cvec"))
    )
    cond = F.col("vec_id") != F.col("query_id") if exclude_self else F.lit(True)
    joined = c.join(F.broadcast(q), cond)
    sim = cosine_expr("_cvec", "_qvec").alias("cosine_sim")
    scored = joined.select("query_id", "vec_id", sim)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for embedding/retrieval training: per
    labeled query, the top-k most-similar corpus vectors with a
    DIFFERENT label — the near-misses a contrastive loss learns the
    most from (random negatives are trivially separable; same-label
    neighbors are positives, not negatives).

    Same scale shape as `cosine_topk`: queries (with their labels)
    broadcast, ONE corpus scan, no corpus shuffle; the label-mismatch
    test rides the broadcast-join condition so same-label rows never
    reach scoring. Output: (query_id, vec_id, neg_label, cosine_sim,
    rank).
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(label_col).alias("_qlabel"),
        F.col(vec_col).alias("_qvec"),
    )
    c = fan_out(corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("neg_label"),
        F.col(vec_col).alias("_cvec"),
    ))
    joined = c.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id"))
        & ~F.col("neg_label").eqNullSafe(F.col("_qlabel")),
    )
    scored = joined.select(
        "query_id", "vec_id", "neg_label",
        cosine_expr("_cvec", "_qvec").alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def random_planes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def hyperplane_bucket_expr(vec_col: Column | str, planes: np.ndarray) -> Column:
    """LSH bucket id: sign bits of dot(vec, plane_i), packed to a long.

    Planes are inlined as literal arrays (a few KB) so the whole
    assignment is one JVM expression per plane — no UDF, no shuffle.
    """
    out = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot_expr(vec_col, lit_plane) >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        out = out + bit
    return out


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-K: compare only within matching hyperplane buckets.

    Recall < 1 by design; at scale the bucket is a cluster/partition
    key so each query reads ~corpus/2^n_planes rows.
    """
    # dim must match the data: zip_with null-pads a mismatched plane,
    # the dot would go NULL, and every vector would silently land in
    # bucket 0 (turning the bucketed search into a full cross join)
    actual = corpus.select(F.size(F.col(vec_col))).first()
    if actual is not None and actual[0] != dim:
        raise ValueError(
            f"lsh_bucket_topk: dim={dim} but embeddings have {actual[0]} dimensions"
        )
    planes = random_planes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_cvec"),
        hyperplane_bucket_expr(vec_col, planes).alias("_bucket"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        hyperplane_bucket_expr(vec_col, planes).alias("_bucket"),
    )
    joined = c.join(F.broadcast(q), on="_bucket").filter(F.col("vec_id") != F.col("query_id"))
    sim = cosine_expr("_cvec", "_qvec").alias("cosine_sim")
    scored = joined.select("query_id", "vec_id", sim)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_cosine_dups(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the vector-space analogue
    of MinHash near-dup: two docs are dups if their embeddings point the
    same way).

    ``block_col`` bounds the self-join to same-block pairs — at 100 TB
    an unblocked pairwise pass is O(n^2) and is refused here; use an
    LSH/IVF bucket column (``hyperplane_bucket_expr`` / ``ivf_assign``)
    or a metadata key as the block. Within a block the join shuffles
    both sides on the block key once; the cosine itself is a JVM
    zip_with/aggregate expression (no Python).

    Output: (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold.
    """
    if block_col is None:
        raise ValueError("embedding_cosine_dups requires a blocking column at scale")
    t = df.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        F.col(vec_col).alias("_vec"),
    )
    a = t.select(
        F.col("_id").alias("id_a"), F.col("_blk").alias("_blk"), F.col("_vec").alias("_va")
    )
    b = t.select(
        F.col("_id").alias("id_b"), F.col("_blk").alias("_blk"), F.col("_vec").alias("_vb")
    )
    pairs = a.join(b, on="_blk").filter(F.col("id_a") < F.col("id_b"))
    cos = cosine_expr("_va", "_vb").alias("cosine")
    return pairs.select("id_a", "id_b", cos).filter(F.col("cosine") >= F.lit(threshold))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF-style approximate top-K: probe only the ``n_probe`` cells
    whose centroids are closest to each query.

    Cells come from ``ivf_assign`` (deterministic sampled centroids,
    broadcast assignment). The probe side is a broadcast of
    (query, cell) pairs, so the search is one scan of the assigned
    corpus filtered to ~n_probe/n_cells of its rows — at 100 TB the
    ``cell`` column is the partition key and the filter becomes
    partition pruning. Recall < 1 by design.
    """
    assigned, cents = ivf_assign(corpus, n_cells, id_col, vec_col, seed)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    # route each query to its n_probe nearest centroids (tiny cross join)
    qc = q.join(F.broadcast(cents))
    wq = Window.partitionBy("query_id").orderBy(
        F.desc(cosine_expr("_qvec", "_cent")), F.asc("cent_id")
    )
    probes = (
        qc.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "_qvec", F.col("cent_id").alias("cell"))
    )
    joined = assigned.join(F.broadcast(probes), on="cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = cosine_expr("embedding", "_qvec").alias("cosine_sim")
    scored = joined.select("query_id", "vec_id", sim)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# above this k the inlined-literal assignment plan (k * dim literals)
# bloats codegen; fall back to the broadcast-join path
_INLINE_MAX_K = 64


def nearest_cell_assign(
    df: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_out: str = "_v",
    sim_out: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment shared by IVF and k-means.
    ``sim_out`` optionally adds the winning cosine similarity as a
    column (both paths emit the identical value; output is otherwise
    unchanged). For
    moderate k the centroids inline as literal arrays and the argmax is
    one greatest() over k structs (sim, -cent_id, cent_id) — a pure
    codegen PROJECTION: the corpus is never joined, exploded, or
    shuffled to assign. Winner semantics (max sim, ties → smaller
    cent_id) and the cosine arithmetic are identical to the
    broadcast-join + max_by formulation, so values (and SQL oracles)
    are unchanged; past ``_INLINE_MAX_K`` it falls back to that join
    path (one exchange carrying (id, vec), map-side combined).

    ``cents`` must have (cent_id, _cent) rows; output is
    (vec_id, <vec_out>, cell). Input ids must be UNIQUE (the corpus
    contract throughout this package): on duplicate ids the inline
    path keeps one output row per input row while the join fallback's
    groupBy collapses them — don't feed either path a non-keyed id.

    The centroid fetch is bounded (``take(cap+1)``), so the fallback
    path never pays a full collect just to learn that k is large.
    """
    rows = cents.take(_INLINE_MAX_K + 1)
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias(vec_out))
    if 1 < len(rows) <= _INLINE_MAX_K:
        rows = sorted(rows, key=lambda r: int(r["cent_id"]))
        entries = [
            F.struct(
                cosine_expr(
                    F.col(vec_out), F.array(*[F.lit(float(x)) for x in r["_cent"]])
                ).alias("s"),
                F.lit(-int(r["cent_id"])).alias("nc"),
                F.lit(int(r["cent_id"])).alias("c"),
            )
            for r in rows
        ]
        best = F.greatest(*entries)
        out = [F.col("vec_id"), F.col(vec_out), best["c"].alias("cell")]
        if sim_out is not None:
            out.append(best["s"].alias(sim_out))
        return base.select(*out)
    joined = base.join(F.broadcast(cents))
    sim = cosine_expr(vec_out, "_cent").alias("_sim")
    aggs = [
        F.first(vec_out).alias(vec_out),
        F.max_by(
            "cent_id", F.struct(F.col("_sim"), (-F.col("cent_id")).alias("_nc"))
        ).alias("cell"),
    ]
    if sim_out is not None:
        # the winning sim IS the max sim (the cent_id tiebreak never
        # changes the value)
        aggs.append(F.max("_sim").alias(sim_out))
    return (
        joined.select("vec_id", vec_out, "cent_id", sim)
        .groupBy("vec_id")
        .agg(*aggs)
    )


def ivf_assign(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse assignment: centroids = deterministic corpus sample,
    cell = argmax cosine(vec, centroid) via broadcast join.

    Returns (assigned corpus with `cell`, centroids df). At 100 TB the
    assignment is one scan + broadcast; `cell` becomes the partition
    key for the index table.
    """
    # deterministic pseudo-random sample: order by md5(id:seed) — an
    # engine-portable shuffle (hex-string ordering is plain ASCII), so
    # external oracles can replay the exact centroid choice
    base = corpus.select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("_cent"))
    hash_c = F.md5(F.concat(F.col("cent_id").cast("string"), F.lit(f":{seed}")))
    # hash-threshold pre-filter: the n_cells smallest md5 values are
    # almost surely inside the lowest 1/256 of the hash space, so the
    # TakeOrdered heap only sees ~N/256 candidate rows instead of the
    # full corpus. Superset-safe: if the filtered set can't cover
    # n_cells (small corpus), fall back to the full scan — either way
    # the chosen centroids are bit-identical to an unfiltered
    # ORDER BY md5 LIMIT n_cells, which is what the SQL oracle replays.
    # the coverage check is limit(n).count(), not count(): CollectLimit
    # stops scanning as soon as n_cells matching rows surface (first
    # partition, usually), instead of running a full filtered-corpus
    # scan as a plan-construction side effect
    pref = base.filter(hash_c < F.lit("01"))
    if pref.limit(n_cells).count() < n_cells:
        pref = base
    cents = pref.orderBy(hash_c, F.col("cent_id")).limit(n_cells)
    # zero-shuffle inline assignment (or broadcast-join + map-side
    # max_by past _INLINE_MAX_K) — see nearest_cell_assign
    assigned = nearest_cell_assign(
        corpus, cents, id_col=id_col, vec_col=vec_col, vec_out="embedding"
    )
    return assigned, cents


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x|/127``,
    ``q_i = floor(x_i/scale + 0.5)`` stored as ``array<tinyint>``.

    This is the standard memory-side ANN scale lever — 4x smaller
    vectors than float32 (16x vs the double math Spark would otherwise
    carry), so 4x more corpus fits in executor memory / page cache
    before any algorithmic change. Quantization is pure JVM expression
    work (transform/aggregate) at scan speed; ``floor(x + 0.5)`` rather
    than round() so an external engine replays ties identically.
    Cosine over quantized vectors is scale-free (the per-vector scales
    cancel), so downstream search needs no dequantization.
    """
    v = F.col(vec_col)
    raw = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = (F.when(raw == 0.0, F.lit(1.0)).otherwise(raw) / F.lit(127.0)).alias(
        scale_col
    )
    df = df.withColumn(scale_col, scale)
    q = F.transform(
        v,
        lambda x: F.floor(x.cast("double") / F.col(scale_col) + F.lit(0.5)).cast(
            "tinyint"
        ),
    )
    return df.withColumn(out_col, q)


def int8_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force cosine top-K over int8-quantized vectors — same
    plan shape as ``cosine_topk`` (broadcast queries, single corpus
    scan, per-query window rank) but the scored payload is the
    ``array<tinyint>`` quantized form. Dot/norm accumulate in integer
    space (exact: |q| <= 127, so a 4k-dim dot fits a long with room),
    which also makes the score bit-reproducible across engines.
    Output: (query_id, vec_id, cosine_sim, rank) where cosine_sim is
    the quantized-space cosine (approximation error ~1e-3 vs float).
    """
    qz = quantize_int8(corpus, vec_col)
    c = fan_out(qz.select(F.col(id_col).alias("vec_id"), F.col("qvec").alias("_cq")))
    qq = quantize_int8(queries, vec_col)
    q = qq.select(F.col(query_id_col).alias("query_id"), F.col("qvec").alias("_qq"))
    joined = c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    def inorm(a):
        return F.sqrt(idot(a, a).cast("double"))

    sim = (
        idot(F.col("_cq"), F.col("_qq")).cast("double")
        / (inorm(F.col("_cq")) * inorm(F.col("_qq")))
    ).alias("cosine_sim")
    scored = joined.select("query_id", "vec_id", sim)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_label(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """kNN majority-vote classification over the embedding space — the
    label-propagation pass a training pipeline uses to extend a small
    hand-labeled seed set (quality tiers, topic tags) across a huge
    corpus, and the standard eval for embedding quality (holdout
    accuracy).

    The neighbor search is ``cosine_topk`` (queries broadcast, corpus
    never shuffles) with ``exclude_self=False``: corpus and queries
    are separate relations with independent id spaces, so a corpus id
    that happens to equal a query id is a real neighbor, not the query
    itself. The vote join attaches labels to the tiny (queries × k)
    neighbor relation — broadcast again — so the only corpus-sized
    work is the one scoring scan. Majority wins; ties break to the
    smaller label (total order, engine-portable).

    Output: (query_id, pred_label, votes, best_sim_r) — ``best_sim_r``
    is the winning label's closest-neighbor cosine, rounded to 6.
    """
    nn = cosine_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, exclude_self=False,
    )
    labels = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("_nl")
    )
    votes = (
        labels.join(F.broadcast(nn), "vec_id")
        .groupBy("query_id", "_nl")
        .agg(
            F.count(F.lit(1)).alias("votes"),
            F.round(F.max("cosine_sim"), 6).alias("best_sim_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("_nl"))
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id", F.col("_nl").alias("pred_label"), "votes", "best_sim_r"
        )
    )


def sign_sketch_words(
    vec_col: Column | str, dim: int, word_bits: int = 32
) -> Column:
    """Binary sign sketch: bit i = 1 iff vec[i] >= 0, packed into
    ceil(dim/word_bits) non-negative longs (32-bit words by default so
    no word ever touches the sign bit — the arithmetic stays
    replayable on engines that error on signed overflow).

    1 bit per dimension = 32x over float32: the crudest member of the
    quantized-ANN family (charikar '02 SimHash for vectors is this
    sketch under random rotations), and the only one whose distance is
    pure integer popcount.
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    n_words = (dim + word_bits - 1) // word_bits
    words = []
    for w in range(n_words):
        acc = F.lit(0).cast("long")
        for i in range(w * word_bits, min((w + 1) * word_bits, dim)):
            bit = i - w * word_bits
            acc = acc + F.when(
                F.element_at(v, i + 1) >= 0, F.lit(1 << bit).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        words.append(acc)
    return F.array(*words)


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-K by Hamming distance between binary sign sketches — the
    32x-compressed coarse-search stage (re-rank survivors with
    ``cosine_topk``/``pq_rerank_topk`` when exactness matters).

    Same shape as ``cosine_topk``: queries broadcast, one corpus scan,
    zero corpus shuffles; but the searchable representation is
    ceil(dim/32) longs per vector and the distance is
    sum(bit_count(xor)) — all-integer, so ranking is deterministic
    with no float tie subtleties beyond the (distance, vec_id) order.

    Output: (query_id, vec_id, hamming, rank).
    """
    # same guard as the LSH paths: a dim mismatch would either throw a
    # raw index error (ANSI) or silently zero the out-of-range bits
    actual = corpus.select(F.size(F.col(vec_col))).first()
    if actual is not None and actual[0] != dim:
        raise ValueError(
            f"hamming_topk: dim={dim} but embeddings have "
            f"{actual[0]} dimensions"
        )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        sign_sketch_words(vec_col, dim).alias("_qsk"),
    )
    c = fan_out(corpus.select(
        F.col(id_col).alias("vec_id"),
        sign_sketch_words(vec_col, dim).alias("_csk"),
    ))
    cond = F.col("vec_id") != F.col("query_id") if exclude_self else F.lit(True)
    joined = c.join(F.broadcast(q), cond)
    n_words = (dim + 31) // 32
    dist = None
    for w in range(n_words):
        d = F.bit_count(
            F.element_at("_csk", w + 1).bitwiseXOR(F.element_at("_qsk", w + 1))
        )
        dist = d if dist is None else dist + d
    scored = joined.select(
        "query_id", "vec_id", dist.cast("int").alias("hamming")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("vec_id")
    )
    return scored.withColumn("rank", F.row_number().over(w_rank)).filter(
        F.col("rank") <= k
    )


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Multi-probe LSH (Lv et al. '07): each query searches its own
    hyperplane bucket AND every Hamming-1 neighbor (one sign bit
    flipped) — n_planes+1 probes. Near-boundary vectors that single-
    probe LSH loses to an unlucky sign live in exactly those buckets,
    so recall climbs steeply for a linear (not exponential) extra read.

    The probe fan-out happens on the QUERY side (tiny): the corpus
    keeps exactly one bucket per vector — at scale that bucket stays
    the partition key and a query costs (n_planes+1) bucket reads, not
    a restructured index. A corpus vector can match a query through
    only one probe (buckets are distinct), so no dedup pass is needed.

    Output: (query_id, vec_id, cosine_sim, rank).
    """
    actual = corpus.select(F.size(F.col(vec_col))).first()
    if actual is not None and actual[0] != dim:
        raise ValueError(
            f"lsh_multiprobe_topk: dim={dim} but embeddings have "
            f"{actual[0]} dimensions"
        )
    planes = random_planes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_cvec"),
        hyperplane_bucket_expr(vec_col, planes).alias("_bucket"),
    )
    home = hyperplane_bucket_expr(vec_col, planes)
    probes = F.array(
        home, *[home.bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(n_planes)]
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.explode(probes).alias("_bucket"),
    )
    joined = c.join(F.broadcast(q), on="_bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = cosine_expr("_cvec", "_qvec").alias("cosine_sim")
    scored = joined.select("query_id", "vec_id", sim)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def kcenter_select(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """Greedy k-center (farthest-point / Gonzalez 1985) coreset
    selection over an embedding corpus — the diversity-first
    counterpart of `cluster_balanced_sample`: each round picks the
    point FARTHEST (lowest max cosine similarity) from everything
    selected so far, giving a 2-approximation of the optimal k-center
    cover. The classic seed for diverse eval sets, annotation
    batches, and k-means++-style inits.

    Determinism: the seed is the smallest id; every later round
    orders by (best_sim ASC, id ASC) on the RAW cosine doubles — the
    same index-ordered zip_with/aggregate fold the ANN family pins
    against DuckDB's list_cosine_similarity, so the argmin (and the
    whole selection) replays bitwise in the oracle.

    The per-round argmin is a 1-row control-plane collect (k−1 rounds
    total, the pagerank bounded-iteration discipline); the running
    best-similarity column updates against the new center as a
    BROADCAST LITERAL vector — one map-side expression per round, no
    shuffle, no cross join of the corpus against the center set.

    Output: (sel_rank, id, far_sim_r) — far_sim_r = the selected
    point's max similarity to all PRIOR centers, round-6 (NULL for
    the seed). The covering radius of the selection is
    1 − min(far_sim_r).

    Scale: k scans of the corpus with a fused greatest() update —
    O(k·n) work, no quadratic term; persist keeps the lineage flat.
    At a billion points the argmin is a TakeOrdered(1), not a sort.
    """
    k = int(k)
    if k < 1:
        raise ValueError("kcenter_select: k must be >= 1")
    spark = vecs.sparkSession
    state = vecs.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.lit(None).cast("double").alias("_best"),
    ).persist()
    seed = state.orderBy("_id").limit(1).collect()[0]
    chosen = [(1, seed["_id"], None)]
    cvec = list(seed["_v"])
    for j in range(2, k + 1):
        lit_vec = F.array(*[F.lit(float(x)) for x in cvec])
        sim = cosine_expr(F.col("_v"), lit_vec)
        taken = [cid for _, cid, _ in chosen]
        nxt = state.filter(~F.col("_id").isin(taken)).select(
            "_id", "_v",
            F.greatest(
                F.coalesce(F.col("_best"), F.lit(-2.0)), sim
            ).alias("_best"),
        ).persist()
        state.unpersist()
        state = nxt
        pick = (
            state.select(
                "_id", "_v", "_best",
                # rounding stays IN ENGINE — a driver-side Python
                # round() is banker's, not the engines' HALF_UP
                F.round("_best", 6).alias("_best_r"),
            )
            .orderBy(F.col("_best").asc(), F.col("_id").asc())
            .limit(1)
            .collect()[0]
        )
        chosen.append((j, pick["_id"], pick["_best_r"]))
        cvec = list(pick["_v"])
    state.unpersist()
    return spark.createDataFrame(
        chosen, "sel_rank int, id long, far_sim_r double"
    )


def embedding_drift(
    vecs: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10_000,
) -> DataFrame:
    """Per-group embedding drift + dispersion audit — the monitoring
    view a pipeline needs when sources/models change: for every label
    (source, shard, model version), how far has the group's CENTROID
    moved from the rest of the corpus, and how spread out is the
    group internally?

        shift² = ‖μ_L − μ_rest‖²           (linear-kernel MMD²)
        disp   = E‖x − μ_L‖² = SS/n − ‖μ_L‖²

    Exactness: every vector quantizes to the GLOBAL fixed-point grid
    q_d = floor(x_d·quant + 0.5) (one shared scale — per-vector int8
    scales would break cross-vector comparability), so per-(label,
    dim) sums, ‖q‖² sums, and the cross-multiplied shift numerator
    Σ_d (s_Ld·n_R − s_Rd·n_L)² are exact DECIMAL(38,0) integers; each
    output is ONE pinned double division by (n_L·n_R·quant)² /
    (n²·quant²), round-6 — so the whole audit replays bitwise.

    Output per label: (label, n, shift2_r, disp_r) in embedding-space
    units (quant² cancels out).

    Scale: one posexplode → (label, dim) partial agg (64·rows fan-out
    into a map-side combine, dims·labels rows out), one per-label
    scalar agg, one broadcast of the dims-sized totals. Envelope: the
    squared numerator holds in DECIMAL(38,0) to n ≈ 3·10⁸ rows per
    label at quant = 10⁴ — shrink quant for larger groups (documented
    trade: 10³ still gives 3 decimal digits of grid).
    """
    K = int(quant)
    if K < 1:
        raise ValueError("embedding_drift: quant must be >= 1")
    D38 = "decimal(38,0)"
    q = F.floor(F.col("x").cast("double") * F.lit(float(K)) + F.lit(0.5)).cast(
        "long"
    )
    exploded = vecs.select(
        F.col(label_col).alias("_l"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    ).select("_l", "pos", q.alias("_q"))
    by_ld = exploded.groupBy("_l", "pos").agg(
        F.sum("_q").cast("long").alias("s"),
        F.sum(F.col("_q").cast(D38) * F.col("_q")).alias("sq"),
    )
    by_d = by_ld.groupBy("pos").agg(
        F.sum("s").cast("long").alias("st"),
    )
    n_l = vecs.groupBy(F.col(label_col).alias("_l")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    n_tot = vecs.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    j = (
        by_ld.join(F.broadcast(by_d), "pos")
        .join(F.broadcast(n_l), "_l")
        .crossJoin(F.broadcast(n_tot))
        .filter(F.col("n") < F.col("nt"))  # a lone label has no rest
    )
    diff = (
        F.col("s").cast(D38) * (F.col("nt") - F.col("n"))
        - (F.col("st") - F.col("s")).cast(D38) * F.col("n")
    )
    per_label = j.groupBy("_l", "n", "nt").agg(
        F.sum(diff * diff).alias("_num"),
        F.sum("sq").alias("_ssq"),
        F.sum(F.col("s").cast(D38) * F.col("s")).alias("_s2"),
    )
    nl = F.col("n").cast("double")
    nr = (F.col("nt") - F.col("n")).cast("double")
    shift2 = F.col("_num").cast("double") / (
        nl * nr * F.lit(float(K))
    ) / (nl * nr * F.lit(float(K)))
    disp = (
        F.col("n").cast(D38) * F.col("_ssq") - F.col("_s2")
    ).cast("double") / (nl * nl * F.lit(float(K)) * F.lit(float(K)))
    return per_label.select(
        F.col("_l").alias(label_col), "n",
        F.round(shift2, 6).alias("shift2_r"),
        F.round(disp, 6).alias("disp_r"),
    )


def label_centroid_cosine(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine similarity between per-label centroid vectors —
    the class-confusion-risk matrix for a labeled embedding corpus:
    two labels whose centroids sit close will bleed into each other in
    any nearest-centroid or contrastive setup, and this table says
    which pairs to inspect before `hard_negatives` mining or
    `knn_label` evaluation leans on the geometry.

    Cosine of the centroid equals cosine of the per-label SUM vector
    (scale invariance), so no division by n ever happens: each
    coordinate quantizes once to vm = floor(v·1e6) (the only float
    touch, per input value), per-(label, dim) sums are exact BIGINTs,
    and dot/norm² accumulate in DECIMAL(38,0). One pinned float
    finish per pair: cos_r = round(dot / sqrt(na2·nb2), 6), NULL for
    a zero-norm side.

    Output: (label_a, label_b, n_a, n_b, cos_r) for label_a < label_b.

    Scale: ONE corpus explode into a (label, dim) partial agg
    (map-side combined, labels × dims rows out — control-plane); the
    pair join runs on the dims-keyed sum relation, cost
    labels² × dims. The corpus never shuffles.
    """
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    exp = df.select(
        F.col(label_col).alias("_l"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_v"),
    ).select(
        "_l", "_dim",
        F.floor(F.col("_v").cast("double") * F.lit(1_000_000.0))
        .cast("long").alias("_vm"),
    )
    per = exp.groupBy("_l", "_dim").agg(F.sum("_vm").alias("_s"))
    norms = per.groupBy("_l").agg(
        F.sum(d38(F.col("_s")) * d38(F.col("_s"))).alias("_n2")
    )
    counts = df.groupBy(F.col(label_col).alias("_l")).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    a = per.select(
        F.col("_l").alias("_la"), "_dim", F.col("_s").alias("_sa")
    )
    b = per.select(
        F.col("_l").alias("_lb"), "_dim", F.col("_s").alias("_sb")
    )
    dots = (
        a.join(b, "_dim")
        .filter(F.col("_la") < F.col("_lb"))
        .groupBy("_la", "_lb")
        .agg(F.sum(d38(F.col("_sa")) * d38(F.col("_sb"))).alias("_dot"))
    )
    out = (
        dots.join(norms.select(F.col("_l").alias("_la"),
                               F.col("_n2").alias("_na2")), "_la")
        .join(norms.select(F.col("_l").alias("_lb"),
                           F.col("_n2").alias("_nb2")), "_lb")
        .join(counts.select(F.col("_l").alias("_la"),
                            F.col("_n").alias("n_a")), "_la")
        .join(counts.select(F.col("_l").alias("_lb"),
                            F.col("_n").alias("n_b")), "_lb")
    )
    cos = (
        F.col("_dot").cast("double")
        / F.sqrt(
            F.col("_na2").cast("double") * F.col("_nb2").cast("double")
        )
    )
    return out.select(
        F.col("_la").alias("label_a"),
        F.col("_lb").alias("label_b"),
        "n_a", "n_b",
        F.when(
            (F.col("_na2") > 0) & (F.col("_nb2") > 0), F.round(cos, 6)
        ).alias("cos_r"),
    )


def group_centroid_outliers(
    df: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    per_group: int = 3,
) -> DataFrame:
    """Per-group semantic outliers: the ``per_group`` members least
    cosine-similar to their OWN group's centroid — the misfiled-
    document detector for a labeled/sourced corpus (a doc filed under
    `src3` whose embedding sits nowhere near src3's mass is a label
    error, a scraper bug, or spam). The metadata-group twin of
    `sampling.cluster_outlier_report` (which uses k-means cells) and
    the row-level companion of `label_centroid_cosine` (which
    compares group centroids to each other).

    Same exactness contract as the centroid matrix: centroid cosine
    == sum-vector cosine, coordinates quantize once to floor(v·1e6),
    per-(group, dim) sums are exact BIGINTs, dot/norm² in
    DECIMAL(38,0); ONE pinned round-6 float per member, ranked
    (cos ASC, id) per group. The centroid INCLUDES the member (the
    cluster_outlier_report convention — deterministic and
    leave-one-out-free); zero-norm members rank first with NULL cos.

    Output: (group, id, cos_r, rank) with rank ≤ ``per_group``.

    Scale: ONE corpus explode → (group, dim) partial agg (the
    centroid relation, groups × dims — broadcastable); the member
    scoring joins the explode output against that small relation and
    re-aggregates per member; the final window is group-partitioned.
    """
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    exp = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_v"),
    ).select(
        "_g", "_id", "_dim",
        F.floor(F.col("_v").cast("double") * F.lit(1_000_000.0))
        .cast("long").alias("_vm"),
    )
    cent = exp.groupBy("_g", "_dim").agg(F.sum("_vm").alias("_s"))
    cnorm = cent.groupBy("_g").agg(
        F.sum(d38(F.col("_s")) * d38(F.col("_s"))).alias("_cn2")
    )
    per = (
        exp.join(cent, ["_g", "_dim"])
        .groupBy("_g", "_id")
        .agg(
            F.sum(d38(F.col("_vm")) * d38(F.col("_s"))).alias("_dot"),
            F.sum(d38(F.col("_vm")) * d38(F.col("_vm"))).alias("_vn2"),
        )
    )
    cos = (
        F.col("_dot").cast("double")
        / F.sqrt(
            F.col("_vn2").cast("double") * F.col("_cn2").cast("double")
        )
    )
    scored = per.join(cnorm, "_g").select(
        "_g", "_id",
        F.when(
            (F.col("_vn2") > 0) & (F.col("_cn2") > 0), F.round(cos, 6)
        ).alias("cos_r"),
    )
    w = Window.partitionBy("_g").orderBy(
        F.col("cos_r").asc_nulls_first(), "_id"
    )
    return (
        scored.select(
            F.col("_g").alias(group_col),
            F.col("_id").alias(id_col),
            "cos_r",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= per_group)
    )


def jl_distortion_report(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
) -> DataFrame:
    """One-row Johnson-Lindenstrauss distortion audit for a ±1 random
    projection (Achlioptas 2003, the database-friendly JL variant) —
    the PRE-FLIGHT check before trusting a projected index
    (sign-sketch ANN, LSH bucketing, dim-reduced dedup): how much do
    pairwise distances move when D dims collapse to ``k``?

    The projection matrix is HASH-DEFINED, not stored: sign(d, j) =
    1 − 2·(md5_int60('jl:' d ':' j) mod 2) — both engines regenerate
    the same ±1 matrix from the same md5, so the oracle replays the
    projection exactly and no D×k literal table ships in the plan.
    Coordinates quantize once to the family's floor(v·1e6) grid;
    projections p(i, j) = Σ_d vm·sign are exact BIGINTs.

    Pairs are the deterministic consecutive pairing (2m, 2m+1) by id
    — scale-free, join-free to sample, and unbiased for a hashed id
    space. For ±1 entries E[‖Rx‖²] = k·‖x‖², so the per-pair report
    is ratio_ppm = ⌊d_proj²·1e6 / (k·d_orig²)⌋ (≈ 1e6 when the
    projection preserves the pair; zero-distance pairs are dropped
    and counted).

    Output: (n_pairs, n_zero_orig, min_ratio_ppm, max_ratio_ppm,
    mean_ratio_ppm) — all exact integers, no float anywhere.

    Scale: one corpus explode → (id, j) partial agg (the projection,
    k integers per vector); distances are one pair join on the
    halved-id key; the report is a five-counter aggregation. The
    matrix relation is D×k rows computed from hashes — broadcast
    class, never materialized as literals.
    """
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    exp = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_v"),
    ).select(
        "_id", "_dim",
        F.floor(F.col("_v").cast("double") * F.lit(1_000_000.0))
        .cast("long").alias("_vm"),
    )
    spark = df.sparkSession
    dims = exp.select("_dim").distinct()
    cols = spark.range(k).select(F.col("id").cast("int").alias("_j"))
    sign = (
        F.lit(1)
        - F.lit(2)
        * (
            md5_int60(
                F.concat(
                    F.lit("jl:"),
                    F.col("_dim").cast("string"),
                    F.lit(":"),
                    F.col("_j").cast("string"),
                )
            )
            % 2
        )
    ).cast("long")
    mat = dims.crossJoin(F.broadcast(cols)).select(
        "_dim", "_j", sign.alias("_r")
    )
    proj = (
        exp.join(F.broadcast(mat), "_dim")
        .groupBy("_id", "_j")
        .agg(F.sum(F.col("_vm") * F.col("_r")).alias("_p"))
    )
    # original squared distance per consecutive pair (2m, 2m+1)
    side = F.when(F.col("_id") % 2 == 0, F.lit(0)).otherwise(F.lit(1))
    o = exp.select(
        F.expr("_id div 2").alias("_pair"),
        side.alias("_s"), "_dim", "_vm",
    )
    od = (
        o.groupBy("_pair", "_dim")
        .agg(
            F.sum(F.when(F.col("_s") == 0, F.col("_vm"))).alias("_a"),
            F.sum(F.when(F.col("_s") == 1, F.col("_vm"))).alias("_b"),
        )
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .groupBy("_pair")
        .agg(
            F.sum(
                d38(F.col("_a") - F.col("_b"))
                * d38(F.col("_a") - F.col("_b"))
            ).alias("_d2o")
        )
    )
    p = proj.select(
        F.expr("_id div 2").alias("_pair"),
        side.alias("_s"), "_j", "_p",
    )
    pdist = (
        p.groupBy("_pair", "_j")
        .agg(
            F.sum(F.when(F.col("_s") == 0, F.col("_p"))).alias("_a"),
            F.sum(F.when(F.col("_s") == 1, F.col("_p"))).alias("_b"),
        )
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .groupBy("_pair")
        .agg(
            F.sum(
                d38(F.col("_a") - F.col("_b"))
                * d38(F.col("_a") - F.col("_b"))
            ).alias("_d2p")
        )
    )
    ratio = F.expr(
        f"CAST((_d2p * 1000000) div (_d2o * {k}) AS BIGINT)"
    )
    pairs = od.join(pdist, "_pair").select(
        F.when(F.col("_d2o") > 0, ratio).alias("_ratio")
    )
    return pairs.agg(
        F.count(F.when(F.col("_ratio").isNotNull(), 1))
        .cast("long").alias("n_pairs"),
        F.count(F.when(F.col("_ratio").isNull(), 1))
        .cast("long").alias("n_zero_orig"),
        F.min("_ratio").alias("min_ratio_ppm"),
        F.max("_ratio").alias("max_ratio_ppm"),
        F.expr(
            "CAST(CAST(sum(_ratio) AS DECIMAL(38,0))"
            " div count(_ratio) AS BIGINT)"
        ).alias("mean_ratio_ppm"),
    )


def ivf_balance(
    corpus: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF cell-occupancy audit — the index-health readout every
    IVF/ANN deployment watches before anything else: probe latency is
    bounded by the LARGEST probed cell, so a skewed assignment (one
    centroid swallowing half the corpus) silently turns "probe 2 of 8
    cells" into "scan half the table". At 100 TB the cell is the
    partition key of the index table, so cell skew IS partition skew.

    Rides the exact `ivf_assign` coarse assignment (deterministic
    md5-sampled centroids, broadcast argmax) and finishes in pure
    integers: per cell

        share_ppm      = floor(n_vecs · 1e6 / total)
        load_ratio_ppm = floor(n_vecs · n_cells · 1e6 / total)

    (1e6 = a perfectly balanced cell; 8e6 = this cell holds 8x its
    fair share). Cells that attracted no vectors simply have no row —
    visible as missing cell ids. One count shuffle on the cell key.
    """
    assigned, _cents = ivf_assign(corpus, n_cells, id_col, vec_col, seed)
    counts = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    tot = counts.agg(F.sum("n_vecs").alias("_t"))
    return (
        counts.join(F.broadcast(tot))
        .selectExpr(
            "cell",
            "n_vecs",
            "CAST(CAST(n_vecs AS DECIMAL(38,0)) * 1000000 div _t"
            " AS BIGINT) AS share_ppm",
            f"CAST(CAST(n_vecs AS DECIMAL(38,0)) * {int(n_cells)} * 1000000"
            " div _t AS BIGINT) AS load_ratio_ppm",
        )
    )
