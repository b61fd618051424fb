"""K-means (Lloyd's algorithm) over an embedding column, DataFrame-only.

The training-data use case is semantic clustering: group a corpus's
embeddings into k cells for semantic dedup (SemDeDup-style: keep one
doc per tight cluster), topical sharding, or as a trained alternative
to the sampled-centroid IVF index in ``similarity.ivf_assign``.

Spark-first formulation (no MLlib dependency, everything a plan):

- init: deterministic pseudo-random sample — the same engine-portable
  ``ORDER BY md5(id:seed) LIMIT k`` trick as ``ivf_assign``, so an
  external SQL oracle replays the exact starting centroids.
- assign: broadcast the k centroids (k × dim doubles — KBs), score
  with the JVM-side cosine expression, argmax via ``max_by`` with a
  deterministic tie-break. One corpus scan, zero corpus shuffle.
- update: element-wise mean per cell via ``posexplode`` →
  ``groupBy(cell, pos).avg``. The explode fans each row into ``dim``
  rows, but map-side partial aggregation collapses them to
  ``partitions × k × dim`` partials before the exchange — the shuffle
  never carries the corpus. Cosine ignores magnitude, so the plain
  mean is the spherical-k-means update (no renormalization needed).
- loop: the driver iterates ``n_iters`` times, collecting only the
  k centroid vectors between rounds (metadata, not data — k × dim
  doubles) and re-literalizing them so every round starts from a flat
  plan instead of a lineage that replans all prior rounds.

Determinism: assignment ties break to the lowest cent_id; centroid
means are floating-point and engine-order-sensitive in the last ulps,
so only the integer ASSIGNMENT (vec_id → cell) is contract output —
margins between distinct random embeddings dwarf ulp noise. Clusters
that lose all members disappear (standard drop-empty-cells variant).

The reference has no clustering surface; this extends its query
engine the same way ivf/lsh extend Get (SURVEY §2 "beyond-reference"
training-pipeline operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unitdb_spark.operators.similarity import cosine_expr


def _init_centroids(
    df: DataFrame, k: int, id_col: str, vec_col: str, seed: int
) -> DataFrame:
    base = df.select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("_cent"))
    h = F.md5(F.concat(F.col("cent_id").cast("string"), F.lit(f":{seed}")))
    # hash-threshold pre-filter (superset-safe) as in similarity.ivf_assign;
    # limit(k).count() short-circuits the coverage probe (no full scan)
    pref = base.filter(h < F.lit("01"))
    if pref.limit(k).count() < k:
        pref = base
    return pref.orderBy(h, F.col("cent_id")).limit(k)


def _assign(
    df: DataFrame, cents: DataFrame, id_col: str, vec_col: str,
    sim_out: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment — delegated to the shared
    ``similarity.nearest_cell_assign``: a zero-shuffle inlined-literal
    argmax projection for k <= its inline cap, broadcast-join +
    map-side max_by beyond."""
    from unitdb_spark.operators.similarity import nearest_cell_assign

    return nearest_cell_assign(
        df, cents, id_col=id_col, vec_col=vec_col, vec_out="_v",
        sim_out=sim_out,
    )


def lloyd_centroids(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """The Lloyd centroid loop split out of `kmeans_lloyd` so other
    finishes (assignment, silhouette) share ONE centroid computation:
    md5-deterministic init + ``n_iters`` assign→mean rounds, each
    round's k centroids literalized so the next round's plan is flat
    (no lineage replaying every earlier round). Returns the k-row
    (cent_id, _cent) relation."""
    spark = df.sparkSession
    cents = _init_centroids(df, k, id_col, vec_col, seed)
    for _ in range(n_iters):
        assigned = _assign(df, cents, id_col, vec_col)
        ex = assigned.select("cell", F.posexplode("_v").alias("pos", "val"))
        means = ex.groupBy("cell", "pos").agg(F.avg("val").alias("mv"))
        new_cents = (
            means.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                    lambda s: s["mv"],
                ).alias("_cent")
            )
            .select(F.col("cell").alias("cent_id"), "_cent")
        )
        rows = new_cents.collect()
        cents = spark.createDataFrame(
            [(r["cent_id"], [float(x) for x in r["_cent"]]) for r in rows],
            "cent_id long, _cent array<double>",
        )
    return cents


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sim_out: str | None = None,
) -> DataFrame:
    """Cluster ``df[vec_col]`` into ``k`` cells; returns (vec_id, cell).

    ``n_iters`` full Lloyd rounds (assign → mean-update) run before the
    final assignment that is returned, so ``n_iters=0`` is plain
    assignment to the sampled init centroids (== IVF assignment).
    ``sim_out`` adds the winning cosine similarity to the output
    (assignments unchanged).
    """
    if k < 1 or n_iters < 0:
        raise ValueError("kmeans_lloyd: need k >= 1 and n_iters >= 0")
    cents = lloyd_centroids(df, k, n_iters, id_col, vec_col, seed)
    final = _assign(df, cents, id_col, vec_col, sim_out=sim_out)
    keep = ["vec_id", "cell"] + ([sim_out] if sim_out else [])
    return final.select(*keep)


def simplified_silhouette(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Per-cell simplified silhouette (Hruschka '04's centroid-based
    variant of Rousseeuw 1987) — the cluster-quality audit for the
    kmeans family: instead of all-pairs distances (O(n²), the reason
    full silhouette never scales), each point compares its cosine
    distance to its OWN centroid (a) against the NEAREST OTHER
    centroid (b): s = (b − a)/max(a, b) ∈ [0, 1] by construction
    (b ≥ a since the own centroid is the argmax); s → 0 marks
    boundary points, a low cell mean marks a cell that should merge
    or split.

    Centroids come from the SAME `lloyd_centroids` loop as
    `kmeans_lloyd` (one computation, two finishes). Per point the
    two similarities are ranked (sim DESC, cent_id); the silhouette
    is ONE pinned float chain floored to micro (order-free cell
    sums); points equidistant at distance 0 from two centroids
    define s = 0.

    Output: (cell, n_members, mean_sil_micro, min_sil_micro).

    Scale: the k-row centroid relation broadcasts against ONE corpus
    scan (the `cosine_topk` shape); the rank window is per-point;
    the report is a per-cell integer aggregation. Never n².
    """
    cents = lloyd_centroids(df, k, n_iters, id_col, vec_col, seed)
    c = df.sparkSession.createDataFrame(
        [(r["cent_id"], [float(x) for x in r["_cent"]])
         for r in cents.collect()],
        "cent_id long, _cent array<double>",
    )
    scored = df.select(
        F.col(id_col).alias("_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")
        .alias("_v"),
    ).crossJoin(F.broadcast(c)).select(
        "_id", "cent_id",
        cosine_expr("_v", "_cent").alias("_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_id").orderBy(
        F.desc("_sim"), F.asc("cent_id")
    )
    two = scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= 2
    )
    per = two.groupBy("_id").agg(
        F.max(F.when(F.col("_rn") == 1, F.col("cent_id"))).alias("cell"),
        F.max(F.when(F.col("_rn") == 1, F.col("_sim"))).alias("_sa"),
        F.max(F.when(F.col("_rn") == 2, F.col("_sim"))).alias("_sb"),
    )
    da = F.lit(1.0) - F.col("_sa")
    db = F.lit(1.0) - F.col("_sb")
    s = (db - da) / F.greatest(da, db)
    sil = per.select(
        "cell",
        F.when(
            F.greatest(da, db) > 0,
            F.floor(s * F.lit(1_000_000.0)),
        ).otherwise(F.lit(0)).cast("long").alias("_sm"),
    )
    return sil.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.expr("CAST(sum(_sm) div count(*) AS BIGINT)")
        .alias("mean_sil_micro"),
        F.min("_sm").cast("long").alias("min_sil_micro"),
    )
