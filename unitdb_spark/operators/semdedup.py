"""SemDeDup — semantic deduplication over embeddings (Abbas et al.
2023, arXiv:2303.09540).

The published recipe: k-means the embedding space, then look for
near-duplicate pairs ONLY within a cluster (the clustering is the
blocking structure that makes the quadratic pair search tractable),
and keep one exemplar per ε-ball. The reference engine has no vector
surface (payloads are opaque bytes, `/root/reference/db_internal.go`);
this is part of the beyond-reference LLM-pipeline surface.

Shape (100 TB): the only all-pairs work is per-cell — one shuffle of
(id, cell, vec) on the cell key, then a same-key self-join that never
crosses cells. With k sized so cells hold ~10^4–10^5 vectors the
per-cell cost is bounded and embarrassingly parallel; the k-means
assignment itself is the broadcast-centroid scan from
``operators.kmeans`` (corpus never shuffles for assignment). Nothing
driver-side except the k centroid rows per Lloyd round.

Determinism: the keep rule is "survives unless a LOWER-id vector in
the same cell is within the threshold" — a greedy min-id exemplar per
ε-ball (the paper keeps the vector with LOWest centroid similarity;
min-id is the engine-portable variant of 'pick one', same dedup rate).
Cosines are compared on ``round(cos, 6)`` per the repo's cross-engine
convention.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unitdb_spark.operators.kmeans import kmeans_lloyd
from unitdb_spark.operators.similarity import cosine_expr


def semdedup(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 1,
    threshold: float = 0.15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Mark semantic near-duplicates within k-means cells.

    Output: (vec_id, cell, is_dup, max_sim_r, kept_by) — one row per
    input vector. ``is_dup`` is True when some lower-id vector in the
    same cell has rounded cosine >= threshold; ``max_sim_r`` is the
    highest such cosine (NULL for keepers) and ``kept_by`` the lowest
    qualifying earlier id (the exemplar this row deduplicates to).

    The assigned (id, cell, vec) relation feeds both self-join sides,
    so it is persisted once (MEMORY_AND_DISK) — without it Spark
    re-runs the assignment subplan per branch. The persist is
    session-pinned (Spark has no plan-scoped lifetime); long-lived
    jobs should release it via ``spark.catalog.clearCache()`` once
    consumed. The final keeper join runs on the NARROW (id, cell)
    assignment relation (16 B/row — vectors never ride the closing
    exchange, and the dup side can be any size without a broadcast
    gamble).
    """
    assigned = kmeans_lloyd(df, k=k, n_iters=n_iters, id_col=id_col, vec_col=vec_col, seed=seed)
    # persist the assignment relation ALREADY hash-partitioned on the
    # cell key, with an explicit partition count (r13, guide §2.4/§2.5):
    # the per-cell self-join below then needs ZERO exchanges (the cached
    # layout satisfies both sides' clustering), and — because the pair
    # scan is CPU-bound (|cell|² dot products) while its input is only
    # a few hundred KB — AQE's byte-based coalescing can no longer fold
    # the join into one serial task (measured: a 1-task 6.5s stage
    # reading 0.5 MB at sf0.1).
    par = df.sparkSession.sparkContext.defaultParallelism
    t = (
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_vec"))
        .join(assigned.withColumnRenamed(id_col, "vec_id"), "vec_id")
        .repartition(par, "cell")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = t.select(F.col("vec_id").alias("_ida"), F.col("cell"), F.col("_vec").alias("_va"))
    b = t.select(F.col("vec_id").alias("_idb"), F.col("cell"), F.col("_vec").alias("_vb"))
    pairs = (
        a.join(b, "cell")
        .filter(F.col("_idb") < F.col("_ida"))
        .withColumn("_cos_r", F.round(cosine_expr("_va", "_vb"), 6))
        .filter(F.col("_cos_r") >= F.lit(threshold))
    )
    dups = pairs.groupBy("_ida").agg(
        F.max("_cos_r").alias("max_sim_r"), F.min("_idb").alias("kept_by")
    )
    # derive from the persisted relation (cache hit), projecting the
    # vector away so the closing exchange carries 16 B/row
    slim = t.select("vec_id", "cell")
    return (
        slim.join(dups, slim["vec_id"] == dups["_ida"], "left")
        .select(
            "vec_id",
            "cell",
            F.col("_ida").isNotNull().alias("is_dup"),
            "max_sim_r",
            "kept_by",
        )
    )
