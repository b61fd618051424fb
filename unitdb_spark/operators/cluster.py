"""Near-duplicate cluster resolution: connected components over pairs.

Pair generators (MinHash-LSH, n-gram Jaccard, embedding-cosine) emit
EDGES; deduplication needs CLUSTERS — every document labeled with its
group so one keeper survives per group. Components = min-label
propagation to a fixpoint (the standard large-graph formulation, e.g.
Hash-to-Min / Pregel-style label propagation):

    label(v) <- min(label(v), min over neighbors' labels)

iterated until no label changes. Each round is one join + one
aggregation; the number of rounds is the graph diameter, and near-dup
clusters are shallow (stars/cliques around a canonical doc), so this
converges in 2-4 rounds in practice. `localCheckpoint` after each
round cuts the growing lineage — without it round k replans rounds
1..k-1 and the job goes quadratic.

This is the repo's one deliberately ITERATIVE operator (driver-side
loop with a convergence check); the driver's oracle replays it with a
recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iterations: int = 25,
    persist: str = "memory",
) -> DataFrame:
    """Label every node with the smallest node id in its component.

    ``nodes`` (optional, single-column) adds isolated vertices —
    pass the full corpus ids so singleton documents appear as their
    own cluster. Raises if propagation hasn't converged after
    ``max_iterations`` — with the pointer-jumping step (round 10)
    effective distance doubles per round, so the 25-round cap covers
    component diameters up to ~2^25; hitting it means the input is
    pathological, fail loudly rather than return wrong labels.

    The symmetric edge relation is loop-invariant and consumed twice
    per round (message join + the convergence check's recompute), so
    ``persist="memory"`` (default) caches it — same discipline as
    `graph.pagerank`; without it every round re-derives the upstream
    pair build (the |group|² co-occurrence join in the flagship
    parts_components query: measured 32s → 13s at sf0.1 from this
    cache alone). At 100 TB pre-materialize the edge list:
    ``persist="aligned"`` (r12, same contract as
    `graph.pagerank(persist="aligned")`) is that pre-materialized
    form: the caller passes a SYMMETRIC edge relation (both
    directions present — e.g. `weighted_cooccurrence_edges`, or any
    undirected edge table written with its reverse union) whose
    source partitioning already hashes on ``dst`` (a dst-bucketed
    catalog table, sources/bucketed.py). The symmetrization union
    and the repartition are both skipped, so every per-round message
    aggregation is exchange-free straight off the table layout
    (tests/test_plans.py pins the plan). Any other value raises
    ValueError. Both modes broadcast the node-sized label relation,
    so the node set must fit a broadcast.

    Output: (node, cluster_id).
    """
    if persist not in ("memory", "aligned"):
        raise ValueError(
            "connected_components: persist must be 'memory' or 'aligned', "
            f"got {persist!r}"
        )
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if persist == "aligned":
        # edges arrive symmetric AND hash-partitioned on the
        # destination key (dst-bucketed catalog table): no union (it
        # would destroy the scan's partitioning), no repartition —
        # the per-round groupBy(d) is exchange-free off the layout.
        bi = e
    else:
        bi = e.unionByName(
            e.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        # cache the symmetric edges PARTITIONED BY DESTINATION (round
        # 10): the per-round message aggregation groups on the
        # destination key, and a d-aligned cached relation carries
        # HashPartitioning(d) through the (broadcast-sized) label
        # join's project, so the groupBy needs NO exchange — the one
        # remaining per-round shuffle of |edges| message rows
        # disappears (labels, |nodes|-sized, is the only thing that
        # moves). The 100 TB shape is the same relation bucketed by
        # destination (sources/bucketed.py).
        bi = bi.repartition("d")
    bi = bi.persist()
    base = bi.select(F.col("s").alias("node")).distinct()
    if nodes is not None:
        base = base.unionByName(
            nodes.select(F.col(node_col).alias("node"))
        ).distinct()
    labels = base.select("node", F.col("node").alias("label"))
    labels = labels.localCheckpoint(eager=True)
    # plan-pinning broadcast on the |nodes|-sized label relation
    # (r11, same as pagerank's rank hint): without it a graph past
    # the broadcast threshold gets a sort-merge join that re-shuffles
    # the d-aligned edge cache by s every round, turning the
    # repartition("d") into a pure regression. Both modes assume
    # labels is broadcast-sized.
    for _ in range(max_iterations):
        lab_b = F.broadcast(labels)
        msgs = bi.join(lab_b, bi["s"] == lab_b["node"]).select(
            F.col("d").alias("node"), "label"
        )
        # exchange-free when bi is d-partitioned (alias-aware output
        # partitioning carries d → node through the select); the old
        # union-with-labels formulation is replaced by a LEFT join so
        # nodes without in-messages keep their label without dragging
        # the label relation into the big aggregation
        msg_min = msgs.groupBy("node").agg(F.min("label").alias("_m"))
        # materialize BEFORE the self-join: prop feeds both sides of
        # the pointer jump, and without the checkpoint Spark would
        # recompute the edge-join/agg subtree twice per round
        # (measured 13s -> 20s at sf0.1 — worse than no jump)
        prop = (
            labels.join(msg_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("_m", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer jumping (round 10): one extra SELF-join of the
        # |nodes|-sized label relation replaces label with
        # label[label] — the label a node points to is itself a node
        # whose (possibly smaller) label is already known, so the
        # effective propagation distance DOUBLES per round and the
        # loop converges in ~log2(diameter) rounds instead of
        # diameter. The expensive per-round cost is the EDGE join
        # above; halving (or better) the round count halves it.
        # Monotone (label[l] <= l since l's own row is in the min)
        # and closed within the component, so the fixpoint — every
        # node labeled with its component minimum — is unchanged,
        # which is exactly the confluence the recursive
        # min-reachability oracle relies on.
        new = (
            prop.alias("x")
            .join(
                prop.select(
                    F.col("node").alias("_ln"), F.col("label").alias("_ll")
                ).alias("y"),
                F.col("x.label") == F.col("y._ln"),
            )
            .select(F.col("x.node").alias("node"), F.col("_ll").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            return labels.select("node", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster ids for EVERY document (singletons included) from a
    near-dup pair set, plus the keep/drop verdict: the smallest doc id
    in each cluster is the keeper — the same keeper rule as
    ``exact_dedup``.

    Output: (doc_id, cluster_id, is_keeper).
    """
    comp = connected_components(
        pairs, src=src, dst=dst, nodes=docs.select(F.col(id_col).alias("node"))
    )
    return comp.select(
        F.col("node").alias(id_col),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
    )


def dedup_resolve(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """End-to-end corpus dedup verdict: cluster near-dup pairs, then
    keep the BEST document per cluster instead of the smallest id —
    keeper = arg-max by (quality, then smallest id on ties). This is
    the operator a training pipeline actually runs: ``dup_clusters``
    labels groups; this picks survivors by quality (e.g. ``n_chars``,
    a classifier score) so dedup doesn't discard the cleanest copy.

    One extra aggregation over ``dup_clusters``: keeper per cluster
    via max_by (map-side partial agg; the exchange carries one row per
    cluster), joined back on cluster_id — the same key the component
    labels already shuffle on.

    Output: (doc_id, cluster_id, keeper_id, is_keeper).
    """
    comp = connected_components(
        pairs, src=src, dst=dst, nodes=docs.select(F.col(id_col).alias("node"))
    ).select(F.col("node").alias(id_col), "cluster_id")
    labeled = comp.join(
        docs.select(id_col, quality_col), id_col
    )
    keepers = labeled.groupBy("cluster_id").agg(
        F.max_by(
            id_col,
            F.struct(F.col(quality_col), (-F.col(id_col)).alias("_neg_id")),
        ).alias("keeper_id")
    )
    return (
        comp.join(keepers, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "keeper_id",
            (F.col(id_col) == F.col("keeper_id")).alias("is_keeper"),
        )
    )


def grid_density_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    h: float = 0.05,
    min_pts: int = 5,
    dims: tuple[int, int] = (1, 2),
) -> DataFrame:
    """Grid-density clustering over two embedding coordinates — the
    STING/DBSCAN-family density view (Wang '97; grid cells stand in
    for the ε-neighborhood): a cell of side ``h`` is DENSE when it
    holds ≥ ``min_pts`` points, and clusters are connected components
    of dense cells under 8-neighborhood adjacency. Sparse-cell points
    are noise. The grid is what makes density clustering tractable at
    100 TB: cell assignment is a map-side expression, the dense-cell
    relation is corpus-size-INDEPENDENT (bounded by occupied cells),
    and the component step runs on that tiny relation via the
    existing `connected_components` fixpoint.

    Determinism: cell coords are floor(coord / h) on the exact
    parquet doubles (pinned division, floor — engine-identical);
    cell ids pack as (cx+2²⁰)·2²¹ + (cy+2²⁰) BIGINT (coords beyond
    ±2²⁰ cells would alias — raise ``h`` long before that); cluster
    id = min cell id in the component (the CC operator's contract).
    The oracle replays the fixpoint with a recursive CTE.

    Output: (cluster_id, n_cells, n_points, min_cx, max_cx, min_cy,
    max_cy) — one row per dense-cell cluster.
    """
    OFF, K = 1 << 20, 1 << 21
    d0, d1 = dims
    pts = df.select(
        F.element_at(F.col(vec_col), d0).cast("double").alias("_x"),
        F.element_at(F.col(vec_col), d1).cast("double").alias("_y"),
    )
    cells = (
        pts.select(
            F.floor(F.col("_x") / F.lit(float(h))).cast("long").alias("cx"),
            F.floor(F.col("_y") / F.lit(float(h))).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    dense = cells.filter(F.col("cnt") >= F.lit(int(min_pts))).select(
        "cx", "cy", "cnt",
        ((F.col("cx") + OFF) * K + (F.col("cy") + OFF)).alias("cell"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ]
    )
    nb = dense.select(
        "cell", "cx", "cy", F.explode(offsets).alias("_o")
    ).select(
        "cell",
        (
            (F.col("cx") + F.col("_o.dx") + OFF) * K
            + (F.col("cy") + F.col("_o.dy") + OFF)
        ).alias("ncell"),
    )
    edges = (
        nb.join(dense.select(F.col("cell").alias("ncell")), "ncell")
        .filter(F.col("cell") < F.col("ncell"))
        .select(
            F.col("cell").alias("id_a"), F.col("ncell").alias("id_b")
        )
    )
    comp = connected_components(
        edges, nodes=dense.select(F.col("cell").alias("node"))
    )
    return (
        comp.join(dense, comp["node"] == dense["cell"])
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("cnt").cast("long").alias("n_points"),
            F.min("cx").alias("min_cx"),
            F.max("cx").alias("max_cx"),
            F.min("cy").alias("min_cy"),
            F.max("cy").alias("max_cy"),
        )
    )
