"""Graph analytics over relational edges: co-occurrence + PageRank.

`operators/cluster.py` gave the repo its connected-components
primitive (dedup clusters). This module adds the other workhorse
graph operator a data-curation stack reaches for: PageRank-style
importance over a co-occurrence graph — which items anchor the
catalog, which documents sit central in a citation/link graph, which
sources dominate a crawl. Power-iteration maps directly onto Spark:
each iteration is one join (edges x ranks) and one partial-agg
shuffle on the destination key; `localCheckpoint` per round cuts the
growing lineage as in `kmeans.py`/`cluster.py`. Under AQE (on in
`session.py`) `localCheckpoint(eager=False)` runs the round's shuffle
map stages at the call, on the driver's call path; only the final
stage, which fills the checkpoint blocks, waits for an action.

Determinism contract: fixed iteration count (no float convergence
test), and the PageRank family runs in exact BIGINT fixed-point
(picounits of mass, damping as an integer rational) so every
iteration is order-free — the driver's DuckDB oracle replays the
same unrolled iterations and matches BITWISE, with no
IEEE-accumulation-order ulp risk at rounding boundaries.

The reference engine has no graph surface; north-star analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


#: Sharing the co-occurrence pair relation. The |group|² build is by
#: far the most expensive derived relation in the graph family, and
#: EVERY parts_* query (components, degree dist, pagerank, sssp,
#: assortativity, link-pred …) starts from the same (src<dst, weight)
#: pairs over the same fact table. `cooccurrence_pairs` hands the
#: relation back persisted, which registers its plan with Spark's
#: CacheManager: any later plan that builds the same pairs over an
#: equal source plan — a fresh `spark.read.parquet` of the same files
#: counts — reads the cached InMemoryRelation instead of re-running
#: the self-join. There is no key to mint, so two different inputs
#: never share a relation (a CacheManager match needs equal plans),
#: and a relation lives exactly as long as the session's cache: it is
#: released by `unpersist()` or `spark.catalog.clearCache()`
#: (`clear_pair_cache`). At 100 TB you would materialize the edge
#: list ONCE as a catalog-bucketed table (sources/bucketed.py —
#: write_bucketed(edges, "copurchase_edges", ["src"]) — bucketed on
#: src so every downstream join/agg on the node key skips its
#: Exchange) and re-derive it only when the fact table changes; the
#: session cache is the same protocol without the catalog write.


def clear_pair_cache() -> None:
    """Release the persisted pair relations: the active session's
    ``catalog.clearCache()``, which drops every other cached relation
    along with them. A no-op when no session is active."""
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.catalog.clearCache()


def cooccurrence_pairs(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """The aggregated undirected pair relation (src < dst, w = number
    of distinct groups containing both) every co-occurrence edge shape
    derives from.

    Always returned persisted (MEMORY_AND_DISK_DESER, the DataFrame
    default), so N graph queries over one source pay ONE |group|² build:
    each later call over an equal source plan reads the cached
    relation (see the block comment above); Spark logs such a hit as
    "Asked to cache already cached data". Release it with
    ``unpersist()`` on the returned frame, or with
    ``spark.catalog.clearCache()``.

    Skew assumption (r12 advice): the self-join is pinned to a
    shuffled hash join, whose build side must hold an entire hash
    partition in memory. That is safe when (group, item) rows are
    roughly uniform in the group key — the blocking contract above.
    A single hot group concentrates its rows into one build
    partition; where SMJ would spill, SHJ can OOM. If group sizes
    are unbounded upstream, cap them before calling (the dedup
    family's `_cap_buckets` pattern) rather than relying on AQE's
    partial skew-split.
    """
    g = df.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("_i")
    ).distinct()
    a = g.select("_g", F.col("_i").alias("src"))
    b = g.select("_g", F.col("_i").alias("dst"))
    # SHUFFLE_HASH on the build side: both sides are the SAME distinct
    # (group, item) relation, so the exchange is shared (ReuseExchange)
    # and the only per-strategy cost is sort-vs-hash-build. A hash
    # build over one partition of (group, item) rows is bounded by the
    # shuffle partition size and uniform in the group key, so the SHJ
    # OOM hazard doesn't apply; SMJ pays two full sorts of the widest
    # relation in the build. Targeted hint rather than
    # preferSortMergeJoin=false / the AQE localMap threshold: the r12
    # global A/B showed those regress minhash (1.8->17.3s) and
    # customer_er (5->17-42s) while this join is where the graph
    # family's win lives (OPTIMIZATION_r12.md).
    pairs = (
        a.join(b.hint("shuffle_hash"), "_g")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pairs.persist()


def cooccurrence_edges(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Symmetric distinct edges between items sharing a group.

    (src, dst) both directions, src != dst — e.g. parts co-purchased
    in one order, tokens co-occurring in one document. The self-join
    shuffles on the group key; per-group cost is |group|^2, so the
    group column plays the blocking role (same contract as the dedup
    family — cap group size upstream for pathological groups). The
    pair build is persisted and shared by every later call over an
    equal source (see ``cooccurrence_pairs``).
    """
    pairs = cooccurrence_pairs(df, group_col, item_col)
    und = pairs.select("src", "dst")
    return und.unionAll(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


#: fixed-point scale for the quantized PageRank family: ranks are
#: BIGINT picounits (1e-12 of total mass). Large enough that the
#: per-step floor loss (< 1 unit per edge/node) is invisible at the
#: round-6 output resolution, small enough that damping_num * SCALE
#: stays far inside int64.
PR_SCALE = 1_000_000_000_000


def _power_iteration(
    e: DataFrame,
    seeds: DataFrame | None,
    iterations: int,
    damping: float,
    persist: str,
    name: str,
    out: str,
) -> DataFrame:
    """The one fixed-point power iteration behind `pagerank`,
    `pagerank_weighted` and `personalized_pagerank`.

    ``e`` is the edge list as (_s, _d, _w) with BIGINT weights, or
    (_s, _d) for unit weights; the node set is its sources. Every
    node carries its out-weight Σw_u on each out-edge and sends
    (pr_u · w) div Σw_u along it — with unit weights, pr_u div
    out_degree (no weight column rides the edge cache). Restart mass
    goes uniformly to the T teleport nodes: the ``seeds`` (an ``_s``
    column; ids that are not graph nodes are ignored), or every node
    when ``seeds`` is None. Per node the loop
    reads its teleport units ``_t`` (floor((den−num)·SCALE / (den·T))
    on a teleport node, else 0) and its start mass ``_u`` (SCALE div
    T, else 0), so a round is pr_u' = _t + (num · inflow) div den.

    ``persist`` is "memory" (cache the edges repartitioned by _d) or
    "aligned" (the edges already hash on _d: cache them as they
    are). Both broadcast the node-sized relations, so they assume the
    node set is broadcast-sized. Output: (node, ``out``) — rank
    scaled by N and rounded to 6.
    """
    if persist not in ("memory", "aligned"):
        raise ValueError(
            f"{name}: persist must be 'memory' or 'aligned', got {persist!r}"
        )
    from fractions import Fraction

    frac = Fraction(str(damping))
    d_num, d_den = frac.numerator, frac.denominator
    weighted = "_w" in e.columns
    ws = e.groupBy("_s").agg(
        (F.sum("_w") if weighted else F.count(F.lit(1))).cast("long").alias("_ws")
    )
    share = "(_u * _w) div _ws" if weighted else "_u div _ws"
    # broadcast the node-sized out-weight relation into the edge
    # build, so the edge relation is never shuffled by _s on its way
    # to d-alignment (memory: saves one edge-sized exchange before the
    # repartition; aligned: PRESERVES the bucketed table's hash(dst)
    # partitioning, the whole point).
    ewd = e.join(F.broadcast(ws), "_s")
    if persist == "memory":
        # cache the loop-invariant edge relation PARTITIONED BY
        # DESTINATION (r10, same trick as connected_components): the
        # per-iteration contribution agg groups on _d, and the cached
        # HashPartitioning(_d) survives the (broadcast-sized) rank
        # join's project, so the groupBy shuffles NOTHING — only the
        # |nodes|-sized rank relation moves per iteration. "aligned"
        # is the 100 TB steady state: the dst-bucketed catalog table
        # gives the same exchange-free iterations with no repartition.
        ewd = ewd.repartition("_d")
    ewd = ewd.persist()
    # the node relation is re-joined every iteration, and the eager
    # counts below would otherwise each re-run the full edge build
    nodes = ws.select("_s").persist()
    n = nodes.count()
    if n == 0:
        raise ValueError(f"{name}: empty edge list")
    on, n_t = F.lit(True), n
    if seeds is not None:
        sd = seeds.distinct().join(nodes, "_s", "leftsemi")
        n_t = sd.count()
        if n_t == 0:
            raise ValueError(f"{name}: no seed is a graph node")
        nodes = nodes.join(
            sd.withColumn("_on", F.lit(True)), "_s", "left"
        ).persist()
        on = F.col("_on")
    base_u = ((d_den - d_num) * PR_SCALE) // (d_den * n_t)
    nodes = nodes.select(
        "_s",
        F.when(on, F.lit(base_u)).otherwise(0).cast("long").alias("_t"),
        F.when(on, F.lit(PR_SCALE // n_t)).otherwise(0).cast("long").alias("_u"),
    )
    ranks = nodes.select("_s", "_u")
    for _ in range(iterations):
        # the d-alignment above only pays off if the rank join does
        # NOT re-shuffle ewd by _s — pin it with an explicit broadcast
        # hint on the |nodes|-sized rank relation (r11; without the
        # hint, a graph past the broadcast threshold gets an AQE
        # sort-merge join and the repartition("_d") becomes a pure
        # regression).
        inflow = (
            ewd.join(F.broadcast(ranks), "_s")
            .select("_d", F.expr(share).alias("_c"))
            .groupBy("_d")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(inflow.withColumnRenamed("_d", "_s"), "_s", "left")
            .select(
                "_s",
                (
                    F.col("_t")
                    + F.expr(f"({d_num} * coalesce(_in, 0L)) div {d_den}")
                ).alias("_u"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        F.col("_s").alias("node"),
        F.round(
            F.col("_u").cast("double") * F.lit(float(n)) / F.lit(float(PR_SCALE)),
            6,
        ).alias(out),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    persist: str = "memory",
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list, computed in
    EXACT integer fixed-point (BIGINT picounits of mass).

    Returns (node, pr_r): rank scaled by N (mean ~1.0 — readable and
    better round-6 resolution than raw 1/N-sized values) and rounded
    to 6 for the cross-engine hash convention.

    Node set = nodes appearing as a SOURCE (with symmetric edges from
    `cooccurrence_edges`, that is every connected node; isolated items
    never enter the graph — rank within the graph is the semantics).
    Every node needs out-edges (true for symmetric edge lists); with
    dangling nodes this formulation would leak their mass — callers
    with genuinely directed graphs must add back-edges or drop sinks.

    Per iteration: a broadcast join of the ranks to the edges and one
    partial-agg on ``dst``, then a node-relation re-join so a node
    with out-edges but NO in-edges keeps its row (and its outgoing
    contributions) instead of silently dropping after round 1. The
    edges-with-degree and node relations are loop-invariant and
    reused k (resp. k+1) times, so they are cached — measured 23s →
    15s cold / 17s → 5s warm at sf0.1 (without the cache every
    iteration re-derives the co-occurrence self-join from the source
    table). ``persist="memory"`` (default) caches the edges
    repartitioned by ``dst``. ``persist="aligned"`` (r11) is the
    pre-materialized form: the caller passes edges whose source
    partitioning ALREADY hashes on ``dst`` (a catalog table bucketed
    on dst — sources/bucketed.py), so the loop invariants persist
    WITHOUT the repartition and the degree join broadcasts the
    node-sized degree relation to keep the edge side's partitioning
    intact; every per-iteration aggregation is then exchange-free
    straight off the table layout (tests/test_plans.py pins the
    plan). Any other value raises ValueError. Both modes broadcast
    the node-sized relations, so the node set must fit a broadcast.

    Determinism contract (the fix for the round-4 ulp risk): all
    arithmetic is BIGINT — contribution = pr_u div out_degree, damping
    applied as the exact rational (num·x) div den from
    Fraction(str(damping)), restart mass floor((den−num)·SCALE /
    (den·N)). Integer sums are order-free, so Spark and any SQL oracle
    agree BITWISE regardless of accumulation order — no value can sit
    "within an ulp of a rounding boundary". Each floor drops < 1
    picounit, so the result differs from IEEE PageRank by < (E+N)·k
    picounits of mass — invisible at round-6 after N-scaling for any
    graph small enough to enumerate. The final pr_r is one pinned
    float expression: round(double(u) · N / SCALE, 6).
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    return _power_iteration(
        e, None, iterations, damping, persist, "pagerank", "pr_r"
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected graph.

    Triangles measure local clustering — in a co-purchase or co-citation
    graph they separate genuinely cohesive neighborhoods from hub
    artifacts (a hub has high degree but few closed triangles).

    Input may be symmetric (both directions, as `cooccurrence_edges`
    emits) or one-row-per-undirected-edge; it is normalized to
    distinct a < b pairs first. The count uses the standard
    degree-ordered formulation (each edge directed from the
    (degree, id)-SMALLER endpoint to the larger): every triangle has
    exactly one wedge centered at its smallest vertex, so the
    wedge-close join counts each triangle once, and wedge fan-out per
    node is bounded by its FORWARD degree — the O(m^1.5) bound that
    keeps hub nodes from exploding the join (the reason this survives
    a power-law graph at scale; an undirected wedge join would square
    the hub degree).

    Output: (node, n_triangles) for every node in the edge set,
    zeros included. Exact integers end to end.

    The normalized edge, degree, forward-list and edge-triangle
    relations are cached for the duration of the returned plan and
    NOT unpersisted (the result is lazy; a terminal action inside the
    operator would change its contract). Repeated calls in a
    long-lived session therefore accumulate cached relations — call
    ``spark.catalog.clearCache()`` between invocations when that
    matters.
    """
    # the normalized edge set feeds FOUR consumers (both degree
    # derivations, the orientation join, and the wedge-closing join),
    # fwd two (both wedge sides), deg three — without persists each
    # consumer re-runs the distinct (an edge-sized exchange) from the
    # source relation per use (r12: parts_triangles 26.6-32.7s →
    # 4.6-5.6s with the three caches).
    e = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .select(
            F.least("_a", "_b").alias("_a"), F.greatest("_a", "_b").alias("_b")
        )
        .distinct()
        .cache()
    )
    # total degree per node (undirected), then direct each edge from
    # the (degree, id)-smaller endpoint to the larger
    nodes = e.select(F.col("_a").alias("_n")).unionAll(
        e.select(F.col("_b").alias("_n"))
    )
    deg = nodes.groupBy("_n").agg(F.count(F.lit(1)).alias("_deg")).cache()
    da = deg.select(F.col("_n").alias("_a"), F.col("_deg").alias("_dega"))
    db = deg.select(F.col("_n").alias("_b"), F.col("_deg").alias("_degb"))
    ed = e.join(da, "_a").join(db, "_b")
    fwd = ed.select(
        F.when(
            (F.col("_dega") < F.col("_degb"))
            | ((F.col("_dega") == F.col("_degb")) & (F.col("_a") < F.col("_b"))),
            F.struct(F.col("_a").alias("u"), F.col("_b").alias("v")),
        )
        .otherwise(F.struct(F.col("_b").alias("u"), F.col("_a").alias("v")))
        .alias("_e")
    ).select(F.col("_e.u").alias("_u"), F.col("_e.v").alias("_v"))
    fwd = fwd.cache()
    # adjacency-intersect close (r12): the explicit wedge self-join
    # materializes Σ fd(u)² wedge ROWS through an exchange before the
    # closing join — 41M wedges for sf0.1's 1.2M-edge co-purchase
    # graph, the dominant shuffle (guide §2.3: shuffle fewer bytes).
    # Equivalent formulation: with every edge directed by the
    # (degree, id) total order, triangle a→b, a→c, b→c is found
    # exactly once at its a→b edge as c ∈ L(a) ∩ L(b) over FORWARD
    # neighbor lists — so join each forward edge to its endpoints'
    # lists and intersect. The shuffle volume is O(edges + node
    # lists) = O(m) rows (lists total m longs), never O(wedges); the
    # per-edge intersect does the same Σ fd(u)+fd(v) membership work
    # the wedge join did, but in-pipeline as CPU instead of through a
    # 41M-row exchange + sort-merge join. Same exact integer counts:
    # a and b each credit |L(a)∩L(b)|, every common neighbor c
    # credits 1. Measured (sf0.1 isolated mins): parts_triangles
    # 21.8-26.6s → 7.1-8.0s, parts_clustering 20.5 → 11.0s.
    adj = fwd.groupBy("_u").agg(F.collect_list("_v").alias("_nb"))
    la = adj.select(F.col("_u"), F.col("_nb").alias("_nbu"))
    lb = adj.select(F.col("_u").alias("_v"), F.col("_nb").alias("_nbv"))
    etri = (
        fwd.join(la, "_u")
        .join(lb, "_v")
        .select(
            "_u", "_v", F.array_intersect("_nbu", "_nbv").alias("_cm")
        )
        .select("_u", "_v", F.size("_cm").alias("_nc"), "_cm")
        .cache()
    )
    corners = (
        etri.select(F.col("_u").alias("_n"), F.col("_nc").alias("_c"))
        .unionAll(
            etri.select(F.col("_v").alias("_n"), F.col("_nc").alias("_c"))
        )
        .unionAll(
            etri.select(F.explode("_cm").alias("_n")).withColumn(
                "_c", F.lit(1)
            )
        )
    )
    counts = corners.groupBy("_n").agg(
        F.sum("_c").cast("long").alias("n_triangles")
    )
    return (
        deg.select("_n")
        .join(counts, "_n", "left")
        .select(
            F.col("_n").alias("node"),
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
    )


def related_items(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 10,
    min_cooc: int = 2,
    score: str = "cosine",
) -> DataFrame:
    """Top-k related items by cosine-normalized co-occurrence.

    The "users who bought X also bought" retrieval surface: for each
    item, the k neighbors ranked by n_ab / sqrt(n_a * n_b) — the
    cosine between binary group-incidence vectors. Normalization is
    what separates this from raw co-occurrence (`olap.basket_pairs`):
    a ubiquitous item co-occurs with everything, but its sqrt(n)
    denominator pushes it down every neighbor list.

    min_cooc prunes the pair tail BEFORE the frequency joins;
    the per-item cut is a rank window on (cosine_r DESC, neighbor) —
    rounded-6 score with the id tie-break, the repo's cross-engine
    ranking convention. Per-group pair fan-out is O(b^2) with the
    group as the natural block, exactly like `basket_pairs`.

    ``score`` picks the ranking key: "cosine" (default — the
    normalized retrieval) or "count" (raw co-occurrence popularity;
    same relation, different order — the second system a rank-fusion
    feeds on). Output: (item, neighbor, n_cooc, cosine_r, rank),
    rank <= k.
    """
    g = df.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("_i")
    ).distinct()
    freq = g.groupBy("_i").agg(F.count(F.lit(1)).alias("_n"))
    a = g.select("_g", F.col("_i").alias("_ia"))
    b = g.select("_g", F.col("_i").alias("_ib"))
    # both directions in one pass: count unordered, emit ordered later
    pairs = (
        a.join(b, "_g")
        .filter(F.col("_ia") < F.col("_ib"))
        .groupBy("_ia", "_ib")
        .agg(F.count(F.lit(1)).alias("_nab"))
        .filter(F.col("_nab") >= min_cooc)
    )
    both = pairs.unionAll(
        pairs.select(
            F.col("_ib").alias("_ia"), F.col("_ia").alias("_ib"), "_nab"
        )
    )
    fa = freq.select(F.col("_i").alias("_ia"), F.col("_n").alias("_na"))
    fb = freq.select(F.col("_i").alias("_ib"), F.col("_n").alias("_nb"))
    scored = both.join(fa, "_ia").join(fb, "_ib").select(
        F.col("_ia").alias("item"),
        F.col("_ib").alias("neighbor"),
        F.col("_nab").alias("n_cooc"),
        F.round(
            F.col("_nab") / F.sqrt(F.col("_na") * F.col("_nb")), 6
        ).alias("cosine_r"),
    )
    from pyspark.sql import Window

    if score == "cosine":
        order = (F.col("cosine_r").desc(), F.col("neighbor"))
    elif score == "count":
        order = (F.col("n_cooc").desc(), F.col("neighbor"))
    else:
        raise ValueError("related_items: score must be 'cosine' or 'count'")
    w = Window.partitionBy("item").orderBy(*order)
    return scored.select(
        "item", "neighbor", "n_cooc", "cosine_r",
        F.row_number().over(w).alias("rank"),
    ).filter(F.col("rank") <= k)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str | None = None,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Random walk with restart to a SEED set — proximity to the
    seeds, not global importance.

    The data-selection workhorse: rank a corpus/catalog by closeness
    to a trusted seed set (quality documents, anchor products) and
    take the top of the list. Differs from `pagerank` only in the
    teleport vector: restart mass lands uniformly on the seeds, so
    rank decays with graph distance from them.

    Seeds outside the edge set are ignored (they have no edges to
    walk). Output: (node, ppr_r) over ALL graph nodes — zeros kept
    (an unreachable node scoring 0 is the answer, not a missing row
    ) — scaled by N and rounded to 6 like `pagerank`.
    Per-iteration cost identical to `pagerank`; the seed relation is
    broadcast-sized by assumption.

    Same exact-BIGINT-picounit determinism contract as `pagerank`
    (see its docstring): integer sums are order-free, so the SQL
    oracle replay matches bitwise by construction.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    sd = seeds.select(F.col(seed_col or seeds.columns[0]).alias("_s"))
    return _power_iteration(
        e, sd, iterations, damping, "memory", "personalized_pagerank", "ppr_r"
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str | None = None,
    max_hops: int = 3,
) -> DataFrame:
    """Minimum hop distance from a seed set, capped at ``max_hops``.

    Frontier-expansion BFS: each round joins the CURRENT frontier to
    the edge list and anti-joins the visited set — cost tracks the
    frontier, not the graph, and the loop runs a FIXED number of
    rounds (the determinism contract; nodes farther than ``max_hops``
    are absent, which is the answer). `localCheckpoint` per round
    cuts lineage like every iterative operator here.

    Output: (node, hop), hop 0 = the seeds themselves (only seeds
    that are graph nodes — isolated seeds have no distance to
    anything).
    """
    sc = seed_col or seeds.columns[0]
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    nodes = e.select("_s").distinct()
    visited = (
        seeds.select(F.col(sc).alias("_n"))
        .distinct()
        .join(nodes.select(F.col("_s").alias("_n")), "_n", "leftsemi")
        .select("_n", F.lit(0).alias("hop"))
        .localCheckpoint(eager=False)
    )
    frontier = visited.select("_n")
    for k in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["_n"] == e["_s"])
            .select(F.col("_d").alias("_n"))
            .distinct()
            .join(visited.select("_n"), "_n", "left_anti")
            .select("_n", F.lit(k).alias("hop"))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("_n")
    return visited.select(F.col("_n").alias("node"), "hop")


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    seed_col: str | None = None,
    rounds: int = 4,
) -> DataFrame:
    """Weighted single-source (seed-set) shortest paths — the
    WEIGHTED sibling of `bfs_hops`: Bellman-Ford relaxation for a
    FIXED number of rounds, so the output is the exact minimum total
    weight among paths of ≤ ``rounds`` edges (the determinism
    contract every iterative operator here uses — no convergence
    test to diverge on; nodes farther than ``rounds`` hops are
    absent, which is the answer).

    Frontier-delta relaxation: each round relaxes only the nodes
    whose distance IMPROVED last round (classic delta optimization —
    provably the same ≤k-edge minima as full relaxation, since an
    improvement propagates exactly one edge per round), so per-round
    cost tracks the improving frontier, not the settled graph. One
    join + one map-side-combinable MIN + one improvement anti-check
    per round; `localCheckpoint` cuts lineage. Weights are exact
    BIGINTs — sums and minima are integral, so a SQL oracle unrolling
    the same rounds matches bitwise. Negative weights are legal for
    the ≤k-edge semantics (no convergence claim), but the intended
    use is nonnegative costs.

    Output: (node, dist) — hop-0 rows are the seeds themselves (only
    seeds that are graph source nodes, the `bfs_hops` contract).
    """
    sc = seed_col or seeds.columns[0]
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"),
        F.col(weight).cast("long").alias("_w"),
    )
    nodes = e.select("_s").distinct()
    dist = (
        seeds.select(F.col(sc).alias("_n"))
        .distinct()
        .join(nodes.select(F.col("_s").alias("_n")), "_n", "leftsemi")
        .select("_n", F.lit(0).cast("long").alias("_dist"))
        .localCheckpoint(eager=False)
    )
    frontier = dist
    for _ in range(rounds):
        relax = (
            frontier.join(e, frontier["_n"] == e["_s"])
            .select(
                F.col("_d").alias("_n"),
                (F.col("_dist") + F.col("_w")).alias("_dist"),
            )
            .groupBy("_n")
            .agg(F.min("_dist").alias("_dist"))
        )
        improved = (
            relax.join(
                dist.select("_n", F.col("_dist").alias("_old")), "_n", "left"
            )
            .filter(F.col("_old").isNull() | (F.col("_dist") < F.col("_old")))
            .select("_n", "_dist")
            .localCheckpoint(eager=False)
        )
        dist = (
            dist.unionAll(improved)
            .groupBy("_n")
            .agg(F.min("_dist").alias("_dist"))
            .localCheckpoint(eager=False)
        )
        frontier = improved
    return dist.select(F.col("_n").alias("node"), F.col("_dist").alias("dist"))


def negative_edge_samples(
    edges: DataFrame,
    max_node_df: DataFrame,
    k: int = 3,
    oversample: int = 3,
    salt: str = ":neg",
) -> DataFrame:
    """Deterministic negative sampling for link-prediction training:
    per source node, ``k`` nodes that are NOT neighbors, drawn by
    content hash so the sample is reproducible and layout-independent
    (the same discipline as every hash-assignment in this repo).

    ``edges`` is the positive relation (src, dst) — both orientations
    are excluded; ``max_node_df`` is a 1-row (max_id) relation
    (broadcast) defining the dense node universe to draw from.
    k·oversample candidates are generated per source (md5(src:i) %
    max_id + 1), self-loops and true edges drop via one left-anti
    join, and the first k survivors in draw order are kept. A source
    with fewer than k survivors keeps what it has (auditable by
    counting) rather than silently resampling.

    Output: (src, neg_dst, draw, rank) with rank ≤ k.

    Scale: candidates are |src|·k·oversample rows (ids only); the
    anti-join shuffles on the edge key like any membership test.
    """
    from pyspark.sql import Window

    from unitdb_spark.functions.portable_hash import md5_int60

    srcs = edges.select(F.col("src")).distinct()
    draws = F.explode(
        F.array(*[F.lit(i) for i in range(1, k * oversample + 1)])
    ).alias("draw")
    cand = (
        srcs.join(F.broadcast(max_node_df))
        .select("src", F.col("max_id"), draws)
        .select(
            "src", "draw",
            (
                md5_int60(
                    F.concat(
                        F.col("src").cast("string"), F.lit(salt),
                        F.col("draw").cast("string"),
                    )
                ) % F.col("max_id") + 1
            ).cast("long").alias("neg_dst"),
        )
        .filter(F.col("neg_dst") != F.col("src"))
    )
    both = edges.select("src", F.col("dst").alias("neg_dst")).unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("neg_dst")
        )
    )
    survivors = cand.join(both, ["src", "neg_dst"], "left_anti")
    # hash collisions can draw the same negative twice for one src —
    # keep the earliest draw of each (src, neg_dst)
    wd = Window.partitionBy("src", "neg_dst").orderBy("draw")
    deduped = (
        survivors.withColumn("_dd", F.row_number().over(wd))
        .filter(F.col("_dd") == 1)
        .drop("_dd")
    )
    w = Window.partitionBy("src").orderBy("draw")
    return (
        deduped.select(
            "src", "neg_dst", "draw",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def modularity(
    edges: DataFrame,
    assign: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    node_col: str = "node",
    comm_col: str = "comm",
) -> DataFrame:
    """Newman modularity of a community partition over an undirected
    edge set — the quality score for any clustering the dedup path
    produces (a Q near 0 says the "clusters" are no better than random
    wiring; a giant component drags Q down through its degree term).

    ``edges`` holds each undirected edge ONCE (id_a < id_b);
    ``assign`` maps nodes to communities. Per community c with e_c
    internal edges and total member degree d_c,

        contrib = (4·m·e_c − d_c²) / (4·m²)

    — every operand an exact integer, the division ONE pinned double
    floored into micro-units, and Q the exact BIGINT sum of those
    integers (same discipline as the chi-squared statistic). Only
    communities with edge-touching members appear (edge-less
    singletons contribute exactly 0).

    Output: (comm, n_nodes, e_in, d_sum, contrib_micro, q_micro) with
    q_micro repeated per row (window over the community relation).

    Scale: degrees and labels shuffle on node/edge keys once each;
    everything after runs on the community relation.
    """
    from pyspark.sql import Window

    und = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).distinct()
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    m = und.agg(F.count(F.lit(1)).alias("m"))
    comm = assign.select(
        F.col(node_col).alias("n"), F.col(comm_col).alias("comm")
    )
    ec = (
        und.join(comm.select(F.col("n").alias("a"),
                             F.col("comm").alias("_ca")), "a")
        .join(comm.select(F.col("n").alias("b"),
                          F.col("comm").alias("_cb")), "b")
        .filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("comm"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    dc = (
        deg.join(comm, "n")
        .groupBy("comm")
        .agg(
            F.sum("deg").alias("d_sum"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
    )
    j = dc.join(ec, "comm", "left").select(
        "comm", "n_nodes",
        F.coalesce("e_in", F.lit(0)).alias("e_in"), "d_sum",
    ).join(F.broadcast(m))
    mD = F.col("m").cast("double")
    contrib = F.floor(
        (
            F.lit(4.0) * mD * F.col("e_in").cast("double")
            - F.col("d_sum").cast("double") * F.col("d_sum").cast("double")
        )
        * F.lit(1_000_000.0)
        / (F.lit(4.0) * mD * mD)
    ).cast("long")
    scored = j.select(
        "comm",
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("e_in").cast("long").alias("e_in"),
        F.col("d_sum").cast("long").alias("d_sum"),
        contrib.alias("contrib_micro"),
    )
    wall = Window.partitionBy()
    return scored.select(
        "*",
        F.sum("contrib_micro").over(wall).cast("long").alias("q_micro"),
    )


def weighted_cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_count: int | str = 2,
    target_avg_degree: int = 3,
) -> DataFrame:
    """Symmetric weighted edges between items sharing a group: weight =
    number of distinct groups containing both, kept when >= min_count.

    The threshold is the sparsifier that makes community structure
    (and 100 TB cost) tractable: singleton co-occurrences on a dense
    co-purchase graph are noise edges that glue everything into one
    blob AND dominate the pair count. Same blocking contract as
    `cooccurrence_edges` — per-group cost |group|^2.

    ``min_count="auto"`` derives the threshold from the weight
    distribution instead of a literal: the LARGEST w whose surviving
    undirected edge count keeps average degree >= target_avg_degree
    (2·E(>=w) >= target·|items|), else 1. A fixed literal goes
    degenerate as the catalog grows — on a uniform-choice corpus the
    pair-repeat probability falls with item count, so the w>=2 graph
    empties while the w>=1 graph stays meaningful; the density rule
    adapts in either direction and is exact-integer, so a SQL oracle
    derives the identical threshold. The auto path reads the pair
    relation TWICE (weight histogram, then the thresholded output);
    both reads hit the persisted relation ``cooccurrence_pairs``
    returns, so the |group|² build runs once (measured: the flagship
    parts_components chain re-built it 3× without a cache, 32s → 13s
    at sf0.1 with it). The histogram is a bounded control-plane read
    (|distinct weights| rows plus an item count), recomputed on each
    call.

    The pair build is shared by every later call over an equal source
    (see ``cooccurrence_pairs``) — the per-session analogue of
    materializing the edge list as a bucketed table.
    """
    pairs_all = cooccurrence_pairs(df, group_col, item_col)
    if min_count == "auto":
        hist = [
            (int(r["w"]), int(r["c"]))
            for r in pairs_all.groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ]
        n_items = df.select(F.col(item_col).alias("_i")).distinct().count()
        min_count = 1
        cum = 0
        for w, c in sorted(hist, reverse=True):
            cum += c
            if 2 * cum >= target_avg_degree * n_items:
                min_count = w
                break
    pairs = pairs_all.filter(F.col("w") >= F.lit(int(min_count)))
    return pairs.unionAll(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "w",
    rounds: int = 3,
) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan '07), made
    fully deterministic: every node starts as its own label; each
    round it adopts the label with the highest total incident edge
    weight, ties broken by SMALLEST label; all nodes update
    simultaneously for a FIXED number of rounds (no convergence test
    to diverge on — same contract as `pagerank`). Communities beyond
    connected components: a bridge edge doesn't merge two dense
    groups the way `connected_components` would, because the vote is
    weighted by edge mass, not reachability.

    ``edges`` must be symmetric (both directions present — the
    `cooccurrence_edges` / `weighted_cooccurrence_edges` shape);
    ``weight=None`` votes 1 per edge. All arithmetic is integer
    (weight sums + min tie-break), so any SQL oracle that unrolls the
    same rounds agrees bitwise.

    Per round: one shuffle joining labels to edges on ``src``, one
    partial-agg shuffle on (dst, label), one window over the per-node
    candidate labels (partitioned by node — no global ordering).
    The edge and node relations are loop-invariant and persisted;
    lineage is cut per round like the pagerank loop, by a
    localCheckpoint that runs the round's shuffles at the call.

    Output: (node, lbl) — final community label per connected node.
    """
    from pyspark.sql import Window

    w_col = (
        F.col(weight).cast("long") if weight is not None else F.lit(1).cast("long")
    )
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"), w_col.alias("_w")
    )
    nodes = e.select(F.col("_s").alias("_n")).distinct()
    e = e.persist()
    nodes = nodes.persist()
    labels = nodes.select("_n", F.col("_n").alias("_lbl"))
    rank_w = Window.partitionBy("_d").orderBy(
        F.desc("_wsum"), F.asc("_lbl")
    )
    for _ in range(rounds):
        votes = (
            e.join(labels.withColumnRenamed("_n", "_s"), "_s")
            .groupBy("_d", "_lbl")
            .agg(F.sum("_w").alias("_wsum"))
        )
        winner = (
            votes.withColumn("_rn", F.row_number().over(rank_w))
            .filter(F.col("_rn") == 1)
            .select(F.col("_d").alias("_n"), "_lbl")
        )
        # symmetric edges => every node receives votes; the left join +
        # coalesce keeps the contract explicit if a caller passes a
        # directed edge list with source-only nodes
        labels = (
            nodes.join(winner, "_n", "left")
            .select(
                "_n", F.coalesce("_lbl", F.col("_n")).alias("_lbl")
            )
            .localCheckpoint(eager=False)
        )
    return labels.select(F.col("_n").alias("node"), F.col("_lbl").alias("lbl"))


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peeling (Seidman '83): repeatedly delete
    nodes whose degree in the SURVIVING subgraph is < k. The fixed
    round count keeps the repo's determinism contract (no
    convergence test — same as `pagerank`/`label_propagation`); with
    enough rounds the result IS the exact k-core, with fewer it is a
    superset (each round only deletes, never restores). Communities
    answer "who groups with whom"; the k-core answers "which nodes
    sit in a dense region at all" — the standard first cut for
    separating catalog anchors from long-tail leaves.

    ``edges`` must be symmetric (the `cooccurrence_edges` shape).
    Per round: two semi-join shuffles (edge endpoints against the
    surviving set) + one partial-agg shuffle for degrees — all keyed
    joins, no broadcast needed when the node relation is large. The
    edge relation is loop-invariant and persisted; survivor lineage
    is cut per round by a localCheckpoint that runs its shuffles at once.

    Output: (node, deg) — survivors after ``rounds`` peels, with
    their degree inside the FINAL surviving subgraph (recomputed
    after the last peel; all-integer, so an unrolled-CTE oracle
    matches bitwise).
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).persist()
    alive = e.select(F.col("_s").alias("_n")).distinct()
    for _ in range(rounds):
        sub = e.join(
            alive.withColumnRenamed("_n", "_s"), "_s", "leftsemi"
        ).join(alive.withColumnRenamed("_n", "_d"), "_d", "leftsemi")
        alive = (
            sub.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select(F.col("_s").alias("_n"))
            .localCheckpoint(eager=False)
        )
    deg = (
        e.join(alive.withColumnRenamed("_n", "_s"), "_s", "leftsemi")
        .join(alive.withColumnRenamed("_n", "_d"), "_d", "leftsemi")
        .groupBy("_s")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .select(F.col("_s").alias("node"), "deg")
    )
    # survivors, not edge endpoints: a node the LAST peel isolated is
    # still a survivor (deg 0) under truncated rounds — deriving the
    # output rows from the edge relation would silently drop it (at
    # the fixpoint every survivor has deg >= k, so this only matters
    # when rounds stop early; found by the hypothesis peel model)
    return alive.select(F.col("_n").alias("node")).join(
        deg, "node", "left"
    ).select("node", F.coalesce("deg", F.lit(0)).cast("long").alias("deg"))


#: fixed-point scale for HITS: mean score per side ~1e9. Smaller than
#: PR_SCALE on purpose — the L1 re-normalization keeps TOTAL mass near
#: scale x n_side, and total x max_degree products must clear int64;
#: 1e9 leaves ~9.2e9 nodes of headroom (document: shrink `scale` when
#: a side outgrows that).
HITS_SCALE = 1_000_000_000


def hits_bipartite(
    edges: DataFrame,
    hub_col: str,
    auth_col: str,
    iterations: int = 2,
    scale: int = HITS_SCALE,
) -> DataFrame:
    """HITS (Kleinberg '99) over a bipartite edge list — hubs on the
    left (e.g. customers), authorities on the right (e.g. parts):
    auth(v) = sum of hub scores pointing at v, hub(u) = sum of auth
    scores u points at, re-normalized each update so total mass per
    side stays ~scale x n_side.

    Exactness contract: all arithmetic is BIGINT. The normalization
    avoids the decimal-division precision trap entirely — instead of
    floor(raw * K / total) it divides by the integer quotient
    q = max(1, total div (scale x n_side)), so every value is one
    integer `div` from its raw sum and any SQL engine replays the
    unrolled iterations bitwise (positive values: floor == trunc).
    Resolution: mean score stays within [scale/2, 2-scale] of scale —
    q is exact only up to 1 part in total/(scale x n), invisible at
    ranking granularity and identically computed by both engines.

    Per update: one keyed join shuffle + one partial agg; the total
    and the side counts are 1-row/driver-scalar control-plane reads
    (pagerank's sanctioned pattern). The edge relation is
    loop-invariant and persisted.

    Output: (side, node, score) with side in ('hub', 'auth') — raw
    BIGINT fixed-point scores, no float anywhere.
    """
    if iterations < 1:
        raise ValueError("hits_bipartite: iterations must be >= 1")
    e = (
        edges.select(F.col(hub_col).alias("_c"), F.col(auth_col).alias("_p"))
        .distinct()
        .persist()
    )
    hubs0 = e.select("_c").distinct()
    n_auth = e.select("_p").distinct().count()
    n_hub = hubs0.count()
    if n_hub == 0:
        raise ValueError("hits_bipartite: empty edge list")

    def _norm(raw: DataFrame, key: str, n_side: int) -> DataFrame:
        tot = raw.agg(F.sum("_r").cast("long").alias("_t"))
        return raw.crossJoin(F.broadcast(tot)).select(
            key,
            F.expr(
                f"_r div greatest(1L, _t div {int(scale) * int(n_side)}L)"
            )
            .cast("long")
            .alias("_s"),
        )

    hub = hubs0.withColumn("_s", F.lit(int(scale)).cast("long"))
    auth = None
    for _ in range(iterations):
        araw = (
            e.join(hub, "_c")
            .groupBy("_p")
            .agg(F.sum("_s").cast("long").alias("_r"))
        )
        auth = _norm(araw, "_p", n_auth).localCheckpoint(eager=False)
        hraw = (
            e.join(auth, "_p")
            .groupBy("_c")
            .agg(F.sum("_s").cast("long").alias("_r"))
        )
        hub = _norm(hraw, "_c", n_hub).localCheckpoint(eager=False)
    return auth.select(
        F.lit("auth").alias("side"),
        F.col("_p").cast("long").alias("node"),
        F.col("_s").alias("score"),
    ).unionAll(
        hub.select(
            F.lit("hub").alias("side"),
            F.col("_c").cast("long").alias("node"),
            F.col("_s").alias("score"),
        )
    )


def mutual_top_neighbors(
    edges: DataFrame,
    max_degree: int,
    src: str = "src",
    dst: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Mutual top-D sparsifier for a SYMMETRIC weighted edge list —
    the standard mutual-kNN graph construction: each node ranks its
    neighbors (weight DESC, neighbor ASC — a total order), and an
    edge survives only if BOTH endpoints rank each other inside the
    top ``max_degree``.

    This is the degree bound the quadratic graph operators need on a
    DENSE input: after the cap every degree is <= max_degree, so a
    2-hop self-join costs <= |nodes|·D² wedges — linear in nodes —
    where the uncapped dense graph's wedge relation approaches
    all-pairs (the intermediate, not just the output, is what blows
    up at scale). Keeping only MUTUAL edges (not the union) is what
    bounds it: re-symmetrizing a one-sided cap hands every hub its
    full degree back. Deterministic and SQL-replayable (one
    row_number window + a keyed self-join). Output stays symmetric.
    """
    w_rank = Window.partitionBy(src).orderBy(
        F.col(weight_col).desc(), F.col(dst).asc()
    )
    kept = (
        edges.withColumn("_rk", F.row_number().over(w_rank))
        .filter(F.col("_rk") <= F.lit(int(max_degree)))
        .select(src, dst, weight_col)
    )
    rev = kept.select(
        F.col(dst).alias(src), F.col(src).alias(dst)
    )
    return kept.join(rev, [src, dst], "left_semi")


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    per_src_top: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction (Liben-Nowell '03) over a
    symmetric edge list: for every NON-edge pair (a, b) at distance
    2, the number of shared neighbors and the floor-ppm Jaccard of
    their neighborhoods — the classic "you may also like" candidate
    generator.

    Candidates come only from the 2-hop self-join (never all pairs):
    cost = sum over nodes of degree², so the thresholded input graph
    (`weighted_cooccurrence_edges` min_count) is the blocking
    structure, same contract as the dedup family. Existing edges are
    removed with a keyed anti-join; ``min_common`` prunes the long
    tail before the degree join. All-integer (counts, cross-
    multiplied Jaccard in ppm), so a SQL oracle replays it bitwise.

    ``per_src_top`` caps the output per src (n_common DESC,
    jaccard_ppm DESC, dst ASC — a total order, so deterministic):
    a recommender only ever serves the top few candidates, and on a
    dense input graph the uncapped distance-2 relation approaches
    all-pairs-sized output (every pair with >= min_common shared
    neighbors). The cap bounds OUTPUT at top·|nodes| at any scale;
    the intermediate wedge cost remains the documented sum-degree²
    contract of the input graph.

    Output: (src, dst, n_common, jaccard_ppm) with src < dst.
    """
    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    deg = e.groupBy("_a").agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    l_ = e.select(F.col("_a").alias("_s"), F.col("_b").alias("_x"))
    r_ = e.select(F.col("_a").alias("_x"), F.col("_b").alias("_d"))
    cand = (
        l_.join(r_, "_x")
        .filter(F.col("_s") < F.col("_d"))
        .groupBy("_s", "_d")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .filter(F.col("n_common") >= F.lit(int(min_common)))
    )
    non_edge = cand.join(
        e.select(F.col("_a").alias("_s"), F.col("_b").alias("_d")),
        ["_s", "_d"],
        "left_anti",
    )
    out = (
        non_edge.join(deg.withColumnRenamed("_a", "_s").withColumnRenamed("_deg", "_ds"), "_s")
        .join(deg.withColumnRenamed("_a", "_d").withColumnRenamed("_deg", "_dd"), "_d")
        .select(
            F.col("_s").alias("src"),
            F.col("_d").alias("dst"),
            "n_common",
            # exact integer division (`div`), not floor over a double
            # '/': the double route is only exact while the numerator
            # stays inside 2^53 — the repo's cross-multiplied-integer
            # contract holds by construction this way
            F.expr(
                "(n_common * 1000000L) div (_ds + _dd - n_common)"
            )
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )
    if per_src_top is not None:
        w_top = Window.partitionBy("src").orderBy(
            F.col("n_common").desc(),
            F.col("jaccard_ppm").desc(),
            F.col("dst").asc(),
        )
        out = (
            out.withColumn("_rk", F.row_number().over(w_top))
            .filter(F.col("_rk") <= F.lit(int(per_src_top)))
            .drop("_rk")
        )
    return out


def link_prediction_ra(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Resource-allocation link prediction (Zhou, Lü & Zhang '09) —
    the degree-penalized upgrade of `link_prediction`'s raw
    common-neighbor count: each shared neighbor z contributes 1/deg(z),
    so a hub shared with everything is worth almost nothing while a
    rare mutual neighbor is strong evidence. Published benchmarks rank
    RA above both common-neighbors and Adamic-Adar on co-occurrence
    graphs, and unlike Adamic-Adar's 1/log deg it needs NO
    transcendental — each contribution is the exact integer
    floor(scale / deg(z)), summed in BIGINT, so a SQL oracle replays
    it bitwise.

    Input contract: a SYMMETRIC edge list (both directions present,
    `weighted_cooccurrence_edges` shape). Candidates come only from
    the 2-hop self-join (cost = Σ_z deg(z)² on the THRESHOLDED graph,
    never all pairs); existing edges are removed with a keyed
    anti-join; ``min_common`` prunes the tail before scoring.

    Output: (src, dst, n_common, ra_nano) with src < dst and
    ra_nano = Σ_z floor(scale / deg(z)) (scale defaults to 1e9 —
    "nano" units; Σ over ≤ deg² neighbors stays far inside BIGINT).
    """
    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    deg = e.groupBy("_a").agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    l_ = e.select(F.col("_a").alias("_s"), F.col("_b").alias("_x"))
    r_ = e.select(F.col("_a").alias("_x"), F.col("_b").alias("_d"))
    wedges = (
        l_.join(r_, "_x")
        .filter(F.col("_s") < F.col("_d"))
        .join(deg.withColumnRenamed("_a", "_x"), "_x")
    )
    cand = (
        wedges.groupBy("_s", "_d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.floor(F.lit(int(scale)) / F.col("_deg")))
            .cast("long").alias("ra_nano"),
        )
        .filter(F.col("n_common") >= F.lit(int(min_common)))
    )
    non_edge = cand.join(
        e.select(F.col("_a").alias("_s"), F.col("_b").alias("_d")),
        ["_s", "_d"],
        "left_anti",
    )
    return non_edge.select(
        F.col("_s").alias("src"),
        F.col("_d").alias("dst"),
        "n_common",
        "ra_nano",
    )


def pagerank_weighted(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank: mass flows along edges in proportion to
    edge weight — contribution u→v = (pr_u · w_uv) div Σw_u — so a
    part co-purchased with something 40 times pulls 40× the rank a
    one-off pairing does. Same exact-BIGINT-picounits determinism
    contract, iteration shape, damping rational, and lineage
    discipline as `pagerank`, which this generalizes: with every
    weight 1, (pr_u · 1) div Σ1 is pr_u div out_degree, so the two
    agree bit for bit (a duplicated edge counts once per copy in
    both).

    Overflow envelope: pr_u ≤ SCALE (1e12 picounits of total mass)
    and pr_u · w must clear int64 — fine for any count-valued weight
    below ~9e6; rescale heavier weights upstream.

    Output: (node, pr_r) — N-scaled round-6, as `pagerank`.
    """
    e = edges.select(
        F.col(src).alias("_s"),
        F.col(dst).alias("_d"),
        F.col(weight).cast("long").alias("_w"),
    )
    return _power_iteration(
        e, None, iterations, damping, "memory", "pagerank_weighted", "pr_r"
    )


def ktruss_edges(
    edges: DataFrame,
    k: int = 4,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-truss peel: keep edges supported by at least k−2
    triangles, recomputing support after each peel — the standard
    cohesive-subgraph extractor one notch stronger than k-core (a
    k-core keeps well-connected NODES; a k-truss keeps edges whose
    endpoints share neighbors, so bridges and hub spokes fall away
    and what survives is genuinely dense community fabric).

    ``edges`` must be the symmetric co-occurrence shape. Determinism
    contract (same as ``kcore``): a FIXED number of peel rounds, no
    convergence test — the SQL oracle unrolls the identical rounds.
    A full truss decomposition iterates to a fixpoint; ``rounds=2``
    already removes the bulk of under-supported edges on bounded-
    diameter co-purchase graphs, and the loud fixed bound keeps the
    cost model honest.

    Per round: one wedge join on the node key (support(a,b) = count
    of common neighbors n with adj(a,n) and adj(b,n)) + one partial-
    agg shuffle. Per-round cost is Σ deg² over the CURRENT graph —
    the threshold upstream (weighted_cooccurrence_edges min_count)
    is the blocking structure, exactly the candidate contract of the
    link-prediction family. All arithmetic is integer counts.

    Returns the surviving UNDIRECTED edges (src < dst) after
    ``rounds`` peels with their final-round support.
    """
    und = (
        edges.filter(F.col(src) < F.col(dst))
        .select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .distinct()
    )
    need = int(k) - 2
    for r in range(int(rounds)):
        adj = und.unionAll(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        sup = (
            und.alias("e")
            .join(
                adj.select(F.col("a").alias("xa"), F.col("b").alias("xn")),
                F.col("e.a") == F.col("xa"),
            )
            .join(
                adj.select(F.col("a").alias("ya"), F.col("b").alias("yn")),
                (F.col("e.b") == F.col("ya")) & (F.col("xn") == F.col("yn")),
            )
            .groupBy("e.a", "e.b")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
        )
        und = (
            und.join(sup, ["a", "b"], "left")
            .select("a", "b", F.coalesce("support", F.lit(0)).alias("support"))
            .filter(F.col("support") >= need)
        )
        if r < int(rounds) - 1:
            # eager localCheckpoint, not persist (r11): the round's
            # survivor set is consumed 3× next round (adj twice + the
            # e side), so materializing here costs nothing extra, it
            # truncates the growing wedge-join lineage, and — unlike
            # CacheManager-tracked persist() blocks, which outlive the
            # call — the checkpoint RDD is reclaimed by the
            # ContextCleaner once the previous round's relation is
            # unreferenced, so repeated ktruss calls don't accumulate
            # cached intermediates for the session lifetime.
            und = und.select("a", "b").localCheckpoint(eager=True)
    return und.select(
        F.col("a").alias(src), F.col("b").alias(dst), "support"
    )
