"""Record linkage / entity resolution: blocked fuzzy matching.

A curation pipeline constantly reconciles records that SHOULD be the
same entity but differ by typos, case, or formatting — user tables
from two exports, scraped author names, near-identical metadata rows.
The classical recipe (Fellegi-Sunter blocking + edit-distance
comparison, deterministic decision rule) maps cleanly onto Spark:

- BLOCK on cheap exact keys (the join key — bounds the candidate
  space and is the only shuffle);
- COMPARE candidates with `levenshtein` (JVM builtin, codegen'd —
  no Python in the loop);
- DECIDE with a per-left-record window: best (distance, id) wins.

The reference engine has no linkage surface; this is north-star
LLM-pipeline machinery (dataset joining/cleaning before training),
kept integer-exact (floor-ppm scores) so any SQL engine replays it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from unitdb_spark.operators.skew import fan_out


def link_records(
    left: DataFrame,
    right: DataFrame,
    block_cols: Sequence[str],
    left_id: str,
    right_id: str,
    left_text: str,
    right_text: str,
    max_distance: int = 2,
    chunk_key: bool = False,
) -> DataFrame:
    """Best fuzzy match per left record among same-block right records.

    Returns one row per LEFT record: (left_id, matched_id, distance,
    score_ppm, n_candidates). Unmatched records (no same-block right
    row within ``max_distance`` edits) keep their row with NULL match
    columns — silent drops hide linkage failures.

    score_ppm = floor((1 - distance/max(len_l, len_r)) * 1e6) — the
    normalized edit similarity in the repo's integer-ppm convention.

    Scale: the candidate join shuffles on the block key only; cost is
    sum of |block_l|x|block_r| per block, so block choice is the
    knob that bounds work (same contract as the dedup family's
    blocking columns — pick keys that cap block size). When the
    available block keys have FIXED cardinality (nation x segment =
    125 blocks forever), block size grows with the data and the cost
    is O(n²/k) — the sf1 audit measured exactly that (customer_er
    6.4s at sf0.1 → 745s at sf1). ``chunk_key=True`` is the scale
    path for that case: PassJoin-style pigeonhole chunking (Li,
    Deng, Feng '11) ADDS a content-derived join key inside each
    block — the right string splits into max_distance+1 even chunks,
    and any pair within ``max_distance`` edits must share one chunk
    (as a left substring shifted by at most max_distance), so the
    post-verify candidate set is IDENTICAL to the plain block join
    (lossless — the oracle doesn't change) while the join key
    cardinality now scales with the data instead of the block count.
    """
    if not block_cols:
        raise ValueError("link_records requires at least one blocking column")
    blocks = list(block_cols)
    l = left.select(
        F.col(left_id).alias("_lid"), F.col(left_text).alias("_ltxt"), *blocks
    )
    r = right.select(
        F.col(right_id).alias("_rid"), F.col(right_text).alias("_rtxt"), *blocks
    )
    # BOUNDED levenshtein (r10): the threshold arg switches Spark to
    # the banded O(d·n) DP that bails out above max_distance and
    # returns -1 — identical distances for every surviving pair, ~6x
    # less DP work per candidate at d=2 on ~20-char names. The length
    # pre-filter (|len_l − len_r| > d ⟹ dist > d) skips the DP
    # entirely for length-mismatched candidates; the PassJoin path
    # already enumerates only lengths within ±d, so it mainly serves
    # the plain block join. Both are lossless — the oracle replays
    # the unbounded distance and hashes equal.
    dist = F.levenshtein("_ltxt", "_rtxt", int(max_distance))
    if chunk_key:
        pairs = _passjoin_pairs(l, r, blocks, max_distance)
    else:
        pairs = l.join(r, blocks).select("_lid", "_ltxt", "_rid", "_rtxt")
    cand = (
        pairs.filter(
            F.abs(F.length("_ltxt") - F.length("_rtxt"))
            <= F.lit(int(max_distance))
        )
        .select(
            "_lid",
            "_rid",
            dist.alias("_d"),
            F.greatest(F.length("_ltxt"), F.length("_rtxt")).alias("_mx"),
        )
        .filter((F.col("_d") >= 0) & (F.col("_d") <= max_distance))
    )
    w = Window.partitionBy("_lid").orderBy("_d", "_rid")
    best = (
        cand.select(
            "_lid",
            "_rid",
            "_d",
            "_mx",
            F.row_number().over(w).alias("_rk"),
            F.count(F.lit(1)).over(Window.partitionBy("_lid")).alias("_nc"),
        )
        .filter(F.col("_rk") == 1)
        .select(
            "_lid",
            F.col("_rid").alias("matched_id"),
            F.col("_d").alias("distance"),
            F.floor(
                (F.lit(1.0) - F.col("_d") / F.col("_mx")) * F.lit(1_000_000)
            )
            .cast("long")
            .alias("score_ppm"),
            F.col("_nc").alias("n_candidates"),
        )
    )
    return (
        left.select(F.col(left_id).alias("_lid"))
        .distinct()
        .join(best, "_lid", "left")
        .select(
            F.col("_lid").alias(left_id),
            "matched_id",
            "distance",
            "score_ppm",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        )
    )


def _passjoin_pairs(
    l: DataFrame, r: DataFrame, blocks: list[str], d: int
) -> DataFrame:
    """Candidate (left, right) pairs sharing a pigeonhole chunk inside
    a block — the PassJoin signature scheme (Li, Deng, Feng, ICDE '11).

    Each right string of length >= d+1 splits into d+1 contiguous
    even chunks (first ``len % (d+1)`` chunks one char longer). If
    edit(s, r) <= d, at least one chunk of r occurs VERBATIM in s at
    a start position shifted by at most d (pigeonhole: d edits can't
    touch all d+1 chunks, and untouched text shifts by at most the
    number of preceding insertions/deletions). The left side
    enumerates, for every plausible right length l in
    [len(s)-d, len(s)+d] and slot i, the substrings of s with that
    slot's chunk length at starts within ±d of the slot origin —
    a constant (<= (2d+1)²·(d+1)) key fan-out per row, deduplicated
    before the join. Right strings SHORTER than d+1 chars (no valid
    chunking) fall back to the plain block join — a bounded-size
    residue (every such string is < d+1 chars long).

    The join key is (blocks…, right_len, slot, chunk_text): content-
    derived, so its cardinality grows with the corpus — per-key
    groups stay small no matter how big the fixed block alphabet's
    groups grow. Output pairs are distinct; verification (the
    levenshtein filter) happens in the caller, so completeness of
    this stage is exactly what makes chunk_key=True result-identical
    to the quadratic block join.

    r13 shuffle-shape rewrite (guide §2.4, §7.2): duplicate left
    chunk keys can only arise WITHIN one source row's <=(2d+1)²(d+1)
    fan-out (the key includes the row id), so the former global
    ``dropDuplicates`` — which compiled to Sort+SortAggregate+
    Exchange+Sort+SortAggregate because its ``first(string)`` buffers
    are hash-agg-incompatible — is done per row with
    ``array_distinct`` BEFORE the explode: zero shuffles, zero sorts.
    The final pair dedup keeps the texts in the grouping key (they
    are functions of the ids — the operator's one-row-per-record
    contract), turning first()-carrying SortAggregates into plain
    HashAggregates. Both are result-identical for id-keyed inputs.
    """
    np1 = d + 1
    slots = F.sequence(F.lit(0), F.lit(d))

    def geom(length, i):
        base = F.floor(length / np1).cast("int")
        rem = (length % np1).cast("int")
        clen = base + F.when(i < rem, 1).otherwise(0)
        start1 = i * base + F.least(i, rem) + F.lit(1)  # 1-based
        return start1, clen

    rl = F.length("_rtxt")

    def rslot(i):
        s1, cl = geom(rl, i)
        return F.struct(
            rl.cast("int").alias("_l"),
            i.cast("int").alias("_slot"),
            F.col("_rtxt").substr(s1, cl).alias("_ck"),
        )

    rch = (
        r.filter(rl >= np1)
        # explode_outer: slots = sequence(0, d) is never empty, so outer is
        # identical — and it blocks the inferred Generate filter that
        # would inline the whole chunk-struct transform twice below the
        # scan (r12, same finding as the MinHash sig build).
        .select("*", F.explode_outer(F.transform(slots, rslot)).alias("_c"))
        .select(
            "_rid", "_rtxt", *blocks,
            F.col("_c._l").alias("_l"),
            F.col("_c._slot").alias("_slot"),
            F.col("_c._ck").alias("_ck"),
        )
    )

    ll = F.length("_ltxt")

    def lkeys(lv):
        def islot(i):
            s1, cl = geom(lv, i)
            return F.transform(
                F.sequence(F.lit(-d), F.lit(d)),
                lambda sh: F.struct(
                    lv.cast("int").alias("_l"),
                    i.cast("int").alias("_slot"),
                    (s1 + sh).cast("int").alias("_q"),
                    cl.cast("int").alias("_cl"),
                ),
            )

        return F.flatten(F.transform(slots, islot))

    keys = F.flatten(F.transform(F.sequence(ll - d, ll + d), lkeys))
    # validity filter and substr at ARRAY level, then per-row distinct:
    # the explode then emits already-unique (row, _l, _slot, _ck) keys,
    # so no post-explode dedup (and no shuffle) is needed. explode_outer
    # keeps the no-valid-chunk rows as NULL keys, which the inner chunk
    # join drops — identical pair set, and no Generate-filter inline.
    valid = F.filter(
        keys,
        lambda k: (k["_l"] >= np1)
        & (k["_q"] >= 1)
        & (k["_cl"] >= 1)
        & (k["_q"] + k["_cl"] - 1 <= ll),
    )
    cks = F.array_distinct(
        F.transform(
            valid,
            lambda k: F.struct(
                k["_l"].alias("_l"),
                k["_slot"].alias("_slot"),
                F.col("_ltxt").substr(k["_q"], k["_cl"]).alias("_ck"),
            ),
        )
    )
    # fan-out guard (dedup.py pattern, guide §2.5): the <=(2d+1)²(d+1)
    # interpreted key tower sits directly on the scan; a one-row-group
    # input would evaluate it in ONE task (r13: 11.6s serial at sf0.1).
    lch = fan_out(l).select("*", F.explode_outer(cks).alias("_kk")).select(
        "_lid", "_ltxt", *blocks,
        F.col("_kk._l").alias("_l"),
        F.col("_kk._slot").alias("_slot"),
        F.col("_kk._ck").alias("_ck"),
    )

    chunk_pairs = lch.join(rch, blocks + ["_l", "_slot", "_ck"]).select(
        "_lid", "_ltxt", "_rid", "_rtxt"
    )
    short_pairs = (
        l.join(r.filter(rl < np1), blocks)
        .filter(F.abs(F.length("_ltxt") - F.length("_rtxt")) <= d)
        .select("_lid", "_ltxt", "_rid", "_rtxt")
    )
    return chunk_pairs.unionByName(short_pairs).dropDuplicates(
        ["_lid", "_ltxt", "_rid", "_rtxt"]
    )


def fellegi_sunter_link(
    left: DataFrame,
    right: DataFrame,
    block_cols: Sequence[str],
    left_id: str,
    right_id: str,
    fields: Sequence[tuple],
    m_permille: int = 900,
) -> DataFrame:
    """Probabilistic record linkage with Fellegi-Sunter field weights
    (Fellegi & Sunter '69; frequency-based u like Newcombe '59) — the
    principled upgrade of `link_records`' single-string edit
    distance: each comparison field contributes evidence
    log₂(m/u) when it agrees and log₂((1−m)/(1−u)) when it
    disagrees, where u (chance agreement between NON-matches) is
    estimated exactly from the value-frequency tables:

        u_f = Σ_v cnt_l(v)·cnt_r(v) / (n_l·n_r)

    A field that agrees by chance half the time (u≈0.5) earns ~1 bit;
    a near-unique key (u≈1/n) earns ~log₂ n bits — rare-value
    agreement is strong evidence, which the edit-distance score
    cannot express. ``m`` (agreement probability among true matches)
    is the standard fixed prior, default 900‰.

    ``fields`` is a sequence of (left_expr, right_expr) Column pairs
    (comparison keys, e.g. lowercased names, digit cores, bucketed
    amounts). Agreement is NULL-SAFE equality (two NULLs agree — map
    NULL to a sentinel first if that's wrong for a field).

    Determinism: per FIELD (a handful of rows) the weights are
    round-6 log₂ over the pinned cross-multiplied ratios
    0.9·n_l·n_r / max(num, 1) and 0.1·n_l·n_r / max(n_l·n_r − num, 1)
    (the max-1 clamps keep empty/constant fields finite), cast
    DECIMAL(18,6); every pair score is then an exact decimal sum.
    Double-exactness envelope: n_l·n_r must stay inside 2⁵³.

    Output: one row per LEFT record — (left_id, matched_id, n_agree,
    score_r), best candidate by (score DESC, right id ASC); lefts
    with no same-block candidate keep a NULL-match row (the
    `link_records` contract).

    Scale: the candidate join shuffles on the block key only (the
    dedup family's blocking contract); the frequency tables are
    value-cardinality-sized; the weight relation is |fields| rows
    and broadcasts; the best-candidate window partitions by left id.
    """
    if not block_cols:
        raise ValueError("fellegi_sunter_link requires blocking columns")
    if not fields:
        raise ValueError("fellegi_sunter_link requires comparison fields")
    blocks = list(block_cols)
    m = int(m_permille) / 1000.0
    one_minus_m = (1000 - int(m_permille)) / 1000.0
    l = left.select(
        F.col(left_id).alias("_lid"), *blocks,
        *[e.alias(f"_lf{i}") for i, (e, _) in enumerate(fields)],
    )
    r = right.select(
        F.col(right_id).alias("_rid"), *blocks,
        *[e.alias(f"_rf{i}") for i, (_, e) in enumerate(fields)],
    )
    nl = l.agg(F.count(F.lit(1)).alias("_nl"))
    nr = r.agg(F.count(F.lit(1)).alias("_nr"))
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ws = None
    for i in range(len(fields)):
        fl = l.groupBy(F.col(f"_lf{i}").alias("_v")).agg(
            F.count(F.lit(1)).alias("_cl")
        )
        fr = r.groupBy(F.col(f"_rf{i}").alias("_v")).agg(
            F.count(F.lit(1)).alias("_cr")
        )
        num = fl.join(fr, "_v").agg(
            F.coalesce(
                F.sum(d38(F.col("_cl")) * d38(F.col("_cr"))),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("_num")
        )
        nlnr = (
            F.col("_nl").cast("double") * F.col("_nr").cast("double")
        )
        wrow = num.join(nl).join(nr).select(
            F.lit(i).alias("_f"),
            F.round(
                F.log2(
                    F.lit(m) * nlnr
                    / F.greatest(F.col("_num").cast("double"), F.lit(1.0))
                ),
                6,
            ).cast("decimal(18,6)").alias("_wa"),
            F.round(
                F.log2(
                    F.lit(one_minus_m) * nlnr
                    / F.greatest(
                        nlnr - F.col("_num").cast("double"), F.lit(1.0)
                    )
                ),
                6,
            ).cast("decimal(18,6)").alias("_wd"),
        )
        ws = wrow if ws is None else ws.unionByName(wrow)
    pairs = l.join(r, blocks).select(
        "_lid", "_rid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_f"),
                        F.col(f"_lf{i}").eqNullSafe(F.col(f"_rf{i}"))
                        .alias("_agree"),
                    )
                    for i in range(len(fields))
                ]
            )
        ).alias("_c"),
    ).select("_lid", "_rid", F.col("_c._f").alias("_f"),
             F.col("_c._agree").alias("_agree"))
    scored = (
        pairs.join(F.broadcast(ws), "_f")
        .groupBy("_lid", "_rid")
        .agg(
            F.sum(
                F.when(F.col("_agree"), F.col("_wa")).otherwise(F.col("_wd"))
            ).alias("_score"),
            F.sum(F.when(F.col("_agree"), 1).otherwise(0))
            .cast("long").alias("n_agree"),
        )
    )
    w_best = Window.partitionBy("_lid").orderBy(
        F.col("_score").desc(), F.col("_rid").asc()
    )
    best = (
        scored.withColumn("_rk", F.row_number().over(w_best))
        .filter(F.col("_rk") == 1)
        .select("_lid", "_rid", "n_agree", "_score")
    )
    all_left = l.select("_lid").distinct()
    return all_left.join(best, "_lid", "left").select(
        F.col("_lid").alias(left_id),
        F.col("_rid").alias("matched_id"),
        "n_agree",
        F.col("_score").cast("double").alias("score_r"),
    )
