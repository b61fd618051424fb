"""All-pairs exact set-similarity join via prefix filtering.

The blocked Jaccard join (`dedup.ngram_jaccard_pairs`) refuses to run
without a blocking column — an unblocked self-join is quadratic. But
"find EVERY pair above a Jaccard threshold, exactly" is a real
request (dedup ground truth, LSH recall audits), and it has a
published sub-quadratic answer: prefix filtering (Bayardo et al.,
"Scaling Up All Pairs Similarity Search", WWW'07; the PPJoin family,
Xiao et al., WWW'08). This module is the principled UNBLOCKED path:

1. order every set's tokens by GLOBAL document frequency, rarest
   first (one groupBy to build the frequency dictionary);
2. a pair with Jaccard >= t must share a token inside each side's
   first  |x| - ceil(t*|x|) + 1  tokens of that order (the prefix) —
   any pair sharing NO prefix token is provably below t, so joining
   on prefix tokens alone is LOSSLESS;
3. verify surviving candidates with the exact intersection.

Why this scales where the naive join cannot: the join key is a
prefix token, and prefixes hold each set's globally RAREST tokens —
the candidate lists per key are short by construction, and the hot
(frequent) tokens that would blow up a token-inverted-index join are
exactly the ones the frequency ordering pushes OUT of prefixes. The
shuffles are: token-frequency groupBy, frequency join back (both on
token), one per-set window to rank, the candidate self-join on
prefix token, and the two id-joins of the verify step — every one on
a bounded key, none quadratic.

Reference parity note: the reference engine has no similarity join —
this is north-star LLM-pipeline surface (ground-truth generation for
the MinHash/SimHash near-dup family in `operators/dedup.py`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unitdb_spark.operators.dedup import raw_tokens, shingles_from_tokens
from unitdb_spark.operators.skew import fan_out


def _token_sets(
    df: DataFrame, text_col: str, id_col: str, unit: str, shingle_n: int
) -> DataFrame:
    """(_id, _tok) with _tok a DISTINCT token/shingle array; empty
    sets dropped (Jaccard is undefined on them)."""
    # the tokenize/shingle pass is CPU-bound and sits directly on the
    # scan: spread small inputs (one parquet file/row group = one
    # task) across the cluster BEFORE tokenizing — the same fan-out
    # guard as the MinHash signature build and the blocked-Jaccard
    # verify (dedup.py). Without it the whole corpus shingle pass runs
    # as a single task (r13 sf1 profile: one 48s task in a 75s query,
    # and an 8c/32c scaling ratio of 1.08 where the guarded
    # ngram-jaccard scales at 2.36).
    narrow = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")
    )
    # the empty-set drop is applied BEFORE the fan-out as a cheap text
    # predicate rather than as size(_tok) > 0 after tokenizing: a
    # filter on the derived array is pushed below the repartition by
    # substituting its whole defining expression, which re-runs the
    # tokenizer inside the (serial, pre-fan-out) scan stage — the r13
    # sf1 profile showed that inlined filter as a single 38s task.
    # Equivalences (pinned by tests): tokens(_txt) is non-empty iff
    # _txt has a non-whitespace char; the shingle array is NEVER empty
    # or NULL (an empty/NULL token list still yields [""]), so shingle
    # mode keeps every row and needs no filter at all.
    if unit == "word":
        narrow = narrow.filter(
            F.col("_txt").isNotNull() & F.col("_txt").rlike(r"\S")
        )
    elif unit != "shingle":
        raise ValueError(f"unit must be word|shingle, got {unit!r}")
    narrow = fan_out(narrow)
    if unit == "word":
        toks: Column = F.array_distinct(raw_tokens("_txt"))
        return narrow.select("_id", toks.alias("_tok"))
    bound = narrow.select("_id", raw_tokens("_txt").alias("_raw"))
    return bound.select(
        "_id", shingles_from_tokens("_raw", shingle_n).alias("_tok")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    unit: str = "shingle",
    shingle_n: int = 3,
) -> DataFrame:
    """EVERY pair with exact Jaccard >= threshold — no blocking column.

    ``unit`` picks the set elements: "shingle" (word n-grams, the
    near-dup convention shared with MinHash) or "word" (distinct
    tokens, the `ngram_jaccard_pairs` convention). Output:
    (id_a, id_b, jaccard) with id_a < id_b; the FILTER is the exact
    rational test inter·q >= p·union (threshold read as the decimal
    p/q the caller wrote), the reported jaccard is round-6 display.

    Exactness: prefix filtering is lossless — the output equals the
    brute-force all-pairs result. Every bound below is evaluated in
    INTEGER arithmetic (cross-multiplied rationals): float ceil of
    t·len overshoots for thresholds like 0.55 (ceil(0.55*100) == 56
    in doubles), which would silently prune true pairs. Cost:
    near-linear in the inverted prefix-index size instead of
    quadratic in documents.

    The token-set relation is cached: it is read three times
    (frequency explode + both verify sides).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from fractions import Fraction

    # the threshold as the exact decimal the caller wrote (str() of a
    # float round-trips the shortest decimal), so 0.55 becomes 11/20
    # and every bound is exact integer arithmetic from here on
    frac = Fraction(str(threshold))
    tp, tq = frac.numerator, frac.denominator
    t = _token_sets(df, text_col, id_col, unit, shingle_n).cache()

    # global document frequency per token — the ordering dictionary.
    # One partial-agg shuffle on token; at 100 TB this relation is
    # |vocabulary| rows, far smaller than the corpus.
    ex = t.select("_id", F.size("_tok").alias("_len"), F.explode("_tok").alias("_t"))
    freq = ex.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))

    # rank each set's tokens rarest-first; the (df, token) order is
    # total, so prefixes are deterministic. The join is on token (the
    # same key the freq groupBy just used), the window on _id.
    w = Window.partitionBy("_id").orderBy("_df", "_t")
    pos = ex.join(freq, "_t").select(
        "_id", "_len", "_t", F.row_number().over(w).alias("_pos")
    )

    # prefix size |x| - ceil(t*|x|) + 1: a pair at J >= t shares
    # >= ceil(t*|x|) tokens, more than fit in the suffix alone.
    # pos <= len - ceil(p*len/q) + 1  <=>  p*len <= q*(len - pos + 1)
    pre = pos.filter(
        F.lit(tp) * F.col("_len")
        <= F.lit(tq) * (F.col("_len") - F.col("_pos") + 1)
    )
    # materialize the prefix relation: it feeds BOTH sides of the
    # candidate self-join, and without a persist each side re-runs
    # the Exchange+Sort+Window rank over every token position (AQE's
    # ReuseExchange dedupes the identical exchanges, but each
    # consumer still sorts and windows the exchanged data itself —
    # the r12 before-plan shows the Sort(22)/Window(23) subtree twice,
    # plans/r12/doc_prefix_jaccard_before.txt). Persisting the
    # already-filtered prefix rows (a subset of token positions) runs
    # that rank once; ABBA-measured at sf0.1/32c with cache cleared
    # per rep: quiet-cluster 8.1-8.9s -> 7.2-7.5s (~12%); at scale
    # the saved work is a full Sort+Window of the token-position
    # relation.
    pre = pre.cache()

    # candidates: share any prefix token + the length filter
    # (|y| >= t*|x| is necessary for J >= t): q*|y| >= p*|x|.
    a = pre.select(
        F.col("_id").alias("id_a"), "_t",
        F.col("_len").alias("_la"), F.col("_pos").alias("_pa"),
    )
    b = pre.select(
        F.col("_id").alias("id_b"), "_t",
        F.col("_len").alias("_lb"), F.col("_pos").alias("_pb"),
    )
    # positional filter (Xiao et al. PPJoin): a candidate ROW from a
    # token at positions (pa, pb) bounds the pair's overlap by
    # 1 + min(la−pa, lb−pb) (everything shared after this token sits
    # in both suffixes), and J >= t needs overlap >= ceil(t/(1+t) ·
    # (la+lb)). Dropping rows that fail the bound is LOSSLESS: for a
    # true pair, its FIRST shared prefix token has no shared tokens
    # before it, so that row's bound >= the pair's actual overlap and
    # always survives. Cross-multiplied integers, never float ceil.
    # Measured at sf0.1 / t=0.5: 309,803 -> 124,979 candidate pairs
    # (-60%) entering the array_intersect verify.
    cand = (
        a.join(b, "_t")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.lit(tq) * F.col("_lb") >= F.lit(tp) * F.col("_la"))
        .filter(F.lit(tq) * F.col("_la") >= F.lit(tp) * F.col("_lb"))
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("_la") - F.col("_pa"), F.col("_lb") - F.col("_pb")
                )
            )
            * F.lit(tp + tq)
            >= F.lit(tp) * (F.col("_la") + F.col("_lb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )

    # verify: exact Jaccard on the candidate set only — the threshold
    # test is the cross-multiplied integer comparison (never a float),
    # the reported score is round-6 display. Union via array_union
    # length (arrays are already distinct); the DuckDB oracle replays
    # the same integer filter.
    ta = t.select(F.col("_id").alias("id_a"), F.col("_tok").alias("_tka"))
    tb = t.select(F.col("_id").alias("id_b"), F.col("_tok").alias("_tkb"))
    inter = F.size(F.array_intersect("_tka", "_tkb"))
    union = F.size(F.array_union("_tka", "_tkb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.lit(tq) * inter >= F.lit(tp) * union)
        .select(
            "id_a",
            "id_b",
            F.round(inter.cast("double") / union.cast("double"), 6).alias(
                "jaccard"
            ),
        )
    )
