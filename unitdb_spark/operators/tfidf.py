"""TF-IDF keyword extraction over the documents corpus.

The reference has no text analytics (its payloads are opaque bytes);
this extends the LLM-pipeline surface (SURVEY §2.4 beyond-reference
operators) with the standard corpus-statistics primitive behind
keyword extraction, BM25-ish relevance, and stopword discovery.

Shape (100 TB): one explode + groupBy(doc, term) shuffle with map-side
combine (the explode never crosses the wire raw), one groupBy(term)
shuffle for document frequencies (rows = vocabulary size), and the
corpus size N as a 1-row broadcast. The per-doc top-K ranking windows
on doc_id — same key as the tf shuffle, so AQE coalesces without a new
exchange. Nothing driver-side, nothing quadratic.

Determinism: idf is the RATIONAL smooth variant (N+1)/(df+1) — same
ranking as the usual log form but free of transcendental functions, so
the score is one multiply + one divide in identical operation order on
any engine (bit-exact against SQL oracles; cf. the DECIMAL convention
in tpch_q1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# the repo-wide tokenizer (lowercase whitespace split, '' filtered) —
# one definition so operators can't drift from the DuckDB _TOKS oracle
# fragment
from unitdb_spark.functions.text import _toks as _tokens


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Top-``k`` terms per document by smooth TF-IDF.

    score(d, t) = tf(d,t) · (N+1)/(df(t)+1), ties broken by term
    (ascending) so the cut is total-ordered. ``min_df`` drops hapax
    noise before ranking when > 1.

    The document-frequency branch re-derives the (doc, term) set, so
    the corpus is tokenized twice (embarrassingly parallel map work;
    the skew-safe alternative — df as a window count over term — puts
    every occurrence of a stopword in ONE task, which is exactly the
    partition that explodes at corpus scale).

    Output: (doc_id, term, tf, df, score, rank), rank 1..k.
    """
    tf = (
        docs.select(F.col(id_col), F.explode(_tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        df_counts = df_counts.filter(F.col("df") >= min_df)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_counts, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs") + 1).cast("double")
            / (F.col("df") + 1).cast("double"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def token_rarity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document corpus-frequency statistics — the CCNet-style
    "how ordinary is this text" signal without a language model:
    documents whose tokens are all corpus-rare are typically junk
    (hashes, minified code), documents of only ultra-common tokens are
    boilerplate; training pipelines cut both tails.

    For each doc: n_tokens, the SUM over its tokens (with
    multiplicity) of each token's corpus occurrence count, their mean,
    and the rarest token's count. All integer aggregation until one
    final division — bit-exact on any engine, no log/probability
    needed (the mean corpus count is a monotone transform of mean
    unigram probability).

    Shape: same as TF-IDF — explode → (doc, term) counts, corpus
    counts per term (map-side combined), join, per-doc sum. Output:
    (doc_id, n_tokens, sum_corpus_tf, mean_corpus_tf, min_corpus_tf).
    """
    tf = (
        docs.select(F.col(id_col), F.explode(_tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    corpus = tf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    return (
        tf.join(corpus, "term")
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("ctf")).alias("sum_corpus_tf"),
            F.min("ctf").alias("min_corpus_tf"),
        )
        .withColumn(
            "mean_corpus_tf",
            F.col("sum_corpus_tf").cast("double") / F.col("n_tokens").cast("double"),
        )
        .select(id_col, "n_tokens", "sum_corpus_tf", "mean_corpus_tf", "min_corpus_tf")
    )


def impact_postings(
    docs: DataFrame,
    k: int = 3,
    min_df: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Impact-ordered inverted-index build: for each term with
    document frequency >= ``min_df``, the top-``k`` postings by term
    frequency (ties by ascending doc id) — the static index layout
    behind early-termination search (Anh & Moffat's impact ordering).

    Shape (100 TB): one explode → (doc, term) partial-agg shuffle,
    one (term) shuffle for df, and a per-term window on the SAME term
    key as the df shuffle (AQE reuses the partitioning). The heaviest
    term's postings rank inside one task, but only after the (doc,
    term) combine — the raw explode never crosses the wire, so the
    stopword task holds df rows (corpus docs), not occurrences.

    Output: (term, doc_id, tf, df, rank), rank 1..k.
    """
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(_tokens(text_col)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= min_df
    )
    w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        tf.join(df_counts, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("term", "doc_id", "tf", "df", "rank")
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranked retrieval for a fixed bag-of-words query
    (Robertson & Walker '94; the Okapi formula), with the smooth
    RATIONAL idf (N+1)/(df+1) — same ranking family, no log, so every
    arithmetic step is an IEEE-exact multiply/divide that replays
    bit-identically on any engine. Query terms are lowercased to the
    corpus tokenizer's case; repeated terms weight their contribution
    by the query-side tf (Okapi's qtf factor) instead of collapsing.

    contribution(d, t) = idf(t) * tf * (k1+1)
                         / (tf + k1 * (1 - b + b * dl/avgdl))

    Per-term contributions are rounded to 6 decimals and summed as
    DECIMAL(18,6) (the repo's order-free cross-engine convention), and
    the final ranking is (score_r DESC, doc_id) — total-ordered.

    Shape (100 TB): doc lengths and the (doc, term) tf for the few
    query terms are two map-side-combined aggregations over one scan
    pattern; df and avgdl are tiny (|q| rows / 1 row) and broadcast.
    The corpus never shuffles on anything wider than doc_id.

    Output: (doc_id, n_hit, score_r, rank), rank 1..topk.
    """
    if not query_terms:
        raise ValueError("bm25_search: query_terms must be non-empty")
    # normalize to the corpus tokenizer's case, and weight repeated
    # query terms by their query-side tf (the Okapi qtf factor) rather
    # than silently collapsing them
    from collections import Counter

    qtf = Counter(t.lower() for t in query_terms)
    uniq = sorted(qtf)
    lens = docs.select(
        F.col(id_col).alias("doc_id"), F.size(_tokens(text_col)).alias("dl")
    )
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term").isin(uniq))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).withColumn("avgdl", F.col("sum_dl").cast("double") / F.col("n_docs").cast("double"))
    contrib = (
        tf.join(F.broadcast(df_counts), "term")
        .join(lens, "doc_id")
        .join(F.broadcast(stats))
        .withColumn(
            "_c",
            (F.col("n_docs") + 1).cast("double")
            / (F.col("df") + 1).cast("double")
            * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
            / (
                F.col("tf").cast("double")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
                )
            ),
        )
    )
    if any(c > 1 for c in qtf.values()):
        # query-side tf multiplier; skipped entirely for an all-unique
        # query so the single-occurrence arithmetic stays bit-identical
        m = None
        for t in uniq:
            m = (
                F.when(F.col("term") == t, F.lit(float(qtf[t])))
                if m is None
                else m.when(F.col("term") == t, F.lit(float(qtf[t])))
            )
        contrib = contrib.withColumn("_c", F.col("_c") * m)
    scored = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(F.round(F.col("_c"), 6).cast("decimal(18,6)")).alias("_s"),
    )
    # global top-k via sort+limit (Catalyst's TakeOrderedAndProject —
    # per-partition heaps, no single-task global window); the rank
    # window then runs over <= topk rows
    cut = scored.orderBy(F.desc("_s"), F.asc("doc_id")).limit(topk)
    w = Window.orderBy(F.desc("_s"), F.asc("doc_id"))
    return cut.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "n_hit", F.col("_s").cast("double").alias("score_r"), "rank"
    )


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram language-model quality score: per-doc cross-entropy
    under the corpus's own unigram distribution — the portable stand-in
    for CCNet's KenLM-perplexity filter (Wenzek '19). A doc whose
    tokens are corpus-typical scores a low NLL; gibberish and
    vocabulary-soup outliers score high. Scoring the corpus under
    itself means every token has nonzero count — no smoothing knob.

    Cross-engine contract (the BM25 trick): log10(n_t/total) is one
    libm call per vocabulary TYPE (not per token instance), rounded to
    6 decimals and cast DECIMAL(18,6); per-doc summation is then exact
    decimal arithmetic — order-free — with one final double division
    wrapped in round-6.

    Shape (100 TB): counts = one explode + map-side-combined agg on
    term; scoring joins the token stream to the vocab relation on term
    (both sides shuffle on term once — the vocab side is Zipf-small
    after aggregation and broadcasts when it fits); doc rollup shuffles
    (doc, partials) only.

    Output: (id, n_tokens, logp_sum_r, nll_r) where nll_r =
    round(-logp_sum / n_tokens, 6) — mean negative log10 probability
    per token.
    """
    tok = docs.select(
        F.col(id_col).alias("id"), F.explode(_tokens(text_col)).alias("term")
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    total = counts.agg(F.sum("n_t").alias("total"))
    lp = counts.join(F.broadcast(total)).select(
        "term",
        F.round(
            F.log10(F.col("n_t").cast("double") / F.col("total").cast("double")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("_logp"),
    )
    scored = (
        tok.join(lp, "term")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_logp").alias("_s"),
        )
    )
    return scored.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.col("_s").cast("double").alias("logp_sum_r"),
        F.round(
            -F.col("_s").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("nll_r"),
    )


def bigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: tuple[int, int] = (4, 5),
) -> DataFrame:
    """Interpolated bigram language-model quality score — the
    context-aware upgrade of `unigram_logprob`'s CCNet stand-in
    (Wenzek '19 scores with a 5-gram KenLM; the bigram is the
    portable, no-artifact version of the same signal). Word-salad
    with plausible unigrams ("the of and the is") scores badly here
    because its TRANSITIONS are corpus-atypical:

        P(cur | prev) = λ·c(prev,cur)/c(prev·) + (1−λ)·c(cur)/N

    with λ = lam[0]/lam[1] (default 4/5 = 0.8) and c(prev·) the
    context total (non-final occurrences of prev). Scoring the corpus
    under itself keeps every observed bigram's probability nonzero;
    the unigram back-off term is still there so the score generalizes
    to held-out text unchanged.

    Cross-engine contract (the `unigram_logprob` trick): ONE
    round-6 log10 per bigram TYPE over the pinned expression
    λ·(c_b/c_ctx) + (1−λ)·(c_u/N), cast DECIMAL(18,6); per-doc
    summation is exact decimal arithmetic, order-free, with one final
    pinned round-6 division. Bigrams are encoded "prev cur" (tokens
    are whitespace-split so the space is an injective separator) —
    the join key is one string, never a struct.

    Shape (100 TB): bigram counts = one map-side-combined agg on the
    bigram string; context totals roll up from the (Zipf-small)
    bigram-type relation, NOT the token stream; scoring joins the
    doc bigram stream to the type relation once. Docs with < 2
    tokens emit no bigrams and are absent from the output (their
    transition quality is undefined).

    Output: (doc_id, n_bigrams, logp_sum_r, nll_r) with nll_r =
    round(−logp_sum / n_bigrams, 6).
    """
    ln, ld = int(lam[0]), int(lam[1])
    lam_f, one_minus = ln / ld, (ld - ln) / ld
    t = _tokens(text_col)
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    big = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.zip_with(
                F.slice(t, 1, n1),
                F.slice(t, 2, n1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bg"),
    )
    tok = docs.select(F.explode(t).alias("term"))
    uni = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c_u"))
    total = uni.agg(F.sum("c_u").alias("total"))
    bic = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c_b"))
    bic = bic.select(
        "bg", "c_b",
        F.split(F.col("bg"), " ")[0].alias("_prev"),
        F.split(F.col("bg"), " ")[1].alias("_cur"),
    )
    ctx = bic.groupBy("_prev").agg(F.sum("c_b").alias("c_ctx"))
    lp = (
        bic.join(ctx, "_prev")
        .join(uni.withColumnRenamed("term", "_cur"), "_cur")
        .join(F.broadcast(total))
        .select(
            "bg",
            F.round(
                F.log10(
                    F.lit(lam_f)
                    * (F.col("c_b").cast("double")
                       / F.col("c_ctx").cast("double"))
                    + F.lit(one_minus)
                    * (F.col("c_u").cast("double")
                       / F.col("total").cast("double"))
                ),
                6,
            ).cast("decimal(18,6)").alias("_logp"),
        )
    )
    scored = (
        big.join(lp, "bg")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_logp").alias("_s"),
        )
    )
    return scored.select(
        F.col("id").alias(id_col),
        "n_bigrams",
        F.col("_s").cast("double").alias("logp_sum_r"),
        F.round(
            -F.col("_s").cast("double") / F.col("n_bigrams").cast("double"), 6
        ).alias("nll_r"),
    )


def kneser_ney_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: tuple[int, int] = (3, 4),
) -> DataFrame:
    """Kneser-Ney smoothed bigram language-model score (Kneser & Ney
    '95; the modern-LM-tokenizer-era standard Chen & Goodman '99
    recommend over interpolated back-off) — the upgrade over
    `bigram_logprob`'s frequency interpolation: the back-off weight
    of a word is its CONTEXT DIVERSITY (how many distinct predecessors
    it follows), not its raw frequency, so "Francisco" (frequent but
    only ever after "San") stops inflating novel contexts:

        P_KN(cur|prev) = (c(prev,cur) − d)/c(prev·)
                       + d·N1+(prev·)/c(prev·) · N1+(·cur)/N1+(··)

    with d = discount[0]/discount[1] (default 3/4 = 0.75). Scoring
    the corpus under itself keeps every observed bigram's first term
    ≥ (1−d)/c(prev·) > 0, so the log is always defined.

    Cross-engine contract (the family's trick): ONE round-6 log10 per
    bigram TYPE over the pinned expression ((c_b − d)/c_ctx) +
    ((d·n1f)/c_ctx)·(n1b/n1a) — every operand an exact integer cast
    to double, fixed parenthesization — cast DECIMAL(18,6); per-doc
    summation is exact decimal, order-free, one final pinned round-6
    division.

    Shape (100 TB): identical to `bigram_logprob` — all statistics
    (c_ctx, N1+ fan-outs) roll up from the Zipf-small bigram-TYPE
    relation, never the token stream; n1a is a one-row broadcast.

    Output: (doc_id, n_bigrams, logp_sum_r, nll_r).
    """
    d_f = int(discount[0]) / int(discount[1])
    t = _tokens(text_col)
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    big = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.zip_with(
                F.slice(t, 1, n1),
                F.slice(t, 2, n1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bg"),
    )
    bic = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c_b"))
    bic = bic.select(
        "bg", "c_b",
        F.split(F.col("bg"), " ")[0].alias("_prev"),
        F.split(F.col("bg"), " ")[1].alias("_cur"),
    )
    ctx = bic.groupBy("_prev").agg(
        F.sum("c_b").alias("c_ctx"),
        F.count(F.lit(1)).alias("n1f"),
    )
    back = bic.groupBy("_cur").agg(F.count(F.lit(1)).alias("n1b"))
    n1a = bic.agg(F.count(F.lit(1)).alias("n1a"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    lp = (
        bic.join(ctx, "_prev")
        .join(back, "_cur")
        .join(F.broadcast(n1a))
        .select(
            "bg",
            F.round(
                F.log10(
                    ((dd("c_b") - F.lit(d_f)) / dd("c_ctx"))
                    + ((F.lit(d_f) * dd("n1f")) / dd("c_ctx"))
                    * (dd("n1b") / dd("n1a"))
                ),
                6,
            ).cast("decimal(18,6)").alias("_logp"),
        )
    )
    scored = (
        big.join(lp, "bg")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_logp").alias("_s"),
        )
    )
    return scored.select(
        F.col("id").alias(id_col),
        "n_bigrams",
        F.col("_s").cast("double").alias("logp_sum_r"),
        F.round(
            -F.col("_s").cast("double") / F.col("n_bigrams").cast("double"), 6
        ).alias("nll_r"),
    )


def bigram_pmi(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    topk: int = 50,
) -> DataFrame:
    """Collocation extraction: pointwise mutual information of adjacent
    token pairs (Church & Hanks '90) — the classic corpus-analytics
    signal for multiword expressions, and a curation probe for
    template/boilerplate phrases (suspiciously high-PMI bigrams at high
    count = machine-generated filler).

    pmi = log2( (c_ab / N_bi) / ((c_a / N_uni) * (c_b / N_uni)) ),
    computed with each division pinned in that order so the doubles
    match on every engine; one log2 per surviving bigram TYPE, round-6,
    ranked (pmi_r DESC, bigram) — total-ordered.

    Shape (100 TB): bigrams materialize map-side from the bound token
    array (an index transform — no self-join, no window shuffle);
    bigram and unigram counts are two map-side-combined aggs; the
    ``min_count`` filter cuts the heavy tail BEFORE the two tiny joins
    against the unigram relation; the final cut is TakeOrdered.

    Output: (bigram, c_ab, c_a, c_b, pmi_r, rank).
    """
    if min_count < 1:
        raise ValueError("bigram_pmi: min_count must be >= 1")
    toks = docs.select(
        F.col(id_col).alias("id"), _tokens(text_col).alias("_tok")
    )
    uni = (
        toks.select(F.explode("_tok").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_term"))
    )
    big = toks.select(
        F.explode(
            F.when(
                F.size("_tok") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("_tok") - 2),
                    lambda i: F.struct(
                        F.element_at("_tok", i + 1).alias("t_a"),
                        F.element_at("_tok", i + 2).alias("t_b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<t_a:string,t_b:string>>"))
        ).alias("bg")
    ).select("bg.t_a", "bg.t_b")
    big_counts = (
        big.groupBy("t_a", "t_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    n_bi = big.agg(F.count(F.lit(1)).alias("n_bi"))
    n_uni = uni.agg(F.sum("c_term").alias("n_uni"))
    joined = (
        big_counts.join(
            uni.select(F.col("term").alias("t_a"),
                       F.col("c_term").alias("c_a")), "t_a"
        )
        .join(
            uni.select(F.col("term").alias("t_b"),
                       F.col("c_term").alias("c_b")), "t_b"
        )
        .join(F.broadcast(n_bi))
        .join(F.broadcast(n_uni))
    )
    pmi = F.log2(
        (F.col("c_ab").cast("double") / F.col("n_bi").cast("double"))
        / (
            (F.col("c_a").cast("double") / F.col("n_uni").cast("double"))
            * (F.col("c_b").cast("double") / F.col("n_uni").cast("double"))
        )
    )
    scored = joined.select(
        F.concat_ws(" ", "t_a", "t_b").alias("bigram"),
        "c_ab", "c_a", "c_b",
        F.round(pmi, 6).alias("pmi_r"),
    )
    cut = scored.orderBy(F.desc("pmi_r"), F.asc("bigram")).limit(topk)
    return cut.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("pmi_r"), F.asc("bigram"))),
    )


def sparse_cosine_pairs(
    docs: DataFrame,
    min_df: int = 5,
    max_df: int = 50,
    threshold=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse lexical cosine similarity join — the inverted-index
    sibling of the embedding-cosine dedup path: documents meet ONLY on
    shared vocabulary terms (the term is the blocking key), and the
    similarity is cosine over integer term-weight vectors.

    Weight design keeps everything exact at any corpus size:
    w(d,t) = tf(d,t) · ⌊1e6/(df(t)+1)⌋ — a bounded reciprocal-df
    weight (saturates for rare terms instead of growing with N like
    (N+1)/(df+1) would), so w, the per-doc norms Σw², and the pair
    dot products all live in DECIMAL(38,0) with room for the
    cross-multiplied threshold test

        den² · dot²  ≥  num² · ‖a‖² · ‖b‖²     (dot ≥ 0 always)

    with threshold = Fraction(num, den) — the repo's integer
    threshold convention, no float ceil anywhere (a float threshold
    goes through Fraction(str(·)), so 0.4 means the exact decimal
    2/5, not the 53-bit dyadic whose squared terms overflow a long
    literal). cosine_r is the one pinned float at the end.
    ``threshold`` defaults to 2/5.

    Terms with df < min_df (hapax noise) or df > max_df (stopwords —
    also the per-term df² pair-explosion bound, the LSH-bucket-cap
    analog) do not enter the vocabulary; the similarity is DEFINED
    over that vocabulary, which is the standard sparse-retrieval
    pruning, not a silent approximation.

    Output: (id_a, id_b, n_shared, cosine_r), id_a < id_b, pairs
    above the threshold only.
    """
    from fractions import Fraction

    if threshold is None:
        thr = Fraction(2, 5)
    elif isinstance(threshold, float):
        thr = Fraction(str(threshold))
    else:
        thr = Fraction(threshold)
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_tokens(text_col)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).filter(
        (F.col("df") >= min_df) & (F.col("df") <= max_df)
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    w = tf.join(dfreq, "term").select(
        "term", "doc_id",
        (
            d38(F.col("tf"))
            * d38(F.floor(F.lit(1_000_000) / (F.col("df") + 1)))
        ).alias("w"),
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    a = w.select("term", F.col("doc_id").alias("id_a"), F.col("w").alias("wa"))
    b = w.select("term", F.col("doc_id").alias("id_b"), F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
        )
    )
    j = (
        dots.join(
            norms.select(F.col("doc_id").alias("id_a"),
                         F.col("n2").alias("na2")), "id_a"
        )
        .join(
            norms.select(F.col("doc_id").alias("id_b"),
                         F.col("n2").alias("nb2")), "id_b"
        )
    )
    num2 = thr.numerator * thr.numerator
    den2 = thr.denominator * thr.denominator
    keep = (
        F.lit(den2) * F.col("dot") * F.col("dot")
        >= F.lit(num2) * F.col("na2") * F.col("nb2")
    )
    return j.filter(keep).select(
        "id_a", "id_b",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.round(
            F.col("dot").cast("double")
            / F.sqrt(
                F.col("na2").cast("double") * F.col("nb2").cast("double")
            ),
            6,
        ).alias("cosine_r"),
    )


def source_unigram_kl(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution —
    the domain-shift audit for mixture curation: a source whose token
    distribution sits far from the corpus mean (KL high) dominates or
    fights the mixture, while KL ≈ 0 means it adds volume, not
    diversity. The distributional upgrade of coarse source shares
    (`doc_source_balance`) and label-based information gain
    (`doc_source_infogain`).

        KL(Pₛ ‖ P) = Σ_t (c_st/Tₛ) · log10((c_st/Tₛ) / (c_t/N))

    computed over the source's OBSERVED terms (c_st > 0, so both
    ratios are positive — no smoothing knob; the corpus includes the
    source, so P(t) > 0 always). Gibbs' inequality gives KL ≥ 0 — a
    property test pin.

    Cross-engine contract: ONE round-6 log10 per (source, term) TYPE
    over the pinned ratio-of-ratios, cast DECIMAL(18,6); the
    numerator Σ c_st·log is exact decimal (products lifted via the
    c_st long × DECIMAL(18,6) → exact decimal rule), and the final
    ÷Tₛ is the single pinned round-6 division.

    Output: (source, n_tokens, n_types, kl_r).

    Shape (100 TB): token stream aggregates once onto the
    (source × term) TYPE relation (Zipf-sublinear per source); the
    corpus term relation joins on term; totals broadcast. No window,
    no corpus re-shuffle.
    """
    tok = docs.select(
        F.col(source_col).alias("src"),
        F.explode(_tokens(text_col)).alias("term"),
    )
    st = tok.groupBy("src", "term").agg(F.count(F.lit(1)).alias("c_st"))
    ts = st.groupBy("src").agg(F.sum("c_st").alias("t_s"))
    ct = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    nn = ts.agg(F.sum("t_s").alias("nt"))
    lp = (
        st.join(ts, "src")
        .join(ct, "term")
        .join(F.broadcast(nn))
        .select(
            "src", "c_st",
            F.round(
                F.log10(
                    (F.col("c_st").cast("double")
                     / F.col("t_s").cast("double"))
                    / (F.col("c_t").cast("double")
                       / F.col("nt").cast("double"))
                ),
                6,
            ).cast("decimal(18,6)").alias("_lg"),
        )
    )
    agg = lp.groupBy("src").agg(
        F.sum(F.col("c_st").cast("decimal(18,0)") * F.col("_lg"))
        .alias("_s"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c_st").cast("long").alias("n_tokens"),
    )
    return agg.select(
        F.col("src").alias(source_col),
        "n_tokens", "n_types",
        F.round(
            F.col("_s").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("kl_r"),
    )


def zipf_slope(
    docs: DataFrame,
    text_col: str = "text",
    topk: int = 100,
) -> DataFrame:
    """Zipf log-log slope over the top-``topk`` vocabulary ranks —
    the one-number corpus-health signal: natural language sits near
    slope −1 (Zipf 1935); template/boilerplate corpora flatten
    toward 0 at the head, and dedup failures steepen it. Slope and
    intercept come from exact OLS over ``topk`` points:

        x_r = round-6 log10(rank),  y_r = round-6 log10(count)

    (rank from the (count DESC, term ASC) total order — deterministic
    under ties), DECIMAL(18,6) each, so every moment Σx, Σy, Σxy, Σx²
    is exact decimal; slope and intercept are each ONE pinned double
    over those exact moments, round-6.

    Output: one row (k_used, slope_r, intercept_r).

    Scale: counts = one map-side-combined agg; the rank-and-cut
    compiles to WindowGroupLimit (Spark pushes ``rank <= topk`` into
    the window, keeping topk rows per partition before the final
    sort) so no corpus-sized single-partition window exists — the
    plan audit reports clean. The OLS is control-plane arithmetic
    over one topk-row relation.
    """
    counts = (
        docs.select(F.explode(_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    pts = (
        counts.select(
            "n", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= F.lit(int(topk)))
        .select(
            F.round(F.log10(F.col("rank").cast("double")), 6)
            .cast("decimal(18,6)").alias("x"),
            F.round(F.log10(F.col("n").cast("double")), 6)
            .cast("decimal(18,6)").alias("y"),
        )
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    kd = F.col("k_used").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (kd * sxyd - sxd * syd) / (kd * sxxd - sxd * sxd)
    return m.select(
        "k_used",
        F.round(slope, 6).alias("slope_r"),
        F.round((syd - slope * sxd) / kd, 6).alias("intercept_r"),
    )


def heaps_law(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoints: int = 16,
) -> DataFrame:
    """Heaps'-law vocabulary-growth exponent (Heaps 1978): V(n) ≈
    K·n^β — the companion corpus-health number to `zipf_slope`
    (natural corpora sit near β ≈ 0.5; β drifting toward 1 means the
    vocabulary never saturates — OCR noise, random IDs, boilerplate
    churn; β collapsing toward 0 means near-duplicate text).

    The curve is sampled at ``checkpoints`` doc_id-range thresholds
    θ_c = mn + ((mx−mn)·c) div C, c = 1..C — VALUE-based cuts, so
    both n_c (cumulative token count over docs with id ≤ θ_c) and
    V_c (distinct terms whose FIRST-occurrence doc id ≤ θ_c) are
    plain filtered aggregates: no corpus-length running window
    anywhere, which is what makes the estimator hold at 100 TB (the
    classic prefix formulation needs a global cumulative sum over
    the document order).

    β and log10 K come from exact INTEGER OLS over engine-proof
    fixed-point log points: µ = ulog10_micro(count) (exactlog.py) —
    unlike the `zipf_slope` finish (round-6 libm log10 of small,
    enumerable ranks), heaps' log inputs are corpus-scale
    data-dependent integers where a 1-ulp libm difference between
    environments can flip the 6th rounded decimal (the round-8
    driver hash-FAIL); the shift-and-square integer program is
    libm-free and bit-identical on every engine. The degenerate
    all-thresholds-equal case (single doc id) yields NULL
    slope/intercept rather than a division blow-up.

    Output: one row (c_used, beta_ppm, logk_ppm) — slope/intercept
    as floor(1e6·value) BIGINTs.

    Scale: per-doc token counts and the term→min(doc_id) relation
    are one explode + map-side-combined agg each; the C-row
    threshold relation broadcast-joins against both (a C× fan-out of
    two ALREADY-AGGREGATED relations, C = 16 by default). The OLS is
    control-plane arithmetic over ≤ C points.
    """
    C = int(checkpoints)
    if C < 2:
        raise ValueError("heaps_law: need at least 2 checkpoints")
    per_doc = docs.select(
        F.col(id_col).alias("_id"),
        F.size(_tokens(text_col)).cast("long").alias("_t"),
    )
    first = (
        docs.select(F.col(id_col).alias("_id"), F.explode(_tokens(text_col)).alias("_term"))
        .groupBy("_term")
        .agg(F.min("_id").alias("_fid"))
    )
    bounds = per_doc.agg(
        F.min("_id").alias("_mn"), F.max("_id").alias("_mx")
    )
    th = bounds.select(
        F.explode(F.sequence(F.lit(1), F.lit(C))).alias("c"),
        "_mn", "_mx",
    ).select(
        "c",
        # integer div, never a double floor (doc ids can exceed 2^53)
        (
            F.col("_mn") + F.expr(f"((_mx - _mn) * c) div {C}")
        ).cast("long").alias("_th"),
    )
    n_c = (
        per_doc.join(F.broadcast(th), per_doc["_id"] <= th["_th"])
        .groupBy("c")
        .agg(F.sum("_t").alias("_n"))
    )
    v_c = (
        first.join(F.broadcast(th), first["_fid"] <= th["_th"])
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("_v"))
    )
    from unitdb_spark.functions.exactlog import (
        lsq_ppm_exprs,
        with_ulog10,
    )

    pts = with_ulog10(
        n_c.join(v_c, "c")
        .filter((F.col("_n") > 0) & (F.col("_v") > 0))
        .select(
            F.col("_n").cast("long").alias("_n"),
            F.col("_v").cast("long").alias("_v"),
        ),
        {"ux": "_n", "uy": "_v"},
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("c_used"),
        F.sum("ux").alias("sx"),
        F.sum("uy").alias("sy"),
        F.sum(F.col("ux") * F.col("uy")).alias("sxy"),
        F.sum(F.col("ux") * F.col("ux")).alias("sxx"),
    )
    return m.selectExpr(*lsq_ppm_exprs("spark"))


def source_unigram_js(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source Jensen-Shannon divergence from the corpus unigram
    distribution — the SYMMETRIC, bounded companion of
    `source_unigram_kl`: KL explodes when a source concentrates on
    rare corpus terms, JS stays in [0, log10 2] and weighs both
    directions, so sources are comparable on one scale (the
    distance mixture dashboards actually chart).

        JS(Pₛ ‖ P) = ½·KL(Pₛ ‖ M) + ½·KL(P ‖ M),  M = (Pₛ + P)/2

    Decomposition keeps the work on the OBSERVED (source × term)
    relation: for terms with c_st > 0 both logs are pinned
    ratio-of-ratio doubles (one round-6 log10 each, the KL
    contract); for the corpus mass a source never touches, P/M = 2
    exactly, so that whole tail contributes log10(2)·(N − Σ_{t∈s}
    c_t)/N — a LITERAL times an exact integer, no per-term work.
    Exact decimal sums; the finish is one pinned float chain
    (s1/Tₛ + s2/N)/2, round-6.

    Output: (source, n_tokens, n_types, js_r).

    Shape (100 TB): identical to `source_unigram_kl` — the token
    stream aggregates once onto the (source × term) TYPE relation,
    corpus term counts join on term, totals broadcast; the
    complement mass is an algebraic identity, not a scan of the
    unseen vocabulary.
    """
    LOG10_2 = "0.301030"  # round(log10(2), 6), literal in both engines
    tok = docs.select(
        F.col(source_col).alias("src"),
        F.explode(_tokens(text_col)).alias("term"),
    )
    st = tok.groupBy("src", "term").agg(F.count(F.lit(1)).alias("c_st"))
    ts = st.groupBy("src").agg(F.sum("c_st").alias("t_s"))
    ct = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    nn = ts.agg(F.sum("t_s").alias("nt"))
    p = F.col("c_st").cast("double") / F.col("t_s").cast("double")
    q = F.col("c_t").cast("double") / F.col("nt").cast("double")
    m = (p + q) / F.lit(2.0)
    lp = (
        st.join(ts, "src")
        .join(ct, "term")
        .join(F.broadcast(nn))
        .select(
            "src", "c_st", "c_t",
            F.round(F.log10(p / m), 6).cast("decimal(18,6)").alias("_l1"),
            F.round(F.log10(q / m), 6).cast("decimal(18,6)").alias("_l2"),
        )
    )
    agg = lp.groupBy("src").agg(
        F.sum(F.col("c_st").cast("decimal(18,0)") * F.col("_l1"))
        .alias("_s1"),
        F.sum(F.col("c_t").cast("decimal(18,0)") * F.col("_l2"))
        .alias("_s2"),
        F.sum("c_t").alias("_cs"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c_st").cast("long").alias("n_tokens"),
    )
    out = agg.join(F.broadcast(nn)).select(
        "src", "n_tokens", "n_types", "nt",
        (F.col("_s1")).alias("_s1"),
        (
            F.col("_s2")
            + F.lit(LOG10_2).cast("decimal(18,6)")
            * (F.col("nt") - F.col("_cs")).cast("decimal(18,0)")
        ).alias("_s2t"),
    )
    ts2 = ts.select(F.col("src"), F.col("t_s"))
    return out.join(ts2, "src").select(
        F.col("src").alias(source_col),
        "n_tokens", "n_types",
        F.round(
            (
                F.col("_s1").cast("double") / F.col("t_s").cast("double")
                + F.col("_s2t").cast("double") / F.col("nt").cast("double")
            )
            / F.lit(2.0),
            6,
        ).alias("js_r"),
    )


def lexical_diversity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document lexical diversity panel: type-token ratio and the
    Simpson repetition index — the vocabulary-level quality signals
    between `doc_token_stats` (surface counts) and `doc_repetition`
    (n-gram share): template/boilerplate text shows low TTR and high
    Simpson (two random tokens often the same type) long before a
    human reads it.

        ttr_ppm     = (n_types · 1e6) div n_tokens
        simpson_ppm = (Σ_t c_t·(c_t−1) · 1e6) div (n·(n−1))

    — exact integer cross-multiplied ratios (Simpson is the unbiased
    repeat-probability form); simpson_ppm NULL when n < 2, both NULL
    for token-free documents (kept as rows — absence is a result).

    Output: (doc_id, n_tokens, n_types, ttr_ppm, simpson_ppm).

    Scale: explode → (doc, term) partial agg → per-doc agg — all
    doc-keyed (the RAKE shape), no global vocabulary relation, no
    window.
    """
    tok = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(_tokens(text_col)).alias("term"),
    )
    per_type = tok.groupBy("_id", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = per_type.groupBy("_id").agg(
        F.sum("c").alias("_n"),
        F.count(F.lit(1)).alias("_ty"),
        F.sum(d38(F.col("c")) * (F.col("c") - 1)).alias("_rep"),
    )
    base = docs.select(F.col(id_col).alias("_id"))
    out = base.join(agg, "_id", "left")
    return out.select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("_ty"), F.lit(0)).cast("long").alias("n_types"),
        F.when(
            F.col("_n") > 0, F.expr("(_ty * 1000000L) div _n")
        ).cast("long").alias("ttr_ppm"),
        F.when(
            F.col("_n") >= 2,
            F.expr(
                "CAST((_rep * 1000000) div (CAST(_n AS DECIMAL(38,0))"
                " * (_n - 1)) AS BIGINT)"
            ),
        ).cast("long").alias("simpson_ppm"),
    )


def good_turing_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_r: int = 10,
) -> DataFrame:
    """Good-Turing frequency-of-frequencies table (Good '53) — the
    principled answer to "how much probability mass belongs to tokens
    we have NEVER seen", which every smoothing scheme (and every
    coverage claim a tokenizer makes) quietly depends on:

        P(unseen) = N1 / N          (share of singleton mass)
        r*        = (r+1)·N_{r+1} / N_r   (smoothed count for freq r)

    with N_r = number of token TYPES observed exactly r times. All
    ratios are exact cross-multiplied integer ppm. The spine is the
    ``max_r`` SMALLEST OBSERVED frequencies (rank over the tiny
    frequency-of-frequencies relation) — a literal 1..10 spine would
    be empty on a corpus whose rarest type still occurs dozens of
    times, whereas the low tail is the estimator's subject wherever
    it sits. N_{r+1} means "types with frequency exactly r+1": a gap
    in the spectrum yields r* = 0, the classic GT sparsity signal,
    reported honestly. A corpus with NO singletons has p0 = 0.

    Output: (r, n_types, r_star_ppm, n_total_types, n_total_tokens,
    p0_ppm) — totals and p0 repeat on every row.

    Scale: vocab counts = one explode + map-side-combined agg; the
    rank window walks the distinct-frequency relation (Zipf-tiny),
    never the vocabulary.
    """
    t = _tokens(text_col)
    tok = docs.select(F.explode(t).alias("term"))
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    freqfreq = vocab.groupBy("c").agg(F.count(F.lit(1)).alias("n_r"))
    tot = vocab.agg(
        F.count(F.lit(1)).cast("long").alias("n_total_types"),
        F.sum("c").cast("long").alias("n_total_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("c") == 1, 1)), F.lit(0)
        ).cast("long").alias("n_1"),
    )
    wr = Window.orderBy(F.col("c").asc())
    spine = (
        freqfreq.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") <= max_r)
        .select(F.col("c").alias("r"), F.col("n_r").alias("n_types"))
    )
    nxt = freqfreq.select(
        (F.col("c") - 1).alias("r"), F.col("n_r").alias("n_r1")
    )
    return (
        spine.join(nxt, "r", "left")
        .join(F.broadcast(tot))
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("n_types").cast("long").alias("n_types"),
            F.expr(
                "CAST(((r + 1) * CAST(coalesce(n_r1, 0) AS DECIMAL(38,0))"
                " * 1000000) div CAST(n_types AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("r_star_ppm"),
            "n_total_types", "n_total_tokens",
            F.when(
                F.col("n_total_tokens") > 0,
                F.expr(
                    "CAST((CAST(n_1 AS DECIMAL(38,0)) * 1000000)"
                    " div n_total_tokens AS BIGINT)"
                ),
            ).alias("p0_ppm"),
        )
    )


def mattr(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
) -> DataFrame:
    """Moving-Average Type-Token Ratio (Covington & McFall '10) — the
    length-independent lexical-diversity measure plain TTR
    (`lexical_diversity`) cannot be: TTR falls mechanically with
    document length (Heaps' law), so cross-length comparisons need
    the mean TTR over every ``window``-token sliding window instead.
    Documents shorter than the window fall back to one whole-doc
    window (their plain TTR).

    Exact integers: per position the window's distinct count, summed;
    mattr_ppm = (1e6·Σ distinct) div (w·positions) — cross-multiplied
    floor ppm.

    Output: (doc_id, n_tokens, n_windows, mattr_ppm) — token-free
    docs keep their row with NULLs.

    Scale: a pure per-doc codegen projection (slice/array_distinct
    HOFs) — zero shuffles, zero Python; per-doc cost O(n·w), the
    price of the sliding exactness.
    """
    t = _tokens(text_col)
    base = docs.select(F.col(id_col), t.alias("_t"))
    n = F.size(F.col("_t"))
    w = int(window)
    npos = F.greatest(n - F.lit(w) + 1, F.lit(1))
    eff_w = F.least(n, F.lit(w))
    dsum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), npos),
            lambda i: F.size(F.array_distinct(F.slice(F.col("_t"), i, w))),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    staged = base.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        npos.cast("long").alias("_np"),
        eff_w.cast("long").alias("_ew"),
        dsum.alias("_ds"),
    )
    # integer div, never a float quotient near an integer boundary
    return staged.selectExpr(
        id_col,
        "n_tokens",
        "CASE WHEN n_tokens > 0 THEN _np END AS n_windows",
        "CASE WHEN n_tokens > 0 THEN "
        "CAST((_ds * 1000000) div (_ew * _np) AS BIGINT) END AS mattr_ppm",
    )


def source_token_entropy(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source unigram Shannon entropy in EXACT INTEGER micro-log10
    units — the corpus-health number next to `source_unigram_kl`/`_js`
    (a source whose entropy collapses is boilerplate or template spam;
    one whose entropy explodes relative to its size is noise/OCR), and
    the second production user of the engine-proof exactlog primitive
    (after `heaps_law`): the log inputs here are DATA-DEPENDENT term
    counts over a relation of thousands of rows, exactly the shape
    where per-value libm round-6 logs cannot be boundary-audited at
    build time.

        H(s) = Σ_t (c_st / T_s) · log10(T_s / c_st)
             → h_micro = (Σ_t c_st · (µ(T_s) − µ(c_st))) div T_s

    with µ = ulog10_micro (exactlog.py) — every step an exact integer
    op, so Spark and DuckDB agree bit-for-bit by construction. Output:
    (source, n_terms, n_tokens, h_micro), h in micro-log10 units
    (multiply by log2(10) ≈ 3.3219 for bits — a display concern, kept
    out of the engine).

    Scale: one explode + map-side-combined (source, term) count, one
    source total, one broadcast-shaped join back (the totals relation
    is |sources| rows), the ulog10 projection layers (pure whole-stage
    codegen, no shuffle), and a final per-source agg. Each c·µ
    product is ≤ tokens · 1.8e7; the sum runs in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB sum(BIGINT) widens natively), safe to
    ~5e30 tokens per source — unbounded at any physical corpus; the
    quotient h_micro ≤ 1.8e7 lands back in BIGINT.
    """
    from unitdb_spark.functions.exactlog import with_ulog10

    st = (
        docs.select(
            F.col(source_col).alias("_src"),
            F.explode(_tokens(text_col)).alias("_term"),
        )
        .groupBy("_src", "_term")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    tot = st.groupBy("_src").agg(
        F.sum("_c").alias("_t"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    pairs = with_ulog10(
        st.join(tot, "_src").select(
            "_src", "_c", "_t", "n_terms"
        ),
        {"_uc": "_c", "_ut": "_t"},
    )
    return (
        pairs.groupBy("_src")
        .agg(
            F.first("n_terms").alias("n_terms"),
            F.first("_t").alias("n_tokens"),
            F.sum(
                (F.col("_c") * (F.col("_ut") - F.col("_uc"))).cast("decimal(38,0)")
            ).alias("_s"),
        )
        .select(
            F.col("_src").alias("source"),
            "n_terms",
            "n_tokens",
            # Σ c·(µT − µc) ≥ 0 and T > 0: plain truncating div is floor
            F.expr("_s div n_tokens").cast("long").alias("h_micro"),
        )
    )


def conditional_bigram_entropy(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level conditional bigram entropy H(next | prev) in EXACT
    INTEGER micro-log10 units — the predictability number next to the
    bigram LM (`bigram_logprob` scores DOCUMENTS against the corpus
    model; this scores the CORPUS itself): low conditional entropy
    means templated/repetitive text (each token mostly determines the
    next), high means transitions carry no structure. The fourth
    production user of the exactlog primitive:

        H(Y|X) = Σ_{xy} (c_xy / N) · log10(c_x / c_xy)
               → h_micro = (Σ_{xy} c_xy·(µ(c_x) − µ(c_xy))) div N

    with c_x = Σ_y c_xy (context totals roll up from the Zipf-small
    bigram-TYPE relation, never the token stream), N = total bigram
    instances, µ = ulog10_micro. Every step is an exact integer op —
    the result hashes identically on any engine by construction.

    Output: one row (n_bigrams, n_bigram_types, n_contexts, h_micro).

    Shape (100 TB): one zip_with bigram explode feeding a map-side-
    combined agg on the bigram string; context totals and the entropy
    finish live on the bigram-type relation; the ulog layers are
    shuffle-free codegen projection. Σ c·µ ≤ N·1.8e7 — BIGINT-safe to
    ~5e11 bigram instances; beyond that the product column upgrades
    to DECIMAL(38,0).
    """
    from unitdb_spark.functions.exactlog import with_ulog10

    t = _tokens(text_col)
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    big = docs.select(
        F.explode(
            F.zip_with(
                F.slice(t, 1, n1),
                F.slice(t, 2, n1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bg"),
    )
    bic = big.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("_c"))
    bic = bic.select(
        F.split(F.col("bg"), " ").getItem(0).alias("_prev"), "_c"
    )
    ctx = bic.groupBy("_prev").agg(F.sum("_c").alias("_cx"))
    pairs = with_ulog10(
        bic.join(ctx, "_prev"),
        {"_uc": "_c", "_ux": "_cx"},
    )
    return (
        pairs.agg(
            F.sum("_c").alias("n_bigrams"),
            F.count(F.lit(1)).cast("long").alias("n_bigram_types"),
            F.count_distinct(F.col("_prev")).cast("long").alias("n_contexts"),
            F.sum(F.col("_c") * (F.col("_ux") - F.col("_uc"))).alias("_s"),
        )
        .select(
            "n_bigrams",
            "n_bigram_types",
            "n_contexts",
            # all terms nonneg, N > 0 whenever any bigram exists
            F.expr("_s div n_bigrams").cast("long").alias("h_micro"),
        )
    )


def dsir_logweights(
    docs: DataFrame,
    target_col: str = "is_target",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. '23, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much more likely its tokens are under the TARGET
    distribution's unigram model than under the RAW pool's —
    log w(x) = Σ_tokens [log p̂_target(t) − log p̂_raw(t)] — then
    resample/select by weight. The field-standard cheap data-selection
    method (DSIR selects the Pile subset that matches Wikipedia+books
    before pretraining); this is the weighting stage, with both
    hashed-unigram models add-one smoothed over the SHARED vocabulary.

    ``target_col`` is a boolean column: True rows define the target
    corpus, False rows the raw pool; ALL rows are scored (target docs
    score their own affinity, useful as the sanity diagonal).

    Cross-engine exactness: zero libm — log10s go through the exact
    integer µlog10 program (functions/exactlog.py), so the weight is

      wt_micro = Σ_t m_t·[ulog(c_tgt(t)+1) − ulog(c_raw(t)+1)]
               + n_doc·[ulog(T_raw + V) − ulog(T_tgt + V)]

    (m_t = the doc's count of term t, T_* = model token totals, V =
    shared vocab size; the rearrangement pulls the per-token
    denominator out of the sum). Every term is an exact BIGINT, sums
    are order-free, and the DuckDB oracle replays the identical
    program bit for bit.

    Scale: one explode + (doc, term) agg, one vocab-sized agg, the
    scoring join on term (vocab side Zipf-small — broadcasts when it
    fits), one doc rollup; the totals relation is one broadcast row.

    Output: (doc_id, n_tokens, dsir_wt_micro) — positive = target-like.
    Documents with zero tokens have no unigram evidence and emit no
    row (the oracle drops them identically).
    """
    from unitdb_spark.functions.exactlog import with_ulog10

    base = docs.select(
        F.col(id_col).alias("_id"),
        F.col(target_col).cast("boolean").alias("_tgt"),
        _tokens(text_col).alias("_tk"),
    )
    # (r12 note: a keyed-exchange materialization of _tk + explode_outer
    # was tried here — the shape that wins for rouge/char_entropy — and
    # MEASURED SLOWER (3.0-3.4s -> 5.3-8.7s at sf0.1): tok's two
    # consumers re-run only a cheap scan+tokenize each, and the extra
    # stage boundary costs more than the saved recompute. Reverted;
    # see OPTIMIZATION_r12.md.)
    tok = base.select(
        "_id", "_tgt", F.explode("_tk").alias("term")
    )
    # per (doc, term) multiplicity — the scoring join then moves one
    # row per TYPE per doc, not per token instance
    dt = tok.groupBy("_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("_m")
    )
    vocab = tok.groupBy("term").agg(
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0))
        .cast("long")
        .alias("_ct"),
        F.sum(F.when(F.col("_tgt"), 0).otherwise(1))
        .cast("long")
        .alias("_cr"),
    )
    vocab_u = with_ulog10(
        vocab.select(
            "term",
            (F.col("_ct") + 1).alias("_ct1"),
            (F.col("_cr") + 1).alias("_cr1"),
        ),
        {"ut": "_ct1", "ur": "_cr1"},
    )
    tots = vocab.agg(
        F.sum("_ct").cast("long").alias("_Tt"),
        F.sum("_cr").cast("long").alias("_Tr"),
        F.count(F.lit(1)).cast("long").alias("_V"),
    )
    tots_u = with_ulog10(
        tots.select(
            (F.col("_Tt") + F.col("_V")).alias("_TtV"),
            (F.col("_Tr") + F.col("_V")).alias("_TrV"),
        ),
        {"utt": "_TtV", "utr": "_TrV"},
    ).select("utt", "utr")
    scored = (
        dt.join(vocab_u.select("term", "ut", "ur"), "term")
        .groupBy("_id")
        .agg(
            F.sum("_m").cast("long").alias("n_tokens"),
            F.sum(F.col("_m") * (F.col("ut") - F.col("ur")))
            .cast("long")
            .alias("_s"),
        )
    )
    return scored.crossJoin(F.broadcast(tots_u)).select(
        F.col("_id").alias(id_col),
        "n_tokens",
        (
            F.col("_s")
            + F.col("n_tokens") * (F.col("utr") - F.col("utt"))
        )
        .cast("long")
        .alias("dsir_wt_micro"),
    )
