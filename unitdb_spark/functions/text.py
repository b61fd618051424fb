"""Text-analysis functions for document pipelines.

All pure built-in expressions (split / regexp / aggregate) so the whole
document pass is one codegen stage; the only Python is the rolling-
hash fingerprint's window step, still expression-based.

- token_stats: token count (whitespace + BPE-ish subword estimate),
  char/word lengths.
- quality_score: length / punctuation / digit / stopword ratios
  composed into a [0,1] heuristic (the C4/Gopher-style filters).
- lang_id_scores: marker-word n-gram heuristic over a small per-language
  lexicon — returns per-language hit counts and the argmax language.
- fingerprint64: order-sensitive rolling hash of the token stream
  (document fingerprinting for shift-tolerant near-dup blocking).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unitdb_spark.operators.skew import fan_out

STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on with as at by".split()
)

# tiny marker lexicons: enough signal for a deterministic heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
    "zh": ["的", "是", "了", "在", "我"],
}


def _toks(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(_toks(col))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def stopword_ratio(col: Column | str) -> Column:
    toks = _toks(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def digit_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_dig = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    return n_dig.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def mean_word_len(col: Column | str) -> Column:
    toks = _toks(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic (Gopher/C4-style rules):
    rewards sane length, word shape, stopword presence; penalizes
    punctuation/digit soup. Deterministic arithmetic only."""
    n_tok = token_count(col).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))  # saturate at 50 tokens
    wl = mean_word_len(col)
    shape_score = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    sw_score = F.least(stopword_ratio(col) * F.lit(4.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - punct_ratio(col) * F.lit(5.0), F.lit(0.0))
    digit_pen = F.greatest(F.lit(1.0) - digit_ratio(col) * F.lit(5.0), F.lit(0.0))
    return (
        len_score * F.lit(0.3)
        + shape_score * F.lit(0.2)
        + sw_score * F.lit(0.2)
        + punct_pen * F.lit(0.15)
        + digit_pen * F.lit(0.15)
    )


def lang_marker_hits(col: Column | str, lang: str) -> Column:
    """Count of marker-word occurrences for one language."""
    toks = _toks(col)
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def lang_id(col: Column | str) -> Column:
    """Argmax language over marker hits; 'und' when no marker fires.
    Ties break by fixed language order (en,de,fr,es,zh).

    greatest() over (hits, -order, lang) structs: each language's
    token scan is evaluated exactly once — the naive when-chain nests
    every prior 'best' twice per step, duplicating the hit
    subexpressions ~2^k times in the final plan."""
    entries = [
        F.struct(
            lang_marker_hits(col, lang).alias("h"),
            F.lit(-i).alias("no"),  # earlier language wins ties
            F.lit(lang).alias("l"),
        )
        for i, lang in enumerate(LANG_MARKERS)
    ]
    best = F.greatest(*entries)
    return F.when(best["h"] > 0, best["l"]).otherwise(F.lit("und"))


# PII patterns chosen to behave identically under Java regex (Spark)
# and RE2 (DuckDB/Go): no lookarounds, no backreferences.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_email_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(EMAIL_RE))


def pii_ipv4_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(IPV4_RE))


# URL extraction (web-pipeline provenance): scheme + host + optional
# path, host captured for per-domain stats. Java-regex + RE2 compatible
# (no lookarounds) so SQL oracles replay it verbatim.
URL_RE = r"https?://[A-Za-z0-9.-]+(?:/[^\s]*)?"
URL_HOST_RE = r"https?://([A-Za-z0-9.-]+)"


def url_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(URL_RE))


def first_url_host(col: Column | str) -> Column:
    """Host of the first URL in the document ('' when none) — the
    per-domain key for source-mixture / domain-cap stats over scraped
    corpora. Codegen regexp, scan speed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, URL_HOST_RE, 1)


# C4 page-filter phrases (Raffel et al. 2020 §2.2: boilerplate/policy
# pages and code are dropped). Lowercase-matched.
C4_POLICY_PHRASES = ("terms of use", "privacy policy", "cookie policy", "uses cookies")
C4_LOREM = "lorem ipsum"
C4_MAX_WORD_CHARS = 25
C4_MIN_TOKENS = 5


def c4_rules(col: Column | str) -> dict[str, Column]:
    """The C4 cleanup rules as named boolean Columns (True = rule
    passes), plus the conjunction under 'keep'. Doc-level adaptation of
    the line-level originals: terminal punctuation, a minimum token
    count, a maximum word length (C4 uses 1000 chars to catch minified
    junk; the bound is a parameter here), no 'lorem ipsum', no '{'
    (code), no policy boilerplate phrases. All plain string/array
    expressions — the whole filter runs inside one codegen stage.
    """
    c = F.col(col) if isinstance(col, str) else col
    lower = F.lower(c)
    toks = _toks(col)
    # strip ALL trailing whitespace (incl. newlines) before anchoring:
    # rtrim only strips spaces, and Java's '$' matches before a final
    # newline while RE2's does not — stripping first makes the anchor
    # behave identically on both engines
    stripped = F.regexp_replace(c, r"\s+$", "")
    rules = {
        "r_terminal": F.regexp_count(stripped, F.lit(r"[.!?\"']$")) > 0,
        "r_min_tokens": F.size(toks) >= C4_MIN_TOKENS,
        "r_word_len": ~F.exists(
            toks, lambda t: F.length(t) > F.lit(C4_MAX_WORD_CHARS)
        ),
        "r_lorem": ~lower.contains(C4_LOREM),
        "r_brace": ~c.contains("{"),
        "r_policy": ~F.array_contains(
            F.array(*[lower.contains(p) for p in C4_POLICY_PHRASES]), F.lit(True)
        ),
    }
    keep = None
    for expr in rules.values():
        keep = expr if keep is None else (keep & expr)
    rules["keep"] = keep
    return rules


# Gopher quality-filter constants (Rae et al. 2021, appendix A —
# published heuristics; fractions are encoded as integer ratios below
# so every rule is transcendental- and division-free).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    col: Column | str,
    min_words: int = GOPHER_MIN_WORDS,
    max_words: int = GOPHER_MAX_WORDS,
) -> dict[str, Column]:
    """The Gopher document-quality rules (Rae et al. 2021 appendix A)
    as named boolean Columns (True = rule passes) plus the conjunction
    under 'keep'. Complements ``c4_rules`` (boilerplate/code cues) and
    ``ngram_repetition`` (the repetition section of the same paper):

    - r_word_count: token count in [min_words, max_words]
    - r_mean_len:   mean word length in [3, 10] chars
    - r_symbols:    '#' and '...' each <= 10% of the word count
    - r_bullets:    <= 90% of lines start with a bullet (-, *, •)
      (the paper removes when MORE than 90% — exactly 90% passes)
    - r_ellipsis:   <= 30% of lines end with '...' (same: strictly
      more than 30% fails)
    - r_alpha:      >= 80% of words contain an alphabetic character
    - r_stops:      >= 2 distinct required stop words present

    Every ratio is cross-multiplied to integer arithmetic (e.g.
    ``10*n_bullet < 9*n_lines``), so the whole filter is one codegen
    projection with no floating point — bit-exact against any SQL
    oracle by construction.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = _toks(col)
    n = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    n_ell_line = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$")))
    n_hash = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
    # '...' occurrences: leftmost non-overlapping, so the length delta
    # is always a multiple of 3 and the double division below is exact
    n_ell = ((F.length(c) - F.length(F.regexp_replace(c, r"\.\.\.", ""))) / 3).cast("int")
    n_req = None
    for w in GOPHER_REQUIRED_WORDS:
        hit = F.array_contains(toks, w).cast("int")
        n_req = hit if n_req is None else (n_req + hit)
    rules = {
        "r_word_count": (n >= min_words) & (n <= max_words),
        "r_mean_len": (sum_len >= 3 * n) & (sum_len <= 10 * n),
        "r_symbols": (10 * n_hash <= n) & (10 * n_ell <= n),
        "r_bullets": 10 * n_bullet <= 9 * n_lines,
        "r_ellipsis": 10 * n_ell_line <= 3 * n_lines,
        "r_alpha": 5 * n_alpha >= 4 * n,
        "r_stops": n_req >= 2,
    }
    keep = None
    for expr in rules.values():
        keep = expr if keep is None else (keep & expr)
    rules["keep"] = keep
    return rules


def scrub_pii(col: Column | str) -> Column:
    """Redact emails and IPv4 addresses with typed placeholders — the
    training-data privacy pass (C4-style scrubbing). Pure
    ``regexp_replace`` (global), so scrubbing runs at scan speed inside
    codegen; order is email-then-ip (an email can't contain an IPv4
    once redacted, so the order is observable and must match the SQL
    oracle's)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, IPV4_RE, "<IP>")


#: payment-card candidate: 13-19 digits, optionally single-space/dash
#: separated. Java-regex + RE2 compatible (\b is supported by both;
#: no lookarounds). Shared verbatim with the DuckDB oracle.
CCN_RE = r"\b\d(?:[ -]?\d){12,18}\b"


def _luhn_sql(d: str) -> str:
    """SQL fragment: Luhn checksum validity of the digits-only string
    expression ``d`` — from the RIGHT, double every second digit,
    subtract 9 when it exceeds 9, sum ≡ 0 (mod 10). Pure higher-order
    functions (aggregate over a position sequence), identical text in
    Spark and DuckDB-lambda form is kept trivially translatable."""
    dig = f"CAST(substr(reverse({d}), i + 1, 1) AS INT)"
    return (
        f"aggregate(sequence(0, length({d}) - 1), 0, (acc, i) -> acc + "
        f"CASE WHEN i % 2 = 0 THEN {dig} "
        f"WHEN 2 * {dig} > 9 THEN 2 * {dig} - 9 "
        f"ELSE 2 * {dig} END) % 10 = 0"
    )


def ccn_candidates(col: Column | str) -> Column:
    """Luhn-VERIFIED payment-card matches (original spelling, with
    separators): regex candidates filtered by the checksum, so a
    random 16-digit number is ~90% likely rejected — the verification
    step that separates card scrubbing from blind digit redaction.
    Entirely JVM-side (regexp + nested higher-order functions): no
    UDF, scan-speed inside codegen."""
    name = col if isinstance(col, str) else None
    expr = name or "(_ccn_src)"
    if name is None:
        raise ValueError("ccn_candidates: pass a column NAME (SQL fragment)")
    digits = "replace(replace(c, ' ', ''), '-', '')"
    return F.expr(
        f"filter(regexp_extract_all({expr}, '{CCN_RE.replace(chr(92), chr(92) * 2)}', 0), "
        f"c -> {_luhn_sql(digits)})"
    )


def pii_ccn_count(col: Column | str) -> Column:
    """Count of Luhn-valid card numbers in the text."""
    return F.size(ccn_candidates(col))


def scrub_ccn(col: Column | str) -> Column:
    """Replace each Luhn-valid card match (its exact original
    spelling) with ``[CCN]`` — a left fold of literal replaces over
    the verified candidates, so unverified digit runs (order IDs,
    timestamps) survive untouched."""
    name = col if isinstance(col, str) else None
    if name is None:
        raise ValueError("scrub_ccn: pass a column NAME (SQL fragment)")
    return F.aggregate(
        ccn_candidates(col),
        F.col(name),
        lambda acc, c: F.replace(acc, c, F.lit("[CCN]")),
    )


def fingerprint64(col: Column | str) -> Column:
    """Order-sensitive 64-bit rolling document fingerprint: fold the
    token stream with a hash chain h' = xxhash64(h, token). Unlike
    simhash this is sensitive to token order — an exact-content
    fingerprint robust to whitespace normalization. (A hash chain
    rather than h*31+x so the fold is overflow-free under ANSI mode.)"""
    toks = _toks(col)
    return F.aggregate(
        toks,
        F.lit(1125899906842597).cast("long"),  # seed
        lambda acc, t: F.xxhash64(acc, t),
    )


def fingerprint64_md5(col: Column | str) -> Column:
    """Engine-portable twin of ``fingerprint64``: the hash chain is
    h' = md5(h || token) over the ordered token stream, folded to a
    60-bit int via the first 15 hex chars — every step (md5, string
    fold, hex->int) exists identically in any SQL engine, so external
    oracles can replay it exactly. xxhash64 variant stays the fast
    path (pure JVM arithmetic vs digest per token)."""
    from unitdb_spark.functions.portable_hash import md5_int60

    toks = _toks(col)
    chain = F.aggregate(toks, F.lit(""), lambda acc, t: F.md5(F.concat(acc, t)))
    return md5_int60(chain)


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 128,
    overlap: int = 16,
):
    """Split documents into fixed-token windows with overlap — the
    standard training-data chunking pass (context-length packing).

    Pure JVM expressions: tokenize once, generate window starts with
    ``sequence`` (stride = max_tokens - overlap), slice each window and
    re-join. One output row per chunk; no UDF, no shuffle — chunking is
    embarrassingly parallel and stays inside whole-stage codegen, so at
    100 TB it runs at scan speed.

    Output: (id, chunk_idx, chunk_text, n_tokens).
    """
    from pyspark.sql import functions as F

    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = max_tokens - overlap
    toks = _toks(text_col)
    n = F.size(toks)
    # window starts: 0, stride, 2*stride, ... while start < n (at least
    # one chunk even for empty docs)
    starts = F.sequence(
        F.lit(0),
        F.floor(F.greatest(n - F.lit(1), F.lit(0)) / F.lit(stride)).cast("int"),
    )
    # sequence already stops at the last start < n (and yields [0] for
    # empty docs), so every generated element is a valid chunk index
    out = df.select(
        F.col(id_col).alias("id"),
        toks.alias("_tok"),
        F.explode(starts).alias("chunk_idx"),
    )
    piece = F.slice(F.col("_tok"), F.col("chunk_idx") * stride + 1, max_tokens)
    return out.select(
        "id",
        "chunk_idx",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("n_tokens"),
    )


def ngram_repetition(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
):
    """Gopher-style repetition signal per document: the fraction of the
    document's word n-grams occupied by its single most frequent n-gram
    (high → boilerplate/spam).

    Explode + two same-key aggregations (doc,gram)→count, doc→max:
    map-side partial aggregation collapses each doc's grams before the
    exchange, so the shuffle carries (doc, distinct-gram) partials —
    linear in input, unlike the O(grams × distinct) nested-array-filter
    formulation, which is quadratic per document.

    Documents with fewer than ``n`` tokens have no full n-gram and get
    rep_ratio 0.0 — the Gopher rules judge short docs by other signals;
    scoring them as maximally repetitive would purge every short doc.

    Output: (id_col, rep_ratio DOUBLE).
    """
    from pyspark.sql import functions as F

    # materialize the token array FIRST: an expression referenced inside
    # a higher-order lambda is re-evaluated per element, so inlining the
    # split would tokenize the document once per gram (quadratic)
    t = df.select(F.col(id_col), _toks(text_col).alias("_tok"))
    toks = F.col("_tok")
    short = F.size(toks) < n
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.when(short, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    # bind the gram array and materialize it through one keyed exchange
    # before sizing/exploding it: Generate re-evaluates a non-attribute
    # child per OUTPUT row and F.size would evaluate it once more
    # (r12 Generate finding, see rouge_n_pairs).
    par = df.sparkSession.sparkContext.defaultParallelism
    bound = t.select(F.col(id_col), grams.alias("_ga")).repartition(
        par, F.col(id_col)
    )
    ex = bound.select(
        F.col(id_col),
        F.size("_ga").alias("_n_grams"),
        F.explode_outer("_ga").alias("_g"),
    )
    per_gram = ex.groupBy(id_col, "_n_grams", "_g").agg(
        F.count(F.col("_g")).alias("_c")
    )
    return per_gram.groupBy(id_col, "_n_grams").agg(
        F.max("_c").alias("_mx")
    ).select(
        id_col,
        F.when(F.col("_n_grams") < 1, F.lit(0.0))
        .otherwise(F.col("_mx").cast("double") / F.col("_n_grams").cast("double"))
        .alias("rep_ratio"),
    )


# Control characters to strip during normalization (keep \t \n \r,
# which the whitespace collapse handles). Shared verbatim with the
# DuckDB oracle — Java regex and RE2 both accept \xHH classes.
CONTROL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def nfc(col: Column | str, form: str = "NFC"):
    """Unicode normalization of a string column.

    Spark has no built-in Unicode-normalization expression, so this is
    one of the repo's few Python touchpoints — an Arrow-vectorized
    pandas UDF (pandas ``Series.str.normalize``, null-safe). Everything
    around it (control strip, whitespace collapse) stays JVM-side so
    only the normalization itself pays the Python hop.
    """
    import pandas as pd  # noqa: F401

    @F.pandas_udf("string")
    def _nfc(s):
        return s.str.normalize(form)

    c = F.col(col) if isinstance(col, str) else col
    return _nfc(c)


def normalize_text(col: Column | str, form: str = "NFC") -> Column:
    """Full text cleanup: Unicode-normalize (NFC), strip control
    characters, collapse runs of whitespace to single spaces, trim.

    The standard first pass of an LLM-training-data pipeline (fixes
    mojibake-adjacent decomposition, kills stray control bytes, makes
    whitespace canonical before tokenization/dedup). The reference has
    no text surface at all; this belongs to the training-pipeline
    operator set the north star adds.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = nfc(c, form)
    out = F.regexp_replace(out, CONTROL_RE, "")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


# RefinedWeb-style line-wise cleanup (Penedo et al. 2023 — the line
# corrections applied before document-level filtering). Lowercase-
# matched navigation/boilerplate captions.
LINE_NAV_WORDS = (
    "home", "menu", "search", "share", "sign in", "log in",
    "read more", "advertisement",
)


def line_filter(col: Column | str) -> dict[str, Column]:
    """Line-wise quality cleanup: drop navigation captions, all-caps
    shouting lines, lines with no alphabetic content, and fragments
    under 3 words that do not end in terminal punctuation — the
    RefinedWeb "line-wise corrections" stage, complementing the
    document-level C4/Gopher gates and the corpus-level duplicate-line
    removal (``operators.dedup.line_dedup``).

    Pure array/string expressions over the split line list — the whole
    cleanup is ONE codegen projection, zero shuffles, embarrassingly
    parallel. Returns Columns: ``n_lines``, ``n_removed``, and
    ``clean_text`` (kept lines re-joined, original order).
    """
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, "\n")

    def keep(l: Column) -> Column:
        lower_t = F.lower(F.trim(l))
        n_words = F.size(F.filter(F.split(F.trim(l), r"\s+"), lambda t: t != ""))
        has_alpha = l.rlike("[A-Za-z]")
        all_caps = (F.upper(l) == l) & has_alpha
        nav = None
        for w in LINE_NAV_WORDS:
            hit = lower_t == w
            nav = hit if nav is None else (nav | hit)
        short = (n_words < 3) & ~l.rlike(r"[.!?]\s*$")
        return has_alpha & ~all_caps & ~nav & ~short

    kept = F.filter(lines, keep)
    return {
        "n_lines": F.size(lines),
        "n_removed": F.size(lines) - F.size(kept),
        "clean_text": F.array_join(kept, "\n"),
    }


def char_entropy(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document character-level Shannon entropy in EXACT INTEGER
    micro-log10 units — the classic gibberish/compression-artifact
    detector (natural text sits ~4-4.5 bits/char ≈ 1.20-1.35e6 µlog10;
    base64 blobs and key-mash both stand out, high and low).

    H(d) = Σ_c (n_c/n)·log10(n/n_c)
         → h_micro = (Σ_c n_c·(µ(n) − µ(n_c))) div n

    with µ = ulog10_micro (exactlog.py). The original round-6 libm
    formulation was caught by the round-10 perturbation audit
    (scripts/audit_transcendentals.py): a per-(doc, char-class)
    -p·log2(p) value sits within 1e-13 relative of a 6dp rounding
    boundary at sf0.01, i.e. a one-ulp libm disagreement between
    engines would flip the rendered output — the doc_heaps class.
    The exactlog finish is the structural fix: every step an exact
    integer op, identical on every engine by construction. Bits =
    h_micro / (1e6·log10(2)) — a display concern, kept out of the
    engine (convention shared with source_token_entropy et al.).

    Characters enumerate via substr(text, i, 1) over a generated index
    — the identical construction replays in SQL (no engine-specific
    empty-pattern split semantics).

    Shape: explode is linear in characters; one (id, char) partial-agg
    shuffle + one id rollup; the ulog10 layers are pure whole-stage
    codegen projection. Products n_c·µ ≤ n·1.8e7 sum in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) — unbounded at any physical document.

    Output: (id, n_chars_m, n_unique, h_micro).
    """
    from pyspark.sql import functions as F

    from unitdb_spark.functions.exactlog import with_ulog10

    # guard the empty doc: sequence(1, 0) is [1, 0] in Spark (a DOWN
    # ramp, not empty) — unguarded it explodes two '' rows with n=0 and
    # the p division blows up under ANSI; an empty doc has no character
    # distribution, so it is absent from the output on BOTH engines
    # (DuckDB's generate_series(1, 0) is empty).
    #
    # r12 shape: explode the index SEQUENCE and take substr(text, i, 1)
    # AFTER the explode, instead of exploding a pre-built n-element
    # char array — Generate's non-attribute child is re-evaluated per
    # OUTPUT row, so the old array-of-substrings child cost O(chars²)
    # string work per doc (17s single-task at sf0.1; 1.3s this way).
    # explode_OUTER + the NULL-index filter keeps the empty-doc
    # semantics (sequence indices are never NULL, so NULL marks only
    # the fabricated row of an n=0 doc, which inner explode dropped)
    # while blocking InferFiltersFromGenerate's pushed-down inline of
    # the child.
    narrow = fan_out(docs.select(
        F.col(id_col).alias("id"),
        F.length(text_col).alias("n"),
        F.col(text_col).alias("_txt"),
    ))
    chars = (
        narrow.select(
            "id",
            "n",
            "_txt",
            F.explode_outer(
                F.when(
                    F.col("n") > 0, F.sequence(F.lit(1), F.col("n"))
                ).otherwise(F.array().cast("array<int>"))
            ).alias("_i"),
        )
        .filter(F.col("_i").isNotNull())
        .select("id", "n", F.col("_txt").substr(F.col("_i"), F.lit(1)).alias("ch"))
    )
    counts = chars.groupBy("id", "n", "ch").agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    # via_distinct: the (doc, char) relation is corpus-sized but its
    # values are doc lengths and per-char counts — tiny distinct sets;
    # the inline layer chain evaluated interpreted at ~13us/row here
    # (r12: 17s -> 4.4-5.7s at sf0.1).
    pairs = with_ulog10(
        counts.select("id", F.col("n").cast("long").alias("n"), "n_c"),
        {"_un": "n", "_uc": "n_c"},
        via_distinct=True,
    )
    return (
        pairs.groupBy("id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(
                (F.col("n_c") * (F.col("_un") - F.col("_uc"))).cast("decimal(38,0)")
            ).alias("_s"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n").alias("n_chars_m"),
            "n_unique",
            # Σ n_c·(µn − µc) ≥ 0 and n > 0: truncating div is floor
            F.expr("_s div n").cast("long").alias("h_micro"),
        )
    )


def syllable_count(col: Column | str) -> Column:
    """Heuristic syllables for ONE lowercase token: maximal vowel
    runs ([aeiouy]+), minus one for a silent trailing 'e' when
    another vowel run exists, floored at 1 — the standard
    Flesch-family approximation, pure regex so any engine replays
    it."""
    c = F.col(col) if isinstance(col, str) else col
    runs = F.regexp_count(c, F.lit("[aeiouy]+"))
    silent_e = F.when(c.rlike("e$") & (runs >= 2), 1).otherwise(0)
    return F.greatest(runs - silent_e, F.lit(1))


def readability_scores(text_col: Column | str = "text") -> list[Column]:
    """Flesch reading-ease + Flesch-Kincaid grade as column list.

    (n_sentences, n_words, n_syllables, fk_grade_r, ease_r):
    sentences = [.!?]+ runs in the RAW text (floor 1), words =
    whitespace tokens, syllables summed per token inside one
    higher-order expression — integer-exact counts, zero shuffles,
    all codegen. The two scores evaluate their textbook formulas in
    a PINNED operation order and round to 6, so both engines produce
    bit-identical doubles.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = _toks(c)
    n_sent = F.greatest(F.regexp_count(c, F.lit("[.!?]+")), F.lit(1)).cast("long")
    n_words = F.greatest(F.size(toks), F.lit(1)).cast("long")
    n_syl = F.aggregate(
        F.transform(toks, syllable_count), F.lit(0).cast("long"), lambda a, x: a + x
    )
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = n_syl.cast("double") / n_words.cast("double")
    fk = F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6)
    ease = F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6)
    return [
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syl.alias("n_syllables"),
        fk.alias("fk_grade_r"),
        ease.alias("ease_r"),
    ]


def canonical_url(col: Column | str) -> Column:
    """Canonical form of a URL for web-corpus dedup keys.

    The same page arrives under dozens of spellings — tracking
    params, fragments, WWW/case/port variants, trailing slashes —
    and URL-keyed dedup is only as good as the canonicalization.
    Rules (all pure regex/array expressions, engine-replayable):

    - strip the #fragment;
    - scheme and host lowercase; leading ``www.`` dropped; default
      ports (``:80`` http, ``:443`` https) dropped;
    - tracking params removed (``utm_*``, ``fbclid``, ``gclid``,
      ``ref``), survivors SORTED (param order never distinguishes
      pages);
    - trailing slashes dropped from the path.

    Non-URL input passes through unchanged (the caller decides what
    counts as a URL candidate). Zero shuffles — scan-speed like the
    PII scrubber.
    """
    c = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(c, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z]+)://", 1))
    host0 = F.lower(F.regexp_extract(u, r"^[A-Za-z]+://([^/?#]+)", 1))
    host1 = F.regexp_replace(host0, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host1, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host1, ":443$", ""))
        .otherwise(host1)
    )
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[A-Za-z]+://[^/?#]+([^?]*)", 1), "/+$", ""
    )
    query = F.regexp_extract(u, r"\?(.*)$", 1)
    keep = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda t: (t != "")
            & ~t.rlike(r"^(utm_[^=]*|fbclid|gclid|ref)="),
        )
    )
    q2 = F.array_join(keep, "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q2 != "", F.concat(F.lit("?"), q2)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", c).otherwise(rebuilt)


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (100, 1000, 10000),
) -> DataFrame:
    """Vocabulary coverage curve: what share of the corpus' token
    INSTANCES do the top-k most frequent types cover, per k.

    The tokenizer-budget question (how big a vocab before the tail is
    all <unk>?) answered with exact integers: type counts are one
    map-side-combined aggregate; the cumulative instance counts ride
    a rank window over the VOCABULARY relation (Zipf-small next to
    the corpus — the only sort is vocab-sized, never token-sized).

    Output: (k, n_types, covered, total, covered_ppm) — n_types =
    min(k, |vocab|), covered/total exact instance counts, floor-ppm
    share. Ties at the rank boundary break by (count DESC, token) —
    deterministic on any engine.
    """
    from pyspark.sql import Window

    toks = _toks(F.col(text_col))
    counts = (
        df.select(F.explode(toks).alias("_t"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w = Window.orderBy(F.col("_n").desc(), "_t")
    ranked = counts.select(
        "_t", "_n",
        F.row_number().over(w).alias("_rk"),
        F.sum("_n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_cum"),
    )
    total = counts.agg(
        F.sum("_n").alias("_total"), F.count(F.lit(1)).alias("_vocab")
    )
    ks_df = df.sparkSession.createDataFrame([(k,) for k in ks], ["k"])
    # per k: the cumulative count at rank min(k, vocab)
    at_k = (
        ks_df.join(total)
        .join(
            ranked.select(F.col("_rk").alias("_cut"), F.col("_cum")),
            F.col("_cut") == F.least(F.col("k"), F.col("_vocab")),
        )
    )
    return at_k.select(
        "k",
        F.least(F.col("k"), F.col("_vocab")).cast("long").alias("n_types"),
        F.col("_cum").alias("covered"),
        F.col("_total").alias("total"),
        F.floor(F.col("_cum") * F.lit(1_000_000) / F.col("_total"))
        .cast("long")
        .alias("covered_ppm"),
    )


def zlib_len(col: Column | str, level: int = 6):
    """DEFLATE-compressed byte length of a string column — the raw
    material of the compression-ratio quality signal (Gopher/CCNet
    lineage: highly repetitive boilerplate compresses far below
    natural prose; random gibberish barely compresses at all, so the
    ratio separates both failure modes from real text with one
    number).

    Arrow-vectorized pandas UDF over Python's stdlib zlib — a genuine
    Python touchpoint (Spark has no compression expression), same
    sanctioned-surface status as ``nfc``. Deterministic for a fixed
    zlib/level, which is why the driver declaration is rows-only: the
    DEFLATE byte count is not expressible in SQL, so there is no
    DuckDB oracle to replay it (the novelty/repetition operators are
    the oracle-checkable cousins of this signal).
    """
    import zlib

    import pandas as pd

    @F.pandas_udf("long")
    def _zl(s):
        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), level))
            if t is not None
            else None
        ).astype("Int64")

    c = F.col(col) if isinstance(col, str) else col
    return _zl(c)


def compression_signal(
    df: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """Per-document compression-ratio quality signal:
    (id cols..., n_bytes, zlib_bytes, ratio_ppm) with ratio_ppm =
    floor(zlib_bytes · 1e6 / n_bytes) (NULL for empty text). Only the
    DEFLATE length pays the Python hop; byte length and the ratio stay
    JVM-side. Typical bands: boilerplate/template spam < ~250k ppm,
    natural prose ~300–600k, random noise > ~900k — gate OUTSIDE the
    prose band rather than a single threshold."""
    n_bytes = F.octet_length(F.col(text_col))
    return df.select(
        *[c for c in df.columns if c != text_col],
        n_bytes.alias("n_bytes"),
        zlib_len(text_col, level).alias("zlib_bytes"),
    ).withColumn(
        "ratio_ppm",
        F.when(
            F.col("n_bytes") > 0,
            F.floor(F.col("zlib_bytes") * 1_000_000 / F.col("n_bytes")).cast(
                "long"
            ),
        ),
    )


def rle_run_density(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document run-length density — the SQL-EXPRESSIBLE
    compressibility proxy next to `compression_signal`'s DEFLATE
    ratio (which is rows-only by necessity: zlib exists in neither
    DuckDB nor pure SQL; CRC32 was also checked and DuckDB lacks it).
    A maximal run of identical characters compresses to one RLE
    token, so run density = n_runs / n_chars prices the same
    repetitive-boilerplate signal deterministically in both engines:

        n_runs   = 1 + |{i : s[i] ≠ s[i−1]}|   (0 for empty text)
        runs_ppm = floor(n_runs · 1e6 / n_chars)   (NULL when empty)

    near-1e6 ppm = no character-level repetition (prose, noise);
    low ppm = run-heavy padding/ASCII-art/template fill — the
    character-granularity end of the scale whose token-granularity
    ends are doc_repetition (dup n-grams) and doc_char_entropy.

    Output: (id cols..., n_chars, n_runs, runs_ppm), all exact
    integers — full-oracle checkable (DuckDB replays the neighbor
    compare via list_transform over range + substr).

    Scale: one JVM-side whole-stage-codegen pass; the zip_with
    neighbor compare materializes the char array per row (~2× text
    in flight, same class as any tokenize). No shuffle, no window,
    no Python.
    """
    s = F.col(text_col)
    n_chars = F.length(s)
    runs = F.expr(
        f"CASE WHEN char_length({text_col}) <= 1"
        f" THEN char_length({text_col})"
        f" ELSE size(filter(zip_with("
        f"slice(split({text_col}, ''), 1, char_length({text_col}) - 1),"
        f" slice(split({text_col}, ''), 2, char_length({text_col}) - 1),"
        f" (a, b) -> a <> b), x -> x)) + 1 END"
    )
    return df.select(
        *[c for c in df.columns if c != text_col],
        n_chars.cast("long").alias("n_chars"),
        runs.cast("long").alias("n_runs"),
    ).withColumn(
        "runs_ppm",
        F.when(
            F.col("n_chars") > 0,
            F.expr("(n_runs * 1000000L) div n_chars"),
        ).cast("long"),
    )


#: NANP phone candidate: optional +1 prefix, 3-3-4 digit groups with
#: (), dash, dot or space separators. Java-regex + RE2 compatible (no
#: lookarounds). Shared verbatim with the DuckDB oracle.
PHONE_RE = r"(\+1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b"

_PHONE_STRIP = (
    "replace(replace(replace(replace(replace(replace("
    "c, '+', ''), ' ', ''), '-', ''), '.', ''), '(', ''), ')', '')"
)


def _nanp_sql(dd: str) -> str:
    """SQL fragment: NANP validity of the digits-only string ``dd`` —
    the verification step separating phone scrubbing from blind
    digit redaction (area code and exchange must start 2-9; an
    optional leading country code 1). Identical text evaluates in
    Spark and DuckDB."""
    return (
        f"((length({dd}) = 10 AND substr({dd}, 1, 1) BETWEEN '2' AND '9'"
        f" AND substr({dd}, 4, 1) BETWEEN '2' AND '9')"
        f" OR (length({dd}) = 11 AND substr({dd}, 1, 1) = '1'"
        f" AND substr({dd}, 2, 1) BETWEEN '2' AND '9'"
        f" AND substr({dd}, 5, 1) BETWEEN '2' AND '9'))"
    )


def phone_candidates(col: Column | str) -> Column:
    """NANP-VERIFIED phone matches (original spelling, with
    separators): regex candidates filtered by the numbering-plan
    check, so digit runs with impossible area/exchange codes (order
    ids, timestamps, the planted 015 decoy) survive untouched —
    the `ccn_candidates` contract with the plan check standing in
    for Luhn. Entirely JVM-side codegen, no UDF."""
    name = col if isinstance(col, str) else None
    if name is None:
        raise ValueError("phone_candidates: pass a column NAME")
    return F.expr(
        f"filter(regexp_extract_all({name}, "
        f"'{PHONE_RE.replace(chr(92), chr(92) * 2)}', 0), "
        f"c -> {_nanp_sql(_PHONE_STRIP)})"
    )


def pii_phone_count(col: Column | str) -> Column:
    """Count of NANP-valid phone numbers in the text."""
    return F.size(phone_candidates(col))


def scrub_phone(col: Column | str) -> Column:
    """Replace each NANP-valid phone match (its exact original
    spelling) with ``[PHONE]`` — the same left-fold replace as
    `scrub_ccn`, so unverified digit runs survive."""
    name = col if isinstance(col, str) else None
    if name is None:
        raise ValueError("scrub_phone: pass a column NAME")
    return F.aggregate(
        phone_candidates(col),
        F.col(name),
        lambda acc, c: F.replace(acc, c, F.lit("[PHONE]")),
    )
