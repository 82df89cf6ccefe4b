"""Text-analysis operators (north-star extension, SURVEY.md §2.13).

Pure Column-expression builders over a text column — language ID
(stopword heuristic), quality scoring, token counting (whitespace and
regex/BPE-ish), and document fingerprinting. Everything stays in
whole-stage codegen (split/filter/transform higher-order functions);
no Python UDFs, so the same pass scales to 100 TB of documents with
zero serialization overhead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny embedded stopword lists (public common words). Used for the
# stopword-ratio quality feature and the language-ID heuristic.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "es"),
    "fr": ("le", "la", "et", "de", "un", "une", "est", "que"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den"),
}

# A BPE-ish pre-tokenizer: words, numbers, or single non-space symbols.
# Whitespace spelled as an explicit class — inside the negated class,
# Java's \s (includes U+000B) and RE2's (excludes it) would otherwise
# disagree on whether \x0B is a symbol token. The constant is spliced
# verbatim into the DuckDB oracle, so one spelling serves both engines.
REGEX_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


#: whitespace-split class, spelled explicitly so Spark (Java regex,
#: where \s includes U+000B) tokenizes the IDENTICAL set as the DuckDB
#: oracles' RE2 \s+ (which excludes it) — the same engine-drift class
#: the r12 ADVICE flagged for unicode_canonical, fixed centrally here
#: for every token_count/tokens-derived oracle pair. \x0B is a token
#: character on both sides.
WS_SPLIT = r"[ \t\n\f\r]+"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (see WS_SPLIT for the engine-parity
    contract)."""
    return F.split(_as_col(text), WS_SPLIT)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def unique_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def regex_token_count(text: Column | str) -> Column:
    """Token count under a regex pre-tokenizer (BPE-ish word/number/symbol)."""
    return F.size(F.regexp_extract_all(_as_col(text), F.lit(REGEX_TOKEN_PATTERN), F.lit(0)))


def stopword_hits(text: Column | str, words: tuple[str, ...]) -> Column:
    """Number of tokens that are in the given stopword list."""
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def stopword_ratio(text: Column | str, words: tuple[str, ...]) -> Column:
    return stopword_hits(text, words) / token_count(text)


def type_token_ratio(text: Column | str) -> Column:
    """Lexical diversity: unique tokens / tokens."""
    return unique_token_count(text) / token_count(text)


def quality_label(text: Column | str) -> Column:
    """Heuristic quality bucket: too_short / repetitive / no_stopwords / ok.

    Mirrors the length/stopword/diversity ratio features used by public
    LLM-corpus quality filters: fewer than 10 tokens is too_short, a
    type-token ratio below 0.3 is repetitive.
    """
    t = _as_col(text)
    return (
        F.when(token_count(t) < 10, "too_short")
        .when(type_token_ratio(t) < 0.3, "repetitive")
        .when(stopword_hits(t, STOPWORDS["en"]) == 0, "no_stopwords")
        .otherwise("ok")
    )


def lang_id(text: Column | str) -> Column:
    """N-gram/stopword language-ID heuristic over STOPWORDS languages.

    Scores each language by stopword hit count; returns the argmax
    (ties broken by language code order), 'und' when nothing hits.
    Deterministic, expression-only — at scale this is one codegen'd
    pass, no shuffle.
    """
    t = _as_col(text)
    scored = sorted(STOPWORDS.items())  # deterministic tie order
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for code, words in scored:
        s = stopword_hits(t, words)
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(code)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def normalized_text(text: Column | str) -> Column:
    """Lowercase + collapse whitespace — canonical form for fingerprints."""
    return F.lower(F.regexp_replace(_as_col(text), WS_SPLIT, " "))


def fingerprint_md5(text: Column | str) -> Column:
    """Deterministic document fingerprint of the normalized text."""
    return F.md5(normalized_text(text))


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token-array column.

    Prefer this over :func:`shingles` when the caller can put the
    tokenization behind its own projection (``.select(tokens(text)
    .alias("_toks"))`` then ``shingles_of(F.col("_toks"))``): the
    lambda below references the token array n+2 times, and if that
    reference is the raw ``split()`` expression rather than an
    attribute, each shingle position re-runs the tokenizer (HOF lambdas
    get no common-subexpression elimination — see operators/dedup.py).
    A multi-referenced non-cheap alias survives CollapseProject, so the
    split runs once per row.
    """
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws("_", *[F.element_at(toks, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard over two string arrays (distinct semantics)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


# --------------------------------------------------------------------------
# Repetition signals (Gopher-style corpus quality features)
# --------------------------------------------------------------------------

def duplicate_ngram_fraction(toks: Column) -> Column:
    """Fraction of trigram OCCURRENCES that are repeats of an earlier one
    (1 - distinct/total) — the classic within-document repetition signal.
    Pure expression over the token-array attribute; 0.0 for docs shorter
    than 3 tokens."""
    sh = shingles_of(toks, 3)
    return F.when(
        F.size(sh) > 0,
        F.round(1 - F.size(F.array_distinct(sh)) / F.size(sh), 6),
    ).otherwise(F.lit(0.0))


def repetition_signals(df):
    """Per-document repetition features: top-unigram coverage,
    top-bigram coverage, duplicate-trigram fraction.

    Top-n-gram coverage (share of all n-gram occurrences taken by the
    single most frequent one) needs per-gram counts, so it is a
    shuffle-based two-level aggregation (explode -> count -> max/sum),
    NOT a higher-order expression — per-doc gram histograms inside a
    lambda would re-evaluate the tokenizer per element (see
    operators/dedup.py). All three aggs key on the id, so the initial
    id-repartition is reused by every exchange; map-side partials keep
    the shuffles gram-count-sized.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    base = df.repartition(n_parts, F.col("doc_id")).select(
        F.col("doc_id"), tokens(F.col("text")).alias("_toks")
    )

    def top_cov(gram_col: Column, out: str):
        return (
            base.select(F.col("doc_id"), F.explode(gram_col).alias("_g"))
            .groupBy("doc_id", "_g")
            .agg(F.count(F.lit(1)).alias("_c"))
            .groupBy("doc_id")
            .agg(F.round(F.max("_c") / F.sum("_c"), 6).alias(out))
        )

    uni = top_cov(F.col("_toks"), "top_unigram_cov")
    bi = top_cov(shingles_of(F.col("_toks"), 2), "top_bigram_cov")
    tri = base.select(
        F.col("doc_id"), duplicate_ngram_fraction(F.col("_toks")).alias("dup_trigram_frac")
    )
    return uni.join(bi, "doc_id").join(tri, "doc_id")


# --------------------------------------------------------------------------
# PII scrubbing (training-data hygiene pass)
# --------------------------------------------------------------------------

#: patterns restricted to the Java-regex / RE2 common subset so the
#: DuckDB oracle applies the byte-identical regexes.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\b\d{3}-\d{4}\b",
}

#: replacement token per pattern
PII_TOKENS = {"email": "[EMAIL]", "url": "[URL]", "phone": "[PHONE]"}

#: application order matters (an email inside a URL query string should
#: be consumed by the URL rule only if URLs are replaced first — we
#: deliberately redact emails first so mailto-style text loses the
#: address itself); keep it fixed and mirrored in the oracle.
PII_ORDER = ("email", "url", "phone")


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Match counts per PII class (cheap pre-redaction audit columns)."""
    t = _as_col(text)
    return {
        name: F.size(F.regexp_extract_all(t, F.lit(PII_PATTERNS[name]), F.lit(0)))
        for name in PII_ORDER
    }


def redact_pii(text: Column | str) -> Column:
    """Replace every email/URL/phone match with its class token.

    Sequential regexp_replace chain in PII_ORDER — one codegen'd pass
    per pattern, no Python. At 100 TB this is a map-only stage."""
    out = _as_col(text)
    for name in PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[name], PII_TOKENS[name])
    return out


# Gopher-style document-quality screen (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", Appendix A: MassiveWeb filters) —
# the standard pre-training corpus gate the reference's quality
# heuristics approximate. Bounds are the published defaults except
# the word-count floor, which is a parameter (the paper uses 50).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_DISTINCT_RATIO = 0.2
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_SYMBOL_FRAC = 0.1


def gopher_signals(
    text: Column | str | None = None,
    *,
    toks: Column | str | None = None,
) -> dict[str, Column]:
    """All Gopher screen signals in ONE zero-shuffle pass.

    Every signal is a higher-order function over the token array:
    codegen'd, map-only, no explode, no shuffle — per-row cost is
    O(words), independent of corpus size, so the screen is a narrow
    stage at any scale.

    Callers should pass ``toks`` bound to a token array PROJECTED ONCE
    in a select below this expression (the ``_toks`` discipline used by
    decontaminate_bloom_prefilter): HOF lambdas given a raw ``split()``
    expression get no common-subexpression elimination (see the
    shingles_of note above), so building from ``text`` re-runs the
    tokenizer once per signal. CollapseProject does not inline an
    expensive producer referenced by several consumers, so the aliased
    array is tokenized exactly once. ``text`` is kept for one-signal
    callers and compatibility.
    """
    if toks is not None:
        ws = _as_col(toks)
    else:
        ws = tokens(_as_col(text))
    n = F.size(ws)
    nd = n.cast("double")
    total_len = F.aggregate(
        F.transform(ws, lambda w: F.length(w)), F.lit(0), lambda a, v: a + v
    )
    mean_len = F.round(total_len.cast("double") / nd, 6)
    distinct_ratio = F.round(F.size(F.array_distinct(ws)).cast("double") / nd, 6)
    stop_n = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS["en"])))
    alpha_frac = F.round(
        F.size(F.filter(ws, lambda w: w.rlike("^[A-Za-z]+$"))).cast("double") / nd, 6
    )
    # symbol-to-word ratio counts '#', ASCII '...' and unicode '…'
    # (the paper's symbol set)
    symbol_frac = F.round(
        F.size(
            F.filter(
                ws,
                lambda w: w.contains("#") | w.contains("...") | w.contains("…"),
            )
        ).cast("double")
        / nd,
        6,
    )
    keep = (
        n.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_len.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (stop_n >= GOPHER_MIN_STOPWORDS)
        & (distinct_ratio >= GOPHER_MIN_DISTINCT_RATIO)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (symbol_frac <= GOPHER_MAX_SYMBOL_FRAC)
    )
    return {
        "n_words": n,
        "mean_word_len": mean_len,
        "distinct_ratio": distinct_ratio,
        "stopword_count": stop_n,
        "alpha_frac": alpha_frac,
        "symbol_frac": symbol_frac,
        "gopher_keep": keep,
    }
