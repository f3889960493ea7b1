"""Text-analysis operators for LLM-data pipelines (BASELINE.json north
star; SURVEY.md §7.2 M5): tokenization, quality scoring, language ID,
fingerprinting, shingling.

All pure Catalyst expressions — no Python UDFs — so they stay inside
whole-stage codegen and scale to 100 TB document corpora. Regex
patterns are restricted to syntax shared by Java regex (Spark) and RE2
(DuckDB) so every operator is oracle-checkable.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Whitespace tokenizer — identical semantics in Java regex and RE2.
TOKEN_SPLIT = r"\s+"

# Characters that count as "punctuation" for quality scoring: anything
# that's not alphanumeric or whitespace. Explicit class, dialect-safe.
PUNCT_CLASS = r"[^a-zA-Z0-9\s]"

# Small English stopword list for the language-ID heuristic. Order and
# content pinned — the oracle SQL embeds the same list.
EN_STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "this", "be", "are",
)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokens of trimmed (optionally lowercased) text."""
    c = F.trim(_c(col))
    if lowercase:
        c = F.lower(c)
    return F.split(c, TOKEN_SPLIT)


def token_count(col: Column | str) -> Column:
    """Token count; 0 for empty/whitespace-only text (split of an empty
    string yields [''], which must not count)."""
    t = F.trim(_c(col))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, TOKEN_SPLIT)))


# BPE-style pre-tokenizer classes: a run of letters, a run of digits,
# or ONE other non-space character — the GPT-2 pre-tokenization shape
# restricted to syntax Java regex and RE2 agree on.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_like_token_count(col: Column | str) -> Column:
    """Subword-style token count: letter runs + digit runs + individual
    punctuation marks (each its own token). Approximates a BPE
    pre-tokenizer's sequence length — the standard budget unit for
    sequence packing — without needing a vocab. 'don't stop' → 4
    tokens (don, ', t, stop); whitespace never counts."""
    return F.regexp_count(_c(col), F.lit(BPE_TOKEN_PATTERN))


# The exact character set PUNCT_CLASS negates: ASCII alphanumerics plus
# Java regex \s = [ \t\n\x0B\f\r]. Spelled as a literal so punct_count
# can use translate() — a plain char-map delete, ~40% faster than the
# regexp_replace spelling at sf0.1 (0.13 s vs 0.22 s for the scan) and
# value-identical (the oracle keeps the regex spelling; the hash gate
# pins equality).
_NON_PUNCT_CHARS = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " \t\n\x0b\x0c\r"
)


def punct_count(col: Column | str) -> Column:
    """Number of punctuation characters (PUNCT_CLASS matches)."""
    return F.length(F.translate(_c(col), _NON_PUNCT_CHARS, ""))


def stopword_count(col: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Occurrences (with repeats) of stopwords among the tokens.

    Spelled as a single ``regexp_count`` over the lowercased text, not
    ``size(filter(tokens(..), ..))``: higher-order array functions run
    INTERPRETED in Spark (outside whole-stage codegen AND outside
    common-subexpression elimination), so a query computing quality +
    lang-id would pay the token-filter twice. The anchored alternation
    ``(?:^|\\s)(?:the|a|…)(?=\\s|$)`` counts exactly the
    whitespace-delimited tokens equal to a stopword: consumed leading
    whitespace plus a lookahead trailing boundary means adjacent
    stopwords ("the a the") all match. Token-set parity with the
    list_filter oracle is pinned by the duckdb hash gate.

    Custom stopwords are regex-escaped, so literals like ``c++`` or
    ``a.b`` count exactly (the default EN_STOPWORDS are plain letters
    — escaping them is a no-op, the codegen plan is unchanged).
    """
    pat = r"(?:^|\s)(?:" + "|".join(re.escape(s) for s in stopwords) + r")(?=\s|$)"
    return F.regexp_count(F.lower(F.trim(_c(col))), F.lit(pat))


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1] from length / punctuation /
    stopword signals — the standard cheap pre-filter for LLM training
    corpora.

    score = [ floor(4000·min(tokens,64)/64) + floor(3000·(chars−punct)/chars)
            + min(3000, floor(15000·stopwords/tokens)) ] / 10000

    i.e. 0.4·length + 0.3·(1−punct_ratio) + 0.3·min(1, 5·stopword_ratio),
    with each component floored at the 4th decimal in INTEGER
    arithmetic. Float formulas produce rationals that can land exactly
    on rounding ties where engines diverge; integer floor-division is
    bit-identical everywhere (the final /10000.0 of an int ≤ 10000 is
    an exact IEEE op).
    """
    n_tok = token_count(col).cast("long")
    n_char = F.length(_c(col)).cast("long")
    n_punct = punct_count(col).cast("long")
    n_sw = stopword_count(col).cast("long")
    comp_len = F.floor(F.least(n_tok, F.lit(64)) * 4000 / 64).cast("long")
    comp_punct = F.when(
        n_char > 0, F.floor((n_char - n_punct) * 3000 / n_char).cast("long")
    ).otherwise(F.lit(3000))
    comp_sw = F.when(
        n_tok > 0, F.least(F.lit(3000), F.floor(n_sw * 15000 / n_tok).cast("long"))
    ).otherwise(F.lit(0))
    return ((comp_len + comp_punct + comp_sw) / F.lit(10000.0)).cast("double")


def lang_id(col: Column | str, threshold: float = 0.05) -> Column:
    """Stopword-ratio language ID: 'en' when ≥ threshold of tokens are
    English stopwords, else 'und'. (N-gram models plug in the same way;
    this pins the operator shape with a dependency-free heuristic.)"""
    n_tok = token_count(col).cast("double")
    ratio = F.when(n_tok > 0, stopword_count(col) / n_tok).otherwise(F.lit(0.0))
    return F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("und"))


def fingerprint(col: Column | str) -> Column:
    """Canonical content fingerprint: md5 of whitespace-collapsed,
    lowercased, trimmed text. Computed map-side; downstream dedup
    shuffles only the 32-char digest, never the document."""
    normalized = F.regexp_replace(F.lower(F.trim(_c(col))), TOKEN_SPLIT, " ")
    return F.md5(normalized)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (the MinHash input). For texts
    shorter than n tokens, the whole text is the single shingle."""
    toks = tokens(col)
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), k - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    whole = F.array(F.concat_ws(" ", toks))
    return F.array_distinct(F.when(k >= n, grams).otherwise(whole))


# ---------------------------------------------------------------------------
# Repetition / Gopher-style quality signals (round 3). All scalar
# metrics are single-scan codegen expressions; ratios use integer
# floor-division at 1e-6 resolution so Spark and DuckDB produce
# bit-identical doubles (float division of a ratio can round a
# half-ulp differently per engine; floor((num·10⁶) div den)/10⁶ is
# exact integer arithmetic as long as num·10⁶ < 2⁵³, which holds for
# every metric here — num is a char/line/token count ≤ ~10⁶).
# ---------------------------------------------------------------------------

# Lines that *start* with a bullet marker / *end* with an ellipsis —
# the Gopher doc-format signals. (?m) multiline anchors are supported
# by both Java regex and RE2.
BULLET_LINE = r"(?m)^[-*] "
ELLIPSIS_LINE = r"(?m)\.\.\.$"
# The Gopher "symbol" set: hash marks and ellipses.
SYMBOL_PATTERN = r"#|\.\.\."


def _micro(num: Column, den: Column) -> Column:
    """floor(num·10⁶ / den) as a long; 0 when den = 0. The shared
    integer core of every ratio metric — threshold comparisons happen
    on THIS value so engine float rounding can never flip a flag."""
    return (
        F.when(den > 0, F.floor(num * F.lit(1_000_000) / den)).otherwise(F.lit(0)).cast("long")
    )


def int_ratio6(num: Column, den: Column) -> Column:
    """num/den floored at 1e-6, as double; 0.0 when den = 0. Exact and
    engine-portable (see section comment). DuckDB mirror:
    ``CASE WHEN den > 0 THEN ((num*1000000) // den) / 1000000.0 ELSE 0.0 END``."""
    return (_micro(num, den) / F.lit(1_000_000.0)).cast("double")


def reline(col: Column | str, tokens_per_line: int = 5) -> Column:
    """Deterministically break single-line text into lines of
    ``tokens_per_line`` single-space-separated tokens — gives corpora
    with no newlines (like the synthetic testdata) a line structure the
    line-level metrics can exercise, identically in both engines.
    DuckDB mirror: ``regexp_replace(text, pat, '\\1' || chr(10), 'g')``
    (RE2 replacement syntax; Spark's is ``$1``)."""
    pat = r"((?:\S+ ){%d}\S+) " % (tokens_per_line - 1)
    return F.regexp_replace(_c(col), pat, "$1\n")


def line_count(col: Column | str) -> Column:
    """Number of newline-delimited lines (1 for no-newline text)."""
    return F.size(F.split(_c(col), "\n"))


def dup_line_fraction(col: Column | str) -> Column:
    """Fraction of lines that are exact duplicates of an earlier line
    (Gopher repetition signal). array_distinct is a non-lambda
    collection function — stays in codegen, unlike higher-order
    filter/transform."""
    lines = F.split(_c(col), "\n")
    return int_ratio6(F.size(lines) - F.size(F.array_distinct(lines)), F.size(lines))


def mean_word_length(col: Column | str) -> Column:
    """Mean token length = non-whitespace chars / tokens, floored at
    1e-6 (Gopher bounds: reject < 3 or > 10)."""
    c = _c(col)
    non_ws = F.length(F.regexp_replace(c, r"\s", ""))
    return int_ratio6(non_ws, token_count(col))


def symbol_word_ratio(col: Column | str) -> Column:
    """(# marks + ellipses) per token (Gopher: reject > 0.1)."""
    return int_ratio6(F.regexp_count(_c(col), F.lit(SYMBOL_PATTERN)), token_count(col))


def bullet_line_fraction(col: Column | str) -> Column:
    """Fraction of lines starting with '- ' or '* ' (Gopher: reject > 0.9)."""
    return int_ratio6(F.regexp_count(_c(col), F.lit(BULLET_LINE)), line_count(col))


def ellipsis_line_fraction(col: Column | str) -> Column:
    """Fraction of lines ending with '...' (Gopher: reject > 0.3)."""
    return int_ratio6(F.regexp_count(_c(col), F.lit(ELLIPSIS_LINE)), line_count(col))


def alpha_word_fraction(col: Column | str) -> Column:
    """Fraction of tokens containing at least one ASCII letter
    (Gopher: reject < 0.8). Spark side counts via one anchored regex
    (lookahead is fine in Java regex); the oracle spells it with
    list_filter since RE2 has no lookahead."""
    pat = r"(?:^|\s)\S*[a-z]\S*(?=\s|$)"
    n_alpha = F.regexp_count(F.lower(F.trim(_c(col))), F.lit(pat))
    return int_ratio6(n_alpha, token_count(col))


def gopher_pass(
    col: Column | str,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
) -> Column:
    """1 when the document passes the Gopher quality rules (word-count
    bounds, mean word length 3–10, symbol ratio ≤ 0.1, duplicate-line
    fraction ≤ 0.3, bullet ≤ 0.9, ellipsis ≤ 0.3, alpha-word ≥ 0.8),
    else 0 — the standard cheap pre-filter before dedup. Comparisons
    run on the integer micro-ratios, never on derived doubles."""
    c = _c(col)
    n_tok = token_count(col)
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    checks = (
        (n_tok >= min_tokens)
        & (n_tok <= max_tokens)
        & _micro(F.length(F.regexp_replace(c, r"\s", "")), n_tok).between(3_000_000, 10_000_000)
        & (_micro(F.regexp_count(c, F.lit(SYMBOL_PATTERN)), n_tok) <= 100_000)
        & (_micro(n_lines - F.size(F.array_distinct(lines)), n_lines) <= 300_000)
        & (_micro(F.regexp_count(c, F.lit(BULLET_LINE)), n_lines) <= 900_000)
        & (_micro(F.regexp_count(c, F.lit(ELLIPSIS_LINE)), n_lines) <= 300_000)
        & (
            _micro(
                F.regexp_count(
                    F.lower(F.trim(c)), F.lit(r"(?:^|\s)\S*[a-z]\S*(?=\s|$)")
                ),
                n_tok,
            )
            >= 800_000
        )
    )
    return F.when(checks, 1).otherwise(0).cast("long")


def top_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document most-frequent word n-gram and the fraction of the
    document's characters it covers (count·len(gram)/chars — the Gopher
    top-n-gram repetition signal). Only documents with ≥ n tokens
    appear (no grams otherwise).

    Distributed shape: ONE exchange — a pre-explode repartition of the
    raw documents on the id (shuffling text bytes, not exploded grams,
    and unlocking full-core parallelism for the gram explode: the scan
    of a small parquet yields a handful of byte-bound splits while the
    explode is work-bound). Grams are generated positionally
    (explode(sequence)+slice, whole-stage codegen — the interpreted
    ``transform`` spelling measured ~2× slower; repeats kept, this is
    NOT shingling). The groupBy(id, gram) and the per-id window top-1
    are both satisfied by the id hash partitioning (subset rule), so
    no further exchange; per-doc gram counts are bounded by doc
    length, so no skew beyond the longest document.
    """
    c = F.col(text_col)
    toks = tokens(c)
    base = df.repartition(F.col(id_col)).select(
        id_col,
        F.length(c).alias("_n_chars"),
        toks.alias("__t"),
        (F.size(toks) - F.lit(n - 1)).alias("__m"),
    )
    pos = base.filter(F.col("__m") >= 1).select(
        id_col,
        "_n_chars",
        "__t",
        F.explode(F.sequence(F.lit(1), F.col("__m"))).alias("__i"),
    )
    exploded = pos.select(
        id_col,
        "_n_chars",
        F.concat_ws(" ", F.slice(F.col("__t"), F.col("__i"), n)).alias("gram"),
    )
    counted = exploded.groupBy(id_col, "_n_chars", "gram").agg(
        F.count(F.lit(1)).alias("gram_count")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("gram_count"), F.asc("gram"))
    return (
        counted.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            id_col,
            F.col("gram").alias("top_gram"),
            F.col("gram_count").cast("long").alias("gram_count"),
            int_ratio6(
                F.col("gram_count") * F.length("gram"), F.col("_n_chars")
            ).alias("top_gram_char_frac"),
        )
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (round 3): the standard pre-training
# scrub pass. Patterns are restricted to the Java-regex ∩ RE2 subset
# (no lookaround, no backreferences) so both engines match the exact
# same spans; redaction is sequential regexp_replace — pure codegen,
# a 100 TB scrub is a mapped scan.
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9]{7,15}\b"

# Redaction order matters: emails first (their local/domain parts can
# contain digit runs an IP/phone pattern would then mangle).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (PII_EMAIL, "<EMAIL>"),
    (PII_IPV4, "<IP>"),
    (PII_PHONE, "<PHONE>"),
)


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Match counts per PII class (email / ipv4 / phone). DuckDB
    mirror: ``len(regexp_extract_all(text, pat))`` — both engines count
    non-overlapping matches left to right."""
    c = _c(col)
    return {
        "n_emails": F.regexp_count(c, F.lit(PII_EMAIL)).cast("long"),
        "n_ips": F.regexp_count(c, F.lit(PII_IPV4)).cast("long"),
        "n_phones": F.regexp_count(c, F.lit(PII_PHONE)).cast("long"),
    }


def redact_pii(col: Column | str) -> Column:
    """Replace every PII span with its class token, in PII_PATTERNS
    order. Spark regexp_replace is global by default; the DuckDB
    mirror needs the explicit 'g' option."""
    c = _c(col)
    for pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard per-document stat columns in one projection
    (single scan; all codegen)."""
    return df.withColumns(
        {
            "n_tokens": token_count(text_col),
            "n_punct": punct_count(text_col),
            "n_stopwords": stopword_count(text_col),
            "quality": quality_score(text_col),
            "lang_guess": lang_id(text_col),
            "fingerprint": fingerprint(text_col),
        }
    )


# ---------------------------------------------------------------------------
# Hashed n-gram quality classifier (round 5). The fasttext
# architecture — hashed-ngram features x a linear layer — with the
# learned weights replaced by a deterministic hash-derived weight
# table, so the full scoring path (feature hashing, embedding lookup,
# sum, threshold) is exercised and oracle-checkable without shipping a
# model artifact. Swapping in real weights = replacing ONE expression
# (the weight lookup) with a broadcast map join; the plan shape is
# identical. Mirrors the classifier stage of public curation stacks
# (CCNet / RedPajama quality filters); the reference has no classifier
# (app.py is ingestion-only) so this extends SURVEY.md §2's LLM table.
#
# Everything is integer arithmetic: w(g) = H56(seed:g) % 2001 − 1000
# ∈ [−1000, 1000], score = Σ w over bigram OCCURRENCES (bag semantics,
# like fasttext's mean — the sum is kept unnormalized so it stays an
# exact BIGINT; the decision threshold 0 is scale-free). Cross-engine
# bit-exact, no floats anywhere.
#
# Scale: bigram generation is explode(sequence)+slice whole-stage
# codegen (the interpreted `transform` spelling measured ~6x slower on
# this corpus — same lesson as minhash_signatures); the only shuffle
# carries (doc_id, partial sums) after map-side combine, so 100 TB of
# text reduces to one row per doc per map task on the wire.
# ---------------------------------------------------------------------------

CLASSIFIER_SEED = 41
_CLS_BUCKETS = 2001  # weights in [-1000, 1000]


def _bigram_weight(gram: Column, seed: int) -> Column:
    from ..functions.hashing import hash56

    return hash56(gram, seed=seed) % F.lit(_CLS_BUCKETS) - F.lit(_CLS_BUCKETS // 2)


def hashed_ngram_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = CLASSIFIER_SEED,
) -> DataFrame:
    """Score every document with the hashed-bigram linear classifier.

    Output: (id_col, n_bigrams, score_sum, label) — label = 'keep'
    when score_sum > 0 else 'drop'. Documents with < 2 tokens get
    n_bigrams = 0, score_sum = 0, label = 'drop' (explode_outer keeps
    them; a plain explode would silently drop short docs).
    """
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col),
        toks.alias("__t"),
        (F.size(toks) - F.lit(1)).alias("__m"),
    )
    pos = base.select(
        id_col,
        "__t",
        F.explode_outer(
            F.when(F.col("__m") >= 1, F.sequence(F.lit(1), F.col("__m")))
        ).alias("__i"),
    )
    gram = F.concat_ws(" ", F.slice(F.col("__t"), F.col("__i"), 2))
    w = F.when(F.col("__i").isNotNull(), _bigram_weight(gram, seed))
    return (
        pos.select(id_col, F.col("__i"), w.alias("__w"))
        .groupBy(id_col)
        .agg(
            F.count("__i").cast("long").alias("n_bigrams"),
            F.coalesce(F.sum("__w"), F.lit(0)).cast("long").alias("score_sum"),
        )
        .select(
            id_col,
            "n_bigrams",
            "score_sum",
            F.when(F.col("score_sum") > 0, F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("label"),
        )
    )


def duckdb_ngram_classifier_sql(seed: int = CLASSIFIER_SEED, table: str = "documents") -> str:
    """DuckDB SQL computing exactly :func:`hashed_ngram_classifier`."""
    from ..functions.hashing import duckdb_hash56_sql

    toks = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    wt = duckdb_hash56_sql("tk[i] || ' ' || tk[i + 1]", seed=seed)
    return f"""
    WITH tk AS (SELECT doc_id, {toks} AS tk FROM {table}),
    g AS (
      SELECT doc_id,
             unnest(generate_series(1, len(tk) - 1)) AS i,
             tk
      FROM tk WHERE len(tk) >= 2
    ),
    a AS (
      SELECT doc_id,
             COUNT(*) AS n_bigrams,
             SUM(({wt}) % {_CLS_BUCKETS} - {_CLS_BUCKETS // 2}) AS score_sum
      FROM g GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(a.score_sum, 0) AS BIGINT) AS score_sum,
           CASE WHEN COALESCE(a.score_sum, 0) > 0 THEN 'keep' ELSE 'drop' END AS label
    FROM {table} d LEFT JOIN a USING (doc_id)
    """


# ---------------------------------------------------------------------------
# Document chunking (round 5): sliding token windows — the prep step
# for embedding / retrieval pipelines (one chunk = one embedding input
# row). Pure codegen explode(sequence)+slice, map-side only: chunking
# 100 TB is a flat-mapped scan with zero shuffles, and the chunk
# stream is immediately partition-parallel for the downstream
# embedding UDF.
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into case-preserving whitespace-token
    windows of ``chunk_tokens`` with ``overlap`` tokens shared between
    consecutive chunks (stride = chunk_tokens − overlap).

    Output: (id_col, chunk_idx 0-based, chunk_text, n_tokens) — the
    final chunk may be short; a document shorter than one window
    yields exactly one chunk. n_chunks = ceil((n − overlap) / stride)
    floored at 1, so every token lands in ≥ 1 chunk and consecutive
    chunks share exactly ``overlap`` tokens.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap} / {chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks = tokens(text_col, lowercase=False)
    n = F.size(toks)
    n_chunks = F.greatest(
        F.floor((n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)).cast("int"),
        F.lit(1),
    )
    base = df.select(F.col(id_col), toks.alias("__t"), n_chunks.alias("__nc"))
    pos = base.select(
        id_col,
        "__t",
        F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("chunk_idx"),
    )
    piece = F.slice(F.col("__t"), F.col("chunk_idx") * stride + 1, chunk_tokens)
    return pos.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def duckdb_chunk_sql(
    chunk_tokens: int = 64, overlap: int = 16, table: str = "documents"
) -> str:
    """DuckDB SQL computing exactly :func:`chunk_documents`."""
    stride = chunk_tokens - overlap
    toks = r"regexp_split_to_array(trim(text), '\s+')"
    return f"""
    WITH tk AS (
      SELECT doc_id, {toks} AS t FROM {table}
    ), nc AS (
      SELECT doc_id, t,
             greatest(CAST(floor((len(t) - {overlap} + {stride - 1}) / {stride})
                           AS INT), 1) AS n_chunks
      FROM tk
    ), ex AS (
      SELECT doc_id, t, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM nc
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           array_to_string(t[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {chunk_tokens}], ' ')
             AS chunk_text,
           CAST(len(t[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {chunk_tokens}])
             AS BIGINT) AS n_tokens
    FROM ex
    """


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (round 5): the inner loop of tokenizer
# TRAINING as a distributed op — count corpus-wide frequencies of
# adjacent token pairs and return the top merge candidates. One BPE
# training iteration over 100 TB is: this op (explode pairs map-side →
# map-combined count → TakeOrdered top-k), apply the merge, repeat.
# The pair stream never materializes globally: partial aggregation
# collapses each map task to its distinct local pairs.
# ---------------------------------------------------------------------------


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """Top ``top_k`` adjacent-token pairs by corpus frequency —
    deterministic tie-break on the pair string. Output: (pair,
    pair_count, rank 1-based)."""
    toks = tokens(text_col)
    base = df.select(toks.alias("__t"), (F.size(toks) - F.lit(1)).alias("__m"))
    pos = base.filter(F.col("__m") >= 1).select(
        "__t", F.explode(F.sequence(F.lit(1), F.col("__m"))).alias("__i")
    )
    pair = F.concat_ws(" ", F.slice(F.col("__t"), F.col("__i"), 2))
    counted = (
        pos.select(pair.alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return counted.withColumn("rank", F.row_number().over(w).cast("long"))


def duckdb_bpe_pairs_sql(top_k: int = 50, table: str = "documents") -> str:
    """DuckDB SQL computing exactly :func:`bpe_pair_counts`."""
    toks = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    return f"""
    WITH tk AS (SELECT {toks} AS t FROM {table}),
    g AS (
      SELECT t[i] || ' ' || t[i + 1] AS pair
      FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    ),
    c AS (
      SELECT pair, COUNT(*)::BIGINT AS pair_count FROM g GROUP BY 1
      ORDER BY pair_count DESC, pair ASC LIMIT {top_k}
    )
    SELECT pair, pair_count,
           CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS BIGINT)
             AS rank
    FROM c
    """


# ---------------------------------------------------------------------------
# TRAINED hashed-ngram quality classifier (round 4 — drops the
# "placeholder weights" label). Same fasttext-style architecture as
# hashed_ngram_classifier (hashed bigram features x a linear layer),
# but the weights are LEARNED from data: a one-pass frequency-contrast
# fit (multinomial Naive Bayes with equal priors, the classic
# high-bias/low-variance text baseline) over a deterministic hash
# split of the corpus, with weak labels derived from the text itself —
# stopword density >= 1/16, the Gopher-style fluency proxy. (The
# corpus's lang column is NOT usable as a label: the synthetic
# generator draws every language from the same 31-word vocabulary, so
# lang is statistically independent of text — measured at the 0.5
# chance ceiling for every learner tried.)
#
#     w_b = x⁺_b·N⁻ − x⁻_b·N⁺
#
# (x±_b = bigram occurrences of bucket b in the positive/negative
# class, N± = class totals; the cross-multiplication is the integer-
# exact spelling of the frequency difference x⁺/N⁺ − x⁻/N⁻.) Every
# number is an exact BIGINT, so the ENTIRE fit — split, labels,
# counts, weights, scores — re-derives bit-identically in the DuckDB
# oracle; no model artifact is shipped or trusted. Measured on the
# held-out split at sf0.01: 0.77 accuracy vs 0.43 for the placeholder
# (tests/test_curation_ops.py pins the lift).
#
# An epoch-style batch perceptron was prototyped and rejected: with
# lr=1 it oscillates (test acc swings 0.4↔0.6 per epoch) unless
# averaged, and unrolling epochs as pure dataflow doubles the Spark
# plan tree per epoch (w_k references w_{k-1} twice) — exponential
# analysis cost that only a mid-plan materialization would fix,
# which would break the oracle's stateless re-derivation.
#
# Scale: the fit is ONE explode+hash+groupBy pass over the train
# split (map-combined, <= n_buckets rows on the wire) plus a 1-row
# class-totals broadcast; scoring is the same feature pass joined to
# the broadcast weight table. At petabyte scale the cross-products
# x·N approach 2^63 — swap the weight expression to DECIMAL(38,0)
# there; the plan shape is unchanged.
# ---------------------------------------------------------------------------

TCLS_BUCKETS = 4096
TCLS_SPLIT_SEED = 23
TCLS_TRAIN_RATE = 0.8
TCLS_STOPWORDS = ("the", "a")
TCLS_STOP_DENSITY = 16  # label +1 iff n_stop * 16 >= n_tokens


def _bucket_feats(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int, seed: int
) -> DataFrame:
    """(id, bucket, x): per-doc occurrence counts of hashed bigrams.

    Work-bound stage (one md5 per bigram): the pre-explode repartition
    is sized by CORES, not bytes — same lesson as winnow_fingerprints;
    byte-based sizing sees a few MB of text and starves the explode.
    The groupBy(id, bucket) is satisfied by the id partitioning
    (subset rule), so hashing and the count aggregate are one stage.
    """
    from ..functions.hashing import hash56

    toks = tokens(text_col)
    base = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    ).select(
        F.col(id_col), toks.alias("__t"), (F.size(toks) - F.lit(1)).alias("__m")
    )
    pos = base.filter(F.col("__m") >= 1).select(
        id_col,
        "__t",
        F.explode(F.sequence(F.lit(1), F.col("__m"))).alias("__i"),
    )
    gram = F.concat_ws(" ", F.slice(F.col("__t"), F.col("__i"), 2))
    return (
        pos.select(
            F.col(id_col), (hash56(gram, seed=seed) % F.lit(n_buckets)).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )


def _weights_from_bucket_counts(per_bucket: DataFrame) -> DataFrame:
    """(bucket, __xp, __xn) → (bucket, w) with the int64 overflow guard."""
    totals = per_bucket.groupBy().agg(
        F.sum("__xp").cast("long").alias("__np"),
        F.sum("__xn").cast("long").alias("__nn"),
    )
    # Overflow guard (ADVICE r4): |w| ≤ N⁺·N⁻, which exceeds int64 once
    # the corpus carries ~6e9 bigrams. DuckDB BIGINT overflow raises,
    # but Spark's legacy (non-ANSI) long arithmetic wraps silently —
    # the engines would then desync silently instead of failing loudly.
    # assert_true makes Spark as loud as DuckDB; the double-precision
    # estimate of the bound uses a 2× margin (2^62) for rounding, and
    # the coalesce(assert, 0) addend keeps the guard inside the same
    # projection (assert_true yields NULL when the bound holds).
    guard = F.assert_true(
        F.col("__np").cast("double") * F.col("__nn").cast("double")
        < F.lit(float(2**62)),
        F.lit(
            "contrast-weight overflow: class bigram totals exceed the "
            "int64-safe bound (N+ * N- >= 2^62); shard the fit or switch "
            "weights to DECIMAL(38,0)"
        ),
    )
    return per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.col("__xp") * F.col("__nn")
            - F.col("__xn") * F.col("__np")
            + F.coalesce(guard.cast("long"), F.lit(0))
        )
        .cast("long")
        .alias("w"),
    )


def trained_classifier_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = TCLS_BUCKETS,
    seed: int = CLASSIFIER_SEED,
    split_seed: int = TCLS_SPLIT_SEED,
    train_rate: float = TCLS_TRAIN_RATE,
) -> DataFrame:
    """The LEARNED (bucket, w) weight table alone — the fit half of
    :func:`trained_quality_classifier`, exposed so a fused plan (e.g.
    curation2_suite's shared-explode scoring pass) can broadcast the
    weights into its own scan instead of re-running the score half."""
    from ..functions.hashing import hash56
    from ..operators.sampling import _key_expr, _threshold

    in_train = _key_expr([id_col], split_seed) < F.lit(_threshold(train_rate))

    # FUSED fit (round 5): the weak label is a pure function of the
    # token ARRAY (stopword density), so it is computed inline on the
    # same scan that explodes the bigrams — the doc-level labels join
    # is gone (at corpus scale that join is one row per train doc:
    # never broadcastable, always a shuffle), and so are the second
    # explode+md5 pass through the (id,bucket) intermediate and its
    # per-doc aggregate. The fit is ONE pass over train bigrams whose
    # only shuffle carries (bucket, xp, xn) partials — n_buckets rows.
    # Identical weights to the labels-join spelling: summing exploded
    # occurrences per (bucket, y) equals summing per-(id,bucket)
    # counts x joined with per-id y. Measured 0.97 s → 0.62 s at sf0.1.
    toks = tokens(text_col)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*TCLS_STOPWORDS)))
    base = (
        df.filter(in_train)
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
        .select(
            toks.alias("__t"),
            (F.size(toks) - F.lit(1)).alias("__m"),
            F.when(
                F.lit(TCLS_STOP_DENSITY) * n_stop >= F.size(toks), F.lit(1)
            )
            .otherwise(F.lit(-1))
            .alias("__y"),
        )
        .filter(F.col("__m") >= 1)
    )
    pos = base.select(
        "__t",
        "__y",
        F.explode(F.sequence(F.lit(1), F.col("__m"))).alias("__i"),
    )
    gram = F.concat_ws(" ", F.slice(F.col("__t"), F.col("__i"), 2))
    per_bucket = (
        pos.select(
            (hash56(gram, seed=seed) % F.lit(n_buckets)).alias("bucket"), "__y"
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("__y") == 1, 1).otherwise(0))
            .cast("long")
            .alias("__xp"),
            F.sum(F.when(F.col("__y") == -1, 1).otherwise(0))
            .cast("long")
            .alias("__xn"),
        )
    )
    return _weights_from_bucket_counts(per_bucket)


def trained_quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = TCLS_BUCKETS,
    seed: int = CLASSIFIER_SEED,
    split_seed: int = TCLS_SPLIT_SEED,
    train_rate: float = TCLS_TRAIN_RATE,
) -> DataFrame:
    """Score every document with weights learned on the deterministic
    train split (hash56(id) < rate·2^56). Output (id, n_bigrams,
    score_sum, label) — the same frame contract as
    :func:`hashed_ngram_classifier`, with score_sum now a LEARNED
    margin instead of hash noise."""
    feats = _bucket_feats(df, text_col, id_col, n_buckets, seed)
    w = trained_classifier_weights(
        df, text_col, id_col, n_buckets, seed, split_seed, train_rate
    )
    sc = (
        feats.join(F.broadcast(w), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum("x").cast("long").alias("n_bigrams"),
            F.sum(F.col("x") * F.coalesce(F.col("w"), F.lit(0)))
            .cast("long")
            .alias("score_sum"),
        )
    )
    return df.select(id_col).join(sc, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("score_sum", F.lit(0)).cast("long").alias("score_sum"),
        F.when(F.coalesce("score_sum", F.lit(0)) > 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    )


def duckdb_trained_classifier_sql(
    table: str = "documents",
    n_buckets: int = TCLS_BUCKETS,
    seed: int = CLASSIFIER_SEED,
    split_seed: int = TCLS_SPLIT_SEED,
    train_rate: float = TCLS_TRAIN_RATE,
) -> str:
    """DuckDB SQL computing exactly :func:`trained_quality_classifier`
    — the oracle re-derives the learned weights from scratch (split,
    labels, counts, contrast) rather than trusting an artifact."""
    from ..functions.hashing import duckdb_hash56_sql
    from ..operators.sampling import _threshold, duckdb_key_sql

    toks = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    bucket = f"({duckdb_hash56_sql('gram', seed=seed)}) % {n_buckets}"
    key = duckdb_key_sql(["doc_id"], split_seed)
    stop_list = ", ".join(f"'{s}'" for s in TCLS_STOPWORDS)
    return f"""
    WITH tk AS (SELECT doc_id, {toks} AS tk FROM {table}),
    f AS (
      SELECT doc_id, {bucket} AS bucket, COUNT(*)::BIGINT AS x
      FROM (
        SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS gram
        FROM (SELECT doc_id, unnest(generate_series(1, len(tk) - 1)) AS i, tk
              FROM tk WHERE len(tk) >= 2)
      ) GROUP BY 1, 2
    ),
    y AS (
      SELECT doc_id,
             CASE WHEN {TCLS_STOP_DENSITY} * len(list_filter(tk, t -> t IN ({stop_list})))
                       >= len(tk)
                  THEN 1 ELSE -1 END AS y
      FROM tk WHERE ({key}) < {_threshold(train_rate)}
    ),
    pb AS (
      SELECT f.bucket,
             SUM(CASE WHEN y.y = 1 THEN f.x ELSE 0 END)::BIGINT AS xp,
             SUM(CASE WHEN y.y = -1 THEN f.x ELSE 0 END)::BIGINT AS xn
      FROM f JOIN y USING (doc_id) GROUP BY 1
    ),
    tot AS (SELECT SUM(xp)::BIGINT AS np, SUM(xn)::BIGINT AS nn FROM pb),
    w AS (SELECT bucket, (xp * tot.nn - xn * tot.np)::BIGINT AS w FROM pb, tot),
    sc AS (
      SELECT f.doc_id, SUM(f.x)::BIGINT AS n_bigrams,
             COALESCE(SUM(f.x * w.w), 0)::BIGINT AS score_sum
      FROM f LEFT JOIN w USING (bucket) GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
           COALESCE(sc.score_sum, 0)::BIGINT AS score_sum,
           CASE WHEN COALESCE(sc.score_sum, 0) > 0 THEN 'keep' ELSE 'drop' END
             AS label
    FROM {table} d LEFT JOIN sc USING (doc_id)
    """


# ---------------------------------------------------------------------------
# BM25 relevance scoring (round 5): the classic probabilistic retrieval
# function (Robertson/Spärck Jones; Lucene's BM25Similarity form) —
# query-relevance ranking over a document corpus, the standard tool for
# targeted training-data selection ("find documents like my eval set").
# ---------------------------------------------------------------------------


def bm25_topk(
    docs,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Top-``k`` documents by BM25 score for ``query_terms``.

    score(d) = Σ_t idf_t · tf_td·(k1+1) / (tf_td + k1·(1−b + b·dl_d/avgdl))
    with the Lucene idf: ln(1 + (N − df_t + 0.5)/(df_t + 0.5)).

    Index statistics (N, avgdl, per-term df) are computed DRIVER-SIDE
    in one tiny corpus aggregate — exactly where a real engine keeps
    them (index-time stats) — and injected as literals. That choice is
    also what makes the score CROSS-ENGINE BIT-EXACT: JVM ``Math.log``
    and DuckDB ``ln`` disagree by 1 ulp on ~9% of arguments (measured),
    but CPython's ``math.log`` is the same libm as DuckDB's, so the
    idf literals match ln() computed inside the oracle bit-for-bit,
    and every remaining in-plan operation is a correctly-rounded IEEE
    op on identical inputs. Per-term contributions fold in the literal
    term order on both engines (no order-nondeterministic float SUM).

    Scale: stats pass = one map-combined aggregate (terms are a tiny
    literal list); scoring pass = explode → filter to query terms
    (map-side, shrinks to ~|terms|·N rows) → per-doc conditional
    aggregate → TakeOrdered top-k. No shuffle carries text.
    """
    import math

    from pyspark.sql import functions as F

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")

    toks = tokens(text_col)
    dl = token_count(text_col)

    stats_row = (
        docs.select(
            dl.alias("_dl"),
            *[
                F.array_contains(toks, t).cast("long").alias(f"_c{i}")
                for i, t in enumerate(query_terms)
            ],
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_dl").alias("sdl"),
            *[F.sum(f"_c{i}").alias(f"df{i}") for i in range(len(query_terms))],
        )
        .collect()[0]
    )
    n = stats_row["n"]
    if n == 0:
        return docs.select(
            F.col(id_col),
            F.lit(0.0).alias("score"),
        ).limit(0)
    avgdl = stats_row["sdl"] / n  # int/int → correctly-rounded double
    idf = [
        math.log(1.0 + (n - stats_row[f"df{i}"] + 0.5) / (stats_row[f"df{i}"] + 0.5))
        for i in range(len(query_terms))
    ]

    tf_rows = (
        docs.select(F.col(id_col), F.explode(toks).alias("_tok"))
        .where(F.col("_tok").isin(list(query_terms)))
        .groupBy(id_col)
        .agg(
            *[
                F.sum((F.col("_tok") == t).cast("long")).alias(f"_tf{i}")
                for i, t in enumerate(query_terms)
            ]
        )
    )
    base = docs.select(F.col(id_col), dl.alias("_dl"))
    joined = base.join(tf_rows, id_col, "left").na.fill(
        {f"_tf{i}": 0 for i in range(len(query_terms))}
    )

    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.lit(avgdl)
    )
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"_tf{i}")
        score = score + F.lit(idf[i]) * (tf * F.lit(k1 + 1.0)) / (tf + norm)
    return (
        joined.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# n-gram LM perplexity filter (round 5 — the CCNet quality gate the
# curation family was missing). CCNet scores every document with a
# KenLM n-gram model trained on a trusted reference corpus and keeps/
# buckets documents by perplexity (head/middle/tail). This is that
# operator with an integer-exact surprise surrogate in place of
# log-space perplexity: per document,
#
#     surprise = mean over bigrams of  floor(1e6 · (c(w1)+V) / (c(w1,w2)+1))
#
# i.e. the mean add-one-smoothed INVERSE conditional probability
# 1/p(w2|w1) in fixed-point micros — order-isomorphic to perplexity on
# the per-bigram level (each term is exactly 1e6/p̂), while every
# number stays an exact BIGINT, so scores AND bucket thresholds
# re-derive bit-identically in DuckDB (ln() differs by 1 ulp between
# JVM and libm on ~9% of arguments — see bm25_topk — so true log-space
# perplexity could not be hash-gated in-plan).
#
# Distributed shape (the CCNet shape):
# - TRAIN: one explode+groupBy pass over the reference slice (lang =
#   ref_lang) → bigram counts c2, context counts c1 (derived from c2,
#   no second corpus pass), vocab V = |c1| as a 1-row aggregate. The
#   model is BOUNDED BY THE REFERENCE CORPUS (CCNet trains on
#   Wikipedia, not on the crawl), so broadcasting it to executors is
#   the scale-correct posture — exactly how KenLM models ship to
#   workers. The corpus-side scoring pass is then map-side: explode →
#   two broadcast-hash joins → per-doc aggregate; text bytes never
#   shuffle, (ctx+V)·1e6 stays < 2^63 until the reference slice
#   exceeds ~9·10¹² bigrams (far past any curated LM corpus).
# - THRESHOLDS: CCNet fits head/middle/tail cutoffs OFFLINE on a
#   sample of the scored distribution. Here: a deterministic hash56
#   sample (rate·2^56 threshold, same md5 hash as sampling.py — re-run
#   and repartition stable) feeds an exact tercile selection (kth
#   smallest at ceil(m/3), ceil(2m/3) via row_number); the single-
#   partition window is over the BOUNDED sample only, then the two
#   cutoffs broadcast back — the full corpus is never globally sorted.
# Documents with < 2 tokens (no bigrams) carry no LM evidence and are
# excluded, on both engines.
# ---------------------------------------------------------------------------

LM_SAMPLE_SEED = 41
LM_SAMPLE_RATE = 0.25


def lm_surprise_filter(
    df: DataFrame,
    ref_lang: str = "en",
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    sample_rate: float = LM_SAMPLE_RATE,
    seed: int = LM_SAMPLE_SEED,
) -> DataFrame:
    """(doc_id, n_bigrams, surprise_micro, ppl_bucket) per document
    with ≥ 2 tokens — see the section comment for semantics/scale."""
    from ..functions.hashing import TWO_POW_56, hash56

    def _bigrams(rel: DataFrame, repart: bool = True) -> DataFrame:
        # repart=True pre-spreads raw docs across cores so the
        # work-bound explode isn't limited to the scan's split count;
        # the TRAIN pass skips it (its groupBy(w1,w2) exchanges anyway,
        # and an extra id-exchange would just add a stage).
        c = F.col(text_col)
        toks = tokens(c)
        base = (rel.repartition(F.col(id_col)) if repart else rel).select(
            F.col(id_col),
            F.col(lang_col).alias("__lang"),
            toks.alias("__t"),
            (F.size(toks) - F.lit(1)).alias("__m"),
        )
        return (
            base.filter(F.col("__m") >= 1)
            .select(
                id_col,
                "__lang",
                F.explode(F.sequence(F.lit(1), F.col("__m"))).alias("__i"),
                "__t",
            )
            .select(
                id_col,
                "__lang",
                F.element_at("__t", F.col("__i")).alias("w1"),
                F.element_at("__t", F.col("__i") + F.lit(1)).alias("w2"),
            )
        )

    ref = _bigrams(df, repart=False).filter(F.col("__lang") == ref_lang)
    c2 = ref.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("__c"))
    c1 = c2.groupBy("w1").agg(F.sum("__c").cast("long").alias("__ctx"))
    vocab = c1.agg(F.count(F.lit(1)).cast("long").alias("__v"))

    # Exact BIGINT division on BOTH engines (Spark `div`, DuckDB `//`):
    # `floor(a / b)` on longs promotes to double and loses exactness
    # past 2^53 — inside the int64 envelope (ctx+V < ~9.2e12, i.e. the
    # numerator below 2^63), `div` keeps the surprise integer-exact
    # cross-engine at ANY head-word frequency.
    term = F.expr(
        "(coalesce(__ctx, CAST(0 AS BIGINT)) + __v) * CAST(1000000 AS BIGINT)"
        " div (coalesce(__c, CAST(0 AS BIGINT)) + CAST(1 AS BIGINT))"
    ).cast("long")

    def _score(rel: DataFrame) -> DataFrame:
        # One broadcast-joined map-side pass over `rel`; the c2/c1/vocab
        # broadcasts are the SAME DataFrame objects for every call, so
        # Spark's broadcast-exchange reuse ships the LM once.
        return (
            _bigrams(rel)
            .join(F.broadcast(c2), ["w1", "w2"], "left")
            .join(F.broadcast(c1), ["w1"], "left")
            .crossJoin(F.broadcast(vocab))
            .groupBy(id_col)
            .agg(
                F.sum(term).alias("__snum"),
                F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            )
            .select(
                id_col,
                "n_bigrams",
                F.expr("__snum div n_bigrams").cast("long").alias("surprise_micro"),
            )
        )

    doc = _score(df)

    # Threshold fit scores ONLY the hash sample: the keep-predicate is
    # a pure function of doc_id, so filtering the raw documents (pushed
    # to the scan) and filtering the scored relation select the same
    # rows — the fit branch costs rate·(one scoring pass) instead of
    # re-scoring or barrier-materializing the full corpus, and both
    # branches run in parallel sharing the broadcast LM.
    thr = int(sample_rate * TWO_POW_56)
    keep = hash56(F.col(id_col).cast("string"), seed=seed) < thr
    samp = _score(df.filter(keep))

    # Exact distributed tercile selection (r15, VERDICT r14 #2 /
    # guide §2). The former spelling ranked the whole sample with an
    # unpartitioned row_number — a SinglePartition sort whose one task
    # grows linearly with the corpus (the sample is RATE-bounded, not
    # size-bounded). The cutoffs are k-th order statistics (k =
    # ⌊m/3⌋, ⌊2m/3⌋ of the sample ordered by (surprise, id)), and an
    # order statistic only depends on the VALUE multiset, so:
    #   1. collapse the sample to per-value counts (map-combined
    #      groupBy — shuffle bytes ∝ distinct values, not rows);
    #   2. range-partition the value table (default shuffle-partition
    #      count — the same scale knob as every other exchange) and
    #      take a per-range-partition running count (window keyed by
    #      spark_partition_id: each task holds ~1/P of the values);
    #   3. turn running counts into GLOBAL cumulative counts with a
    #      per-partition offset table (P rows — the only unpartitioned
    #      window left is over partition COUNTS, bounded by the
    #      shuffle-partition setting, never by data).
    # A value v's rows occupy global ranks (cum−cnt+1 .. cum), so the
    # old "max s over row_number·3 ≤ m" is exactly "max v with
    # 3·(cum−cnt+1) ≤ m" — the doc_id tie-break cancels at value
    # level. Empty sample: every relation below is empty and the final
    # no-group agg still yields one all-NULL cuts row, as before.
    vc = samp.groupBy("surprise_micro").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt")
    )
    rngd = vc.repartitionByRange(F.col("surprise_micro")).select(
        "surprise_micro", "__cnt", F.spark_partition_id().alias("__p")
    )
    wrun = (
        Window.partitionBy("__p")
        .orderBy("surprise_micro")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = rngd.select(
        F.col("surprise_micro").alias("__s"),
        "__cnt",
        "__p",
        F.sum("__cnt").over(wrun).alias("__run"),
    )
    # INVARIANT (pinned in PLANS.md + tests): `rngd` has two consumers
    # — the running-count window and this per-partition total — and
    # the offset math is only valid when both observe the IDENTICAL
    # physical range partitioning. Spark guarantees that via exchange
    # reuse (static ReuseExchangeAndSubquery with AQE off, stage-cache
    # reuse under AQE — both default-on): the plan carries exactly ONE
    # rangepartitioning exchange, the second consumer a ReusedExchange.
    # If a conf/planner change ever re-executed the subtree instead,
    # the two RangePartitioners would sample different boundaries
    # (seeded by rdd.id) and the offsets would silently misalign —
    # which is why the audit row fails loudly on a second
    # rangepartitioning exchange rather than trusting the default.
    pc = rngd.groupBy("__p").agg(F.sum("__cnt").alias("__pc"))
    woff = Window.orderBy("__p").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("__p").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # one P-row pass carries BOTH the exclusive prefix (the partition's
    # global offset) and the grand total m — same tiny WindowExec, no
    # separate total aggregate / crossJoin stage in the serial chain
    offs = pc.select(
        "__p",
        F.coalesce(F.sum("__pc").over(woff), F.lit(0).cast("long")).alias(
            "__off"
        ),
        F.sum("__pc").over(wall).cast("long").alias("__mm"),
    )
    # merge-join, NOT broadcast (the planner's auto-estimate would
    # broadcast offs, paying a separate build-job round-trip in the
    # serial cuts chain): loc is already hash-clustered by __p from
    # the running-count window, so the SMJ re-uses that clustering —
    # no new exchange on the value side, one trivial per-partition
    # sort (each task holds a single __p run), and the whole fit
    # executes inside ONE job tree
    ranked = loc.join(offs.hint("merge"), "__p").select(
        "__s",
        (F.col("__run") + F.col("__off") - F.col("__cnt") + F.lit(1))
        .alias("__minrank"),
        "__mm",
    )
    cuts = ranked.agg(
        F.max(
            F.when(F.col("__minrank") * 3 <= F.col("__mm"), F.col("__s"))
        ).alias("__c1v"),
        F.max(
            F.when(F.col("__minrank") * 3 <= 2 * F.col("__mm"), F.col("__s"))
        ).alias("__c2v"),
    )
    return doc.crossJoin(F.broadcast(cuts)).select(
        id_col,
        "n_bigrams",
        "surprise_micro",
        F.when(F.col("surprise_micro") <= F.col("__c1v"), F.lit("head"))
        .when(F.col("surprise_micro") <= F.col("__c2v"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def duckdb_lm_surprise_sql(
    ref_lang: str = "en",
    sample_rate: float = LM_SAMPLE_RATE,
    seed: int = LM_SAMPLE_SEED,
    table: str = "documents",
) -> str:
    """DuckDB SQL computing exactly :func:`lm_surprise_filter`."""
    from ..functions.hashing import TWO_POW_56, duckdb_hash56_sql

    thr = int(sample_rate * TWO_POW_56)
    h = duckdb_hash56_sql("CAST(doc_id AS VARCHAR)", seed=seed)
    return rf"""
    WITH tk AS (
      SELECT doc_id, lang,
             regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM {table}
    ), big AS (
      SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2
      FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    ), c2 AS (
      SELECT w1, w2, COUNT(*)::BIGINT AS c FROM big
      WHERE lang = '{ref_lang}' GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, SUM(c)::BIGINT AS ctx FROM c2 GROUP BY 1
    ), v AS (
      SELECT COUNT(*)::BIGINT AS v FROM c1
    ), doc AS (
      SELECT b.doc_id,
             SUM((COALESCE(c1.ctx, 0) + v.v) * 1000000
                 // (COALESCE(c2.c, 0) + 1))::BIGINT AS snum,
             COUNT(*)::BIGINT AS n_bigrams
      FROM big b
      LEFT JOIN c2 USING (w1, w2)
      LEFT JOIN c1 USING (w1)
      CROSS JOIN v
      GROUP BY 1
    ), sc AS (
      SELECT doc_id, n_bigrams, (snum // n_bigrams)::BIGINT AS surprise_micro
      FROM doc
    ), rk AS (
      SELECT surprise_micro AS s,
             row_number() OVER (ORDER BY surprise_micro, doc_id) AS rn,
             COUNT(*) OVER () AS m
      FROM sc WHERE {h} < {thr}
    ), cuts AS (
      SELECT MAX(CASE WHEN rn * 3 <= m THEN s END) AS c1v,
             MAX(CASE WHEN rn * 3 <= 2 * m THEN s END) AS c2v
      FROM rk
    )
    SELECT doc_id, n_bigrams, surprise_micro,
           CASE WHEN surprise_micro <= c1v THEN 'head'
                WHEN surprise_micro <= c2v THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM sc CROSS JOIN cuts
    """
