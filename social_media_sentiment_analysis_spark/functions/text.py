"""Text transforms as pure Column expressions (JVM-side, codegen-friendly).

Covers the reference's scalar surface (SURVEY §2.7: F1 clean_text, F2 trim;
F3's display truncation is the built-in ``F.substring``) plus the engine's
text-analysis extensions (token counting, quality scoring, language-ID
heuristic, document fingerprinting). Everything here is expressible in
ANSI SQL so the DuckDB oracle can verify it — no Python UDFs in this
module.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopwords present in the testdata vocabulary; a real deployment would use a
# per-language list. Deterministic + SQL-expressible by design.
STOPWORDS = ("the", "a")


def clean_text(col: Column) -> Column:
    """F1 (twitter_streamer.py:86-96): '' if null, drop every literal 'RT @',
    collapse whitespace runs to single spaces, trim.

    The reference uses str.replace (all occurrences), so the global
    regexp_replace matches its semantics exactly.
    """
    no_rt = F.replace(F.coalesce(col, F.lit("")), F.lit("RT @"), F.lit(""))
    return F.trim(F.regexp_replace(no_rt, r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokenization of already-cleaned (single-spaced) text."""
    return F.split(col, " ")


def token_count(col: Column) -> Column:
    """Token count over cleaned text; 0 for empty strings."""
    return F.when(col == "", F.lit(0)).otherwise(F.size(tokens(col)))


# BPE-style pre-tokenizer classes: letter runs, digit runs, punctuation runs
# (the unit a byte-pair tokenizer would merge within — GPT-2's pre-tokenizer
# splits the same three classes before BPE merges). Shared dialect subset of
# Java regex (Spark) and RE2 (DuckDB).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_ish_token_count(col: Column) -> Column:
    """Token count under a BPE-style pre-tokenization — a closer proxy for
    LLM token budgets than whitespace counting ('don't!' is 1 whitespace
    token but 4 BPE-ish pieces). Pure regexp_count, JVM-side."""
    return F.regexp_count(col, F.lit(BPE_ISH_PATTERN))


def word_hits(col: Column, word: str) -> Column:
    """Whole-word occurrence count (split-then-filter, not substring count —
    substring counting would conflate 'a' with 'table' etc.)."""
    return F.size(F.filter(tokens(col), lambda x: x == F.lit(word)))


def array_word_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Total occurrence count of ``words`` over a PRE-COMPUTED token array.
    Hot-path variant: callers materialize the split once (an intermediate
    column) and count all words from it — one tokenization per row however
    many words are counted."""
    out = F.size(F.filter(toks, lambda x: x == F.lit(words[0])))
    for w in words[1:]:
        out = out + F.size(F.filter(toks, lambda x: x == F.lit(w)))
    return out


def multi_word_hits(col: Column, words: tuple[str, ...]) -> Column:
    hits = [word_hits(col, w) for w in words]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out


def stopword_hits(col: Column) -> Column:
    return multi_word_hits(col, STOPWORDS)


def quality_columns(col: Column) -> dict[str, Column]:
    """Quality-scoring features over cleaned text: length, token count,
    stopword ratio, mean token length, and a composite [0,1] score.

    Composite = 0.4·min(tokens/100,1) + 0.3·(1−stop_ratio) + 0.3·min(avg_len/6,1)
    — a deterministic heuristic in the spirit of C4/Gopher-style quality
    filters, kept as plain arithmetic so the oracle can verify it.
    """
    n_tok = token_count(col)
    n_chars = F.length(col)
    stop_ratio = stopword_hits(col) / (n_tok + F.lit(1.0))
    # single-space-separated => non-space chars = length - (tokens - 1)
    avg_token_len = (n_chars - (n_tok - F.lit(1))) / (n_tok + F.lit(1.0))
    score = (
        F.lit(0.4) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.3) * F.least(avg_token_len / F.lit(6.0), F.lit(1.0))
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "stopword_ratio": stop_ratio,
        "avg_token_len": avg_token_len,
        "quality_score": score,
    }


def quality_enrich(df, cleaned_col: str = "cleaned_text"):
    """Staged DataFrame form of ``quality_columns``: tokenization, counts and
    ratios are materialized as intermediate columns so each is computed once
    per row (the inline Column form repeats split() per feature — same
    hot-path issue as sentiment_enrich, see that docstring). Adds
    n_chars, n_tokens, stopword_ratio, avg_token_len, quality_score.
    Values are bit-identical to quality_columns (same op order)."""
    c = F.col(cleaned_col)
    df = df.withColumn("__toks", tokens(c))
    df = df.withColumns({
        "__n_tok": F.when(c == "", F.lit(0)).otherwise(F.size(F.col("__toks"))),
        "__stop_hits": array_word_hits(F.col("__toks"), STOPWORDS),
        "n_chars": F.length(c).cast("long"),
    })
    t = F.col("__n_tok")
    df = df.withColumns({
        "n_tokens": t.cast("long"),
        "stopword_ratio": F.col("__stop_hits") / (t + F.lit(1.0)),
        "avg_token_len": (F.col("n_chars") - (t - F.lit(1))) / (t + F.lit(1.0)),
    })
    df = df.withColumn(
        "quality_score",
        F.lit(0.4) * F.least(t / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.col("stopword_ratio"))
        + F.lit(0.3) * F.least(F.col("avg_token_len") / F.lit(6.0), F.lit(1.0)),
    )
    return df.drop("__toks", "__n_tok", "__stop_hits")


def lang_id_column(col: Column, threshold: float = 0.05) -> Column:
    """Language-ID heuristic: English-stopword density over tokens.

    A real system would use char-n-gram profiles per language (the classic
    Cavnar-Trenkle approach) — that profile table is just a broadcast-joined
    dim at scale. On the synthetic corpus the deterministic density rule keeps
    the operator oracle-checkable.
    """
    n_tok = token_count(col)
    density = stopword_hits(col) / (n_tok + F.lit(1.0))
    return F.when(density > threshold, F.lit("en")).otherwise(F.lit("other"))


def fingerprint(col: Column) -> Column:
    """Exact-content fingerprint: md5 of cleaned text."""
    return F.md5(col)


def bag_fingerprint(col: Column) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct token set
    (catches word-order shuffles, the classic near-dup fingerprint trick)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Word k-shingles from an already-staged token array column. Prefer
    this over ``shingles`` when the caller can stage ``tokens(...)`` as its
    own projected column first: the token split then evaluates once per row
    instead of once per reference inside this expression (codegen
    subexpression elimination does not unify the repeated lambdas)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles of cleaned text as array<string> — the MinHash /
    Jaccard unit. Built with transform over token indices (JVM-side)."""
    return shingles_from_tokens(tokens(col), k)


# ---------------------------------------------------------------------------
# PII redaction — ordered (pattern → replacement) rewrite chain.
# ---------------------------------------------------------------------------

# Deliberately conservative, RE2/Java-compatible patterns (no lookaround) so
# the same regexes run identically on Spark (java.util.regex), DuckDB (RE2),
# and any downstream engine. Order matters: specific → general, so an email
# is masked as <EMAIL> before the digit rule can eat its numeric chunks.
DEFAULT_PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{3}[-.\s]\d{3}[-.\s]\d{4}\b", "<PHONE>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\d+", "#"),
)


def redact(col: Column, patterns: tuple[tuple[str, str], ...] = DEFAULT_PII_PATTERNS) -> Column:
    """Apply an ordered chain of global regexp replacements — the standard
    PII-scrub pass of a training-data pipeline. Pure Column (JVM regex,
    whole-stage codegen); each pattern is one ``regexp_replace`` layer, so
    the whole chain is a single projection with zero extra passes over the
    data."""
    out = col
    for pattern, replacement in patterns:
        out = F.regexp_replace(out, pattern, replacement)
    return out
