"""Text-analysis functions (north-star scope, BASELINE.json: LLM-data-pipeline
operators over the ``documents`` table).

All pure Catalyst expressions over ``string`` columns — tokenization, quality
stats, language-ID heuristics, fingerprints. At 100 TB these run inside the
scan stage (no shuffle, codegen'd); only the rolling-hash fingerprint touches
higher-order funcs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A tiny per-language stopword table for the n-gram/stopword language-ID
# heuristic. Public knowledge (most-frequent function words).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un"],
    "zh": ["的", "是", "了", "在"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), r"\s+")


def n_tokens(text: Column) -> Column:
    return F.size(tokens(text))


def n_distinct_tokens(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_ratio(text: Column, words: list[str]) -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
    return hits / F.size(toks)


def distinct_ratio(text: Column) -> Column:
    """Quality signal: vocabulary diversity (near-0 → degenerate repetition)."""
    toks = tokens(text)
    return F.size(F.array_distinct(toks)) / F.size(toks)


def quality_signals(text: Column) -> tuple[Column, Column, Column]:
    """The document quality signals of the quality-filter queries:
    ``(n_tok, ddr, pr)`` = single-space token count, distinct-token ratio
    and the share of characters outside ``[a-zA-Z0-9 ]``. Tokens are a
    plain ``split(text, ' ')`` (no trim), as the queries' SQL oracles
    count them."""
    toks = F.split(text, " ")
    n_tok = F.size(toks)
    ddr = F.size(F.array_distinct(toks)) * 1.0 / n_tok
    pr = (
        F.length(F.regexp_replace(text, "[a-zA-Z0-9 ]", "")) * 1.0
        / F.length(text)
    )
    return n_tok, ddr, pr


def quality_verdict(text: Column) -> Column:
    """The first failing quality rule of a document ('too_short',
    'low_diversity', 'high_punct'), or 'keep'."""
    n_tok, ddr, pr = quality_signals(text)
    return (
        F.when(n_tok < 20, "too_short")
        .when(ddr < 0.4, "low_diversity")
        .when(pr > 0.1, "high_punct")
        .otherwise("keep")
    )


def lang_id(text: Column) -> Column:
    """Language-ID heuristic: highest stopword-hit-rate wins, 'und' if no
    hits. (The reference has no text ops; this is north-star scope.)"""
    toks = tokens(text)

    def hit_count(words: list[str]):
        # closure factory: a default-arg lambda would be read as the
        # two-arg (element, index) filter form
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = [(lang, hit_count(words)) for lang, words in STOPWORDS.items()]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    for lang, score in reversed(scores):
        result = F.when(score == best_score, F.lit(lang)).otherwise(result)
    return F.when(best_score <= 0, F.lit("und")).otherwise(result)


def token_count_bpe_ish(text: Column) -> Column:
    """Token counting with a BPE-ish regex: word pieces + digits + punct
    runs, the usual pre-tokenizer shape."""
    pieces = F.split(F.trim(text), r"(?=[^\w])|(?<=[^\w])")
    return F.size(F.filter(pieces, lambda p: (F.length(F.trim(p)) > 0)))


def fingerprint64(text: Column) -> Column:
    """Document fingerprint: xxhash64 of normalized text (lowercased,
    whitespace-collapsed). Cheap exact-dup key at scale."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(norm)


def portable_hash60(col: Column) -> Column:
    """Engine-portable 60-bit hash: int(md5(s)[:15 hex], 16).

    md5 is bit-identical everywhere, so this is the one hash family that a
    DuckDB oracle can replay exactly: Spark ``conv(substr(md5(x),1,15),16,10)``
    == DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``. 60 bits keeps every
    downstream product/sum inside int64 under ANSI mode. Used wherever a
    hash VALUE must match across engines (SimHash bit-votes, winnowing gram
    hashes); xxhash64 remains the cheaper JVM-only choice when only
    hash-agnostic consumers observe the value."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    """DuckDB twin of ``portable_hash60`` as a SQL fragment."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"
