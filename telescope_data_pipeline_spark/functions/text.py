"""Text-analysis column expressions shared by the LLM-data queries.

JVM-side only: tokenization and the quality gate — the
building blocks of queries/llm.py, importable for ad-hoc pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Whitespace tokenizer used consistently engine-wide (matches the
#: DuckDB oracle regex string_split_regex(text, '\s+')).
TOKEN_PATTERN = r"\s+"


def tokens(text: Column) -> Column:
    return F.split(text, TOKEN_PATTERN)


def quality_verdict(text: Column) -> Column:
    """First-failing-rule verdict of the C4/Gopher-style gate
    (q_quality_gate's rule cascade, factored so batch and streaming
    ingestion apply the identical gate): 'too_short' / 'too_long' /
    'word_length' / 'repetitive' / 'keep'. Pure per-row higher-order
    array ops — stateless, so it streams unchanged."""
    toks = F.filter(tokens(text), lambda x: x != "")
    # coalesce: NULL text means zero tokens, so attribution is
    # 'too_short' — without it the NULL skips both size rules and the
    # mean_wlen default misattributes the rejection to 'word_length'.
    n_tok = F.coalesce(F.size(toks), F.lit(0))
    mean_wlen = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0.0), lambda acc, x: acc + F.length(x))
        / n_tok).otherwise(F.lit(0.0))
    top_frac = F.when(
        n_tok > 0,
        F.array_max(F.transform(
            F.array_distinct(toks),
            lambda u: F.size(F.filter(toks, lambda x: x == u))))
        .cast("double") / n_tok).otherwise(F.lit(1.0))
    return (F.when(n_tok < 20, "too_short")
            .when(n_tok > 1000, "too_long")
            .when((mean_wlen < 2.0) | (mean_wlen > 12.0), "word_length")
            .when(top_frac > 0.2, "repetitive")
            .otherwise("keep"))
