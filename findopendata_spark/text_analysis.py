"""Text analysis operators for training-data pipelines.

Language-ID (marker-token heuristic), quality scoring, and regex
tokenization — all pure column expressions (JVM, whole-stage codegen).
The reference's only text analytics is spaCy NER on titles
(``metadata.py:50-54``), an optional enrichment; these are the
scale-first equivalents a 100 TB corpus pipeline needs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small high-frequency marker sets (public stopword lists, truncated).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "du", "que"],
    "es": ["el", "la", "de", "que", "y", "los", "un", "una", "con", "por"],
}

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

PUNCT_CLASS = r"[.,!?;:'\"()\[\]{}]"


# Java String.trim strips every char <= U+0020 (not just whitespace)
_JAVA_TRIM = "".join(chr(i) for i in range(0x21))
# Java regex \s is ASCII-only: [ \t\n\x0B\f\r] (Python's is Unicode-wide)
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def tokens(text: Column) -> Column:
    """The one whitespace tokenizer. :data:`TOKENS_SQL` is its DuckDB twin
    over the ``text`` column, :func:`tokens_py` its twin for Python batch
    kernels."""
    return F.split(F.lower(F.trim(text)), r"\s+")


# :func:`tokens` of the ``text`` column in the DuckDB oracles
TOKENS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


def tokens_py(text: str | None) -> list[str]:
    """:func:`tokens` for batch kernels: Java ``String.trim``, ASCII-only
    ``\\s+`` split, ``str.lower`` (== ``toLowerCase`` on ASCII; non-ASCII
    case edge cases would lower differently). None → []."""
    if text is None:
        return []
    return _JAVA_WS.split(text.strip(_JAVA_TRIM).lower())


def marker_score(text: Column, lang: str) -> Column:
    """Fraction of tokens that are top-frequency markers of `lang`."""
    toks = tokens(text)
    hits = F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1))


def lang_id(text: Column) -> Column:
    """argmax marker score with deterministic tie-break (en>de>fr>es order)."""
    scores = {lg: marker_score(text, lg) for lg in LANG_MARKERS}
    best = F.greatest(*scores.values())
    out = F.lit("unknown")
    for lg in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        out = F.when((best > 0) & (scores[lg] == best), F.lit(lg)).otherwise(out)
    return out


def bpe_token_count(text: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer (regexp, JVM-side)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), F.lit(0)))


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality gates (the standard
    pretraining-corpus filters, cf. Gopher/C4 heuristics)."""
    toks = tokens(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    punct = n_chars - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(m) for m in LANG_MARKERS["en"]]))
    )
    return {
        "n_tokens": n_tokens,
        "mean_token_len": (n_chars - n_tokens + 1).cast("double")
        / F.greatest(n_tokens, F.lit(1)),
        "punct_ratio": punct.cast("double") / F.greatest(n_chars, F.lit(1)),
        "stopword_ratio": stop_hits.cast("double") / F.greatest(n_tokens, F.lit(1)),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: enough tokens, sane token length,
    not punctuation-soup, has some stopwords."""
    f = quality_features(text)
    gates = (
        F.when(f["n_tokens"] >= 20, 0.25).otherwise(0.0)
        + F.when((f["mean_token_len"] >= 3) & (f["mean_token_len"] <= 12), 0.25).otherwise(0.0)
        + F.when(f["punct_ratio"] <= 0.2, 0.25).otherwise(0.0)
        + F.when(f["stopword_ratio"] >= 0.01, 0.25).otherwise(0.0)
    )
    return gates
