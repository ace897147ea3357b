"""Text-analysis expressions for the LLM-data-pipeline surface (SURVEY
§2.9): tokenization, language-ID heuristic, quality scoring, token
counting, document fingerprinting. All built-in-function compositions
(split / higher-order array fns / hashes) — no Python UDFs — so they
vectorize at 100 TB document scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic; real deployments would
# broadcast a bigger dim table (same plan shape).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "das", "und", "zu", "in", "ein", "ist"],
}


# The canonical whitespace tokenizer class, spelled out instead of \s:
# Java regex \s is exactly [ \t\n\x0B\f\r] but DuckDB's RE2 \s omits
# \x0B, so oracles written with \s would diverge from the engine on a
# vertical-tab document (r10 review finding, verified empirically).
# The same escape text means the same class to BOTH regex dialects;
# every Spark tokenizer site imports it and every SQL oracle template
# interpolates it (the constant contains no quotes, so it embeds
# directly into SQL string literals) — one definition, zero copies.
WS_SPLIT = r"[ \t\n\x0B\f\r]+"


def tokens(col: Column) -> Column:
    """Whitespace tokenization; multi-space safe (filters empties)."""
    return F.filter(F.split(col, WS_SPLIT), lambda t: t != "")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


# GPT-2-style pretokenizer shape: alnum runs or single punct chars.
# RE2-compatible (no lookaround) so the DuckDB oracle can run the same
# pattern via regexp_extract_all — and the whitespace is the explicit
# class, not \s, for the same Java-vs-RE2 \x0B reason as WS_SPLIT (the
# pattern string is shared verbatim by both engines, so one constant
# keeps them aligned).
BPE_PIECE_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


def token_count_bpe_estimate(col: Column) -> Column:
    """BPE-ish token estimate: count of pretokenizer pieces (alnum runs +
    punct), floored by the ~4-chars/token length prior. Deterministic,
    regex-only."""
    pieces = F.regexp_extract_all(col, F.lit(BPE_PIECE_RE), F.lit(0))
    return F.greatest(F.size(pieces).cast("long"), F.ceil(F.length(col) / F.lit(4)))


def _isin_filter(words: list[str]):
    # NB: HOF lambdas must be single-argument — PySpark treats extra
    # default args as additional lambda variables. Bind via closure.
    return lambda t: t.isin(*words)


def lang_id_from_tokens(toks: Column) -> Column:
    """Language ID from a materialized lowercase token-array column
    (same perf contract as :func:`shingles_of` — the scorer references
    the tokens once per language)."""
    denom = F.greatest(F.size(toks), F.lit(1))
    best_lang, best_score = F.lit("und"), F.lit(0.0)
    for lg in sorted(STOPWORDS):  # fixed order → deterministic ties
        score = F.size(F.filter(toks, _isin_filter(STOPWORDS[lg]))) / denom
        better = score > best_score
        best_lang = F.when(better, F.lit(lg)).otherwise(best_lang)
        best_score = F.when(better, score).otherwise(best_score)
    return best_lang


def quality_score(col: Column) -> Column:
    """Document quality in [0,1]: blend of length band, alpha ratio,
    mean word length band — the reference's validation-gate spirit
    (App.js:388-394) applied to documents."""
    n_chars = F.length(col)
    n_toks = F.greatest(token_count_ws(col), F.lit(1))
    alpha_ratio = F.length(F.regexp_replace(col, r"[^A-Za-z ]", "")) / F.greatest(
        n_chars, F.lit(1)
    )
    mean_word = n_chars / n_toks
    len_ok = (n_chars >= 64) & (n_chars <= 100_000)
    word_ok = (mean_word >= 2.0) & (mean_word <= 12.0)
    return (
        F.when(len_ok, 0.4).otherwise(0.0)
        + F.when(word_ok, 0.3).otherwise(0.0)
        + alpha_ratio * 0.3
    )


def fingerprint(col: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set — stable under token reordering (near-dup canary)."""
    canon = F.array_join(F.array_sort(F.array_distinct(tokens(col))), " ")
    return F.md5(canon)


def shingles_of(toks: Column, k: int = 3) -> Column:
    """k-token shingles from a token-array column.

    PERF CONTRACT: ``toks`` must be a MATERIALIZED column (project
    ``tokens(text)`` first), not the tokenize expression itself — lambda
    bodies get no common-subexpression elimination, so an inline
    tokenize is re-evaluated for every element_at reference (measured
    ~5× slowdown at sf0.1). Windows are built with k fixed
    ``element_at`` lookups + ``concat_ws`` (no per-window array
    allocation)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))

    def window_at(i: Column) -> Column:
        return F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)])

    return F.when(n >= k, F.transform(idx, window_at)).otherwise(
        F.array(F.array_join(toks, " "))
    )
