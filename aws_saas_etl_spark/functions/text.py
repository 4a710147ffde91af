"""Text-analysis column expressions (all JVM-side built-ins).

Everything here is a pure ``pyspark.sql.functions`` composition — no Python
UDFs — so the hot path stays inside whole-stage codegen and scales linearly
with executors. These power the ``documents``-table text-analysis queries
(SURVEY §2b: token counting, quality scoring, language ID, fingerprinting).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization spec shared with every oracle: lowercase, split on runs of
# non-alphabetic characters, drop empties. Deterministic and cheap.
TOKEN_SPLIT_RE = "[^a-z]+"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Public-knowledge function words; order matters only for
# deterministic tie-breaking (first match wins ties).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "zu"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"),
    "zh": ("de", "le", "shi", "bu", "wo", "ni", "ta", "men", "zai", "you"),
}


# The per-document token features below are written as SQL text over a
# column NAME (the ``*_sql`` emitters) and become a Column through ONE
# ``F.expr`` each. A Python-lambda ``F.filter`` / ``F.aggregate`` calls
# back into the JVM once per lambda, and each Column call is a handful of
# py4j round trips; the parsed text gives the identical expression tree.


def tokens_sql(col: str) -> str:
    """Lowercased alphabetic tokens of a text column (empties removed)."""
    return f"filter(split(lower({col}), '{TOKEN_SPLIT_RE}'), t -> t != '')"


def token_count_sql(col: str) -> str:
    return f"size({tokens_sql(col)})"


def stopword_count_sql(col: str, lang: str = "en") -> str:
    stops = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"size(filter({tokens_sql(col)}, t -> t IN ({stops})))"


def stopword_ratio_sql(col: str, lang: str = "en") -> str:
    n = token_count_sql(col)
    return (
        f"CASE WHEN {n} > 0 THEN {stopword_count_sql(col, lang)} / {n} "
        "ELSE 0.0D END"
    )


def alpha_ratio_sql(col: str) -> str:
    """Fraction of characters that are alphabetic — a quality signal."""
    return (
        f"CASE WHEN length({col}) > 0 THEN "
        f"length(regexp_replace({col}, '[^a-zA-Z]', '')) / length({col}) "
        "ELSE 0.0D END"
    )


def mean_token_length_sql(col: str) -> str:
    ts = tokens_sql(col)
    return (
        f"CASE WHEN size({ts}) > 0 THEN "
        f"CAST(aggregate({ts}, 0, (acc, t) -> acc + length(t)) AS DOUBLE) "
        f"/ size({ts}) ELSE 0.0D END"
    )


def tokens(col: str) -> Column:
    return F.expr(tokens_sql(col))


def token_count(col: str) -> Column:
    return F.expr(token_count_sql(col))


def distinct_token_count(col: str) -> Column:
    return F.expr(f"size(array_distinct({tokens_sql(col)}))")


def stopword_count(col: str, lang: str = "en") -> Column:
    return F.expr(stopword_count_sql(col, lang))


def stopword_ratio(col: str, lang: str = "en") -> Column:
    return F.expr(stopword_ratio_sql(col, lang))


def alpha_ratio(col: str) -> Column:
    return F.expr(alpha_ratio_sql(col))


def mean_token_length(col: str) -> Column:
    return F.expr(mean_token_length_sql(col))


def whitespace_token_count(col: Column | str) -> Column:
    """Plain whitespace tokenization — the cheap "word count" used by LLM
    data pipelines as a first-pass length signal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.filter(F.split(c, r"\s+"), lambda t: t != ""))


# GPT-2-style pre-tokenizer pattern, restricted to constructs both Java
# regex (Spark) and RE2 (DuckDB) implement identically: contraction
# suffixes, space-prefixed letter/digit/punctuation runs, whitespace runs.
# (The original pattern's \s+(?!\S) lookahead is dropped — RE2 has no
# lookahead; the difference only splits trailing-whitespace runs, which
# changes no count on stripped text.)
BPE_SPLIT_RE = r"'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish pre-tokenization count — the token-budget estimate LLM data
    pipelines use (GPT-2 pre-tokenizer segments; actual BPE merges only
    split WITHIN these segments, so this upper-bounds and tracks the real
    token count). Pure regexp_count: one JVM pass, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_SPLIT_RE))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def quality_score(col: str) -> Column:
    """Deterministic [0,1] quality heuristic combining length, alphabetic
    ratio, and lexical diversity — the shape of score LLM pipelines use to
    filter low-quality documents.

    score = 0.4·min(tokens/100, 1) + 0.3·alpha_ratio + 0.3·distinct/total
    """
    n = token_count(col)
    length_part = F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    diversity = F.when(
        n > 0, distinct_token_count(col).cast("double") / n
    ).otherwise(F.lit(0.0))
    return (
        F.lit(0.4) * length_part + F.lit(0.3) * alpha_ratio(col) + F.lit(0.3) * diversity
    )


def language_scores(col: str) -> dict[str, Column]:
    """Per-language stopword-hit counts (the language-ID signal)."""
    return {lang: stopword_count(col, lang) for lang in LANG_STOPWORDS}


def language_id(col: str) -> Column:
    """Argmax language by stopword hits; 'und' (undetermined) when no
    stopword of any language occurs. Ties break in LANG_STOPWORDS order
    (deterministic)."""
    scores = language_scores(col)
    # Argmax via array_max over (score, -declaration_index, lang) structs:
    # highest score wins, ties resolve to the earliest language. Each score
    # expression appears exactly ONCE — a when/otherwise fold was measured
    # 5× slower because the nested branches re-inline the tokenizer
    # expression combinatorially.
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    score.alias("score"), F.lit(-i).alias("ord"), F.lit(lang).alias("lang")
                )
                for i, (lang, score) in enumerate(scores.items())
            ]
        )
    )
    return F.when(best.getField("score") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )


# Winnowing (rolling-hash fingerprint sampling, Schleimer et al. 2003,
# "Winnowing: Local Algorithms for Document Fingerprinting"): hash every
# character k-gram, then keep the min hash of each w-window — guarantees a
# shared fingerprint for any match of length >= k + w - 1, with ~2/(w+1)
# sampling density.
#
# Deliberately NOT expressed as array column functions: higher-order
# array lambdas are interpreted, so any outer expression referenced
# inside one (the normalized text, a shared hash array) is RE-EVALUATED
# PER ELEMENT — the per-doc cost becomes O(n²) regex / O(n·m) hashing
# (measured 99s for 500 docs at sf0.001). The operator
# (operators/textops.py:doc_winnow_fingerprints) instead explodes k-gram
# positions to rows — the generator's child projection materializes the
# normalized text once per document — hashes each gram ONCE with
# codegen'd scalar ops, and takes the sliding minimum with a w-row window
# function: linear per document and distributed by doc_id.
WINNOW_K = 5  # character k-gram width
WINNOW_W = 4  # window width (hashes per window)

# k-gram hash = polynomial code of the gram's chars, mixed by two
# independent double-stepped Lehmer LCGs (Park-Miller multipliers) and
# packed into 62 bits. Pure int64 arithmetic — identical in Spark and
# DuckDB (the oracle re-derives the same formula), ~20 codegen'd integer
# ops per gram vs md5's digest + hex + base-conversion (which measured
# 36s at sf0.1 for this query alone). Winnowing's guarantee holds for any
# deterministic hash; the Lehmer mix de-biases the min-sampling.
WINNOW_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
WINNOW_A1 = 48271  # Park-Miller / MINSTD multipliers
WINNOW_A2 = 69621
WINNOW_B = 101  # polynomial base (> span of normalized char codes)
WINNOW_SALT = 912_367  # offsets the second lane so the lanes decorrelate


def kgram_hash(gram: Column | str, k: int = WINNOW_K) -> Column:
    """62-bit engine-neutral hash of one character k-gram (see constants
    above). All intermediates stay far below 2^63: the polynomial code is
    < 123·B^k ≈ 1.3e10, and each Lehmer step multiplies a value < 2^31 by
    a multiplier < 2^17."""
    g = F.col(gram) if isinstance(gram, str) else gram
    poly = F.lit(0).cast("bigint")
    for j in range(k):
        code = F.ascii(F.substring(g, j + 1, 1)).cast("bigint")
        poly = poly + code * (WINNOW_B ** (k - 1 - j))
    p = F.lit(WINNOW_P)
    r = poly % p
    h1 = (r * WINNOW_A1 % p) * WINNOW_A1 % p
    h2 = ((r + WINNOW_SALT) % p * WINNOW_A2 % p) * WINNOW_A2 % p
    return h1 * F.lit(2_147_483_648) + h2


def normalized_text(col: Column | str) -> Column:
    """Dedup normalization: lowercase, strip non-alphanumerics to single
    spaces, trim — the canonical form for normalized-hash dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(col))
