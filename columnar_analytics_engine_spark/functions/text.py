r"""Text-analysis primitives for large-scale training-data pipelines.

The tokenizer contract — whitespace split of the trimmed text — and
the formulas built on it (token counts, stop-word hits, the language
argmax, the document fingerprint) are each written ONCE as a template
over SQL text: pass SQL expressions and a dialect
(``functions/dialect.py``), get SQL text back.  Spark call sites wrap
the result in ``F.expr``; the DuckDB oracles interpolate it.  The
tokenizer renders as ``split(trim(x), '\\s+')`` for Spark and
``regexp_split_to_array(trim(x), '\s+')`` for DuckDB — the same
regex, so both engines produce the same token arrays.  Everything runs
JVM-side, whole-stage-codegen'd, no Python UDFs.

The remaining Column helpers (character, punctuation and subword
counts) have no oracle twin to keep in step with.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.dialect import SPARK, Dialect

# Tiny deterministic stopword lists per language for the language-ID
# heuristic and stopword-ratio quality signal.  Intentionally small: the
# point is the operator shape (argmax over per-language evidence counts),
# not lexicon quality.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "fr": ("le", "la", "de", "et", "les", "des", "un"),
    "es": ("el", "la", "de", "y", "los", "que", "un"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
    "zh": ("的", "是", "了", "在", "我", "有", "和"),
}

# Deterministic tie-break priority for argmax (must match oracle SQL).
LANG_PRIORITY: tuple[str, ...] = ("en", "fr", "es", "de", "zh")

_WS = r"\s+"


def tokens(text: str, d: Dialect = SPARK) -> str:
    """Whitespace tokens of the trimmed text (the tokenizer contract)."""
    return f"{d.split}(trim({text}), {d.lit(_WS)})"


def distinct_tokens(text: str, d: Dialect = SPARK) -> str:
    return f"{d.distinct}({tokens(text, d)})"


def token_count(text: str, d: Dialect = SPARK) -> str:
    return f"CAST({d.size}({tokens(text, d)}) AS BIGINT)"


def distinct_token_count(text: str, d: Dialect = SPARK) -> str:
    return f"CAST({d.size}({distinct_tokens(text, d)}) AS BIGINT)"


# GPT-2-style pretokenizer pattern, restricted to syntax with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): contractions,
# optionally space-prefixed letter runs / digit runs / symbol runs.
# ASCII classes only — both engines treat \s and the negated class the
# same on any UTF-8 input.
BPE_ISH_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+"


def bpe_ish_token_count(text: Column) -> Column:
    """Subword-style token count via the GPT-2-ish pretokenizer regex —
    the cheap LLM-token estimator a corpus budget runs at scan speed
    (real BPE merges only shorten runs, so this upper-bounds and tracks
    the true token count)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def char_count(text: Column) -> Column:
    return F.length(F.trim(text)).cast("long")


def non_ws_char_count(text: Column) -> Column:
    """Characters excluding all whitespace (numerator for avg token len)."""
    return F.length(F.regexp_replace(F.trim(text), r"\s+", "")).cast("long")


def stopword_hits(text: str, lang: str, d: Dialect = SPARK) -> str:
    """Occurrences (not distinct) of ``lang`` stopwords among tokens."""
    stoplist = d.array([d.lit(w) for w in STOPWORDS[lang]])
    hits = f"{d.filter}({tokens(text, d)}, _w -> {d.contains}({stoplist}, _w))"
    return f"CAST({d.size}({hits}) AS BIGINT)"


def punct_count(text: Column) -> Column:
    """Count of sentence-punctuation characters."""
    return F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("long")


def language_argmax(scores: dict[str, str]) -> str:
    """Argmax over per-language score expressions with the fixed
    LANG_PRIORITY tie-break: a CASE chain (dialect-neutral SQL)."""
    langs = list(LANG_PRIORITY)
    arms = []
    for i, lang in enumerate(langs[:-1]):
        cond = " AND ".join(
            f"({scores[lang]}) >= ({scores[other]})" for other in langs[i + 1 :]
        )
        arms.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(arms) + f" ELSE '{langs[-1]}' END"


def predict_language(text: str, d: Dialect = SPARK) -> str:
    """Argmax of per-language stopword evidence — a deterministic
    lexicon-based language-ID heuristic.  The CASE chain repeats each
    score expression per comparison; whole-stage codegen's
    subexpression elimination evaluates each once."""
    return language_argmax({lang: stopword_hits(text, lang, d) for lang in LANG_PRIORITY})


def fingerprint(text: str, d: Dialect = SPARK) -> str:
    """Canonical document fingerprint: md5 of the lowercased,
    whitespace-collapsed text.  Identical duplicates (modulo case and
    spacing) collide; stable across engines for oracle checks."""
    collapsed = d.replace_all(f"lower(trim({text}))", d.lit(_WS), "' '")
    return f"md5({collapsed})"
