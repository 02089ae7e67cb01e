"""Text column expressions — tokenization, n-grams, stopwords.

All pure built-in column expressions (whole-stage codegen, no Python in
the hot path). Tokenization splits on the explicit whitespace class
``WS_RE`` with empty-token filtering, which behaves identically to
DuckDB's ``string_split_regex(text, '\\s+')`` so oracle queries can
mirror it: RE2's ``\\s`` is exactly ``[\\t\\n\\f\\r ]``, while Java's
``\\s`` also matches U+000B (vertical tab), so a bare ``\\s+`` here
split ``"a\\vb"`` into two tokens where the oracle kept one.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from bigdata1_spark.functions.hashing import let

# The one whitespace class of every tokenizer in the repo (Spark column
# expression and Python-side alike): RE2's \s, spelled out.
WS_RE = r"[\t\n\f\r ]+"

# Tiny multilingual stopword/marker lists for lang-id and quality scoring.
# Deliberately small and inlined: they broadcast as literals.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "las", "y", "una"),
    "de": ("der", "die", "das", "und", "ein"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}

STOPWORDS: tuple[str, ...] = tuple(
    sorted({w for ws in LANG_MARKERS.values() for w in ws})
)


def tokens(col: Column) -> Column:
    """Whitespace tokens with empties dropped (ARRAY<STRING>)."""
    return F.filter(F.split(col, WS_RE), lambda t: F.length(t) > 0)


def py_tokens(text: str | None) -> list[str]:
    """``tokens`` for Python-side code (UDFs/UDTFs): the same class, so
    NBSP, U+3000 and U+000B stay inside a token, as in both engines."""
    return [w for w in re.split(WS_RE, text or "") if w]


def ngrams(toks: Column, n: int) -> Column:
    """Sequential word n-grams of a token array, every occurrence kept
    (ARRAY<STRING>) — repetition and gram-position statistics need the
    duplicates that :func:`word_shingles` drops.

    A document shorter than n tokens yields ONE whole-doc gram, so every
    doc has ≥1 gram (keeps minhash total, and ratio denominators ≥ 1):
    ``F.get`` (0-based) is NULL-safe out of bounds where element_at
    raises under ANSI, and concat_ws drops the NULLs, so the gram just
    comes out short ('' for an empty token list). greatest(…, 1) also
    avoids sequence(1, 0), which Spark would iterate DOWNWARD.
    """

    def body(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - (n - 1), F.lit(1)))
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.get(tk, i + j - 1) for j in range(n)]
            ),
        )

    # let-bind the token array: ``toks`` is usually an inlined
    # split-of-text expression, and it is referenced n times inside the
    # per-gram lambda — HOF lambdas sit outside codegen CSE, so without
    # the binding the whole document gets re-tokenized once per gram per
    # position (measured 61 s → 2 s on dsir_sample's sf1 explode).
    return let(toks, body)


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a token array (ARRAY<STRING>), first
    occurrence order; short docs give one whole-doc shingle."""
    return F.array_distinct(ngrams(toks, n))


def shingles_or_null(text: Column, n: int) -> Column:
    """``word_shingles(tokens(text), n)``, except that NULL text gives
    ONE NULL gram — the oracles' degenerate form. Without it concat_ws
    flattens a NULL doc to the EMPTY-string gram, which groups and joins
    with the empty grams of other NULL docs where the oracle's NULL gram
    matches nothing (caught by the NULL stress twins)."""
    return F.when(text.isNotNull(), word_shingles(tokens(text), n)).otherwise(
        F.array(F.lit(None).cast("string"))
    )
