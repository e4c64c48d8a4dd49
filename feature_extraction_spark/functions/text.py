"""Scalar text/math expression builders (all JVM-native, codegen-friendly).

Parity notes vs the reference:

- Tokenization is ``s.split(" ")`` — a literal single-space split that KEEPS
  empty strings (reference: text_features/extract_verbosity_stats.py:63,
  extract_lexical_diversity.py:79). Spark's ``split(col, ' ', -1)`` has
  identical semantics (limit=-1 keeps trailing empties). NULL text (a
  recognizer CSV's empty field, a JSONL line without text) tokenizes
  like ''.
- NaN, never NULL, is the null object for empty groups / zero denominators
  (reference: extract_verbosity_stats.py:26-36 and everywhere).
- Syllable counting: the reference uses ``textstat.syllable_count`` (not
  installed here). We substitute a deterministic vowel-group heuristic,
  implemented identically in the engine (native regex), the pandas oracle,
  and the DuckDB oracle SQL — a documented deviation, consistent everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def nan() -> Column:
    return F.lit(float("nan"))


def nan_guard_div(num: Column, denom: Column) -> Column:
    """num/denom if denom is non-zero else NaN — the reference's universal
    ratio guard (e.g. timing_features/extract_word_phone_timing.py:36-46)."""
    return F.when(denom != 0, num / denom).otherwise(nan())


def tokenize_expr(col: Column) -> Column:
    """Literal single-space split, keeping empty tokens ('' stays a token).
    NULL text tokenizes like '' (one empty token), in either ANSI mode:
    a bare split would give a -1 word count with ANSI off, NULL with it
    on, and no token rows to explode."""
    return F.split(F.coalesce(col, F.lit("")), " ", -1)


def ws_tokens_expr(col: Column) -> Column:
    """Whitespace tokens with empties dropped — the shared tokenizer for
    vocab sketches, vocab sizes, and chunking (one definition so token
    accounting can never diverge between them)."""
    return F.filter(F.split(col, r"\s+", -1), lambda w: F.length(w) > 0)


def syllable_count_expr(word: Column) -> Column:
    """Deterministic syllable heuristic: count of [aeiouy]+ groups in the
    lowercased word; words with letters but no vowel groups count 1;
    empty string counts 0. Mirrored in oracle/kernels.py:syllable_count
    and in the DuckDB SQL oracles."""
    groups = F.size(F.regexp_extract_all(F.lower(word), F.lit("[aeiouy]+"), 0))
    return (
        F.when(F.length(word) == 0, F.lit(0))
        .when(groups == 0, F.lit(1))
        .otherwise(groups)
    )


def strip_punct_expr(col: Column) -> Column:
    """Remove punctuation but keep apostrophes/word chars/whitespace
    (reference: text_features/text_util.py:104-109, regex [^\\w\\d'\\s]+)."""
    return F.regexp_replace(col, r"[^\w\d'\s]+", "")


def ngrams_expr(words: Column, n: int) -> Column:
    """Word n-grams of an array<string>, in order, each joined by one
    space; empty when there are fewer than ``n`` words, NULL for NULL.

    Built as ``n`` shifted slices zipped into one array and a single
    ``transform`` over it. The lambda reads only its own element, so the
    ``words`` expression (regex normalization included) is evaluated n
    times per row. A ``transform(sequence(1, k), i -> slice(words, i, n))``
    captures ``words`` inside the lambda and re-evaluates it for every
    gram: O(words²) per document."""
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words, i + 1, k) for i in range(n)])
    return F.transform(
        zipped, lambda z: F.concat_ws(" ", *[z[str(i)] for i in range(n)])
    )
