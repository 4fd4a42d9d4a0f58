"""Cross-engine deterministic text primitives.

Everything here is a pure Catalyst expression (whole-stage codegen,
JVM-side — the fast path per the 100 TB mandate) that DuckDB SQL computes
exactly, so the driver's oracle can replay it:

  h64(s)      Spark: conv(substring(md5(s),1,15),16,10)::long
              (h64_sql: the same as SQL text)
              Duck : ('0x' || substr(md5(s),1,15))::bigint
  tokens(s)   Spark: split(trim(s),'\\s+')   Duck: regexp_split_to_array
  integer division everywhere a ratio is emitted (float-free outputs, so
  value hashes can never drift on formatting/precision).

The DuckDB twins live in tests/test_cross_engine.py, which pins each
expression against its twin.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F  # noqa: N812

# 60-bit md5-prefix hash — the one hash primitive shared with the DuckDB
# oracles (DuckDB's hash() and Spark's xxhash64 are NOT cross-compatible).
H64_MOD = 1_000_003
FP_MOD = 1_000_000_007


def h64(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h64_sql(expr: str) -> str:
    """h64 as Spark SQL text, for expressions parsed once with F.expr."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


# BPE-ish token pattern: letter runs, digit runs, single punctuation.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# Language marker words (tiny deterministic stopword sets for n-gram-free
# language ID; alphabetical tie-break de<en<es<fr<zh encoded as ids 5..1).
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein"],
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "es": ["el", "la", "de", "que", "los", "una", "es"],
    "fr": ["le", "la", "et", "les", "des", "une", "est"],
    "zh": ["de", "shi", "le", "zai", "wo", "you", "he"],
}
LANG_IDS = {"de": 5, "en": 4, "es": 3, "fr": 2, "zh": 1}
ID_TO_LANG = {v: k for k, v in LANG_IDS.items()}

# English stopwords for quality scoring.
EN_STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "for", "on", "with",
]


def _array_lit(words: list[str]) -> str:
    inner = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    return f"array({inner})"


def marker_score(tokens_col: str, lang: str) -> Column:
    """Count of distinct token matches against the language's marker set
    (Spark: array_intersect on distinct tokens — codegen'd)."""
    markers = _array_lit(LANG_MARKERS[lang])
    return F.expr(
        f"size(array_intersect(array_distinct({tokens_col}), {markers}))"
    )


def stopword_count(tokens_col: str) -> Column:
    stops = _array_lit(EN_STOPWORDS)
    return F.expr(
        f"size(filter({tokens_col}, t -> array_contains({stops}, t)))"
    )
