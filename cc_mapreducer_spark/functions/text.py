"""Reusable text Column expressions — pure built-ins, zero UDFs.

These are the Spark-first renditions of the reference's five pure core
functions (reference ``src/index.js:48-116``). Everything stays inside
whole-stage codegen; at 100 TB these run as vectorized JVM expressions on
the scan output with no Python round-trip.

Tokenizer semantics (documented divergence from the reference): a token is
a maximal run of ``[a-z]`` in the lower-cased text. The reference's
first-apostrophe-only removal (``src/index.js:50``, missing ``g`` regex
flag) is a bug we do not replicate — here every non-letter, apostrophes
included, is a word break.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Common-English stop-word fixture (FIXTURES.md §A). The reference loads an
# equivalent comma-separated list from a config object (src/index.js:141-142)
# and ships it inside every worker message — a manual broadcast. We keep one
# canonical list shared by the Spark plan and the DuckDB oracle.
STOP_WORDS: tuple[str, ...] = (
    "the", "and", "of", "to", "in", "is", "it", "that", "he", "she",
    "was", "for", "on", "are", "as", "with", "his", "her", "they",
    "at", "be", "this", "have", "from", "or", "had", "by", "but",
    "not", "what", "all", "were", "we", "when", "your", "can", "said",
    "there", "use", "an", "each", "which", "do", "how", "their", "if",
    "will", "up", "other", "about", "out", "many", "then", "them",
    "these", "so", "some", "would", "into", "has", "more", "you", "me",
)


def stop_words_sql_list() -> str:
    """The stop-word set as a SQL IN-list literal for the DuckDB oracles."""
    return "(" + ", ".join(f"'{w}'" for w in STOP_WORDS) + ")"


def tokens(text: Column) -> Column:
    """text -> array<string> of [a-z]+ tokens (may contain '' edge tokens).

    Mirrors the reference reader ``_read`` (src/index.js:48-55) minus its
    apostrophe quirk. Callers filter length>1 / stop words themselves so the
    predicate placement is visible in the plan. Splitting on the separator
    regex directly is one regex pass per line instead of two.
    """
    return F.split(F.lower(text), "[^a-z]+")


def anagram_signature(word: Column) -> Column:
    """word -> characters sorted ascending, rejoined (reference ``_map``,
    src/index.js:64-69). Binary string sort == JS code-unit sort on the
    [a-z] alphabet the tokenizer guarantees, so no UDF is needed.
    ``sort_array`` is generated code; ``array_sort``'s default comparator
    is a lambda Spark evaluates interpreted on every comparison."""
    return F.array_join(F.sort_array(F.split(word, "")), "")
