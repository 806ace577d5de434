"""Reusable text Column expressions — pure built-ins, zero UDFs.

These are the Spark-first renditions of the reference's five pure core
functions (reference ``src/index.js:48-116``). Everything stays inside
whole-stage codegen; at 100 TB these run as vectorized JVM expressions on
the scan output with no Python round-trip.

Tokenizer semantics (documented divergence from the reference): a token is
a maximal run of ``[a-z]`` in the lower-cased text. The reference's
first-apostrophe-only removal (``src/index.js:50``, missing ``g`` regex
flag) is a bug ``tokens`` does not replicate — there every non-letter,
apostrophes included, is a word break. ``faithful_tokens`` reproduces it
for the reader's faithful mode.
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


def sql_quote(s: str) -> str:
    """``s`` with its single quotes doubled, for a SQL string literal."""
    return s.replace("'", "''")


def tokens(text: Column) -> Column:
    """text -> array<string> of [a-z]+ tokens (may contain '' edge tokens).

    Mirrors the reference reader ``_read`` (src/index.js:48-55) minus its
    apostrophe quirk. Callers filter length>1 / stop words themselves so the
    predicate placement is visible in the plan. Splitting on the separator
    regex directly is one regex pass per line instead of two.
    """
    return F.split(F.lower(text), "[^a-z]+")


def faithful_tokens(text: Column) -> Column:
    """text -> array<string> under the reference's first-apostrophe-only
    reader (src/index.js:50's missing ``g`` flag): the FIRST apostrophe
    is removed, joining its neighbours — prefix before it + remainder
    after — and every later non-letter is a word break (may contain ''
    edge tokens). Spark's 4-arg regexp_replace position argument does
    NOT mean first-match-only — it replaces all matches from that
    position — so the prefix/remainder split does the removal."""
    lowered = F.lower(text)
    head = F.substring_index(lowered, "'", 1)
    # length 2**31 - 1 = to the end, as SQL's two-argument substring
    stripped = F.concat(head, F.substring(lowered, F.length(head) + 2, 2**31 - 1))
    return F.split(F.regexp_replace(stripped, "[^a-z]+", " "), " ")


def anagram_signature(word: Column) -> Column:
    """word -> characters sorted ascending, rejoined (reference ``_map``,
    src/index.js:64-69). Binary string sort == JS code-unit sort on the
    [a-z] alphabet the tokenizer guarantees, so no UDF is needed.
    ``sort_array`` is generated code; ``array_sort``'s default comparator
    is a lambda Spark evaluates interpreted on every comparison."""
    return F.array_join(F.sort_array(F.split(word, "")), "")
