"""The C4 cleaning battery (Raffel et al. 2020, §2.2) — the line-grain
filter every web-scale English corpus since T5 has started from, plus
the funnel telemetry pipelines publish to justify it.

quality_score (operators/text_analysis.py) GRADES whole documents;
C4 EDITS them line by line and then drops whole pages, with exact,
published rules:

  line rules   keep a line only if it (a) ends in terminal punctuation
               ('.', '!', '?', '"') and (b) has >= 5 words; drop any
               line containing the word 'javascript' (the cookie/JS
               banner signature).
  page rules   drop the whole page if it contains a bad word (fixture
               list here — the original uses the "List of Dirty,
               Naughty ..." blocklist), the placeholder text
               'lorem ipsum', or a curly brace (code); after line
               filtering, drop pages with fewer than 3 surviving lines
               (C4's >= 3 sentences, with the standard line~sentence
               approximation).

Page verdicts are single-valued with fixed precedence (bad_words >
lorem_ipsum > curly_brace > too_few_lines > ok) so the report is
deterministic. Everything is built-ins over split/filter/HOF lambdas —
line editing rides the scan, zero Python, zero shuffle per doc; the
funnel is one groupBy on the tiny (source, verdict) key. The DuckDB
oracles run the same rules in list lambdas: an independent second
implementation of the spec, not a layout re-derivation.

The fixture wraps each document in planted crawl noise: a JS banner, a
nav fragment, a bare copyright line, plus per-residue-class pages that
trip each page rule — so every rule's both branches are exercised and
hashed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.functions.text import sql_quote
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

BAD_WORDS = ("badword1", "badword2")  # fixture stand-in for the blocklist
MIN_WORDS_PER_LINE = 5
MIN_LINES_PER_PAGE = 3

_TERMINAL = ('.', '!', '?', '"')


def _line_kept(line: Column) -> Column:
    words = F.filter(
        F.split(F.trim(line), " "), lambda w: w != F.lit("")
    )
    ends_ok = F.substring(F.trim(line), -1, 1).isin(*_TERMINAL)
    return (
        ends_ok
        & (F.size(words) >= MIN_WORDS_PER_LINE)
        & ~F.lower(line).contains("javascript")
    )


def c4_clean(df: DataFrame, text_col: str = "page_text") -> DataFrame:
    """Add the C4 columns: ``verdict`` (ok / bad_words / lorem_ipsum /
    curly_brace / too_few_lines), ``n_lines``, ``n_kept_lines``,
    ``kept_text`` (surviving lines joined by newline, page order),
    ``kept_chars``. Line editing is reported for every page — including
    dropped ones — so the funnel can attribute chars as well as docs."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, _line_kept)
    lower = F.lower(F.col(text_col))
    bad = None
    for w in BAD_WORDS:
        c = lower.contains(w)
        bad = c if bad is None else (bad | c)
    verdict = (
        F.when(bad, "bad_words")
        .when(lower.contains("lorem ipsum"), "lorem_ipsum")
        .when(F.col(text_col).contains("{"), "curly_brace")
        .when(F.size(kept) < MIN_LINES_PER_PAGE, "too_few_lines")
        .otherwise("ok")
    )
    nonempty = F.filter(lines, lambda x: F.trim(x) != F.lit(""))
    return (
        df.withColumn("kept_text", F.array_join(kept, "\n"))
        .withColumn("n_lines", F.size(nonempty).cast("long"))
        .withColumn("n_kept_lines", F.size(kept).cast("long"))
        .withColumn("kept_chars", F.length("kept_text").cast("long"))
        .withColumn("verdict", verdict)
    )


# --------------------------------------------------------------------------
# fixture: each document as a crawled page — article line + byline +
# a static closing sentence (the three survivors), wrapped in a JS
# banner, a nav fragment and a bare copyright line (always dropped);
# residue classes plant each page-rule trigger.
# --------------------------------------------------------------------------


_L_JS = "please enable javascript and cookies to view this site."
_L_NAV = "home menu search"
_L_CLOSE = "readers can find the full archive at the library desk every day."
_L_CODE = "function render() { return 0; }"
_L_BAD = "this page contains badword1 content."
_L_LOREM = "lorem ipsum dolor sit amet."


def _page_text_col() -> Column:
    did = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit(_L_JS + "\n"),
        F.col("text"), F.lit(".\n"),
        F.lit(_L_NAV + "\n"),
        F.lit("story "), did, F.lit(" was filed under "),
        F.col("source"), F.lit(" for the archive today!\n"),
        F.lit(_L_CLOSE + "\n"),
        F.lit("copyright "), F.col("source"),
    )
    did_mod = F.col("doc_id")
    return F.concat(
        base,
        F.when(did_mod % 17 == 0, F.lit("\n" + _L_CODE)).otherwise(F.lit("")),
        F.when(did_mod % 19 == 0, F.lit("\n" + _L_BAD)).otherwise(F.lit("")),
        F.when(did_mod % 23 == 0, F.lit("\n" + _L_LOREM)).otherwise(
            F.lit("")
        ),
    )


_PAGE_TEXT_SQL = (
    f"'{sql_quote(_L_JS)}' || chr(10) || text || '.' || chr(10) || "
    f"'{sql_quote(_L_NAV)}' || chr(10) || "
    f"'story ' || CAST(doc_id AS VARCHAR) || ' was filed under ' || source "
    f"|| ' for the archive today!' || chr(10) || "
    f"'{sql_quote(_L_CLOSE)}' || chr(10) || "
    f"'copyright ' || source || "
    f"CASE WHEN doc_id % 17 = 0 THEN chr(10) || '{sql_quote(_L_CODE)}' ELSE '' END || "
    f"CASE WHEN doc_id % 19 = 0 THEN chr(10) || '{sql_quote(_L_BAD)}' ELSE '' END || "
    f"CASE WHEN doc_id % 23 = 0 THEN chr(10) || '{sql_quote(_L_LOREM)}' ELSE '' END"
)

_LINE_KEPT_SQL = (
    "list_contains(['.', '!', '?', '\"'], substr(trim(x), -1, 1)) "
    f"AND len(list_filter(string_split(trim(x), ' '), w -> w != '')) "
    f">= {MIN_WORDS_PER_LINE} "
    "AND NOT contains(lower(x), 'javascript')"
)

_C4_CORE_SQL = f"""
WITH raw AS (
    SELECT doc_id, source, {_PAGE_TEXT_SQL} AS page_text FROM documents
), lined AS (
    SELECT doc_id, source, page_text,
           string_split(page_text, chr(10)) AS lines
    FROM raw
), edited AS (
    SELECT doc_id, source, page_text,
           list_filter(lines, x -> trim(x) <> '') AS nonempty,
           list_filter(lines, x -> {_LINE_KEPT_SQL}) AS kept
    FROM lined
)
SELECT doc_id, source,
       array_to_string(kept, chr(10)) AS kept_text,
       CAST(len(nonempty) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS kept_chars,
       CASE
           WHEN contains(lower(page_text), 'badword1')
             OR contains(lower(page_text), 'badword2') THEN 'bad_words'
           WHEN contains(lower(page_text), 'lorem ipsum') THEN 'lorem_ipsum'
           WHEN contains(page_text, '{{') THEN 'curly_brace'
           WHEN len(kept) < {MIN_LINES_PER_PAGE} THEN 'too_few_lines'
           ELSE 'ok'
       END AS verdict
FROM edited
"""

_C4_DOC_SQL = f"""
WITH core AS ({_C4_CORE_SQL})
SELECT doc_id, verdict, n_lines, n_kept_lines, kept_chars,
       CAST(('0x' || substr(md5(kept_text), 1, 12))::BIGINT AS BIGINT)
           AS kept_h
FROM core
"""


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", _page_text_col().alias("page_text")
    )


@register("c4_line_filter_stats", oracle=_C4_DOC_SQL, driver=False)
def c4_line_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per page: the C4 verdict, line accounting, and the md5-48 of the
    surviving text — the filter must keep exactly the three planted
    good lines on clean pages and name the rule that killed the rest."""
    out = c4_clean(_pages(spark, sf_dir))
    return out.select(
        "doc_id",
        "verdict",
        "n_lines",
        "n_kept_lines",
        "kept_chars",
        F.conv(F.substring(F.md5("kept_text"), 1, 12), 16, 10)
        .cast("long")
        .alias("kept_h"),
    )


_C4_FUNNEL_SQL = f"""
WITH core AS ({_C4_CORE_SQL})
SELECT source, verdict,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_lines) AS BIGINT) AS lines_in,
       CAST(sum(n_kept_lines) AS BIGINT) AS lines_kept,
       CAST(sum(CASE WHEN verdict = 'ok' THEN kept_chars ELSE 0 END)
            AS BIGINT) AS chars_out
FROM core GROUP BY source, verdict
"""


@register("c4_filter_funnel", oracle=_C4_FUNNEL_SQL, driver=False)
def c4_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ablation telemetry: per (source, verdict), documents and
    lines in/kept and the chars that actually ship (ok pages only).
    This is the table a pipeline publishes to justify each rule — and
    at 100 TB it is one partial-aggregated groupBy on a tiny key."""
    out = c4_clean(_pages(spark, sf_dir))
    return out.groupBy("source", "verdict").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_lines").cast("long").alias("lines_in"),
        F.sum("n_kept_lines").cast("long").alias("lines_kept"),
        F.sum(
            F.when(F.col("verdict") == "ok", F.col("kept_chars")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("chars_out"),
    )
