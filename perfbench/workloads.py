"""Workload definitions: what one query invocation builds and runs.

A workload is an ordered list of ``Query`` objects. ``build`` calls into
the package to construct the DataFrame (the operators layer); ``action``
executes it (a collect to pandas, or the text sink) and returns the pair
(DataFrame, output); ``fingerprint`` summarises that pair for the
correctness check, outside the timed region.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Any, Callable

from checks import frame_fingerprint, lines_fingerprint

# Registered queries of the catalog workload: a join-aggregate, two
# window queries (one returns ~10k rows to pandas), a Python-worker lane
# without a memo (warc) and a near-duplicate self-join whose Python
# fingerprint stage is a persisted memo (image dhash). Lanes whose DuckDB
# oracle needs several seconds on these inputs (unigram_token_stats,
# near_dup_embeddings, the ANN lanes) are left out, since a run checks
# every output, and so are lanes whose cold pass alone takes several
# seconds (near_dedup_pairs, crawl_e2e_funnel), to fit the run budget.
CATALOG_QUERIES = (
    "q3_shipping_priority",
    "window_rank_topn",
    "event_sessionize",
    "warc_segment_reassembly",
    "image_near_dup_pairs",
)


@dataclass
class Query:
    name: str
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    action_span: str  # "action" (collect) or "sinks.write"
    fingerprint: Callable[[Any], tuple[int, str]]


def catalog(spark, queries: dict, data_dir: str, seed: int) -> list[Query]:
    """The registered queries over the generated tables, in seeded order;
    each result is collected to pandas, the way a notebook user reads it."""
    names = random.Random(seed).sample(CATALOG_QUERIES, len(CATALOG_QUERIES))
    out = []
    for name in names:
        fn = queries[name]
        out.append(Query(
            name=name,
            build=lambda fn=fn: fn(spark, data_dir),
            action=lambda df: (df, df.toPandas()),
            action_span="action",
            fingerprint=lambda res: frame_fingerprint(res[1]),
        ))
    return out


def anagram_corpus(spark, data_dir: str, out_dir: str) -> list[Query]:
    """The reference's dataflow composed from the package's public
    operators: text source -> tokenize -> min-length and stop-word
    filters -> signature map -> group -> formatted line -> one-file sink."""
    from pyspark.sql import functions as F

    from cc_mapreducer_spark.operators import anagram
    from cc_mapreducer_spark.sources.sinks import write_concat_text
    from cc_mapreducer_spark.sources.text_corpus import read_text_corpus

    def build():
        words = anagram.op_filter_stopwords(anagram.op_filter_minlen(
            anagram.op_tokenize(read_text_corpus(spark, os.path.join(data_dir, "*.txt")), "value")))
        groups = anagram.op_group_anagrams(anagram.op_map_signature(words))
        return groups.select(F.format_string(
            "%s: { %s }", "signature", F.array_join("words", ", ")).alias("line"))

    def action(df):
        return df, write_concat_text(df, "line", out_dir)

    def fingerprint(res):
        with open(res[1], encoding="utf-8") as f:
            return lines_fingerprint(f.read().splitlines())

    return [Query("anagram_pipeline", build, action, "sinks.write", fingerprint)]
