"""Count-min sketch: fixed-size frequency summaries whose SHUFFLE is
bounded by the sketch, not the vocabulary.

The sketch family so far covers membership (bloom.py), distinct counts
(temporal.py HLL), and heavy hitters (heavyhitters.py Misra-Gries).
Count-min (Cormode & Muthukrishnan, "An improved data stream summary:
the count-min sketch and its applications", J. Algorithms 2005) fills
the remaining slot: POINT FREQUENCY estimates for any item, from
d*w counters, with the one-sided guarantee

    true_count <= estimate                       (always), and
    estimate <= true_count + (e/w) * N           (w.p. >= 1 - e^-d per probe)

where N is the stream length. Unlike Misra-Gries it answers items that
were never "heavy", and unlike the exact groupBy it never shuffles the
vocabulary:

  * build: each occurrence maps to d (row, col=h_row(item)) cells;
    groupBy(row, col) has key cardinality d*w (= 1024 here) REGARDLESS
    of corpus size, so map-side partial aggregation reduces the shuffle
    to ~d*w rows per task — constant bytes at 100 TB;
  * probe: estimate(item) = min over rows of cell(row, h_row(item)) —
    a broadcast join against the 1024-row sketch;
  * merge: sketches over disjoint corpora merge by cell-wise SUM, the
    same mergeable-summaries shape as the streaming Misra-Gries
    partials (streaming/heavyhitters.py).

Cross-engine determinism: the row hashes are salted md5 prefixes (the
repo's portable-hash convention, dedup.py:15), so DuckDB rebuilds the
IDENTICAL sketch cell-for-cell and the registered query is fully
hash-checkable — estimates, overcounts, and the epsilon verdict all
match bit-for-bit. The registered query also computes each probe's
exact count; that is the verification harness (the same
exact+bound contract as approx_distinct_users, temporal.py:148), not
the production read path, which probes the 1024-row sketch alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.memo import persisted
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

# d rows x w columns: eps = e/w ~ 1.06%, per-probe failure odds e^-4.
_CMS_D = 4
_CMS_W = 256
_N_PROBES = 20


def _spark_cell(i: int, col: str = "word"):
    """Row-i column index: first 8 md5 hex digits of 'cms{i}:word' as a
    non-negative 32-bit integer, mod the sketch width."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"cms{i}:"), F.col(col))), 1, 8),
        16,
        10,
    ).cast("long")
    return (h % _CMS_W).cast("int")


def _duck_cell(i_expr: str, word_expr: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('cms' || CAST({i_expr} AS VARCHAR) || ':' "
        f"|| {word_expr}), 1, 8))::BIGINT % {_CMS_W} AS INTEGER)"
    )


def build_cms(items: DataFrame, col: str = "word") -> DataFrame:
    """Sketch build over an occurrence stream: explode each row into its
    d (row, col) cells, then a bounded-key groupBy. Returns <= d*w rows
    (i int, col int, c bigint). The groupBy key space is d*w, so the
    Exchange after map-side combine carries at most d*w rows per task —
    the sketch build costs one scan and a constant-size shuffle."""
    cells = items.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _spark_cell(i, col).alias("col")
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rc")
    )
    return cells.groupBy("rc.i", "rc.col").agg(
        F.count("*").cast("bigint").alias("c")
    )


def cms_estimate(sketch: DataFrame, probes: DataFrame, col: str = "word") -> DataFrame:
    """Point estimates: min over the d probed cells. The sketch side is
    broadcast (<= d*w rows by construction), so probing any number of
    items is shuffle-free beyond the probe table's own layout.

    LEFT join + coalesce(0): a probed cell absent from the sketch has
    count 0, so an item the stream never touched (none of whose cells
    collided with anything) correctly estimates 0 — an inner join would
    inflate it to the min of its nonzero cells, or drop it entirely."""
    probed = probes.select(
        col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _spark_cell(i, col).alias("col")
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rc"),
    ).select(col, "rc.i", "rc.col")
    return (
        probed.join(F.broadcast(sketch), ["i", "col"], "left")
        .groupBy(col)
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0)))
            .cast("bigint")
            .alias("cms_est")
        )
    )


def merge_cms(a: DataFrame, b: DataFrame) -> DataFrame:
    """Mergeable-summaries combine: cell-wise sum. Estimates from the
    merged sketch bound the concatenated stream (the CM sketch is a
    linear transform of the frequency vector)."""
    return (
        a.unionByName(b)
        .groupBy("i", "col")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )


_CMS_SQL_TMPL = """
WITH words AS (
    SELECT unnest({duck_words}) AS word FROM documents
), cells AS (
    SELECT t.i AS i, {duck_cell} AS col, CAST(count(*) AS BIGINT) AS c
    FROM words CROSS JOIN range(0, {d}) t(i)
    GROUP BY 1, 2
), truecnt AS (
    SELECT word, CAST(count(*) AS BIGINT) AS true_cnt FROM words GROUP BY 1
), probes AS (
    SELECT word, true_cnt FROM truecnt
    ORDER BY true_cnt DESC, word LIMIT {n_probes}
), est AS (
    SELECT p.word, p.true_cnt, min(c.c) AS cms_est
    FROM probes p
    CROSS JOIN range(0, {d}) t(i)
    JOIN cells c ON c.i = t.i AND c.col = {duck_probe_cell}
    GROUP BY 1, 2
), n AS (
    SELECT CAST(count(*) AS BIGINT) AS total FROM words
)
SELECT word, true_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - true_cnt AS BIGINT) AS overcount,
       (cms_est - true_cnt)
           <= CAST(ceil(2.718281828459045 * total / {w}.0) AS BIGINT)
           AS within_eps
FROM est, n
"""


def _cms_sql() -> str:
    from cc_mapreducer_spark.operators.text_analysis import _DUCK_WORDS

    return _CMS_SQL_TMPL.format(
        duck_words=_DUCK_WORDS,
        duck_cell=_duck_cell("t.i", "word"),
        duck_probe_cell=_duck_cell("t.i", "p.word"),
        d=_CMS_D,
        n_probes=_N_PROBES,
        w=_CMS_W,
    )


@register("cms_word_counts", oracle=_cms_sql(), driver=False)
def cms_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM-sketch frequency estimates for the {_N_PROBES} most frequent
    words, certified against exact counts: emits the estimate, the
    overcount (>= 0 by the sketch's one-sided guarantee), and the
    epsilon verdict (overcount <= ceil(e*N/w)). Every column is an
    integer or a boolean derived from integers, and DuckDB rebuilds the
    same md5-salted sketch, so the whole contract is hash-checkable.

    Plan shape: one scan feeding (a) the d*w-key sketch build and
    (b) the exact probe-selection counts; the estimate join broadcasts
    the 1024-row sketch. In production the exact leg disappears and a
    probe is O(d) lookups against the materialized sketch."""
    from cc_mapreducer_spark.operators.text_analysis import _SPARK_WORDS

    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(F.explode(F.expr(_SPARK_WORDS)).alias("word"))
    n = words.count()
    if n == 0:
        return spark.createDataFrame(
            [],
            "word string, true_cnt bigint, cms_est bigint, "
            "overcount bigint, within_eps boolean",
        )
    # Both small tables persist through memo.persisted: the sketch is
    # BY DEFINITION the materialized artifact (<= d*w rows), and the
    # probe table (<= _N_PROBES rows) feeds both the estimate join and
    # the final report — without the persist each consumer re-ran the
    # whole scan->explode->agg pipeline (r11; guide §2.4).
    sketch = persisted(build_cms(words))
    probes = persisted(
        words.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "word")
        .limit(_N_PROBES)
    )
    est = cms_estimate(sketch, probes)
    # Match the oracle exactly: ceil(e * N / w) computed in double.
    import math

    bound = int(math.ceil(2.718281828459045 * n / float(_CMS_W)))
    return probes.join(est, "word").select(
        "word",
        "true_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("true_cnt")).cast("bigint").alias("overcount"),
        ((F.col("cms_est") - F.col("true_cnt")) <= F.lit(bound)).alias(
            "within_eps"
        ),
    )
