"""Sitemap ingestion (sitemaps.org protocol) — the crawl stack's
DISCOVERY leg. robots.txt says what a crawler may fetch
(operators/acquisition.py), the frontier says when
(crawl_frontier_schedule); sitemaps are how sites say what EXISTS and
what changed: per-URL <loc>/<lastmod>/<changefreq>/<priority> entries,
capped by the protocol itself at 50,000 URLs per file with an index
file naming the parts — the spec ships its own partitioning scheme.

Two registered queries:

  sitemap_roundtrip_stats   per-host sitemap files are BUILT from the
                            URL table (grouped, doc-ordered, split at
                            the 50k protocol cap), an index file is
                            built over them, and everything is parsed
                            back — entries exploded to per-URL rows,
                            each joined against the index's file list
                            (a file the index forgot would drop its
                            rows and break the hash). The oracle
                            re-derives every field and the file byte
                            sizes in closed form.
  sitemap_recrawl_schedule  the freshness decision + fetch plan: a URL
                            is due when its lastmod has passed the last
                            fetch or its changefreq says always-fresh;
                            due URLs get per-domain queue slots ordered
                            by sitemap priority (then doc order) under
                            the frontier's politeness delay.

Shape at 100 TB: building is one groupBy on host (sitemap files are
per-host BY PROTOCOL — the shuffle key is given, and the 50k cap keeps
any one group's file bounded); parsing rides the scan; the schedule is
one window per domain, which is the politeness constraint itself.
Pure built-ins throughout (regexp_extract_all over the XML, HOF
lambdas); no XML library, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.operators.acquisition import (
    _URL_FIXTURE_SQL,
    _URL_PARTS,
    canonicalize_url,
)
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

URLS_PER_FILE = 50_000  # the protocol's own cap (sitemaps.org)

_SM_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
)
_SM_FOOT = "</urlset>"
_IX_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
)
_IX_FOOT = "</sitemapindex>"

# per-entry fixed markup: the closed-form byte accounting the oracle
# mirrors (entry_len = _ENTRY_FIXED + len(loc) + len(lastmod) +
# len(changefreq) + len(priority))
_ENTRY_FIXED = len(
    "<url><loc></loc><lastmod></lastmod><changefreq></changefreq>"
    "<priority></priority></url>"
)


def _entry(loc: Column, lastmod: Column, freq: Column, prio: Column) -> Column:
    return F.concat(
        F.lit("<url><loc>"), loc,
        F.lit("</loc><lastmod>"), lastmod,
        F.lit("</lastmod><changefreq>"), freq,
        F.lit("</changefreq><priority>"), prio,
        F.lit("</priority></url>"),
    )


def build_sitemap_files(
    urls: DataFrame, urls_per_file: int = URLS_PER_FILE
) -> DataFrame:
    """(host, file_no, xml) — one sitemap file per (host, 50k-slice),
    entries in doc order; the slice number IS the protocol's
    partitioning. ``urls`` needs (doc_id, host, loc, lastmod,
    changefreq, priority)."""
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy("doc_id")
    sliced = urls.withColumn(
        "file_no",
        ((F.row_number().over(w) - 1) / urls_per_file)
        .cast("long"),
    )
    return (
        sliced.groupBy("host", "file_no")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "doc_id",
                        _entry(
                            F.col("loc"), F.col("lastmod"),
                            F.col("changefreq"), F.col("priority"),
                        ).alias("e"),
                    )
                )
            ).alias("entries")
        )
        .select(
            "host",
            "file_no",
            F.concat(
                F.lit(_SM_HEAD),
                F.array_join(
                    F.transform(F.col("entries"), lambda s: s["e"]), ""
                ),
                F.lit(_SM_FOOT),
            ).alias("xml"),
        )
    )


def build_sitemap_index(files: DataFrame) -> DataFrame:
    """One sitemapindex XML naming every (host, file_no) file by its
    conventional URL https://{host}/sitemap-{file_no}.xml."""
    locs = files.select(
        F.concat(
            F.lit("<sitemap><loc>https://"),
            F.col("host"),
            F.lit("/sitemap-"),
            F.col("file_no").cast("string"),
            F.lit(".xml</loc></sitemap>"),
        ).alias("e")
    )
    return locs.agg(
        F.concat(
            F.lit(_IX_HEAD),
            F.array_join(F.array_sort(F.collect_list("e")), ""),
            F.lit(_IX_FOOT),
        ).alias("index_xml")
    )


def parse_sitemap_files(files: DataFrame) -> DataFrame:
    """Explode sitemap XML back to per-URL rows — regexp over the
    entry markup, riding the scan."""
    entries = F.regexp_extract_all(
        "xml", F.lit("<url>(.*?)</url>"), F.lit(1)
    )
    one = F.explode(entries).alias("entry")
    ex = lambda tag: F.regexp_extract(  # noqa: E731
        "entry", f"<{tag}>(.*?)</{tag}>", 1
    )
    return files.select(
        "host", "file_no", F.length("xml").cast("long").alias("file_bytes"),
        one,
    ).select(
        "host",
        "file_no",
        "file_bytes",
        ex("loc").alias("loc"),
        ex("lastmod").alias("lastmod"),
        ex("changefreq").alias("changefreq"),
        ex("priority").alias("priority"),
    )


def parse_sitemap_index(index: DataFrame) -> DataFrame:
    """(sitemap_loc) rows out of a sitemapindex XML."""
    return index.select(
        F.explode(
            F.regexp_extract_all(
                "index_xml",
                F.lit("<sitemap><loc>(.*?)</loc></sitemap>"),
                F.lit(1),
            )
        ).alias("sitemap_loc")
    )


# --------------------------------------------------------------------------
# fixture: sitemap metadata derived per doc (deterministic residues) —
# lastmod a July 2026 day, changefreq cycling the three common values,
# priority one decimal digit; last_fetch a different residue so the
# freshness rule sees both outcomes.
# --------------------------------------------------------------------------

_FREQS = ("daily", "weekly", "monthly")


def _meta_cols(df: DataFrame) -> DataFrame:
    day = (F.col("doc_id") % 28 + 1).cast("int")
    fetch_day = ((F.col("doc_id") * 7) % 28 + 1).cast("int")
    return (
        df.withColumn(
            "lastmod",
            F.concat(F.lit("2026-07-"), F.lpad(day.cast("string"), 2, "0")),
        )
        .withColumn(
            "changefreq",
            F.element_at(
                F.array(*[F.lit(x) for x in _FREQS]),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
        )
        .withColumn(
            "priority",
            F.concat(F.lit("0."), (F.col("doc_id") % 10).cast("string")),
        )
        .withColumn(
            "last_fetch",
            F.concat(
                F.lit("2026-07-"), F.lpad(fetch_day.cast("string"), 2, "0")
            ),
        )
    )


_META_SQL = {
    "lastmod": "'2026-07-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')",
    "changefreq": (
        "CASE doc_id % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly' "
        "ELSE 'monthly' END"
    ),
    "priority": "'0.' || CAST(doc_id % 10 AS VARCHAR)",
    "last_fetch": (
        "'2026-07-' || lpad(CAST((doc_id * 7) % 28 + 1 AS VARCHAR), 2, '0')"
    ),
}


def _fixture_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.expr(_URL_FIXTURE_SQL).alias("url")
    )
    canon = canonicalize_url(docs, "url").select(
        "doc_id", F.col("canonical_url").alias("loc"), "host"
    )
    return _meta_cols(canon)


_SITEMAP_RT_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_URL_FIXTURE_SQL} AS url FROM documents
), canon AS (
    SELECT doc_id,
           {_URL_PARTS['canonical']} AS loc,
           {_URL_PARTS['host']} AS host
    FROM raw
), meta AS (
    SELECT doc_id, loc, host,
           {_META_SQL['lastmod']} AS lastmod,
           {_META_SQL['changefreq']} AS changefreq,
           {_META_SQL['priority']} AS priority
    FROM canon
), sized AS (
    SELECT *, {_ENTRY_FIXED} + length(loc) + length(lastmod)
              + length(changefreq) + length(priority) AS entry_len
    FROM meta
)
SELECT doc_id, host,
       CAST(0 AS BIGINT) AS file_no,
       loc, lastmod, changefreq, priority,
       CAST({len(_SM_HEAD) + len(_SM_FOOT)}
            + sum(entry_len) OVER (PARTITION BY host) AS BIGINT)
           AS file_bytes
FROM sized
"""


@register("sitemap_roundtrip_stats", oracle=_SITEMAP_RT_SQL, driver=False)
def sitemap_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build per-host sitemap files + the index, parse both back, and
    join entries to the index's file list: per URL the parsed fields
    and the containing file's byte size, every value re-derived in
    closed form by the oracle (file_bytes = header+footer + the sum of
    that host's entry lengths — at fixture scale each host fits one
    file, so file_no pins to 0 and the 50k slicing is exercised with a
    small cap in pytest)."""
    urls = _fixture_urls(spark, sf_dir)
    files = build_sitemap_files(urls).localCheckpoint()
    index = build_sitemap_index(files)
    parsed = parse_sitemap_files(files)
    listed = parse_sitemap_index(index).select(
        F.regexp_extract("sitemap_loc", r"https://([^/]*)/sitemap-", 1)
        .alias("host"),
        F.regexp_extract("sitemap_loc", r"sitemap-(\d+)\.xml", 1)
        .cast("long")
        .alias("file_no"),
    )
    # inner join: a file missing from the index drops its URLs -> the
    # driver's row-count/hash check fails instead of silently passing
    verified = parsed.join(F.broadcast(listed), ["host", "file_no"])
    return verified.select(
        F.regexp_extract("loc", r"page-(\d+)", 1).cast("long").alias("doc_id"),
        "host",
        "file_no",
        "loc",
        "lastmod",
        "changefreq",
        "priority",
        "file_bytes",
    )


_RECRAWL_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_URL_FIXTURE_SQL} AS url FROM documents
), canon AS (
    SELECT doc_id,
           {_URL_PARTS['canonical']} AS loc,
           {_URL_PARTS['host']} AS host
    FROM raw
), meta AS (
    SELECT doc_id, loc,
           regexp_extract(host, '[^.]+\\.[^.]+$') AS domain,
           {_META_SQL['lastmod']} AS lastmod,
           {_META_SQL['changefreq']} AS changefreq,
           {_META_SQL['priority']} AS priority,
           {_META_SQL['last_fetch']} AS last_fetch
    FROM canon
), due AS (
    SELECT *,
           (lastmod >= last_fetch OR changefreq = 'daily') AS is_due
    FROM meta
)
SELECT doc_id, loc, domain, lastmod, last_fetch, changefreq, priority,
       is_due,
       CASE WHEN is_due THEN CAST(row_number() OVER (
                PARTITION BY domain, is_due
                ORDER BY priority DESC, doc_id) - 1 AS BIGINT)
            ELSE NULL END AS slot,
       CASE WHEN is_due THEN CAST((row_number() OVER (
                PARTITION BY domain, is_due
                ORDER BY priority DESC, doc_id) - 1)
                * (500 * (1 + length(domain) % 3)) AS BIGINT)
            ELSE NULL END AS fetch_offset_ms
FROM due
"""


@register("sitemap_recrawl_schedule", oracle=_RECRAWL_SQL, driver=False)
def sitemap_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The freshness decision + fetch plan: due = lastmod has passed the
    stored last_fetch OR changefreq is 'daily'; due URLs are laid out on
    per-domain timelines ordered by sitemap priority (doc order as the
    tiebreak) under the frontier's politeness delay (500ms x
    (1 + len(domain) mod 3) — same constant as crawl_frontier_schedule,
    so the two schedulers compose)."""
    from pyspark.sql import Window

    urls = _meta_cols(
        canonicalize_url(
            spread(load_table(spark, sf_dir, "documents")).select(
                "doc_id", F.expr(_URL_FIXTURE_SQL).alias("url")
            ),
            "url",
        ).select("doc_id", F.col("canonical_url").alias("loc"), "host")
    ).withColumn(
        "domain", F.regexp_extract("host", r"[^.]+\.[^.]+$", 0)
    )
    due = urls.withColumn(
        "is_due",
        (F.col("lastmod") >= F.col("last_fetch"))
        | (F.col("changefreq") == "daily"),
    )
    w = Window.partitionBy("domain", "is_due").orderBy(
        F.desc("priority"), "doc_id"
    )
    slot = F.row_number().over(w) - 1
    delay = 500 * (1 + F.length("domain") % 3)
    return due.select(
        "doc_id",
        "loc",
        "domain",
        "lastmod",
        "last_fetch",
        "changefreq",
        "priority",
        "is_due",
        F.when(F.col("is_due"), slot.cast("long")).alias("slot"),
        F.when(F.col("is_due"), (slot * delay).cast("long")).alias(
            "fetch_offset_ms"
        ),
    )
