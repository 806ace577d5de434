"""robots.txt as TEXT: the REP file a crawler actually fetches.

The robots gates in operators/acquisition.py consume structured
(domain, prefix, allow) rules; a real crawl starts from the bytes of
/robots.txt. This module parses that file with pure built-ins — rule
lines (Allow/Disallow), the non-group directives RFC 9309 carries
alongside them (Sitemap — the discovery hook operators/sitemap.py
consumes; Crawl-delay — the politeness constant the frontier binds),
comments and blank lines ignored — and proves the parse is a semantic
no-op by feeding the PARSED rules through the same gate and sharing
the structured gate's oracle verbatim (the warc_acquisition_chain
move).

Scope (documented, not silently wrong): one `User-agent: *` group per
file, which is what the fixture emits; multi-group agent selection
(specific-agent-beats-*) is out of scope rather than half-modeled.
Sitemap/Crawl-delay are file-wide in RFC 9309 regardless of groups, so
their extraction is exact either way.

Scale shape: robots files are per-domain and tiny; parsing is HOF
lambdas over a model-sized frame (one row per domain) that broadcasts
into the URL-stream gate exactly as the structured rules did.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.functions.text import sql_quote
from cc_mapreducer_spark.operators.acquisition import (
    _POLICY_URL_FIXTURE_SQL,
    _ROBOTS_FILTER_SQL,
    canonicalize_url,
    robots_allowed,
)
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread


# fixture file text per domain — mirrors _ROBOTS_RULES exactly, so the
# parsed gate must reproduce the structured gate's every verdict
_RB_P1 = "# robots.txt for "
_RB_P2 = "\nUser-agent: *\nDisallow: /cart/\n"
_RB_COM = "Disallow: /Docs/page-1\nAllow: /Docs/page-13\n"
_RB_SRC7 = "Disallow: /\n"
_RB_P3 = "Crawl-delay: "
_RB_P4 = "\nSitemap: https://"
_RB_P5 = "/sitemap-0.xml\n"


def build_robots_txt(domain: Column) -> Column:
    """The fixture /robots.txt bytes for one domain (deterministic;
    crawl-delay value = 1 + len(domain) mod 3, the frontier's constant
    in 500ms units)."""
    extra = (
        F.when(domain.endswith(".com"), F.lit(_RB_COM))
        .when(domain == "src7.org", F.lit(_RB_SRC7))
        .otherwise(F.lit(""))
    )
    delay = (1 + F.length(domain) % 3).cast("string")
    return F.concat(
        F.lit(_RB_P1), domain, F.lit(_RB_P2), extra,
        F.lit(_RB_P3), delay, F.lit(_RB_P4), domain, F.lit(_RB_P5),
    )


_ROBOTS_TXT_SQL_EXPR = (
    f"'{sql_quote(_RB_P1)}' || domain || '{sql_quote(_RB_P2)}' || "
    f"CASE WHEN domain LIKE '%.com' THEN '{sql_quote(_RB_COM)}' "
    f"     WHEN domain = 'src7.org' THEN '{sql_quote(_RB_SRC7)}' ELSE '' END || "
    f"'{sql_quote(_RB_P3)}' || CAST(1 + length(domain) % 3 AS VARCHAR) || "
    f"'{sql_quote(_RB_P4)}' || domain || '{sql_quote(_RB_P5)}'"
)

_RULE_LINE = "^(Allow|Disallow): *([^ ].*?) *$"


def parse_robots_txt(df: DataFrame, txt_col: str = "robots_txt") -> DataFrame:
    """Add ``rules`` (array<struct<prefix,allow>> in file order),
    ``sitemap_url`` and ``crawl_delay`` parsed from the file text.
    Comment/blank/other lines drop out; an empty-path `Disallow:`
    (REP's allow-everything idiom) parses to no rule, matching the
    spec."""
    lines = F.split(F.col(txt_col), "\n")
    parsed = F.transform(
        lines,
        lambda l: F.struct(
            F.regexp_extract(l, _RULE_LINE, 1).alias("kind"),
            F.regexp_extract(l, _RULE_LINE, 2).alias("prefix"),
        ),
    )
    rules = F.transform(
        F.filter(
            parsed,
            lambda s: (s["kind"] != F.lit("")) & (s["prefix"] != F.lit("")),
        ),
        lambda s: F.struct(
            s["prefix"].alias("prefix"),
            (s["kind"] == F.lit("Allow")).alias("allow"),
        ),
    )
    return (
        df.withColumn("rules", rules)
        .withColumn(
            # first Sitemap directive only — RFC 9309 permits several
            # per file (the fixture plants exactly one); the multi-map
            # case is the same regexp_extract_all move as the rules.
            # ADVICE r8: the old pattern's nested quantifier
            # '([^\\s]+)*' allowed an empty capture and was an
            # exponential-backtracking shape on adversarial lines.
            "sitemap_url",
            F.regexp_extract(txt_col, r"(?m)^Sitemap: *([^\s]+) *$", 1),
        )
        .withColumn(
            "crawl_delay",
            F.nullif(
                F.regexp_extract(txt_col, r"(?m)^Crawl-delay: *([0-9]+)", 1),
                F.lit(""),
            ).cast("long"),
        )
    )


_ALL_DOMAINS_SQL = """
    SELECT 'src' || CAST(i AS VARCHAR) ||
           CASE WHEN tld = 0 THEN '.com' ELSE '.org' END AS domain
    FROM range(20) r(i), range(2) t(tld)
"""

_ROBOTS_TXT_STATS_SQL = f"""
WITH doms AS ({_ALL_DOMAINS_SQL}),
txts AS (
    SELECT domain, {_ROBOTS_TXT_SQL_EXPR} AS robots_txt FROM doms
), parsed AS (
    SELECT domain, robots_txt,
           [s FOR s IN list_transform(string_split(robots_txt, chr(10)),
                l -> struct_pack(
                    kind := regexp_extract(l, '{_RULE_LINE}', 1),
                    prefix := regexp_extract(l, '{_RULE_LINE}', 2)))
              IF s.kind <> '' AND s.prefix <> ''] AS rl
    FROM txts
)
SELECT domain,
       CAST(len(rl) AS BIGINT) AS n_rules,
       'https://' || domain || '/sitemap-0.xml' AS sitemap_url,
       CAST(1 + length(domain) % 3 AS BIGINT) AS crawl_delay,
       CAST(('0x' || substr(md5(array_to_string(
            list_sort(list_transform(rl,
                s -> s.prefix || '|' ||
                     CASE WHEN s.kind = 'Allow' THEN 'true'
                          ELSE 'false' END)), ';')), 1, 12))::BIGINT
            AS BIGINT) AS rules_h
FROM parsed
"""


def _all_domains(spark: SparkSession) -> DataFrame:
    rows = [
        (f"src{i}.{tld}",) for i in range(20) for tld in ("com", "org")
    ]
    return spark.createDataFrame(rows, "domain string")


@register("robots_txt_directives", oracle=_ROBOTS_TXT_STATS_SQL, driver=False)
def robots_txt_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per domain: rule count, the Sitemap discovery URL, Crawl-delay,
    and a digest of the parsed (prefix, allow) set — the oracle parses
    the same file text independently in DuckDB list lambdas."""
    txts = _all_domains(spark).select(
        "domain", build_robots_txt(F.col("domain")).alias("robots_txt")
    )
    parsed = parse_robots_txt(txts)
    rule_strs = F.transform(
        F.col("rules"),
        lambda s: F.concat(
            s["prefix"], F.lit("|"),
            F.when(s["allow"], "true").otherwise("false"),
        ),
    )
    return parsed.select(
        "domain",
        F.size("rules").cast("long").alias("n_rules"),
        "sitemap_url",
        "crawl_delay",
        F.conv(
            F.substring(
                F.md5(F.array_join(F.array_sort(rule_strs), ";")), 1, 12
            ),
            16,
            10,
        )
        .cast("long")
        .alias("rules_h"),
    )


# shares the STRUCTURED gate's oracle: the text parse must change
# nothing about any verdict on any URL
@register("robots_txt_gate", oracle=_ROBOTS_FILTER_SQL, driver=False)
def robots_txt_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REP gate fed from PARSED robots.txt text instead of the
    structured fixture rules. Oracle: robots_policy_filter's SQL,
    UNCHANGED — byte-identical verdicts and winning rules prove
    text -> rules -> gate is a semantic no-op end to end."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # the structured gate's URL stream verbatim, planted /cart/
    # offenders included (robots_policy_filter, acquisition.py)
    canon = canonicalize_url(
        docs.selectExpr("doc_id", f"{_POLICY_URL_FIXTURE_SQL} AS url"), "url"
    ).select(
        "doc_id",
        "canonical_url",
        F.regexp_extract("host", r"[^.]+\.[^.]+$", 0).alias("domain"),
    )
    txts = _all_domains(spark).select(
        "domain", build_robots_txt(F.col("domain")).alias("robots_txt")
    )
    rules = (
        parse_robots_txt(txts)
        .select("domain", F.explode("rules").alias("r"))
        .select("domain", F.col("r.prefix").alias("prefix"),
                F.col("r.allow").alias("allow"))
    )
    return robots_allowed(canon, rules).select(
        "doc_id", "canonical_url", "robots_allowed", "robots_rule"
    )
