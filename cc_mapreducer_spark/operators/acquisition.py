"""Acquisition-side text operators: HTML stripping, URL canonicalization,
and the per-domain acquisition rollup (VERDICT r5 "Next round" #3).

A real 100 TB web-corpus pipeline does not start at clean
``documents.text`` — it starts at crawled markup and raw URLs. These are
the two operators that run BEFORE ``text_profile``/dedup ever see a byte
(generalizing the reference's `_read` tokenizer,
/root/reference/src/index.js:48-55, from plain text to markup input),
plus the per-domain telemetry report that drives crawl policy (the
domain-grain sibling of ``dedup_rate_by_source``, dedup.py:639).

Scale shape: ``strip_html`` and ``canonicalize_url`` are pure per-row
regexp/split/sort built-ins — zero shuffle, whole-stage codegen, runs at
scan speed; the rollup is ONE groupBy on the registered domain (key
space = number of domains, partial aggregation applies). At 100 TB this
is exactly the plan you want: the expensive work never leaves the scan
stage.

Every pattern is kept inside the Java-regex ∩ RE2 subset (no
backreferences, no lookaround — the ``curation.redact_pii`` policy) so
DuckDB mirrors each stage verbatim; the fixture derivations below build
byte-identical messy HTML/URLs from the documents table in BOTH engines,
so the driver hash pins the full transform, not a summary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.functions.text import sql_quote
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

# --------------------------------------------------------------------------
# HTML stripping
# --------------------------------------------------------------------------

# Stage order matters and is part of the contract:
#   1. script/style blocks go first (their CONTENT may contain '<' that is
#      not markup — e.g. `if (a < b)` — which would derail naive
#      tag-stripping);
#   2. comments next;
#   3. every remaining tag collapses to a space (so '<p>a</p><p>b</p>'
#      keeps a word boundary between a and b);
#   4. character entities decode AFTER tag removal ('&lt;div&gt;' is
#      CONTENT, and must never resurrect into a strippable tag) with
#      '&amp;' LAST (the standard rule: '&amp;lt;' means the literal
#      text '&lt;', not '<');
#   5. whitespace collapses and trims.
_HTML_BLOCK_PATTERNS = [
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
    r"(?s)<!--.*?-->",
    r"<[^>]*>",
]

# (entity, replacement) in decode order; '&amp;' must stay last.
_HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]

_WS_PATTERN = r"[ \t\r\n\f]+"


def strip_html(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Add ``clean_text``: markup stripped to visible text. Pure regexp
    built-ins in the documented stage order — zero shuffle, codegen."""
    c: Column = F.col(html_col)
    for pat in _HTML_BLOCK_PATTERNS:
        c = F.regexp_replace(c, pat, " ")
    for ent, rep in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))  # literal, not regex
    c = F.trim(F.regexp_replace(c, _WS_PATTERN, " "))
    return df.withColumn("clean_text", c)


def _strip_html_sql(expr: str) -> str:
    """The same stage chain over a DuckDB SQL expression (g = all
    occurrences; Spark's regexp_replace is always global)."""
    out = expr
    for pat in _HTML_BLOCK_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', ' ', 'g')"
    for ent, rep in _HTML_ENTITIES:
        rep_sql = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{rep_sql}')"
    return f"trim(regexp_replace({out}, '{_WS_PATTERN}', ' ', 'g'))"


# Fixture: a deterministic messy-HTML wrapping of each document, built
# byte-identically in both engines. Adversarial on purpose: a script
# block whose BODY contains '<div>' and a bare '<' (naive tag-stripping
# leaks from there to the next '>'), a style block, a comment, an
# UPPERCASE tag (case-insensitive block patterns), and entities
# including the '&amp;lt;' double-escape trap.
_HTML_P1 = '<html><head><title>'
_HTML_P2 = (
    '</title><style type="text/css">body { color: #000; }</style>'
    '<script>if (1 < 2) { var s = "<div>"; }</script></head>'
    '<body><!-- crawl id '
)
_HTML_P3 = ' --><h1>Doc &amp;lt; &lt;em&gt;'
_HTML_P4 = '&lt;/em&gt; &quot;quoted&quot; it&#39;s&nbsp;here</h1><P class="x">'
_HTML_P5 = "</P><br/></body></html>"


_HTML_FIXTURE_SQL = (
    f"'{sql_quote(_HTML_P1)}' || source || '{sql_quote(_HTML_P2)}' || "
    f"CAST(doc_id AS STRING) || '{sql_quote(_HTML_P3)}' || "
    f"CAST(doc_id AS STRING) || '{sql_quote(_HTML_P4)}' || text || '{sql_quote(_HTML_P5)}'"
)

_HTML_STRIP_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_HTML_FIXTURE_SQL} AS html FROM documents
)
SELECT doc_id,
       CAST(length(html) AS BIGINT) AS n_chars_html,
       CAST(length({_strip_html_sql('html')}) AS BIGINT) AS n_chars_clean,
       CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
       CAST(('0x' || substr(md5({_strip_html_sql('html')}), 1, 12))::BIGINT
            AS BIGINT) AS clean_h
FROM raw
"""


@register("html_strip_stats", oracle=_HTML_STRIP_SQL, driver=False)
def html_strip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-stripping over a deterministic messy-HTML wrapping of every
    document: script/style/comment-aware tag removal + entity decode +
    whitespace collapse, reported as sizes, tag counts, and a 48-bit
    md5 prefix of the CLEAN TEXT itself (so the hash pins every byte of
    the transform, not just lengths). Driver-hashed via the
    ``mining_suite`` html legs. One scan, zero shuffle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    raw = docs.select("doc_id", F.expr(_HTML_FIXTURE_SQL).alias("html"))
    stripped = strip_html(raw, "html")
    return stripped.select(
        "doc_id",
        F.length("html").cast("bigint").alias("n_chars_html"),
        F.length("clean_text").cast("bigint").alias("n_chars_clean"),
        F.size(F.regexp_extract_all("html", F.lit(r"<[^>]*>"), F.lit(0)))
        .cast("bigint")
        .alias("n_tags"),
        F.conv(F.substring(F.md5("clean_text"), 1, 12), 16, 10)
        .cast("bigint")
        .alias("clean_h"),
    )


# --------------------------------------------------------------------------
# URL canonicalization
# --------------------------------------------------------------------------

# Crawl-frontier canonicalization (the dedup-oriented flavor, stronger
# than plain RFC 3986 normalization, weaker than anything lossy):
#   scheme/host lowercased; userinfo dropped; 'www.' prefix dropped;
#   default port dropped (:80 http, :443 https); duplicate slashes in
#   the path collapsed; trailing slash dropped (root path renders empty);
#   query params split, ''/utm_* dropped, remainder SORTED and rejoined;
#   fragment dropped.


def canonicalize_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``canonical_url``, ``host`` (post-canonicalization), and
    ``n_params`` (kept query params). Pure regexp/split/sort built-ins —
    zero shuffle, codegen."""
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    auth = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    host_port = F.lower(F.regexp_replace(auth, r"^[^@]*@", ""))
    host_port = F.regexp_replace(host_port, r"^www\.", "")
    host_port = F.when(
        scheme == "http", F.regexp_replace(host_port, ":80$", "")
    ).otherwise(
        F.when(
            scheme == "https", F.regexp_replace(host_port, ":443$", "")
        ).otherwise(host_port)
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(F.regexp_replace(path, "/{2,}", "/"), "/$", "")
    kept = F.expr(
        f"array_sort(filter(split(regexp_extract({url_col}, '\\\\?([^#]*)', 1), '&'),"
        " p -> p <> '' AND substr(p, 1, 4) <> 'utm_'))"
    )
    host = F.regexp_extract(host_port, r"^([^:]*)", 1)
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host_port,
        path,
        F.when(
            F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
        ).otherwise(F.lit("")),
    )
    # A scheme-less/relative input has no authority to canonicalize —
    # emitting a garbage '://...' string would silently poison a dedup
    # key downstream (ADVICE r6); all three outputs go NULL so future
    # callers on real crawl data fail loudly instead.
    valid = scheme != F.lit("")
    return df.select(
        "*",
        F.when(valid, canonical).alias("canonical_url"),
        F.when(valid, host).alias("host"),
        F.when(valid, F.size(kept)).cast("int").alias("n_params"),
    )


def _canonicalize_sql(url: str) -> dict[str, str]:
    """DuckDB rendering of the same stages; returns the canonical/host/
    n_params expressions over a column named ``url``."""
    scheme = f"lower(regexp_extract({url}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    auth = f"regexp_extract({url}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)"
    hp = f"regexp_replace(lower(regexp_replace({auth}, '^[^@]*@', '')), '^www\\.', '')"
    hp = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({hp}, ':80$', '') "
        f"WHEN {scheme} = 'https' THEN regexp_replace({hp}, ':443$', '') "
        f"ELSE {hp} END"
    )
    path = (
        f"regexp_replace(regexp_replace("
        f"regexp_extract({url}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),"
        f" '/{{2,}}', '/', 'g'), '/$', '')"
    )
    kept = (
        f"list_sort(list_filter(string_split("
        f"regexp_extract({url}, '\\?([^#]*)', 1), '&'),"
        f" p -> p <> '' AND substr(p, 1, 4) <> 'utm_'))"
    )
    valid = f"{scheme} <> ''"
    canonical = (
        f"CASE WHEN {valid} THEN {scheme} || '://' || ({hp}) || {path} || "
        f"CASE WHEN len({kept}) > 0 THEN '?' || array_to_string({kept}, '&') "
        f"ELSE '' END END"
    )
    host = f"CASE WHEN {valid} THEN regexp_extract({hp}, '^([^:]*)', 1) END"
    return {
        "canonical": canonical,
        "host": host,
        "n_params": f"CASE WHEN {valid} THEN CAST(len({kept}) AS INT) END",
    }


# Fixture: deterministic messy URLs derived per document — uppercase
# scheme/host, userinfo on every 5th, default vs explicit ports, double
# slashes, trailing slashes, utm_ params mixed into unsorted queries,
# fragments. One SQL text for both engines: Spark reads it through
# F.expr, DuckDB in the oracles.
_URL_FIXTURE_SQL = """
CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END ||
CASE WHEN doc_id % 5 = 0 THEN 'crawler:pw@' ELSE '' END ||
'WWW.' || source ||
CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.org' END ||
CASE WHEN doc_id % 4 = 0 THEN ':80'
     WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END ||
'/Docs//page-' || CAST(doc_id AS STRING) ||
CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&b=2&a=1#sec'
     WHEN doc_id % 3 = 1 THEN '?z=9&y=8&utm_campaign=x' ELSE '/' END
"""

_URL_PARTS = _canonicalize_sql("url")

_URL_CANON_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_URL_FIXTURE_SQL} AS url FROM documents
)
SELECT doc_id,
       {_URL_PARTS['canonical']} AS canonical_url,
       {_URL_PARTS['host']} AS host,
       {_URL_PARTS['n_params']} AS n_params
FROM raw
"""


@register("url_canonical_stats", oracle=_URL_CANON_SQL, driver=False)
def url_canonical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization over deterministic messy URLs
    derived from every document: case, userinfo, www, default ports,
    duplicate/trailing slashes, utm_* removal, query-param sort,
    fragment drop. Driver-hashed via the ``mining_suite`` url legs.
    One scan, zero shuffle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    raw = docs.select("doc_id", F.expr(_URL_FIXTURE_SQL).alias("url"))
    return canonicalize_url(raw, "url").select(
        "doc_id", "canonical_url", "host", "n_params"
    )


# --------------------------------------------------------------------------
# per-domain acquisition rollup
# --------------------------------------------------------------------------

_DOMAIN_ROLLUP_SQL = f"""
WITH raw AS (
    SELECT doc_id, text, {_URL_FIXTURE_SQL} AS url FROM documents
), canon AS (
    SELECT doc_id, text,
           regexp_extract({_URL_PARTS['host']}, '[^.]+\\.[^.]+$') AS domain
    FROM raw
), hashed AS (
    SELECT domain, md5(text) AS sha,
           len(list_filter(string_split(regexp_replace(lower(text),
               '[^a-z]+', ' ', 'g'), ' '), w -> w != '')) AS n_tokens
    FROM canon
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT sha) AS BIGINT) AS n_unique,
       CAST(count(*) - count(DISTINCT sha) AS BIGINT) AS n_dup_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       round((count(*) - count(DISTINCT sha)) / count(*), 6) AS dup_doc_frac
FROM hashed GROUP BY domain
"""


@register("domain_acquisition_rollup", oracle=_DOMAIN_ROLLUP_SQL, driver=False)
def domain_acquisition_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain acquisition telemetry over the canonicalized
    fixture URLs: document counts, exact-unique counts (md5 of the body),
    verbatim-duplicate counts and fraction, and total tokens — the
    domain-grain report a crawler's politeness/budget policy consumes
    (the domain sibling of ``dedup_rate_by_source``). ONE groupBy on
    domain (key space = #domains); everything else stays in the scan."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    raw = docs.select("doc_id", "text", F.expr(_URL_FIXTURE_SQL).alias("url"))
    canon = canonicalize_url(raw, "url").select(
        F.regexp_extract("host", r"[^.]+\.[^.]+$", 0).alias("domain"),
        F.md5("text").alias("sha"),
        F.size(
            F.filter(
                F.split(F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " "),
                lambda w: w != "",
            )
        ).alias("n_tokens"),
    )
    return canon.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("sha").cast("bigint").alias("n_unique"),
        (F.count("*") - F.countDistinct("sha")).cast("bigint").alias("n_dup_docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens_total"),
        F.round(
            (F.count("*") - F.countDistinct("sha")) / F.count("*"), 6
        ).alias("dup_doc_frac"),
    )


# --------------------------------------------------------------------------
# the chain, composed end-to-end (VERDICT r6 item 2)
# --------------------------------------------------------------------------

# Each stage above is hashed against its own fixture; a real ingest runs
# them COMPOSED — markup is stripped, the URL canonicalized, and the
# CLEAN text (not the raw body) feeds the §2.2-descended tokenizer and
# the per-domain rollup. These two queries prove that composition on the
# same rows: per-doc (domain, canonical_url, token profile, md5-48 of
# the clean text) and the domain-grain rollup over the CLEANED corpus.
# Still one scan + one groupBy on domain — composition adds no shuffle.

_CHAIN_WORDS = (
    "list_filter(string_split(regexp_replace(lower(clean_text),"
    " '[^a-z]+', ' ', 'g'), ' '), w -> w <> '')"
)

_CHAIN_DOC_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_HTML_FIXTURE_SQL} AS html, {_URL_FIXTURE_SQL} AS url
    FROM documents
), cleaned AS (
    SELECT doc_id,
           {_strip_html_sql('html')} AS clean_text,
           {_URL_PARTS['canonical']} AS canonical_url,
           regexp_extract({_URL_PARTS['host']}, '[^.]+\\.[^.]+$') AS domain
    FROM raw
), toks AS (
    SELECT doc_id, domain, canonical_url, clean_text,
           {_CHAIN_WORDS} AS ws
    FROM cleaned
)
SELECT doc_id, domain, canonical_url,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_tokens,
       CAST(('0x' || substr(md5(clean_text), 1, 12))::BIGINT AS BIGINT)
           AS clean_h
FROM toks
"""

_CHAIN_ROLLUP_SQL = f"""
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT clean_h) AS BIGINT) AS n_unique,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       CAST(sum(n_distinct_tokens) AS BIGINT) AS distinct_tokens_total,
       round((count(*) - count(DISTINCT clean_h)) / count(*), 6)
           AS dup_doc_frac
FROM ({_CHAIN_DOC_SQL}) GROUP BY domain
"""


def _chain_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    raw = docs.select(
        "doc_id",
        F.expr(_HTML_FIXTURE_SQL).alias("html"),
        F.expr(_URL_FIXTURE_SQL).alias("url"),
    )
    cleaned = canonicalize_url(strip_html(raw, "html"), "url")
    ws = F.filter(
        F.split(F.regexp_replace(F.lower("clean_text"), "[^a-z]+", " "), " "),
        lambda w: w != F.lit(""),
    )
    return cleaned.select(
        "doc_id",
        F.regexp_extract("host", r"[^.]+\.[^.]+$", 0).alias("domain"),
        "canonical_url",
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("bigint").alias("n_distinct_tokens"),
        F.conv(F.substring(F.md5("clean_text"), 1, 12), 16, 10)
        .cast("bigint")
        .alias("clean_h"),
    )


@register("acquisition_chain_profile", oracle=_CHAIN_DOC_SQL, driver=False)
def acquisition_chain_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """strip_html -> canonicalize_url -> tokenize, composed on the SAME
    fixture rows: per document the registered domain (from the
    canonicalized URL), the canonical URL itself, the token profile of
    the CLEANED text (the §2.2-descended normalizer, text_analysis.py's
    grid), and the md5-48 of the clean text. Driver-hashed via the
    mining_suite chain legs — this key is the proof the acquisition
    stages compose, not just that each matches its own oracle."""
    return _chain_docs(spark, sf_dir)


# --------------------------------------------------------------------------
# crawl-policy URL filtering (blocklist + path rules)
# --------------------------------------------------------------------------

# Every production crawl runs a policy gate between canonicalization and
# fetch/ingest: registered-domain blocklists (spam/adult/SEO farms) and
# path-keyword rules (login/cart/search endpoints produce no training
# text). Both sides are SMALL (thousands of rows) against a huge URL
# stream — the textbook broadcast-anti-join, the same shape as the
# anagram stop-word filter (operators/anagram.py:58). The verdict column
# makes the gate auditable: a row is never silently dropped, it is
# LABELED, and the ingest filters on the label (the pattern GDPR/audit
# pipelines need).

_BLOCKED_DOMAINS = ["src2.com", "src7.org"]  # fixture blocklist
_BLOCKED_PATH_RE = r"/(login|cart|search)(/|$)"


def classify_urls(
    canon: DataFrame,
    blocked_domains: DataFrame,
    blocked_path_re: str = _BLOCKED_PATH_RE,
) -> DataFrame:
    """Label canonicalized rows (must carry canonical_url + host):
    verdict in ('ok', 'blocked_domain', 'blocked_path'). Domain check is
    a broadcast LEFT join on the registered domain; the path rule is a
    zero-shuffle regexp. Domain blocks take precedence (a blocked host's
    path is irrelevant)."""
    dom = F.regexp_extract("host", r"[^.]+\.[^.]+$", 0)
    path = F.regexp_extract(
        "canonical_url", r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    flagged = canon.withColumn("__dom", dom).join(
        F.broadcast(blocked_domains.select(F.col("domain").alias("__bd"))),
        F.col("__dom") == F.col("__bd"),
        "left",
    )
    return flagged.select(
        *canon.columns,
        F.when(F.col("__bd").isNotNull(), F.lit("blocked_domain"))
        .when(path.rlike(blocked_path_re), F.lit("blocked_path"))
        .otherwise(F.lit("ok"))
        .alias("verdict"),
    )


# Fixture: the canonical URL stream with planted path offenders — every
# 9th doc's page sits under /cart/. The blocklist is two of the twenty
# source domains.
_POLICY_URL_FIXTURE_SQL = f"""
CASE WHEN doc_id % 9 = 0 THEN regexp_replace({_URL_FIXTURE_SQL}, '/Docs//', '/cart/')
     ELSE {_URL_FIXTURE_SQL} END
"""

_POLICY_URL_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_POLICY_URL_FIXTURE_SQL} AS url FROM documents
)
SELECT doc_id, {_URL_PARTS['canonical']} AS canonical_url,
       {_URL_PARTS['host']} AS host
FROM raw
"""

_POLICY_FILTER_SQL = f"""
SELECT doc_id, canonical_url,
       CASE WHEN regexp_extract(host, '[^.]+\\.[^.]+$') IN
                 ({", ".join("'" + d + "'" for d in _BLOCKED_DOMAINS)})
                THEN 'blocked_domain'
            WHEN regexp_matches(
                 regexp_extract(canonical_url,
                     '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                 '{_BLOCKED_PATH_RE}')
                THEN 'blocked_path'
            ELSE 'ok' END AS verdict
FROM ({_POLICY_URL_SQL})
"""


# --------------------------------------------------------------------------
# robots.txt (Robots Exclusion Protocol) gate
# --------------------------------------------------------------------------

# The politeness gate between canonicalization and fetch: per registered
# domain a small rule set (Allow/Disallow path prefixes), applied with
# the REP decision rule — the LONGEST matching prefix wins, and on a
# length tie Allow beats Disallow (RFC 9309 §2.2.2's precedence, here
# for the original prefix-rule subset; '*'/'$' wildcard extensions are
# documented out of scope). Rules-per-domain is a tiny broadcast side;
# the match itself is JVM-side array lambdas over <=4-element rule
# arrays — zero shuffle, no UDF.


def robots_allowed(
    canon: DataFrame, rules: DataFrame, domain_col: str = "domain"
) -> DataFrame:
    """Label canonicalized rows (must carry canonical_url + the domain
    column) with ``robots_allowed`` and ``robots_rule`` (the winning
    prefix, NULL when no rule matched). ``rules`` is (domain, prefix,
    allow) — grouped to one array per domain and broadcast."""
    rule_arr = rules.groupBy(F.col("domain").alias("__rd")).agg(
        F.collect_list(F.struct("prefix", "allow")).alias("__rules")
    )
    path = F.regexp_extract(
        "canonical_url", r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    joined = canon.withColumn("__path", path).join(
        F.broadcast(rule_arr), F.col(domain_col) == F.col("__rd"), "left"
    )
    # Factor the matched-rule array and the max-prefix length into NAMED
    # columns so each interpreted HOF lambda runs once per row (r12,
    # guide §1.2 per-task work): the inlined form evaluated
    # filter(__rules, startswith) five times and the transform+array_max
    # twice per row — HOFs run outside whole-stage codegen, and
    # CollapseProject does not re-inline non-trivial aliases used more
    # than once, so the staged projection is a real 3-5x cut in
    # per-row lambda work. Same expressions, same results.
    staged = joined.withColumn(
        "__m", F.expr("filter(__rules, r -> startswith(__path, r.prefix))")
    ).withColumn(
        "__mx", F.expr("array_max(transform(__m, r -> length(r.prefix)))")
    )
    # longest match wins; Allow beats Disallow on a length tie; no
    # matching rule (or no robots entry at all) defaults to allowed
    allowed = F.when(
        F.col("__rules").isNull() | (F.size("__m") == 0), F.lit(True)
    ).otherwise(
        F.expr("exists(__m, r -> length(r.prefix) = __mx AND r.allow)")
    )
    # winner = lexicographically-smallest prefix among the longest matches
    # (not element [0] of the filtered array: collect_list order is
    # non-deterministic, and real robots.txt files may legally repeat a
    # prefix with opposite verdicts — array_min is order-free and matches
    # the oracle's list_aggregate('min') exactly)
    win = F.when(
        F.col("__rules").isNotNull() & (F.size("__m") > 0),
        F.expr(
            "array_min(transform("
            "filter(__m, r -> length(r.prefix) = __mx), x -> x.prefix))"
        ),
    )
    return staged.select(
        *canon.columns,
        allowed.alias("robots_allowed"),
        win.alias("robots_rule"),
    )


# Fixture robots rules, derived from the registered domain: every domain
# disallows /cart/; .com domains disallow /Docs/page-1 (a PREFIX — it
# also matches page-10..19, page-100.. — the classic REP footgun) but
# allow the longer /Docs/page-13 back; src7.org disallows everything.
_ROBOTS_RULES = [
    ("*", "/cart/", False),
    (".com", "/Docs/page-1", False),
    (".com", "/Docs/page-13", True),
    ("src7.org", "/", False),
]

_ROBOTS_RULES_SQL = """
CASE WHEN domain = 'src7.org' THEN
        [{'prefix': '/cart/', 'allow': false}, {'prefix': '/', 'allow': false}]
     WHEN domain LIKE '%.com' THEN
        [{'prefix': '/cart/', 'allow': false},
         {'prefix': '/Docs/page-1', 'allow': false},
         {'prefix': '/Docs/page-13', 'allow': true}]
     ELSE [{'prefix': '/cart/', 'allow': false}] END
"""

_ROBOTS_FILTER_SQL = f"""
WITH canon AS (
    SELECT doc_id, canonical_url,
           regexp_extract(host, '[^.]+\\.[^.]+$') AS domain,
           regexp_extract(canonical_url,
               '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
    FROM ({_POLICY_URL_SQL})
), ruled AS (
    SELECT doc_id, canonical_url, path, {_ROBOTS_RULES_SQL} AS rules
    FROM canon
), matched AS (
    SELECT doc_id, canonical_url, path, rules,
           list_filter(rules, r -> starts_with(path, r.prefix)) AS m
    FROM ruled
)
SELECT doc_id, canonical_url,
       CASE WHEN len(m) = 0 THEN true
            ELSE len(list_filter(m, r -> len(r.prefix) =
                     list_max(list_transform(m, x -> len(x.prefix)))
                     AND r.allow)) > 0 END AS robots_allowed,
       CASE WHEN len(m) = 0 THEN NULL
            ELSE list_aggregate(list_transform(
                     list_filter(m, r -> len(r.prefix) =
                         list_max(list_transform(m, x -> len(x.prefix)))),
                     x -> x.prefix), 'min')
            END AS robots_rule
FROM matched
"""


def _literal_table(
    spark: SparkSession, rows: list[tuple], names: tuple[str, ...]
) -> DataFrame:
    """A small fixture table built from literals. createDataFrame(list)
    puts a fresh RDD into the plan on every call; this plan is equal on
    every build, so frames derived from it (crawl_e2e's admission table)
    are found again by memo.persisted."""
    return spark.range(1).select(
        F.inline(
            F.array(
                *[F.struct(*[F.lit(v).alias(n) for v, n in zip(r, names)]) for r in rows]
            )
        )
    )


@register("robots_policy_filter", oracle=_ROBOTS_FILTER_SQL, driver=False)
def robots_policy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REP (robots.txt) gate over the canonicalized URL stream with the
    planted /cart/ offenders: longest-matching-prefix decision, Allow
    beating Disallow on length ties (the /Docs/page-13 allow overrides
    the /Docs/page-1 disallow on .com domains — and page-1's PREFIX
    nature blocks page-10..19 too, the classic footgun the fixture
    plants deliberately); src7.org is fully disallowed. Labeled, never
    dropped; broadcast rules, zero-shuffle lambdas, DuckDB mirror."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    canon = canonicalize_url(
        docs.selectExpr("doc_id", f"{_POLICY_URL_FIXTURE_SQL} AS url"), "url"
    ).select(
        "doc_id",
        "canonical_url",
        F.regexp_extract("host", r"[^.]+\.[^.]+$", 0).alias("domain"),
    )
    rows = []
    # the URL fixture assigns .COM to even and .org to odd doc_ids, so
    # every source can surface under either TLD — rules cover all 40
    domains = [f"src{i}.com" for i in range(20)] + [
        f"src{i}.org" for i in range(20)
    ]
    for dom in domains:
        rows.append((dom, "/cart/", False))
        if dom.endswith(".com"):
            rows.append((dom, "/Docs/page-1", False))
            rows.append((dom, "/Docs/page-13", True))
        if dom == "src7.org":
            rows.append((dom, "/", False))
    rules = _literal_table(spark, rows, ("domain", "prefix", "allow"))
    return robots_allowed(canon, rules).select(
        "doc_id", "canonical_url", "robots_allowed", "robots_rule"
    )


@register("acquisition_policy_filter", oracle=_POLICY_FILTER_SQL, driver=False)
def acquisition_policy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy gate over the canonicalized URL stream: registered-
    domain blocklist via broadcast anti-semantics (labeled, not
    dropped) + path-keyword rules, with planted /cart/ offenders every
    9th doc and two blocked fixture domains. Zero shuffle beyond the
    broadcast; the verdict column keeps the gate auditable."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    canon = canonicalize_url(
        docs.selectExpr("doc_id", f"{_POLICY_URL_FIXTURE_SQL} AS url"), "url"
    ).select("doc_id", "canonical_url", "host")
    blocked = _literal_table(spark, [(d,) for d in _BLOCKED_DOMAINS], ("domain",))
    return classify_urls(canon, blocked).select(
        "doc_id", "canonical_url", "verdict"
    )


# --------------------------------------------------------------------------
# the admission decision, composed (robots ∧ blocklist ∧ URL dedup)
# --------------------------------------------------------------------------

# Duplicate plant: the standard fixture URLs embed doc_id (and per-doc
# source hosts), so genuine cross-doc canonical collisions cannot occur
# in it; every (10k+6)/(10k+8)th doc's canonical is overridden to ONE
# shared URL to stand in for "two crawls of the same page" — the
# window-dedup semantics under test are identical.
_SHARED_URL = "https://shared.org/page-x"

_ADMISSION_SQL = f"""
WITH pol AS (
    SELECT doc_id,
           CASE WHEN doc_id % 10 IN (6, 8) THEN '{_SHARED_URL}'
                ELSE canonical_url END AS canonical_url,
           verdict
    FROM ({_POLICY_FILTER_SQL})
), rob AS (
    SELECT doc_id, robots_allowed, robots_rule FROM ({_ROBOTS_FILTER_SQL})
), ranked AS (
    SELECT p.doc_id, p.canonical_url, p.verdict,
           r.robots_allowed, r.robots_rule,
           row_number() OVER (PARTITION BY p.canonical_url
                              ORDER BY p.doc_id) AS rk
    FROM pol p JOIN rob r USING (doc_id)
)
SELECT doc_id, canonical_url,
       CASE WHEN NOT robots_allowed THEN 'robots:' || robots_rule
            WHEN verdict <> 'ok' THEN verdict
            WHEN rk > 1 THEN 'duplicate_url'
            ELSE 'admitted' END AS decision,
       (robots_allowed AND verdict = 'ok' AND rk = 1) AS admitted
FROM ranked
"""


@register("crawl_admission_report", oracle=_ADMISSION_SQL, driver=False)
def crawl_admission_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gates COMPOSED into one auditable admission decision per URL
    — the row a crawl frontier actually acts on: robots first (politeness
    is non-negotiable), then the operator blocklist, then canonical-URL
    dedup (first doc_id per canonical URL wins — the frontier's
    first-seen rule). Every row keeps its reason string; `admitted` is
    the single boolean the fetcher consumes. One window on
    canonical_url beyond the gates' own (zero-shuffle + broadcast)
    work; the DuckDB oracle composes the same three stages."""
    pol = acquisition_policy_filter(spark, sf_dir).withColumn(
        "canonical_url",
        F.when(
            F.col("doc_id") % 10 == 6, F.lit(_SHARED_URL)
        )
        .when(F.col("doc_id") % 10 == 8, F.lit(_SHARED_URL))
        .otherwise(F.col("canonical_url")),
    )
    rob = robots_policy_filter(spark, sf_dir).select(
        "doc_id", "robots_allowed", "robots_rule"
    )
    from pyspark.sql import Window

    ranked = pol.join(rob, "doc_id").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("canonical_url").orderBy("doc_id")
        ),
    )
    return ranked.select(
        "doc_id",
        "canonical_url",
        F.when(
            ~F.col("robots_allowed"),
            F.concat(F.lit("robots:"), F.col("robots_rule")),
        )
        .when(F.col("verdict") != "ok", F.col("verdict"))
        .when(F.col("rk") > 1, F.lit("duplicate_url"))
        .otherwise(F.lit("admitted"))
        .alias("decision"),
        (
            F.col("robots_allowed")
            & (F.col("verdict") == "ok")
            & (F.col("rk") == 1)
        ).alias("admitted"),
    )


@register("acquisition_chain_rollup", oracle=_CHAIN_ROLLUP_SQL, driver=False)
def acquisition_chain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-domain acquisition report over the COMPOSED chain: doc
    counts, exact-unique clean-text counts, total/distinct token mass of
    the cleaned corpus, and the duplicate fraction — what a crawl-budget
    policy reads after strip+canonicalize, ONE groupBy on domain."""
    d = _chain_docs(spark, sf_dir)
    return d.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("clean_h").cast("bigint").alias("n_unique"),
        F.sum("n_tokens").cast("bigint").alias("tokens_total"),
        F.sum("n_distinct_tokens").cast("bigint").alias("distinct_tokens_total"),
        F.round(
            (F.count("*") - F.countDistinct("clean_h")) / F.count("*"), 6
        ).alias("dup_doc_frac"),
    )


# --------------------------------------------------------------------------
# RFC 9309 wildcard rules (round 8): '*' and '$' path patterns
# --------------------------------------------------------------------------

# The prefix engine above implements the original REP subset; real
# robots.txt files also use RFC 9309 §2.2.3's two metacharacters:
# '*' (any character sequence) and '$' (end-of-path anchor). Precedence
# is unchanged — the longest RULE (octets of the pattern, '*'/'$'
# included) wins, Allow beating Disallow on a length tie.


def robots_pattern_rx(pat: str) -> str:
    """RFC 9309 path pattern -> anchored Java/RE2 regex (identical
    semantics in Spark's rlike and DuckDB's regexp_matches): '*' -> .*,
    trailing '$' -> end anchor, everything else literal."""
    import re as _re

    anchored = pat.endswith("$")
    body = pat[:-1] if anchored else pat
    rx = "".join(".*" if c == "*" else _re.escape(c) for c in body)
    return "^" + rx + ("$" if anchored else "")


def robots_allowed_rfc9309(
    canon: DataFrame, rules: DataFrame, domain_col: str = "domain"
) -> DataFrame:
    """robots_allowed with full RFC 9309 pattern matching. ``rules`` is
    (domain, pattern, allow); patterns may use '*' and '$'. The rules
    table is model-sized by definition (robots.txt lines per registered
    domain), so the regex translation happens driver-side on a collected
    copy — the DATA path stays zero-shuffle: one broadcast join + array
    lambdas, exactly the prefix engine's shape, with rlike replacing
    startswith and pattern length replacing prefix length."""
    spark = rules.sparkSession
    translated = spark.createDataFrame(
        [
            (r["domain"], r["pattern"], robots_pattern_rx(r["pattern"]), r["allow"])
            for r in rules.collect()  # model-sized: the rule set
        ],
        "domain string, pat string, rx string, allow boolean",
    )
    rule_arr = translated.groupBy(F.col("domain").alias("__rd")).agg(
        F.collect_list(F.struct("pat", "rx", "allow")).alias("__rules")
    )
    path = F.regexp_extract(
        "canonical_url", r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    joined = canon.withColumn("__path", path).join(
        F.broadcast(rule_arr), F.col(domain_col) == F.col("__rd"), "left"
    )
    # Same single-evaluation staging as robots_allowed (r12): the rlike
    # match — a REGEX per rule per row — ran up to five times per row
    # inlined; as named columns each interpreted HOF runs once.
    staged = joined.withColumn(
        "__m", F.expr("filter(__rules, r -> __path rlike r.rx)")
    ).withColumn(
        "__mx", F.expr("array_max(transform(__m, x -> length(x.pat)))")
    )
    allowed = F.when(
        F.col("__rules").isNull() | (F.size("__m") == 0), F.lit(True)
    ).otherwise(
        F.expr("exists(__m, r -> length(r.pat) = __mx AND r.allow)")
    )
    win = F.when(
        F.col("__rules").isNotNull() & (F.size("__m") > 0),
        F.expr(
            "array_min(transform("
            "filter(__m, r -> length(r.pat) = __mx), x -> x.pat))"
        ),
    )
    return staged.select(
        *canon.columns,
        allowed.alias("robots_allowed"),
        win.alias("robots_rule"),
    )


# Wildcard fixture rules, same for every domain: the plain /cart/
# disallow (the prefix engine's rule, matched through the regex path),
# a '*'-disallow catching any page with a 3 after 'page-' (page-3, -13,
# -34, -343, ...), a LONGER '*'-allow winning page-33* back (the
# wildcard analog of the page-13 footgun recovery), and a '$'-anchored
# allow that matches page-4 EXACTLY (page-14/-44 keep their trailing
# slash or trailing digits and stay out).
_ROBOTS_W_RULES = [
    ("/cart/", False),
    ("/Docs/*page-*3", False),
    ("/Docs/*page-33*", True),
    ("/Docs/*page-4$", True),
]

_ROBOTS_W_RULES_SQL = """
[{'pat': '/cart/', 'rx': '^/cart/', 'allow': false},
 {'pat': '/Docs/*page-*3', 'rx': '^/Docs/.*page\\-.*3', 'allow': false},
 {'pat': '/Docs/*page-33*', 'rx': '^/Docs/.*page\\-33.*', 'allow': true},
 {'pat': '/Docs/*page-4$', 'rx': '^/Docs/.*page\\-4$', 'allow': true}]
"""

_ROBOTS_W_SQL = f"""
WITH canon AS (
    SELECT doc_id, canonical_url,
           regexp_extract(canonical_url,
               '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
    FROM ({_POLICY_URL_SQL})
), matched AS (
    SELECT doc_id, canonical_url, path,
           list_filter({_ROBOTS_W_RULES_SQL},
                       r -> regexp_matches(path, r.rx)) AS m
    FROM canon
)
SELECT doc_id, canonical_url,
       CASE WHEN len(m) = 0 THEN true
            ELSE len(list_filter(m, r -> len(r.pat) =
                     list_max(list_transform(m, x -> len(x.pat)))
                     AND r.allow)) > 0 END AS robots_allowed,
       CASE WHEN len(m) = 0 THEN NULL
            ELSE list_aggregate(list_transform(
                     list_filter(m, r -> len(r.pat) =
                         list_max(list_transform(m, x -> len(x.pat)))),
                     x -> x.pat), 'min')
            END AS robots_rule
FROM matched
"""


@register("robots_wildcard_filter", oracle=_ROBOTS_W_SQL, driver=False)
def robots_wildcard_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RFC 9309 wildcard gate over the canonicalized URL stream:
    '*'-pattern disallows, a longer '*'-allow winning a subfamily back,
    and a '$'-anchored exact-path allow — longest-pattern precedence
    with allow-wins ties, every verdict labeled. The DuckDB oracle
    mirrors the rule set with the same precomputed regexes."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    canon = canonicalize_url(
        docs.selectExpr("doc_id", f"{_POLICY_URL_FIXTURE_SQL} AS url"), "url"
    ).select(
        "doc_id",
        "canonical_url",
        F.regexp_extract("host", r"[^.]+\.[^.]+$", 0).alias("domain"),
    )
    domains = [f"src{i}.com" for i in range(20)] + [
        f"src{i}.org" for i in range(20)
    ]
    rules = spark.createDataFrame(
        [(d, pat, allow) for d in domains for pat, allow in _ROBOTS_W_RULES],
        "domain string, pattern string, allow boolean",
    )
    return robots_allowed_rfc9309(canon, rules).select(
        "doc_id", "canonical_url", "robots_allowed", "robots_rule"
    )


# --------------------------------------------------------------------------
# crawl-frontier scheduling (round 8): admission -> fetch slots
# --------------------------------------------------------------------------

# The stage after the admission decision: a polite crawler fetches each
# domain SEQUENTIALLY with a per-domain delay, so the frontier's job is
# to lay admitted URLs out on per-domain timelines. That is exactly one
# window over domain — and partitioning by domain is not a skew hazard
# here but the PHYSICAL MEANING of politeness: a domain's queue is
# sequential by definition, and cross-domain parallelism is the only
# parallelism a polite crawler has. Fixture delay: a deterministic
# per-domain crawl-delay derived from the domain string (robots.txt
# Crawl-delay would slot in identically).


def frontier_schedule(admitted: DataFrame, delay_ms: Column) -> DataFrame:
    """Lay out admitted URLs on per-domain fetch timelines: ``slot`` is
    the 0-based position in the domain's queue (first-seen doc order —
    the admission rule's tiebreak), ``fetch_offset_ms`` its start time
    relative to the domain's first fetch. ``admitted`` needs (doc_id,
    canonical_url, domain); ``delay_ms`` is a per-row column (usually a
    function of domain)."""
    from pyspark.sql import Window

    w = Window.partitionBy("domain").orderBy("doc_id")
    slot = F.row_number().over(w) - 1
    return admitted.select(
        "doc_id",
        "canonical_url",
        "domain",
        slot.cast("long").alias("slot"),
        (slot * delay_ms).cast("long").alias("fetch_offset_ms"),
    )


_FRONTIER_SQL = f"""
WITH adm AS (
    SELECT doc_id, canonical_url FROM ({_ADMISSION_SQL}) WHERE admitted
), dom AS (
    SELECT doc_id, canonical_url,
           regexp_extract(canonical_url,
               '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?(?:www\\.)?([^/?#:]*)', 1)
           AS host
    FROM adm
), keyed AS (
    SELECT doc_id, canonical_url,
           regexp_extract(host, '[^.]+\\.[^.]+$') AS domain
    FROM dom
)
SELECT doc_id, canonical_url, domain,
       CAST(row_number() OVER (PARTITION BY domain ORDER BY doc_id) - 1
            AS BIGINT) AS slot,
       CAST((row_number() OVER (PARTITION BY domain ORDER BY doc_id) - 1)
            * (500 * (1 + length(domain) % 3)) AS BIGINT) AS fetch_offset_ms
FROM keyed
"""


@register("crawl_frontier_schedule", oracle=_FRONTIER_SQL, driver=False)
def crawl_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frontier laid out: every ADMITTED URL (the composed
    robots ∘ blocklist ∘ first-seen decision) gets its per-domain queue
    slot and fetch offset under a deterministic per-domain crawl delay
    (500ms x (1 + len(domain) mod 3) — a robots Crawl-delay would bind
    identically). One window on domain — the politeness constraint IS
    the partitioning."""
    adm = crawl_admission_report(spark, sf_dir).filter(F.col("admitted"))
    host = F.regexp_extract(
        "canonical_url",
        r"^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?(?:www\.)?([^/?#:]*)",
        1,
    )
    keyed = adm.select(
        "doc_id",
        "canonical_url",
        F.regexp_extract(host, r"[^.]+\.[^.]+$", 0).alias("domain"),
    )
    delay = (500 * (1 + F.length("domain") % 3)).cast("long")
    return frontier_schedule(keyed, delay)
