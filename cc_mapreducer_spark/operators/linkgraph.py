"""The hyperlink graph: pages link across domains, and the resulting
domain-level graph is the crawl's oldest quality signal — Common Crawl
publishes domain ranks, and real pipelines use centrality (PageRank,
harmonic) to prioritize fetch budgets and weight sources.

Two stages, composing two existing families:

  domain_link_edges   extraction: absolute hrefs pulled out of page
                      HTML with regexp built-ins (the extraction
                      family's tools), resolved to registrable domains,
                      self-edges dropped, aggregated to a weighted
                      (src_domain, dst_domain, n_links) edge list —
                      one groupBy on the edge key, scan-riding before
                      it. Oracle-backed (the DuckDB SQL runs the same
                      extraction independently).
  domain_pagerank     graph: operators/graph.pagerank over that edge
                      list (the cached-shares / dangling-mass
                      implementation the item graph already uses);
                      domains map to dense ids via a model-sized
                      collected dict (the domain universe is tiny by
                      construction at any corpus scale — it is the
                      DOMAIN graph) and ranks join back to names.
                      Iterative float path: rows-only for the driver,
                      pinned against the numpy replica in pytest.

Fixture: each document's page carries two absolute outbound links to
other sources' hosts (residue-derived, so the graph is deterministic
and well-connected) plus a relative link the extractor must ignore and
a same-domain absolute link the self-edge rule must drop.

Scale shape: link extraction rides the scan; the edge aggregation
shuffles on (src, dst) domain pairs — bounded by the square of the
domain universe, not the corpus; PageRank's per-iteration cost is the
rank vector join (|domains| rows), with the share table cached once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from cc_mapreducer_spark.functions.text import sql_quote
from cc_mapreducer_spark.operators.graph import pagerank
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

_HREF_RE = 'href="(https?://[^"]*)"'
_DOMAIN_RE = r"^https?://(?:www\.)?([^/?#:]*)"


# page fixture: two cross-domain links (residue-derived targets), one
# same-domain absolute link (self-edge — must be dropped), one relative
# link (not absolute — must be ignored), wrapped in article text.
# The second target is QUADRATIC in doc_id (r9): two affine residues gave
# every domain identical in-degree, the graph was exactly regular, and
# PageRank converged to the uniform vector — a vacuous digest (any bug
# preserving symmetry would hash green). (x*x+3)%20 hits residues
# {3,5,13,15} twice as often as {9,19} and misses the rest, so ranks
# genuinely order the domains. x*x-x+3 != 0 (mod 20) for all x, so the
# quadratic target never lands on its own source-residue domain.
_LG_P1 = '<html><body><p>see <a href="https://www.'
_LG_P2 = '.org/page-a">next</a> and <a href="https://'
_LG_P3 = '.org/page-b">related</a> and <a href="https://www.'
_LG_P4 = '.org/self">me</a> and <a href="/local/index">home</a> in </p><p>'
_LG_P5 = "</p></body></html>"


def _dst(expr_mod: Column) -> Column:
    return F.concat(F.lit("src"), expr_mod.cast("string"))


def _page_links_col() -> Column:
    d1 = _dst((F.col("doc_id") + 1) % 20)
    d2 = _dst((F.col("doc_id") * F.col("doc_id") + 3) % 20)
    return F.concat(
        F.lit(_LG_P1), d1,
        F.lit(_LG_P2), d2,
        F.lit(_LG_P3), F.col("source"),
        F.lit(_LG_P4), F.col("text"),
        F.lit(_LG_P5),
    )


_PAGE_LINKS_SQL = (
    f"'{sql_quote(_LG_P1)}' || 'src' || CAST((doc_id + 1) % 20 AS VARCHAR) || "
    f"'{sql_quote(_LG_P2)}' || 'src' || CAST((doc_id * doc_id + 3) % 20 AS VARCHAR) || "
    f"'{sql_quote(_LG_P3)}' || source || "
    f"'{sql_quote(_LG_P4)}' || text || "
    f"'{sql_quote(_LG_P5)}'"
)


def extract_domain_edges(
    pages: DataFrame, src_domain: str = "src_domain", html_col: str = "html"
) -> DataFrame:
    """(src_domain, dst_domain, n_links): absolute hrefs -> domains,
    self-edges dropped, weights = link counts. Extraction is HOF
    built-ins riding the scan; one shuffle on the domain-pair key."""
    hrefs = F.explode(
        F.regexp_extract_all(html_col, F.lit(_HREF_RE), F.lit(1))
    ).alias("href")
    links = pages.select(F.col(src_domain), hrefs).select(
        src_domain,
        F.regexp_extract("href", _DOMAIN_RE, 1).alias("dst_domain"),
    )
    return (
        links.filter(
            (F.col("dst_domain") != "")
            & (F.col("dst_domain") != F.col(src_domain))
        )
        .groupBy(src_domain, "dst_domain")
        .agg(F.count("*").cast("long").alias("n_links"))
    )


_EDGES_SQL = f"""
WITH raw AS (
    SELECT doc_id, source || '.org' AS src_domain,
           {_PAGE_LINKS_SQL} AS html
    FROM documents
), hrefs AS (
    SELECT src_domain,
           unnest(regexp_extract_all(html, 'href="(https?://[^"]*)"', 1))
               AS href
    FROM raw
), links AS (
    SELECT src_domain,
           regexp_extract(href, '^https?://(?:www\\.)?([^/?#:]*)', 1)
               AS dst_domain
    FROM hrefs
)
SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n_links
FROM links
WHERE dst_domain <> '' AND dst_domain <> src_domain
GROUP BY src_domain, dst_domain
"""


def _fixture_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".org")).alias("src_domain"),
        _page_links_col().alias("html"),
    )


@register("domain_link_edges", oracle=_EDGES_SQL, driver=False)
def domain_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted domain-level link graph out of page HTML: the
    extractor must take exactly the absolute cross-domain hrefs (the
    planted relative link is ignored, the same-domain absolute link is
    dropped as a self-edge) and weight edges by link count."""
    return extract_domain_edges(_fixture_pages(spark, sf_dir))


def _pagerank_sql(iters: int = 10, d: float = 0.85) -> str:
    """The PageRank oracle: a FIXED iteration count makes the float
    path SQL-expressible — unroll the power iteration as generated
    r0..r{iters} CTEs (the same unrolling move binary_dedup_suite uses
    for its cut chain). Expression shapes mirror operators/graph.pagerank
    exactly — ((1-d)/n + d*m/n) + d*inflow, same association order — so
    the only cross-engine drift is summation order, bounded well below
    the 9dp rounding both sides publish."""
    head = f"""
WITH edges0 AS MATERIALIZED ({_EDGES_SQL}),
flow AS (
    SELECT src_domain AS s, dst_domain AS t, CAST(n_links AS DOUBLE) AS w
    FROM edges0
), outw AS (SELECT s, sum(w) AS ow FROM flow GROUP BY s),
shares AS MATERIALIZED (
    SELECT f.s, f.t, f.w / o.ow AS share FROM flow f JOIN outw o USING (s)
), nodes AS MATERIALIZED (
    SELECT DISTINCT d FROM (
        SELECT s AS d FROM flow UNION ALL SELECT t FROM flow
    )
), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS MATERIALIZED (SELECT d, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    steps = []
    for i in range(iters):
        steps.append(f""",
m{i} AS MATERIALIZED (
    SELECT coalesce(sum(rank), 0.0) AS m FROM r{i}
    WHERE d NOT IN (SELECT s FROM shares)
), r{i + 1} AS MATERIALIZED (
    -- every r is referenced three times (m, inflow probe, next r):
    -- inlining would be exponential in the iteration count
    SELECT nodes.d,
           ((1.0 - {d!r}) / (SELECT n FROM nn)
            + {d!r} * (SELECT m FROM m{i}) / (SELECT n FROM nn))
           + {d!r} * coalesce((SELECT sum(r.rank * sh.share)
                               FROM r{i} r JOIN shares sh ON sh.s = r.d
                               WHERE sh.t = nodes.d), 0.0) AS rank
    FROM nodes
)""")
    tail = f"""
SELECT r.d AS domain, round(r.rank, 9) AS rank,
       CAST(coalesce((SELECT sum(n_links) FROM edges0 e
                      WHERE e.src_domain = r.d), 0) AS BIGINT)
           AS n_out_links
FROM r{iters} r
"""
    return head + "".join(steps) + tail


_PAGERANK_SQL = _pagerank_sql()


# iterative float path — rank published at 9dp so the driver's exact
# value hash is well-posed (cross-engine drift is summation order,
# ~1e-15; the numpy replica pins the unrounded path in pytest)
@register("domain_pagerank", oracle=_PAGERANK_SQL, driver=False)
def domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the extracted domain graph (damping 0.85, 10
    iterations — operators/graph.pagerank, dangling mass redistributed
    uniformly): (domain, rank, n_out_links), ranks summing to 1.
    Pinned against the numpy power-iteration replica in pytest AND
    against the unrolled-iteration DuckDB oracle (_pagerank_sql)."""
    edges = domain_link_edges(spark, sf_dir).localCheckpoint()
    domains = sorted(
        r["d"]
        for r in edges.select(F.col("src_domain").alias("d"))
        .union(edges.select(F.col("dst_domain").alias("d")))
        .distinct()
        .collect()
    )  # model-sized: the DOMAIN universe, tiny at any corpus scale
    ids = {d: i for i, d in enumerate(domains)}
    id_df = spark.createDataFrame(
        [(d, i) for d, i in ids.items()], "domain string, id long"
    )
    ed = (
        edges.join(
            F.broadcast(id_df.select(F.col("domain").alias("src_domain"),
                                     F.col("id").alias("src"))),
            "src_domain",
        )
        .join(
            F.broadcast(id_df.select(F.col("domain").alias("dst_domain"),
                                     F.col("id").alias("dst"))),
            "dst_domain",
        )
        .select("src", "dst", F.col("n_links").alias("weight"))
    )
    ranks = pagerank(ed, damping=0.85, iterations=10)
    out_links = edges.groupBy("src_domain").agg(
        F.sum("n_links").cast("long").alias("n_out_links")
    )
    return (
        ranks.join(F.broadcast(id_df), ranks.node == id_df.id)
        .select("domain", "rank")
        .join(
            out_links.withColumnRenamed("src_domain", "domain"),
            "domain",
            "left",
        )
        .select(
            "domain",
            F.round("rank", 9).alias("rank"),
            F.coalesce("n_out_links", F.lit(0)).cast("long").alias(
                "n_out_links"
            ),
        )
    )
