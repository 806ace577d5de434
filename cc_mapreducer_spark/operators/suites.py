"""Driver digest suites for the sketch, feature, mining, acquisition,
SimHash, similarity and multimodal families.

The driver's correctness roster caps at 50 keys, so most families reach
the driver's hash through a digest key: each suite below projects
several registered component queries (its sources) into a uniform
``(component, entity, value)`` long form and registers driver=True; the
sources stay registered driver=False with their full schemas, each
value-checked by its own oracle parity test.

A suite is a table of ``(source, legs)`` entries, and each leg is
``(tag, entity_sql, value_sql)`` (cc_mapreducer_spark/digest.py):

  - ``source`` names a registered query. Spark builds that query and
    DuckDB runs that query's registered oracle, so the digest's oracle
    is exactly its sources' independent oracles. Two sources are not
    plain registered queries and are written as explicit
    ``(frame builder, oracle SQL)`` pairs: the ADPCM geometry and the
    per-slice PSI totals;
  - ``entity`` is a '|'-joined string of the component's key columns,
    so every key column lands in the driver's value hash;
  - ``value`` is a double; booleans hash as 0/1; integer metrics cast
    exactly (all are far below 2^53);
  - a multi-metric row fans out to one digest row per leg, tagged
    ``component:metric``.

The legs hash chosen columns, not every column of every source: for
example ``crawl_e2e_funnel.n_fetched``, ``c4_filter_funnel.lines_in``
and ``span_removal.removed_tokens`` are read by no leg. Those columns
are checked by the sources' own parity tests.

Scale shape: one projection per source (an ``inline`` generator that
emits one row per leg), the projections unioned. Each source appears
once in the plan, however many legs read it, and the digest adds no
shuffle beyond its sources' own, so the 100 TB story of each source
(documented at its definition) carries over unchanged.

The tables name their sources through the registry, so every source
module must be imported (operators/__init__.py) before this one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cc_mapreducer_spark.digest import digest_frame, digest_sql
from cc_mapreducer_spark.operators.dq import embedding_drift_psi
from cc_mapreducer_spark.operators.multimodal import adpcm_codec_stats
from cc_mapreducer_spark.registry import all_oracles, all_queries, register

_ORACLES = all_oracles()

# ADPCM witnesses the driver CAN hash: container geometry and the
# first decoded sample are closed-form (the sample-recursive waveform
# itself is not SQL-expressible; its sha stays pytest-pinned). The
# encoder (functions/adpcm_codec.py) fixes align=256 -> 505 samples per
# block, RIFF overhead 60 bytes; the signal fixture
# (multimodal.adpcm_test_signal) fixes n = 600 + n_chars % 700 and
# sample0 = ceil(period/2) * (50 + first byte) with period =
# 40 + doc_id % 23 — the driver corpus is all-ASCII non-empty text, so
# ascii(substr(text,1,1)) IS the first utf-8 byte.
_ADPCM_GEOM_SQL = """
SELECT doc_id,
       600 + (n_chars % 700) AS n_samples,
       60 + 256 * (((600 + (n_chars % 700)) + 504) // 505) AS adpcm_bytes,
       ((40 + (doc_id % 23)) - ((40 + (doc_id % 23)) // 2))
           * (50 + ascii(substr(text, 1, 1))) AS first_sample
FROM documents WHERE length(text) > 0
"""


def _psi_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_drift_psi(spark, sf_dir).select("slice", "psi_total").distinct()


_PSI_TOTALS_SQL = (
    "SELECT DISTINCT slice, psi_total "
    f"FROM ({_ORACLES['embedding_drift_psi']})"
)

# count-min estimates with their exact counts and eps-bound verdicts,
# the Misra-Gries heavy hitters, the approx-quantile contract, the
# triangle counts / clustering coefficients, the ADPCM codec witnesses,
# and the KMV/theta sketch contract (exact vs estimated distinct
# shingles per source, estimated vs exact Jaccard per source pair)
SKETCHES = [
    ("cms_word_counts", [
        ("cms:true", "word", "true_cnt"),
        ("cms:est", "word", "cms_est"),
        ("cms:within", "word", "within_eps"),
    ]),
    ("heavy_hitter_words", [("mg", "word", "cnt")]),
    ("approx_quantile_contract", [
        ("q:p50", "l_returnflag", "exact_p50"),
        ("q:p95", "l_returnflag", "exact_p95"),
        ("q:within", "l_returnflag", "within_bound"),
    ]),
    ("item_triangle_stats", [
        ("tri:deg", "item", "degree"),
        ("tri:n", "item", "n_triangles"),
        ("tri:cc", "item", "clustering_coeff"),
    ]),
    ((adpcm_codec_stats, _ADPCM_GEOM_SQL), [
        ("adpcm:n", "doc_id", "n_samples"),
        ("adpcm:bytes", "doc_id", "adpcm_bytes"),
        ("adpcm:s0", "doc_id", "first_sample"),
    ]),
    ("kmv_shingle_cardinality", [
        ("kmv:exact", "source", "n_exact"),
        ("kmv:est", "source", "est_distinct"),
    ]),
    ("kmv_corpus_overlap", [
        ("kmv:jacc", "concat_ws('|', source_a, source_b)", "est_jaccard"),
        ("kmv:xjacc", "concat_ws('|', source_a, source_b)", "exact_jaccard"),
    ]),
]

# skew-safe percent-rank over lineitem prices, smoothed + leave-one-out
# target encoding of order priorities, and the top-k/OTHER rollup
_ORDER_KEY = "concat_ws('|', o_orderkey, o_orderpriority)"
FEATURES = [
    ("price_percent_rank", [(
        "pct_rank",
        "concat_ws('|', l_orderkey, l_linenumber, l_returnflag)",
        "pct_rank",
    )]),
    ("target_encoded_orders", [
        ("enc:smooth", _ORDER_KEY, "enc_smoothed"),
        ("enc:loo", _ORDER_KEY, "enc_loo"),
    ]),
    ("event_type_topk_rollup", [
        ("topk:n", "label", "n_events"),
        ("topk:v", "label", "total_value"),
    ]),
]

# the text-mining family: TF-IDF keywords, the frozen-classifier eval
# metrics (tie-aware AUC + confusion), embedding PSI drift, FastSS record
# linkage, contrastive hash-jump negatives, the ExactSubstr span family
# (duplicate-span coverage, decontamination, keep-one removal) and
# per-source dedup telemetry. The removal legs carry the first 48 bits
# of the cleaned text's md5 in the entity, as the SimHash ``fp`` leg
# carries its fingerprint.
_TFIDF_KEY = "concat_ws('|', doc_id, rank, word)"
_PSI_KEY = "concat_ws('|', slice, bin)"
_LINK_KEY = "concat_ws('|', b_id, a_id)"
_REMOVAL_KEY = "concat_ws('|', doc_id, substr(md5(cleaned_text), 1, 12))"
_EVAL_METRICS = (
    "n_pos", "n_neg", "tp", "fp", "fn", "tn",
    "auc", "accuracy", "precision_en", "recall_en",
)
MINING = [
    ("tfidf_doc_keywords", [
        ("tfidf", _TFIDF_KEY, "score"),
        ("tfidf:tf", _TFIDF_KEY, "tf"),
    ]),
    ("classifier_eval_metrics", [("eval", f"'{m}'", m) for m in _EVAL_METRICS]),
    ("embedding_drift_psi", [
        ("psi", _PSI_KEY, "psi_contrib"),
        ("psi:nref", _PSI_KEY, "n_ref"),
        ("psi:ncur", _PSI_KEY, "n_cur"),
    ]),
    ((_psi_totals, _PSI_TOTALS_SQL), [("psi_total", "slice", "psi_total")]),
    ("record_linkage_parts", [
        ("link:score", _LINK_KEY, "score"),
        ("link:dist", _LINK_KEY, "dist"),
        ("link:flags", _LINK_KEY,
         "2 * CAST(brand_match AS INT) + CAST(type_match AS INT)"),
    ]),
    ("contrastive_negatives", [
        ("contrast", "concat_ws('|', doc_id, rank)", "neg_id"),
    ]),
    ("span_dup_coverage_multi", [
        ("span:cov", "doc_id", "covered_l8"),
        ("span:frac", "doc_id", "cov_l8"),
        ("span32:cov", "doc_id", "covered_l32"),
        ("span32:frac", "doc_id", "cov_l32"),
    ]),
    ("span_decontamination", [
        ("decon:n", "doc_id", "n_contaminated"),
        ("decon:flag", "doc_id", "flagged"),
    ]),
    ("dedup_rate_by_source", [
        ("deduprate:dups", "source", "n_dup_docs"),
        ("deduprate:waste", "source", "tokens_wasted"),
        ("deduprate:frac", "source", "dup_doc_frac"),
    ]),
    ("span_removal", [
        ("removal:kept", "doc_id", "kept_tokens"),
        ("removal:h", _REMOVAL_KEY, "1.0"),
    ]),
    ("span_removal_l32", [
        ("removal32:kept", "doc_id", "kept_tokens"),
        ("removal32:h", _REMOVAL_KEY, "1.0"),
    ]),
]

# the crawl-to-corpus family: HTML strip with a content-pinning hash,
# URL canonicalization, the per-domain rollup, the composed
# strip->canonicalize->tokenize chain, the WARC round-trip witnesses, the
# crawl-policy and robots.txt gates, the composed admission decision,
# the frontier schedule, segmented-record reassembly, main-content
# extraction, the C4 cleaning battery, sitemap discovery and recrawl,
# robots.txt TEXT parsing, the end-to-end funnel and the domain link
# graph with its 10-iteration PageRank. The ``warcchain:*`` legs run the
# WARC path (bytes -> response records -> the chain) against the SAME
# oracle as the batch chain, and ``rbtxt:gate`` runs the gate fed from
# parsed robots.txt text against the structured gate's oracle, so both
# round trips are checked to be semantic no-ops per value.
_DOC_URL = "concat_ws('|', doc_id, domain, canonical_url)"
_DOC_URI = "concat_ws('|', doc_id, target_uri)"
_DOC_RULE = "concat_ws('|', doc_id, coalesce(robots_rule, '-'))"
ACQUISITION = [
    ("html_strip_stats", [
        ("html:h", "doc_id", "clean_h"),
        ("html:len", "doc_id", "n_chars_clean"),
        ("html:tags", "doc_id", "n_tags"),
    ]),
    ("url_canonical_stats", [
        ("url:canon", "concat_ws('|', doc_id, canonical_url)", "n_params"),
    ]),
    ("domain_acquisition_rollup", [
        ("domain:docs", "domain", "n_docs"),
        ("domain:dups", "domain", "n_dup_docs"),
        ("domain:tokens", "domain", "tokens_total"),
        ("domain:frac", "domain", "dup_doc_frac"),
    ]),
    ("acquisition_chain_profile", [
        ("chain:h", _DOC_URL, "clean_h"),
        ("chain:tok", "doc_id", "n_tokens"),
        ("chain:utok", "doc_id", "n_distinct_tokens"),
    ]),
    ("acquisition_chain_rollup", [
        ("chaindom:docs", "domain", "n_docs"),
        ("chaindom:tokens", "domain", "tokens_total"),
        ("chaindom:frac", "domain", "dup_doc_frac"),
    ]),
    ("warc_response_stats", [
        ("warc:h", _DOC_URI, "body_h"),
        ("warc:len", "doc_id", "block_len"),
        ("warc:clen", "doc_id", "content_len"),
        ("warc:status", "doc_id", "http_status"),
    ]),
    ("warc_acquisition_chain", [
        ("warcchain:h", _DOC_URL, "clean_h"),
        ("warcchain:tok", "doc_id", "n_tokens"),
        ("warcchain:utok", "doc_id", "n_distinct_tokens"),
    ]),
    ("wet_export_roundtrip", [
        ("wet:h", _DOC_URI, "clean_h"),
        ("wet:len", "doc_id", "wet_block_len"),
    ]),
    ("warc_revisit_resolution", [
        ("revisit:resolved", "concat_ws('|', doc_id, target_uri, digest)",
         "resolved_doc"),
        ("revisit:saved", "doc_id", "saved_bytes"),
        ("revisit:blen", "doc_id", "revisit_block_len"),
    ]),
    ("acquisition_policy_filter", [(
        "policy",
        "concat_ws('|', doc_id, verdict)",
        "CASE verdict WHEN 'ok' THEN 0 WHEN 'blocked_domain' THEN 1 ELSE 2 END",
    )]),
    ("robots_policy_filter", [("robots", _DOC_RULE, "robots_allowed")]),
    ("crawl_admission_report", [
        ("admit", "concat_ws('|', doc_id, decision)", "admitted"),
    ]),
    ("robots_wildcard_filter", [("robotsw", _DOC_RULE, "robots_allowed")]),
    ("crawl_frontier_schedule", [
        ("frontier:slot", "concat_ws('|', doc_id, domain)", "slot"),
        ("frontier:t", "doc_id", "fetch_offset_ms"),
    ]),
    ("warc_segment_reassembly", [
        ("seg:h", "concat_ws('|', doc_id, te)", "body_h"),
        ("seg:n", "doc_id", "n_segments"),
        ("seg:blen", "doc_id", "block_len"),
    ]),
    ("main_content_extract", [
        ("extract:h", "doc_id", "main_h"),
        ("extract:chars", "doc_id", "content_chars * 100000 + boiler_chars"),
    ]),
    ("content_yield_by_source", [("yield:frac", "source", "content_yield")]),
    ("c4_line_filter_stats", [
        ("c4:h", "concat_ws('|', doc_id, verdict)", "kept_h"),
        ("c4:lines", "doc_id", "n_lines * 1000 + n_kept_lines"),
    ]),
    ("c4_filter_funnel", [(
        "c4funnel",
        "concat_ws('|', source, verdict)",
        "n_docs * 1000000 + lines_kept",
    )]),
    ("sitemap_roundtrip_stats", [
        ("sitemap:bytes", "concat_ws('|', doc_id, host)", "file_bytes"),
        ("sitemap:meta",
         "concat_ws('|', doc_id, lastmod, changefreq, priority)", "file_no"),
    ]),
    ("sitemap_recrawl_schedule", [
        ("recrawl:due", "concat_ws('|', doc_id, domain)", "is_due"),
        ("recrawl:slot", "doc_id", "coalesce(fetch_offset_ms, -1)"),
    ]),
    ("robots_txt_directives", [
        ("rbtxt:rules", "concat_ws('|', domain, sitemap_url)", "rules_h"),
        ("rbtxt:delay", "domain", "crawl_delay"),
    ]),
    ("robots_txt_gate", [("rbtxt:gate", _DOC_RULE, "robots_allowed")]),
    # packed numbers stay exact in a double far past any fixture scale
    # (< 2^53); e2e:pack hashes the funnel's corpus-to-contexts hand-off
    ("crawl_e2e_funnel", [
        ("e2e:funnel", "domain",
         "((n_urls * 1000 + n_admitted) * 1000 + n_quality_ok) * 1000"
         " + n_unique"),
        ("e2e:tokens", "domain", "tokens_shipped"),
        ("e2e:content", "domain", "content_sum"),
        ("e2e:revisit", "domain", "n_revisits * 1000 + n_revisit_resolved"),
        ("e2e:saved", "domain", "revisit_saved_bytes"),
        ("e2e:pack", "domain",
         "(pack_contexts * 100000 + pack_padding) * 100000 + pack_fragments"),
    ]),
    ("domain_link_edges", [
        ("edges:n", "concat_ws('|', src_domain, dst_domain)", "n_links"),
    ]),
    ("domain_pagerank", [
        ("pagerank:rank", "domain", "rank"),
        ("pagerank:out", "domain", "n_out_links"),
    ]),
]

# every document's 64-bit SimHash fingerprint (hex, in the entity so all
# 64 bits land in the hash) plus every near-dup pair within Hamming
# radius 6; the pair oracle is the brute-force all-pairs spec, so a
# green hash shows the block-pair probe drops nothing
SIMHASH = [
    ("simhash_fingerprint", [("fp", "concat_ws('|', doc_id, simhash)", "1.0")]),
    ("simhash_near_pairs", [
        ("pair", "concat_ws('|', doc_a, doc_b)", "hamming"),
    ]),
]

# the exact brute-force and the multi-table sign-LSH embedding top-k,
# (query, neighbor, rank) in the entity, the rounded cosine as the value
_TOPK_KEY = "concat_ws('|', query_id, vec_id, rn)"
SIMILARITY = [
    ("similarity_topk_bruteforce", [("brute", _TOPK_KEY, "cosine")]),
    ("similarity_topk_signlsh", [("lsh", _TOPK_KEY, "cosine")]),
]

# the metadata-only binary stats rollup and every field of the decoded
# media derivation, one leg per field over ALL rows with nulls coalesced
# to -1 (a PNG has no sample_rate, a decoded row has no frame_idx), so no
# filter can drop a row from the hash
_MEDIA_KEY = "concat_ws('|', doc_id, kind, media_type, coalesce(frame_idx, -1))"
MULTIMODAL = [
    ("multimodal_binary_stats", [
        ("bin:items", "media_type", "n_items"),
        ("bin:bytes", "media_type", "total_bytes"),
        ("bin:maxb", "media_type", "max_bytes"),
        ("bin:uniq", "media_type", "n_distinct_payloads"),
    ]),
    ("multimodal_derived", [
        (f"drv:{tag}", _MEDIA_KEY, f"coalesce({col}, -1)")
        for tag, col in (
            ("w", "width"), ("h", "height"), ("ch", "channels"),
            ("sr", "sample_rate"), ("ns", "n_samples"),
            ("dur", "duration_ms"), ("flen", "frame_len"),
        )
    ]),
]

SUITES = {
    "sketches_suite": SKETCHES,
    "features_suite": FEATURES,
    "mining_suite": MINING,
    "acquisition_suite": ACQUISITION,
    "simhash_suite": SIMHASH,
    "similarity_suite": SIMILARITY,
    "multimodal_suite": MULTIMODAL,
}


def _frame(table):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        queries = all_queries()
        return digest_frame(
            (
                queries[src](spark, sf_dir)
                if isinstance(src, str)
                else src[0](spark, sf_dir),
                legs,
            )
            for src, legs in table
        )

    return build


for _name, _table in SUITES.items():
    register(
        _name,
        oracle=digest_sql(
            (_ORACLES[src] if isinstance(src, str) else src[1], legs)
            for src, legs in _table
        ),
    )(_frame(_table))
