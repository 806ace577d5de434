"""Tests for the in-session artifact memo (cc_mapreducer_spark/memo.py):

- two DIFFERENT in-memory corpora must not collide on one entry
  (the r11 bug: lm_doc_scores(B) after lm_doc_scores(A) was scored
  against A's cached model because inputFiles() is [] for both);
- an in-session overwrite of a source table must MISS the memo and
  rebuild, also when the file is rewritten in place under its old name;
- two corpora in one session coexist in separate entries instead of
  thrashing a single one;
- the store is bounded, and evicting a frame unpersists it;
- a second call of a query that reaches the store adds no cached data
  and returns the same rows;
- a table's schema is inferred once per file: a second load of a table,
  or a second build of a benchmark catalog query, starts no Spark job,
  and a table rewritten in place is read with its new schema;
- a tokenizer model trains once per corpus: after the tokenizer singles,
  no build of them or of tokenizer_suite starts a Spark job.
"""

from __future__ import annotations

import math
import shutil
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cc_mapreducer_spark import memo, registry
from cc_mapreducer_spark.operators.dedup import simhash_near_pairs
from cc_mapreducer_spark.operators.quality_lm import LAM, lm_doc_scores
from cc_mapreducer_spark.operators.search import tfidf_doc_keywords
from cc_mapreducer_spark.tables import TABLE_NAMES, load_table

SF_SMOKE = "/root/testdata/sf0.001"


def _clear_memo(spark):
    spark.catalog.clearCache()
    memo._ENTRIES.clear()


@pytest.fixture(autouse=True)
def _fresh_memo(spark):
    # a test here persists whole source scans; leaving them cached would
    # change the physical plans later test modules assert on
    _clear_memo(spark)
    yield
    _clear_memo(spark)


def _persistent_rdds(spark) -> int:
    """Persistent RDDs, less the localCheckpoint ones: iterative operators
    truncate lineage with those on every call, outside the memo."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return sum(1 for r in rdds if not r.rdd().isLocallyCheckpointed())


def _py_ppl(texts: dict[int, str], lam: float = LAM) -> dict[int, float]:
    """Reference interpolated-bigram ppl (same math as the operator)."""
    toks = {d: t.lower().split() for d, t in texts.items()}
    uni = Counter(w for ws in toks.values() for w in ws)
    bi = Counter(
        (ws[i - 1], ws[i]) for ws in toks.values() for i in range(1, len(ws))
    )
    n_total, n_vocab = sum(uni.values()), len(uni)
    out = {}
    for d, ws in toks.items():
        if not ws:
            continue
        lp = 0.0
        for i, w in enumerate(ws):
            pu = (uni[w] + 1) / (n_total + n_vocab + 1)
            if i == 0:
                p = pu
            else:
                cb = bi.get((ws[i - 1], w), 0)
                pb = cb / uni[ws[i - 1]] if cb else 0.0
                p = lam * pb + (1 - lam) * pu
            lp += math.log(p)
        out[d] = math.exp(-(lp / len(ws)))
    return out


def test_lm_memo_distinguishes_in_memory_corpora(spark):
    """ADVICE r11 high: corpus B scored after corpus A must be scored
    against B's OWN model, not A's cached one."""
    a_texts = {1: "the cat sat on the mat", 2: "the dog sat on the rug"}
    b_texts = {1: "zulu yankee xray walrus", 2: "zulu zulu zulu zulu"}
    mk = lambda t: spark.createDataFrame(  # noqa: E731
        list(t.items()), "doc_id long, text string"
    )
    lm_doc_scores(mk(a_texts)).collect()  # primes the memo with A's model
    got_b = {r["doc_id"]: r["ppl"] for r in lm_doc_scores(mk(b_texts)).collect()}
    ref_b = _py_ppl(b_texts)
    for d, ppl in ref_b.items():
        assert abs(got_b[d] - ppl) < 1e-9, (
            f"doc {d}: scored {got_b[d]} vs self-trained {ppl} — "
            "B was scored against a stale cached model"
        )


def test_two_corpora_coexist_without_thrash(spark):
    """ADVICE r11 low: alternating corpora must occupy separate memo
    entries (same persisted frame served again), not rebuild one."""
    a = spark.createDataFrame([(1, "aa bb aa bb")], "doc_id long, text string")
    b = spark.createDataFrame([(1, "cc dd cc dd")], "doc_id long, text string")
    lm_doc_scores(a).collect()
    lm_doc_scores(b).collect()
    entries = dict(memo._ENTRIES)
    assert len(entries) == 4  # uni + bi per corpus
    lm_doc_scores(a).collect()  # must hit, not evict B's entries
    assert list(memo._ENTRIES) != list(entries), "A's entries were not touched"
    assert set(memo._ENTRIES) == set(entries)
    for k, (_, df) in entries.items():
        assert memo._ENTRIES[k][1] is df, f"entry {k} was rebuilt"


def test_memo_misses_on_source_overwrite(spark, tmp_path):
    """VERDICT r11 item 9: overwriting a source table in-session must
    miss the memo (new file listing -> rebuild), never serve the old
    rows."""
    path = str(tmp_path / "documents.parquet")
    spark.read.parquet(f"{SF_SMOKE}/documents.parquet").write.parquet(path)

    def count_frame():
        return spark.read.parquet(path).groupBy().agg(F.count("*").alias("n"))

    r1 = memo.persisted(count_frame())
    assert r1.collect()[0]["n"] == 500
    # an equal plan -> hit, no rebuild
    assert memo.persisted(count_frame()) is r1
    # overwrite the table in-session: fewer rows, new part files
    sub = spark.read.parquet(path).limit(3)
    sub.write.mode("overwrite").parquet(str(tmp_path / "tmp_out"))
    shutil.rmtree(path)
    shutil.copytree(tmp_path / "tmp_out", path)
    r2 = memo.persisted(count_frame())
    assert r2 is not r1, "memo served a stale frame after overwrite"
    assert r2.collect()[0]["n"] == 3


def test_frame_identity_separates_same_file_transforms(spark):
    """Two frames over the SAME files but different plans (the other
    collision a file listing cannot see) must get different entries."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    assert memo._source_files(docs) == memo._source_files(half)
    p_docs, p_half = memo.persisted(docs), memo.persisted(half)
    assert p_docs is not p_half
    assert (p_docs.count(), p_half.count()) == (500, 250)


def test_in_place_overwrite_misses(spark, tmp_path):
    """A source rewritten in place under the SAME file name keeps the
    file listing; the (path, mtime_ns, size) signature must still miss,
    both for a memo entry and for an equal plan's CacheManager entry."""
    shutil.copyfile(
        f"{SF_SMOKE}/documents.parquet", tmp_path / "documents.parquet"
    )
    sf = str(tmp_path)

    def run():
        kw = tfidf_doc_keywords(spark, sf).select("doc_id").distinct().count()
        return kw, simhash_near_pairs(spark, sf).count()

    before = run()
    table = pq.read_table(tmp_path / "documents.parquet").slice(0, 5)
    pq.write_table(table, tmp_path / "documents.parquet")
    after = run()
    _clear_memo(spark)
    fresh = run()
    assert fresh[0] == 5 and before != fresh
    assert after == fresh, f"stale after overwrite: {after} vs fresh {fresh}"


def test_store_is_bounded(spark, monkeypatch):
    """ADVICE r12 #1: a long session sweeping many corpora keeps at most
    _MAX_ENTRIES entries, and an evicted frame leaves the cache. The cap
    is lowered so the sweep stays short; the rule does not depend on it."""
    cap = 8
    monkeypatch.setattr(memo, "_MAX_ENTRIES", cap)
    n_rdds = _persistent_rdds(spark)
    for i in range(cap + 2):
        docs = spark.createDataFrame(
            [(1, f"w{i} x y w{i}")], "doc_id long, text string"
        )
        lm_doc_scores(docs).collect()  # persists two frames per corpus
    assert len(memo._ENTRIES) == cap
    assert _persistent_rdds(spark) - n_rdds <= cap


# Every registered query whose first call at sf0.01 looks up a frame or
# a trained artifact in the memo. The scan-width entries of
# tables.spread(), which most queries reach, hold no cached data. Suite
# keys are left out: each reaches the store only through single queries
# listed here, and the three largest would add ~2 minutes.
_STORE_QUERIES = [
    "ann_recall_digest",
    "canonical_docs",
    "classifier_eval_metrics",
    "cms_word_counts",
    "collocations_top",
    "contrastive_negatives",
    "corpus_to_readers",
    "crawl_e2e_funnel",
    "dsir_selected_docs",
    "duplicate_clusters",
    "event_resample_locf",
    "image_dhash_fingerprint",
    "image_dup_clusters",
    "image_near_dup_pairs",
    "leakage_safe_split",
    "lm_perplexity",
    "near_dedup_pairs",
    "near_dup_embeddings",
    "simhash_near_pairs",
    "similarity_topk_ivfpq",
    "similarity_topk_signlsh",
    "streaming_enriched_events",
    "streaming_sessionize_watermarked",
    "streaming_stateful_user_totals",
    "streaming_windows",
    "tfidf_doc_keywords",
    "unigram_token_stats",
    "wordpiece_token_stats",
]


@pytest.mark.parametrize("name", _STORE_QUERIES)
def test_second_call_reuses_the_store(spark, name):
    q = registry.all_queries()[name]
    first = sorted(str(tuple(r)) for r in q(spark, SF_SMOKE).collect())
    n_rdds = _persistent_rdds(spark)
    second = sorted(str(tuple(r)) for r in q(spark, SF_SMOKE).collect())
    assert _persistent_rdds(spark) == n_rdds, "second call persisted again"
    assert second == first


def _jobs_started(spark, fn) -> int:
    """Spark jobs ``fn()`` starts, counted in a job group of its own
    (the status store's job list is capped by spark.ui.retainedJobs)."""
    sc = spark.sparkContext
    group = f"memo-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "memo test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# The queries of the benchmark's catalog workload (perfbench/workloads.py).
_CATALOG_QUERIES = (
    "q3_shipping_priority",
    "window_rank_topn",
    "event_sessionize",
    "warc_segment_reassembly",
    "image_near_dup_pairs",
)


# The tokenizer queries that train a model on their first build.
_TOKENIZER_SINGLES = (
    "bpe_token_stats",
    "byte_bpe_token_stats",
    "wordpiece_token_stats",
    "unigram_token_stats",
)


def test_second_build_starts_no_job(spark):
    """Schema inference reads parquet footers in a Spark job; it runs
    once per file, not once per load_table or query build. A tokenizer
    model trains once per corpus: tokenizer_suite built after the four
    tokenizer singles trains nothing, and no rebuild trains again."""
    def load_all():
        for name in TABLE_NAMES:
            load_table(spark, SF_SMOKE, name)

    assert _jobs_started(spark, load_all) > 0  # the counter sees inference
    assert _jobs_started(spark, load_all) == 0
    queries = registry.all_queries()
    for name in _CATALOG_QUERIES + _TOKENIZER_SINGLES:
        queries[name](spark, SF_SMOKE)
    suite = lambda: queries["tokenizer_suite"](spark, SF_SMOKE)  # noqa: E731
    assert _jobs_started(spark, suite) == 0, "tokenizer_suite"
    for name in _CATALOG_QUERIES + _TOKENIZER_SINGLES + ("tokenizer_suite",):
        assert _jobs_started(spark, lambda: queries[name](spark, SF_SMOKE)) == 0, name


def test_rewritten_table_shows_its_new_schema(spark, tmp_path):
    """A table rewritten in place under its old name with one more
    column must not be read with the memoized old schema."""
    table = pq.read_table(f"{SF_SMOKE}/region.parquet")
    path = tmp_path / "region.parquet"
    pq.write_table(table, path)
    assert "extra" not in load_table(spark, str(tmp_path), "region").columns
    pq.write_table(table.append_column("extra", pa.array(range(table.num_rows))), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == table.column_names + ["extra"]
    assert sorted(r.extra for r in df.collect()) == list(range(table.num_rows))
