"""Unit/property tests for the LLM-pipeline extension operators (M4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cc_mapreducer_spark import registry
from cc_mapreducer_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    media_table,
    multimodal_decode_features,
    multimodal_frame_sample,
)
from cc_mapreducer_spark.operators.dedup import near_dedup_minhash, shingle_sets
from tests.conftest import SF_ORACLE, SF_SMOKE

Q = registry.all_queries()


def test_minhash_lsh_recall_on_planted_dups(spark):
    """Two near-identical planted docs must survive LSH banding and the
    Jaccard>=0.2 verify; an unrelated doc must not pair with them."""
    base = "the quick brown fox jumps over the lazy dog again and again every single day"
    rows = [
        (1, base),
        (2, base + " tonight"),  # ~90% shingle overlap
        (3, "completely different content about spark catalyst tungsten optimizer internals"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    docs.createOrReplaceTempView("__planted")
    # run the same pipeline as near_dedup_minhash but on the planted docs
    from cc_mapreducer_spark.operators import dedup as D

    sets = (
        docs.select("doc_id", F.expr(D._SPARK_TOKS).alias("t"))
        .select("doc_id", F.array_distinct(F.expr(D._SPARK_SHINGLES)).alias("ss"))
        .filter(F.size("ss") > 0)
    )
    sh = sets.select("doc_id", F.explode("ss").alias("s"))
    mh = sh.groupBy("doc_id").agg(
        *[F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"m{i}") for i in range(D._K)]
    )
    bands = mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat(*[F.col(f"m{r}") for r in rows]).alias("sig"),
                    )
                    for bi, rows in enumerate(D._BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .collect()
    )
    pairs = {(r.doc_a, r.doc_b) for r in cand}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_exact_dedup_finds_planted_copies(spark):
    rows = [(1, "same text"), (2, "same text"), (3, "other text")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = (
        docs.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min("doc_id").alias("keep"), F.count("*").alias("n"))
        .collect()
    )
    by_n = sorted((r.n, r.keep) for r in out)
    assert by_n == [(1, 3), (2, 1)]


def test_multimodal_payload_roundtrip(spark):
    """Payload bytes must arrive intact through the binary column."""
    m = media_table(spark, SF_SMOKE).filter(F.col("doc_id") == 0)
    row = m.collect()[0]
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter("doc_id = 0").collect()[0]
    assert bytes(row.payload).decode("utf-8") == docs.text
    assert row.byte_len == len(docs.text.encode("utf-8"))


def test_multimodal_decode_stub_schema_and_determinism(spark):
    df = multimodal_decode_features(spark, SF_SMOKE)
    assert df.schema == FEATURE_SCHEMA
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, multimodal_decode_features(spark, SF_SMOKE).collect()))
    assert a == b and len(a) > 0
    widths = {r[3] for r in a}
    assert all(1 <= w <= 1024 for w in widths)


def test_streaming_session_subset_of_batch(spark):
    """Append-mode watermarked sessions must be a subset of the batch
    sessionization (watermark holds back tail sessions, never invents)."""
    stream_rows = {
        (r.user_id, r.session_start, r.n_events)
        for r in Q["streaming_sessionize_watermarked"](spark, SF_SMOKE).collect()
    }
    batch_rows = {
        (r.user_id, r.session_start, r.n_events)
        for r in Q["event_sessionize"](spark, SF_SMOKE)
        .select("user_id", "session_start", "n_events")
        .collect()
    }
    assert stream_rows <= batch_rows


def test_similarity_self_excluded_and_k(spark):
    rows = Q["similarity_topk_bruteforce"](spark, SF_SMOKE).collect()
    assert all(r.vec_id != r.query_id for r in rows)
    from collections import Counter

    per_q = Counter(r.query_id for r in rows)
    assert all(v == 10 for v in per_q.values()) and len(per_q) == 5


def test_signlsh_results_subset_of_bruteforce_space(spark):
    """ANN results must come from the query's own sign bucket and carry
    exact cosine values (spot check one query against brute force)."""
    brute = {
        (r.query_id, r.vec_id): r.cosine
        for r in Q["similarity_topk_bruteforce"](spark, SF_SMOKE).collect()
    }
    ann = Q["similarity_topk_signlsh"](spark, SF_SMOKE).collect()
    for r in ann:
        if (r.query_id, r.vec_id) in brute:
            assert abs(brute[(r.query_id, r.vec_id)] - r.cosine) == 0.0


def test_shingle_sets_shape(spark):
    sets = shingle_sets(spark, SF_SMOKE).collect()
    assert all(len(r.ss) == len(set(r.ss)) for r in sets)  # distinct
    assert all(all(len(s.split(" ")) == 3 for s in r.ss) for r in sets if r.ss)


def test_multimodal_resize_stub(spark):
    from cc_mapreducer_spark.operators.multimodal import RESIZE_SCHEMA, media_table, resize_stub

    m = media_table(spark, SF_SMOKE)
    out = m.mapInPandas(resize_stub(224, 224), RESIZE_SCHEMA)
    rows = out.collect()
    assert len(rows) == m.count()
    assert all(r.target_w == 224 and r.target_h == 224 for r in rows)
    # deterministic across runs
    again = m.mapInPandas(resize_stub(224, 224), RESIZE_SCHEMA).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_multimodal_frame_sample_stub(spark):
    from cc_mapreducer_spark import registry as R

    out = multimodal_frame_sample(spark, SF_SMOKE)
    rows = out.collect()
    from collections import Counter

    per_doc = Counter(r.doc_id for r in rows)
    assert len(per_doc) > 0
    assert all(v == 4 for v in per_doc.values())  # 4 frames per video
    assert all(d % 3 == 2 for d in per_doc)  # only video/mp4 payloads


def test_faithful_vs_sane_tokenizer_divergence(spark):
    """On apostrophe-bearing text the two modes diverge exactly as the
    reference's bug does; on the driver's corpus they agree."""
    from pyspark.sql import functions as F

    from cc_mapreducer_spark.functions.text import faithful_tokens, tokens

    docs = spark.createDataFrame([(1, "don't stop, can't won't")], ["doc_id", "text"])
    sane = docs.select(F.explode(tokens(F.col("text"))).alias("w")).filter(
        F.length("w") > 1
    )
    faithful = docs.select(
        F.explode(faithful_tokens(F.col("text"))).alias("w")
    ).filter(F.length("w") > 1)
    assert sorted(r.w for r in sane.collect()) == ["can", "don", "stop", "won"]
    assert sorted(r.w for r in faithful.collect()) == ["can", "dont", "stop", "won"]


def test_fastss_blocking_is_complete_for_distance_one(spark, tmp_path):
    """Every edit-distance-1 relation (substitution, insertion,
    deletion) must survive deletion-neighborhood blocking — planted
    pairs, exact expectations."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cc_mapreducer_spark.operators.dedup import fuzzy_word_pairs

    # cat~bat (substitution), cat~cart (insertion), cart~art via the
    # derived first-char-drop of cart; frog is isolated
    texts = ["cat bat", "cart frog"]
    t = pa.table(
        {
            "doc_id": pa.array(range(2), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * 2),
            "source": pa.array(["t"] * 2),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    pq.write_table(t, f"{tmp_path}/documents.parquet")
    got = {
        (r["word_a"], r["word_b"]): r["dist"]
        for r in fuzzy_word_pairs(spark, str(tmp_path)).collect()
    }
    assert got[("bat", "cat")] == 1          # substitution
    assert got[("cart", "cat")] == 1         # deletion of the middle char
    assert got[("art", "cart")] == 1         # vs the derived 'art' (insertion)
    assert ("art", "cat") not in got         # distance 2: must NOT pair
    # an isolated word pairs ONLY with its own derived drop-first form
    assert got[("frog", "rog")] == 1
    assert sum(1 for p in got if "frog" in p) == 1


def test_ordered_funnel_strict_ordering_semantics(spark, tmp_path):
    from cc_mapreducer_spark.operators.sessionize import ordered_funnel
    from pyspark.sql import functions as F

    rows = [
        # user 1: full funnel in order with noise between steps
        (1, "2024-01-01 00:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 00:01:00", 1, "error", 0.0, "{}"),
        (3, "2024-01-01 00:02:00", 1, "click", 0.0, "{}"),
        (4, "2024-01-01 00:03:00", 1, "purchase", 0.0, "{}"),
        # user 2: purchase BEFORE view/click: order violated, stage 2
        (5, "2024-01-01 00:00:00", 2, "purchase", 0.0, "{}"),
        (6, "2024-01-01 00:01:00", 2, "view", 0.0, "{}"),
        (7, "2024-01-01 00:02:00", 2, "click", 0.0, "{}"),
        # user 3: view only
        (8, "2024-01-01 00:00:00", 3, "view", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    got = {
        r["user_id"]: (r["funnel_stage"], r["converted"])
        for r in ordered_funnel(spark, str(tmp_path)).collect()
    }
    assert got[1] == (3, True)    # completed despite interleaved noise
    assert got[2] == (2, False)   # early purchase doesn't count
    assert got[3] == (1, False)


def test_approx_distinct_error_bound(spark):
    from cc_mapreducer_spark import registry

    rows = registry.all_queries()["approx_distinct_users"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r.exact_users > 0
        assert r.within_bound  # |approx - exact| / exact <= 0.05, in-query


def test_exact_dedup_idempotent(spark):
    """Deduplicating a deduplicated corpus changes nothing."""
    once = Q["exact_dedup"](spark, SF_SMOKE)
    kept = once.count()
    # re-dedup over the surviving (content_sha) set: every group is size 1
    again = once.groupBy("content_sha").count().filter(F.col("count") > 1).count()
    assert again == 0 and kept > 0


def test_sessionize_conservation(spark):
    """Session event counts must sum to the table's row count, and every
    session duration fits inside the observed time range."""
    sessions = Q["event_sessionize"](spark, SF_SMOKE)
    total = sessions.agg(F.sum("n_events")).first()[0]
    # through the tolerant reader: a bare spark.read.parquet fails on a
    # round-1 INT64-nanos file unless an earlier test set nanosAsLong
    from cc_mapreducer_spark.tables import load_table

    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert total == n_events
    max_dur = sessions.agg(F.max("duration_us")).first()[0]
    assert max_dur >= 0


def test_minhash_pairs_are_symmetric_free(spark):
    """Candidate pairs are emitted once (doc_a < doc_b), never mirrored."""
    pairs = near_dedup_minhash(spark, SF_SMOKE).collect()
    seen = {(r.doc_a, r.doc_b) for r in pairs}
    assert all(a < b for a, b in seen)
    assert all((b, a) not in seen for a, b in seen)
    assert all(0.0 <= r.jaccard <= 1.0 for r in pairs)
