"""Sources (§2.1 source_list/source_read) and sinks (sink_stage/
sink_concat) — driven end-to-end through real files."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cc_mapreducer_spark import registry
from cc_mapreducer_spark.sources import read_text_corpus, read_wholetext_corpus
from cc_mapreducer_spark.sources.sinks import write_concat_text, write_stage
from tests.conftest import SF_SMOKE


def _make_corpus(tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("Listen silent\nenlist")
    (d / "b.txt").write_text("dog god")
    return str(d)


def test_read_text_corpus_line_granular(spark, tmp_path):
    path = _make_corpus(tmp_path)
    df = read_text_corpus(spark, f"{path}/*.txt")
    rows = df.collect()
    assert len(rows) == 3  # 2 lines + 1 line
    assert all(r.file.endswith(".txt") for r in rows)


def test_read_wholetext_corpus_one_row_per_file(spark, tmp_path):
    path = _make_corpus(tmp_path)
    df = read_wholetext_corpus(spark, f"{path}/*.txt")
    rows = {os.path.basename(r.file): r.value for r in df.collect()}
    assert rows["a.txt"] == "Listen silent\nenlist"
    assert rows["b.txt"] == "dog god"


def test_anagram_pipeline_over_file_corpus(spark, tmp_path):
    """The reference's actual input contract: *.txt files in, one text
    file of `sig: { members }` lines out (D1 -> D4 through real files)."""
    from cc_mapreducer_spark.operators.anagram import (
        op_filter_minlen,
        op_filter_stopwords,
        op_group_anagrams,
        op_map_signature,
        op_tokenize,
    )

    path = _make_corpus(tmp_path)
    docs = read_text_corpus(spark, f"{path}/*.txt").select(F.col("value").alias("text"))
    groups = op_group_anagrams(
        op_map_signature(op_filter_stopwords(op_filter_minlen(op_tokenize(docs))))
    )
    lines = groups.select(
        F.format_string("%s: { %s }", "signature", F.array_join("words", ", ")).alias("line")
    )
    out = str(tmp_path / "out")
    part = write_concat_text(lines, "line", out)
    content = sorted(open(part).read().strip().split("\n"))
    assert content == ["dgo: { dog, god }", "eilnst: { enlist, listen, silent }"]


def test_write_stage_roundtrip(spark, tmp_path):
    from cc_mapreducer_spark.operators.anagram import q_tokenize_wordcount as q
    df = q(spark, SF_SMOKE)
    out = str(tmp_path / "stage")
    write_stage(df, out)
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_write_stage_partitioned(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], ["id", "k"])
    out = str(tmp_path / "part")
    write_stage(df, out, partition_by=["k"])
    assert os.path.isdir(os.path.join(out, "k=a"))
    back = spark.read.parquet(out)
    assert back.count() == 3


def test_write_concat_text_preserves_null_rows(spark, tmp_path):
    """NULL column values must still produce a line (empty), keeping the
    one-line-per-row contract — the text writer silently omits null rows."""
    from cc_mapreducer_spark.sources.sinks import write_concat_text

    df = spark.createDataFrame([("a",), (None,), ("b",)], "v string")
    part = write_concat_text(df, "v", str(tmp_path / "out"))
    with open(part) as f:
        lines = f.read().splitlines()
    assert sorted(lines) == ["", "a", "b"]


def test_events_nanos_fallback_scopes_conf(spark, tmp_path):
    """A round-1 style INT64-nanos events file must read through the
    tolerant fallback (nanosAsLong applied only AFTER the plain read
    fails), normalize to correct micros wall-clock values, and leave
    micros files readable in the same session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cc_mapreducer_spark.tables import load_table

    base_ns = 1_700_000_000_000_000_000
    ts = pa.array([base_ns + i * 1_000_000_000 for i in range(10)], pa.timestamp("ns"))
    t = pa.table(
        {
            "event_id": pa.array(range(10), pa.int64()),
            "user_id": pa.array([1] * 10, pa.int64()),
            "event_type": pa.array(["view"] * 10),
            "value": pa.array([1.0] * 10),
            "ts": ts,
        }
    )
    # store_schema=False drops the Arrow schema blob so Spark sees only
    # the raw physical INT64 TIMESTAMP(NANOS) type, like the r1 driver files
    pq.write_table(t, str(tmp_path / "events.parquet"), store_schema=False)
    try:
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        # format engine-side: collect() renders via the HOST timezone, so a
        # str(ts) comparison would break on non-UTC developer machines
        first = df.orderBy("event_id").select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")
        ).first()
        assert first.s == "2023-11-14 22:13:20"  # exact nanos->micros wall clock
        assert df.count() == 10
        # and a micros file still reads fine in the same session
        micros = load_table(spark, "/root/testdata/sf0.001", "events")
        assert dict(micros.dtypes)["ts"] == "timestamp"
    finally:
        # the fallback legitimately leaves the conf set; don't let that
        # state leak into unrelated tests
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")


def test_events_nanos_fallback_reruns_after_unset(spark, tmp_path):
    """The schema memo must not outlive the conf it was inferred under:
    once nanosAsLong is unset again, the next read of a nanos file runs
    the fallback again (the conf is set again) instead of serving the
    memoized bigint schema to a reader that rejects the nanos type."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cc_mapreducer_spark.tables import load_table

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    ts = pa.array([1_700_000_000_000_000_000 + i for i in range(3)], pa.timestamp("ns"))
    t = pa.table({"event_id": pa.array(range(3), pa.int64()), "ts": ts})
    pq.write_table(t, str(tmp_path / "events.parquet"), store_schema=False)
    try:
        load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(conf) == "true"
        spark.conf.unset(conf)
        df = load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(conf, None) == "true", "memoized schema served without the fallback"
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.count() == 3
    finally:
        spark.conf.unset(conf)
