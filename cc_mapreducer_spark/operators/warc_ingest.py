"""WARC-native acquisition: parse real crawl containers into records and
feed them through the proven acquisition chain.

A web-scale corpus does not arrive as parquet — Common Crawl (the
canonical 100 TB+ text source) publishes WARC (ISO 28500), so the real
first stage of the pipeline is "WARC bytes -> response records". This
module runs that stage against spec-shaped container bytes built
deterministically from the documents table (functions/warc.py), in
mapInPandas over Arrow batches — decode rides the scan, zero shuffle,
the same plumbing shape as the multimodal decode stack.

Registered queries, all oracle-backed:

  warc_response_stats    container geometry + payload pinning: per
                         response record the target URI, HTTP status,
                         body byte length, the full block length, and
                         the md5-48 of the body. The DuckDB oracle
                         derives every value in closed form from the
                         same fixture strings — so the hash proves the
                         bytes written into the container came back out
                         exactly, through plain AND per-record-gzipped
                         (.warc.gz member resync) records, past planted
                         non-response records the filter must skip.
  warc_acquisition_chain the end-to-end crawl path: WARC bytes ->
                         response records -> strip_html(body) ->
                         canonicalize_url(target URI) -> token profile.
                         Its oracle IS the batch chain's oracle
                         (acquisition._CHAIN_DOC_SQL, unchanged): the
                         container round trip must be a semantic no-op,
                         and the shared oracle pins exactly that.
  warc_revisit_resolution (round 8) revisit records — Common Crawl's
                         native dedup mechanism — resolved to the
                         captures that hold their bytes by a payload-
                         digest join; the closed-form oracle re-derives
                         digest, geometry, and savings per revisit.
  wet_export_roundtrip   (round 8) the OUTPUT container: clean text
                         written as member-gzipped WET `conversion`
                         records (warcinfo header first) and parsed
                         back, byte geometry + content hash pinned in
                         closed form.
  warc_segment_reassembly (round 8) segmented records put back together
                         the only way distributed reassembly can work —
                         a keyed shuffle on WARC-Segment-Origin-ID with
                         JVM-side byte concat — plus chunked
                         transfer-encoding decode, across four planted
                         wire shapes with closed-form geometry oracles.

doc_id is parsed back out of the WARC-Target-URI ('page-N'), never
passed through — a wrong/missing record would surface as a missing or
mismatched row, not silently heal.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cc_mapreducer_spark.functions.warc import (
    build_http_response,
    build_http_response_chunked,
    build_revisit_record,
    build_warc,
    build_warc_record,
    parse_http_response,
    parse_warc,
    payload_digest,
    segment_record,
)
from cc_mapreducer_spark.operators.acquisition import (
    _CHAIN_DOC_SQL,
    _HTML_FIXTURE_SQL,
    _URL_FIXTURE_SQL,
    canonicalize_url,
    strip_html,
)
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

_WARC_DATE = "2026-01-01T00:00:00Z"  # fixed: fixture bytes must be stable


_REVISIT_DATE = "2026-02-01T00:00:00Z"  # the later re-crawl's timestamp


def _records_for_doc(doc_id: int, uri: str, html: str) -> bytes:
    """The WARC blob a crawler would have written for this fetch: the
    response record, preceded every 7th doc by a `request` record the
    response filter must skip; every (7k+3)th doc is FOLLOWED by a
    `revisit` record (round 8) — the later re-crawl whose payload
    matched, stored headers-only with the payload digest per the
    identical-payload-digest profile; every 3rd doc's blob is
    per-record gzipped (the .warc.gz member layout)."""
    body = html.encode("utf-8")
    recs = []
    if doc_id % 7 == 0:
        req = (
            f"GET {uri} HTTP/1.1\r\nHost: crawler\r\n\r\n".encode("utf-8")
        )
        recs.append(
            build_warc_record(
                "request",
                uri,
                _WARC_DATE,
                req,
                f"<urn:req:{doc_id}>",
                content_type="application/http;msgtype=request",
            )
        )
    recs.append(
        build_warc_record(
            "response",
            uri,
            _WARC_DATE,
            build_http_response(body),
            f"<urn:resp:{doc_id}>",
        )
    )
    if doc_id % 7 == 3:
        recs.append(
            build_revisit_record(
                uri,
                _REVISIT_DATE,
                payload_digest(body),
                f"<urn:revisit:{doc_id}>",
                refers_to_uri=uri,
                refers_to_date=_WARC_DATE,
            )
        )
    return build_warc(recs, gzip_per_record=(doc_id % 3 == 0))


RECORD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("target_uri", StringType()),
        StructField("http_status", IntegerType()),
        StructField("content_len", LongType()),
        StructField("block_len", LongType()),
        StructField("body_h", LongType()),
        StructField("body", StringType()),
    ]
)


def _roundtrip_records(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        if not len(pdf):
            continue
        rows = {k.name: [] for k in RECORD_SCHEMA.fields}
        for html, uri, doc_id in zip(pdf["html"], pdf["url"], pdf["doc_id"]):
            blob = _records_for_doc(int(doc_id), uri, html)
            for rec in parse_warc(blob):
                if rec["type"] != "response":
                    continue  # request/warcinfo records are not content
                status, _, body = parse_http_response(rec["block"])
                m = re.search(r"page-(\d+)", rec["target_uri"] or "")
                rows["doc_id"].append(int(m.group(1)) if m else None)
                rows["target_uri"].append(rec["target_uri"])
                rows["http_status"].append(status)
                rows["content_len"].append(len(body))
                rows["block_len"].append(rec["content_length"])
                rows["body_h"].append(
                    int(hashlib.md5(body).hexdigest()[:12], 16)
                )
                rows["body"].append(body.decode("utf-8"))
        yield pd.DataFrame(rows)


def warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture WARC blobs built and parsed back per Arrow batch; one row
    per RESPONSE record with the payload and its geometry."""
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr(_HTML_FIXTURE_SQL).alias("html"),
        F.expr(_URL_FIXTURE_SQL).alias("url"),
    )
    return docs.mapInPandas(_roundtrip_records, RECORD_SCHEMA)


# The oracle derives every output in closed form from the same fixture
# strings. block_len: the HTTP message is
#   'HTTP/1.1 200 OK\r\n'            17 bytes
#   'Content-Type: text/html\r\n'    25 bytes
#   'Content-Length: ' + digits + CRLF  16 + len(digits) + 2
#   CRLF                              2
# + the body itself (documents text is ASCII, so length() = bytes).
_WARC_STATS_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_HTML_FIXTURE_SQL} AS html, {_URL_FIXTURE_SQL} AS url
    FROM documents
)
SELECT doc_id,
       url AS target_uri,
       CAST(200 AS INT) AS http_status,
       CAST(length(html) AS BIGINT) AS content_len,
       CAST(62 + length(CAST(length(html) AS VARCHAR)) + length(html)
            AS BIGINT) AS block_len,
       CAST(('0x' || substr(md5(html), 1, 12))::BIGINT AS BIGINT) AS body_h
FROM raw
"""


@register("warc_response_stats", oracle=_WARC_STATS_SQL, driver=False)
def warc_response_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-response-record WARC round-trip witnesses: URI, status, body
    and block byte geometry, md5-48 of the body — each value derived in
    closed form by the DuckDB oracle from the same fixture strings, so
    the hash proves byte-exact container round trip through plain and
    member-gzipped records, skipping the planted request records."""
    return warc_records(spark, sf_dir).select(
        "doc_id",
        "target_uri",
        "http_status",
        "content_len",
        "block_len",
        "body_h",
    )


@register("warc_acquisition_chain", oracle=_CHAIN_DOC_SQL, driver=False)
def warc_acquisition_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl-to-corpus path: WARC bytes -> response records ->
    strip_html(body) -> canonicalize_url(target URI) -> token profile.
    Oracle: the batch chain's own SQL (acquisition_chain_profile),
    UNCHANGED — the container round trip must be a semantic no-op, and
    sharing the oracle pins exactly that equivalence."""
    recs = warc_records(spark, sf_dir).select(
        "doc_id", F.col("body").alias("html"), F.col("target_uri").alias("url")
    )
    cleaned = canonicalize_url(strip_html(recs, "html"), "url")
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


# --------------------------------------------------------------------------
# revisit-aware ingest (round 8): Common Crawl's native dedup signal
# --------------------------------------------------------------------------

_DIGEST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("target_uri", StringType()),
        StructField("digest", StringType()),
        StructField("block_len", LongType()),
        StructField("content_len", LongType()),
    ]
)


def _digest_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from cc_mapreducer_spark.functions.warc import payload_digest as _pd

    for pdf in batches:
        if not len(pdf):
            continue
        rows = {k.name: [] for k in _DIGEST_SCHEMA.fields}

        def emit(doc_id, kind, uri, digest, block_len, content_len):
            rows["doc_id"].append(doc_id)
            rows["kind"].append(kind)
            rows["target_uri"].append(uri)
            rows["digest"].append(digest)
            rows["block_len"].append(block_len)
            rows["content_len"].append(content_len)

        for html, uri, doc_id in zip(pdf["html"], pdf["url"], pdf["doc_id"]):
            blob = _records_for_doc(int(doc_id), uri, html)
            for rec in parse_warc(blob):
                m = re.search(r"page-(\d+)", rec["target_uri"] or "")
                rid = int(m.group(1)) if m else None
                if rec["type"] == "response":
                    _, _, body = parse_http_response(rec["block"])
                    emit(
                        rid, "response", rec["target_uri"], _pd(body),
                        rec["content_length"], len(body),
                    )
                elif rec["type"] == "revisit":
                    # headers-only block: the digest is a WARC header,
                    # never recomputed (there is no payload to hash)
                    emit(
                        rid, "revisit", rec["target_uri"],
                        rec["payload_digest"], rec["content_length"], 0,
                    )
        yield pd.DataFrame(rows)


def warc_record_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, kind, target_uri, digest, block_len, content_len) for
    every response AND revisit record: responses carry the sha256 of
    their actual parsed payload, revisits carry the digest their WARC
    header claims."""
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr(_HTML_FIXTURE_SQL).alias("html"),
        F.expr(_URL_FIXTURE_SQL).alias("url"),
    )
    return docs.mapInPandas(_digest_rows, _DIGEST_SCHEMA)


# Closed-form oracle: revisits are planted on doc_id % 7 = 3; the
# digest is sha256 of the html fixture (DuckDB's sha256(VARCHAR) hashes
# the UTF-8 bytes — identical to hashing the response body); the
# headers-only block is the 63-byte empty-body HTTP message (62 +
# len('0')); saved_bytes is the original capture's payload length the
# revisit did not re-store. The oracle never parses a container — it
# re-derives what the Spark side must EARN by building, parsing, and
# digest-joining real WARC bytes.
_REVISIT_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_HTML_FIXTURE_SQL} AS html, {_URL_FIXTURE_SQL} AS url
    FROM documents
)
SELECT doc_id,
       url AS target_uri,
       'sha256:' || sha256(html) AS digest,
       doc_id AS resolved_doc,
       CAST(63 AS BIGINT) AS revisit_block_len,
       CAST(length(html) AS BIGINT) AS saved_bytes
FROM raw WHERE doc_id % 7 = 3
"""


@register("warc_revisit_resolution", oracle=_REVISIT_SQL, driver=False)
def warc_revisit_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve every revisit record to the capture that holds its bytes
    — the ingest step that turns Common Crawl's native dedup mechanism
    into storage savings: revisits join prior responses on the payload
    digest (near-unique sha256 shuffle keys; the revisit side is the
    small one), keeping the earliest capture as the resolution target.
    A revisit whose claimed digest matches no stored payload would drop
    out of the join and fail the driver's row/hash check; a digest
    mismatch between the WARC header and the actual parsed body bytes
    does the same. Output per revisit: its doc, URI, digest, the
    resolved capture, the headers-only bytes it stored, and the payload
    bytes it saved."""
    recs = warc_record_digests(spark, sf_dir).localCheckpoint()
    revisits = recs.filter(F.col("kind") == "revisit").select(
        "doc_id", "target_uri", "digest",
        F.col("block_len").alias("revisit_block_len"),
    )
    responses = recs.filter(F.col("kind") == "response").select(
        F.col("doc_id").alias("resp_doc"),
        F.col("digest").alias("resp_digest"),
        F.col("content_len").alias("resp_bytes"),
    )
    return (
        revisits.join(responses, revisits["digest"] == responses["resp_digest"])
        .groupBy("doc_id", "target_uri", "digest", "revisit_block_len")
        .agg(
            F.min("resp_doc").cast("long").alias("resolved_doc"),
            F.min("resp_bytes").cast("long").alias("saved_bytes"),
        )
        .select(
            "doc_id", "target_uri", "digest", "resolved_doc",
            "revisit_block_len", "saved_bytes",
        )
    )


# --------------------------------------------------------------------------
# WET export (round 8): the corpus-side container, round-tripped
# --------------------------------------------------------------------------

_WET_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("target_uri", StringType()),
        StructField("clean_len", LongType()),
        StructField("wet_block_len", LongType()),
        StructField("clean_h", LongType()),
    ]
)


def _wet_roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        if not len(pdf):
            continue
        # one WET file per Arrow batch: a leading warcinfo record (the
        # WET convention) + one `conversion` record per document,
        # member-gzipped like a real .wet.gz
        recs = [
            build_warc_record(
                "warcinfo",
                None,
                _WARC_DATE,
                b"software: cc-mapreducer-spark\r\nformat: WARC File Format 1.1\r\n",
                "<urn:wetinfo:0>",
                content_type="application/warc-fields",
            )
        ]
        clean_by_uri = {}
        for uri, clean in zip(pdf["url"], pdf["clean_text"]):
            body = str(clean).encode("utf-8")
            clean_by_uri[uri] = body
            recs.append(
                build_warc_record(
                    "conversion",
                    uri,
                    _WARC_DATE,
                    body,
                    f"<urn:wet:{uri}>",
                    content_type="text/plain",
                )
            )
        wet_file = build_warc(recs, gzip_per_record=True)
        rows = {k.name: [] for k in _WET_SCHEMA.fields}
        for rec in parse_warc(wet_file):
            if rec["type"] != "conversion":
                continue  # the warcinfo header is not content
            m = re.search(r"page-(\d+)", rec["target_uri"] or "")
            body = rec["block"]
            rows["doc_id"].append(int(m.group(1)) if m else None)
            rows["target_uri"].append(rec["target_uri"])
            rows["clean_len"].append(len(clean_by_uri[rec["target_uri"]]))
            rows["wet_block_len"].append(rec["content_length"])
            rows["clean_h"].append(int(hashlib.md5(body).hexdigest()[:12], 16))
        yield pd.DataFrame(rows)


# Closed-form oracle: the conversion block IS the stripped text (ASCII,
# so chars == bytes); clean_len comes from the text that went IN,
# wet_block_len from the record that came BACK OUT — their forced
# equality is the round-trip witness, and clean_h pins the bytes.
def _wet_sql() -> str:
    from cc_mapreducer_spark.operators.acquisition import _strip_html_sql

    strip = _strip_html_sql("html")
    return f"""
WITH raw AS (
    SELECT doc_id, {_HTML_FIXTURE_SQL} AS html, {_URL_FIXTURE_SQL} AS url
    FROM documents
)
SELECT doc_id,
       url AS target_uri,
       CAST(length({strip}) AS BIGINT) AS clean_len,
       CAST(length({strip}) AS BIGINT) AS wet_block_len,
       CAST(('0x' || substr(md5({strip}), 1, 12))::BIGINT AS BIGINT) AS clean_h
FROM raw
"""


@register("wet_export_roundtrip", oracle=_wet_sql(), driver=False)
def wet_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET export round trip — the OUTPUT side of the crawl stack:
    strip_html's clean text is written as WARC `conversion` records
    (one member-gzipped WET file per Arrow batch, warcinfo header
    first, Common Crawl's .wet.gz layout) and immediately parsed back.
    Per document: the byte length of the text written in, the block
    length of the record read back (forced equal — the round-trip
    witness), and the md5-48 of the parsed-back bytes, each re-derived
    in closed form by the oracle from the html fixture alone."""
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr(_HTML_FIXTURE_SQL).alias("html"),
        F.expr(_URL_FIXTURE_SQL).alias("url"),
    )
    cleaned = strip_html(docs, "html").select("url", "clean_text")
    return cleaned.mapInPandas(_wet_roundtrip, _WET_SCHEMA)


# --------------------------------------------------------------------------
# segmented records + chunked transfer-encoding (round 8, session 2):
# the WARC spec's answer to "one capture is bigger than one file" and
# HTTP's answer to "length unknown at send time" — the two wire framings
# a crawl consumer meets that functions/warc.py previously documented as
# out of scope. Reassembly is genuinely distributed here: fragments are
# independent rows wherever the scan found them, and putting a logical
# record back together is a keyed shuffle on WARC-Segment-Origin-ID —
# the only data motion that can work when segments landed in different
# files, so the groupBy IS the 100 TB plan, not a local shortcut.
# --------------------------------------------------------------------------

_SEG_SIZE = 120  # WARC segment block size (bytes) for the fixture chain
_CHUNK_SIZE = 100  # chunked-TE chunk size; both pinned so the oracle is
# a closed-form function of the html fixture length

def _segmented_blob_for_doc(doc_id: int, uri: str, html: str) -> bytes:
    """The fixture container for the segmentation/TE chain. Four planted
    wire shapes, keyed on doc_id % 5: (0) plain HTTP message segmented
    at _SEG_SIZE bytes; (1) chunked transfer-encoding, unsegmented;
    (2) chunked AND segmented — both framings composed; (else) a plain
    record. Every 3rd doc's records are member-gzipped (.warc.gz)."""
    body = html.encode("utf-8")
    cls = doc_id % 5
    if cls in (1, 2):
        msg = build_http_response_chunked(body, _CHUNK_SIZE)
    else:
        msg = build_http_response(body)
    if cls in (0, 2):
        recs = segment_record(
            "response", uri, _WARC_DATE, msg, f"<urn:resp:{doc_id}>",
            _SEG_SIZE,
        )
    else:
        recs = [
            build_warc_record(
                "response", uri, _WARC_DATE, msg, f"<urn:resp:{doc_id}>"
            )
        ]
    return build_warc(recs, gzip_per_record=(doc_id % 3 == 0))


def _fragment_groups(blob: bytes) -> dict:
    """Parse one container into fragment groups keyed by the record's
    WARC-Segment-Origin-ID (continuations) / record id (first
    segments): origin -> {doc_id, declared_total, parts: [(seg_no,
    frag)]}. doc_id rides only on first segments (continuations carry
    no target URI per spec), so a lost first segment still surfaces as
    a null-doc group, not a silently-healed row — the exact grouping
    the r11 shuffle performed, done where the fragments already are."""
    groups: dict = {}
    for rec in parse_warc(blob):
        is_cont = rec["type"] == "continuation"
        origin = rec["segment_origin_id"] if is_cont else rec["record_id"]
        g = groups.setdefault(
            origin, {"doc_id": None, "declared_total": None, "parts": []}
        )
        g["parts"].append((rec["segment_number"] or 1, rec["block"]))
        if rec["segment_total_length"] is not None:
            d = g["declared_total"]
            g["declared_total"] = (
                rec["segment_total_length"]
                if d is None
                else max(d, rec["segment_total_length"])
            )
        if not is_cont:
            m = re.search(r"page-(\d+)", rec["target_uri"] or "")
            if m:
                g["doc_id"] = int(m.group(1))
    return groups


_REASSEMBLED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_segments", LongType()),
        StructField("block_len", LongType()),
        StructField("content_len", LongType()),
        StructField("body_h", LongType()),
        StructField("te", StringType()),
    ]
)


def _reassemble_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse containers, group fragments by origin, byte-concat in
    segment order, then parse the reassembled HTTP block (decoding
    chunked TE where the message declares it) and emit the per-capture
    witnesses. A declared WARC-Segment-Total-Length that disagrees with
    the reassembled byte count raises — a short reassembly must never
    look like a small capture.

    One Arrow pass, zero shuffles (r12): every fragment of a segmented
    record lives in the container the task is already holding, so the
    r11 shape — ship each fragment's payload bytes through a groupBy
    exchange, collect_list + concat, then a SECOND Python stage to
    decode — moved the heavy bytes across the JVM/Python boundary three
    times and the network once to reunite rows that were never apart
    (guide §8: reassemble row-locally; the span_removal playbook). When
    segments genuinely span containers (multi-file WARC captures), the
    local pass degrades gracefully: unmatched groups surface with null
    doc_id and a keyed shuffle of ONLY those residuals — payload moved
    once — is the scalable follow-up, not a full-stream exchange."""
    import hashlib

    for pdf in batches:
        if not len(pdf):
            continue
        rows = {k.name: [] for k in _REASSEMBLED_SCHEMA.fields}
        for html, uri, doc_id in zip(pdf["html"], pdf["url"], pdf["doc_id"]):
            blob = _segmented_blob_for_doc(int(doc_id), uri, html)
            for g in _fragment_groups(blob).values():
                g["parts"].sort()
                block = b"".join(frag for _, frag in g["parts"])
                declared = g["declared_total"]
                if declared is not None and int(declared) != len(block):
                    raise ValueError(
                        f"segment total-length mismatch for doc "
                        f"{g['doc_id']}: declared {int(declared)}, "
                        f"reassembled {len(block)}"
                    )
                _, headers, body = parse_http_response(block)
                rows["doc_id"].append(g["doc_id"])
                rows["n_segments"].append(len(g["parts"]))
                rows["block_len"].append(len(block))
                rows["content_len"].append(len(body))
                rows["body_h"].append(
                    int(hashlib.md5(body).hexdigest()[:12], 16)
                )
                rows["te"].append(
                    headers.get("transfer-encoding", "identity")
                )
        yield pd.DataFrame(rows)


# Closed-form oracle. Plain message geometry is the _WARC_STATS_SQL
# derivation (62 + digits + L). Chunked (RFC 9112): 72-byte head, one
# '64\r\n'+100 bytes+'\r\n' = 106-byte frame per full chunk, a
# hex(rem)+CRLF+rem+CRLF frame for the remainder, '0\r\n\r\n' = 5 to
# terminate. Segment count is ceil(block/120) on the segmented classes.
# body_h is md5-48 of the html — the chunked/segmented wire shapes must
# decode back to the exact same payload the plain record carries.
_SEGMENT_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_HTML_FIXTURE_SQL} AS html FROM documents
), g AS (
    SELECT doc_id, html,
           length(html) AS l,
           doc_id % 5 AS cls
    FROM raw
), m AS (
    SELECT doc_id, html, l, cls,
           CASE WHEN cls IN (1, 2) THEN
               72 + (l // {_CHUNK_SIZE}) * {_CHUNK_SIZE + 6}
                  + CASE WHEN l % {_CHUNK_SIZE} > 0
                         THEN length(to_hex(l % {_CHUNK_SIZE})) + 4
                              + (l % {_CHUNK_SIZE})
                         ELSE 0 END
                  + 5
           ELSE 62 + length(CAST(l AS VARCHAR)) + l END AS block_len
    FROM g
)
SELECT doc_id,
       CAST(CASE WHEN cls IN (0, 2)
                 THEN CAST(ceil(block_len / {_SEG_SIZE}.0) AS BIGINT)
                 ELSE 1 END AS BIGINT) AS n_segments,
       CAST(block_len AS BIGINT) AS block_len,
       CAST(l AS BIGINT) AS content_len,
       CAST(('0x' || substr(md5(html), 1, 12))::BIGINT AS BIGINT) AS body_h,
       CASE WHEN cls IN (1, 2) THEN 'chunked' ELSE 'identity' END AS te
FROM m
"""


@register("warc_segment_reassembly", oracle=_SEGMENT_SQL, driver=False)
def warc_segment_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reassembly of segmented WARC records plus chunked-TE decode, in
    ONE Arrow pass riding the scan: parse containers, group fragments
    by WARC-Segment-Origin-ID, byte-concat in segment order, parse the
    reassembled HTTP message decoding `Transfer-Encoding: chunked`
    bodies. The oracle re-derives every byte count and the payload hash
    in closed form from the html fixture, across all four planted wire
    shapes (plain, segmented, chunked, chunked+segmented). r11 shipped
    every fragment's payload through a groupBy exchange (plus two extra
    JVM<->Python crossings) to reunite rows born in the same container
    — the r12 shape moves the payload zero times; see _reassemble_rows
    for the cross-container residual strategy at scale."""
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr(_HTML_FIXTURE_SQL).alias("html"),
        F.expr(_URL_FIXTURE_SQL).alias("url"),
    )
    return docs.mapInPandas(_reassemble_rows, _REASSEMBLED_SCHEMA)
