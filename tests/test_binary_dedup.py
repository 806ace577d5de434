"""Content-defined chunking + binary dedup (functions/cdc_chunker.py,
operators/binary_dedup.py): boundary invariants, determinism, the
re-sync-after-insertion property that fixed blocking lacks, and the
per-type dedup report against a pure-python replica."""

from __future__ import annotations

import hashlib

import numpy as np

from cc_mapreducer_spark.functions.cdc_chunker import (
    chunk_boundaries,
    chunk_payload,
)

SF_ORACLE = "/root/testdata/sf0.001"


def _blob(n: int, seed: int) -> bytes:
    return np.random.RandomState(seed).randint(0, 256, n).astype(np.uint8).tobytes()


def test_boundary_invariants_and_determinism():
    data = _blob(100_000, 1)
    ends = chunk_boundaries(data)
    assert ends == chunk_boundaries(data)  # deterministic
    assert ends[-1] == len(data)
    assert all(a < b for a, b in zip(ends, ends[1:]))
    sizes = [b - a for a, b in zip([0] + ends, ends)]
    # every chunk respects the clamps except the final remainder
    assert all(256 <= s <= 8192 for s in sizes[:-1])
    assert sizes[-1] <= 8192
    # expected size ~ 2^11 + 256: sanity that boundaries actually fire
    assert 10 < len(sizes) < 400
    # chunks reassemble the payload
    assert b"".join(
        data[a:b] for a, b in zip([0] + ends, ends)
    ) == data
    # empty payload
    assert chunk_boundaries(b"") == []


def test_resync_after_insertion_beats_fixed_blocks():
    """Insert 13 bytes at the front: CDC boundaries re-sync after ~one
    chunk so most chunk hashes are SHARED; fixed-size blocking shares
    (near) nothing — the alignment story, measured."""
    base = _blob(120_000, 2)
    shifted = b"reupload:0005" + base
    a = {sha for _, _, sha in chunk_payload(base)}
    b = {sha for _, _, sha in chunk_payload(shifted)}
    shared_cdc = len(a & b) / len(a)
    assert shared_cdc > 0.8, shared_cdc
    # fixed 2 KiB blocks on the same pair
    def fixed(data: bytes) -> set[str]:
        return {
            hashlib.sha256(data[i : i + 2048]).hexdigest()
            for i in range(0, len(data), 2048)
        }
    shared_fixed = len(fixed(base) & fixed(shifted)) / len(fixed(base))
    assert shared_fixed < 0.05, shared_fixed
    # and an interior edit only loses the chunks it touches
    edited = bytearray(base)
    edited[60_000:60_004] = b"EDIT"
    c = {sha for _, _, sha in chunk_payload(bytes(edited))}
    assert len(a & c) / len(a) > 0.9


def test_spark_report_matches_python_replica(spark):
    from cc_mapreducer_spark.operators.binary_dedup import (
        _MASK_BITS,
        _MAX_SIZE,
        _MIN_SIZE,
        _artifacts_for,
        binary_chunk_dedup,
        chunk_table,
    )
    from cc_mapreducer_spark.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "text", "n_chars"
    ).collect()
    # python replica of the per-type report
    per_type: dict = {}
    payload_len: dict = {}
    for r in docs:
        for art_id, variant, mt, payload in _artifacts_for(
            r["doc_id"], r["text"], r["n_chars"]
        ):
            payload_len[art_id] = len(payload)
            d = per_type.setdefault(mt, {"uniq": {}, "total": 0, "n": 0})
            for _, ln, sha in chunk_payload(
                payload, _MASK_BITS, _MIN_SIZE, _MAX_SIZE
            ):
                d["uniq"][sha] = ln
                d["total"] += ln
                d["n"] += 1
    got = {r["media_type"]: r for r in binary_chunk_dedup(spark, SF_ORACLE).collect()}
    assert set(got) == set(per_type)
    for mt, d in per_type.items():
        g = got[mt]
        assert g["total_bytes"] == d["total"]
        assert g["unique_bytes"] == sum(d["uniq"].values())
        assert g["n_chunks"] == d["n"]
        assert g["n_unique_chunks"] == len(d["uniq"])
        expect_ratio = round((d["total"] - sum(d["uniq"].values())) / d["total"], 6)
        assert abs(g["dedup_ratio"] - expect_ratio) < 1e-9
    # chunk rows reassemble every artifact's byte length exactly
    lens: dict = {}
    for r in chunk_table(spark, SF_ORACLE).collect():
        lens[r["artifact_id"]] = lens.get(r["artifact_id"], 0) + r["length"]
    assert lens == payload_len
    # the planted re-uploads actually dedup: every type shows savings
    # (every 5th doc has a near-identical twin artifact)
    assert all(g["dedup_ratio"] > 0.05 for g in got.values()), {
        mt: g["dedup_ratio"] for mt, g in got.items()
    }


def test_binary_dedup_suite_mirrors_components(spark):
    """The driver digest must be a pure projection of its components:
    chunk legs == suite_chunk_table rows (entity set AND count), rollup
    legs == the per-media-type rollup over the same chunk index. (Since
    round 9 the suite chunks the oracle-constructible payload set —
    _suite_artifacts_for — not the container payloads; the container
    path keeps its own replica pins above.)"""
    from cc_mapreducer_spark.operators.binary_dedup import (
        _suite_rollup,
        binary_dedup_suite,
        suite_chunk_table,
    )

    suite = binary_dedup_suite(spark, SF_ORACLE).toPandas()
    chunks = suite_chunk_table(spark, SF_ORACLE).toPandas()
    roll = _suite_rollup(suite_chunk_table(spark, SF_ORACLE)).toPandas()
    got = set(suite[suite.component == "chunk"].entity)
    want = {
        f"{r.artifact_id}|{r.chunk_idx}|{r.offset}|{r.length}|{r.chunk_sha}"
        for r in chunks.itertuples()
    }
    assert got == want and len(suite[suite.component == "chunk"]) == len(chunks)
    for comp, col in [
        ("rollup:bytes", "total_bytes"),
        ("rollup:uniq", "unique_bytes"),
        ("rollup:chunks", "n_chunks"),
        ("rollup:uchunks", "n_unique_chunks"),
        ("rollup:ratio", "dedup_ratio"),
    ]:
        got = {
            (r.entity, round(float(r.value), 9))
            for r in suite[suite.component == comp].itertuples()
        }
        want = {
            (r.media_type, round(float(getattr(r, col)), 9))
            for r in roll.itertuples()
        }
        assert got == want, comp
