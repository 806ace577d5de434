"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng(seed)`` and orders
everything it emits explicitly (lists and dicts, never a ``set``), so one
seed gives byte-identical files in every process regardless of
``PYTHONHASHSEED``. Each generator returns the list of files it wrote; the
caller digests them.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# Common English function words, so the stop-word filter has work to do.
# The package's own list is not imported here: the generator must not
# depend on the code under test.
FILLER_WORDS = (
    "the", "and", "of", "to", "in", "is", "it", "that", "he", "she", "was",
    "for", "on", "with", "his", "her", "they", "at", "be", "this", "from",
    "but", "not", "all", "we", "when", "said", "there", "which", "then",
    "a", "i", "o",
)


def digest_files(paths: list[str]) -> str:
    """sha256 over (relative name, bytes) of every file, in name order."""
    h = hashlib.sha256()
    root = os.path.commonpath(paths) if len(paths) > 1 else os.path.dirname(paths[0])
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _random_words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """n distinct lowercase words with lengths in [lo, hi], in draw order."""
    out: dict[str, None] = {}
    while len(out) < n:
        lens = rng.integers(lo, hi + 1, size=n)
        for ln in lens:
            w = "".join(LETTERS[rng.integers(0, 26, size=ln)])
            out.setdefault(w, None)
            if len(out) == n:
                break
    return list(out)


def anagram_vocabulary(rng: np.random.Generator, n_base: int, n_planted: int) -> list[str]:
    """Random words plus planted anagrams: for the first n_planted base
    words of length >= 3, one to three letter permutations of each."""
    base = _random_words(rng, n_base, 2, 10)
    vocab = dict.fromkeys(base)
    planted = 0
    for w in base:
        if planted >= n_planted:
            break
        if len(w) < 3:
            continue
        for _ in range(int(rng.integers(1, 4))):
            perm = "".join(np.array(list(w))[rng.permutation(len(w))])
            if perm not in vocab:
                vocab[perm] = None
        planted += 1
    return list(vocab)


def write_text_corpus(out_dir: str, seed: int, n_words: int, n_files: int) -> list[str]:
    """Ebook-like ``book_NN.txt`` files: Zipf-distributed vocabulary words
    with planted anagrams, interleaved stop words, capitalised sentences,
    punctuation and possessives. Returns the file paths."""
    rng = np.random.default_rng(seed)
    vocab = np.array(anagram_vocabulary(rng, n_base=max(n_words // 40, 100),
                                        n_planted=max(n_words // 400, 10)))
    ranks = rng.permutation(len(vocab))
    weights = 1.0 / (ranks + 10.0)
    weights /= weights.sum()
    fillers = np.array(FILLER_WORDS)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per_file = n_words // n_files
    for fi in range(n_files):
        n = per_file if fi < n_files - 1 else n_words - per_file * (n_files - 1)
        content = vocab[rng.choice(len(vocab), size=n, p=weights)]
        filler = fillers[rng.integers(0, len(fillers), size=n)]
        words = np.where(rng.random(n) < 0.3, filler, content).astype(object)
        # sentence structure: ~1 in 12 words ends a sentence, the next
        # word is capitalised; scattered commas, possessives, quotes
        mark = rng.random(n)
        ends = mark < 0.08
        words[ends] = words[ends] + "."
        commas = (mark >= 0.08) & (mark < 0.14)
        words[commas] = words[commas] + ","
        poss = (mark >= 0.14) & (mark < 0.16)
        words[poss] = words[poss] + "'s"
        quoted = (mark >= 0.16) & (mark < 0.17)
        words[quoted] = '"' + words[quoted] + '"'
        caps = np.concatenate(([True], ends[:-1]))
        words[caps] = np.array([w[:1].upper() + w[1:] for w in words[caps]], dtype=object)
        lines = [f"BOOK {fi + 1}", ""]
        line_len = rng.integers(8, 16, size=n // 8 + 2)
        i = li = 0
        while i < n:
            k = int(line_len[li])
            lines.append(" ".join(words[i:i + k]))
            if li % 20 == 19:
                lines.append("")  # paragraph break
            i += k
            li += 1
        path = os.path.join(out_dir, f"book_{fi:02d}.txt")
        with open(path, "w", encoding="ascii", newline="\n") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# catalog: the ten tables of TESTDATA.md, seeded
# ---------------------------------------------------------------------------

_EPOCH = dt.datetime(1970, 1, 1)


def _ts_us(rng: np.random.Generator, n: int, lo: dt.datetime, hi: dt.datetime,
           whole_days: bool = False) -> pa.Array:
    a = int((lo - _EPOCH).total_seconds() * 1e6)
    b = int((hi - _EPOCH).total_seconds() * 1e6)
    v = rng.integers(a, b, size=n)
    if whole_days:
        v -= v % 86_400_000_000
    return pa.array(v, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), size=n)]


def _documents(rng: np.random.Generator, n_docs: int, dup_share: float) -> pa.Table:
    """Short documents over a Zipf vocabulary; a dup_share of them are
    near-copies of an earlier document (a few words replaced), so the
    dedup operators have planted pairs to find."""
    vocab = np.array(_random_words(rng, 400, 3, 9))
    weights = 1.0 / (np.arange(len(vocab)) + 5.0)
    weights /= weights.sum()
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), size=int(rng.integers(0, 3))):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = vocab[rng.choice(len(vocab), size=int(rng.integers(20, 90)), p=weights)].tolist()
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, ["en", "de", "fr", "es", "zh"], n_docs), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n_vecs: int, dim: int, dup_share: float) -> pa.Table:
    """Unit vectors; a dup_share of them are a slightly perturbed copy of
    an earlier vector (planted near-duplicates)."""
    vecs = rng.standard_normal((n_vecs, dim))
    for i in range(10, n_vecs):
        if rng.random() < dup_share:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.standard_normal(dim) * 0.05
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_vecs), pa.int32()),
    })


def write_catalog_tables(out_dir: str, seed: int, scale: float) -> list[str]:
    """The ten tables the registered queries read, with the shipped test data's
    schema and value domains; ``scale`` 1.0 gives about 60k lineitem rows.
    Returns the file paths."""
    rng = np.random.default_rng(seed)
    n_cust = int(1500 * scale)
    n_supp = max(int(100 * scale), 10)
    n_part = int(2000 * scale)
    n_ord = int(15000 * scale)
    n_line = int(60000 * scale)
    n_ev = int(10000 * scale)
    n_users = max(int(150 * scale), 10)
    n_docs = int(500 * scale)
    n_vecs = int(500 * scale)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                _pick(rng, ["red", "blue", "small", "large", "hot", "old", "new", "green"], n_part),
                _pick(rng, ["ring", "bolt", "rod", "plate", "widget", "gear", "pipe", "nut"], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts_us(rng, n_ord, dt.datetime(1995, 1, 1),
                                  dt.datetime(2001, 8, 2), whole_days=True),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.integers(0, 11, size=n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n_line) / 100.0, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts_us(rng, n_line, dt.datetime(1995, 1, 2),
                                 dt.datetime(2001, 11, 5), whole_days=True),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.sort(_ts_us(rng, n_ev, dt.datetime(2024, 1, 1),
                                          dt.datetime(2024, 1, 31)).to_numpy()),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n_ev), pa.int64()),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": _money(rng, 0.01, 490.02, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
        }),
        "documents": _documents(rng, n_docs, dup_share=0.15),
        "embeddings": _embeddings(rng, n_vecs, 64, dup_share=0.1),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths
