"""Unigram-LM subword tokenizer (SentencePiece's default algorithm) —
the second standard subword trainer next to BPE (operators/bpe.py).

Kudo, "Subword Regularization: Improving Neural Network Translation
Models with Multiple Subword Candidates" (ACL 2018 — public method;
independent implementation). Where BPE GROWS a vocabulary by greedy
pair merging, unigram-LM SHRINKS one: seed with every frequent
substring, fit piece probabilities by EM under the unigram model
P(word) = sum over segmentations of prod P(piece), prune the pieces
whose removal costs the least likelihood, repeat until the target size,
then segment by Viterbi.

Spark decomposition (the same shape as BPE's):

  * everything runs on the DISTINCT-WORD table weighted by frequency —
    the corpus-sized token stream collapses to |vocab| rows first (ONE
    groupBy), so EM cost scales with vocabulary, not corpus.
  * E-step: per-word forward/backward over the segmentation lattice
    (bounded: len(word) x MAX_PIECE_LEN states) inside an Arrow batch
    (mapInPandas) with the CURRENT piece table broadcast as a plain
    dict; emits integer expected-count partials.
  * M-step: one groupBy-sum over piece keys + normalize — a bounded
    model-sized aggregate, exactly the k-means/classifier pattern.
  * pruning keeps the ALWAYS-KEPT single characters (coverage must stay
    total) and drops the lowest-probability multi-char pieces by a
    fixed shrink ratio.

Determinism — ORACLE-GRADE since r11 (VERDICT r10 next-round #5; the
kmeans/IVFPQ playbook, pushed further because EM's log-sum-exp would
drag libm transcendentals into the parity path):

  probability space   the lattice runs on raw probabilities, not logs:
                      forward/backward is only +, *, / — correctly
                      rounded IEEE ops, bit-identical across engines
                      when the fold order is fixed. Underflow is not a
                      risk at the bounded word length (<= _MAX_WORD_LEN
                      pieces with p >= 1e-9 floors stays far above the
                      1e-308 double range). No exp/log anywhere in the
                      E-step.
  fold order          every lattice sum is a LEFT-ASSOCIATED fold over
                      ascending lattice position (missing edges add an
                      exact 0.0 — the identity), mirrored term for term
                      by the generated SQL chains.
  integer counts      each edge's posterior contribution is quantized
                      ONCE, per edge, to the 1e9 integer grid
                      (floor(x * 1e9 + 0.5)) from bit-identical floats
                      — so the cross-word/cross-partition aggregation
                      is an INTEGER sum: exact, order-free, no q()
                      boundary hazard at all (the IVFPQ ADC-LUT move).
  M-step              piece probability = one IEEE division of the two
                      exact integer sums; char coverage floored at the
                      1e-9 literal. No logs stored: the model IS the
                      probability table.
  fixed schedule      (EM x EM_ITERS, prune) x PRUNE_ROUNDS, then a
                      final EM x EM_ITERS. The prune keeps
                      max(TARGET_VOCAB, (multi * 3) // 4) pieces, so a
                      converged vocabulary prunes to a NO-OP and the
                      schedule is data-independent — 0.75^4 shrinks any
                      seed <= SEED_VOCAB under the target, which is
                      what lets the oracle unroll a static chain.
  Viterbi             maximizes the segmentation PRODUCT; ties break on
                      (fewer pieces, lexicographically smaller
                      space-joined piece string) — string comparison of
                      the space-joined form equals tuple comparison
                      because ' ' sorts below every [a-z] piece char.
                      Scores are bit-identical, so ties are exact ties.

The DuckDB oracle (_unigram_sql) unrolls all 15 EM steps, the 4 prunes,
and the Viterbi serving chain as generated CTEs over a pivoted
per-word lattice (p_{i}_{j} probability columns, f/b position columns)
— any drift in a single EM count, prune decision, or Viterbi pick
fails the value hash.

Serving: the trained piece table is a driver-side value in the memo
(``unigram_model``), trained once per corpus per session; the
registered query only Viterbi-encodes with it.

Scale notes: the EM state is model-sized; the only corpus-sized job is
the one word-frequency groupBy. The integer count grid bounds corpus
size at ~2^63 / 1e9 ~ 9e9 tokens per training shard — past that, raise
the grid to a wider scale or train on a bounded sample (the IVF/PQ
sample precedent). _MAX_WORD_LEN caps the unrolled lattice width and
fails LOUDLY in both engines (the seqprep cap discipline).

Reference parity note: the reference engine has no tokenizer surface;
this extends SURVEY §2.8's training-data family beside bpe.py.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from cc_mapreducer_spark.operators.bpe import corpus_model, word_freq_table
from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table, spread

MAX_PIECE_LEN = 6
SEED_VOCAB = 600  # multi-char seed pieces kept after scoring
TARGET_VOCAB = 200  # multi-char pieces kept after EM pruning
EM_ITERS = 3
PRUNE_ROUNDS = 4  # (3/4)^4 * SEED_VOCAB < TARGET_VOCAB: schedule is static
_C_SCALE = 1_000_000_000  # integer expected-count grid
_CHAR_FLOOR = 1e-9  # coverage floor for characters with zero count
_MAX_WORD_LEN = 12  # unrolled lattice width cap (loud error past it)


# --------------------------------------------------------------------------
# lattice E-step / Viterbi (pure python over one word — bounded work)
# --------------------------------------------------------------------------


def _forward_backward(
    word: str, p: dict[str, float]
) -> tuple[float, list[tuple[str, float]]]:
    """(total probability, per-EDGE posteriors) of one word under the
    unigram model, by probability-space forward/backward over the
    segmentation lattice. Pieces absent from ``p`` don't exist; single
    characters always do (coverage guarantee). Every sum is a
    left-associated fold over ascending lattice position — the exact
    arithmetic the generated SQL chains mirror. Returns one (piece,
    posterior) entry PER EDGE (a piece occurring at several positions
    contributes several entries — quantization happens per edge)."""
    n = len(word)
    if n > _MAX_WORD_LEN:
        raise ValueError(
            f"unigram lattice cap: word {word!r} longer than "
            f"_MAX_WORD_LEN={_MAX_WORD_LEN} — raise the cap (and the "
            "oracle regenerates automatically)"
        )
    fwd = [0.0] * (n + 1)
    fwd[0] = 1.0
    for j in range(1, n + 1):
        acc = 0.0
        for i in range(max(0, j - MAX_PIECE_LEN), j):
            pe = p.get(word[i:j])
            if pe is not None:
                acc = acc + fwd[i] * pe
        fwd[j] = acc
    total = fwd[n]
    if total == 0.0:
        return 0.0, []
    bwd = [0.0] * (n + 1)
    bwd[n] = 1.0
    for i in range(n - 1, -1, -1):
        acc = 0.0
        for j in range(i + 1, min(n, i + MAX_PIECE_LEN) + 1):
            pe = p.get(word[i:j])
            if pe is not None:
                acc = acc + pe * bwd[j]
        bwd[i] = acc
    posts: list[tuple[str, float]] = []
    for j in range(1, n + 1):
        for i in range(max(0, j - MAX_PIECE_LEN), j):
            piece = word[i:j]
            pe = p.get(piece)
            if pe is None:
                continue
            posts.append((piece, ((fwd[i] * pe) * bwd[j]) / total))
    return total, posts


def _viterbi(word: str, p: dict[str, float]) -> list[str]:
    """Best segmentation by probability product; ties break on (fewer
    pieces, lexicographically smaller SPACE-joined piece string) — the
    space-join comparison equals tuple comparison because ' ' sorts
    below [a-z], and it is the form the SQL oracle compares."""
    n = len(word)
    # state per position: (score, n_pieces, space_joined)
    best: list[tuple[float, int, str] | None] = [None] * (n + 1)
    best[0] = (1.0, 0, "")
    for j in range(1, n + 1):
        cur: tuple[float, int, str] | None = None
        for i in range(max(0, j - MAX_PIECE_LEN), j):
            piece = word[i:j]
            pe = p.get(piece)
            prev = best[i]
            if pe is None or prev is None:
                continue
            score = prev[0] * pe
            k = prev[1] + 1
            s = piece if prev[2] == "" else prev[2] + " " + piece
            if (
                cur is None
                or score > cur[0]
                or (score == cur[0] and (k, s) < (cur[1], cur[2]))
            ):
                cur = (score, k, s)
        best[j] = cur
    if best[n] is None:  # cannot happen while single chars are kept
        return list(word)
    return best[n][2].split(" ")


# --------------------------------------------------------------------------
# distributed trainer
# --------------------------------------------------------------------------


def _seed_pieces(freq: DataFrame) -> DataFrame:
    """Candidate pieces: every substring of length 2..MAX_PIECE_LEN of
    every distinct word, scored by freq * len (Kudo's seed heuristic),
    top SEED_VOCAB kept — plus every single character (always kept).
    One explode + one groupBy on piece keys. Integer scores: the top-K
    cut is exact in both engines."""
    subs = freq.select(
        "cnt",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), i -> "
                f"transform(sequence(2, least({MAX_PIECE_LEN}, "
                f"length(word) - i + 1)), l -> substring(word, i, l))))"
            )
        ).alias("piece"),
    ).filter(F.length("piece") >= 2)
    scored = subs.groupBy("piece").agg(
        (F.sum("cnt") * F.length("piece")).alias("score")
    )
    return scored.orderBy(F.desc("score"), "piece").limit(SEED_VOCAB)


def _em_step_counts(freq: DataFrame, p: dict[str, float]) -> dict[str, int]:
    """One E-step over the distinct-word table: per-edge posteriors are
    quantized to the _C_SCALE integer grid INSIDE the Arrow batch (from
    bit-identical floats), then integer-summed — exact and order-free,
    so the collected counts cannot drift across partitionings or
    engines."""
    schema = StructType(
        [StructField("piece", StringType()), StructField("c", LongType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            agg: dict[str, int] = {}
            for word, cnt in zip(pdf["word"], pdf["cnt"]):
                total, posts = _forward_backward(str(word), p)
                if total == 0.0:
                    continue
                cnt = int(cnt)
                for piece, post in posts:
                    q = math.floor((post * cnt) * float(_C_SCALE) + 0.5)
                    agg[piece] = agg.get(piece, 0) + q
            yield pd.DataFrame(
                {"piece": list(agg), "c": list(agg.values())}
            )

    rows = (
        freq.mapInPandas(run, schema)
        .groupBy("piece")
        .agg(F.sum("c").alias("c"))  # exact integer sum
        .collect()  # bounded: |pieces| rows (model-sized)
    )
    return {r["piece"]: int(r["c"]) for r in rows}


def _m_step(
    counts: dict[str, int], chars: set[str]
) -> dict[str, float]:
    """Probabilities from the integer counts: ONE IEEE division of
    exact integers per piece; characters with zero count keep the
    coverage floor; multi-char pieces with zero count drop."""
    tot = sum(counts.values())
    p = {
        piece: c / tot for piece, c in counts.items() if c > 0
    }
    for ch in chars:
        if ch not in p:
            p[ch] = _CHAR_FLOOR
    return p


def _prune(p: dict[str, float], chars: set[str]) -> dict[str, float]:
    """Keep the top max(TARGET_VOCAB, (multi * 3) // 4) multi-char
    pieces by (probability desc, piece asc) plus every character. A
    vocabulary already at/below target prunes to a NO-OP — the property
    that makes the fixed schedule data-independent."""
    multi = sorted((q for q in p if len(q) > 1), key=lambda q: (-p[q], q))
    keep = max(TARGET_VOCAB, (len(multi) * 3) // 4)
    kept = set(multi[:keep]) | chars
    return {q: v for q, v in p.items() if q in kept}


def train_unigram(docs: DataFrame) -> dict[str, float]:
    """Fit the unigram-LM piece table on the FIXED schedule
    (EM x EM_ITERS, prune) x PRUNE_ROUNDS + final EM x EM_ITERS; see
    the module docstring's determinism contract. Returns {piece:
    probability} (single chars always present)."""
    freq = word_freq_table(docs).localCheckpoint()
    chars = {
        r["c"]
        for r in freq.select(
            F.explode(F.split("word", "")).alias("c")
        ).distinct().collect()
        if r["c"]
    }
    seed = {r["piece"] for r in _seed_pieces(freq).collect()}
    pieces = sorted(chars | seed)
    p = {q: 1.0 / len(pieces) for q in pieces}
    for _ in range(PRUNE_ROUNDS):
        for _ in range(EM_ITERS):
            p = _m_step(_em_step_counts(freq, p), chars)
        p = _prune(p, chars)
    for _ in range(EM_ITERS):
        p = _m_step(_em_step_counts(freq, p), chars)
    return p


ENCODE_SCHEMA = StructType(
    [
        StructField("word", StringType()),
        StructField("cnt", LongType()),
        StructField("n_pieces", LongType()),
        StructField("segmentation", StringType()),
    ]
)


def encode_unigram(freq: DataFrame, p: dict[str, float]) -> DataFrame:
    """Viterbi-segment every distinct word: (word, cnt, n_pieces,
    'pi|pj|...'). The piece table is a broadcast-sized dict riding the
    Arrow batches."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            segs = [_viterbi(str(w), p) for w in pdf["word"]]
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "cnt": pdf["cnt"].astype("int64"),
                    "n_pieces": [len(s) for s in segs],
                    "segmentation": ["|".join(s) for s in segs],
                }
            )

    return freq.mapInPandas(run, ENCODE_SCHEMA)


def unigram_model(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """train_unigram on sf_dir's corpus, memoized (bpe.corpus_model): the
    {piece: probability} table every serving call encodes with."""
    return corpus_model(spark, sf_dir, "unigram_model", (), train_unigram)


# --------------------------------------------------------------------------
# the DuckDB oracle: 15 EM steps + 4 prunes + Viterbi, unrolled
# --------------------------------------------------------------------------


def _unigram_sql(
    w_max: int = _MAX_WORD_LEN,
    piece_max: int = MAX_PIECE_LEN,
    em_iters: int = EM_ITERS,
    prune_rounds: int = PRUNE_ROUNDS,
    seed_vocab: int = SEED_VOCAB,
    target_vocab: int = TARGET_VOCAB,
) -> str:
    """Generate the full training + serving oracle. Layout:

    uwords/uchars/uedges   the distinct-word table, its characters, and
                           the static lattice edge table (word, i, j,
                           piece) with the loud word-length guard
    per EM step t          upv{t}: p_{i}_{j} probability columns per
                           word; uf{t}_*/ub{t}_*: forward/backward
                           column chains (every sum the same left-assoc
                           fold the python kernel runs); ucnt{t}:
                           per-edge integer quantization + integer
                           sums; the next model: one-division M-step
                           with the char floor
    prune                  rank multi pieces by (p desc, piece), keep
                           max(target, 3n//4) — a no-op at/below target
    viterbi                row-form chain with the (score desc, k, seg)
                           window tiebreak; ties are exact ties because
                           scores are bit-identical
    """
    from cc_mapreducer_spark.functions.trainer_sql import _BPE_FREQ

    def pairs_at(j: int) -> list[int]:
        return list(range(max(0, j - piece_max), j))

    all_pairs = [(i, j) for j in range(1, w_max + 1) for i in pairs_at(j)]

    out = [f"""WITH ufreq AS MATERIALIZED (
{_BPE_FREQ}
), uguard AS (
    SELECT CASE WHEN max(length(word)) > {w_max}
                THEN error('unigram oracle: word cap {w_max} exceeded'
                           || ' — raise _MAX_WORD_LEN')
                ELSE 0 END AS ok
    FROM ufreq
), uwords AS MATERIALIZED (
    SELECT word, cnt, length(word) AS n FROM ufreq
    CROSS JOIN uguard g WHERE g.ok = 0
), uchars AS MATERIALIZED (
    SELECT DISTINCT unnest(string_split(word, '')) AS piece FROM uwords
), uedges AS MATERIALIZED (
    SELECT w.word, w.cnt, w.n, e.i, e.j,
           substr(w.word, e.i + 1, e.j - e.i) AS piece
    FROM uwords w
    JOIN (VALUES {', '.join(f'({i}, {j})' for i, j in all_pairs)}) e(i, j)
      ON e.j <= w.n
), useed AS MATERIALIZED (
    SELECT piece FROM (
        SELECT piece, sum(cnt) * length(piece) AS score
        FROM (SELECT cnt, piece FROM uedges WHERE j - i >= 2)
        GROUP BY piece)
    ORDER BY score DESC, piece LIMIT {seed_vocab}
), um0 AS MATERIALIZED (
    SELECT piece,
           1.0 / (SELECT count(*) FROM
                  (SELECT piece FROM uchars UNION SELECT piece FROM useed))
               AS p
    FROM (SELECT piece FROM uchars UNION SELECT piece FROM useed)
)"""]

    def em_step(t: int, m_in: str, m_out: str) -> str:
        pcols = ",\n           ".join(
            f"max(CASE WHEN e.i = {i} AND e.j = {j} THEN m.p END)"
            f" AS p_{i}_{j}"
            for i, j in all_pairs
        )
        parts = [f""", upv{t} AS MATERIALIZED (
    SELECT w.word, w.cnt, w.n,
           {pcols}
    FROM uwords w
    LEFT JOIN uedges e ON e.word = w.word
    LEFT JOIN {m_in} m ON m.piece = e.piece
    GROUP BY w.word, w.cnt, w.n
)"""]
        prev = f"upv{t}"
        for j in range(1, w_max + 1):
            terms = " + ".join(
                f"coalesce({'1.0' if i == 0 else f'f{i}'} * p_{i}_{j}, 0.0)"
                for i in pairs_at(j)
            )
            parts.append(f""", uf{t}_{j} AS (
    SELECT *, {terms} AS f{j} FROM {prev}
)""")
            prev = f"uf{t}_{j}"
        ftot = "CASE n " + " ".join(
            f"WHEN {k} THEN f{k}" for k in range(1, w_max + 1)
        ) + " END"
        parts.append(f""", uft{t} AS (
    SELECT *, {ftot} AS ftot FROM {prev}
)""")
        prev = f"uft{t}"
        for i in range(w_max, -1, -1):
            js = list(range(i + 1, min(w_max, i + piece_max) + 1))
            terms = " + ".join(
                f"coalesce(p_{i}_{j} * b{j}, 0.0)" for j in js
            )
            body = (
                f"CASE WHEN n = {i} THEN 1.0 "
                + (f"WHEN n > {i} THEN {terms} " if terms else "")
                + "ELSE NULL END"
            )
            parts.append(f""", ub{t}_{i} AS (
    SELECT *, {body} AS b{i} FROM {prev}
)""")
            prev = f"ub{t}_{i}"
        fi = "CASE e.i " + " ".join(
            f"WHEN {k} THEN {'1.0' if k == 0 else f'st.f{k}'}"
            for k in range(0, w_max)
        ) + " END"
        bj = "CASE e.j " + " ".join(
            f"WHEN {k} THEN st.b{k}" for k in range(1, w_max + 1)
        ) + " END"
        parts.append(f""", ucnt{t} AS MATERIALIZED (
    SELECT e.piece,
           sum(CAST(floor(((({fi} * m.p) * {bj}) / st.ftot * st.cnt)
                          * {float(_C_SCALE)!r} + 0.5) AS BIGINT)) AS c
    FROM uedges e
    JOIN {m_in} m ON m.piece = e.piece
    JOIN {prev} st ON st.word = e.word
    WHERE st.ftot > 0
    GROUP BY e.piece
), {m_out} AS MATERIALIZED (
    SELECT piece, CAST(c AS DOUBLE) / (SELECT CAST(sum(c) AS DOUBLE)
                                       FROM ucnt{t}) AS p
    FROM ucnt{t} WHERE c > 0
    UNION ALL
    SELECT ch.piece, {_CHAR_FLOOR!r} AS p
    FROM uchars ch
    WHERE ch.piece NOT IN (SELECT piece FROM ucnt{t} WHERE c > 0)
)""")
        return "".join(parts)

    def prune_step(m_in: str, m_out: str) -> str:
        return f""", {m_out} AS MATERIALIZED (
    SELECT piece, p FROM (
        SELECT piece, p,
               row_number() OVER (ORDER BY p DESC, piece) AS rk,
               count(*) OVER () AS nm
        FROM {m_in} WHERE length(piece) > 1)
    WHERE rk <= greatest({target_vocab}, (nm * 3) // 4)
    UNION ALL
    SELECT piece, p FROM {m_in} WHERE length(piece) = 1
)"""

    model = "um0"
    t = 0
    for r in range(prune_rounds):
        for _ in range(em_iters):
            out.append(em_step(t, model, f"um{t + 1}"))
            model = f"um{t + 1}"
            t += 1
        out.append(prune_step(model, f"{model}p"))
        model = f"{model}p"
    for _ in range(em_iters):
        out.append(em_step(t, model, f"um{t + 1}"))
        model = f"um{t + 1}"
        t += 1

    # --- Viterbi serving chain over the final model ---
    out.append(f""", uvp AS MATERIALIZED (
    SELECT e.word, e.i, e.j, e.piece, m.p
    FROM uedges e JOIN {model} m ON m.piece = e.piece
), uvb0 AS (
    SELECT word, cnt, n, 1.0 AS score, 0 AS k, '' AS s FROM uwords
)""")
    for j in range(1, w_max + 1):
        branches = " UNION ALL ".join(
            f"""SELECT v.word, v.cnt, v.n, v.score * e.p AS score,
               v.k + 1 AS k,
               CASE WHEN v.s = '' THEN e.piece
                    ELSE v.s || ' ' || e.piece END AS s
        FROM uvb{i} v JOIN uvp e
          ON e.word = v.word AND e.i = {i} AND e.j = {j}"""
            for i in pairs_at(j)
        )
        out.append(f""", uvb{j} AS MATERIALIZED (
    SELECT word, cnt, n, score, k, s FROM (
        SELECT *, row_number() OVER (
            PARTITION BY word ORDER BY score DESC, k, s) AS rn
        FROM ({branches}))
    WHERE rn = 1
)""")
    finals = " UNION ALL ".join(
        f"SELECT word, cnt, k, s FROM uvb{j} WHERE n = {j}"
        for j in range(1, w_max + 1)
    )
    out.append(f"""
SELECT word, CAST(cnt AS BIGINT) AS cnt, CAST(k AS BIGINT) AS n_pieces,
       replace(s, ' ', '|') AS segmentation
FROM ({finals})
""")
    return "".join(out)


_UNIGRAM_SQL = _unigram_sql()


@register("unigram_token_stats", oracle=_UNIGRAM_SQL, driver=False)
def unigram_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi-segment the corpus' distinct-word table with the
    unigram-LM tokenizer: per word the piece count and the segmentation
    string.

    The query is the SERVING path — it encodes with the memoized model
    (unigram_model: training runs once per corpus per session), so
    per-query cost is the encode, not the EM fit. Oracle-backed since
    r11 (VERDICT r10 next-round #5): the DuckDB oracle re-derives the
    ENTIRE training schedule — all {PRUNE_ROUNDS}x{EM_ITERS}+{EM_ITERS}
    EM steps on the integer count grid, every prune, and the Viterbi
    serving chain — from first principles (module docstring)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return encode_unigram(word_freq_table(docs), unigram_model(spark, sf_dir))
