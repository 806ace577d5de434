"""Output checks, run outside every timed region.

- ``anagram_reference``: the anagram output lines computed in pure Python
  from the generated text files.
- ``fingerprint``: an order-insensitive digest of a result table (columns
  sorted by name, rows sorted by their canonical form), so a Spark result
  and a DuckDB oracle result compare by row count plus values.
"""

from __future__ import annotations

import hashlib
import math
import re
from datetime import date, datetime

_TOKEN = re.compile(r"[a-z]+")


def anagram_reference(paths: list[str], stop_words: list[str]) -> list[str]:
    """The lines ``sig: { w1, w2 }`` of every anagram group with at least
    two distinct words: tokens are maximal [a-z] runs of the lower-cased
    text, longer than one letter and not stop words."""
    stop = frozenset(stop_words)
    groups: dict[str, set[str]] = {}
    for path in paths:
        with open(path, encoding="ascii") as f:
            for word in _TOKEN.findall(f.read().lower()):
                if len(word) > 1 and word not in stop:
                    groups.setdefault("".join(sorted(word)), set()).add(word)
    return sorted(f"{sig}: {{ {', '.join(sorted(ws))} }}"
                  for sig, ws in groups.items() if len(ws) > 1)


def lines_fingerprint(lines: list[str]) -> tuple[int, str]:
    return len(lines), hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def _canon(v) -> str:
    if v is None:
        return "∅"
    if hasattr(v, "tolist") and not isinstance(v, (bytes, str)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def frame_fingerprint(pdf) -> tuple[int, str]:
    """(row count, digest) of a pandas frame, independent of column and
    row order. Timestamps compare as ISO strings, floats exactly."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon(v.to_pydatetime() if hasattr(v, "to_pydatetime") else v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(("\x1e".join(cols) + "\x1d").encode())
    h.update("\x1e".join(rows).encode())
    return len(rows), h.hexdigest()


def oracle_fingerprints(data_dir: str, tables: list[str], oracles: dict[str, str]) -> dict:
    """Run each DuckDB oracle over the generated parquet tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {name: frame_fingerprint(con.sql(sql).df()) for name, sql in oracles.items()}
    finally:
        con.close()
