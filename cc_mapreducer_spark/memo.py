"""The one in-session memo for every artifact this package reuses.

Two kinds of entry share one store, one staleness rule, one rule for
dead sessions and one bound:

- ``persisted(df)``: a persisted DataFrame. Spark's CacheManager already
  finds cached data by canonical plan, so the frame's analyzed plan is
  its identity: rebuilding an equal plan and passing it here returns
  the frame persisted the first time. A standing artifact (the LSH
  index, the shingle table, a trained count model) feeds several
  consumers per query AND repeated invocations of the query (bench
  reps, driver sweeps); at 100 TB it is a materialized parquet table.
- ``value(spark, name, params, sources, build)``: a driver-side value
  (trained codebooks, trained models, scan widths, stream staging dirs,
  table schemas), keyed on ``(applicationId, name, params)``.

Correctness guards, enforced here and nowhere else:

- Staleness. Every entry records the signature of its source files,
  each as ``(path, mtime_ns, size)``. A lookup whose current signature
  differs drops the entry (unpersisting its frame) and rebuilds, so an
  in-session overwrite of a source, even in place under the same file
  name, never serves the old rows. Non-local paths contribute their
  name only.
- Dead sessions. Entries of a stopped session are dropped on the next
  access; their plan handles belong to a dead SparkContext.
- Bound. At most ``_MAX_ENTRIES`` entries are kept, least recently used
  evicted first; evicting a frame unpersists it, so the CacheManager
  holds at most that many of this package's frames.
- An externally cleared cache (``spark.catalog.clearCache()``) is
  re-persisted on the next access rather than silently downgrading
  every later invocation to recompute.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from collections.abc import Callable, Iterable
from typing import TypeVar
from urllib.parse import unquote, urlparse

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# Building every registered query once over one sf dir creates 42
# entries (measured at sf0.001: 22 frames, 10 table schemas, 10 other
# values, four of them trained tokenizer models); the cap leaves room for
# a second sf dir.
_MAX_ENTRIES = 96

# key -> (source signature, value)
_ENTRIES: OrderedDict[tuple, tuple[tuple, object]] = OrderedDict()


def _signature(paths: Iterable[str]) -> tuple:
    """``(path, mtime_ns, size)`` per source file; a local directory
    stands for the files under it."""
    out = []
    for p in paths:
        url = urlparse(p)
        if url.scheme not in ("", "file"):
            out.append((p, None, None))
            continue
        local = unquote(url.path)
        files = [local]
        if os.path.isdir(local):
            files = [os.path.join(d, f) for d, _, fs in os.walk(local) for f in fs]
        for f in files:
            try:
                st = os.stat(f)
                out.append((f, st.st_mtime_ns, st.st_size))
            except OSError:
                out.append((f, None, None))
    return tuple(sorted(out, key=lambda s: s[0]))


def _source_files(df: DataFrame) -> list[str]:
    """Files behind every file relation of the ANALYZED plan.
    ``df.inputFiles()`` reads the optimized plan, where a cached
    subtree is already an InMemoryRelation and lists no files."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files: list[str] = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            rel = leaf.relation()
            if rel.getClass().getSimpleName() == "HadoopFsRelation":
                files.extend(rel.location().inputFiles())
    return files


def _drop(key: tuple) -> None:
    _, val = _ENTRIES.pop(key)
    if isinstance(val, DataFrame):
        val.unpersist()


def _lookup(
    spark: SparkSession,
    key: tuple,
    sources: Iterable[str],
    build: Callable[[], T],
    valid: Callable[[T], bool] = lambda _: True,
) -> T:
    app = spark.sparkContext.applicationId
    for k in [k for k in _ENTRIES if k[0] != app]:
        del _ENTRIES[k]
    key = (app, *key)
    sig = _signature(sources)
    hit = _ENTRIES.get(key)
    if hit is not None:
        if hit[0] == sig and valid(hit[1]):
            _ENTRIES.move_to_end(key)
            return hit[1]
        _drop(key)
    val = build()
    _ENTRIES[key] = (sig, val)
    while len(_ENTRIES) > _MAX_ENTRIES:
        _drop(next(iter(_ENTRIES)))
    return val


def persisted(df: DataFrame) -> DataFrame:
    """``df`` persisted once per session and plan: a second build of an
    equal plan gets the frame persisted first (same rows, no new cache
    entry)."""
    plan = df._jdf.queryExecution().analyzed()

    def valid(hit: DataFrame) -> bool:
        return hit.storageLevel != StorageLevel.NONE and plan.sameResult(
            hit._jdf.queryExecution().analyzed()
        )

    return _lookup(
        df.sparkSession,
        ("frame", plan.semanticHash()),
        _source_files(df),
        df.persist,
        valid,
    )


def value(
    spark: SparkSession,
    name: str,
    params: tuple,
    sources: Iterable[str],
    build: Callable[[], T],
) -> T:
    """``build()`` once per ``(session, name, params)`` while the files
    (or directories) in ``sources`` are unchanged."""
    return _lookup(spark, (name, params), sources, build)
