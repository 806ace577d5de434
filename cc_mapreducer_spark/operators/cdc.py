"""Change-data-capture semantics: changelog -> snapshot, SCD2 history,
and copy-on-write MERGE into a partitioned parquet table.

The reference engine (/root/reference/src/index.js) is strictly
append-only batch — it has no notion of updates. A production corpus is
not: crawl re-fetches, label fixes, and takedown requests all arrive as
keyed changes, and a 100 TB table cannot be rebuilt per batch. These
operators supply the standard lakehouse answers as plain DataFrame
compositions:

  cdc_snapshot   changelog -> current state: latest version per key wins,
                 delete ops tombstone the key. ONE shuffle on the key
                 (row_number + per-key count share the same Exchange).
  scd2_history   type-2 slowly-changing dimension: consecutive runs of a
                 per-key attribute collapse into [valid_from, valid_to)
                 versions with an is_current flag. ONE shuffle on user_id
                 (the run-id cumsum, the run groupBy, and the valid_to
                 lead all reuse the user_id partitioning — groupBy
                 (user_id, run_id) is satisfied by HashPartitioning
                 (user_id), so Catalyst inserts no second Exchange).
  merge_upsert   generic keyed COW merge: base rows whose key appears in
                 the update batch are replaced (anti-join + union);
                 deletes drop the key.
  merge_into_partitioned
                 the 100 TB form: only partitions the update batch
                 actually touches are read (partition-pruned scan,
                 asserted in tests) and rewritten (stage-and-swap, the
                 replaceWhere shape) — untouched partition files stay
                 byte- and mtime-identical on disk.

The events table acts as the changelog: key = (user_id, item k from
props), version order = (ts, event_id), op = DELETE for 'error' events
(stand-in for a tombstone type), UPSERT otherwise.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cc_mapreducer_spark.registry import register
from cc_mapreducer_spark.tables import load_table

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"

# --------------------------------------------------------------------------
# changelog -> snapshot
# --------------------------------------------------------------------------

_CDC_SNAPSHOT_SQL = f"""
WITH keyed AS (
    SELECT user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS item_k,
           event_type, value, ts, event_id
    FROM events
), ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY user_id, item_k
                              ORDER BY ts DESC, event_id DESC) AS rn,
           count(*) OVER (PARTITION BY user_id, item_k) AS n_versions
    FROM keyed
)
SELECT user_id, item_k,
       event_type AS last_event_type,
       value AS last_value,
       strftime(ts, '{_TS_FMT_DUCK}') AS last_ts,
       n_versions
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
"""


@register("cdc_snapshot", oracle=_CDC_SNAPSHOT_SQL, driver=False)
def cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve a changelog to its current snapshot: per key (user_id,
    item_k), the highest-version row wins; keys whose latest op is a
    delete ('error') are tombstoned out entirely.

    Scale: one Exchange on the key. row_number and the per-key version
    count are windows over the SAME partition key, so they share it; no
    driver state, no join. At 100 TB this is the standard compaction job
    shape — AQE coalesces the post-shuffle partitions.
    """
    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("item_k"),
        "event_type",
        "value",
        "ts",
        "event_id",
    )
    key = Window.partitionBy("user_id", "item_k")
    ranked = keyed.select(
        "*",
        F.row_number()
        .over(key.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn"),
        F.count("*").over(key).alias("n_versions"),
    )
    return ranked.filter(
        (F.col("rn") == 1) & (F.col("event_type") != "error")
    ).select(
        "user_id",
        "item_k",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.date_format("ts", _TS_FMT_SPARK).alias("last_ts"),
        "n_versions",
    )


# --------------------------------------------------------------------------
# SCD2 history
# --------------------------------------------------------------------------

_SCD2_SQL = f"""
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
), runs AS (
    SELECT *,
           sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS run_id
    FROM ordered
), versions AS (
    SELECT user_id, run_id,
           min(event_type) AS state,
           min(ts) AS valid_from_ts,
           count(*) AS n_events
    FROM runs
    GROUP BY user_id, run_id
)
SELECT user_id,
       CAST(run_id AS BIGINT) AS version,
       state,
       strftime(valid_from_ts, '{_TS_FMT_DUCK}') AS valid_from,
       strftime(lead(valid_from_ts) OVER (PARTITION BY user_id
                                          ORDER BY run_id),
                '{_TS_FMT_DUCK}') AS valid_to,
       lead(valid_from_ts) OVER (PARTITION BY user_id
                                 ORDER BY run_id) IS NULL AS is_current,
       n_events
FROM versions
"""


@register("scd2_history", oracle=_SCD2_SQL, driver=False)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension over each user's event_type:
    consecutive runs of the same type collapse into one versioned row
    with [valid_from, valid_to) and is_current on the open version.

    Run detection is the standard gaps-and-islands cumsum (lag -> change
    flag -> running sum). Scale: ONE Exchange on user_id — the lag
    window, the cumsum window, the (user_id, run_id) groupBy, and the
    valid_to lead all reuse that partitioning (plan-asserted in tests).
    """
    e = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(order))
        .withColumn(
            "run_id",
            F.sum(
                F.when(
                    F.col("prev_type").isNull()
                    | (F.col("prev_type") != F.col("event_type")),
                    1,
                ).otherwise(0)
            ).over(order.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    versions = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from_ts"),
        F.count("*").alias("n_events"),
    )
    nxt = Window.partitionBy("user_id").orderBy("run_id")
    valid_to_ts = F.lead("valid_from_ts").over(nxt)
    return versions.select(
        "user_id",
        F.col("run_id").cast("bigint").alias("version"),
        "state",
        F.date_format("valid_from_ts", _TS_FMT_SPARK).alias("valid_from"),
        F.date_format(valid_to_ts, _TS_FMT_SPARK).alias("valid_to"),
        valid_to_ts.isNull().alias("is_current"),
        "n_events",
    )


# --------------------------------------------------------------------------
# keyed COW merge
# --------------------------------------------------------------------------


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    op_col: str = "_op",
) -> DataFrame:
    """MERGE a keyed update batch into a base snapshot, copy-on-write:

    * base rows whose key appears in ``updates`` are dropped (LEFT ANTI
      on the key — broadcast when the batch is small, which it is by
      construction in CDC),
    * update rows with op 'U' are inserted,
    * update rows with op 'D' only tombstone (their key vanishes).

    ``updates`` must carry the base schema plus ``op_col``. The result
    has exactly the base schema. No window, no sort: two scans and one
    (usually broadcast) join — the shape Delta/Iceberg MERGE lowers to.
    """
    update_keys = updates.select(*key_cols).dropDuplicates(key_cols)
    survivors = base.join(F.broadcast(update_keys), key_cols, "left_anti")
    inserts = updates.filter(F.col(op_col) == "U").select(*base.columns)
    return survivors.unionByName(inserts)


# Spark/Hive partition-directory encoding (ExternalCatalogUtils.
# escapePathName semantics): the swap logic below composes directory
# names itself, and they must meet the names Spark ACTUALLY writes —
# a raw f-string diverges for NULL values (__HIVE_DEFAULT_PARTITION__)
# and for any value containing a path-reserved char (/ : % = # ...),
# and the swap would then silently no-op, discarding the staged merge.
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_PATH_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^') | frozenset(
    chr(c) for c in range(0x20)
) | {chr(0x7F)}


def escape_partition_value(v) -> str:
    """Render a partition VALUE the way Spark names its directory:
    NULL -> __HIVE_DEFAULT_PARTITION__, reserved chars -> %XX (uppercase
    hex), everything else verbatim. Covers the string/int partition
    values used here; date-typed partitions stringify the same way."""
    if v is None:
        return _HIVE_DEFAULT_PARTITION
    return "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPE_CHARS else c for c in str(v)
    )


def _partition_dir(partition_col: str, v) -> str:
    return f"{partition_col}={escape_partition_value(v)}"


# --------------------------------------------------------------------------
# Journaled stage-and-swap (crash-safe multi-partition commit)
# --------------------------------------------------------------------------
#
# The swap loop replaces one partition directory at a time; without a
# journal, a crash mid-loop leaves a MIXED table (partition A new,
# partition B old) with no record of which is which and — worse — the
# old `finally: rmtree(staging)` destroyed the staged data the recovery
# would need. The journal makes the swap a roll-forward commit protocol
# (the miniature of Delta's commit log):
#
#   1. stage the merged partitions to a sibling directory,
#   2. atomically publish a journal file (`_swap_journal_<id>.json`,
#      tmp + os.replace) inside the table dir recording, per touched
#      partition, whether it is REPLACED (staged dir exists) or DELETED
#      (emptied by deletes). `_`-prefixed files are invisible to
#      Spark/Hadoop parquet discovery, so readers never see it as data.
#   3. swap each partition (rmtree old + same-FS atomic rename),
#   4. remove the journal (the commit point), THEN remove staging.
#
# Crash anywhere → `recover_interrupted_swap` restores a consistent
# table: before step 2 there is no journal, the table is untouched (old
# state) and the orphan staging dir is garbage-collected; after step 2
# the journal + staging carry everything needed to roll FORWARD to the
# new state (a staged dir missing its source was already moved; replays
# are idempotent). Single-writer per table, like every local-FS rendition
# of a lakehouse commit; an object store swaps this file dance for the
# table format's transactional commit.

_JOURNAL_PREFIX = "_swap_journal_"
_STAGING_MARKERS = ("_merge_", "_stage_")


def _journal_path(base_path: str, swap_id: str) -> str:
    return os.path.join(base_path, f"{_JOURNAL_PREFIX}{swap_id}.json")


def _publish_swap_journal(
    base_path: str, staging: str, dir_names: list[str]
) -> str:
    """Atomically write the swap-intent journal; returns its path."""
    import json
    import tempfile

    actions = [
        {
            "name": name,
            "action": (
                "replace"
                if os.path.isdir(os.path.join(staging, name))
                else "delete"
            ),
        }
        for name in dir_names
    ]
    journal = {"staging": staging, "actions": actions}
    swap_id = os.path.basename(staging).rsplit("_", 1)[-1]
    os.makedirs(base_path, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=base_path, prefix="_swap_tmp_")
    with os.fdopen(fd, "w") as f:
        json.dump(journal, f)
    path = _journal_path(base_path, swap_id)
    os.replace(tmp, path)
    return path


def _apply_swap(base_path: str, journal: dict) -> None:
    """Roll the journaled swap forward. Idempotent: a 'replace' whose
    staged source is gone was already moved in a prior attempt."""
    import shutil

    staging = journal["staging"]
    for a in journal["actions"]:
        dst = os.path.join(base_path, a["name"])
        if a["action"] == "delete":
            shutil.rmtree(dst, ignore_errors=True)
            continue
        src = os.path.join(staging, a["name"])
        if os.path.isdir(src):
            shutil.rmtree(dst, ignore_errors=True)
            shutil.move(src, dst)


def _journaled_swap(base_path: str, staging: str, dir_names: list[str]) -> None:
    """Publish the journal, swap, commit (remove journal), clean staging."""
    import shutil

    jpath = _publish_swap_journal(base_path, staging, dir_names)
    with open(jpath) as f:
        import json

        journal = json.load(f)
    _apply_swap(base_path, journal)
    os.remove(jpath)  # commit point: table is fully new
    shutil.rmtree(staging, ignore_errors=True)


def recover_interrupted_swap(base_path: str) -> list[str]:
    """Self-heal a table whose stage-and-swap crashed mid-commit.

    Journal present  → roll the swap FORWARD (staging still holds every
                       not-yet-moved partition), then commit + clean.
    Journal present, staging gone → the swap finished but the crash hit
                       between journal removal and staging cleanup; just
                       drop the journal.
    No journal       → the crash predates the publish: the table is the
                       intact OLD state; orphan staging siblings are
                       garbage-collected.

    Returns the list of journal/staging paths it acted on. Callers
    (merge_into_partitioned, merge_cdc_batch) invoke this before
    touching the table, so an interrupted merge never compounds."""
    import glob
    import json
    import shutil

    acted: list[str] = []
    if os.path.isdir(base_path):
        for jpath in sorted(
            glob.glob(os.path.join(base_path, f"{_JOURNAL_PREFIX}*.json"))
        ):
            with open(jpath) as f:
                journal = json.load(f)
            if os.path.isdir(journal["staging"]):
                _apply_swap(base_path, journal)
                shutil.rmtree(journal["staging"], ignore_errors=True)
            os.remove(jpath)
            acted.append(jpath)
    # orphan staging siblings (crash before journal publish, or stranded
    # by pre-journal code): old state is intact, the stage is garbage
    base = base_path.rstrip("/")
    parent, stem = os.path.dirname(base) or ".", os.path.basename(base)
    if os.path.isdir(parent):
        for entry in os.listdir(parent):
            full = os.path.join(parent, entry)
            if full == base or not os.path.isdir(full):
                continue
            if any(
                entry.startswith(f"{stem}{m}") for m in _STAGING_MARKERS
            ) and not os.path.exists(
                _journal_path(base_path, entry.rsplit("_", 1)[-1])
            ):
                shutil.rmtree(full, ignore_errors=True)
                acted.append(full)
    return acted


def merge_into_partitioned(
    spark: SparkSession,
    base_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    op_col: str = "_op",
) -> list:
    """Partition-pruned copy-on-write MERGE into a hive-partitioned
    parquet table — the form that survives 100 TB:

    1. collect the DISTINCT partition values the update batch touches
       (a handful of scalars — the one legitimate driver collect),
    2. read ONLY those partitions (an IN filter the scan prunes on;
       PartitionFilters asserted in tests),
    3. merge_upsert within them,
    4. stage the merged partitions to a sibling directory, then swap
       each touched partition dir into place — untouched partitions are
       never read OR rewritten (byte- and mtime-identical on disk).

    Stage-and-swap rather than dynamic partition overwrite, for two
    reasons: overwriting the path being read races the lazy scan, and
    dynamic mode only replaces partitions PRESENT in the output — a
    delete that empties a partition would leave its stale files behind.
    The swap is the local-FS rendition of Delta/Iceberg replaceWhere; on
    an object store the same shape runs through the table format's
    commit protocol instead of rename.

    Returns the touched partition values.
    """
    import shutil
    import uuid

    recover_interrupted_swap(base_path)  # self-heal an interrupted merge
    touched = [
        r[0]
        for r in updates.select(partition_col).dropDuplicates().collect()
    ]
    # isin() never matches NULL — a null partition value needs its own
    # isNull() disjunct or its existing rows would be invisible to the
    # merge while the swap still replaces the __HIVE_DEFAULT_PARTITION__
    # directory.
    non_null = [v for v in touched if v is not None]
    cond = F.col(partition_col).isin(non_null)
    if len(non_null) < len(touched):
        cond = cond | F.col(partition_col).isNull()
    base = spark.read.parquet(base_path).filter(cond)
    merged = merge_upsert(base, updates, key_cols, op_col=op_col)
    staging = f"{base_path.rstrip('/')}_merge_{uuid.uuid4().hex[:8]}"
    try:
        (
            merged.repartition(partition_col)
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(staging)
        )
        # Fail-fast cross-check: every partition directory Spark staged
        # must decode to a touched value. A staged dir we don't expect
        # means our name rendering diverged from Spark's — proceeding
        # would discard that partition's merge with the staging dir.
        expected = {_partition_dir(partition_col, v) for v in touched}
        staged = {
            e
            for e in os.listdir(staging)
            if e.startswith(f"{partition_col}=")
        }
        if staged - expected:
            raise RuntimeError(
                f"staged partitions {sorted(staged - expected)} do not "
                f"match any touched value {sorted(map(str, touched))} — "
                "partition-path naming drift; aborting before the swap "
                "silently drops them"
            )
    except BaseException:
        # staging never published: the table is the intact old state
        shutil.rmtree(staging, ignore_errors=True)
        raise
    # Journaled commit: a crash inside leaves journal + staging behind,
    # and the next merge (or recover_interrupted_swap) rolls it forward —
    # the table is always observably all-old or all-new, never mixed.
    _journaled_swap(
        base_path,
        staging,
        [_partition_dir(partition_col, v) for v in touched],
    )
    return touched


# --------------------------------------------------------------------------
# SCD2 point-in-time join
# --------------------------------------------------------------------------

_PIT_SQL = f"""
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
), runs AS (
    SELECT *,
           sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS run_id
    FROM ordered
), versions AS (
    SELECT user_id, run_id,
           min(event_type) AS state,
           min({{'t': ts, 'i': event_id}}) AS start_key
    FROM runs GROUP BY user_id, run_id
), bounded AS (
    SELECT *,
           lead(start_key) OVER (PARTITION BY user_id
                                 ORDER BY run_id) AS next_key
    FROM versions
), purchases AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '{_TS_FMT_DUCK}') AS purchase_ts,
       b.state AS state_at_purchase,
       CAST(b.run_id AS BIGINT) AS state_version
FROM purchases p JOIN bounded b
  ON b.user_id = p.user_id
 AND {{'t': p.ts, 'i': p.event_id}} >= b.start_key
 AND (b.next_key IS NULL OR {{'t': p.ts, 'i': p.event_id}} < b.next_key)
"""


@register("scd2_point_in_time", oracle=_PIT_SQL, driver=False)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join — the feature-store correctness read: each
    purchase event tagged with the SCD2 state version that was valid AT
    the event (training a model on the CURRENT state leaks the future;
    this is the leak-free form).

    Version boundaries compare on the COMPOSITE (ts, event_id) run-start
    key, not the timestamp alone: with ts-only half-open intervals, two
    same-microsecond events straddling a run boundary give the
    purchase's own run an empty [valid_from, valid_to) and the purchase
    would bind to the NEXT version — a future leak exactly at the tie
    instant (regression-tested with a planted collision). Both engines
    compare the composite as a lexicographic struct.

    Plan shape: an equi-join on user_id carries the shuffle; the range
    condition is a join-side filter, so Catalyst plans a hash join,
    never a nested loop (same shape as temporal's interval join).

    The purchase's own event is part of the history it joins against
    (every event opens or extends a run), so every purchase matches
    exactly ONE version — its own run — even under timestamp ties.
    """
    e = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(order))
        .withColumn(
            "run_id",
            F.sum(
                F.when(
                    F.col("prev_type").isNull()
                    | (F.col("prev_type") != F.col("event_type")),
                    1,
                ).otherwise(0)
            ).over(order.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    versions = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("state"),
        F.min(
            F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i"))
        ).alias("start_key"),
    )
    bounded = versions.withColumn(
        "next_key",
        F.lead("start_key").over(
            Window.partitionBy("user_id").orderBy("run_id")
        ),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"),
        F.col("user_id").alias("p_user"),
        F.date_format("ts", _TS_FMT_SPARK).alias("purchase_ts"),
        F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i")).alias(
            "p_key"
        ),
    )
    return p.join(
        bounded,
        (bounded.user_id == p.p_user)
        & (p.p_key >= bounded.start_key)
        & (bounded.next_key.isNull() | (p.p_key < bounded.next_key)),
    ).select(
        "event_id",
        "user_id",
        "purchase_ts",
        F.col("state").alias("state_at_purchase"),
        F.col("run_id").cast("bigint").alias("state_version"),
    )
