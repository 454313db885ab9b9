"""Streaming sinks beyond append: keyed upsert into a parquet snapshot
via ``foreachBatch`` (SURVEY.md §2.6 extension — the reference has no
streaming at all, and Spark's parquet sink is append-only).

Pattern: each micro-batch is merged into the current snapshot with
last-writer-wins semantics on the key, and the new snapshot is swapped
in atomically (write to versioned dir + repoint a manifest). This is the
standard lakehouse-lite upsert loop; with a table format (Delta/Iceberg)
``MERGE INTO`` replaces the swap, but the batch-side plan — broadcast or
shuffle join on the key, one snapshot rewrite per trigger — is the same.

Scale notes: the merge joins snapshot × batch on the key; Spark picks a
broadcast join while the BATCH side is small (the common case — a
micro-batch is minutes of data, the snapshot is the history). The
snapshot rewrite is the cost: at 100 TB you partition the snapshot by a
key prefix/date and rewrite only partitions the batch touches (the
``partition_col`` hook), which turns the rewrite into touched-partition
I/O instead of a full-table pass.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_CURRENT"


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame | None:
    """Current snapshot DataFrame, or None before the first batch.

    ``version`` (flat layout only) time-travels to a specific retained
    snapshot: the sink keeps the current version plus its predecessor
    (``_swap_in`` prunes older ones), so any retained ``vN`` directory
    is readable as-of that batch. Requesting a pruned (or never
    written) version raises ``ValueError`` with the retained list —
    the Delta-style time-travel contract scoped to this sink's
    retention window.

    Handles both layouts: flat (``root/vN``, one manifest) and
    partitioned (``root/<col>=<val>/vN``, one manifest per partition —
    see :func:`upsert_batch` ``partition_col``)."""
    if version is not None:
        if os.path.isdir(root) and any(
            "=" in d and os.path.isdir(os.path.join(root, d))
            for d in os.listdir(root)
        ):
            raise ValueError(
                "time travel (version=) is only supported for the flat "
                "layout; this root uses per-partition sub-snapshots"
            )
        cur = _current_version(root)
        vdir = os.path.join(root, f"v{version}")
        # Require the version to be COMMITTED (<= manifest) as well as
        # present on disk: a crashed or in-flight upsert leaves an
        # uncommitted v{N} directory that must never be served.
        if cur is None or version > cur or not os.path.isdir(vdir):
            retained = (
                sorted(
                    (
                        d
                        for d in os.listdir(root)
                        if d.startswith("v")
                        and d[1:].isdigit()
                        and int(d[1:]) <= (cur if cur is not None else -1)
                    ),
                    key=lambda d: int(d[1:]),
                )
                if os.path.isdir(root)
                else []
            )
            raise ValueError(
                f"snapshot v{version} is not retained at {root} "
                f"(retained: {retained or 'none'}) — the sink keeps the "
                "current version and its predecessor, and only committed "
                "versions are readable"
            )
        return spark.read.parquet(vdir)
    m = os.path.join(root, _MANIFEST)
    if os.path.exists(m):
        with open(m) as f:
            return spark.read.parquet(os.path.join(root, f.read().strip()))
    if not os.path.isdir(root):
        return None
    parts = [
        d
        for d in sorted(os.listdir(root))
        if "=" in d and os.path.exists(os.path.join(root, d, _MANIFEST))
    ]
    if not parts:
        return None
    dfs = []
    for d in parts:
        with open(os.path.join(root, d, _MANIFEST)) as f:
            dfs.append(spark.read.parquet(os.path.join(root, d, f.read().strip())))
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def _swap_in(root: str, version: int) -> None:
    tmp = os.path.join(root, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        f.write(f"v{version}")
    os.replace(tmp, os.path.join(root, _MANIFEST))  # atomic repoint
    # GC superseded snapshots: keep the two HIGHEST retained versions,
    # not `>= version - 1` — per-partition versions are global batch
    # ids, so a partition touched at batches 3 and 9 has versions
    # {3, 9}; numeric version-1 arithmetic would delete v3 (the
    # just-superseded snapshot a concurrent reader may have resolved an
    # instant ago) at the v9 swap (review r8).
    versions = sorted(
        int(d[1:])
        for d in os.listdir(root)
        if d.startswith("v") and d[1:].isdigit() and int(d[1:]) <= version
    )
    for v in versions[:-2]:
        shutil.rmtree(os.path.join(root, f"v{v}"), ignore_errors=True)


def _current_version(root: str) -> int | None:
    m = os.path.join(root, _MANIFEST)
    if not os.path.exists(m):
        return None
    with open(m) as f:
        v = f.read().strip()
    return int(v[1:]) if v.startswith("v") and v[1:].isdigit() else None


def upsert_batch(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    key: str,
    version: int,
    partition_col: str | None = None,
    keep: str = "last",
) -> None:
    """Merge one batch into the snapshot. ``keep="last"`` (default,
    upsert semantics): across batches the newer batch wins via
    anti-join; within a batch the row with the highest ``__seq`` wins
    if the column is present (ties on ``__seq`` are arbitrary; without
    it the within-batch winner is arbitrary). ``keep="first"`` (dedup
    semantics — corpus ingestion): a key already in the snapshot is
    NEVER replaced; only genuinely new keys append.

    ``partition_col`` is the 100 TB path: the snapshot lives as one
    independently-versioned sub-snapshot per partition value
    (``root/<col>=<val>/vN`` + per-partition manifest), and a batch
    rewrites ONLY the partitions it touches — the merge cost tracks the
    batch's partition spread (e.g. a few recent dates), not the history.
    The touched-partition list is collected driver-side: it is
    batch-sized metadata (distinct partition values), never corpus data.
    Keys must not move between partitions (the usual date/tenant
    partitioning contract — a moved key would survive in its old
    partition).

    Idempotent against crash-after-swap replays: if the (per-partition)
    manifest already points at this ``version`` or newer, the batch was
    fully applied before the streaming checkpoint committed — re-merging
    would read the v{version} snapshot while overwriting the same
    directory (which Spark rejects, wedging the stream on every
    restart), so the replay is a no-op instead."""
    if partition_col is not None:
        touched = [
            r[0] for r in batch.select(partition_col).distinct().collect()
        ]
        for val in sorted(touched, key=str):
            # eqNullSafe, NOT ==: a NULL partition value makes the plain
            # equality filter NULL for every row, silently dropping the
            # whole NULL sub-batch (review r8). NULLs get their own
            # sub-snapshot under the hive-style default-partition name.
            sub = batch.filter(F.col(partition_col).eqNullSafe(F.lit(val)))
            dirname = (
                f"{partition_col}=__HIVE_DEFAULT_PARTITION__"
                if val is None
                else f"{partition_col}={val}"
            )
            upsert_batch(
                spark,
                os.path.join(root, dirname),
                sub,
                key,
                version,
                keep=keep,
            )
        return
    os.makedirs(root, exist_ok=True)
    cur_v = _current_version(root)
    if cur_v is not None and cur_v >= version:
        return
    current = read_snapshot(spark, root)
    if "__seq" in batch.columns:
        from pyspark.sql.window import Window

        w = Window.partitionBy(key).orderBy(F.desc("__seq"))
        fresh = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        fresh = batch.dropDuplicates([key])
    if current is None:
        merged = fresh
    elif keep == "first":
        merged = current.unionByName(
            fresh.join(current.select(key), key, "left_anti")
        )
    else:
        merged = current.join(fresh.select(key), key, "left_anti").unionByName(fresh)
    merged.write.mode("overwrite").parquet(os.path.join(root, f"v{version}"))
    _swap_in(root, version)


def streaming_upsert_to_parquet(
    spark: SparkSession,
    stream: DataFrame,
    root: str,
    key: str,
    checkpoint_dir: str,
    partition_col: str | None = None,
    keep: str = "last",
):
    """Drive a stream into the upsert snapshot with exactly-once batches
    (foreachBatch + checkpoint; already-applied versions short-circuit,
    so crash replays are idempotent). ``partition_col`` switches to the
    partitioned snapshot layout — each batch rewrites only the
    partitions it touches. ``keep`` selects upsert ("last") vs dedup
    ("first") merge semantics."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        upsert_batch(spark, root, batch, key, int(batch_id), partition_col, keep=keep)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
