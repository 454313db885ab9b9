"""Testdata table loaders.

One parquet file per table under an ``sf_dir`` (see TESTDATA.md). Loaders
return plain DataFrames; column pruning / predicate pushdown then happen
at the parquet scan via Catalyst — callers should select/filter early and
let the optimizer prune the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv2parquet_spark.session import ENGINE_CONFS

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def ensure_session_confs(spark: SparkSession) -> None:
    """Set :data:`~csv2parquet_spark.session.ENGINE_CONFS` defensively,
    so results are correct even under a caller-provided or child
    SparkSession."""
    for k, v in ENGINE_CONFS.items():
        spark.conf.set(k, v)


# Resolved-relation memo (r11 optimization): `spark.read.parquet` builds
# a fresh InMemoryFileIndex + reads the footer schema on EVERY call
# (~130 ms warm on this box) and the NTZ-cast projection pays another
# analysis round-trip (~100 ms) — driver-side METADATA work with no data
# movement, re-paid inside every timed query construction. Spark itself
# caches file listings per session for CATALOG tables
# (spark.sql.hive.filesourcePartitionFileCacheSize, guide §6); bare-path
# reads get no such cache, so we keep one here: the memo stores the
# resolved DataFrame (a logical plan handle — NOT data, NOT results;
# every action still scans parquet), keyed by (applicationId, path,
# mtime_ns, size) so a rewritten fixture or a new SparkContext misses.
_TABLE_MEMO: dict[tuple, DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        # Directory fixtures: a file rewritten IN PLACE inside the
        # directory leaves the dir's own mtime/size unchanged, so the
        # key also folds in the contained entries' stats (count, total
        # size, max mtime — the same metadata the file listing reads
        # anyway; ADVICE r11). The walk is recursive: a partitioned
        # table keeps its files under k=v/ subdirectories (ADVICE r12).
        dir_sig: tuple = ()
        if os.path.isdir(path):
            n = tot = newest = 0
            for root, dirs, files in os.walk(path):
                for entry in dirs + files:
                    est = os.stat(os.path.join(root, entry))
                    n += 1
                    tot += est.st_size
                    newest = max(newest, est.st_mtime_ns)
            dir_sig = (n, tot, newest)
        # id(spark) scopes the memo to the exact SparkSession wrapper: a
        # child session (newSession — own SQLConf, e.g. scanopt's DSv2
        # session) must never be handed a relation resolved under
        # another session's confs.
        key = (
            id(spark),
            spark.sparkContext.applicationId,
            os.path.abspath(path),
            st.st_mtime_ns,
            st.st_size,
            dir_sig,
        )
    except OSError:
        key = None  # unstat-able (remote URI): build fresh
    if key is not None and key in _TABLE_MEMO:
        # LRU touch: re-insertion keeps hot relations inside the size
        # bound below.
        df = _TABLE_MEMO.pop(key)
        _TABLE_MEMO[key] = df
        return df
    df = spark.read.parquet(path)
    # Parquet naive timestamps surface as TIMESTAMP_NTZ in Spark 4; with
    # the session pinned to UTC, casting to TIMESTAMP (LTZ) is
    # value-identical and keeps unix_millis / time-window functions
    # applicable. The cast is a zero-cost projection (no data rewrite),
    # built as ONE select so the analysis round-trip is paid once.
    casts = {
        f.name: F.col(f.name).cast(T.TimestampType())
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    }
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # events.ts stored as parquet TIMESTAMP(NANOS) → read as epoch-nanos
        # long (spark.sql.legacy.parquet.nanosAsLong) → truncate to micros.
        # Data generated with TIMESTAMP(MICROS) arrives as a timestamp
        # already (handled by the NTZ cast above) and skips this.
        # FLOOR division, not `ts div 1000`: DIV truncates toward zero,
        # so pre-epoch nanos with a sub-microsecond remainder would
        # round one microsecond LATE (review r8) — the pmod-subtract
        # form is exact floor for either sign (the kappa/grid-cell
        # pattern).
        casts["ts"] = F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) DIV 1000"))
    if casts:
        df = df.select(
            *[casts.get(f.name, F.col(f.name)).alias(f.name) for f in df.schema.fields]
        )
    if key is not None:
        _TABLE_MEMO[key] = df
        # Bound the memo (ADVICE r11: entries for stopped sessions were
        # never evicted — a slow leak in a long-lived multi-session
        # process). LRU over insertion order; 64 covers every
        # (session, table) pair a test run touches at once while
        # keeping dead-session plans collectable.
        while len(_TABLE_MEMO) > 64:
            _TABLE_MEMO.pop(next(iter(_TABLE_MEMO)))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL-flavored queries)."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
