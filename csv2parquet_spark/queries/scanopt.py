"""Scan-level optimization showcases — the two parquet features that
change the 100 TB cost model *before* a single row is read:

* **Aggregate pushdown** (``spark.sql.parquet.aggregatePushdown`` —
  note the lowercase ``d``; Spark accepts misspelled conf keys
  silently, so the camel-cased variant is a no-op):
  COUNT/MIN/MAX answered from row-group footer statistics through the
  DSv2 ``ParquetScan`` — a full-table profile becomes a metadata-only
  job (footers are KBs; the table is TBs). The plan's ``BatchScan``
  carries ``PushedAggregation: [COUNT(*), MIN(...), ...]`` and reads
  zero data pages (pinned in ``tests/test_plans.py``).

* **Dynamic partition pruning** (DPP): a date-partitioned fact joined
  to a dim that is only known selective at RUNTIME still prunes fact
  partitions — Spark broadcasts the dim's join keys and injects them
  as a ``dynamicpruningexpression`` into the fact scan's
  ``PartitionFilters``. The 100 TB effect: a "revenue on incident
  days" join scans the incident days' partitions, not the year.

Both correctness claims are oracle-checked the normal way (the
optimizations are result-invariant); the OPTIMIZATION claims are
plan-asserted, because a correct-but-unpruned scan is precisely the
failure mode these exist to prevent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2parquet_spark.queries.helpers import sql_dsum
from csv2parquet_spark.queries.registry import register
from csv2parquet_spark.tables import ensure_session_confs, table


def footer_stats_session(spark: SparkSession) -> SparkSession:
    """A child session (shared SparkContext, OWN SQLConf) configured for
    metadata-only aggregates: parquet aggregate pushdown needs the DSv2
    read path, so the v1 fallback list is cleared — scoped to the child
    so the main session's (proven) plans are untouched. Engine-required
    confs (UTC, nanos-as-long) are copied over.
    """
    s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    ensure_session_confs(s2)
    return s2


@register(
    "agg_pushdown_footer_stats",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_key,
           CAST(max(l_orderkey) AS BIGINT) AS max_key,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem
    """,
)
def agg_pushdown_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table COUNT/MIN/MAX profile answered from parquet footer
    statistics (no data pages): the every-morning "how big is the
    table, what key/value range does it span" health check that should
    cost metadata, not a 100 TB scan.

    Pushdown eligibility is deliberately part of the design: plain
    MIN/MAX/COUNT aggregates with plain aliases over statistics-trusted
    physical types (INT64, DOUBLE). Spark refuses to push timestamp
    MIN/MAX (parquet timestamp stats aren't trusted across writers) and
    any expression layered onto the aggregate collapses into its result
    expressions and disables the match — both discovered empirically
    and pinned in ``tests/test_plans.py``, where the plan must carry
    the full ``PushedAggregation`` list and a ReadSchema of aggregate
    RESULTS (no data columns).
    """
    s2 = footer_stats_session(spark)
    li = s2.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


def write_day_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the day-partitioned copy of ``events`` DPP prunes
    against (one parquet file per day directory — the layout a real
    ingest pipeline maintains). Write-once per source state: the
    output path is keyed by the source file's (size, mtime), so a
    regenerated testdata set gets a fresh copy while repeat calls —
    including the bench's warm + timed runs — reuse the existing one
    and the timed region measures the JOIN, not fixture setup.
    Concurrent-safe: the copy is written to a per-PID staging dir and
    atomically renamed into place; a loser of the rename race just
    uses the winner's (identical, deterministic) copy.
    """
    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    st = os.stat(src)
    key = f"{os.path.basename(os.path.abspath(sf_dir))}-{st.st_size}-{int(st.st_mtime)}"
    out = os.path.join("/tmp", "csv2parquet_spark_dpp", key)
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    staging = f"{out}.staging.{os.getpid()}"
    ev = table(spark, sf_dir, "events")
    (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
        .repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(staging)
    )
    try:
        os.rename(staging, out)
    except OSError:
        # another process won the race with the identical copy
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
    return out


@register(
    "dpp_partitioned_days",
    oracle=f"""
    WITH dim AS (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day
      FROM events WHERE event_type = 'error' AND value > 190
    )
    SELECT e.event_type,
           count(*) AS n_events,
           {sql_dsum("e.value", "sum_value")}
    FROM events e
    JOIN dim ON strftime(e.ts, '%Y-%m-%d') = dim.day
    GROUP BY e.event_type
    """,
)
def dpp_partitioned_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity breakdown on "incident days" (days with an error event
    over value 190) — the fact side reads the DAY-PARTITIONED events
    copy, and the incident-day dim is only computable at runtime, so
    partition pruning happens via DPP: a broadcast of the dim's days is
    injected into the fact scan's ``PartitionFilters`` as a
    ``dynamicpruningexpression`` (plan-asserted). At 100 TB the fact
    scan touches the incident days' directories, not the full history.

    The oracle recomputes the same join from the raw (unpartitioned)
    table — the result is layout-invariant; only the scan cost is not.
    """
    out = write_day_partitioned_events(spark, sf_dir)
    fact = spark.read.parquet(out)
    dim = (
        table(spark, sf_dir, "events")
        .where((F.col("event_type") == "error") & (F.col("value") > 190))
        .select(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .distinct()
    )
    joined = fact.join(dim.hint("broadcast"), "day")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


def bloom_join_session(spark: SparkSession) -> SparkSession:
    """A child session (shared SparkContext, OWN SQLConf — the
    footer_stats_session pattern) tuned so Spark's runtime bloom-filter
    injection triggers at fixture scale: the application-side scan
    threshold defaults to 10 GB (nothing local qualifies), and the
    broadcast fallback must be off or the join never shuffles. Scoped
    to the child so the main session's proven plans are untouched."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1KB",
    )
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ensure_session_confs(s2)
    return s2


@register(
    "runtime_bloom_filter_join",
    oracle="""
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 97 = 0
    GROUP BY l.l_returnflag
    """,
)
def runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact-dim shuffle join with Spark's RUNTIME BLOOM
    FILTER injected on the fact side — the third scan-level optimization
    in the family (after footer-stats aggregate pushdown and dynamic
    partition pruning): when one join side is small and selective,
    Catalyst builds a bloom filter over its join keys as a subquery and
    evaluates BloomFilterMightContain against the big side's keys
    BEFORE the shuffle, so at 100 TB the fact table's non-matching rows
    die map-side instead of crossing the wire. test_plans.py pins
    bloom_filter_agg + BloomFilterMightContain in the executed plan
    (AQE gotcha: inspect THIS df's own QueryExecution after collect).

    The filter ('~1% of orders') is runtime-opaque on purpose — a
    static predicate on the fact side would be ordinary pushdown; the
    bloom filter is how the ORDER-KEY selectivity reaches lineitem.
    Result is conf-invariant (the oracle is the plain join); only the
    shuffle volume is not."""
    s2 = bloom_join_session(spark)
    li = s2.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    o = (
        s2.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey")
        .where(F.col("o_orderkey") % 97 == 0)
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
    )


def write_two_generation_orders(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the two-generation orders table the schema-evolution
    query reads: generation 1 (orders before 1995) was written BEFORE
    the pipeline started capturing ``o_orderpriority``; generation 2
    (1995 onward) carries the added column — the additive-column
    evolution every long-lived ingest dataset accumulates. Same
    write-once / atomic-rename discipline as the DPP fixture: keyed by
    the source file's (size, mtime), so bench warm+timed runs reuse it
    and the timed region measures the READ, not setup.
    """
    src = os.path.join(os.path.abspath(sf_dir), "orders.parquet")
    st = os.stat(src)
    # v2: generations carry o_orderdate and the split is TOTAL
    # (NULL dates belong to the current generation) — bump the cache
    # key so stale v1 fixtures are never reused.
    key = f"{os.path.basename(os.path.abspath(sf_dir))}-{st.st_size}-{int(st.st_mtime)}-v2"
    out = os.path.join("/tmp", "csv2parquet_spark_evolve", key)
    if os.path.exists(os.path.join(out, "gen2", "_SUCCESS")):
        return out
    staging = f"{out}.staging.{os.getpid()}"
    o = table(spark, sf_dir, "orders")
    cut = F.col("o_orderdate") < "1995-01-01"
    # The split must be TOTAL: a NULL date is UNKNOWN, and where(cut)/
    # where(~cut) would drop it from BOTH generations (NULL-twin audit
    # r10 — rows silently vanishing from a dataset split). Contract: a
    # row of unknown date belongs to the CURRENT generation (the one
    # whose schema captures every column).
    (
        o.where(cut)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .write.mode("overwrite")
        .parquet(os.path.join(staging, "gen1"))
    )
    (
        o.where(~cut | F.col("o_orderdate").isNull())
        .select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
            "o_orderpriority",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(staging, "gen2"))
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    try:
        os.rename(staging, out)
    except OSError:
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
    return out


@register(
    "merge_schema_evolution_read",
    oracle=f"""
    SELECT CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                THEN '<pre-evolution>' ELSE o_orderpriority END AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')}
    FROM orders GROUP BY 1
    """,
)
def merge_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read across an additive schema evolution: old parquet files lack
    ``o_orderpriority``; ``mergeSchema=true`` unions the footers into
    the superset schema and back-fills the missing column with NULL —
    no rewrite of the old files (the operation every 100 TB dataset
    needs when a column is added years in; rewriting history is the
    thing you can't afford). The aggregate labels pre-evolution rows
    explicitly, and the oracle recomputes the same split from the raw
    table — the merged read must be exactly equivalent.

    Scale note: schema merging reads FOOTERS of (a sample of) files at
    planning time — metadata cost, not data cost; the scan itself
    stays pruned/pushed-down as usual.
    """
    root = write_two_generation_orders(spark, sf_dir)
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(root, "gen1"), os.path.join(root, "gen2"))
    )
    # Label from the GENERATION condition (the date), not from
    # NULL-ness: with mergeSchema a back-filled pre-evolution NULL and
    # a genuinely-NULL post-evolution value are indistinguishable, and
    # coalesce would silently fold real NULLs into '<pre-evolution>'
    # (NULL-twin audit r10). NULL-priority gen2 rows form their own
    # NULL group, exactly as the oracle's CASE does.
    return merged.groupBy(
        F.when(F.col("o_orderdate") < "1995-01-01", "<pre-evolution>")
        .otherwise(F.col("o_orderpriority"))
        .alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Continuous ingestion: the --incremental-manifest contract as a QUERY
# ---------------------------------------------------------------------------
def _source_digest(directory: str) -> str:
    """Short digest of the ``*.py`` sources in ``directory`` (names and
    contents, in name order)."""
    import glob
    import hashlib

    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(directory, "*.py"))):
        h.update(os.path.basename(path).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def _ingest_root(name: str = "v1", digest: str | None = None) -> str:
    """Per-uid fixture root (ADVICE r7): the old fixed
    /tmp/csv2parquet_spark_ingest lived under a world-writable parent,
    so on a shared host a stale or foreign-planted directory with a
    _DONE marker would be silently read. Scoping by uid and verifying
    ownership before trusting _DONE closes that.

    The root's name carries ``digest``, by default that of the
    converter's sources: a fixture is built once and reused while its
    _DONE marker exists, so without it a converter change would keep
    reading a dataset that older code wrote."""
    import tempfile

    from csv2parquet_spark import converter

    if digest is None:
        digest = _source_digest(os.path.dirname(converter.__file__))

    base = os.path.join(
        tempfile.gettempdir(), f"csv2parquet_spark_ingest_uid{os.getuid()}"
    )
    # Create the base HERE, before any staging path nests under it —
    # makedirs(mode=0o700) at rename time was a no-op because staging
    # had already created the dir with umask perms (review r8). chmod
    # makes it umask- and pre-existing-dir-proof, and fails loudly
    # (EPERM) if the path is squatted by another uid.
    os.makedirs(base, mode=0o700, exist_ok=True)
    os.chmod(base, 0o700)
    return os.path.join(base, f"{name}-{digest}")


def build_ingest_fixture(spark: SparkSession, compacted: bool) -> str:
    """Materialize a 3-run ``convert_incremental`` dataset once
    (write-once + atomic rename, the write_day_partitioned_events
    pattern): run 1 drops a.csv + b.csv (batch=0), run 2 adds c.csv
    (batch=1), run 3 CHANGES a.csv (batch=2 reconverts it — same path,
    new size/mtime). The committed layout is the append-only
    ``out/batch=n/<stem>.parquet/part-*.parquet`` contract of
    converter/incremental.py; a.csv's rows exist in BOTH batch 0 and
    batch 2, which is exactly what last-batch-wins readers must
    resolve. Content is fixed (not SF-derived) so the oracle SQL can
    carry the absolute path.

    ``compacted`` builds the ``v2_compacted`` root instead of ``v1``:
    after the three runs ``compact_incremental`` folds batches 0–2
    into batch=3 (the reconciled latest state, one dir) and
    ``gc_batches`` deletes the superseded dirs."""
    import shutil

    root = _ingest_root("v2_compacted" if compacted else "v1")
    done = os.path.join(root, "_DONE")
    if os.path.exists(done):
        st = os.stat(root)
        if st.st_uid != os.getuid():
            raise RuntimeError(
                f"ingest fixture {root} exists but is owned by uid "
                f"{st.st_uid}, not {os.getuid()} — refusing to trust a "
                "foreign _DONE marker"
            )
        return root
    from csv2parquet_spark.converter.incremental import (
        compact_incremental,
        convert_incremental,
        gc_batches,
    )

    staging = f"{root}.staging.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    src = os.path.join(staging, "in")
    out = os.path.join(staging, "out")
    manifest = os.path.join(staging, "manifest.json")
    os.makedirs(src, exist_ok=True)

    def drop(name: str, rows: list[tuple[int, int]]) -> None:
        with open(os.path.join(src, name), "w") as f:
            f.write("k,v\n" + "".join(f"{k},{v}\n" for k, v in rows))

    drop("a.csv", [(1, 10), (2, 20), (3, 30)])
    drop("b.csv", [(4, 40), (5, 50)])
    convert_incremental(spark, src, out, manifest)          # batch 0
    drop("c.csv", [(6, 60), (7, 70)])
    convert_incremental(spark, src, out, manifest)          # batch 1
    drop("a.csv", [(1, 11), (2, 22), (3, 33), (8, 88)])     # changed
    convert_incremental(spark, src, out, manifest)          # batch 2
    if compacted:
        res = compact_incremental(spark, out, manifest)     # batch 3
        assert res.batch == 3 and res.covers_upto == 2
        gc_batches(out, manifest)                           # drops 0-2
    with open(os.path.join(staging, "_DONE"), "w") as f:
        f.write("ok\n")
    try:
        os.rename(staging, root)  # base dir created 0o700 by _ingest_root
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)  # lost an identical race
    return root


def _read_latest_batches(spark: SparkSession, compacted: bool) -> DataFrame:
    """Read an ingest fixture's append-only ``batch=n/`` output and
    reconcile it to the LATEST state: per input file, last-batch-wins.

    Scale shape: (source, batch) identity comes from the file PATH
    (input_file_name — no data columns needed); the winner per source
    is a file-count-sized aggregate broadcast back into the scan-sized
    relation — never a data-wide window. At 100 TB the reconcile costs
    one pass over the batches plus a broadcast semi-join on file
    identity; with batch in the path, Spark also prunes dropped
    batches at plan time when the winner set is static."""
    root = build_ingest_fixture(spark, compacted)
    raw = spark.read.parquet(f"{root}/out/batch=*/*.parquet")
    f = F.input_file_name()
    parsed = raw.select(
        F.regexp_extract(f, r"/([^/]+)\.parquet/", 1).alias("source"),
        F.regexp_extract(f, r"batch=(\d+)", 1).cast("long").alias("batch"),
        F.col("k").cast("long").alias("k"),
        F.col("v").cast("long").alias("v"),
    )
    latest = parsed.groupBy("source").agg(F.max("batch").alias("batch"))
    return parsed.join(F.broadcast(latest), ["source", "batch"]).select(
        "source", "batch", "k", "v"
    )


@register(
    "incremental_ingest_latest",
    # The driver-facing oracle is the INPUT CONTRACT (the three crawl
    # drops are fixed literals), not a read of the fixture files: the
    # driver may evaluate oracle SQL in a fresh container BEFORE the
    # Spark query has built the /tmp fixture, and a read_parquet oracle
    # would error on the missing path. The Spark side still does the
    # full real work (three convert_incremental runs + the batch=*/
    # reconcile) and must land exactly on these rows; the DuckDB
    # hive-read-back parity over the SAME directories (read_parquet
    # filename=true + window reconcile) is proven in
    # tests/test_converter.py::test_incremental_ingest_duckdb_readback.
    oracle="""
    SELECT source, CAST(batch AS BIGINT) AS batch,
           CAST(k AS BIGINT) AS k, CAST(v AS BIGINT) AS v
    FROM (VALUES
      ('b', 0, 4, 40), ('b', 0, 5, 50),
      ('c', 1, 6, 60), ('c', 1, 7, 70),
      ('a', 2, 1, 11), ('a', 2, 2, 22), ('a', 2, 3, 33), ('a', 2, 8, 88)
    ) t(source, batch, k, v)
    """,
)
def incremental_ingest_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end continuous ingestion (VERDICT r6 item 7): read the
    ``--incremental-manifest`` converter's append-only ``batch=n/``
    output and reconcile to the LATEST state — per input file,
    last-batch-wins (the documented contract for changed inputs:
    converter/incremental.py reconverts a changed file into a new
    batch and readers dedup on input identity). The fixture plants a
    changed file, so batch 0 and batch 2 both carry ``a``'s rows and
    the reader must keep only batch 2's (see
    :func:`_read_latest_batches` for the scale shape)."""
    return _read_latest_batches(spark, compacted=False)


@register(
    "incremental_ingest_after_gc",
    # Static input contract, same rationale as incremental_ingest_latest:
    # the expected rows are the v1 crawl history's reconciled latest
    # state, REHOMED to the compacted batch number (3) — after
    # compaction every source's winner IS the compacted batch. The
    # filesystem-level assertions (superseded dirs actually deleted, raw
    # glob == reconciled state, pre-GC == post-GC data) live in
    # tests/test_converter.py.
    oracle="""
    SELECT source, CAST(batch AS BIGINT) AS batch,
           CAST(k AS BIGINT) AS k, CAST(v AS BIGINT) AS v
    FROM (VALUES
      ('a', 3, 1, 11), ('a', 3, 2, 22), ('a', 3, 3, 33), ('a', 3, 8, 88),
      ('b', 3, 4, 40), ('b', 3, 5, 50),
      ('c', 3, 6, 60), ('c', 3, 7, 70)
    ) t(source, batch, k, v)
    """,
)
def incremental_ingest_after_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention GC for the continuous-ingestion layout (VERDICT r7
    "Next round" #7): after ``compact_incremental`` folds the crawl
    history into one fresh batch and ``gc_batches`` drops the
    superseded dirs, the SAME last-batch-wins reader must land on the
    identical logical state — now with every source's winner being the
    compacted batch, and the raw ``batch=*/`` glob containing no
    duplicate rows at all.

    Reader safety is the layout's own contract: the compacted batch has
    the maximum batch number, so reconciling readers see identical data
    before, during, and after the compaction+GC window; GC only deletes
    dirs at or below a manifest-COMMITTED compaction point, with an
    mtime grace period for in-flight scans (Iceberg/Delta vacuum
    semantics). At 100 TB this is the difference between a bounded
    store and one that keeps every superseded byte forever.

    Scale shape: identical to incremental_ingest_latest."""
    return _read_latest_batches(spark, compacted=True)
