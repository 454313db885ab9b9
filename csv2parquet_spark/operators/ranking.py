"""Scale-safe global ranking (two-pass), replacing the one window shape
that cannot survive 100 TB: ``Window.orderBy(...)`` with no partitionBy
plans an Exchange SinglePartition — the whole corpus sorted on one task.

The classic distributed alternative (the shape VERDICT r2 asked for):

  pass 0  ``repartitionByRange(keys)`` + ``sortWithinPartitions`` —
          Spark's range exchange gives globally ordered, disjoint
          partitions (a parallel sort, P tasks);
  pass 1  per-partition row counts → driver (P integers, model-sized)
          → cumulative offsets;
  pass 2  map-only partition-local enumeration: global row number =
          partition offset + local index. No single-partition stage
          anywhere; the corpus is never on one machine.

The ranked data is ``localCheckpoint``-ed between the passes so both
jobs see the identical physical layout (range boundaries are sampled;
pinning the layout makes partition ids stable across the two jobs).
That materialization is the standard two-pass tradeoff: at scale you
pay one cached pass of the sorted corpus instead of a serial sort.

Requires ``keys`` to be a TOTAL order (append a unique tiebreaker
column) — with unique keys rank == row_number and ntile/percent_rank/
cume_dist are all pure functions of (row_number, N), computed in
Catalyst from literal N.
"""

from __future__ import annotations

from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _range_partitioned(df: DataFrame, cols: list, num_partitions: int | None):
    """Range-exchange ``df`` by ``cols`` — SIZE-ADAPTIVELY unless the
    caller pins a count.

    An explicit ``repartitionByRange(n, ...)`` is exempt from AQE
    coalescing, so every two-pass machine ran its pandas kernel on
    ``spark.sql.shuffle.partitions`` tasks regardless of data size —
    profiled r11 on the survival/KS family as ~280 ms of Arrow
    round-trip PER NEAR-EMPTY TASK (9 s executor time to cumsum a
    0.15 MB relation). With no explicit count the exchange still
    STARTS at spark.sql.shuffle.partitions but AQE may merge ADJACENT
    range partitions (order is preserved, each partition stays a
    contiguous key range, and this machinery reads partition ids off
    the materialized checkpoint, so the offset arithmetic is
    partition-count-agnostic). At scale nothing coalesces and the
    plan is the one we always had — the partitioning now derives from
    input size instead of a constant (guide §2).
    """
    if num_partitions:
        return df.repartitionByRange(num_partitions, *cols)
    return df.repartitionByRange(*cols)


def global_row_number(
    df: DataFrame,
    keys: list,
    rn_col: str = "rn",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Attach a 1-based global row number ordered by ``keys`` (which must
    be a total order) without any single-partition stage. Returns
    ``(df_with_rn, total_rows)``.

    ``keys`` entries may be column names or sort-order Columns
    (e.g. ``F.asc_nulls_last("x")``) — NULL-bearing order keys need an
    EXPLICIT NULL placement to match any fixed oracle contract (r11
    NULL-twin burn-down; Spark's range sort defaults to NULLS FIRST
    where DuckDB defaults to NULLS LAST).
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas batches are pandas)

    cols = [k if isinstance(k, Column) else F.col(k) for k in keys]
    part = _range_partitioned(df, cols, num_partitions).sortWithinPartitions(
        *cols
    )
    part = part.localCheckpoint()  # pin layout: both passes, one sort

    # pass 1: P partition counts -> cumulative offsets (driver holds P ints)
    counts = (
        part.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    sizes = {r.pid: r["count"] for r in counts}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    total = acc
    bc = df.sparkSession.sparkContext.broadcast(offsets)

    # pass 2: map-only enumeration in partition order (batches arrive in
    # the sortWithinPartitions order; TaskContext gives the physical pid,
    # the same index spark_partition_id() reported in pass 1).
    from pyspark.sql.types import LongType, StructField, StructType

    # fresh StructType — StructType.add would mutate the df's cached schema
    out_schema = StructType(
        list(part.schema.fields) + [StructField(rn_col, LongType())]
    )

    def number(batches):
        pid = TaskContext.get().partitionId()
        seen = bc.value.get(pid, 0)
        for pdf in batches:
            k = len(pdf)
            pdf = pdf.copy()
            pdf[rn_col] = np.arange(seen + 1, seen + k + 1, dtype=np.int64)
            seen += k
            yield pdf

    return part.mapInPandas(number, out_schema), total


def global_cumsum(
    df: DataFrame,
    keys: list[str],
    weight_col: str | list[str],
    cum_col: str | list[str] = "cum",
    num_partitions: int | None = None,
    return_totals: bool = False,
    rn_col: str | None = None,
    pre_sorted: bool = False,
) -> DataFrame:
    """Attach the INCLUSIVE global running sum of ``weight_col`` in
    ``keys`` order (a total order) — same two-pass shape as
    ``global_row_number``: range-partitioned parallel sort, P
    per-partition weight sums to the driver, broadcast offsets, map-only
    local cumsum. No single-partition stage; this is the scalable twin
    of ``sum(w) OVER (ORDER BY keys)``.

    ``weight_col``/``cum_col`` may be LISTS of the same length: every
    running sum shares ONE range sort, one checkpoint, and one offsets
    job instead of re-running the whole two-pass machinery per column
    (KS needs two CDFs, isotonic needs two prefix sums — one pass,
    not two).

    ``return_totals=True`` additionally returns ``{weight_col: total}``
    — the exact global sum of each weight column, a free by-product of
    the pass-1 per-partition sums (r11 optimization): callers that need
    N / grand totals alongside the cumsum (KS, Kaplan-Meier, Lorenz)
    otherwise run a SEPARATE aggregate job whose upstream re-executes
    the whole input pipeline. Identical integers by construction: the
    total is the sum of the same per-partition sums the offsets come
    from. The totals dict also carries ``"__rows"`` (total row count).

    ``rn_col`` additionally attaches the 1-based global row number in
    ``keys`` order — :func:`global_row_number` fused into the SAME
    range sort / checkpoint / offsets job (r11): callers that need both
    (Zipf coverage, CUSUM) otherwise build two complete two-pass
    machines over the same input and join them back on the key.

    ``pre_sorted=True`` skips the range repartition + sort and trusts
    the CALLER that ``df`` is already range-partitioned and sorted by
    ``keys`` (r11): the chained-cumsum case — a second running sum over
    Catalyst projections of a previous global_cumsum's output, whose
    map-preserved layout is exactly the one this pass needs. A second
    range exchange would not only cost the shuffle, it would re-execute
    the previous pass's Python kernel per materialization. The input is
    still localCheckpoint-ed here (pinning the layout for the two
    jobs), and correctness still requires the caller's claim to hold.
    """
    import numpy as np
    import pandas as pd  # noqa: F401

    wcols = [weight_col] if isinstance(weight_col, str) else list(weight_col)
    ccols = [cum_col] if isinstance(cum_col, str) else list(cum_col)
    if len(wcols) != len(ccols):
        raise ValueError("weight_col and cum_col must have the same length")
    for w in wcols:
        wtype = df.schema[w].dataType.simpleString()
        if wtype not in ("tinyint", "smallint", "int", "bigint"):
            raise TypeError(
                f"global_cumsum needs integral weight columns, got "
                f"{w!r}: {wtype} (fractional weights would be "
                "silently truncated by the int64 batch kernel)"
            )
    if pre_sorted:
        part = df
    else:
        part = _range_partitioned(
            df, [F.col(k) for k in keys], num_partitions
        ).sortWithinPartitions(*keys)
    part = part.localCheckpoint()

    sums = (
        part.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.sum(w).alias(f"s{i}") for i, w in enumerate(wcols)],
            # count(w) skips NULLs — comparing against count(*) detects
            # MIXED null/non-null partitions, which a sum()-is-None
            # check misses (sum also skips NULLs, so [5, NULL, 3] sums
            # to 8 and the int64 kernel would then turn the NaN row
            # into INT64_MIN silently — review r8).
            *[F.count(w).alias(f"n{i}") for i, w in enumerate(wcols)],
        )
        .collect()
    )
    for i, w in enumerate(wcols):
        if any(r[f"n{i}"] != r["n_rows"] for r in sums):
            raise ValueError(
                f"global_cumsum: NULL weights in {w!r} — "
                "fill or filter first"
            )
    per = {
        r.pid: [int(r[f"s{i}"]) for i in range(len(wcols))] + [int(r["n_rows"])]
        for r in sums
    }
    offsets: dict[int, list[int]] = {}
    acc = [0] * (len(wcols) + 1)  # weight offsets + row offset
    for pid in sorted(per):
        offsets[pid] = list(acc)
        acc = [a + s for a, s in zip(acc, per[pid])]
    bc = df.sparkSession.sparkContext.broadcast(offsets)

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(part.schema.fields)
        + [StructField(c, LongType()) for c in ccols]
        + ([StructField(rn_col, LongType())] if rn_col else [])
    )

    def accumulate(batches):
        pid = TaskContext.get().partitionId()
        seen = list(bc.value.get(pid, [0] * (len(wcols) + 1)))
        for pdf in batches:
            pdf = pdf.copy()
            for i, (w, c) in enumerate(zip(wcols, ccols)):
                arr = pdf[w].to_numpy(dtype=np.int64)
                cs = np.cumsum(arr) + seen[i]
                seen[i] = int(cs[-1]) if len(cs) else seen[i]
                pdf[c] = cs
            if rn_col:
                k = len(pdf)
                pdf[rn_col] = np.arange(
                    seen[-1] + 1, seen[-1] + k + 1, dtype=np.int64
                )
                seen[-1] += k
            yield pdf

    out = part.mapInPandas(accumulate, out_schema)
    if return_totals:
        totals = {w: int(t) for w, t in zip(wcols, acc)}
        totals["__rows"] = int(acc[-1])
        return out, totals
    return out


def global_running_max(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    out_col: str = "run_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach the global running MAX of ``value_col`` over the STRICTLY
    PRECEDING rows in ``keys`` order (a total order; NULL on the globally
    first row) — the scale-safe twin of the dominance/skyline frame
    ``max(v) OVER (ORDER BY keys ROWS BETWEEN UNBOUNDED PRECEDING AND
    1 PRECEDING)``, same two-pass shape as :func:`global_cumsum`:
    range-partitioned parallel sort, P per-partition maxima to the
    driver, broadcast exclusive prefix maxima, map-only local running
    max. No single-partition stage anywhere.
    """
    import numpy as np
    import pandas as pd

    vtype = df.schema[value_col].dataType.simpleString()
    if vtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"global_running_max needs an integral value column, got "
            f"{value_col!r}: {vtype}"
        )
    part = _range_partitioned(
        df, [F.col(k) for k in keys], num_partitions
    ).sortWithinPartitions(*keys)
    part = part.localCheckpoint()  # pin layout across the two passes

    maxes = (
        part.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.max(value_col).alias("m"),
            # count-vs-count(*) detects MIXED null/non-null partitions;
            # max() skips NULLs so a max-is-None check misses them and
            # the int64 kernel would emit INT64_MIN rows (review r8).
            F.count(F.lit(1)).alias("n_rows"),
            F.count(value_col).alias("n_vals"),
        )
        .collect()
    )
    if any(r["n_vals"] != r["n_rows"] for r in maxes):
        raise ValueError(
            f"global_running_max: NULL values in {value_col!r} — "
            "fill or filter first"
        )
    per = {r.pid: int(r["m"]) for r in maxes}
    offsets: dict[int, int | None] = {}
    acc: int | None = None
    for pid in sorted(per):
        offsets[pid] = acc  # exclusive: max over all PRECEDING partitions
        acc = per[pid] if acc is None else max(acc, per[pid])
    bc = df.sparkSession.sparkContext.broadcast(offsets)

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(part.schema.fields) + [StructField(out_col, LongType())]
    )

    def running(batches):
        pid = TaskContext.get().partitionId()
        carry = bc.value.get(pid, None)  # max over everything before this row
        for pdf in batches:
            v = pdf[value_col].to_numpy(dtype=np.int64)
            inc = np.maximum.accumulate(v) if len(v) else v
            out = np.empty(len(v), dtype=object)
            if len(v):
                out[0] = carry
                prev = inc[:-1]
                if carry is not None:
                    prev = np.maximum(prev, carry)
                out[1:] = prev
                carry = int(inc[-1]) if carry is None else max(carry, int(inc[-1]))
            pdf = pdf.copy()
            pdf[out_col] = pd.array(out, dtype="Int64")
            yield pdf

    return part.mapInPandas(running, out_schema)


def exact_median(df: DataFrame, col: str) -> tuple[float, int]:
    """Exact median of ``df[col]`` (numeric, possibly double) as
    ``(median, n)`` with NO single-partition stage: value-compress to
    ``(value) → count``, two-pass :func:`global_cumsum` for the CDF,
    then the two middle order statistics as conditional sums (each CASE
    picks exactly one row's value; even n averages the two picks).
    Used by the Theil-Sen/Zipf estimators; for integer columns where
    exactness must survive the /2, use the med2-doubling variant inline
    (see mad_outlier_report).
    """
    g = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
    cum = global_cumsum(g, keys=[col], weight_col="cnt", cum_col="cum")
    # Detect (not filter) the failure modes in the SAME aggregate
    # action: NULLs sort first in the CDF and could be PICKED as the
    # median (float(None) → opaque TypeError), and an empty input has
    # no median. A pre-groupBy isNotNull filter would be the obvious
    # guard, but Catalyst pushes it into callers' join conditions where
    # ANSI mode then evaluates guarded divisions early (measured:
    # DIVIDE_BY_ZERO in the Theil-Sen pair join) — detection leaves
    # every NULL-free caller's plan byte-identical.
    probe = cum.agg(
        F.max("cum").alias("n"),
        F.max(F.col(col).isNull().cast("int")).alias("has_null"),
    ).collect()[0]
    if probe["n"] is None or probe["has_null"]:
        raise ValueError(
            f"exact_median: empty input or NULL values in {col!r} — "
            "fill or filter first"
        )
    n = int(probe["n"])
    k1, k2 = (n + 1) // 2, (n + 2) // 2

    def pick(k: int) -> Column:
        return F.sum(
            F.when(
                (F.col("cum") - F.col("cnt") < k) & (F.lit(k) <= F.col("cum")),
                F.col(col),
            )
        )

    row = cum.agg(((pick(k1) + pick(k2)) / 2).alias("m")).collect()[0]
    return float(row.m), n


def ntile_of(rn: Column, n: int, tiles: int) -> Column:
    """ntile(tiles) as a pure function of the 1-based unique row number
    and literal total ``n``: the first ``n % tiles`` tiles get
    ``n // tiles + 1`` rows, the rest ``n // tiles`` (SQL ntile spec).
    """
    base, rem = divmod(n, tiles)
    big = rem * (base + 1)
    return (
        F.when(rn <= F.lit(big), (rn - 1) / F.lit(base + 1))
        .otherwise(F.lit(rem) + (rn - 1 - F.lit(big)) / F.lit(max(base, 1)))
        .cast("int")
        + 1
    )


def rank_stats(
    df: DataFrame,
    keys: list,
    tiles: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """ntile / percent_rank / cume_dist over a global total order,
    two-pass — the scale-safe twin of the single-partition window. Adds
    ``quartile`` (ntile of ``tiles``), ``pct_rank``, ``cume`` columns.
    """
    ranked, n = global_row_number(df, keys, num_partitions=num_partitions)
    return ranked.select(
        *df.columns,
        ntile_of(F.col("rn"), n, tiles).alias("quartile"),
        F.round((F.col("rn") - 1) / F.lit(max(n - 1, 1)), 6).alias("pct_rank"),
        F.round(F.col("rn") / F.lit(n), 6).alias("cume"),
    )


def sweep_line_daily_peaks(
    iv: DataFrame,
    shard_buckets: int | None = None,
    day_col: str = "day",
    start_col: str = "s",
    end_col: str = "e",
) -> DataFrame:
    """Per-day peak concurrency over half-open [s, e) intervals via the
    classic sweep-line (±1 deltas, running sum, max) — NO interval
    self-join. Returns ``(day, n_events, peak_concurrency)``.

    Tie rule: at equal timestamps the −1 sorts first (ORDER BY t,
    delta), so back-to-back sessions never double-count.

    ``shard_buckets=None`` (default) is the plain shape: one window
    partitioned by ``day`` — right whenever a single day's deltas fit a
    task (every driver-benched SF). ``shard_buckets=B`` is the SKEW
    HATCH for the viral-day case (VERDICT r6 "What's wrong" #4, one day
    holding a corpus-scale share of events): each day's sweep shards
    into B time-of-day ranges with per-bucket carry —

      pass 1  window per (day, bucket): bucket-local running sum,
              bucket totals (sum of deltas), bucket-local max;
      pass 2  bucket offsets = running sum of PRIOR buckets' totals
              over the B-row-per-day bucket relation (a day×B window —
              model-sized, never data-sized);
      peak(day) = max over buckets of (local max + offset).

    The hot day's sort is now B parallel task-local sorts; no task ever
    holds a whole day. Both shapes return IDENTICAL results (pinned by
    tests/test_scale_smoke.py on a designed 90%-hot-day corpus): the
    bucket key floor(seconds_of_day·B/86400) is monotone in t, so
    concatenating bucket-local orders reproduces the day's total order,
    and offsets restore the absolute running sum.
    """
    from pyspark.sql.window import Window

    deltas = iv.select(
        F.col(day_col).alias("day"),
        F.col(start_col).alias("t"),
        F.lit(1).alias("delta"),
    ).unionAll(
        iv.select(
            F.col(day_col).alias("day"),
            F.col(end_col).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    if shard_buckets is None:
        w = (
            Window.partitionBy("day")
            .orderBy("t", "delta")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = deltas.withColumn("c", F.sum("delta").over(w))
        return cum.groupBy("day").agg(
            F.sum((F.col("delta") == 1).cast("long")).alias("n_events"),
            F.max("c").cast("long").alias("peak_concurrency"),
        )

    B = int(shard_buckets)
    sod = F.col("t").cast("long") - F.col("day").cast("timestamp").cast("long")
    bucket = F.least(F.floor(sod * B / 86400), F.lit(B - 1)).cast("int")
    wl = (
        Window.partitionBy("day", "bucket")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = deltas.withColumn("bucket", bucket).withColumn(
        "lc", F.sum("delta").over(wl)
    )
    per_bucket = local.groupBy("day", "bucket").agg(
        F.sum("delta").alias("tot"),
        F.max("lc").alias("mx"),
        F.sum((F.col("delta") == 1).cast("long")).alias("n_start"),
    )
    woff = (
        Window.partitionBy("day")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_off = per_bucket.withColumn(
        "off", F.coalesce(F.sum("tot").over(woff), F.lit(0))
    )
    return with_off.groupBy("day").agg(
        F.sum("n_start").cast("long").alias("n_events"),
        F.max(F.col("mx") + F.col("off")).cast("long").alias("peak_concurrency"),
    )
