"""Data-layout operators for scan pruning at scale: the Z-order key and
bucketed and sharded writes. The clustered parquet write itself is the
converter sink's ``sort_by``/``zorder_by``
(:func:`csv2parquet_spark.converter.convert.write_parquet`); small-file
compaction is
:func:`csv2parquet_spark.converter.incremental.compact_incremental`.

The reference (`/root/reference/src/main.rs`) writes rows in input
order; at 100 TB the LAYOUT of the output parquet decides how much of
it every later query must read. Parquet readers (Spark, DuckDB, Trino)
skip whole row groups via column min/max statistics — but statistics
only help if the writer clusters values. Sorting by one column prunes
one predicate dimension; interleaving the bits of several columns
(a Z-order / Morton curve) makes row-group min/max boxes tight in ALL
interleaved dimensions at once, so conjunctive range predicates prune
multiplicatively.

Shapes:
* z-value computation is pure Catalyst bit arithmetic (codegen, no
  Python, no shuffle);
* the min/max scaling pass is one small aggregate (2 numbers per
  column, collected to the driver — O(dims), not O(rows));
* the clustered write (``write_parquet``) is ONE range-partitioning
  shuffle followed by a within-partition sort — exactly what a
  1000-executor cluster needs: every executor writes its own key
  range, files don't overlap, and row-group stats are tight.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _scaled(col: Column, mn: float, mx: float, bits: int) -> Column:
    """Map a numeric column into [0, 2^bits) as a long, linearly over
    the observed [mn, mx] range. floor() keeps Spark/DuckDB parity
    (CAST truncates in Spark but rounds in DuckDB)."""
    span = mx - mn
    if span <= 0:
        return F.lit(0).cast("long")
    scale = ((1 << bits) - 1) / span
    return F.floor((col.cast("double") - F.lit(mn)) * F.lit(scale)).cast("long")


def interleave_bits(cols: list[Column], bits: int = 16) -> Column:
    """Morton/Z-value: bit i of column j lands at position i*n_cols + j.

    Pure bit arithmetic — whole-stage codegen, no shuffle. ``cols`` must
    already be scaled to [0, 2^bits) longs; n_cols*bits must be ≤ 63.
    """
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols × {bits} bits exceeds a signed long")
    terms = [
        F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + j)
        for j, c in enumerate(cols)
        for i in range(bits)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16
) -> tuple[DataFrame, Column]:
    """(df, zval column) for ``cols``, scaling each to the observed
    min/max. The range scan is ONE tiny aggregate (2·dims numbers to the
    driver); at a steady-state 100 TB table the ranges come from table
    metadata instead and this pass disappears."""
    ranges = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    scaled = [
        _scaled(F.col(c), ranges[f"mn_{c}"], ranges[f"mx_{c}"], bits) for c in cols
    ]
    return df, interleave_bits(scaled, bits)


def rowgroup_prune_fraction(
    path: str, predicates: dict[str, tuple[float, float]]
) -> float:
    """Fraction of row groups a min/max-pruning reader SKIPS for a
    conjunctive box predicate {col: (lo, hi)} — measured from real
    parquet footers (the same stats Spark/DuckDB/Trino prune with).
    Diagnostic for layout quality, not a query-path operator."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    files = (
        sorted(_glob.glob(_os.path.join(path, "*.parquet")))
        if _os.path.isdir(path)
        else [path]
    )
    total = skipped = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        for rg in range(meta.num_row_groups):
            total += 1
            for c, (lo, hi) in predicates.items():
                st = meta.row_group(rg).column(names[c]).statistics
                # has_min_max: a stats object can exist WITHOUT min/max
                # (all-NULL chunk, truncated binary stats) — st.min is
                # then None and the comparison would TypeError; such a
                # group is simply unprunable (review r8).
                if (
                    st is not None
                    and st.has_min_max
                    and (st.min > hi or st.max < lo)
                ):
                    skipped += 1
                    break
    return skipped / total if total else 0.0


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Persist ``df`` hash-bucketed (and bucket-sorted) on ``key``.

    Bucketing is the co-located-join layout (SURVEY §2 scale notes):
    both sides of a recurring equi-join written with the SAME bucket
    count and key join with NO exchange — each task reads bucket i of
    both tables — and with ``sort=True`` the SortMergeJoin needs no sort
    either. At 100 TB this converts every repeat join/aggregation on the
    bucket key from a full shuffle into a metadata lookup. (Spark's
    bucketing lives in the session catalog: ``saveAsTable``, optionally
    EXTERNAL at ``path``.)
    """
    w = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def shard_key(id_col: Column, n_shards: int) -> Column:
    """Deterministic, engine-portable shard id in [0, n_shards):
    the first 8 hex chars of md5(id) as an integer, mod n_shards —
    uniform, stable across runs/engines (DuckDB twin:
    ``CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)
    % n``), and independent of partitioning."""
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % n_shards
    ).cast("int")


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 32,
    id_col: str = "doc_id",
    order_col: str | None = None,
) -> list[dict]:
    """Write a training corpus as ``n_shards`` deterministic shards —
    the dataloader-facing layout step: every worker maps shard → file
    set with no coordination, re-runs produce identical shard
    membership (md5 of the id, not Spark partitioning), and shards are
    directory-addressable (``shard=K/``) so a loader reading shards
    [a, b) lists only those directories (partition pruning, same
    mechanism the IVF index uses).

    Returns the manifest: one {shard, n_rows, n_bytes} per shard
    (n_shards dicts — driver-sized). Scale shape: one shuffle
    (repartition on the shard id so each shard is one writer task →
    one file per shard), then a footer-stats pass over n_shards files.
    ``order_col`` optionally sort-within-shards for reproducible
    within-shard order (OFF by default: training loaders shuffle
    anyway).
    """
    import glob as _glob
    import os as _os

    out = df.withColumn("shard", shard_key(F.col(id_col), n_shards))
    out = out.repartition(n_shards, "shard")
    if order_col:
        out = out.sortWithinPartitions("shard", order_col)
    out.write.mode("overwrite").partitionBy("shard").parquet(path)

    import pyarrow.parquet as pq

    manifest = []
    for shard in range(n_shards):
        files = sorted(_glob.glob(_os.path.join(path, f"shard={shard}", "*.parquet")))
        n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        n_bytes = sum(_os.path.getsize(f) for f in files)
        manifest.append({"shard": shard, "n_rows": n_rows, "n_bytes": n_bytes})
    return manifest
