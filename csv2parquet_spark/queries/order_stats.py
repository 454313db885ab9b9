"""Order-statistic analytics the reference's users run downstream of
conversion: Pareto-frontier (skyline) extraction and robust
median/MAD outlier detection — both exact, both built on
value-compressed relations so no stage ever sorts raw rows on one
task.

Scale shapes:

* **Skyline** pre-aggregates to one row per distinct price (the only
  skyline candidate per price is its max size), then takes the
  dominance prefix-max with the two-pass
  :func:`~csv2parquet_spark.operators.ranking.global_running_max` —
  range-partitioned parallel sort, P maxima to the driver, map-only
  running max. No single-partition Window; the corpus is never on one
  machine.
* **MAD** never ranks raw rows either: it compresses to
  ``(group, value) → count`` (a shuffle on the value domain, not the
  row count), walks the per-group CDF with partitioned windows over
  that compressed relation, and picks the two middle order statistics
  as conditional sums. Doubling tricks (``med2 = x_k1 + x_k2``,
  ``d = |2x − med2|``, ``m4 = d_k1 + d_k2``) keep medians of even
  groups in BIGINT — no floats anywhere, so Spark and DuckDB agree
  bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from csv2parquet_spark.operators.ranking import global_running_max
from csv2parquet_spark.queries.registry import register
from csv2parquet_spark.tables import table


@register(
    "skyline_parts_frontier",
    oracle="""
    WITH best AS (
      SELECT CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(max(p_size) AS BIGINT) AS best_size,
             CAST(count(*) AS BIGINT) AS n_at_price
      FROM part GROUP BY 1
    ), prevd AS (
      SELECT price_cents, best_size, n_at_price,
             max(best_size) OVER (
               ORDER BY price_cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_best
      FROM best
    )
    SELECT price_cents, best_size, n_at_price
    FROM prevd
    WHERE prev_best IS NULL OR best_size > prev_best
    """,
)
def skyline_parts_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over part: minimize price, maximize
    size — every part for which no other part is at-most-as-expensive
    AND at-least-as-big with one strict. The catalog question "which
    parts are ever a rational buy".

    Distributed shape: groupBy price (value compression — per price only
    the max size can be on the frontier; equal-price smaller sizes are
    dominated outright) → two-pass exclusive global running max in price
    order → keep rows beating every strictly-cheaper candidate. The
    dominance test is a prefix max, not a pairwise join: O(n) work,
    never candidates². Price in integer cents so the frontier test is
    exact on both engines.
    """
    p = table(spark, sf_dir, "part")
    best = (
        p.select(
            F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long").alias("price_cents"),
            F.col("p_size").cast("long").alias("sz"),
        )
        .groupBy("price_cents")
        .agg(
            F.max("sz").alias("best_size"),
            F.count(F.lit(1)).alias("n_at_price"),
        )
    )
    withprev = global_running_max(
        best, keys=["price_cents"], value_col="best_size",
        out_col="prev_best",
    )
    return withprev.filter(
        F.col("prev_best").isNull() | (F.col("best_size") > F.col("prev_best"))
    ).select("price_cents", "best_size", "n_at_price")


def _kth_pick(cum: F.Column, cnt: F.Column, k: F.Column, val: F.Column) -> F.Column:
    """The value whose CDF span [cum-cnt+1, cum] covers rank ``k`` —
    summing this CASE over a group picks exactly one row's value."""
    return F.sum(F.when((cum - cnt < k) & (k <= cum), val))


@register(
    "mad_outlier_report",
    oracle="""
    WITH g1 AS (
      -- a NULL value has no place on the median/MAD CDF (NULL-twin
      -- contract: the NULL cents key would land at opposite ends of
      -- the two engines' window orderings and shift every k-th pick)
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
    ), cdf AS (
      SELECT grp, cents, cnt,
             sum(cnt) OVER (PARTITION BY grp ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY grp) AS n
      FROM g1
    ), med AS (
      SELECT grp, CAST(max(n) AS BIGINT) AS n,
             CAST(sum(CASE WHEN cum - cnt < (n+1)//2 AND (n+1)//2 <= cum
                           THEN cents END)
                  + sum(CASE WHEN cum - cnt < (n+2)//2 AND (n+2)//2 <= cum
                             THEN cents END) AS BIGINT) AS med2
      FROM cdf GROUP BY grp
    ), drel AS (
      SELECT g1.grp, g1.cents, g1.cnt,
             abs(2 * g1.cents - med.med2) AS d, med.n, med.med2
      FROM g1 JOIN med USING (grp)
    ), dagg AS (
      SELECT grp, d, CAST(sum(cnt) AS BIGINT) AS cnt FROM drel GROUP BY grp, d
    ), dcdf AS (
      SELECT grp, d, cnt,
             sum(cnt) OVER (PARTITION BY grp ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY grp) AS n
      FROM dagg
    ), mad AS (
      SELECT grp,
             CAST(sum(CASE WHEN cum - cnt < (n+1)//2 AND (n+1)//2 <= cum
                           THEN d END)
                  + sum(CASE WHEN cum - cnt < (n+2)//2 AND (n+2)//2 <= cum
                             THEN d END) AS BIGINT) AS m4
      FROM dcdf GROUP BY grp
    )
    SELECT drel.grp, CAST(max(drel.n) AS BIGINT) AS n,
           CAST(max(drel.med2) AS BIGINT) AS med2,
           CAST(max(mad.m4) AS BIGINT) AS m4,
           CAST(coalesce(sum(CASE WHEN 10000 * drel.d > 22239 * mad.m4
                                  THEN drel.cnt END), 0) AS BIGINT)
             AS n_outliers,
           CAST(min(CASE WHEN 10000 * drel.d > 22239 * mad.m4
                         THEN drel.cents END) AS BIGINT) AS out_min,
           CAST(max(CASE WHEN 10000 * drel.d > 22239 * mad.m4
                         THEN drel.cents END) AS BIGINT) AS out_max
    FROM drel JOIN mad USING (grp)
    GROUP BY drel.grp
    """,
)
def mad_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier report per order priority: exact median and MAD
    (median absolute deviation) of the order value, flagging rows more
    than 3·1.4826·MAD from the median (the robust z-score > 3 rule —
    immune to the outliers it hunts, unlike mean/stddev).

    Exactness without floats: values in integer cents; ``med2`` is the
    SUM of the two middle order statistics (= 2·median, so even-sized
    groups stay integral), deviations ``d = |2x − med2|`` (= 2·|x−med|),
    ``m4 = d_k1 + d_k2`` (= 4·MAD), and the cutoff
    |x−med| > 4.4478·MAD becomes ``10000·d > 22239·m4`` — one integer
    comparison, bit-identical on both engines.

    Scale shape: both median passes run on the value-COMPRESSED
    ``(group, value) → count`` relation — the windows walk the per-group
    CDF of distinct values, not raw rows, and the k-th order statistic
    is a conditional sum, not a self-join. At 100 TB the compressed
    relation is the value domain (cents cardinality), orders of
    magnitude below row count; group count (priority here; priority ×
    month in production) provides the window parallelism.
    """
    # NULL values are off the CDF by contract (see oracle note)
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    g1 = (
        o.select(
            F.col("o_orderpriority").alias("grp"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("grp", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wcdf = Window.partitionBy("grp").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("grp")
    cdf = g1.withColumn("cum", F.sum("cnt").over(wcdf)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    k1 = F.expr("(n + 1) div 2")
    k2 = F.expr("(n + 2) div 2")
    med = cdf.groupBy("grp").agg(
        F.max("n").alias("n"),
        (
            _kth_pick(F.col("cum"), F.col("cnt"), k1, F.col("cents"))
            + _kth_pick(F.col("cum"), F.col("cnt"), k2, F.col("cents"))
        ).alias("med2"),
    )
    drel = g1.join(F.broadcast(med), "grp").withColumn(
        "d", F.abs(2 * F.col("cents") - F.col("med2"))
    )
    dagg = drel.groupBy("grp", "d").agg(F.sum("cnt").alias("cnt"))
    dcdf = dagg.withColumn(
        "cum", F.sum("cnt").over(Window.partitionBy("grp").orderBy("d").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        ))
    ).withColumn("n", F.sum("cnt").over(wall))
    mad = dcdf.groupBy("grp").agg(
        (
            _kth_pick(F.col("cum"), F.col("cnt"), k1, F.col("d"))
            + _kth_pick(F.col("cum"), F.col("cnt"), k2, F.col("d"))
        ).alias("m4")
    )
    out_flag = 10000 * F.col("d") > 22239 * F.col("m4")
    return (
        drel.join(F.broadcast(mad), "grp")
        .groupBy("grp")
        .agg(
            F.max("n").alias("n"),
            F.max("med2").alias("med2"),
            F.max("m4").alias("m4"),
            F.coalesce(
                F.sum(F.when(out_flag, F.col("cnt"))), F.lit(0)
            ).cast("long").alias("n_outliers"),
            F.min(F.when(out_flag, F.col("cents"))).alias("out_min"),
            F.max(F.when(out_flag, F.col("cents"))).alias("out_max"),
        )
    )


__all__ = ["skyline_parts_frontier", "mad_outlier_report"]
