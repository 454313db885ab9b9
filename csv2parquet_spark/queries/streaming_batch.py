"""Windowed event aggregations (SURVEY.md §2.6) — the batch-replay side.

The window twins call the operators of ``csv2parquet_spark.streaming``
(``F.window``, ``F.session_window``) on the static events table, where
the analyzer drops their ``withWatermark``; the streaming side wires the
same functions onto ``readStream`` and the pytest suite asserts
stream-vs-batch equality. Oracles via DuckDB ``time_bucket`` (10-minute
buckets align across engines: both origins are midnight-aligned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2parquet_spark.queries.helpers import dsum, sql_dsum
from csv2parquet_spark.queries.registry import register
from csv2parquet_spark.tables import table


@register(
    "stream_tumbling_window",
    oracle=f"""
    -- a NULL timestamp has no window: Spark's window() rewrites add
    -- `ts IS NOT NULL` implicitly; DuckDB's time_bucket(NULL) would
    -- fabricate a NULL bucket row (NULL-twin contract r11)
    SELECT epoch_ms(time_bucket(INTERVAL '10 minutes', ts)) AS window_start_ms,
           event_type, count(*) AS n, {sql_dsum('value', 'total_value')}
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows over events (batch twin of the stream)."""
    from csv2parquet_spark.streaming.windows import tumbling_counts

    return tumbling_counts(table(spark, sf_dir, "events"))


@register(
    "stream_sliding_window",
    oracle=f"""
    -- NULL ts has no window (same contract as stream_tumbling_window)
    SELECT epoch_ms(time_bucket(INTERVAL '5 minutes', ts)
                    - to_minutes(off.off)) AS window_start_ms,
           count(*) AS n, {sql_dsum('value', 'total_value')}
    FROM events, (VALUES (0), (5)) AS off(off)
    WHERE ts IS NOT NULL
    GROUP BY 1
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in exactly
    two windows (the two 5-minute-aligned starts covering it)."""
    from csv2parquet_spark.streaming.windows import sliding_counts

    return sliding_counts(table(spark, sf_dir, "events"))


@register(
    "stream_stateful_user_totals",
    oracle=f"""
    SELECT user_id, count(*) AS n_events, {sql_dsum('value', 'total_value')},
           epoch_ms(max(ts)) AS last_ts_ms
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState running-totals operator
    (``streaming/stateful.py``): per-user event count / value total /
    last-seen. The pytest suite replays the stream and asserts its final
    emission equals this plan's result."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        dsum(F.col("value"), "total_value"),
        F.unix_millis(F.max("ts")).alias("last_ts_ms"),
    )


@register(
    "stream_session_windows",
    oracle="""
    WITH ordered AS (
      -- NULL ts has no session (Spark's session_window drops it; a
      -- NULL gap comparison would also break the lag chain)
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
      WHERE ts IS NOT NULL
    ), flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts >= INTERVAL '30 minutes' THEN 1 ELSE 0 END
                 AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
           epoch_ms(max(ts)) AS session_end_ms, count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user via F.session_window —
    the same operator Structured Streaming uses for stateful sessions.
    Oracle replays the classic gaps-and-islands SQL."""
    from csv2parquet_spark.streaming.windows import session_counts

    return session_counts(table(spark, sf_dir, "events"))


@register(
    "funnel_click_to_purchase",
    oracle="""
    WITH purch AS (
      SELECT p.event_id, p.user_id, p.ts,
             (SELECT max(c.ts) FROM events c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts < p.ts) AS prev_click
      FROM events p WHERE p.event_type = 'purchase'
    )
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           count(*) AS n_purchases,
           CAST(sum(CASE WHEN prev_click IS NOT NULL
                          AND ts - prev_click <= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           round(CAST(sum(CASE WHEN prev_click IS NOT NULL
                          AND ts - prev_click <= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS conv_rate
    FROM purch GROUP BY 1
    """,
)
def funnel_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion funnel per day: a purchase 'converts'
    when the same user clicked within the preceding 30 minutes. Built on
    the as-of-join window (one shuffle on user_id, O(1) state per user)
    — the distributed shape; the oracle replays it as a correlated
    subquery."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    e = e.withColumn("ts_ms", F.unix_millis("ts"))
    click_ms = F.when(F.col("event_type") == "click", F.col("ts_ms"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    converted = (
        F.col("prev_click_ms").isNotNull()
        & (F.col("ts_ms") - F.col("prev_click_ms") <= 30 * 60 * 1000)
    ).cast("long")
    return (
        e.withColumn("prev_click_ms", F.max(click_ms).over(w))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(converted).alias("n_converted"),
            F.round(
                F.sum(converted).cast("double") / F.count("*"), 6
            ).alias("conv_rate"),
        )
    )


@register(
    "stream_interval_join_agg",
    oracle="""
    WITH j AS (
      SELECT c.user_id,
             epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    )
    SELECT user_id, count(*) AS n_pairs,
           CAST(sum(gap_ms) AS BIGINT) AS total_gap_ms
    FROM j GROUP BY user_id
    """,
)
def stream_interval_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream INTERVAL join
    (streaming/windows.py interval_join): purchases matched to same-user
    clicks in the preceding 30 minutes, aggregated per user. Gap sums
    are integer milliseconds — exact, engine-order-independent. The
    pytest suite replays the identical join on readStream and asserts
    stream == batch."""
    from csv2parquet_spark.streaming.windows import interval_join

    e = table(spark, sf_dir, "events")
    pairs = interval_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.sum("gap_ms").cast("bigint").alias("total_gap_ms"),
    )


@register(
    "stream_static_enrich",
    oracle=f"""
    SELECT epoch_ms(time_bucket(INTERVAL '10 minutes', e.ts)) AS window_start_ms,
           n.n_name, count(*) AS n, {sql_dsum('e.value', 'total_value')}
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    -- ts IS NOT NULL: a NULL timestamp has no window (Spark's
    -- window() drops it implicitly; NULL-twin contract r11)
    WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (batch twin): purchase events
    joined to the customer->nation dimension, windowed revenue per
    nation. The streaming side (streaming/windows.py
    static_enrich_revenue) runs this SAME expression over readStream —
    the static dim broadcasts once per executor, no join state."""
    from csv2parquet_spark.streaming.windows import static_enrich_revenue

    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    dim = c.join(n, c["c_nationkey"] == n["n_nationkey"]).select(
        "c_custkey", "n_name"
    )
    return static_enrich_revenue(e, dim)


@register(
    "stream_interval_join_outer_agg",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ), j AS (
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      FROM c LEFT JOIN events p
        ON p.user_id = c.user_id AND p.event_type = 'purchase'
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    )
    SELECT user_id,
           count(DISTINCT click_id) AS n_clicks,
           count(DISTINCT CASE WHEN purchase_id IS NOT NULL
                               THEN click_id END) AS n_matched_clicks,
           CAST(sum(CASE WHEN purchase_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs
    FROM j GROUP BY user_id
    """,
)
def stream_interval_join_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT-OUTER stream-stream interval join
    (streaming/windows.py interval_join_outer): per user, how many
    clicks existed, how many found a purchase within 30 minutes, and
    the matched pair count — unmatched clicks survive as null-purchase
    rows (the outer semantics the inner-join twin cannot observe).
    The micro-batch test pins the streaming-only behavior: null rows
    emit only after the watermark passes click_ts + horizon.
    """
    from csv2parquet_spark.streaming.windows import interval_join_outer

    e = table(spark, sf_dir, "events")
    j = interval_join_outer(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )
    return j.groupBy("user_id").agg(
        F.count_distinct("click_id").alias("n_clicks"),
        F.count_distinct(
            F.when(F.col("purchase_id").isNotNull(), F.col("click_id"))
        ).alias("n_matched_clicks"),
        F.sum(
            F.when(F.col("purchase_id").isNotNull(), 1).otherwise(0)
        ).alias("n_pairs"),
    )


@register(
    "stream_topk_trending",
    oracle="""
    WITH c AS (
      -- NULL ts has no window (NULL-twin contract r11)
      SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
             event_type, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), r AS (
      -- explicit NULLS LAST: an unknown event type loses rank ties
      -- (the engine-wide NULL-ordering contract, r11)
      SELECT *, row_number() OVER (PARTITION BY window_start_ms
                                   ORDER BY n DESC, event_type NULLS LAST) AS rk
      FROM c
    )
    SELECT window_start_ms, event_type, CAST(n AS BIGINT) AS n,
           CAST(rk AS INTEGER) AS rk
    FROM r WHERE rk <= 3
    """,
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-3 event types per tumbling hour — the dashboard
    query every event platform runs. Batch twin of the streaming shape
    (window-agg in the stream, rank in a foreachBatch/downstream job —
    rank is not stream-incremental, the standard split). The per-window
    rank plans as WindowGroupLimit (≤3 rows per window leave each
    partition ahead of the exchange); ties break on event_type so both
    engines agree."""
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events")
    c = e.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    # asc_nulls_last mirrors the oracle's NULLS LAST tie-break — an
    # unknown event type loses ties (Spark's ASC default is NULLS
    # FIRST, the one place the engines' tie order diverged)
    rk = F.row_number().over(
        Window.partitionBy("w").orderBy(
            F.desc("n"), F.asc_nulls_last("event_type")
        )
    )
    return (
        c.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select(
            F.unix_millis("w.start").alias("window_start_ms"),
            "event_type",
            "n",
            F.col("rk").cast("int").alias("rk"),
        )
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
    WITH dup AS (
      -- a NULL event time cannot be watermarked: the streaming
      -- operator this twins (dropDuplicatesWithinWatermark) REQUIRES
      -- an event-time column, so NULL-ts rows never enter the stream
      -- (NULL-twin contract r11)
      SELECT event_id, ts, event_type FROM events WHERE ts IS NOT NULL
      UNION ALL
      SELECT event_id, ts + INTERVAL 10 MINUTE, event_type
      FROM events WHERE event_id % 7 = 0 AND ts IS NOT NULL
    ), keep AS (
      SELECT event_id, ts, event_type,
             min(ts) OVER (PARTITION BY event_id) AS first_ts
      FROM dup
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_in,
           CAST(sum(CASE WHEN ts = first_ts THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN ts = first_ts THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dropped
    FROM keep GROUP BY event_type
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming/windows.streaming_dedup``
    (``dropDuplicatesWithinWatermark`` — stateful keep-first on
    event_id with watermark-bounded state; the REAL micro-batch
    semantics run in tests/test_streaming.py::test_streaming_dedup).
    The fixture's event_ids are unique, so the twin plants
    deterministic duplicates (every 7th event re-delivered 10 minutes
    late — the at-least-once redelivery shape the operator exists for)
    and reports, per event_type, how many rows arrived and how many the
    keep-first rule kept vs dropped.

    Scale shape: ONE hash exchange on event_id (the min-ts window);
    the per-type rollup is a partial-aggregated map-side combine. In
    production the state store holds only in-watermark keys — the batch
    twin's window is the unbounded-history equivalent on a bounded
    replay."""
    # NULL event times cannot be watermarked (see oracle note)
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_id", "ts", "event_type")
    )
    late = e.filter(F.col("event_id") % 7 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 10 MINUTES")
    )
    from pyspark.sql import Window

    dup = e.unionAll(late)
    keep = dup.withColumn(
        "first_ts", F.min("ts").over(Window.partitionBy("event_id"))
    )
    kept = (F.col("ts") == F.col("first_ts")).cast("int")
    return keep.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum(kept).alias("n_kept"),
        F.sum(1 - kept).alias("n_dropped"),
    )
