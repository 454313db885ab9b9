"""Structured Streaming operators over the ``events`` table (SURVEY.md
§2.6): file-source readStream, tumbling/sliding/session windows,
watermark late-data handling, stateful dedup, continuous CSV→Parquet.

The batch queries in ``queries/streaming_batch.py`` call the window
functions here on the static table (``withWatermark`` is a no-op in a
batch plan) — the pytest suite replays the parquet through
``readStream`` and asserts stream == batch (SURVEY §5.2 item 5).
Watermarks bound the state store per key; at scale the state is
sharded by the groupBy key across executors.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2parquet_spark.queries.helpers import dsum

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)

# events.ts has shipped both as parquet TIMESTAMP(NANOS) — readable only
# as an epoch-nanos long (spark.sql.legacy.parquet.nanosAsLong) — and as
# TIMESTAMP(MICROS). Sniff the actual type from the batch reader's view
# of the file and adapt, mirroring tables.py.
_EVENTS_RAW_SCHEMA = EVENTS_SCHEMA.replace("ts timestamp", "ts bigint")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream: replays the events parquet as a stream
    (one file = one micro-batch at minimum; real deployments point this
    at a directory that keeps growing, or Kafka)."""
    from pyspark.sql import types as T

    from csv2parquet_spark.tables import ensure_session_confs

    ensure_session_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    ts_is_long = isinstance(
        spark.read.parquet(path).schema["ts"].dataType, T.LongType
    )
    schema = _EVENTS_RAW_SCHEMA if ts_is_long else EVENTS_SCHEMA
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        # file stream sources take a directory; select just the events
        # table out of the sf dir
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_is_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def tumbling_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """10-minute tumbling windows with watermarked late-data drop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .select(
            F.unix_millis("w.start").alias("window_start_ms"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """10-minute windows sliding every 5."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .select(F.unix_millis("w.start").alias("window_start_ms"), "n", "total_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows (gap-based), stateful across batches."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("last_ts"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("last_ts").alias("session_end_ms"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup on event_id within the watermark horizon —
    ``dropDuplicatesWithinWatermark`` keeps state bounded (keys older
    than the watermark are evicted)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INTERVAL join: each purchase matched to every click
    by the same user in the preceding ``horizon``.

    The time-range predicate plus watermarks on BOTH sides is what lets
    Spark bound the join state: a click older than
    ``watermark + horizon`` can never match a future purchase, so its
    state is evicted — without the range condition a stream-stream join
    buffers forever. State is sharded by the equi-key (user_id) across
    executors. ``withWatermark`` is a no-op in batch, so the SAME
    function is the batch twin the tests compare against.

    Late-row semantics (pinned by the micro-batch tests): dropping
    happens at the STATE boundary — a late row never enters join state,
    so it cannot match rows from other batches; but two late rows
    arriving in the SAME micro-batch still pair intra-batch. The
    guarantee is bounded state, not a hard input filter.

    Returns (user_id, click_id, purchase_id, gap_ms) — the gap in
    integer milliseconds (exact; no float accumulation downstream).
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        F.expr(
            f"c_user = user_id AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + interval {horizon}"
        ),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_millis("purchase_ts") - F.unix_millis("click_ts")).alias("gap_ms"),
    )


def streaming_csv_to_parquet(
    spark: SparkSession,
    csv_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str,
    header: bool = True,
    delimiter: str = ",",
):
    """Continuous CSV→Parquet conversion — the reference's one dataflow
    (main.rs:250-255) as an always-on stream: new CSV files landing in
    ``csv_dir`` are converted incrementally, exactly-once via the
    checkpoint. Files parse in the batch converter's CSV dialect
    (:func:`~csv2parquet_spark.converter.convert.csv_reader`: quoted
    newlines, doubled-quote escapes, FAILFAST), so a malformed row
    fails the query like the reference's first-error abort."""
    from csv2parquet_spark.converter.convert import ConvertOptions, csv_reader

    opts = ConvertOptions(header=header, delimiter=delimiter)
    stream = csv_reader(
        spark.readStream.schema(schema), opts, opts.multiline, opts.parse_mode
    ).csv(csv_dir)
    return (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_jsonl_to_parquet(
    spark: SparkSession,
    jsonl_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str,
):
    """Continuous JSONL→Parquet conversion (the JSONL twin of
    :func:`streaming_csv_to_parquet`): new JSON-lines files landing in
    ``jsonl_dir`` convert incrementally, exactly-once via the
    checkpoint. Streaming sources need an explicit schema — resolve one
    upfront with ``read_input(spark, "jsonl", path).schema`` / a schema
    file, exactly like the batch path's frozen-schema discipline. Lines
    parse in the batch scan's mode (FAILFAST), so a malformed line fails
    the query."""
    from csv2parquet_spark.converter.convert import ConvertOptions

    mode = ConvertOptions().parse_mode
    stream = spark.readStream.schema(schema).options(mode=mode).json(jsonl_dir)
    return (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory(stream_df: DataFrame, output_mode: str = "complete") -> tuple[str, object]:
    """Drive a streaming query to completion against the memory sink and
    return (queryName, query). Test helper: processAllAvailable() then
    read ``SELECT * FROM <name>``."""
    name = "s_" + uuid.uuid4().hex[:8]
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    return name, q


def static_enrich_revenue(
    events: DataFrame,
    customer_nation: DataFrame,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-static enrichment: purchases joined to a STATIC dimension
    (customer -> nation), then 10-minute tumbling revenue per nation.

    A stream-static join keeps NO join state — the static side is
    broadcast to every executor and each micro-batch probes it map-side
    (unlike stream-stream joins, nothing buffers, no watermark needed on
    the static side). This is the canonical "enrich the firehose with
    reference data" topology; at 100 TB/day the dimension still ships
    once per executor. ``withWatermark`` is a no-op in batch, so the
    SAME function is the batch twin the tests compare against.
    """
    purchases = events.withWatermark("ts", watermark).filter(
        F.col("event_type") == "purchase"
    )
    enriched = purchases.join(
        F.broadcast(customer_nation),
        purchases["user_id"] == customer_nation["c_custkey"],
    )
    return (
        enriched.groupBy(F.window("ts", "10 minutes").alias("w"), "n_name")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .select(
            F.unix_millis("w.start").alias("window_start_ms"),
            "n_name",
            "n",
            "total_value",
        )
    )


def interval_join_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: like ``interval_join``
    but clicks with NO purchase in the horizon are preserved with null
    purchase columns.

    The streaming semantics this adds over the inner join: an unmatched
    click cannot emit when it arrives — a matching purchase might still
    come — so Spark holds it in state and emits the null row only once
    the watermark passes ``click_ts + horizon`` (proof no match can
    arrive). Outer emission is therefore WATERMARK-DRIVEN and needs a
    later batch to advance event time before the null rows appear —
    pinned by tests/test_streaming.py. In batch mode withWatermark
    no-ops and this is a plain left join (the oracle twin).

    Returns (user_id, click_id, purchase_id?, gap_ms?).
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        F.expr(
            f"c_user = user_id AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + interval {horizon}"
        ),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_millis("purchase_ts") - F.unix_millis("click_ts")).alias("gap_ms"),
    )
