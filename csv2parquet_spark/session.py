"""SparkSession factory.

Defaults are tuned for the local[N] test rig but every knob is chosen to
survive a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), UTC session timezone (oracle parity and
sanity at scale), Arrow-accelerated Python interchange, and shuffle
partitions sized to the actual parallelism rather than the 200 default.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Runtime-settable confs every query depends on: UTC session time zone
#: (DuckDB oracle timestamps are UTC-naive) and nanos-as-long parquet
#: reads (events.ts is TIMESTAMP(NANOS), unreadable otherwise; the table
#: loader converts it). The builder sets them, and
#: ``tables.ensure_session_confs`` re-applies them to caller-provided
#: and child sessions.
ENGINE_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Held for the whole of every conf_override: reentrant so one thread can
# nest overrides, exclusive so two threads' overrides never interleave.
_CONF_LOCK = threading.RLock()


def get_spark(
    app_name: str = "csv2parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). On a real cluster the caller passes its own master / lets
    spark-submit set it; everything else here is cluster-safe.

    CALLER BEWARE when a session already exists in this JVM:
    ``getOrCreate()`` APPLIES the builder's SQL configs to the existing
    session — it does not just return it. A second ``get_spark`` with
    different defaults (e.g. the CLI inside a test process) silently
    retunes the host session's ``spark.sql.shuffle.partitions``, which
    changes plan-volume measurements (smaller partials = less map-side
    combining = more shuffle records; r9 found 27 lint keys "grown"
    20-50% this way). Measurement code must pin the confs it depends on
    (tests/test_shuffle_baseline.py::pinned_conf).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle sized to parallelism; AQE coalesces further at runtime.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescer respects parallelism first (default), but its
        # 1m minPartitionSize FLOOR wins on small intermediate shuffles:
        # a ~2 MB aggregated relation coalesces to 1-2 partitions and
        # every downstream window/join stage runs serial while the rest
        # of the machine idles (r11 profiling: mad_outlier_report spent
        # 8 consecutive stages on one task; 2.32 s → 1.44 s with a 64k
        # floor). 64k keeps parallelismFirst able to reach
        # defaultParallelism on small relations; at cluster scale
        # partitions are orders of magnitude above either floor, so the
        # setting is inert there (extra_conf overrides it).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batch transfer for pandas UDF / toPandas paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in {**ENGINE_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_override(target, pins: dict[str, str]):
    """Set ``pins`` on ``target`` for the body, then restore every prior
    value in LIFO order.

    ``target`` is ``spark.conf`` or the Hadoop configuration
    (``spark.sparkContext._jsc.hadoopConfiguration()``): both support
    ``get(k, None)``, ``set`` and ``unset``. A key that was unset before
    is unset again, never set to ``""`` (an empty string fed to Hadoop's
    ``Configuration.getInt`` by a later write raises).

    One module-level reentrant lock is held for the whole override, so
    one thread may nest overrides (also of the same key) and two
    threads' overrides run one after the other instead of interleaving
    their save and restore. What the lock does NOT cover: a thread that
    plans or runs a query WITHOUT an override still sees another
    thread's pins while they are live, and a body that waits on a
    Python callback thread which itself overrides (e.g. a
    ``foreachBatch`` handler) deadlocks. Where a query can be built in
    its own session, scope its confs to a child session
    (``spark.newSession()``, the ``scanopt.footer_stats_session``
    pattern) instead of overriding the shared one.
    """
    with _CONF_LOCK:
        prior = []
        try:
            for k, v in pins.items():
                prior.append((k, target.get(k, None)))
                target.set(k, v)
            yield
        finally:
            for k, v in reversed(prior):
                if v is None:
                    target.unset(k)
                else:
                    target.set(k, v)


def no_aqe(spark: SparkSession):
    """Disable AQE for the body (see :func:`conf_override`).

    AQE submits every query stage as its OWN driver-sequenced job, so
    a model-sized two-stage aggregate (partial over the checkpointed
    training set → 1-row final) costs two job round-trips per
    iteration instead of one — pure scheduler latency, since there is
    nothing for AQE to re-plan in a fixed-shape scalar aggregate over
    a checkpoint (no joins, no skew, nothing to coalesce that the
    static shuffle.partitions doesn't already size). Measured on the
    logreg GD loop (5 iterations, sf0.1, interleaved ×6): median
    1.82 → 1.53 s, identical weights. Use ONLY around model-sized
    collect loops and eager materializations — the returned DataFrame
    a query hands the bench must be planned under the session's normal
    AQE conf.
    """
    return conf_override(spark.conf, {"spark.sql.adaptive.enabled": "false"})
