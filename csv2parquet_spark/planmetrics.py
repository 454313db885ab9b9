"""Executed-plan metric capture: the box-noise-immune perf signal.

Wall-clock comparisons between rounds need canary normalization because
the bench box drifts 1.5-2.5x between phases; shuffle VOLUME does not —
records written through every Exchange are a pure function of plan
shape and data, deterministic run-to-run (VERDICT r8 item 8). A key
whose shuffle records grow round-over-round changed PLAN, full stop —
this is the signal that would have flagged the r8 ``agg_approx_distinct``
defect (a 16 KB sketch buffer dragged through per-row Expand partial
groups) without needing the sf1 sweep to catch it by wall time.

The noop-write timing path can't provide it: a ``df.write`` executes a
DIFFERENT QueryExecution than ``df``'s own, so its metrics are not
reachable from the handle (round-4 gotcha). Instead the capture runs
the df's OWN executed plan once — ``executedPlan().execute().count()``
drives the full pipeline JVM-side without transferring rows to Python —
then walks that same plan tree (through AQE wrapper and query stages)
summing the Exchange write metrics. The shuffle lint
(tests/test_shuffle_baseline.py) runs this capture for every key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from csv2parquet_spark.session import conf_override


def _capture_conf(df: DataFrame, shuffle_partitions: int | None):
    """AQE off (and shuffle partitions pinned, if given) for a capture."""
    pins = {"spark.sql.adaptive.enabled": "false"}
    if shuffle_partitions is not None:
        pins["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return conf_override(df.sparkSession.conf, pins)


def executed_shuffle_metrics(
    df: DataFrame, shuffle_partitions: int | None = None
) -> dict[str, int]:
    """Execute ``df``'s plan WITHOUT AQE and return its total shuffle
    write volume: ``{"records": N, "bytes": N}`` summed across every
    ShuffleExchange.

    ``shuffle_partitions`` optionally pins ``spark.sql.shuffle.partitions``
    for the capture (restored after). Shuffle RECORDS depend on it:
    a second-stage partial aggregate runs on the previous shuffle's
    partition count, so more partitions = smaller partials = less
    map-side combining = more records written. A baseline is therefore
    only comparable under the conf it was captured with — the suite
    learned this when a CLI test's ``getOrCreate`` silently flipped the
    shared session from 4 to 32 shuffle partitions and 27 text-heavy
    keys "grew" 20-50% (r9). Lint callers pass the baseline's pinned
    value; one-off callers can omit it.

    AQE is disabled for the capture (and restored after) because AQE
    volumes are RACY, not merely adaptive: independent query stages
    submit in parallel, and when a runtime broadcast conversion wins
    the race against a sibling exchange's submission that exchange is
    cancelled before writing — the same query measured 163 vs 91
    records on back-to-back runs in one session (r9). The STATIC plan
    is the deterministic canonical form the regression lint needs; a
    code change that adds an exchange or bloats what flows through one
    shows up identically in it, while AQE's runtime improvements
    (broadcast conversion, skew splits, coalescing) never change the
    static shape. ``executedPlan`` is materialized lazily inside this
    call, so the toggle applies even to a DataFrame built earlier
    under AQE.

    Executes ONE full run of the query (JVM-side row count, no driver
    transfer) — callers time their own runs separately; this pass is
    for the metric, not the clock. Pass a FRESH DataFrame: metrics
    accumulate per QueryExecution, so re-capturing a handle that
    already ran double-counts.
    """
    rec = 0
    byt = 0

    def walk(node) -> None:
        nonlocal rec, byt
        name = node.getClass().getSimpleName()
        if "ShuffleExchange" in name:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "shuffleRecordsWritten":
                    rec += kv._2().value()
                elif kv._1() == "shuffleBytesWritten":
                    byt += kv._2().value()
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        # Subquery plans (scalar/IN-subquery expressions) hang off the
        # node's EXPRESSIONS, not children() — without this walk an
        # exchange inside a SubqueryExec is invisible to the lint, so a
        # regression that moves work into a subquery would go unseen.
        # A ReusedSubqueryExec needs no skip: it is a leaf with no
        # subqueries of its own, so walking it adds nothing and the
        # subquery it reuses counts once, under its owner.
        subs = node.subqueries()
        for i in range(subs.size()):
            walk(subs.apply(i))
        if name == "AdaptiveSparkPlanExec":  # pragma: no cover - AQE off
            walk(node.executedPlan())
        if "QueryStage" in name:  # pragma: no cover - AQE off
            walk(node.plan())

    with _capture_conf(df, shuffle_partitions):
        qe = df._jdf.queryExecution()
        qe.executedPlan().execute().count()
        walk(qe.executedPlan())
    return {"records": int(rec), "bytes": int(byt)}
