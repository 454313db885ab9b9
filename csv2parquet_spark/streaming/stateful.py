"""Custom stateful streaming operator (SURVEY.md §2.6):
``applyInPandasWithState`` — per-key state the built-in windowed
aggregations can't express.

The operator keeps a running (n_events, total_value, last_ts_ms)
per user and emits the updated totals every micro-batch. State is
sharded by the groupBy key across executors; at 100 TB of events the
state store holds one small tuple per user, not per event — bounded by
key cardinality, checkpointed for exactly-once.

The batch twin (``queries/llm_ops`` → ``stream_stateful_user_totals``)
is a plain groupBy aggregation; the pytest suite replays the stream and
asserts the final per-user emission equals the batch result.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming.state import GroupState

OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, last_ts_ms bigint"
STATE_SCHEMA = "n bigint, total double, last_ms bigint"


def user_running_totals(events: DataFrame) -> DataFrame:
    """Streaming per-user running totals via applyInPandasWithState.

    ``total_value`` accumulates per-row values rounded to 6dp (decimal
    semantics on an IEEE accumulator: exact for the test horizon, and
    the same convention the batch twin's decimal sum uses).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[Any], state: "GroupState"
    ) -> Iterator[Any]:
        import pandas as pd  # executor-side import

        n, total, last_ms = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].round(6).sum())
            if len(pdf):
                batch_max_ms = int(pdf["ts"].max().value // 1_000_000)
                last_ms = max(last_ms, batch_max_ms)
        state.update((n, total, last_ms))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 6)],
                "last_ts_ms": [last_ms],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transform_with_state_available() -> bool:
    """True iff the transformWithState wire protocol can run here: its
    state-server protocol needs ``google.protobuf``, which this
    container does not ship (and installs are off-limits), so the twin
    is gated here instead of crashing."""
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_running_totals_tws(events: DataFrame) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas`` twin of
    :func:`user_running_totals`: the same per-user running totals on the
    new arbitrary-stateful-processing API (typed ValueState handles +
    lifecycle hooks instead of the single GroupState blob). Kept
    alongside the applyInPandasWithState version because the two APIs
    shard and checkpoint state the same way — one small tuple per user —
    but transformWithState additionally supports timers, multiple typed
    state variables, and TTL, the shapes long-running 100 TB pipelines
    need.

    Requires ``protobuf`` at runtime (gate with
    :func:`transform_with_state_available`); the equivalence test skips
    with an explicit reason where the container lacks it."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Processor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n bigint, total double, last_ms bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd  # executor-side import

            n, total, last_ms = (
                self._state.get() if self._state.exists() else (0, 0.0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].round(6).sum())
                if len(pdf):
                    batch_max_ms = int(pdf["ts"].max().value // 1_000_000)
                    last_ms = max(last_ms, batch_max_ms)
            self._state.update((n, total, last_ms))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 6)],
                    "last_ts_ms": [last_ms],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        Processor(),
        outputStructType=OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
