"""Structured Streaming tests (SURVEY.md §5.2 item 5): replay the events
parquet through readStream and assert stream results == batch results
for tumbling / sliding / session windows; stateful dedup; continuous
CSV→Parquet conversion.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from csv2parquet_spark.queries.registry import REGISTRY
from csv2parquet_spark.streaming import (
    read_events_stream,
    run_to_memory,
    session_counts,
    sliding_counts,
    streaming_csv_to_parquet,
    streaming_dedup,
    tumbling_counts,
)


def _sorted_rows(df):
    return sorted(map(str, df.collect()))


def _run_stream(spark, stream_df, mode="complete"):
    name, q = run_to_memory(stream_df, mode)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_equals_batch(spark, sf_dir):
    events = read_events_stream(spark, sf_dir)
    got = _run_stream(spark, tumbling_counts(events))
    want = REGISTRY["stream_tumbling_window"].fn(spark, sf_dir)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_sliding_stream_equals_batch(spark, sf_dir):
    events = read_events_stream(spark, sf_dir)
    got = _run_stream(spark, sliding_counts(events))
    want = REGISTRY["stream_sliding_window"].fn(spark, sf_dir)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_session_stream_equals_batch(spark, sf_dir):
    events = read_events_stream(spark, sf_dir)
    got = _run_stream(spark, session_counts(events))
    want = REGISTRY["stream_session_windows"].fn(spark, sf_dir)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_streaming_dedup(spark, tmp_path, sf_dir):
    """Duplicate events across micro-batch files are dropped within the
    watermark horizon."""
    src = str(tmp_path / "dup_events")
    os.makedirs(src)
    from csv2parquet_spark.tables import table

    base = table(spark, sf_dir, "events").limit(50)
    base.write.parquet(os.path.join(src, "a.parquet"))
    base.write.parquet(os.path.join(src, "b.parquet"))  # exact duplicates

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    got = _run_stream(spark, streaming_dedup(stream), mode="append")
    assert got.count() == 50
    assert got.select("event_id").distinct().count() == 50


def test_stateful_user_totals_equals_batch(spark, sf_dir):
    """applyInPandasWithState running totals: the LAST emission per user
    must equal the batch groupBy twin (count exactly; value within an
    IEEE-accumulation ulp)."""
    from csv2parquet_spark.streaming import user_running_totals

    events = read_events_stream(spark, sf_dir)
    got = _run_stream(spark, user_running_totals(events), mode="update")
    # update mode re-emits a user on every batch that touches it; the
    # memory sink keeps them all — the row with max n_events is final.
    final = (
        got.groupBy("user_id")
        .agg(
            F.max_by("n_events", "n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
            F.max_by("last_ts_ms", "n_events").alias("last_ts_ms"),
        )
    )
    want = REGISTRY["stream_stateful_user_totals"].fn(spark, sf_dir)
    f = {r.user_id: r for r in final.collect()}
    w = {r.user_id: r for r in want.collect()}
    assert set(f) == set(w)
    for uid, wr in w.items():
        fr = f[uid]
        assert fr.n_events == wr.n_events, uid
        assert fr.last_ts_ms == wr.last_ts_ms, uid
        assert abs(fr.total_value - wr.total_value) < 1e-6, uid


def test_streaming_csv_to_parquet(spark, tmp_path):
    """The reference's dataflow as an always-on incremental stream."""
    csv_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(csv_dir)
    with open(os.path.join(csv_dir, "a.csv"), "w") as f:
        f.write("i,s\n1,x\n2,y\n")
    q = streaming_csv_to_parquet(
        spark, csv_dir, out_dir, ckpt, schema="i bigint, s string"
    )
    q.awaitTermination(60)
    first = spark.read.parquet(out_dir)
    assert first.count() == 2
    # a second file lands → only the increment is processed
    with open(os.path.join(csv_dir, "b.csv"), "w") as f:
        f.write("i,s\n3,z\n")
    q2 = streaming_csv_to_parquet(
        spark, csv_dir, out_dir, ckpt, schema="i bigint, s string"
    )
    q2.awaitTermination(60)
    out = spark.read.parquet(out_dir)
    assert sorted(r.i for r in out.collect()) == [1, 2, 3]


def test_streaming_csv_matches_convert(spark, tmp_path):
    """The streaming converter parses CSV in the batch converter's
    dialect: a doubled-quote escape unescapes and a quoted newline stays
    inside its cell, exactly as ``convert`` writes them."""
    from csv2parquet_spark.converter.convert import convert

    csv_dir = tmp_path / "in"
    csv_dir.mkdir()
    (csv_dir / "a.csv").write_text('k,s\n1,"a""b"\n2,"x\ny"\n3,plain\n')
    out_dir = str(tmp_path / "out")
    q = streaming_csv_to_parquet(
        spark, str(csv_dir), out_dir, str(tmp_path / "ckpt"),
        schema="k bigint, s string",
    )
    q.awaitTermination(60)
    batch = str(tmp_path / "batch.parquet")
    convert(spark, str(csv_dir / "a.csv"), batch)

    def rows(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()), key=repr)

    want = [(1, 'a"b'), (2, "x\ny"), (3, "plain")]
    assert rows(out_dir) == want
    assert rows(batch) == want


def test_watermark_drops_late_data(spark, tmp_path):
    """An event older than the watermark when its batch arrives must not
    be counted; on-time events in the same batch must be. Two explicit
    micro-batches (second file written only after the first is fully
    processed) make watermark progression deterministic."""
    import pandas as pd

    src = str(tmp_path / "late_events")
    os.makedirs(src)

    def mk(rows, name):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        sdf.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, name))

    mk(
        [
            (1, "2026-01-01 10:00:00", 1, "click", 1.0, "{}"),
            (2, "2026-01-01 13:00:00", 1, "click", 1.0, "{}"),  # advances watermark
        ],
        "a.parquet",
    )
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = tumbling_counts(stream, watermark="30 minutes")
    name, q = run_to_memory(agg, "append")
    try:
        q.processAllAvailable()  # batch 1 processed; watermark ≈ 12:30
        mk(
            [
                (3, "2026-01-01 10:01:00", 2, "click", 1.0, "{}"),  # LATE → dropped
                (4, "2026-01-01 13:05:00", 2, "click", 1.0, "{}"),  # on time
            ],
            "b.parquet",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.window_start_ms: r.n
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    ten_am = 1767261600000  # 2026-01-01 10:00:00 UTC epoch ms
    # the 10:00 window was finalized with ONE event; the late duplicate
    # arriving in batch 2 did not resurrect or increment it
    assert got.get(ten_am) == 1, got


def test_interval_join_stream_equals_batch(spark, sf_dir):
    """Stream-stream interval join (clicks × purchases, 30-min horizon,
    watermarks both sides) must produce exactly the batch join's pairs."""
    from pyspark.sql import functions as F

    from csv2parquet_spark.streaming.windows import interval_join
    from csv2parquet_spark.tables import table

    s = read_events_stream(spark, sf_dir)
    got = _run_stream(
        spark,
        interval_join(
            s.filter(F.col("event_type") == "click"),
            s.filter(F.col("event_type") == "purchase"),
        ),
        mode="append",
    )
    e = table(spark, sf_dir, "events")
    want = interval_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )
    assert _sorted_rows(got) == _sorted_rows(want)
    assert want.count() > 0


def test_streaming_jsonl_to_parquet(spark, tmp_path):
    """Continuous JSONL->Parquet conversion: files landing across
    micro-batches all arrive in the output, exactly once."""
    import json

    from csv2parquet_spark.streaming import streaming_jsonl_to_parquet

    src = tmp_path / "in"
    src.mkdir()
    for i in range(3):
        (src / f"f{i}.jsonl").write_text(
            "".join(json.dumps({"id": i * 10 + j, "s": f"r{i}-{j}"}) + "\n"
                    for j in range(5))
        )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_jsonl_to_parquet(
        spark, str(src), out, ckpt, "id bigint, s string"
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 15
    assert got.select("id").distinct().count() == 15

    # a new file after a restart converts incrementally (checkpoint)
    (src / "f3.jsonl").write_text('{"id": 99, "s": "late"}\n')
    q2 = streaming_jsonl_to_parquet(
        spark, str(src), out, ckpt, "id bigint, s string"
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == 16


def test_streaming_upsert_sink(spark, tmp_path):
    """foreachBatch keyed upsert: later batches overwrite earlier rows
    with the same key; the snapshot equals last-writer-wins over the
    whole stream, and a restart continues incrementally."""
    import json

    from csv2parquet_spark.streaming import (
        read_snapshot,
        streaming_upsert_to_parquet,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        json.dumps({"k": 1, "v": "a"}) + "\n" + json.dumps({"k": 2, "v": "b"}) + "\n"
    )
    (src / "b1.jsonl").write_text(
        json.dumps({"k": 2, "v": "b2"}) + "\n" + json.dumps({"k": 3, "v": "c"}) + "\n"
    )
    root = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("k bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = streaming_upsert_to_parquet(spark, stream, root, "k", ckpt)
    q.awaitTermination()
    snap = {r.k: r.v for r in read_snapshot(spark, root).collect()}
    assert snap == {1: "a", 2: "b2", 3: "c"}

    # restart with a new file: only the increment processes, upsert holds
    (src / "b2.jsonl").write_text(json.dumps({"k": 1, "v": "a9"}) + "\n")
    stream2 = (
        spark.readStream.schema("k bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q2 = streaming_upsert_to_parquet(spark, stream2, root, "k", ckpt)
    q2.awaitTermination()
    snap2 = {r.k: r.v for r in read_snapshot(spark, root).collect()}
    assert snap2 == {1: "a9", 2: "b2", 3: "c"}


def test_upsert_batch_replay_after_swap_is_noop(spark, tmp_path):
    """Crash-after-swap replay: if the manifest already points at the
    incoming version (the checkpoint died before committing), re-merging
    would overwrite the very snapshot being read — the batch must be a
    no-op instead (pre-fix: the stream wedged on every restart)."""
    from csv2parquet_spark.streaming import read_snapshot
    from csv2parquet_spark.streaming.sinks import upsert_batch

    root = str(tmp_path / "snap")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    upsert_batch(spark, root, b0, "k", 0)
    b1 = spark.createDataFrame([(2, "b2")], "k bigint, v string")
    upsert_batch(spark, root, b1, "k", 1)
    # replay of batch 1 (same version, possibly same data) — must no-op
    upsert_batch(spark, root, b1, "k", 1)
    snap = {r.k: r.v for r in read_snapshot(spark, root).collect()}
    assert snap == {1: "a", 2: "b2"}


def test_upsert_batch_seq_tie_break(spark, tmp_path):
    """Within a batch, the row with the highest __seq wins when the
    column is present (documented contract, now implemented)."""
    from csv2parquet_spark.streaming import read_snapshot
    from csv2parquet_spark.streaming.sinks import upsert_batch

    root = str(tmp_path / "snap")
    b = spark.createDataFrame(
        [(1, "old", 10), (1, "new", 20), (2, "only", 5)],
        "k bigint, v string, __seq bigint",
    )
    upsert_batch(spark, root, b, "k", 0)
    snap = {r.k: r.v for r in read_snapshot(spark, root).collect()}
    assert snap == {1: "new", 2: "only"}


def _write_json_batches(src, batches):
    """One JSON file per micro-batch, mtimes forcing the trigger order
    (the file source orders by modification time)."""
    import json

    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.json")
        with open(p, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")
        os.utime(p, (1_000_000_000 + 60 * i, 1_000_000_000 + 60 * i))


_EV_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
)


def test_interval_join_micro_batches_drop_late_rows(spark, tmp_path):
    """REAL readStream micro-batches (>=3) through the stream-stream
    interval join: a click+purchase pair arriving in batch 3 with event
    times far below the watermark (advanced by batch 2) must be DROPPED
    by the stream while the batch twin (withWatermark no-ops in batch)
    still matches it — the state-bounding behavior the r2 batch-twin
    oracle could not observe."""
    from csv2parquet_spark.streaming import run_to_memory
    from csv2parquet_spark.streaming.windows import interval_join

    src = str(tmp_path / "ij")
    _write_json_batches(
        src,
        [
            [
                {"event_id": 100, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
                {"event_id": 200, "ts": "2024-01-01 10:05:00", "user_id": 1, "event_type": "purchase", "value": 5.0},
            ],
            [
                {"event_id": 101, "ts": "2024-01-01 12:00:00", "user_id": 2, "event_type": "click", "value": 1.0},
                {"event_id": 201, "ts": "2024-01-01 12:05:00", "user_id": 2, "event_type": "purchase", "value": 5.0},
            ],
            # late pair, SPLIT across batches: Spark's stream-stream
            # join drops late rows at the state boundary — a late click
            # never enters state, so its purchase (next batch) finds
            # nothing. (Same-batch late pairs still join intra-batch;
            # the guarantee is about state, not intra-batch pairing.)
            [{"event_id": 102, "ts": "2024-01-01 10:30:00", "user_id": 3, "event_type": "click", "value": 1.0}],
            [{"event_id": 202, "ts": "2024-01-01 10:35:00", "user_id": 3, "event_type": "purchase", "value": 5.0}],
        ],
    )

    def build(df):
        return interval_join(
            df.filter("event_type = 'click'"),
            df.filter("event_type = 'purchase'"),
            horizon="30 minutes",
            watermark="10 minutes",
        )

    stream = (
        spark.readStream.schema(_EV_SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    name, q = run_to_memory(build(stream), "append")
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert n_batches >= 3

    batch = spark.read.schema(_EV_SCHEMA).json(src)
    want = {(r.click_id, r.purchase_id) for r in build(batch).collect()}
    assert (102, 202) in want  # the batch twin sees the late pair...
    assert (102, 202) not in got  # ...the watermark drops it in-stream
    assert got == want - {(102, 202)}


def test_session_windows_micro_batches_drop_late_event(spark, tmp_path):
    """Session windows over >=4 real micro-batches: a late event for an
    already-closed session (below the watermark) is dropped — the
    session it would have extended keeps its original n_events, and the
    stream's emitted sessions equal the batch twin computed WITHOUT the
    late event."""
    from csv2parquet_spark.streaming import run_to_memory, session_counts

    batches = [
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:05:00", "user_id": 1, "event_type": "click", "value": 1.0},
        ],
        [
            {"event_id": 3, "ts": "2024-01-01 13:00:00", "user_id": 2, "event_type": "click", "value": 1.0},
        ],
        [  # second advancer: the late-input filter uses the PREVIOUS
            # batch's watermark (two-phase propagation), so the late row
            # needs two advancing batches before it to be filtered
            {"event_id": 6, "ts": "2024-01-01 13:30:00", "user_id": 2, "event_type": "click", "value": 1.0},
        ],
        [  # late: user 1's session [10:00, 10:15) closed at watermark 12:50
            {"event_id": 4, "ts": "2024-01-01 10:07:00", "user_id": 1, "event_type": "click", "value": 1.0},
        ],
        [  # closer: advances the watermark past user 2's session ends
            {"event_id": 5, "ts": "2024-01-01 16:00:00", "user_id": 4, "event_type": "click", "value": 1.0},
        ],
    ]
    src = str(tmp_path / "sess")
    _write_json_batches(src, batches)
    stream = (
        spark.readStream.schema(_EV_SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    name, q = run_to_memory(
        session_counts(stream, gap="10 minutes", watermark="10 minutes"), "append"
    )
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    got = {
        (r.user_id, r.session_start_ms, r.n_events)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert n_batches >= 4

    # batch twin WITHOUT the late event == the stream's emitted sessions
    # (restricted to sessions the final watermark 15:50 has closed)
    import json

    no_late = [r for b in batches for r in b if r["event_id"] != 4]
    p = tmp_path / "nolate.json"
    p.write_text("\n".join(json.dumps(r) for r in no_late) + "\n")
    twin = session_counts(
        spark.read.schema(_EV_SCHEMA).json(str(p)), gap="10 minutes", watermark="10 minutes"
    )
    wm_ms = 1704124200000  # 2024-01-01 15:50 UTC — final watermark
    gap_ms = 600_000
    want = {
        (r.user_id, r.session_start_ms, r.n_events)
        for r in twin.collect()
        if r.session_end_ms + gap_ms <= wm_ms  # window end past watermark
    }
    assert got == want
    assert any(u == 1 and n == 2 for (u, s, n) in got)  # late row did not bump
    assert not any(u == 1 and n == 3 for (u, s, n) in got)


def test_partitioned_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """partition_col snapshot layout: each batch rewrites only the
    partitions it touches (per-partition version dirs + manifests); an
    untouched partition keeps its original v0 directory untouched. The
    read path unions the per-partition currents; replays no-op."""
    from csv2parquet_spark.streaming import read_snapshot
    from csv2parquet_spark.streaming.sinks import upsert_batch

    root = str(tmp_path / "snap")
    b0 = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
        "k bigint, v string, d string",
    )
    upsert_batch(spark, root, b0, "k", 0, partition_col="d")
    # batch 1 touches only 2024-01-02
    b1 = spark.createDataFrame(
        [(2, "b2", "2024-01-02"), (3, "c", "2024-01-02")],
        "k bigint, v string, d string",
    )
    upsert_batch(spark, root, b1, "k", 1, partition_col="d")

    p1 = os.path.join(root, "d=2024-01-01")
    p2 = os.path.join(root, "d=2024-01-02")
    assert sorted(d for d in os.listdir(p1) if d.startswith("v")) == ["v0"]
    assert "v1" in os.listdir(p2)
    with open(os.path.join(p1, "_CURRENT")) as f:
        assert f.read().strip() == "v0"  # untouched partition not repointed

    snap = {r.k: (r.v, r.d) for r in read_snapshot(spark, root).collect()}
    assert snap == {
        1: ("a", "2024-01-01"),
        2: ("b2", "2024-01-02"),
        3: ("c", "2024-01-02"),
    }

    # replay of batch 1 (crash-after-swap): per-partition no-op
    upsert_batch(spark, root, b1, "k", 1, partition_col="d")
    snap2 = {r.k: (r.v, r.d) for r in read_snapshot(spark, root).collect()}
    assert snap2 == snap


def test_transform_with_state_matches_apply_in_pandas_with_state(spark, sf_dir):
    """The Spark 4 transformWithStateInPandas operator must emit the
    same finals as the applyInPandasWithState original (and therefore
    the batch groupBy twin): same state sharding, new API. Skips where
    the container lacks protobuf (the transformWithState state-server
    protocol needs it; installs are off-limits)."""
    import pytest

    from csv2parquet_spark.streaming.stateful import (
        transform_with_state_available,
        user_running_totals_tws,
    )

    if not transform_with_state_available():
        pytest.skip("google.protobuf not in container — transformWithState gated")

    events = read_events_stream(spark, sf_dir)
    got = _run_stream(spark, user_running_totals_tws(events), mode="update")
    final = got.groupBy("user_id").agg(
        F.max_by("n_events", "n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
        F.max_by("last_ts_ms", "n_events").alias("last_ts_ms"),
    )
    want = REGISTRY["stream_stateful_user_totals"].fn(spark, sf_dir)
    f = {r.user_id: r for r in final.collect()}
    w = {r.user_id: r for r in want.collect()}
    assert set(f) == set(w)
    for uid, wr in w.items():
        fr = f[uid]
        assert fr.n_events == wr.n_events, uid
        assert fr.last_ts_ms == wr.last_ts_ms, uid
        assert abs(fr.total_value - wr.total_value) < 1e-6, uid


def test_static_enrich_stream_equals_batch(spark, sf_dir):
    """Stream-static broadcast join: replaying events through readStream
    with the static customer->nation dim must equal the batch twin
    (no join state, so stream == batch exactly, late data aside)."""
    from csv2parquet_spark.queries import REGISTRY
    from csv2parquet_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        static_enrich_revenue,
    )
    from csv2parquet_spark.tables import table

    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    dim = c.join(n, c["c_nationkey"] == n["n_nationkey"]).select(
        "c_custkey", "n_name"
    )
    stream = read_events_stream(spark, sf_dir)
    name, q = run_to_memory(static_enrich_revenue(stream, dim), "complete")
    try:
        q.processAllAvailable()
        got = sorted(map(str, spark.sql(f"SELECT * FROM {name}").collect()))
    finally:
        q.stop()
    want = sorted(
        map(str, REGISTRY["stream_static_enrich"].fn(spark, sf_dir).collect())
    )
    assert got == want and len(got) > 0


def test_interval_join_outer_emits_null_rows_on_watermark(spark, tmp_path):
    """LEFT-OUTER stream-stream interval join over real micro-batches:
    (a) an unmatched click emits a null-purchase row only after the
    watermark passes click_ts + horizon — outer emission is
    watermark-driven and requires BOTH sides' watermark nodes to
    advance (the global watermark is their MIN); (b) discovered
    semantics, pinned here: a LATE click on the OUTER side is NOT
    input-filtered — it enters state and still emits its null row on
    eviction (what the watermark prevents is cross-batch MATCHING, see
    test_interval_join_micro_batches_drop_late_rows) — so the stream's
    final output equals the batch twin exactly, nulls included."""
    from csv2parquet_spark.streaming import run_to_memory
    from csv2parquet_spark.streaming.windows import interval_join_outer

    src = str(tmp_path / "ijo")
    _write_json_batches(
        src,
        [
            [  # matched pair + an unmatched click (user 4)
                {"event_id": 100, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
                {"event_id": 200, "ts": "2024-01-01 10:05:00", "user_id": 1, "event_type": "purchase", "value": 5.0},
                {"event_id": 400, "ts": "2024-01-01 10:00:00", "user_id": 4, "event_type": "click", "value": 1.0},
            ],
            # advancers must move BOTH sides: the global watermark is
            # the MIN over the click and purchase watermark nodes, and
            # each node only tracks event times it has seen — a
            # click-only advancer leaves the purchase watermark (and so
            # state eviction) frozen.
            [
                {"event_id": 101, "ts": "2024-01-01 13:00:00", "user_id": 2, "event_type": "click", "value": 1.0},
                {"event_id": 201, "ts": "2024-01-01 13:05:00", "user_id": 2, "event_type": "purchase", "value": 5.0},
            ],
            [  # LATE unmatched click, far below the watermark
                {"event_id": 500, "ts": "2024-01-01 10:20:00", "user_id": 5, "event_type": "click", "value": 1.0},
                # second advancer (watermark propagates two-phase)
                {"event_id": 102, "ts": "2024-01-01 14:00:00", "user_id": 2, "event_type": "click", "value": 1.0},
                {"event_id": 202, "ts": "2024-01-01 14:05:00", "user_id": 2, "event_type": "purchase", "value": 5.0},
            ],
            [  # third advancer batch so earlier state fully expires
                {"event_id": 103, "ts": "2024-01-01 16:00:00", "user_id": 2, "event_type": "click", "value": 1.0},
                {"event_id": 203, "ts": "2024-01-01 16:00:00", "user_id": 2, "event_type": "purchase", "value": 5.0},
            ],
        ],
    )

    def build(df):
        return interval_join_outer(
            df.filter("event_type = 'click'"),
            df.filter("event_type = 'purchase'"),
            horizon="30 minutes",
            watermark="10 minutes",
        )

    stream = (
        spark.readStream.schema(_EV_SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    name, q = run_to_memory(build(stream), "append")
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert n_batches >= 4
    assert (100, 200) in got  # the matched pair
    assert (400, None) in got  # unmatched click emitted as a null row
    assert (500, None) in got  # late OUTER-side click: null row anyway

    batch = spark.read.schema(_EV_SCHEMA).json(src)
    want = {(r.click_id, r.purchase_id) for r in build(batch).collect()}
    assert got == want


def test_trending_topk_stream_plus_foreachbatch_equals_batch(spark, sf_dir):
    """The trending-top-k SPLIT: windowed counts run IN the stream
    (incremental state), the per-window rank runs in foreachBatch on
    each complete-mode snapshot (rank is not stream-incremental — this
    is the standard production split). The final snapshot's ranked
    output must equal the registered batch twin."""
    from pyspark.sql.window import Window

    events = read_events_stream(spark, sf_dir)
    counts = events.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))

    snapshots = []

    def rank_batch(batch_df, _batch_id):
        rk = F.row_number().over(
            Window.partitionBy("w").orderBy(F.desc("n"), "event_type")
        )
        snapshots.append(
            batch_df.withColumn("rk", rk)
            .filter(F.col("rk") <= 3)
            .select(
                F.unix_millis("w.start").alias("window_start_ms"),
                "event_type",
                "n",
                F.col("rk").cast("int").alias("rk"),
            )
            .collect()
        )

    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(rank_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert snapshots, "foreachBatch never fired"
    got = sorted(map(str, snapshots[-1]))
    want = _sorted_rows(REGISTRY["stream_topk_trending"].fn(spark, sf_dir))
    assert got == want


def test_streaming_kmv_quantiles_merge_equals_batch(spark, sf_dir):
    """Streaming quantile monitoring through the EXACTLY-mergeable KMV
    sketch: each micro-batch's bottom-k sample merges into the running
    state by union + re-limit (the KMV merge law — no approximation
    beyond the sketch itself), so after the stream drains, quantiles
    from the streamed state are IDENTICAL to the batch sketch over the
    same data. This is the foreachBatch shape for any mergeable sketch
    (CM / HLL / MG follow the same pattern)."""
    from csv2parquet_spark.operators.sketches import kmv_quantiles, kmv_sample

    k = 256
    state = {"sample": None}

    def merge_batch(batch_df, _bid):
        part = kmv_sample(batch_df, "value", "event_id", k).localCheckpoint()
        if state["sample"] is None:
            state["sample"] = part
        else:
            state["sample"] = (
                state["sample"]
                .unionByName(part)
                .orderBy("h")
                .limit(k)
                .localCheckpoint()
            )

    events = read_events_stream(spark, sf_dir)
    q = events.writeStream.foreachBatch(merge_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert state["sample"] is not None
    got = sorted(
        map(tuple, kmv_quantiles(state["sample"], [0.1, 0.5, 0.9], k).collect())
    )
    from csv2parquet_spark.tables import table

    whole = kmv_sample(table(spark, sf_dir, "events"), "value", "event_id", k)
    want = sorted(map(tuple, kmv_quantiles(whole, [0.1, 0.5, 0.9], k).collect()))
    assert got == want


def test_available_now_drains_backlog_in_bounded_batches_then_stops(
    spark, tmp_path, sf_dir
):
    """Trigger.AvailableNow — the batch-job-over-streaming-source mode
    a 100 TB backfill uses: process everything currently available,
    HONOR the per-batch bounds (maxFilesPerTrigger keeps any one
    micro-batch memory-sized, unlike Trigger.Once), then terminate on
    its own — checkpointable, resumable, no always-on cluster.

    Pins: (1) the query self-terminates (awaitTermination returns
    True, no manual stop); (2) the backlog was split into multiple
    bounded micro-batches, not one mega-batch; (3) the drained result
    equals the batch aggregation of the same files.
    """
    import glob as _glob

    from csv2parquet_spark.tables import table

    src = str(tmp_path / "an_events")
    os.makedirs(src)
    base = table(spark, sf_dir, "events").limit(90).localCheckpoint()
    for i in range(3):
        (
            base.where(F.col("event_id") % 3 == i)
            .coalesce(1)
            .write.parquet(os.path.join(src, f"part{i}.parquet"))
        )
    assert len(_glob.glob(os.path.join(src, "*", "*.parquet"))) == 3

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName("an_drain")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", str(tmp_path / "an_ckpt")
        )
        .start()
    )
    terminated = q.awaitTermination(timeout=120)
    assert terminated, "availableNow query did not self-terminate"
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected >=3 bounded batches, got {n_batches}"

    got = {
        (r.event_type, r.n)
        for r in spark.sql("SELECT * FROM an_drain").collect()
    }
    want = {
        (r.event_type, r.n)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(src)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_snapshot_time_travel_within_retention(spark, tmp_path):
    """read_snapshot(version=N) time-travels to any RETAINED snapshot
    (the sink keeps the current version + its predecessor): after v1
    and v2, version=1 shows the pre-upsert row values; a pruned
    version raises ValueError naming the retained list."""
    import pytest as _pytest

    from csv2parquet_spark.streaming.sinks import read_snapshot, upsert_batch

    root = str(tmp_path / "tt_snap")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    upsert_batch(spark, root, b1, key="k", version=1)
    b2 = spark.createDataFrame([(2, "B2"), (3, "c")], "k bigint, v string")
    upsert_batch(spark, root, b2, key="k", version=2)

    cur = {(r.k, r.v) for r in read_snapshot(spark, root).collect()}
    assert cur == {(1, "a"), (2, "B2"), (3, "c")}
    v1 = {(r.k, r.v) for r in read_snapshot(spark, root, version=1).collect()}
    assert v1 == {(1, "a"), (2, "b")}

    # v3 prunes v1 (retention: current + predecessor)
    b3 = spark.createDataFrame([(4, "d")], "k bigint, v string")
    upsert_batch(spark, root, b3, key="k", version=3)
    with _pytest.raises(ValueError, match="not retained"):
        read_snapshot(spark, root, version=1)
    v2 = {(r.k, r.v) for r in read_snapshot(spark, root, version=2).collect()}
    assert v2 == {(1, "a"), (2, "B2"), (3, "c")}


def test_snapshot_time_travel_refuses_uncommitted_and_partitioned(
    spark, tmp_path
):
    """Time travel serves only COMMITTED versions: an orphan v2
    directory from a crashed upsert (manifest still at v1) must not be
    readable; and a partitioned-layout root refuses version= with an
    explicit unsupported-layout error, not a confusing retention one."""
    import os

    import pytest as _pytest

    from csv2parquet_spark.streaming.sinks import read_snapshot, upsert_batch

    root = str(tmp_path / "tt2")
    b1 = spark.createDataFrame([(1, "a")], "k bigint, v string")
    upsert_batch(spark, root, b1, key="k", version=1)
    # simulate a crash mid-upsert: v2 written, manifest NOT swapped
    b1.write.parquet(os.path.join(root, "v2"))
    with _pytest.raises(ValueError, match="not retained"):
        read_snapshot(spark, root, version=2)

    proot = str(tmp_path / "tt2_part")
    bp = spark.createDataFrame([(1, "a", "x")], "k bigint, v string, d string")
    upsert_batch(spark, proot, bp, key="k", version=1, partition_col="d")
    with _pytest.raises(ValueError, match="flat layout"):
        read_snapshot(spark, proot, version=1)


def test_dynamic_session_stream_equals_batch_twin(spark, sf_dir):
    """REAL streaming session_window with a DYNAMIC gap expression
    (each event's gap depends on its own type) must produce the exact
    session set of the batch twin's running-max-of-ends islands — the
    union-of-intervals semantics where an early long-gap event bridges
    later short-gap ones."""
    from pyspark.sql import functions as F

    events = read_events_stream(spark, sf_dir)
    gap = (
        F.when(F.col("event_type") == "purchase", "2 hours")
        .when(F.col("event_type").isin("click", "view"), "1 hour")
        .otherwise("30 minutes")
    )
    agg = (
        events.withWatermark("ts", "30 days")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            "n_events",
        )
    )
    got = _sorted_rows(_run_stream(spark, agg))
    want = _sorted_rows(
        REGISTRY["sessionize_dynamic_gap"]
        .fn(spark, sf_dir)
        .select("user_id", "session_start_ms", "n_events")
    )
    assert got == want


def test_stream_follows_incremental_converter_batches(spark, tmp_path):
    """The continuous-ingestion tail end-to-end: Structured Streaming's
    file source follows the incremental converter's append-only
    batch=n/ output. Run 1 converts a.csv into batch=0; an
    AvailableNow pass over batch=*/ drains exactly those rows. Run 2
    converts b.csv into batch=1; a SECOND pass sharing the SAME
    checkpoint processes ONLY the new batch's files — the immutable-
    batch contract is precisely what makes the file source's
    seen-files log correct (nothing is ever rewritten in place)."""
    import os

    from csv2parquet_spark.converter.incremental import convert_incremental

    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n2,20\n")
    manifest = str(tmp_path / "manifest.json")
    assert convert_incremental(spark, str(src), str(out), manifest).batch == 0

    sink = str(tmp_path / "sink")

    def drain() -> list[tuple]:
        # parquet sink + shared checkpoint: the file SINK supports
        # checkpoint recovery (the memory sink does not), so each
        # AvailableNow pass appends exactly the not-yet-seen files.
        stream = spark.readStream.schema("k bigint, v bigint").parquet(
            f"{out}/batch=*/*.parquet"
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            map(tuple, spark.read.parquet(sink).select("k", "v").collect())
        )

    assert drain() == [(1, 10), (2, 20)]

    (src / "b.csv").write_text("k,v\n3,30\n")
    assert convert_incremental(spark, str(src), str(out), manifest).batch == 1
    # same checkpoint: the seen-files log admits only batch=1's files,
    # so the sink grows by exactly b.csv's rows (no reprocessing of
    # batch=0 — exactly-once across restarts).
    assert drain() == [(1, 10), (2, 20), (3, 30)]


# ---------------------------------------------------------------------------
# Round-8 review fixes: NULL partitions, gapped-version GC
# ---------------------------------------------------------------------------


def test_partitioned_upsert_null_partition_value(spark, tmp_path):
    """Rows whose partition column is NULL must land in their own
    sub-snapshot (hive default-partition name), not be silently dropped
    by a `col == lit(None)` filter that is never true."""
    from csv2parquet_spark.streaming.sinks import read_snapshot, upsert_batch

    root = str(tmp_path / "snap")
    batch = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "a", 30)], "k int, d string, v int"
    )
    upsert_batch(spark, root, batch, key="k", version=1, partition_col="d")
    got = {(r.k, r.d, r.v) for r in read_snapshot(spark, root).collect()}
    assert got == {(1, "a", 10), (2, None, 20), (3, "a", 30)}
    assert os.path.isdir(os.path.join(root, "d=__HIVE_DEFAULT_PARTITION__"))
    # upsert into the NULL partition works like any other
    batch2 = spark.createDataFrame([(2, None, 25)], "k int, d string, v int")
    upsert_batch(spark, root, batch2, key="k", version=2, partition_col="d")
    got = {(r.k, r.v) for r in read_snapshot(spark, root).collect()}
    assert got == {(1, 10), (2, 25), (3, 30)}


def test_snapshot_gc_keeps_predecessor_with_gapped_versions(spark, tmp_path):
    """Per-partition versions are global batch ids (gaps are normal):
    after a swap to v9 over {v3}, v3 is the PREDECESSOR and must be
    retained — numeric version-1 arithmetic used to delete it, breaking
    the documented reader guarantee."""
    from csv2parquet_spark.streaming.sinks import read_snapshot, upsert_batch

    root = str(tmp_path / "snap")
    df = spark.createDataFrame([(1, 10)], "k int, v int")
    upsert_batch(spark, root, df, key="k", version=3)
    upsert_batch(
        spark, root, spark.createDataFrame([(1, 11)], "k int, v int"),
        key="k", version=9,
    )
    assert os.path.isdir(os.path.join(root, "v3"))  # predecessor retained
    assert [r.v for r in read_snapshot(spark, root, version=3).collect()] == [10]
    # a third swap drops the oldest, keeps the new current+predecessor
    upsert_batch(
        spark, root, spark.createDataFrame([(1, 12)], "k int, v int"),
        key="k", version=15,
    )
    assert not os.path.isdir(os.path.join(root, "v3"))
    assert os.path.isdir(os.path.join(root, "v9"))
    assert os.path.isdir(os.path.join(root, "v15"))
