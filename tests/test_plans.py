"""Physical-plan regression tests (SURVEY.md §4.3, the 100 TB design
contract): the properties that make these queries scale — pushdown,
pruning, broadcasts, top-k without global sort, map-only stages — are
asserted on the EXECUTED plan text, so a refactor that silently
reintroduces a shuffle or drops a pushed filter fails CI, not the
cluster.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from csv2parquet_spark.queries.registry import REGISTRY
from csv2parquet_spark.session import conf_override


def _plan(df) -> str:
    """Formatted physical plan (executedPlan after AQE planning)."""
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    """filter_project: predicates reach the parquet scan; unused columns
    are pruned out of ReadSchema."""
    plan = _plan(REGISTRY["filter_project"].fn(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity" in plan
    # ReadSchema must NOT include columns the query never touches.
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "l_tax" not in read_schema[0]
    assert "l_returnflag" not in read_schema[0]


def test_dimension_joins_broadcast(spark, sf_dir):
    """q10: customer/nation sides broadcast — the fact table is never
    shuffled for a dimension join."""
    plan = _plan(REGISTRY["q10_returned_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    """orderBy+limit plans TakeOrderedAndProject (per-partition heaps +
    driver merge), never a global sort."""
    plan = _plan(REGISTRY["topk_orders_by_price"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global Sort node


def test_brute_force_topk_has_no_shuffle_exchange(spark, sf_dir):
    """similarity_topk_exact: broadcast query + scan + TakeOrdered — the
    only exchange allowed is the broadcast of the single query vector."""
    plan = _plan(REGISTRY["similarity_topk_exact"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "Broadcast" in line, f"unexpected shuffle: {line.strip()}"


def test_shingle_arrays_are_map_only(spark, sf_dir):
    """doc_shingle_arrays claims no KEY shuffle — hold it to that. The
    one allowed exchange is the gated RoundRobin input rebalance (fires
    only when the scan has too few partitions, as the single-file local
    fixture does; a no-op at scale), and with an already-parallel input
    the plan must have no Exchange at all."""
    from csv2parquet_spark.operators.dedup import doc_shingle_arrays
    from csv2parquet_spark.tables import table

    plan = _plan(doc_shingle_arrays(table(spark, sf_dir, "documents")))
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan
        assert "hashpartitioning" not in plan

    pre = table(spark, sf_dir, "documents").repartition(4).localCheckpoint()
    plan2 = _plan(doc_shingle_arrays(pre))
    assert "Exchange" not in plan2


def test_embedding_near_dups_not_blocked_on_data_column(spark, sf_dir):
    """embedding_near_dups joins on (table, bucket) LSH keys — the plan
    must never read or join on the `label` data column (round-1: a hot
    label made the within-block join quadratic)."""
    plan = _plan(REGISTRY["embedding_near_dups"].fn(spark, sf_dir))
    assert "label" not in plan
    assert "bucket" in plan


def test_knn_join_partial_window_group_limit(spark, sf_dir):
    """similarity_knn_join: the per-query top-k window must plan a
    WindowGroupLimit Partial BELOW the exchange — at most k rows per
    query survive each input partition, so the shuffle never carries the
    corpus×queries product."""
    plan = _plan(REGISTRY["similarity_knn_join"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan
    # the only non-broadcast exchange is the final query-key partitioning
    # (match the "(N) Exchange" detail headers, not the tree rendering)
    shuffles = [
        ln
        for ln in plan.splitlines()
        if ln.startswith("(") and "Exchange" in ln and "Broadcast" not in ln
    ]
    assert len(shuffles) <= 1, shuffles


def test_winnowing_is_map_only(spark, sf_dir):
    """winnowing_fingerprints: per-row kernel work — no KEYED exchange
    at any scale. The only allowed exchange is the gated
    ``_parallelize_scan`` ROUND-ROBIN rebalance, which fires on the
    single-file test fixture (one scan task otherwise serializes the
    CPU-bound stage) and is a no-op on a real many-split scan."""
    plan = _plan(REGISTRY["winnowing_fingerprints"].fn(spark, sf_dir))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    # the formatted explain lists each node twice (tree + detail)
    assert plan.count("Exchange (") <= 1


def test_q21_single_fact_aggregation_chain(spark, sf_dir):
    """q21: the EXISTS/NOT-EXISTS pair is two aggregations + a join —
    orders must broadcast into lineitem (never shuffle the fact for the
    dim), and the final top-100 is TakeOrderedAndProject."""
    plan = _plan(REGISTRY["q21_waiting_suppliers"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_conversion_plan_has_no_shuffle(spark, tmp_path):
    """The reference's core dataflow (CSV scan → Parquet sink) must stay
    embarrassingly parallel: no exchange anywhere in the plan."""
    p = tmp_path / "in.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = spark.read.options(header=True, inferSchema=True).csv(str(p))
    assert "Exchange" not in _plan(df.select("*"))


def test_q1_partial_aggregation(spark, sf_dir):
    """q1: hash aggregate runs partial (map-side combine) before the
    exchange — one shuffle of pre-aggregated partials, not rows."""
    plan = _plan(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_sum" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Pre-bucketing both join sides on the key makes the join
    co-located: zero Exchange in the plan. This is the 100 TB recipe for
    repeated fact-fact joins (bucket once, join many times)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("o_bkt")
    l.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("l_bkt")
    # Disable auto-broadcast: at test scale the dimension side fits under
    # the threshold and the bucketing would be moot; the property under
    # test is the big-big join path.
    try:
        with conf_override(spark.conf, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            ob, lb = spark.table("o_bkt"), spark.table("l_bkt")
            joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).select(
                "o_orderkey", "l_linenumber"
            )
            plan = _plan(joined)
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS o_bkt")
        spark.sql("DROP TABLE IF EXISTS l_bkt")
        import shutil

        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned parquet + a partition predicate: the scan
    must show PartitionFilters and read only the matching directory —
    at 100 TB this is the difference between a full scan and one shard."""
    out = str(tmp_path / "li_part")
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    l.write.partitionBy("l_returnflag").mode("overwrite").parquet(out)
    df = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "l_returnflag" in plan.split("PartitionFilters", 1)[1][:200]
    import os

    dirs = [d for d in os.listdir(out) if d.startswith("l_returnflag=")]
    assert len(dirs) >= 2  # data actually laid out per partition
    assert df.count() == l.filter(F.col("l_returnflag") == "R").count()


def test_ntile_scalable_has_no_single_partition_stage(spark, sf_dir):
    """window_ntile_scalable is the two-pass global-rank twin: the plan
    must contain neither a Window node nor an Exchange SinglePartition —
    the properties that make the single-partition original unshippable
    at scale. (The range exchange + sort happen before the pinned
    localCheckpoint; what ships after is map-only.)"""
    plan = _plan(REGISTRY["window_ntile_scalable"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "Window" not in plan


def test_bucketed_join_has_no_shuffle_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the same key with the same bucket count
    must SortMergeJoin with NO shuffle exchange (the co-located-join
    contract write_bucketed_table exists for); the same join on plain
    parquet must shuffle — proving bucketing, not table size, removed
    the exchange. Broadcast is disabled so the comparison is honest."""
    from csv2parquet_spark.operators.layout import write_bucketed_table
    from csv2parquet_spark.tables import table

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    write_bucketed_table(
        orders, "orders_bkt", "o_custkey", 8, path=str(tmp_path / "ob")
    )
    write_bucketed_table(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "customer_bkt", "o_custkey", 8, path=str(tmp_path / "cb"),
    )
    try:
        with conf_override(spark.conf, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            bkt = _plan(
                spark.table("orders_bkt").join(spark.table("customer_bkt"), "o_custkey")
            )
            plain = _plan(
                orders.join(
                    customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
                )
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS customer_bkt")
    assert "SortMergeJoin" in bkt
    assert "Exchange" not in bkt
    assert "Exchange" in plain and "hashpartitioning" in plain


def _has_single_partition_window(plan: str) -> bool:
    """True iff a Window node is actually EVALUATED on a single
    partition: its child chain (next plan lines — at most a Sort and/or
    WindowGroupLimit between them) reaches an Exchange SinglePartition.
    A SinglePartition elsewhere in the plan (the final merge of a 1-row
    global aggregate, with map-side partials crossing it) is legitimate
    and must not flag partitioned-Window queries (round-4 fix: the old
    'both substrings anywhere' check false-positived the funnel query)."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window [" not in ln and not ln.lstrip("+- ").startswith("Window"):
            continue
        for nxt in lines[i + 1 : i + 4]:
            if "Exchange SinglePartition" in nxt:
                return True
            stripped = nxt.strip().lstrip("+-: ").strip()
            if not (
                stripped.startswith("Sort")
                or stripped.startswith("WindowGroupLimit")
                or stripped.startswith("*(")  # codegen-stage wrapper ids
            ):
                break
    return False


# Global windows over a single partition are allowed only with a
# documented reason — everything else here is a scale regression.
_GLOBAL_WINDOW_ALLOWED = {
    "window_moving_7day_revenue": "window over the per-day pre-aggregate (days, not rows)",
    # kmv_quantile_sketch no longer needs an entry: its window sits on a
    # TakeOrderedAndProject(limit=k) — no SinglePartition exchange — and
    # the tightened detector sees that structurally.
}


def test_registry_wide_plan_lint(spark, sf_dir):
    """Every registered query's physical plan, linted for the two
    patterns that cannot survive 100 TB: CartesianProduct (unkeyed
    pair explosion) anywhere, and a Window evaluated on an Exchange
    SinglePartition (whole-corpus single-task sort) outside the
    explicit allow-list. Global AGGREGATES legitimately end in a
    single-partition merge — only map-side partials cross that
    exchange — so plain SinglePartition is not flagged.

    This is the regression guard for the round-2/3 scale work: a new
    query reintroducing either pattern fails here, with the allow-list
    forcing a written justification."""
    from csv2parquet_spark.queries import REGISTRY

    bad = []
    for name, q in REGISTRY.items():
        plan = q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            bad.append(f"{name}: CartesianProduct")
        if _has_single_partition_window(plan) and name not in _GLOBAL_WINDOW_ALLOWED:
            bad.append(f"{name}: global single-partition Window")
    assert not bad, bad


def test_stratified_exact_k_partial_window_group_limit(spark, sf_dir):
    """sample_stratified_exact_k: the per-stratum rank limit must plan
    WindowGroupLimit Partial below the exchange — at most k rows per
    stratum leave each input partition."""
    plan = _plan(REGISTRY["sample_stratified_exact_k"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_fuzzy_join_is_broadcast_nested_loop_with_prefilter(spark, sf_dir):
    """fuzzy_join_levenshtein must run as a BroadcastNestedLoopJoin (the
    dimension ships to executors; probes stream map-side, no shuffle of
    the probe stream) with the length-band prefilter present in the
    join condition ahead of the Levenshtein."""
    from csv2parquet_spark.queries import REGISTRY

    plan = (
        REGISTRY["fuzzy_join_levenshtein"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "levenshtein" in plan
    assert "length" in plan  # band prefilter survived into the condition
    assert "SortMergeJoin" not in plan


def test_inverted_index_single_scan_two_exchanges(spark, sf_dir):
    """inverted_index_postings must build from ONE corpus scan (the
    stats aggregate and the rank-limited postings share the (tok,
    doc_id) aggregate, not two plan subtrees) and exactly two hash
    exchanges — (tok, doc_id) then tok, with the final groupBy reusing
    the window's partitioning."""
    from csv2parquet_spark.queries import REGISTRY

    plan = (
        REGISTRY["inverted_index_postings"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one physical scan node (its header line contains both markers)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_pack_sequences_no_single_partition_stage(spark, sf_dir):
    """pack_sequences_greedy computes its global token offsets through
    the two-pass global_cumsum — the plan must contain neither a Window
    node nor an Exchange SinglePartition (the naive ``sum OVER (ORDER
    BY doc_id)`` formulation would plan both)."""
    plan = _plan(REGISTRY["pack_sequences_greedy"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "Window" not in plan


def test_salted_join_condition_carries_salt(spark, sf_dir):
    """With broadcast disabled, skew_join_salted must plan a shuffled
    join whose key set includes the salt column — the property that
    spreads one hot key over r reducers."""
    with conf_override(spark.conf, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = _plan(REGISTRY["skew_join_salted"].fn(spark, sf_dir))
    assert "__salt" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_round4_query_plan_shapes(spark, sf_dir):
    """Positive plan assertions for the round-4 scale claims:
    - funnel: ONE user_id hash exchange shared by both windows and the
      per-user rollup; the only other exchange is the 1-row global
      aggregate's SinglePartition merge.
    - paragraph dedup: exactly two exchanges (md5 keep-first window +
      doc_id rebuild agg) — both on synthetic keys.
    - trending top-k: the per-window rank plans as WindowGroupLimit
      (≤k rows per window leave each partition ahead of the exchange).
    """
    def exchange_nodes(plan: str) -> int:
        # formatted mode: one "(N) Exchange" detail header per node
        return sum(
            1
            for ln in plan.splitlines()
            if ln.startswith("(") and ") Exchange" in ln
        )

    p = _plan(REGISTRY["funnel_signup_view_purchase"].fn(spark, sf_dir))
    assert exchange_nodes(p) == 2, p
    assert "hashpartitioning(user_id" in p, p
    assert "SinglePartition" in p, p

    p = _plan(REGISTRY["paragraph_dedup_rebuild"].fn(spark, sf_dir))
    assert exchange_nodes(p) == 2, p

    p = _plan(REGISTRY["stream_topk_trending"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in p, p


def test_agg_pushdown_footer_stats_is_metadata_only(spark, sf_dir):
    """The footer-stats profile pushes every aggregate into the DSv2
    ParquetScan: PushedAggregation lists COUNT/MIN/MAX and the scan's
    ReadSchema is empty (no data pages) — the property that turns a
    100 TB profile into a footer read."""
    df = REGISTRY["agg_pushdown_footer_stats"].fn(spark, sf_dir)
    plan = _plan(df)  # formatted mode prints untruncated scan metadata
    assert "PushedAggregation" in plan, plan
    line = plan.replace("\n", " ")
    assert "COUNT(*)" in line
    assert "MIN(l_orderkey)" in line and "MAX(l_orderkey)" in line
    assert "MIN(l_extendedprice)" in line and "MAX(l_extendedprice)" in line
    # ReadSchema must be the aggregate RESULTS, not data columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "count(*)" in read_schema and "l_quantity" not in read_schema
    row = df.collect()[0]
    assert row.n_rows > 0 and row.min_key <= row.max_key


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """dpp_partitioned_days: the day-partitioned fact scan carries a
    dynamicpruningexpression in PartitionFilters (runtime pruning from
    the broadcast dim), and actually reads fewer day-directories than
    exist — asserted from the post-execution metrics, not just the
    plan text."""
    from csv2parquet_spark.queries import scanopt

    df = REGISTRY["dpp_partitioned_days"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    df.collect()

    # read the fact scan's POST-EXECUTION metrics: numPartitions is what
    # the pruned scan actually read; staticFilesNum is the unpruned
    # partition-directory count (1 file per day directory here).
    def scan_metrics(node, out):
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name or "BatchScan" in name:
            vals, it = {}, node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2().value()
            out.append(vals)
        for i in range(node.children().size()):
            scan_metrics(node.children().apply(i), out)
        if name == "AdaptiveSparkPlanExec":
            scan_metrics(node.executedPlan(), out)
        if "QueryStage" in name:
            scan_metrics(node.plan(), out)

    scans = []
    scan_metrics(df._jdf.queryExecution().executedPlan(), scans)
    fact = [m for m in scans if "staticFilesNum" in m]
    assert fact, f"no partitioned fact scan found in metrics: {scans}"
    read, static = fact[0]["numPartitions"], fact[0]["staticFilesNum"]
    assert read < static, (
        f"DPP read all {static} day-partitions — runtime pruning did "
        "not happen (or the fixture dim selects every day)"
    )
    pruned_days = (
        scanopt.table(spark, sf_dir, "events")
        .where((F.col("event_type") == "error") & (F.col("value") > 190))
        .select(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .distinct()
        .count()
    )
    assert read == pruned_days, (read, pruned_days)


def test_bucket_pruning_point_lookup(spark, sf_dir, tmp_path):
    """A point filter on the bucket key prunes to ONE bucket:
    SelectedBucketsCount shows 1 out of N — at 100 TB a key lookup
    reads 1/N of the table's files, no shuffle, no full scan. Requires
    spark.sql.sources.bucketing.autoBucketedScan not to discard the
    bucketed layout for a scan without a join (pruning works either
    way, but the plan line only appears on the bucketed scan)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("o_bkt_prune")
    pins = {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"}
    try:
        with conf_override(spark.conf, pins):
            key = o.select("o_orderkey").head()[0]
            q = spark.table("o_bkt_prune").where(F.col("o_orderkey") == key)
            plan = _plan(q)
            assert "SelectedBucketsCount: 1 out of 8" in plan, plan
            assert q.count() >= 1
    finally:
        spark.sql("DROP TABLE IF EXISTS o_bkt_prune")
        import shutil

        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL ORDER BY ... LIMIT 2 must decorrelate to
    WindowGroupLimit (bounded rows per key cross the exchange) + a
    broadcast of the dimension — never a per-outer-row subquery
    re-execution or a cartesian."""
    plan = _plan(REGISTRY["lateral_topk_per_nation"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_aqe_splits_skewed_join_partition(spark, sf_dir):
    """AQE skew-join handling — the AUTOMATIC complement to the manual
    salted_join_hot operator: a 90%-hot key join re-plans at runtime
    into SortMergeJoin(skew=true) with the hot partition split across
    tasks (AQEShuffleRead 'skewed'). At 100 TB this is the difference
    between one straggler task holding the stage and the skew being
    absorbed — and it needs NO code change, only honest shuffle stats.
    Note: the skew flag only exists on the df's own executed QE (a
    count()/noop write executes a different QueryExecution)."""
    pins = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    with conf_override(spark.conf, pins):
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        rows = j.count()
        j.collect()  # execute THIS df's QE so the AQE final plan exists
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
        # result unaffected: 180k hot-key rows + 100 cold matches
        assert rows == 180_100


def test_join_strategy_hints_select_physical_operators(spark, sf_dir):
    """Join hints map to physical strategies: MERGE → SortMergeJoin,
    SHUFFLE_HASH → ShuffledHashJoin, BROADCAST → BroadcastHashJoin —
    the per-query escape hatch when the optimizer's size estimates are
    wrong at scale (a hinted plan is deterministic; an estimated one
    flips with stale stats)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cases = {
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "broadcast": "BroadcastHashJoin",
    }
    for hint, op in cases.items():
        j = li.join(o.hint(hint), li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_orderstatus"
        )
        assert op in _plan(j), f"hint {hint!r} did not plan {op}"


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """runtime_bloom_filter_join: Catalyst builds a bloom filter over
    the selective orders side (bloom_filter_agg subquery) and applies
    BloomFilterMightContain to lineitem's keys BEFORE the shuffle —
    asserted on THIS df's own executed plan after collect (AQE attaches
    runtime subqueries to the executing QueryExecution only)."""
    df = REGISTRY["runtime_bloom_filter_join"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    low = plan.lower()
    assert "bloom_filter_agg" in low, plan[:4000]
    assert "bloomfiltermightcontain" in low or "might_contain" in low, plan[:4000]


def test_stratified_sample_uses_window_group_limit(spark, sf_dir):
    """stratified_sample_exact's rank<=k must compile to WindowGroupLimit
    with a Partial pass below the exchange — the property that bounds
    the shuffle to k rows per stratum per map task."""
    plan = _plan(REGISTRY["stratified_sample_exact"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_skyline_has_no_window_no_single_partition(spark, sf_dir):
    """The skyline's dominance prefix-max is the two-pass
    global_running_max — the plan must contain neither a Window node
    nor an Exchange SinglePartition."""
    plan = _plan(REGISTRY["skyline_parts_frontier"].fn(spark, sf_dir))
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
