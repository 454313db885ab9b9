"""Advanced relational surface, batch 2: statistical aggregates, exact
percentiles, grouping sets + GROUPING(), correlated subqueries (via the
SQL API), ordered string aggregation, histogram binning, regex group
extraction, union-by-name.

Statistical aggregates are rounded (6dp) rather than decimal-cast: the
quantities involved are O(1)–O(100) so cross-engine error (~1e-13) is
far below the rounding grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2parquet_spark.queries.helpers import dsum, sql_dsum
from csv2parquet_spark.queries.registry import register
from csv2parquet_spark.tables import table, register_views


@register(
    "stats_aggs",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_discount), 6) AS var_disc,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/skewness/kurtosis/corr/covar."""
    # (skewness/kurtosis excluded from the oracle: Spark uses population
    # moments, DuckDB bias-corrected sample moments — different formulas.)
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
    )


@register(
    "percentiles_exact",
    oracle="""
    SELECT l_linestatus,
           round(quantile_cont(l_quantity, 0.25), 6) AS q25,
           round(quantile_cont(l_quantity, 0.5), 6) AS q50,
           round(quantile_cont(l_quantity, 0.9), 6) AS q90,
           round(median(l_extendedprice), 6) AS median_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines sort + interpolate —
    deterministic). The scale caveat: exact percentile is a sort per
    group; the approx variant below is the 100 TB default."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_linestatus").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("q25"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("q50"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("q90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("median_price"),
    )


@register(
    "percentiles_approx",
    oracle="""
    SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
           true AS p50_within_bound, true AS p90_within_bound
    FROM lineitem GROUP BY 1
    """,
)
def percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (GK sketch): mergeable, one pass, no per-group
    sort — the percentile you actually run at 100 TB.

    Hash-provable via the sketch-then-exact-verify pattern (the
    Misra-Gries precedent, operators/sketches.py): the sketch's output
    can't be mirrored cross-engine, but its CONTRACT can — a value
    returned for quantile q at accuracy a must cover a rank within
    ±N/a of qN. The verify pass joins the (broadcast, group-sized)
    sketch results back to the data and checks the exact rank interval
    [count(<v)+1, count(<=v)] against the bound with integer
    arithmetic; the oracle asserts the booleans true. A sketch
    violating its documented bound hash-mismatches — the check is the
    guarantee, not the float values."""
    l = table(spark, sf_dir, "lineitem")
    approx = l.groupBy("l_linestatus").agg(
        F.approx_percentile("l_quantity", F.lit(0.5), F.lit(10000)).alias("p50"),
        F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000)).alias("p90"),
    )
    verified = (
        l.join(F.broadcast(approx), "l_linestatus")
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # per-measure NON-NULL counts: the sketch's population
            # excludes NULLs, so the rank bound must use the same N —
            # dividing by count(*) under-counts the interval as soon
            # as the column carries NULLs (NULL-twin audit r10)
            F.count("l_quantity").alias("n50"),
            F.count("l_extendedprice").alias("n90"),
            F.sum((F.col("l_quantity") < F.col("p50")).cast("long")).alias("lt50"),
            F.sum((F.col("l_quantity") <= F.col("p50")).cast("long")).alias("le50"),
            F.sum((F.col("l_extendedprice") < F.col("p90")).cast("long")).alias("lt90"),
            F.sum((F.col("l_extendedprice") <= F.col("p90")).cast("long")).alias("le90"),
        )
    )
    # rank interval must intersect [(q-eps)N, (q+eps)N], eps = 1/10000,
    # all in integer basis points x10000 (no float rank arithmetic);
    # N = the measure's non-null population, the sketch's own basis
    return verified.select(
        "l_linestatus",
        "n",
        (
            (F.col("lt50") * 10000 <= (5000 + 1) * F.col("n50"))
            & (F.col("le50") * 10000 >= (5000 - 1) * F.col("n50"))
        ).alias("p50_within_bound"),
        (
            (F.col("lt90") * 10000 <= (9000 + 1) * F.col("n90"))
            & (F.col("le90") * 10000 >= (9000 - 1) * F.col("n90"))
        ).alias("p90_within_bound"),
    )


@register(
    "grouping_sets_sql",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_prio,
           count(*) AS n, {sql_dsum('o_totalprice', 'total')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with GROUPING() markers via the SQL API (Catalyst
    expands to a single Expand+Aggregate — one shuffle)."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
               count(*) AS n, {sql_dsum('o_totalprice', 'total')}
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "sql_exists_subquery",
    oracle="""
    SELECT p.p_brand, count(*) AS n_parts
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
    GROUP BY p.p_brand
    """,
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS via the SQL API (Catalyst rewrites to a semi
    join — same physical plan as the DataFrame left_semi variant)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p.p_brand, count(*) AS n_parts
        FROM part p
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
        GROUP BY p.p_brand
        """
    )


@register(
    "sql_scalar_subquery",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_above
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    GROUP BY c_mktsegment
    """,
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: avg computed once, broadcast into
    the filter. (Float comparison against an aggregate is safe here:
    the predicate only needs consistency within each engine.)"""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_above
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        GROUP BY c_mktsegment
        """
    )


@register(
    "sql_in_subquery",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_nationkey IN (SELECT n_nationkey FROM nation
                            WHERE n_regionkey <= 2)
    """,
)
def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery (uncorrelated) — rewritten to a semi join by Catalyst."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s.s_name, s.s_acctbal
        FROM supplier s
        WHERE s.s_nationkey IN (SELECT n_nationkey FROM nation
                                WHERE n_regionkey <= 2)
        """
    )


@register(
    "listagg_sorted",
    oracle="""
    SELECT n.n_name,
           string_agg(s.s_name, ',' ORDER BY s.s_name) AS suppliers
    FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def listagg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list → sort_array →
    array_join (deterministic regardless of shuffle arrival order).

    NULL contract (r11): SQL LISTAGG/string_agg semantics — NULL
    values are skipped and a group with NO non-NULL values aggregates
    to NULL, not '' (collect_list drops NULLs, so the empty-array
    array_join is gated on a non-NULL count)."""
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.when(
                F.count("s_name") > 0,
                F.array_join(F.sort_array(F.collect_list("s_name")), ","),
            ).alias("suppliers")
        )
    )


@register(
    "collect_set_sorted",
    oracle="""
    SELECT source,
           string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
           count(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY source
    """,
)
def collect_set_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set -> sorted array aggregation (order-stabilized for hashing)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.array_join(F.sort_array(F.collect_set("lang")), ",").alias("langs"),
        F.countDistinct("lang").alias("n_langs"),
    )


@register(
    "histogram_price_bins",
    oracle=f"""
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bin,
           count(*) AS n, {sql_dsum('o_totalprice', 'bin_total')}
    FROM orders
    GROUP BY 1
    """,
)
def histogram_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable histogram: binning is a map-side expression, the groupBy
    carries only (bin, partial agg) — O(bins) result regardless of input."""
    o = table(spark, sf_dir, "orders")
    return (
        o.withColumn("bin", F.floor(F.col("o_totalprice") / 25000))
        .groupBy("bin")
        .agg(F.count("*").alias("n"), dsum(F.col("o_totalprice"), "bin_total"))
    )


@register(
    "regexp_extract_groups",
    oracle="""
    SELECT o_orderkey,
           CAST(regexp_extract(o_orderpriority, '^(\\d)', 1) AS INT) AS prio_num,
           regexp_extract(o_orderpriority, '^\\d-(\\w+)', 1) AS prio_word
    FROM orders
    """,
)
def regexp_extract_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract with capture groups over part names."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", r"^(\d)", 1).cast("int").alias("prio_num"),
        F.regexp_extract("o_orderpriority", r"^\d-(\w+)", 1).alias("prio_word"),
    )


@register(
    "union_by_name",
    oracle=f"""
    SELECT kind, count(*) AS n, {sql_dsum('acctbal', 'total_bal')}
    FROM (
      SELECT 'customer' AS kind, c_acctbal AS acctbal FROM customer
      UNION ALL BY NAME
      SELECT s_acctbal AS acctbal, 'supplier' AS kind FROM supplier
    )
    GROUP BY kind
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName: position-independent union (schema evolution shape)."""
    c = table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"), F.col("c_acctbal").alias("acctbal")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_acctbal").alias("acctbal"), F.lit("supplier").alias("kind")
    )
    return (
        c.unionByName(s)
        .groupBy("kind")
        .agg(F.count("*").alias("n"), dsum(F.col("acctbal"), "total_bal"))
    )


@register(
    "top_tokens_per_lang",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ), counts AS (
      SELECT lang, token, count(*) AS cnt FROM tok GROUP BY lang, token
    )
    SELECT lang, token, cnt, rn FROM (
      SELECT lang, token, cnt,
             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rn
      FROM counts
    ) WHERE rn <= 5
    """,
)
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode + two-level aggregation + ranked window: the canonical
    'top terms per group' shape."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("token"))
    counts = tok.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "token")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "token", "cnt", "rn")
    )


@register(
    "monthly_order_rollup",
    oracle=f"""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           count(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY 1
    """,
)
def monthly_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: truncate-to-bucket + aggregate —
    the batch twin of the streaming tumbling window at month grain."""
    o = table(spark, sf_dir, "orders")
    return (
        o.withColumn("month", F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM"))
        .groupBy("month")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


@register(
    "top_tokens_salted",
    oracle="""
    SELECT token, count(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
)
def top_tokens_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof token counting: the classic salted two-phase
    aggregation. Hot tokens (stopwords at 100 TB) would overload single
    reducers in a one-shot groupBy; salting by hash(doc_id)%32 splits
    each token across 32 partial cells, then a second (tiny) aggregation
    merges the partials. Result is EXACTLY the plain count — which is
    what the oracle checks."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split("text", " ")).alias("token"),
        F.pmod(F.xxhash64("doc_id"), F.lit(32)).alias("salt"),
    )
    partial = tok.groupBy("token", "salt").agg(F.count("*").alias("pn"))
    return (
        partial.groupBy("token")
        .agg(F.sum("pn").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@register(
    "hll_sketch_distinct",
    oracle="""
    SELECT o_orderstatus, CAST(count(DISTINCT o_custkey) AS BIGINT)
             AS exact_customers,
           true AS approx_within_3rse
    FROM orders GROUP BY 1
    UNION ALL
    SELECT 'ALL', CAST(count(DISTINCT o_custkey) AS BIGINT), true
    FROM orders
    """,
)
def hll_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog sketches (Apache DataSketches built into
    Spark 4): per-status customer cardinality, plus a union across
    groups — the sketch shape that lets 100 TB dashboards pre-aggregate
    distincts and merge them later without rescanning.

    Hash-provable via sketch-then-exact-verify (the Misra-Gries /
    percentiles_approx pattern): the estimate itself is
    engine-specific, but its documented error is not — DataSketches
    HLL at default lgK=12 has relative standard error
    1.04/sqrt(2^12) ~ 1.6%, so the estimate must sit within 3·RSE
    (~4.9%) of the exact distinct count. Both sides of the check are
    one aggregation over the same scan; the oracle pins the exact
    counts and asserts the bound-booleans true. Integer comparison:
    |round(approx) - exact|·1000 <= 49·exact."""
    o = table(spark, sf_dir, "orders")
    per_status = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )
    all_row = per_status.agg(
        F.lit("ALL").alias("o_orderstatus"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx"),
        # exact distinct over the union of groups: distinct custkeys
        # per status can overlap, so recount from the scan
    ).crossJoin(
        F.broadcast(o.agg(F.countDistinct("o_custkey").alias("exact_customers")))
    )
    est = per_status.select(
        "o_orderstatus",
        F.hll_sketch_estimate("sk").alias("approx"),
        "exact_customers",
    ).unionByName(all_row.select("o_orderstatus", "approx", "exact_customers"))
    return est.select(
        "o_orderstatus",
        F.col("exact_customers").cast("long").alias("exact_customers"),
        (
            F.abs(F.round(F.col("approx")).cast("long") - F.col("exact_customers"))
            * 1000
            <= 49 * F.col("exact_customers")
        ).alias("approx_within_3rse"),
    )


@register(
    "unpivot_order_metrics",
    oracle="""
    WITH m AS (
      SELECT o_orderstatus,
             CAST(count(*) AS DOUBLE) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_customers
      FROM orders GROUP BY 1
    )
    SELECT o_orderstatus, metric, value
    FROM m UNPIVOT (value FOR metric IN (n_orders, revenue, n_customers))
    """,
)
def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-status metrics → long (metric, value)
    rows via DataFrame.unpivot — the inverse of pivot."""
    o = table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.count("*").cast("double").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("revenue"),
        F.countDistinct("o_custkey").cast("double").alias("n_customers"),
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["n_orders", "revenue", "n_customers"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "setop_except_all_intersect_all",
    oracle="""
    SELECT 'except_all' AS op, n_nationkey FROM (
      SELECT n_nationkey FROM nation WHERE n_regionkey <= 2
      EXCEPT ALL
      SELECT n_nationkey FROM nation WHERE n_regionkey = 2
    )
    UNION ALL
    SELECT 'intersect_all' AS op, n_nationkey FROM (
      SELECT n_nationkey FROM nation WHERE n_regionkey <= 2
      INTERSECT ALL
      SELECT n_nationkey FROM nation WHERE n_regionkey >= 1
    )
    """,
)
def setop_except_all_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set ops: exceptAll / intersectAll preserve duplicates
    (bag semantics), unlike their DISTINCT counterparts."""
    n = table(spark, sf_dir, "nation")
    le2 = n.filter(F.col("n_regionkey") <= 2).select("n_nationkey")
    eq2 = n.filter(F.col("n_regionkey") == 2).select("n_nationkey")
    ge1 = n.filter(F.col("n_regionkey") >= 1).select("n_nationkey")
    ex = le2.exceptAll(eq2).select(F.lit("except_all").alias("op"), "n_nationkey")
    ia = le2.intersectAll(ge1).select(
        F.lit("intersect_all").alias("op"), "n_nationkey"
    )
    return ex.unionAll(ia)


def _zorder_oracle(bits: int = 8) -> str:
    """Generate the DuckDB twin of interleave_bits for (l_orderkey,
    l_partkey): same scaling (divide-then-multiply, floor) and the same
    bit-interleave, term by term."""
    terms = []
    for j, s in enumerate(("s0", "s1")):
        for i in range(bits):
            terms.append(f"((({s} >> {i}) & 1) << {i * 2 + j})")
    z = " | ".join(terms)
    mx = (1 << bits) - 1
    return f"""
    WITH r AS (
      SELECT min(CAST(l_orderkey AS DOUBLE)) AS mn0,
             max(CAST(l_orderkey AS DOUBLE)) AS mx0,
             min(CAST(l_partkey AS DOUBLE)) AS mn1,
             max(CAST(l_partkey AS DOUBLE)) AS mx1
      FROM lineitem
    ), s AS (
      SELECT l_orderkey, l_linenumber,
             CAST(floor((CAST(l_orderkey AS DOUBLE) - mn0)
                        * ({mx}.0 / (mx0 - mn0))) AS BIGINT) AS s0,
             CAST(floor((CAST(l_partkey AS DOUBLE) - mn1)
                        * ({mx}.0 / (mx1 - mn1))) AS BIGINT) AS s1
      FROM lineitem, r
    )
    SELECT l_orderkey, l_linenumber, CAST({z} AS BIGINT) AS zval FROM s
    """


@register("zorder_cluster_key", oracle=_zorder_oracle())
def zorder_cluster_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (l_orderkey, l_partkey):
    the key the converter's ``zorder_by`` write (``convert.write_parquet``,
    16 bits per column; 8 here) range-partitions and sorts by, so parquet
    row-group min/max stats prune BOTH dimensions of a conjunctive
    filter. Pure Catalyst bit arithmetic — codegen, no shuffle; the
    min/max scaling pass is one 4-number aggregate."""
    from csv2parquet_spark.operators.layout import zorder_key

    li = table(spark, sf_dir, "lineitem")
    df, z = zorder_key(li, ["l_orderkey", "l_partkey"], bits=8)
    return df.select("l_orderkey", "l_linenumber", z.alias("zval"))


@register(
    "analyze_table_stats",
    oracle="""
    SELECT 'l_quantity' AS col,
           CAST(min(l_quantity) AS VARCHAR) AS min_v,
           CAST(max(l_quantity) AS VARCHAR) AS max_v,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', CAST(min(l_shipdate) AS VARCHAR),
           CAST(max(l_shipdate) AS VARCHAR),
           CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT l_shipdate) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', CAST(min(l_returnflag) AS VARCHAR),
           CAST(max(l_returnflag) AS VARCHAR),
           CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT l_returnflag) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_partkey', CAST(min(l_partkey) AS VARCHAR),
           CAST(max(l_partkey) AS VARCHAR),
           CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT l_partkey) AS BIGINT)
    FROM lineitem
    """,
)
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics (min/max/null-count/NDV) — what
    a cost-based optimizer, a file-pruning reader, and a data-quality
    monitor all consume. ONE scan computes every column's stats as
    parallel aggregates (partial-agg, single exchange), then the narrow
    result is unpivoted driver-side — rows = 4 columns, not 4 scans."""
    li = table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_shipdate", "l_returnflag", "l_partkey"]
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).cast("string").alias(f"min_{c}"),
            F.max(c).cast("string").alias(f"max_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nn_{c}"),
            F.count_distinct(c).alias(f"ndv_{c}"),
        ]
    row = li.agg(*aggs)
    parts = [
        row.select(
            F.lit(c).alias("col"),
            F.col(f"min_{c}").alias("min_v"),
            F.col(f"max_{c}").alias("max_v"),
            F.col(f"nn_{c}").alias("n_nulls"),
            F.col(f"ndv_{c}").alias("ndv"),
        )
        for c in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "robust_outliers_mad",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 6) AS med
      FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
      SELECT l.l_returnflag, m.med,
             abs(l.l_extendedprice - m.med) AS adev
      FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    ),
    mad AS (
      SELECT l_returnflag, med, round(quantile_cont(adev, 0.5), 6) AS mad
      FROM dev GROUP BY l_returnflag, med
    )
    SELECT d.l_returnflag, m.med, m.mad,
           CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           count(*) AS n
    FROM dev d JOIN mad m ON d.l_returnflag = m.l_returnflag
    GROUP BY d.l_returnflag, m.med, m.mad
    """,
)
def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier census: median / MAD (median absolute
    deviation) with a 3-MAD fence.

    Two exact-percentile passes with the group medians broadcast back —
    the med/mad side is group-cardinality-sized, so both joins are
    broadcasts and the corpus is scanned twice with no wide shuffle.
    Percentile outputs are rounded to 6dp BEFORE feeding the deviation /
    fence arithmetic so both engines compare against bit-identical
    thresholds (the round-6 percentile parity is pinned by
    ``percentiles_exact``). At 100 TB swap the exact percentiles for
    ``approx_percentile`` (same topology, one pass each, mergeable).
    """
    l = table(spark, sf_dir, "lineitem")
    med = l.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("med")
    )
    dev = l.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "med",
        F.abs(F.col("l_extendedprice") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("l_returnflag", "med").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad.select("l_returnflag", "mad")), "l_returnflag")
        .groupBy("l_returnflag", "med", "mad")
        .agg(
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.count("*").alias("n"),
        )
    )


@register(
    "grouping_sets_dataframe",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
             AS gid,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
)
def grouping_sets_dataframe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the Spark 4 DataFrame API
    (``DataFrame.groupingSets``) rather than SQL text (the SQL twin is
    ``grouping_sets_sql``): (flag, status) detail, per-status
    subtotals, and the grand total in ONE pass — Catalyst expands the
    sets into a single Expand + aggregate, so the fact table is
    scanned once however many sets are requested. ``grouping_id``
    disambiguates real NULLs from subtotal rows.
    """
    l = table(spark, sf_dir, "lineitem")
    return (
        l.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "qty")
    )


@register(
    "recursive_cte_ancestry",
    oracle="""
    WITH RECURSIVE walk(doc_id, node, depth) AS (
      SELECT doc_id, doc_id AS node, 0 AS depth FROM documents
      UNION ALL
      SELECT doc_id, node // 2 AS node, depth + 1 FROM walk WHERE node > 0
    )
    SELECT depth, count(*) AS n_docs
    FROM (SELECT doc_id, CAST(max(depth) AS INT) AS depth
          FROM walk GROUP BY doc_id)
    GROUP BY depth
    """,
)
def recursive_cte_ancestry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE (Spark 4 ``WITH RECURSIVE``): every document walks
    the implicit binary ancestry chain node -> node div 2 until the
    root, and the result is the depth histogram — the
    hierarchy-traversal shape (org charts, bill-of-materials, category
    trees) SQL engines express recursively, now runnable natively in
    Spark instead of a driver-side loop.

    Each recursion step is one self-referencing join pass — Spark
    unions per-iteration frames like the hand-rolled iterative
    operators here (graph.py PageRank, dedup.py components), but plans
    it from declarative SQL; depth is log2(max id), so the chain is
    ~13 passes at fixture scale and growth is logarithmic in id space.
    DuckDB runs the IDENTICAL recursive SQL as the oracle.
    """
    table(spark, sf_dir, "documents").createOrReplaceTempView("docs_rec")
    return spark.sql(
        """
        WITH RECURSIVE walk(doc_id, node, depth) AS (
          SELECT doc_id, doc_id AS node, 0 AS depth FROM docs_rec
          UNION ALL
          SELECT doc_id, node DIV 2 AS node, depth + 1 FROM walk WHERE node > 0
        )
        SELECT depth, count(*) AS n_docs
        FROM (SELECT doc_id, CAST(max(depth) AS INT) AS depth
              FROM walk GROUP BY doc_id)
        GROUP BY depth
        """
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4 ``|>`` operators — SPARK-49555): the
    linear FROM -> WHERE -> AGGREGATE dataflow written in evaluation
    order instead of inside-out SQL. Same Catalyst plan as the classic
    formulation (the oracle — DuckDB has no pipe syntax, so it states
    the equivalent classic SQL); coverage pins that the engine accepts
    the modern surface users migrate to.
    """
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_pipe")
    return spark.sql(
        """
        FROM li_pipe
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |> AGGREGATE count(*) AS n,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                       AS qty
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, qty
        """
    )


_LATERAL_SQL = """
SELECT n.n_name AS nation, t.c_name AS customer, t.c_acctbal AS acctbal
FROM {nation} n,
LATERAL (
  SELECT c_name, c_acctbal FROM {customer} c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) t
"""


@register(
    "lateral_topk_per_nation",
    oracle=_LATERAL_SQL.format(nation="nation", customer="customer"),
)
def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (Spark 4 SQL surface): per nation, the
    top-2 customers by balance, written as the for-each-row subquery a
    SQL user reaches for — and DuckDB runs the IDENTICAL statement as
    the oracle.

    The scale story is in what Catalyst does with it: the correlated
    ORDER BY ... LIMIT 2 is decorrelated into a WindowGroupLimit
    (partial below the exchange, final above — at most 2 rows per key
    survive each input partition) plus one broadcast join of the
    dimension — NOT a per-row re-execution of the subquery, and NOT a
    full sort. The same plan shape as the hand-written
    ``batch kNN join``; here the optimizer derives it from declarative
    SQL (plan-pinned in tests/test_plans.py).
    """
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation_lat")
    table(spark, sf_dir, "customer").createOrReplaceTempView("cust_lat")
    return spark.sql(_LATERAL_SQL.format(nation="nation_lat", customer="cust_lat"))


@register(
    "collation_case_insensitive",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                  ELSE event_type END AS mixed
      FROM events
    )
    SELECT event_type,
           count(*) AS n_rows,
           count(DISTINCT mixed) AS n_variants,
           count(DISTINCT lower(mixed)) AS n_ci_variants,
           CAST(sum(CASE WHEN mixed = event_type THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_match,
           CAST(sum(CASE WHEN lower(mixed) = event_type THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ci_match
    FROM m GROUP BY event_type
    """,
)
def collation_case_insensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATIONS: case-insensitive comparison and DISTINCT via
    ``UTF8_LCASE`` collation — half of every real-world key space is
    case-noisy (emails, country codes, tags), and the collation-typed
    column pushes the insensitivity into the ENGINE's comparators
    (joins, aggs, distinct all honor it) instead of scattering
    ``lower()`` through every expression.

    The fixture mixes case deterministically (even event_ids
    upper-cased); binary distinct sees 2 variants per type, collated
    distinct sees 1, and the collated equality matches ALL rows while
    binary equality matches only the untouched ones. The oracle
    reproduces the semantics with explicit ``lower()`` — which is
    exactly the rewrite collations make unnecessary.

    Scale: collation changes comparator semantics, not plan shape —
    still one partial-agg exchange on the (collated) group key.
    """
    ev = table(spark, sf_dir, "events")
    mixed = F.when(
        F.col("event_id") % 2 == 0, F.upper("event_type")
    ).otherwise(F.col("event_type"))
    m = ev.select("event_type", mixed.alias("mixed"))
    ci = F.collate(F.col("mixed"), "UTF8_LCASE")
    return m.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("mixed").alias("n_variants"),
        F.countDistinct(ci).alias("n_ci_variants"),
        # when/otherwise(0), not bare cast: a NULL event_type compares
        # to NULL, and sum-of-all-NULL would emit a NULL count where
        # the oracle's CASE emits 0 (NULL-twin audit r10) — "no match"
        # is the right answer for an incomparable row on both engines.
        F.sum(
            F.when(F.col("mixed") == F.col("event_type"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_exact_match"),
        F.sum(F.when(ci == F.col("event_type"), 1).otherwise(0))
        .cast("long")
        .alias("n_ci_match"),
    )


@register(
    "sql_scripting_threshold",
    oracle="""
    WITH a AS (
      SELECT round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*), 6) AS avg_price
      FROM orders
    )
    SELECT o.o_orderpriority,
           count(*) AS n_above,
           round(a.avg_price, 6) AS avg_price_used
    FROM orders o, a
    WHERE o.o_totalprice > a.avg_price
    GROUP BY o.o_orderpriority, a.avg_price
    """,
)
def sql_scripting_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING + session variables: a BEGIN..END block
    DECLAREs a variable, SETs it from a data-derived scalar query (the
    corpus mean price), then runs the parameterized aggregation — the
    procedural two-step (compute control value, use it) that previously
    needed driver-side Python glue or a self-join, now expressed
    entirely in SQL and planned as ordinary Catalyst statements.

    The oracle inlines the same scalar as a CTE; the decimal-stabilized
    6-dp mean makes the threshold bit-identical on both engines, so the
    strict > comparisons partition rows identically.

    Scale: two statements = two ordinary jobs (1-row scalar agg, then
    scan + partial agg); the variable is driver-held metadata, not a
    shuffle.
    """
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sv")
    return spark.sql(
        """
        BEGIN
          DECLARE avg_price DOUBLE;
          SET avg_price = (
            SELECT round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                              AS DOUBLE) / count(*), 6)
            FROM orders_sv);
          SELECT o_orderpriority,
                 count(*) AS n_above,
                 round(avg_price, 6) AS avg_price_used
          FROM orders_sv
          WHERE o_totalprice > avg_price
          GROUP BY o_orderpriority;
        END
        """
    )


@register(
    "bitmap_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark's native bitmap aggregates
    (``bitmap_construct_agg`` / ``bitmap_count``) — the roaring-bitmap
    pattern: ids bucket into 32k-bit segments, each (group, bucket)
    partial is a fixed-size byte array that merges by OR, and distinct
    = sum of per-bucket popcounts. Unlike HLL this is exact, and unlike
    ``count(DISTINCT)``'s expand-shuffle the shuffled state is bounded
    bitmaps, not id rows — the warehouse trick for exact distinct at
    100 TB (finite id domains).

    The oracle is plain ``count(DISTINCT user_id)`` — equality IS the
    exactness claim. ``n_events`` rides along to pin the same-scan
    count.
    """
    ev = table(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bn"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    return b.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_users"),
        F.sum("n").alias("n_events"),
    )
