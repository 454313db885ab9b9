"""Distributed ML evaluation metrics (engine extension; SURVEY.md §2.8
mandates the training-data-pipeline surface around the reference
converter — model-eval metrics are the downstream half of that loop).

``roc_auc_exact`` is the flagship: EXACT ROC-AUC (Mann-Whitney U) over
a corpus-sized score column, tie-correct, with no global sort and no
single-partition window. The identity used:

    AUC = [ Σ_s  n_pos(s) · (cum_neg(<s) + n_neg(s)/2) ] / (N_pos·N_neg)

i.e. group rows by (discretized) score once — a corpus-scale partial
agg shuffling 8-byte keys — then all remaining work happens on the
model-sized per-score relation: the cumulative negative count in score
order comes from the two-pass ``global_cumsum`` (range-partitioned
parallel sort; no Exchange SinglePartition), and the final reduction is
one 1-row aggregate. Everything stays integer until the single terminal
division (the ×2 trick keeps the half-credit tie term integral), so the
oracle hash-matches bit-for-bit at 6 dp.

This is the shape that survives 100 TB: per-row ranking of N scores is
replaced by per-DISTINCT-score arithmetic — the grouped relation is
bounded by the score quantization (here 2 dp), not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2parquet_spark.operators.ranking import global_cumsum
from csv2parquet_spark.queries.registry import register
from csv2parquet_spark.tables import table

# Binary relevance label and a deterministic, tie-RICH score shared by
# both engines: floor(first_component · 100) — identical IEEE double
# multiply + floor on both sides, and 2-dp quantization forces heavy
# ties so the tie-handling term is actually exercised.
_SCORE_SQL = "CAST(floor(CAST(embedding[1] AS DOUBLE) * 100) AS BIGINT)"
_POS_SQL = "CASE WHEN label >= 5 THEN 1 ELSE 0 END"


@register(
    "roc_auc_exact",
    oracle=f"""
    WITH scored AS (
      SELECT {_SCORE_SQL} AS score, {_POS_SQL} AS pos
      FROM embeddings
    ),
    g AS (
      SELECT score,
             sum(pos) AS n_p,
             count(*) - sum(pos) AS n_n
      FROM scored GROUP BY score
    ),
    c AS (
      SELECT score, n_p, n_n,
             sum(n_n) OVER (ORDER BY score
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_nn
      FROM g
    )
    SELECT CAST(sum(n_p) AS BIGINT) AS n_pos,
           CAST(sum(n_n) AS BIGINT) AS n_neg,
           round(CAST(sum(n_p * (2 * (cum_nn - n_n) + n_n)) AS DOUBLE)
                 / CAST(2 * sum(n_p) * sum(n_n) AS DOUBLE), 6) AS auc
    FROM c
    """,
)
def roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC of the first embedding component as a score for
    ``label >= 5``, computed without ranking any individual row.

    Plan: one corpus partial-agg on the 8-byte quantized score →
    ``global_cumsum`` over the model-sized per-score relation (two-pass,
    no single-partition stage) → map-side integer contribution
    ``n_p·(2·cum_neg_below + n_n)`` → one global sum. The only float op
    is the final division; DuckDB's window-based oracle reproduces it
    exactly because every intermediate is integral.
    """
    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.floor(F.element_at("embedding", 1).cast("double") * 100)
        .cast("long")
        .alias("score"),
        (F.col("label") >= 5).cast("int").alias("pos"),
    )
    g = scored.groupBy("score").agg(
        F.sum("pos").alias("n_p"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("n_n"),
    )
    c = global_cumsum(g, keys=["score"], weight_col="n_n", cum_col="cum_nn")
    contrib = c.select(
        "n_p",
        "n_n",
        (
            F.col("n_p")
            * (2 * (F.col("cum_nn") - F.col("n_n")) + F.col("n_n"))
        ).alias("num2"),
    )
    return contrib.agg(
        F.sum("n_p").alias("n_pos"),
        F.sum("n_n").alias("n_neg"),
        F.round(
            F.sum("num2").cast("double")
            / (F.lit(2) * F.sum("n_p") * F.sum("n_n")).cast("double"),
            6,
        ).alias("auc"),
    )


@register(
    "calibration_bins_report",
    oracle="""
    WITH p AS (
      SELECT round(0.5 + CAST(embedding[1] AS DOUBLE), 6) AS conf,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS correct
      FROM embeddings
    ),
    b AS (
      SELECT CAST(floor(conf * 10) AS INTEGER) AS bin, conf, correct
      FROM p
    )
    SELECT bin,
           count(*) AS n_preds,
           round(CAST(sum(CAST(conf AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS avg_conf,
           round(CAST(sum(correct) AS DOUBLE) / count(*), 6) AS frac_pos,
           round(abs(round(CAST(sum(CAST(conf AS DECIMAL(18,6))) AS DOUBLE)
                           / count(*), 6)
                     - round(CAST(sum(correct) AS DOUBLE) / count(*), 6)),
                 6) AS abs_gap
    FROM b
    GROUP BY bin
    """,
)
def calibration_bins_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a probabilistic classifier: per
    confidence decile, predicted-confidence mean vs observed accuracy
    and their gap (the per-bin terms of Expected Calibration Error —
    the post-training eval every model card reports).

    The "model" is a linear probe (0.5 + first component, clamped by
    the data's natural range) — deliberately libm-free: no exp/sigmoid
    means every intermediate is engine-identical IEEE arithmetic, and
    the 6-dp-rounded confidence is binned AFTER rounding so the
    bin boundary is computed from the same double on both sides.

    Scale: map-side binning + one 10-group partial agg — the corpus is
    touched once; decimal-stabilized confidence sums make the
    association order irrelevant.
    """
    emb = table(spark, sf_dir, "embeddings")
    p = emb.select(
        F.round(F.lit(0.5) + F.element_at("embedding", 1).cast("double"), 6)
        .alias("conf"),
        (F.col("label") >= 5).cast("int").alias("correct"),
    )
    b = p.select(
        F.floor(F.col("conf") * 10).cast("int").alias("bin"), "conf", "correct"
    )
    avg_conf = F.round(
        F.sum(F.col("conf").cast("decimal(18,6)")).cast("double")
        / F.count(F.lit(1)),
        6,
    )
    frac_pos = F.round(
        F.sum("correct").cast("double") / F.count(F.lit(1)), 6
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_preds"),
        avg_conf.alias("avg_conf"),
        frac_pos.alias("frac_pos"),
        F.round(F.abs(avg_conf - frac_pos), 6).alias("abs_gap"),
    )


@register(
    "negative_sampling_parts",
    oracle="""
    WITH np AS (
      SELECT count(*) AS n FROM part
    ), cand AS (
      SELECT c.c_custkey AS user_id,
             CAST(('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR)
                                      || ':' || CAST(i.i AS VARCHAR)), 1, 8))
                  AS BIGINT) % np.n + 1 AS cand_part
      FROM customer c, np,
           LATERAL (SELECT unnest(range(0, 8)) AS i) i
    ), inter AS (
      SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), neg AS (
      SELECT DISTINCT cand.user_id, cand.cand_part
      FROM cand
      WHERE NOT EXISTS (
        SELECT 1 FROM inter
        WHERE inter.user_id = cand.user_id
          AND inter.part = cand.cand_part)
    )
    SELECT user_id,
           count(*) AS n_negatives,
           CAST(sum(cand_part) AS BIGINT) AS digest
    FROM neg GROUP BY user_id
    """,
)
def negative_sampling_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for retrieval/recommender
    training: each user draws 8 candidate parts from an md5 hash grid
    (engine-portable, partitioning-independent — the same family as
    ``operators/layout.py shard_key``), then true interactions (parts
    the user actually ordered) are removed with a left-anti join so no
    "negative" is secretly a positive — the collision check every
    in-batch sampler skips and every offline pipeline must not.

    Scale shape: candidates are |users|×8 generated map-side (no
    corpus scan); the interaction set is one distinct projection of
    the fact join; the anti join shuffles on (user, part) — bounded
    key fan-out, never users×items. Output is per-user count + an
    order-insensitive digest of the surviving negative ids.
    """
    n_parts = table(spark, sf_dir, "part").count()  # model-sized scalar
    c = table(spark, sf_dir, "customer")
    cand = (
        c.select(F.col("c_custkey").alias("user_id"))
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("i"),
        )
        .select(
            "user_id",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("user_id").cast("string"),
                                F.lit(":"),
                                F.col("i").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % n_parts
                + 1
            ).alias("cand_part"),
        )
        .distinct()
    )
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    inter = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("cand_part"),
        )
        .distinct()
    )
    neg = cand.join(inter, ["user_id", "cand_part"], "left_anti")
    return neg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_negatives"),
        F.sum("cand_part").cast("long").alias("digest"),
    )


# Poisson(1) inverse-CDF thresholds scaled to 2^32 (exact integer floors
# of the 50-digit-decimal cumulative pmf; weight k for u32 in
# [t_{k-1}, t_k), capped at 9) — the decision is a pure INTEGER compare,
# so both engines draw identical Poisson weights from identical md5 bits.
_POIS1_T = [
    1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
    4292415291, 4294609777, 4294923276, 4294962463,
]
_BOOT_B = 32  # bootstrap replicas


def _pois_weight_sql(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS1_T)
    )
    return f"CASE {whens} ELSE {len(_POIS1_T)} END"


@register(
    "bootstrap_ci_revenue",
    oracle=f"""
    WITH reps AS (
      SELECT o.o_totalprice, r.rep,
             {_pois_weight_sql("CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR)), 1, 8)) AS BIGINT)")}
               AS w
      FROM orders o, (SELECT unnest(range(0, {_BOOT_B})) AS rep) r
    ), means AS (
      SELECT rep,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)) * w) AS DOUBLE)
                   / sum(w), 6) AS m
      FROM reps GROUP BY rep
    ), arr AS (
      SELECT list(m ORDER BY m) AS ms FROM means
    )
    SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicas,
           (SELECT round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                         / count(*), 6) FROM orders) AS point_mean,
           ms[1] AS ci_low, ms[31] AS ci_high
    FROM arr
    """,
)
def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for mean order value — the standard
    big-data bootstrap (per-row Poisson(1) resampling weights, so no
    replica ever materializes and one pass serves all B=32 replicas) —
    made ENGINE-EXACT by deterministic randomness: replica r's weight
    for a row is the Poisson inverse-CDF of the row's md5(key:r) top-32
    bits, decided by pure integer threshold compares against exact
    pre-scaled constants. This is how you get reproducible error bars
    on petabyte aggregates: no RNG state, no seed plumbing — the data
    IS the seed.

    Scale shape: a 32-way map-side explode (weights computed inline, no
    join), ONE partial-aggregated groupBy(rep) to 32 decimal-summed
    replica means, then a 32-element array sort for the percentile
    pick. Nothing but the (rep, sum, count) cells ever shuffles. The
    scan routes through the gated ``parallelize_scan`` rebalance: the
    explode multiplies per-row md5 work ×32, and a single-file local
    input would otherwise run that entire CPU-bound stage as ONE task
    (12.3 s → ~1 s at sf0.1); at real scale the scan already splits and
    the gate never fires."""
    from csv2parquet_spark.operators.scan import parallelize_scan

    o = parallelize_scan(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    )
    reps = o.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("rep"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("o_orderkey").cast("string"),
                    F.col("rep").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = F.lit(len(_POIS1_T))
    for k, t in reversed(list(enumerate(_POIS1_T))):
        w = F.when(u < t, k).otherwise(w)
    means = (
        reps.withColumn("w", w)
        .groupBy("rep")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)") * F.col("w"))
                .cast("double")
                / F.sum("w"),
                6,
            ).alias("m")
        )
    )
    arr = means.agg(F.sort_array(F.collect_list("m")).alias("ms"))
    point = o.agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("point_mean")
    )
    return (
        arr.crossJoin(F.broadcast(point))
        .select(
            F.lit(_BOOT_B).cast("long").alias("n_replicas"),
            "point_mean",
            F.element_at("ms", 1).alias("ci_low"),
            F.element_at("ms", 31).alias("ci_high"),
        )
    )


@register(
    "ab_test_revenue_ztest",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS grp,
             o_totalprice AS v
      FROM orders
    ), m AS (
      SELECT grp, count(*) AS n,
             CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS sxx
      FROM g GROUP BY grp
    ), s AS (
      SELECT
        (SELECT n FROM m WHERE grp = 'A') AS n_a,
        (SELECT n FROM m WHERE grp = 'B') AS n_b,
        (SELECT sx FROM m WHERE grp = 'A') AS sx_a,
        (SELECT sx FROM m WHERE grp = 'B') AS sx_b,
        (SELECT sxx FROM m WHERE grp = 'A') AS sxx_a,
        (SELECT sxx FROM m WHERE grp = 'B') AS sxx_b
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(sx_a / n_a, 6) AS mean_a,
           round(sx_b / n_b, 6) AS mean_b,
           round((sx_a / n_a - sx_b / n_b)
                 / sqrt((sxx_a - sx_a * sx_a / n_a) / (n_a - 1) / n_a
                        + (sxx_b - sx_b * sx_b / n_b) / (n_b - 1) / n_b),
                 6) AS z_score
    FROM s
    """,
)
def ab_test_revenue_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-test on mean order value between a
    DETERMINISTIC 50/50 customer split (first md5 hex digit of the
    customer key — the standard hash-bucketing used by real experiment
    platforms, so assignment is stable across reruns and joins): the
    experimentation-readout primitive. Everything reduces to the five
    sufficient moments per arm (decimal-summed so partial-agg order is
    irrelevant), the z statistic is closed-form driver-free algebra in
    the projection, and sqrt/divisions are IEEE-identical across
    engines on identical moment doubles.

    Scale shape: ONE map-side-combining aggregate over the fact table
    (two groups); the z computation runs on a 2-row relation."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    g = o.select(
        F.when(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1) < "8",
            "A",
        )
        .otherwise("B")
        .alias("grp"),
        F.col("o_totalprice").alias("v"),
    )
    m = g.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
    )
    a = m.filter(F.col("grp") == "A").select(
        F.col("n").alias("n_a"), F.col("sx").alias("sx_a"), F.col("sxx").alias("sxx_a")
    )
    b = m.filter(F.col("grp") == "B").select(
        F.col("n").alias("n_b"), F.col("sx").alias("sx_b"), F.col("sxx").alias("sxx_b")
    )
    s = a.crossJoin(F.broadcast(b))
    mean_a = F.col("sx_a") / F.col("n_a")
    mean_b = F.col("sx_b") / F.col("n_b")
    var_term = (
        (F.col("sxx_a") - F.col("sx_a") * F.col("sx_a") / F.col("n_a"))
        / (F.col("n_a") - 1)
        / F.col("n_a")
    ) + (
        (F.col("sxx_b") - F.col("sx_b") * F.col("sx_b") / F.col("n_b"))
        / (F.col("n_b") - 1)
        / F.col("n_b")
    )
    return s.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round((mean_a - mean_b) / F.sqrt(var_term), 6).alias("z_score"),
    )


@register(
    "psi_price_drift",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) < '8'
                  THEN 'expected' ELSE 'actual' END AS side,
             least(CAST(o_totalprice AS BIGINT) // 50000, 9) AS bucket
      FROM orders
    ), c AS (
      SELECT bucket,
             CAST(sum(CASE WHEN side = 'expected' THEN 1 ELSE 0 END) AS BIGINT)
               AS ne,
             CAST(sum(CASE WHEN side = 'actual' THEN 1 ELSE 0 END) AS BIGINT)
               AS na
      FROM b GROUP BY bucket
    ), tot AS (
      SELECT CAST(sum(ne) AS BIGINT) AS te, CAST(sum(na) AS BIGINT) AS ta
      FROM c
    )
    SELECT CAST(c.bucket AS BIGINT) AS bucket, c.ne, c.na,
           round((CAST((c.ne + 1) AS DOUBLE) / (tot.te + 10)
                  - CAST((c.na + 1) AS DOUBLE) / (tot.ta + 10))
                 * ln(CAST((c.ne + 1) * (tot.ta + 10) AS DOUBLE)
                      / CAST((c.na + 1) * (tot.te + 10) AS DOUBLE)), 6)
             AS psi_term
    FROM c, tot
    """,
)
def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index terms between two deterministic
    md5-split halves of the order-value distribution — THE standard
    model-monitoring drift metric (PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ); > 0.2
    conventionally means the scoring population shifted and the model
    needs review). Fixed 50k-wide value bands (capped at bucket 9) keep
    the binning integer-exact; add-one smoothing keeps empty bins
    finite; the single ln per bin takes a ratio of integer products
    (the DSIR/bigram discipline), so both engines agree well under the
    6 dp round. Per-bin terms are emitted (the drill-down a monitoring
    dashboard shows); the headline PSI is their sum.

    Scale shape: ONE map-side-combining aggregate over the fact table
    into ≤10 bins; everything after runs on the bin relation."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    side = F.when(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1) < "8",
        "expected",
    ).otherwise("actual")
    bucket = F.least(
        F.expr("CAST(o_totalprice AS BIGINT) DIV 50000"), F.lit(9)
    )
    c = (
        o.select(side.alias("side"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("side") == "expected", 1).otherwise(0)).alias("ne"),
            F.sum(F.when(F.col("side") == "actual", 1).otherwise(0)).alias("na"),
        )
    )
    tot = c.agg(F.sum("ne").alias("te"), F.sum("na").alias("ta"))
    j = c.crossJoin(F.broadcast(tot))
    pe = (F.col("ne") + 1).cast("double") / (F.col("te") + 10)
    pa = (F.col("na") + 1).cast("double") / (F.col("ta") + 10)
    lr = F.log(
        ((F.col("ne") + 1) * (F.col("ta") + 10)).cast("double")
        / ((F.col("na") + 1) * (F.col("te") + 10)).cast("double")
    )
    return j.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("ne").cast("long").alias("ne"),
        F.col("na").cast("long").alias("na"),
        F.round((pe - pa) * lr, 6).alias("psi_term"),
    )


@register(
    "backtest_seasonal_naive",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), joined AS (
      SELECT a.event_type, a.d, a.cents,
             b.cents AS forecast
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.d = a.d - 7
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs(cents - forecast)) AS BIGINT) AS sum_abs_err_cents,
           round(CAST(sum(abs(cents - forecast)) AS DOUBLE)
                 / count(*) / 100, 6) AS mae
    FROM joined GROUP BY event_type
    """,
)
def backtest_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-evaluation baseline: backtest the SEASONAL-NAIVE
    forecaster (tomorrow = same weekday last week) on per-type daily
    value — the benchmark every real forecasting model must beat, and
    the shape of any rolling backtest (align series with its own lag,
    score the residuals). Integer-exact residuals: daily totals in
    cents, the 7-day alignment as a self-equi-join on (type, d−7) —
    which at scale is ONE hash exchange reused for both sides (same
    key), where a lag window would also work but the join form keeps
    the day-grain relation free of per-partition ordering assumptions.
    MAE divides once at the end."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.round(F.col("value").cast("double") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    fc = daily.select(
        "event_type",
        F.date_add("d", 7).alias("d"),
        F.col("cents").alias("forecast"),
    )
    j = daily.join(fc, ["event_type", "d"])
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.abs(F.col("cents") - F.col("forecast")))
        .cast("bigint")
        .alias("sum_abs_err_cents"),
        F.round(
            F.sum(F.abs(F.col("cents") - F.col("forecast"))).cast("double")
            / F.count(F.lit(1))
            / 100,
            6,
        ).alias("mae"),
    )


@register(
    "woe_iv_value_bins",
    oracle="""
    WITH g1 AS (
      -- a NULL feature value cannot be equi-depth binned (NULL-twin
      -- contract: the NULL cents key would land at opposite ends of
      -- the two engines' cumsum orderings)
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS bads
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
    ), cumrel AS (
      SELECT cents, cnt, bads,
             sum(cnt) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER () AS n
      FROM g1
    ), binned AS (
      SELECT ((cum - 1) * 8) // n AS bin, cnt, bads FROM cumrel
    ), pb AS (
      SELECT bin,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(sum(cnt) - sum(bads) AS BIGINT) AS goods,
             CAST(sum(bads) AS BIGINT) AS bads
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT CAST(sum(goods) AS BIGINT) AS gt, CAST(sum(bads) AS BIGINT) AS bt
      FROM pb
    )
    SELECT CAST(pb.bin AS BIGINT) AS bin, pb.n_rows, pb.goods, pb.bads,
           round(ln(CAST((pb.goods + 1) * (tot.bt + 8) AS DOUBLE)
                    / CAST((pb.bads + 1) * (tot.gt + 8) AS DOUBLE)), 6) AS woe,
           round((CAST(pb.goods + 1 AS DOUBLE) / (tot.gt + 8)
                  - CAST(pb.bads + 1 AS DOUBLE) / (tot.bt + 8))
                 * ln(CAST((pb.goods + 1) * (tot.bt + 8) AS DOUBLE)
                      / CAST((pb.bads + 1) * (tot.gt + 8) AS DOUBLE)), 6)
             AS iv_term
    FROM pb, tot
    """,
)
def woe_iv_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value readout for the order
    value against the 'F' (fulfilled) status — the classic
    credit-scoring feature diagnostic: equi-depth bins of the feature,
    WOE_b = ln(good-share/bad-share) per bin (monotone WOE ⇒ the
    feature ranks the outcome), and the IV terms whose sum grades
    predictive power (<0.02 useless, >0.3 strong).

    Equi-depth binning without a single-partition sort: the feature is
    value-compressed to ``(cents) → (count, bads)``, the global CDF
    comes from the two-pass
    :func:`~csv2parquet_spark.operators.ranking.global_cumsum`, and a
    distinct value lands wholly in bin ``((cum−1)·8) DIV n`` (ties are
    never split across bins — the deterministic convention both engines
    share). WOE/IV use add-one smoothing and take ONE ln of a ratio of
    integer products (the PSI/DSIR discipline), so 6 dp rounding is
    bit-stable cross-engine.

    Scale shape: one map-side-combining aggregate over the fact table
    (domain-sized output), the two-pass cumsum on the compressed
    relation, then everything runs on an 8-row bin relation.
    """
    # NULL feature values are unbinnable (see oracle note)
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    g1 = (
        o.select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
        )
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("bad").alias("bads"))
    )
    # n rides the cumsum's pass-1 sums (r11): the separate aggregate
    # re-ran the orders scan + groupBy as a whole extra job
    cum, _tot = global_cumsum(
        g1, keys=["cents"], weight_col="cnt", cum_col="cum", return_totals=True
    )
    n = _tot["cnt"]
    pb = (
        cum.select(
            F.expr(f"((cum - 1) * 8) div {n}").alias("bin"), "cnt", "bads"
        )
        .groupBy("bin")
        .agg(
            F.sum("cnt").alias("n_rows"),
            (F.sum("cnt") - F.sum("bads")).alias("goods"),
            F.sum("bads").alias("bads"),
        )
    )
    tot = pb.agg(F.sum("goods").alias("gt"), F.sum("bads").alias("bt"))
    j = pb.crossJoin(F.broadcast(tot))
    lr = F.log(
        ((F.col("goods") + 1) * (F.col("bt") + 8)).cast("double")
        / ((F.col("bads") + 1) * (F.col("gt") + 8)).cast("double")
    )
    shares = (F.col("goods") + 1).cast("double") / (F.col("gt") + 8) - (
        F.col("bads") + 1
    ).cast("double") / (F.col("bt") + 8)
    return j.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("goods").cast("long").alias("goods"),
        F.col("bads").cast("long").alias("bads"),
        F.round(lr, 6).alias("woe"),
        F.round(shares * lr, 6).alias("iv_term"),
    )


@register(
    "isotonic_calibration_exact",
    oracle="""
    WITH g AS (
      SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 100) AS BIGINT)
               AS score,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS p
      FROM embeddings GROUP BY 1
    ), c AS (
      SELECT score, n, p,
             sum(n) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum_n,
             sum(p) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum_p
      FROM g
    ), kj AS (
      SELECT k.score AS ks, j.score AS js, k.n AS kn, k.p AS kp,
             CAST(j.cum_p - k.cum_p + k.p AS DOUBLE)
               / CAST(j.cum_n - k.cum_n + k.n AS DOUBLE) AS rate
      FROM c k JOIN c j ON k.score <= j.score
    ), m AS (
      SELECT ks, js, kn, kp,
             max(rate) OVER (PARTITION BY js ORDER BY ks
                             ROWS UNBOUNDED PRECEDING) AS mx
      FROM kj
    )
    SELECT ks AS score, CAST(max(kn) AS BIGINT) AS n,
           CAST(max(kp) AS BIGINT) AS p,
           round(min(mx), 6) AS iso_rate
    FROM m GROUP BY ks
    """,
)
def isotonic_calibration_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT isotonic regression (the PAVA fit) of the positive rate
    against the quantized first-embedding-component score — the
    standard probability-calibration map (monotone, least-squares
    optimal; the sibling of ``roc_auc_exact`` and the principled
    upgrade over fixed calibration bins).

    Instead of the sequential pool-adjacent-violators sweep (which
    doesn't distribute), the fit uses the minimax closed form
    (Robertson/Wright/Dykstra): ŷ_i = min_{j≥i} max_{k≤i}
    weighted-avg(pos over score buckets k..j). Every interval average
    is ONE double division of exact integer sums (deterministic), and
    max/min over identical doubles is engine-exact — so the whole fit
    hash-matches.

    Scale shape: ONE corpus partial-agg onto the quantized score
    relation (≤201 buckets at any corpus size — the quantization fixes
    the model size), two-pass ``global_cumsum`` for the prefix sums,
    then the O(buckets²) minimax on a broadcast pair relation with
    PARTITIONED windows (by j for the prefix max, then a groupBy for
    the suffix min). The corpus is touched exactly once; everything
    after is model-sized.
    """
    emb = table(spark, sf_dir, "embeddings")
    g = (
        emb.select(
            F.floor(F.element_at("embedding", 1).cast("double") * 100)
            .cast("long")
            .alias("score"),
            (F.col("label") >= 5).cast("int").alias("pos"),
        )
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").cast("long").alias("p"),
        )
    )
    c = global_cumsum(
        g, keys=["score"], weight_col=["n", "p"], cum_col=["cum_n", "cum_p"]
    )
    c = c.localCheckpoint()  # model-sized (≤201 rows), consumed twice
    k = c.select(
        F.col("score").alias("ks"), F.col("n").alias("kn"),
        F.col("p").alias("kp"), F.col("cum_n").alias("kcn"),
        F.col("cum_p").alias("kcp"),
    )
    j = c.select(
        F.col("score").alias("js"), F.col("cum_n").alias("jcn"),
        F.col("cum_p").alias("jcp"),
    )
    kj = k.join(F.broadcast(j), F.col("ks") <= F.col("js")).select(
        "ks", "js", "kn", "kp",
        (
            (F.col("jcp") - F.col("kcp") + F.col("kp")).cast("double")
            / (F.col("jcn") - F.col("kcn") + F.col("kn")).cast("double")
        ).alias("rate"),
    )
    from pyspark.sql import Window

    wj = Window.partitionBy("js").orderBy("ks").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    m = kj.withColumn("mx", F.max("rate").over(wj))
    return m.groupBy(F.col("ks").alias("score")).agg(
        F.max("kn").alias("n"),
        F.max("kp").alias("p"),
        F.round(F.min("mx"), 6).alias("iso_rate"),
    )


@register(
    "jackknife_ratio_ci",
    oracle="""
    WITH o AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 32 AS b,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), pb AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(cents) AS BIGINT) AS s_b
      FROM o GROUP BY b
    ), tot AS (
      SELECT CAST(sum(n_b) AS BIGINT) AS n, CAST(sum(s_b) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS nb
      FROM pb
    ), loo AS (
      SELECT CAST(tot.s - pb.s_b AS DOUBLE)
               / CAST(tot.n - pb.n_b AS DOUBLE) AS th,
             tot.n AS n, tot.s AS s, tot.nb AS nb
      FROM pb, tot
    ), mn AS (
      SELECT CAST(sum(CAST(th AS DECIMAL(28,12))) AS DOUBLE)
               / CAST(max(nb) AS DOUBLE) AS thbar,
             max(n) AS n, max(s) AS s, max(nb) AS nb
      FROM loo
    )
    SELECT max(mn.n) AS n_orders, max(mn.nb) AS n_buckets,
           round(CAST(max(mn.s) AS DOUBLE) / max(mn.n), 6) AS theta_hat,
           round(sqrt(CAST(max(mn.nb) - 1 AS DOUBLE) / max(mn.nb)
                 * CAST(sum(CAST((loo.th - mn.thbar) * (loo.th - mn.thbar)
                                 AS DECIMAL(28,12))) AS DOUBLE)), 6)
             AS se_jack,
           round(CAST(max(mn.s) AS DOUBLE) / max(mn.n)
                 - 1.96 * sqrt(CAST(max(mn.nb) - 1 AS DOUBLE) / max(mn.nb)
                   * CAST(sum(CAST((loo.th - mn.thbar) * (loo.th - mn.thbar)
                                   AS DECIMAL(28,12))) AS DOUBLE)), 6)
             AS ci_lo,
           round(CAST(max(mn.s) AS DOUBLE) / max(mn.n)
                 + 1.96 * sqrt(CAST(max(mn.nb) - 1 AS DOUBLE) / max(mn.nb)
                   * CAST(sum(CAST((loo.th - mn.thbar) * (loo.th - mn.thbar)
                                   AS DECIMAL(28,12))) AS DOUBLE)), 6)
             AS ci_hi
    FROM loo, mn
    """,
)
def jackknife_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered (delete-one-bucket) jackknife 95% CI for a RATIO
    metric — mean order value in cents, with the CUSTOMER as the unit
    of randomization: orders of one customer land in one of 32 md5
    hash buckets, and each leave-one-bucket-out estimate
    θ₍ᵦ₎ = (S−S_b)/(N−N_b) comes from the totals minus that bucket's
    sums. This is how experiment platforms get honest error bars on
    ratio metrics (per-row bootstrap/CLT understates variance when the
    numerator and denominator are correlated within a customer).

    Determinism: bucket sums are exact integers; each θ₍ᵦ₎ is ONE
    double division; the jackknife mean and the squared deviations go
    through DECIMAL(28,12) sums (association-proof) with single
    multiplications/roots on identical doubles. Scale shape: ONE
    map-side-combining aggregate over the fact table into 32 buckets;
    everything after is a 32-row relation — the classic
    "mergeable-summary then model-sized math" jackknife at any corpus
    size.
    """
    from csv2parquet_spark.operators.layout import shard_key

    o = table(spark, sf_dir, "orders").select(
        shard_key(F.col("o_custkey"), 32).cast("long").alias("b"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    pb = o.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_b"), F.sum("cents").alias("s_b")
    )
    tot = pb.agg(
        F.sum("n_b").alias("n"),
        F.sum("s_b").alias("s"),
        F.count(F.lit(1)).alias("nb"),
    )
    loo = pb.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("s") - F.col("s_b")).cast("double")
            / (F.col("n") - F.col("n_b")).cast("double")
        ).alias("th"),
        "n", "s", "nb",
    ).localCheckpoint()  # 32 rows, consumed twice
    mn = loo.agg(
        (
            F.sum(F.col("th").cast("decimal(28,12)")).cast("double")
            / F.max("nb").cast("double")
        ).alias("thbar")
    )
    j = loo.crossJoin(F.broadcast(mn))
    dev2 = (F.col("th") - F.col("thbar")) * (F.col("th") - F.col("thbar"))
    var = (
        (F.max("nb") - 1).cast("double") / F.max("nb")
        * F.sum(dev2.cast("decimal(28,12)")).cast("double")
    )
    theta = F.max("s").cast("double") / F.max("n")
    return j.agg(
        F.max("n").alias("n_orders"),
        F.max("nb").alias("n_buckets"),
        F.round(theta, 6).alias("theta_hat"),
        F.round(F.sqrt(var), 6).alias("se_jack"),
        F.round(theta - 1.96 * F.sqrt(var), 6).alias("ci_lo"),
        F.round(theta + 1.96 * F.sqrt(var), 6).alias("ci_hi"),
    )


@register(
    "mann_whitney_u_test",
    oracle="""
    WITH o AS (
      -- a NULL value has no rank in a rank-sum test (NULL-twin
      -- contract; a NULL cents key would also land at opposite ends
      -- of the two engines' cumsum orderings)
      SELECT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS grp_a,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
      WHERE o_totalprice IS NOT NULL
    ), g AS (
      SELECT cents,
             CAST(sum(grp_a) AS BIGINT) AS n_a,
             CAST(count(*) - sum(grp_a) AS BIGINT) AS n_b
      FROM o GROUP BY cents
    ), c AS (
      SELECT cents, n_a, n_b,
             sum(n_b) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM g
    ), u AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS na,
             CAST(sum(n_b) AS BIGINT) AS nb,
             CAST(sum(n_a * (2 * (cum_b - n_b) + n_b)) AS BIGINT) AS u2,
             CAST(sum(n_a + n_b) AS BIGINT) AS n,
             CAST(sum((n_a + n_b) * (n_a + n_b) * (n_a + n_b)
                      - (n_a + n_b)) AS BIGINT) AS tie3
      FROM c
    )
    SELECT na, nb, u2,
           round((CAST(u2 AS DOUBLE) / 2 - CAST(na AS DOUBLE) * nb / 2)
                 / sqrt(CAST(na AS DOUBLE) * nb / 12
                        * ((n + 1) - CAST(tie3 AS DOUBLE) / (n * (n - 1)))),
                 6) AS z_score
    FROM u
    """,
)
def mann_whitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between the two md5
    experiment arms of the order-value distribution — the nonparametric
    complement of ``ab_test_revenue_ztest``: sensitive to distribution
    shifts a mean-based z-test misses, and immune to the heavy tail
    that inflates its variance.

    Rank-free U: on the value-compressed CDF, each value's A-count
    contributes ``n_a·(#B strictly below + #B tied/2)`` — doubled to
    ``u2 = n_a·(2·cum_b_below + n_b)`` so ties stay INTEGER (the exact
    trick ``roc_auc_exact`` uses — U/(n_a·n_b) IS the AUC between the
    arms). The tie-corrected normal z is closed-form deterministic
    doubles from integer totals. Scale shape: ONE map-side-combining
    aggregate onto the value domain + one two-pass cumsum — no row
    ever gets a rank.
    """
    # NULL values carry no rank (see oracle note)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.when(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1)
                < "8",
                1,
            )
            .otherwise(0)
            .alias("grp_a"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    g = o.groupBy("cents").agg(
        F.sum("grp_a").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("grp_a")).alias("n_b"),
    )
    c = global_cumsum(g, keys=["cents"], weight_col="n_b", cum_col="cum_b")
    tied = F.col("n_a") + F.col("n_b")
    u = c.agg(
        F.sum("n_a").alias("na"),
        F.sum("n_b").alias("nb"),
        F.sum(
            F.col("n_a") * (2 * (F.col("cum_b") - F.col("n_b")) + F.col("n_b"))
        ).alias("u2"),
        F.sum(tied).alias("n"),
        F.sum(tied * tied * tied - tied).alias("tie3"),
    )
    z = (
        F.col("u2").cast("double") / 2
        - F.col("na").cast("double") * F.col("nb") / 2
    ) / F.sqrt(
        F.col("na").cast("double") * F.col("nb") / 12
        * (
            (F.col("n") + 1)
            - F.col("tie3").cast("double") / (F.col("n") * (F.col("n") - 1))
        )
    )
    return u.select("na", "nb", "u2", F.round(z, 6).alias("z_score"))


@register(
    "kendall_tau_b_bands",
    oracle="""
    WITH rel AS (
      SELECT CAST(o.o_totalprice AS BIGINT) // 50000 AS x,
             CAST(floor(c.c_acctbal / 2000) AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), cell AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS m FROM rel GROUP BY x, y
    ), conc AS (
      SELECT CAST(sum(a.m * b.m) AS BIGINT) AS s,
             'C' AS kind
      FROM cell a JOIN cell b ON b.x > a.x AND b.y > a.y
      UNION ALL
      SELECT CAST(sum(a.m * b.m) AS BIGINT) AS s, 'D' AS kind
      FROM cell a JOIN cell b ON b.x > a.x AND b.y < a.y
    ), marg AS (
      SELECT CAST(sum(m) AS BIGINT) AS n,
             CAST(sum(m * (m - 1)) AS BIGINT) / 2 AS tie_xy
      FROM cell
    ), tx AS (
      SELECT CAST(sum(mx * (mx - 1)) AS BIGINT) / 2 AS n1
      FROM (SELECT CAST(sum(m) AS BIGINT) AS mx FROM cell GROUP BY x)
    ), ty AS (
      SELECT CAST(sum(my * (my - 1)) AS BIGINT) / 2 AS n2
      FROM (SELECT CAST(sum(m) AS BIGINT) AS my FROM cell GROUP BY y)
    )
    SELECT marg.n AS n_pairs_rows,
           CAST(max(CASE WHEN kind = 'C' THEN s END) AS BIGINT) AS conc,
           CAST(max(CASE WHEN kind = 'D' THEN s END) AS BIGINT) AS disc,
           CAST(tx.n1 AS BIGINT) AS ties_x, CAST(ty.n2 AS BIGINT) AS ties_y,
           round((CAST(max(CASE WHEN kind = 'C' THEN s END) AS DOUBLE)
                  - max(CASE WHEN kind = 'D' THEN s END))
                 / sqrt((CAST(marg.n AS DOUBLE) * (marg.n - 1) / 2 - tx.n1)
                        * (CAST(marg.n AS DOUBLE) * (marg.n - 1) / 2
                           - ty.n2)), 6) AS tau_b
    FROM conc, marg, tx, ty
    GROUP BY marg.n, tx.n1, ty.n2
    """,
)
def kendall_tau_b_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between the order-value band and
    the customer's account-balance band — "do richer customers place
    bigger orders", answered by CONCORDANCE instead of moments (robust
    to any monotone rescaling; the tie-corrected tau-b is the version
    defined on banded/contingency data).

    Exactness: concordant/discordant counts are sums of integer
    cell-count products over the banded CONTINGENCY GRID (never row
    pairs) — C = Σ m_ab·m_cd over cells strictly increasing in both
    coordinates, via a grid self-join (grid² pairs, model-sized since
    the grid is the band cross product). Tie terms are integer
    marginals; tau-b is one deterministic double expression at the end.

    Scale shape: one broadcast dim join + ONE partial-agg onto the
    grid; everything after is grid-sized. At 100 TB the grid is still
    ~20×12 cells — the corpus never pairs with itself.
    """
    o = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    rel = o.join(
        F.broadcast(cust.select("c_custkey", "c_acctbal")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.expr("CAST(o_totalprice AS BIGINT) div 50000").alias("x"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("y"),
    )
    cell = rel.groupBy("x", "y").agg(F.count(F.lit(1)).alias("m")).localCheckpoint()
    a = cell.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("m").alias("ma")
    )
    b = cell.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("m").alias("mb")
    )
    conc = (
        a.join(F.broadcast(b), (F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")))
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("s"))
        .collect()[0].s
        or 0
    )
    disc = (
        a.join(F.broadcast(b), (F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")))
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("s"))
        .collect()[0].s
        or 0
    )
    marg = cell.agg(F.sum("m").alias("n")).collect()[0]
    n = int(marg.n)
    ties_x = int(
        cell.groupBy("x").agg(F.sum("m").alias("mx"))
        .agg(F.sum(F.col("mx") * (F.col("mx") - 1)).alias("t"))
        .collect()[0].t
    ) // 2
    ties_y = int(
        cell.groupBy("y").agg(F.sum("m").alias("my"))
        .agg(F.sum(F.col("my") * (F.col("my") - 1)).alias("t"))
        .collect()[0].t
    ) // 2
    n0 = n * (n - 1) / 2.0
    tau_b = (float(conc) - float(disc)) / (
        ((n0 - ties_x) * (n0 - ties_y)) ** 0.5
    )
    from csv2parquet_spark.queries.helpers import local_result_df

    return local_result_df(
        spark,
        [(n, int(conc), int(disc), ties_x, ties_y, round(tau_b, 6))],
        "n_pairs_rows bigint, conc bigint, disc bigint, ties_x bigint, "
        "ties_y bigint, tau_b double",
    )


@register(
    "ks_test_two_sample",
    oracle="""
    WITH o AS (
      -- a NULL value has no place on an empirical CDF (NULL-twin
      -- contract, same population rule as mann_whitney_u_test)
      SELECT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS grp_a,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
      WHERE o_totalprice IS NOT NULL
    ), g AS (
      SELECT cents,
             CAST(sum(grp_a) AS BIGINT) AS n_a,
             CAST(count(*) - sum(grp_a) AS BIGINT) AS n_b
      FROM o GROUP BY cents
    ), c AS (
      SELECT cents,
             sum(n_a) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS ca,
             sum(n_b) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cb,
             sum(n_a) OVER () AS na, sum(n_b) OVER () AS nb
      FROM g
    )
    SELECT CAST(max(na) AS BIGINT) AS na, CAST(max(nb) AS BIGINT) AS nb,
           CAST(max(abs(ca * nb - cb * na)) AS BIGINT) AS d_num,
           CAST(max(na) * max(nb) AS BIGINT) AS d_den,
           round(CAST(max(abs(ca * nb - cb * na)) AS DOUBLE)
                 / (CAST(max(na) AS DOUBLE) * max(nb))
                 * sqrt(CAST(max(na) AS DOUBLE) * max(nb)
                        / (max(na) + max(nb))), 6) AS ks_stat_scaled
    FROM c
    """,
)
def ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the md5
    experiment arms of the order-value distribution — the third member
    of the nonparametric family (Mann-Whitney detects location shift,
    KS detects ANY distributional difference: spread, shape, tails).

    The supremum gap is computed EXACTLY as an integer: at every
    distinct value, |F_A − F_B| = |cum_a·n_b − cum_b·n_a| / (n_a·n_b),
    so ``d_num = max |cum_a·n_b − cum_b·n_a|`` is a BIGINT both engines
    agree on bit-for-bit (no float sup over thousands of candidates —
    the classic cross-multiplication dodge). The scaled statistic
    D·sqrt(n_a·n_b/(n_a+n_b)) is one closed-form double at the end.

    Scale shape: one map-side-combining aggregate onto the value
    domain, one cumsum pass over the compressed CDF, one max — no row
    ever ranks, no partition ever holds the corpus.
    """
    # NULL values sit on no CDF (see oracle note). The r11 gated
    # rebalance before the md5 projection was REVERTED in r12: the
    # cold-JVM re-A/B (VERDICT r11 item 2 protocol; interleaved ×4,
    # best-of-3 each) read no-rebalance FASTER in all four pairs
    # (1.46/1.26/1.71/1.40 vs 2.25/1.71/2.01/1.72 s) — the md5 arm
    # assignment fuses into the groupBy's partial-agg stage, which the
    # aggregation's own exchange already parallelizes; the extra
    # round-robin exchange of the raw orders was pure cost. (q1 /
    # exact_substr / multimodal re-confirmed KEEP in the same session.)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select("o_custkey", "o_totalprice")
    ).select(
        F.when(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1)
            < "8",
            1,
        )
        .otherwise(0)
        .alias("grp_a"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    g = o.groupBy("cents").agg(
        F.sum("grp_a").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("grp_a")).alias("n_b"),
    )
    # totals ride the cumsum's own pass-1 sums (r11): the separate
    # aggregate + crossJoin(broadcast) re-ran the whole two-pass chain
    # as a broadcast subquery for two integers. Same integers by
    # construction; the downstream doubles see identical operands, so
    # every IEEE op reproduces bit-for-bit.
    c, _tot = global_cumsum(
        g,
        keys=["cents"],
        weight_col=["n_a", "n_b"],
        cum_col=["ca", "cb"],
        return_totals=True,
    )
    na, nb = _tot["n_a"], _tot["n_b"]
    gap = F.abs(F.col("ca") * F.lit(nb) - F.col("cb") * F.lit(na))
    ks = c.agg(F.max(gap).alias("d_num"))
    scaled = (
        F.col("d_num").cast("double")
        / (F.lit(na).cast("double") * F.lit(nb))
        * F.sqrt(
            F.lit(na).cast("double") * F.lit(nb) / (F.lit(na) + F.lit(nb))
        )
    )
    return ks.select(
        F.lit(na).cast("long").alias("na"),
        F.lit(nb).cast("long").alias("nb"),
        F.col("d_num"),
        F.lit(na * nb).cast("long").alias("d_den"),
        F.round(scaled, 6).alias("ks_stat_scaled"),
    )


@register(
    "mutual_information_bands",
    oracle="""
    WITH rel AS (
      SELECT CAST(o.o_totalprice AS BIGINT) // 50000 AS x,
             CAST(floor(c.c_acctbal / 2000) AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), cell AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS m FROM rel GROUP BY x, y
    ), rx AS (
      SELECT x, CAST(sum(m) AS BIGINT) AS mx FROM cell GROUP BY x
    ), ry AS (
      SELECT y, CAST(sum(m) AS BIGINT) AS my FROM cell GROUP BY y
    ), tot AS (
      SELECT CAST(sum(m) AS BIGINT) AS n FROM cell
    )
    SELECT cell.x, cell.y, cell.m,
           round(CAST(cell.m AS DOUBLE) / tot.n
                 * ln(CAST(cell.m * tot.n AS DOUBLE)
                      / CAST(rx.mx * ry.my AS DOUBLE)), 9) AS mi_term
    FROM cell JOIN rx USING (x) JOIN ry USING (y), tot
    """,
)
def mutual_information_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information terms between the order-value band and the
    customer balance band — the information-theoretic dependence
    measure next to Kendall tau-b (MI catches NON-monotone dependence
    tau misses; Σ mi_term = I(X;Y) in nats, 0 iff independent). The
    per-cell terms are emitted (the drill-down that shows WHICH cells
    carry the dependence).

    Parity: each term is (m/n)·ln(m·n/(mx·my)) — one ln of a ratio of
    integer products (the PSI/DSIR discipline) times one division,
    rounded at 9 dp. Scale shape: one broadcast dim join + ONE
    partial-agg onto the band grid; marginals re-aggregate the grid
    (~240 cells), never the fact table.
    """
    o = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    rel = o.join(
        F.broadcast(cust.select("c_custkey", "c_acctbal")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.expr("CAST(o_totalprice AS BIGINT) div 50000").alias("x"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("y"),
    )
    cell = rel.groupBy("x", "y").agg(F.count(F.lit(1)).alias("m")).localCheckpoint()
    rx = cell.groupBy("x").agg(F.sum("m").alias("mx"))
    ry = cell.groupBy("y").agg(F.sum("m").alias("my"))
    tot = cell.agg(F.sum("m").alias("n"))
    j = (
        cell.join(F.broadcast(rx), "x")
        .join(F.broadcast(ry), "y")
        .crossJoin(F.broadcast(tot))
    )
    term = (
        F.col("m").cast("double")
        / F.col("n")
        * F.log(
            (F.col("m") * F.col("n")).cast("double")
            / (F.col("mx") * F.col("my")).cast("double")
        )
    )
    return j.select("x", "y", "m", F.round(term, 9).alias("mi_term"))


@register(
    "cuped_adjusted_ab_test",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS c,
             CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS arm_a,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                           THEN CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
             CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
                           THEN CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT) ELSE 0 END) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxy,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS DOUBLE) AS syy
      FROM per
    ), th AS (
      SELECT n, sx, sy,
             (sxy - CAST(sx AS DOUBLE) * sy / n)
               / (sxx - CAST(sx AS DOUBLE) * sx / n) AS theta,
             (sxy - CAST(sx AS DOUBLE) * sy / n) AS cov_n,
             (sxx - CAST(sx AS DOUBLE) * sx / n) AS var_x_n,
             (syy - CAST(sy AS DOUBLE) * sy / n) AS var_y_n
      FROM mom
    ), arms AS (
      SELECT per.arm_a, CAST(count(*) AS BIGINT) AS n_arm,
             CAST(sum(per.y) AS BIGINT) AS sy_arm,
             CAST(sum(per.x) AS BIGINT) AS sx_arm,
             max(th.theta) AS theta, max(th.sx) AS sx_all, max(th.n) AS n_all,
             max(th.cov_n) AS cov_n, max(th.var_x_n) AS var_x_n,
             max(th.var_y_n) AS var_y_n
      FROM per, th GROUP BY per.arm_a
    )
    SELECT arm_a, n_arm,
           round(CAST(sy_arm AS DOUBLE) / n_arm, 6) AS mean_y,
           round(CAST(sy_arm AS DOUBLE) / n_arm
                 - theta * (CAST(sx_arm AS DOUBLE) / n_arm
                            - CAST(sx_all AS DOUBLE) / n_all), 6)
             AS mean_y_cuped,
           round(theta, 6) AS theta,
           round(cov_n * cov_n / (var_x_n * var_y_n), 6) AS var_reduction
    FROM arms
    """,
)
def cuped_adjusted_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout (Deng et al., WSDM 2013): per md5
    experiment arm, the raw mean of post-period revenue and the
    CUPED-adjusted mean Ŷ = Ȳ_arm − θ·(X̄_arm − X̄), with θ =
    cov(Y,X)/var(X) from the PRE-period covariate — the industry's
    standard variance-reduction trick (var_reduction = ρ² is the
    fraction of metric variance the pre-period explains; the same
    experiment reaches significance ~1/(1−ρ²)× faster).

    Parity: per-customer pre/post revenues are integer cents; the five
    pooled moments go through DECIMAL(38,0) products (x·y overflows
    int64 at cent scale) summed exactly; θ and both means are
    closed-form doubles of those integers, rounded at 6 dp. Scale
    shape: ONE customer-grain partial-agg over the fact table, then a
    1-row moment relation and a 2-row arm relation — nothing after the
    first aggregate is corpus-sized.
    """
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    per = (
        o.select(
            F.col("o_custkey").alias("c"),
            F.when(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1)
                < "8",
                1,
            )
            .otherwise(0)
            .alias("arm_a"),
            F.when(F.col("o_orderdate") >= "1996-01-01", cents)
            .otherwise(0)
            .alias("yc"),
            F.when(F.col("o_orderdate") < "1996-01-01", cents)
            .otherwise(0)
            .alias("xc"),
        )
        .groupBy("c", "arm_a")
        .agg(F.sum("yc").alias("y"), F.sum("xc").alias("x"))
        .localCheckpoint()  # customer-grain; consumed by moments + arms
    )
    d38 = "decimal(38,0)"
    mom = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x").cast(d38))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y").cast(d38))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("y").cast(d38) * F.col("y").cast(d38))
        .cast("double")
        .alias("syy"),
    )
    th = mom.select(
        "n",
        "sx",
        "sy",
        (
            (F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        ).alias("theta"),
        (F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n")).alias("cov_n"),
        (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n")).alias("var_x_n"),
        (F.col("syy") - F.col("sy").cast("double") * F.col("sy") / F.col("n")).alias("var_y_n"),
    )
    arms = (
        per.groupBy("arm_a")
        .agg(
            F.count(F.lit(1)).alias("n_arm"),
            F.sum("y").alias("sy_arm"),
            F.sum("x").alias("sx_arm"),
        )
        .crossJoin(F.broadcast(th))
    )
    mean_y = F.col("sy_arm").cast("double") / F.col("n_arm")
    mean_adj = mean_y - F.col("theta") * (
        F.col("sx_arm").cast("double") / F.col("n_arm")
        - F.col("sx").cast("double") / F.col("n")
    )
    return arms.select(
        "arm_a",
        "n_arm",
        F.round(mean_y, 6).alias("mean_y"),
        F.round(mean_adj, 6).alias("mean_y_cuped"),
        F.round(F.col("theta"), 6).alias("theta"),
        F.round(
            F.col("cov_n") * F.col("cov_n")
            / (F.col("var_x_n") * F.col("var_y_n")),
            6,
        ).alias("var_reduction"),
    )


@register(
    "spearman_rank_correlation",
    oracle="""
    WITH rel AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS xv,
             CAST(o_orderkey % 97 AS BIGINT) AS yv
      FROM orders
    ), gx AS (
      SELECT xv, CAST(count(*) AS BIGINT) AS cnt FROM rel GROUP BY xv
    ), mx AS (
      SELECT xv, 2 * (sum(cnt) OVER (ORDER BY xv ROWS UNBOUNDED PRECEDING))
                 - cnt + 1 AS mr2x
      FROM gx
    ), gy AS (
      SELECT yv, CAST(count(*) AS BIGINT) AS cnt FROM rel GROUP BY yv
    ), my AS (
      SELECT yv, 2 * (sum(cnt) OVER (ORDER BY yv ROWS UNBOUNDED PRECEDING))
                 - cnt + 1 AS mr2y
      FROM gy
    ), j AS (
      SELECT mx.mr2x AS rx, my.mr2y AS ry
      FROM rel JOIN mx USING (xv) JOIN my USING (yv)
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(CAST(rx AS DECIMAL(38,0)) * CAST(rx AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(rx AS DECIMAL(38,0)) * CAST(ry AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxy,
             CAST(sum(CAST(ry AS DECIMAL(38,0)) * CAST(ry AS DECIMAL(38,0)))
                  AS DOUBLE) AS syy
      FROM j
    )
    SELECT n,
           round((sxy - CAST(sx AS DOUBLE) * sy / n)
                 / sqrt((sxx - CAST(sx AS DOUBLE) * sx / n)
                        * (syy - CAST(sy AS DOUBLE) * sy / n)), 6)
             AS spearman_rho
    FROM mom
    """,
)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation on RAW values (tie-corrected midranks)
    between the order value and a synthetic periodic driver
    (orderkey mod 97) — the monotone-dependence measure on unbanded
    data, next to Kendall tau-b on the banded grid. Expected ≈ 0 on
    this fixture (the driver is independent of price); the point is
    the MACHINERY: exact midranks with no per-row ranking.

    Midranks without a sort: on each value-compressed CDF, the midrank
    of value v is cum(v) − cnt(v)/2 + 1/2 — DOUBLED to
    ``mr2 = 2·cum − cnt + 1`` so ties stay integer. Rows join their
    value's midrank back (two hash joins on the value domains), then
    Spearman = Pearson on the doubled midranks — five pooled moments
    through DECIMAL(38,0) products (Σ(2r)² ~ 4n³ overflows int64 past
    ~1M rows), one closed-form double. Scale shape: two compressed
    CDFs (window-free via global_cumsum), two joins, one aggregate.
    """
    o = table(spark, sf_dir, "orders")
    rel = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("xv"),
        (F.col("o_orderkey") % 97).cast("long").alias("yv"),
    ).localCheckpoint()  # consumed by both CDFs and the midrank join

    def midranks(col):
        g = rel.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        c = global_cumsum(g, keys=[col], weight_col="cnt", cum_col="cum")
        return c.select(
            col, (2 * F.col("cum") - F.col("cnt") + 1).alias(f"mr2{col}")
        )

    j = (
        rel.join(midranks("xv"), "xv")
        .join(midranks("yv"), "yv")
        .select(F.col("mr2xv").alias("rx"), F.col("mr2yv").alias("ry"))
    )
    d38 = "decimal(38,0)"
    mom = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx").cast(d38) * F.col("rx").cast(d38))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("rx").cast(d38) * F.col("ry").cast(d38))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("ry").cast(d38) * F.col("ry").cast(d38))
        .cast("double")
        .alias("syy"),
    )
    rho = (
        F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    ) / F.sqrt(
        (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        * (F.col("syy") - F.col("sy").cast("double") * F.col("sy") / F.col("n"))
    )
    return mom.select("n", F.round(rho, 6).alias("spearman_rho"))


@register(
    "odds_ratio_2x2",
    oracle="""
    WITH rel AS (
      SELECT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS exposed,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS outcome
      FROM orders
    ), t AS (
      SELECT CAST(sum(exposed * outcome) AS BIGINT) AS a,
             CAST(sum(exposed * (1 - outcome)) AS BIGINT) AS b,
             CAST(sum((1 - exposed) * outcome) AS BIGINT) AS c,
             CAST(sum((1 - exposed) * (1 - outcome)) AS BIGINT) AS d
      FROM rel
    )
    SELECT a, b, c, d,
           round(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)), 6)
             AS log_odds_ratio,
           round(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
                 - 1.959964 * sqrt(CAST(1 AS DOUBLE)/a + CAST(1 AS DOUBLE)/b
                                   + CAST(1 AS DOUBLE)/c
                                   + CAST(1 AS DOUBLE)/d), 6) AS ci_lo_log,
           round(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
                 + 1.959964 * sqrt(CAST(1 AS DOUBLE)/a + CAST(1 AS DOUBLE)/b
                                   + CAST(1 AS DOUBLE)/c
                                   + CAST(1 AS DOUBLE)/d), 6) AS ci_hi_log
    FROM t
    """,
)
def odds_ratio_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 odds ratio with the Katz log interval — exposure = the md5
    experiment arm, outcome = urgent/high order priority. The
    epidemiology-style effect readout (ln OR = ln(a·d/(b·c)),
    SE = sqrt(1/a+1/b+1/c+1/d)) that complements the mean-based tests:
    it speaks in odds of a BINARY outcome, not value shifts.

    Exactness: the four cells are one map-side-combining aggregate of
    integer indicator products; ln of a ratio of integer products (the
    PSI discipline) and one sqrt of exact reciprocals — closed-form
    doubles rounded at 6 dp. ONE pass over the fact table; everything
    after is a single row.
    """
    o = table(spark, sf_dir, "orders")
    rel = o.select(
        F.when(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1) < "8", 1
        )
        .otherwise(0)
        .alias("exposed"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("outcome"),
    )
    t = rel.agg(
        F.sum(F.col("exposed") * F.col("outcome")).alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("outcome"))).alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("outcome")).alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("outcome"))).alias("d"),
    )
    lor = F.log(
        (F.col("a") * F.col("d")).cast("double")
        / (F.col("b") * F.col("c")).cast("double")
    )
    se = F.sqrt(
        F.lit(1.0) / F.col("a")
        + F.lit(1.0) / F.col("b")
        + F.lit(1.0) / F.col("c")
        + F.lit(1.0) / F.col("d")
    )
    return t.select(
        "a", "b", "c", "d",
        F.round(lor, 6).alias("log_odds_ratio"),
        F.round(lor - 1.959964 * se, 6).alias("ci_lo_log"),
        F.round(lor + 1.959964 * se, 6).alias("ci_hi_log"),
    )


def _kappa_oracle() -> str:
    """Cohen's kappa over the lang-ID confusion matrix: the proven
    lang_id_heuristic oracle nests as a CTE (its own WITH-chain is a
    legal subquery body), then kappa reduces to integer marginals."""
    from csv2parquet_spark.queries.registry import REGISTRY

    conf_sql = REGISTRY["lang_id_heuristic"].oracle
    return f"""
    WITH conf AS MATERIALIZED ({conf_sql}),
    rows_m AS (SELECT lang AS k, sum(n_docs) AS r FROM conf GROUP BY 1),
    cols_m AS (SELECT predicted AS k, sum(n_docs) AS c FROM conf GROUP BY 1),
    tot AS (
      SELECT sum(n_docs) AS nn,
             sum(CASE WHEN lang = predicted THEN n_docs ELSE 0 END) AS agree
      FROM conf
    ),
    pe AS (
      SELECT coalesce(sum(r * c), 0) AS pe_num
      FROM rows_m JOIN cols_m USING (k)
    )
    SELECT CAST(nn AS BIGINT) AS n_docs, CAST(agree AS BIGINT) AS n_agree,
           CAST(nn * agree - pe_num AS BIGINT) AS kappa_num,
           CAST(nn * nn - pe_num AS BIGINT) AS kappa_den,
           CAST(((nn * agree - pe_num) * 1000000) // (nn * nn - pe_num)
                AS BIGINT) AS kappa_ppm
    FROM tot, pe
    """


@register("lang_id_agreement_kappa", oracle=_kappa_oracle())
def lang_id_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the learned lang-ID predictions and the
    corpus's labeled ``lang`` column — chance-corrected agreement, the
    label-quality gate for classifier-assisted data curation (raw
    accuracy is inflated when one language dominates; kappa is not).

    Reuses the hash-proven ``lang_id_heuristic`` confusion matrix
    verbatim (its oracle nests as a CTE); kappa is then pure integer
    arithmetic on the k×k confusion counts:
    κ = (N·Σdiag − Σₖrowₖ·colₖ)/(N² − Σₖrowₖ·colₖ), emitted as exact
    num/den BIGINTs plus a truncated ppm ratio. N² needs a wide type
    beyond ~3e9 rows — here the confusion relation is k² ≤ 25 rows, so
    every aggregate after the (already-proven) vote pipeline is
    driver-trivial."""
    from csv2parquet_spark.queries.llm_ops import lang_id_heuristic

    conf = lang_id_heuristic(spark, sf_dir).localCheckpoint()
    rows_m = conf.groupBy(F.col("lang").alias("k")).agg(F.sum("n_docs").alias("r"))
    cols_m = conf.groupBy(F.col("predicted").alias("k")).agg(
        F.sum("n_docs").alias("c")
    )
    tot = conf.agg(
        F.sum("n_docs").alias("nn"),
        F.sum(F.when(F.col("lang") == F.col("predicted"), F.col("n_docs")).otherwise(0)).alias("agree"),
    )
    pe = rows_m.join(cols_m, "k").agg(
        F.coalesce(F.sum(F.col("r") * F.col("c")), F.lit(0)).alias("pe_num")
    )
    return (
        tot.crossJoin(F.broadcast(pe))
        .select(
            F.col("nn").cast("long").alias("n_docs"),
            F.col("agree").cast("long").alias("n_agree"),
            (F.col("nn") * F.col("agree") - F.col("pe_num")).cast("long").alias("kappa_num"),
            (F.col("nn") * F.col("nn") - F.col("pe_num")).cast("long").alias("kappa_den"),
            # FLOOR division on both sides (ADVICE r6): DuckDB `//`
            # floors while Spark DIV truncates toward zero — divergent
            # by 1 iff kappa_num < 0 (agreement below chance). The
            # denominator N² − Σr·c is always ≥ 0 (Σₖrₖcₖ ≤ N²), so
            # x − pmod(x, den) is the largest multiple of den ≤ x and
            # the exact DIV equals floor(x/den) for either sign of x.
            F.expr(
                "((nn * agree - pe_num) * 1000000"
                " - pmod((nn * agree - pe_num) * 1000000, nn * nn - pe_num))"
                " DIV (nn * nn - pe_num)"
            )
            .cast("long")
            .alias("kappa_ppm"),
        )
    )
