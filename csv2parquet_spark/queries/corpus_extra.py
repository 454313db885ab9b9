"""Second-wave corpus operators (engine extension, SURVEY.md §2.8):
exact-substring duplicate-span coverage (the ExactSubstr signal of
Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better"), iterative BPE merge training, and greedy sequence packing.

The reference (`/root/reference/src/main.rs`) has no text surface at
all — these extend the declared LLM-pipeline mandate. Tokenization is
the registry-wide space-split convention so DuckDB oracles stay
engine-identical.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (resolves pandas-UDF type hints)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv2parquet_spark.operators.scan import parallelize_scan as _ps
from csv2parquet_spark.operators.text import shingles
from csv2parquet_spark.queries.registry import register
from csv2parquet_spark.tables import table

_K = 8  # duplicated-window width in tokens
_BPE_ROUNDS = 5

_SQL_SHINGLE8 = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(_K))


@register(
    "exact_substr_dup_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), win AS (
      SELECT doc_id, i, md5({_SQL_SHINGLE8}) AS h
      FROM toks, LATERAL (SELECT unnest(range(1, len(t) - {_K - 2})) AS i)
    ), dup AS (
      SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), d AS (
      SELECT w.doc_id, w.i FROM win w JOIN dup USING (h)
    ), brks AS (
      SELECT doc_id, i,
             CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
                    OR i > lag(i) OVER (PARTITION BY doc_id ORDER BY i) + {_K - 1}
                  THEN 1 ELSE 0 END AS brk
      FROM d
    ), grps AS (
      SELECT doc_id, i,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM brks
    ), spans AS (
      SELECT doc_id, grp, max(i) - min(i) + {_K} AS span_len
      FROM grps GROUP BY doc_id, grp
    ), agg AS (
      SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_tokens,
             count(*) AS n_spans
      FROM spans GROUP BY doc_id
    )
    SELECT a.doc_id, len(t.t) AS n_tokens, a.dup_tokens, a.n_spans,
           round(a.dup_tokens / len(t.t), 6) AS dup_frac
    FROM agg a JOIN toks t USING (doc_id)
    """,
)
def exact_substr_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicate coverage (Lee et al. 2022): for every doc,
    the fraction of tokens covered by an 8-token window that also
    appears verbatim in ANOTHER document, with overlapping windows
    merged into maximal spans (gaps-and-islands).

    Scale shape: the window build is map-only (O(n) zip_with shingles);
    the duplicated-window set is a partial-aggregated groupBy on
    16-byte md5 keys; the join back is keyed on the same hash (never on
    text); the span merge is a per-document window — state bounded by
    one document's positions. No all-pairs stage anywhere, which is
    exactly how ExactSubstr's suffix-array semantics relax into a
    relational plan (window granularity instead of arbitrary length).
    """
    # gated rebalance BEFORE the window build (r11): the single-file
    # fixture scan otherwise runs the ~3M-window shingle+md5 map on ONE
    # task (1.2 s of single-core CPU at sf0.1); a no-op at scale.
    d = _ps(table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    win = (
        toks.select(
            "doc_id", F.posexplode(shingles(F.col("t"), k=_K)).alias("pos", "sh")
        )
        .select("doc_id", (F.col("pos") + 1).alias("i"), F.md5("sh").alias("h"))
    )
    # "appears in >= 2 distinct docs" as min != max over the hash
    # partition: ONE shuffle of the window set (the agg+join-back
    # formulation shuffles it twice and computes the 3M-window md5
    # build twice); a hot duplicated window still lands on one task
    # either way (bounded by that window's corpus frequency).
    wh = Window.partitionBy("h")
    dd = (
        win.withColumn("mn", F.min("doc_id").over(wh))
        .withColumn("mx", F.max("doc_id").over(wh))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "i")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    prev = F.lag("i").over(w)
    brks = dd.withColumn(
        "brk",
        F.when(prev.isNull() | (F.col("i") > prev + (_K - 1)), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    grps = brks.withColumn(
        "grp",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = grps.groupBy("doc_id", "grp").agg(
        (F.max("i") - F.min("i") + _K).alias("span_len")
    )
    agg = spans.groupBy("doc_id").agg(
        F.sum("span_len").alias("dup_tokens"), F.count("*").alias("n_spans")
    )
    ntok = toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    return agg.join(ntok, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_tokens",
        "n_spans",
        F.round(F.col("dup_tokens") / F.col("n_tokens"), 6).alias("dup_frac"),
    )


def _bpe_apply_cte(name: str, src: str, pair_cte: str) -> str:
    """CTE applying merge ``pair_cte`` to representation ``src``."""
    return f"""{name} AS MATERIALIZED (
      SELECT trim(replace(' ' || r || ' ',
                          ' ' || (SELECT replace(pair, ' ', '  ') FROM {pair_cte}) || ' ',
                          ' ' || (SELECT replace(pair, ' ', '') FROM {pair_cte}) || ' ')) AS r,
             cnt
      FROM {src}
    )"""


def _bpe_ctes(rounds: int, final_apply: bool) -> str:
    """The shared WITH-chain of the BPE oracles: words → r0 → (p{i},
    r{i})* — p{i} selects merge i, r{i} applies it. ``final_apply``
    additionally applies the LAST merge (rfinal), which training
    doesn't need but encoding does. All MATERIALIZED: DuckDB inlines
    CTEs and the recursive scalar-subquery references are exponential
    otherwise."""
    ctes = [
        """words AS MATERIALIZED (
      SELECT tok AS w, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY tok
    )""",
        r"""r0 AS MATERIALIZED (
      SELECT trim(regexp_replace(w, '(.)', '\1  ', 'g')) AS r, cnt FROM words
    )""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
      SELECT t[i] || ' ' || t[i+1] AS pair, CAST(sum(cnt) AS BIGINT) AS n
      FROM (SELECT string_split(r, '  ') AS t, cnt FROM r{i - 1}),
           LATERAL (SELECT unnest(range(1, len(t))) AS i)
      GROUP BY pair ORDER BY n DESC, pair LIMIT 1
    )"""
        )
        if i < rounds:
            ctes.append(_bpe_apply_cte(f"r{i}", f"r{i - 1}", f"p{i}"))
    if final_apply:
        ctes.append(_bpe_apply_cte("rfinal", f"r{rounds - 1}", f"p{rounds}"))
    return "WITH " + ",\n    ".join(ctes)


def _bpe_oracle(rounds: int) -> str:
    """Chained-CTE DuckDB twin of the Spark BPE training loop."""
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS rank, pair, n FROM p{i}"
        for i in range(1, rounds + 1)
    )
    return _bpe_ctes(rounds, final_apply=False) + "\n    " + selects


def _bpe_apply_merge(cur: DataFrame, pair: str) -> DataFrame:
    """Apply one learned merge to the double-space representation
    (map-only literal replace — see the training docstring for the
    no-aliasing argument)."""
    needle = F.lit(" " + pair.replace(" ", "  ") + " ")
    fused = F.lit(" " + pair.replace(" ", "") + " ")
    return cur.withColumn(
        "r",
        F.trim(
            F.call_function(
                "replace",
                F.concat(F.lit(" "), F.col("r"), F.lit(" ")),
                needle,
                fused,
            )
        ),
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str, rounds: int, apply_last: bool
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """The shared BPE training loop (used by BOTH the train and encode
    queries so the two cannot drift): corpus → vocab with counts
    (localCheckpoint-pinned), then per round one pair-count top-1 +
    one literal replace. Returns (merge table, final representation);
    ``apply_last`` also applies the last merge (encoding needs it,
    training doesn't)."""
    d = table(spark, sf_dir, "documents")
    cur = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .withColumn("r", F.trim(F.regexp_replace("w", "(.)", "$1  ")))
        .select("r", "cnt")
        .localCheckpoint()
    )
    merges: list[tuple[int, str, int]] = []
    for rnd in range(1, rounds + 1):
        pairs = cur.select(
            "cnt", F.explode(shingles(F.split("r", "  "), k=2)).alias("pair")
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .collect()[0]
        )
        merges.append((rnd, top["pair"], int(top["n"])))
        if rnd < rounds or apply_last:
            cur = _bpe_apply_merge(cur, top["pair"])
    return merges, cur


@register("bpe_train_merges", oracle=_bpe_oracle(_BPE_ROUNDS))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016), 5 merge rounds:
    iteratively pick the most frequent adjacent symbol pair (weighted by
    word frequency, ties broken lexicographically) and fuse it across
    the vocabulary. Output: (rank, pair, n) — the learned merge table.

    Scale shape: the corpus is scanned ONCE into a distinct-word
    vocabulary with counts (the classic BPE trainer state — vocab-sized,
    not corpus-sized), localCheckpoint-pinned; each round is one
    map-side pair explode + a partial-aggregated top-1
    (TakeOrderedAndProject) + a map-only literal `replace` — the driver
    holds only the single winning pair per round. Symbol sequences are
    kept DOUBLE-space-delimited so consecutive pair occurrences never
    share a boundary byte: one standard left-to-right `replace` pass
    merges every occurrence in both engines identically (true BPE greedy
    semantics, no overlap aliasing).
    """
    merges, _ = _bpe_train(spark, sf_dir, _BPE_ROUNDS, apply_last=False)
    from csv2parquet_spark.queries.helpers import local_result_df

    return local_result_df(spark, merges, "rank int, pair string, n bigint")


_SEQ_LEN = 512


@register(
    "pack_sequences_greedy",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS nt FROM documents
    ), c AS (
      SELECT doc_id, nt,
             sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - nt
               AS start
      FROM d
    )
    SELECT CAST(floor(start / {_SEQ_LEN}) AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens_started,
           min(doc_id) AS first_doc
    FROM c GROUP BY seq_id
    """,
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard LLM pre-training
    batching shape): documents are concatenated in doc_id order and cut
    into fixed 512-token training sequences; each doc is attributed to
    the sequence its first token lands in. Output per sequence: how many
    docs start there, their total token mass, and the first doc id.

    The global token-offset is the classic scalability trap (a
    ``sum OVER (ORDER BY ...)`` global window = single-partition sort).
    Here it is the two-pass ``global_cumsum`` (operators/ranking.py):
    range-partitioned parallel sort, P per-partition sums to the driver,
    broadcast offsets, map-only local cumsum — then the sequence
    assignment is a map-side floor division and the rollup shuffles
    narrow (seq_id, long) keys only. The oracle states the same
    semantics as the naive global window.
    """
    from csv2parquet_spark.operators.ranking import global_cumsum

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("nt")
    )
    c = global_cumsum(d, ["doc_id"], "nt", cum_col="cum")
    starts = c.select(
        "doc_id",
        "nt",
        F.floor((F.col("cum") - F.col("nt")) / _SEQ_LEN).alias("seq_id"),
    )
    return starts.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("n_tokens_started"),
        F.min("doc_id").alias("first_doc"),
    )


_GD_ITERS = 5
_GD_LR = "CAST(0.5 AS DOUBLE)"
_GD_DEC = "DECIMAL(18, 10)"


def _logreg_oracle(iters: int) -> str:
    """Chained-CTE DuckDB twin of the Spark gradient-descent loop:
    g{i} aggregates the decimal-stabilized gradient under the previous
    weights, w{i} applies the 6-dp-rounded update. Weights are rounded
    at every iteration boundary on BOTH engines, so float drift cannot
    compound across iterations."""
    sig = (
        "(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-("
        "(SELECT a FROM w{p}) + (SELECT b FROM w{p}) * x1"
        " + (SELECT c FROM w{p}) * x2))) - y)"
    )
    ctes = [
        """f AS MATERIALIZED (
      SELECT CASE WHEN l_returnflag = 'R' THEN CAST(1 AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END AS y,
             l_quantity / CAST(50 AS DOUBLE) AS x1,
             l_discount * CAST(10 AS DOUBLE) AS x2
      FROM lineitem
    )""",
        """w0 AS MATERIALIZED (
      SELECT CAST(0 AS DOUBLE) AS a, CAST(0 AS DOUBLE) AS b,
             CAST(0 AS DOUBLE) AS c
    )""",
    ]
    for i in range(1, iters + 1):
        e = sig.format(p=i - 1)
        ctes.append(
            f"""g{i} AS MATERIALIZED (
      SELECT
        CAST(sum(CAST({e} AS {_GD_DEC})) AS DOUBLE) / count(*) AS ga,
        CAST(sum(CAST({e} * x1 AS {_GD_DEC})) AS DOUBLE) / count(*) AS gb,
        CAST(sum(CAST({e} * x2 AS {_GD_DEC})) AS DOUBLE) / count(*) AS gc
      FROM f
    )""",
        )
        ctes.append(
            f"""w{i} AS MATERIALIZED (
      SELECT round((SELECT a FROM w{i - 1}) - {_GD_LR} * ga, 6) AS a,
             round((SELECT b FROM w{i - 1}) - {_GD_LR} * gb, 6) AS b,
             round((SELECT c FROM w{i - 1}) - {_GD_LR} * gc, 6) AS c
      FROM g{i}
    )""",
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS iter, a AS w_bias, b AS w_qty, c AS w_disc"
        f" FROM w{i}"
        for i in range(1, iters + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + selects


@register("logreg_gd_weights", oracle=_logreg_oracle(_GD_ITERS))
def logreg_gd_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed full-batch logistic-regression training (5 gradient
    steps of return-flag ~ quantity + discount): each step is ONE
    map-side sigmoid + a partial-aggregated decimal gradient sum — the
    canonical data-parallel ML training topology (gradients are
    model-sized partials; only 3 numbers + a count reach the driver per
    step, never data).

    Cross-engine determinism discipline: per-row contributions are cast
    to DECIMAL(18,10) before summing (association-order-proof — double
    sums would differ run to run under parallelism; 18 digits keeps the
    decimal 64-bit-backed, ~2x faster than a Decimal128 accumulator,
    and the 1e-10 quantization is still 4 orders below the 6-dp weight
    rounding), and the weights
    are rounded to 6 dp at EVERY iteration boundary on both engines, so
    sub-ulp exp() differences between JVM and C libm cannot compound
    across iterations.
    """
    f = table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        (F.col("l_quantity") / F.lit(50.0)).alias("x1"),
        (F.col("l_discount") * F.lit(10.0)).alias("x2"),
    )
    from csv2parquet_spark.session import no_aqe

    # single-file fixtures scan as ONE task; spread the checkpointed
    # training set so every gradient pass runs on all cores (A/B'd
    # r12: 32 partitions beat 8/4/1 — each pass is compute-bound, the
    # per-job constant is the scheduler, not the task count). The
    # checkpoint materializes under no_aqe too (one stage-job, and an
    # explicit-count round-robin exchange gains nothing from AQE).
    with no_aqe(spark):
        f = f.repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        ).localCheckpoint()

    lr = 0.5
    w = (0.0, 0.0, 0.0)
    out: list[tuple[int, float, float, float]] = []
    # no_aqe: AQE splits each 1-row gradient aggregate into two
    # driver-sequenced stage-jobs (13 jobs → 7 for the key; loop median
    # 1.82 → 1.53 s interleaved) with nothing to re-plan — see session.no_aqe.
    with no_aqe(spark):
        for it in range(1, _GD_ITERS + 1):
            z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
            e = (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) - F.col("y")
            dec = "decimal(18,10)"
            row = f.agg(
                F.round(
                    F.lit(w[0])
                    - F.lit(lr) * F.sum(e.cast(dec)).cast("double") / F.count("*"),
                    6,
                ).alias("a"),
                F.round(
                    F.lit(w[1])
                    - F.lit(lr)
                    * F.sum((e * F.col("x1")).cast(dec)).cast("double")
                    / F.count("*"),
                    6,
                ).alias("b"),
                F.round(
                    F.lit(w[2])
                    - F.lit(lr)
                    * F.sum((e * F.col("x2")).cast(dec)).cast("double")
                    / F.count("*"),
                    6,
                ).alias("c"),
            ).collect()[0]
            w = (row["a"], row["b"], row["c"])
            out.append((it, *w))
    from csv2parquet_spark.queries.helpers import local_result_df

    # VALUES LocalRelation, not createDataFrame(list): the pickled-RDD
    # path cost this key a 32-empty-slice Python-worker save stage
    # (7.4 s executor time, profiled r11 — see helpers.local_result_df)
    return local_result_df(
        spark, out, "iter int, w_bias double, w_qty double, w_disc double"
    )


_DF_CAP = 64  # tokens in more docs than this are dropped (semantic cap)
_COS_MIN = 0.5


# Shared CTE block: TF-IDF cosine pairs (doc_a < doc_b, cos >= _COS_MIN)
# — reused verbatim by the triangle-count oracle below.
_COS_PAIRS_CTES = f"""tf AS MATERIALIZED (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY doc_id, tok
    ), n AS MATERIALIZED (
      SELECT count(DISTINCT doc_id) AS n FROM tf
    ), w AS MATERIALIZED (
      SELECT doc_id, tok,
             tf * ln(CAST((SELECT n FROM n) AS DOUBLE)
                     / count(*) OVER (PARTITION BY tok)) AS w
      FROM tf
      QUALIFY count(*) OVER (PARTITION BY tok) <= {_DF_CAP}
    ), nrm AS MATERIALIZED (
      SELECT doc_id,
             sqrt(CAST(sum(CAST(w * w AS DECIMAL(28, 14))) AS DOUBLE)) AS nrm
      FROM w GROUP BY doc_id
    ), dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(CAST(a.w * b.w AS DECIMAL(28, 14))) AS DOUBLE) AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS MATERIALIZED (
      SELECT d.doc_a, d.doc_b,
             round(d.dot / (na.nrm * nb.nrm), 6) AS cos
      FROM dots d
      JOIN nrm na ON na.doc_id = d.doc_a
      JOIN nrm nb ON nb.doc_id = d.doc_b
      WHERE d.dot / (na.nrm * nb.nrm) >= {_COS_MIN}
    )"""


@register(
    "tfidf_cosine_pairs",
    oracle=f"""
    WITH {_COS_PAIRS_CTES}
    SELECT doc_a, doc_b, cos FROM pairs
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs document cosine similarity over TF-IDF vectors
    (Bayardo et al. 2007's problem), pairs with cos >= 0.5.

    The scale contract is the document-frequency cap: tokens appearing
    in more than 64 documents are dropped BEFORE the inverted-index
    self-join (the standard stopword/df prefilter), so every token's
    pair fan-out is bounded by C(64, 2) — the join never explodes on a
    stopword, and the cap is part of the declared semantics (both
    engines apply it, so the oracle is exact, unlike heuristic
    candidate pruning). Dot products and norms are decimal-summed
    (association-order-proof); the join is keyed on the token, the
    pair rollup on (doc_a, doc_b) — narrow keys throughout.
    """
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = tf.select("doc_id").distinct().count()
    wdf = Window.partitionBy("tok")
    w = (
        tf.withColumn("df", F.count("*").over(wdf))
        .filter(F.col("df") <= _DF_CAP)
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("w"),
        )
    )
    dec = "decimal(28,14)"  # MUST match the oracle CTEs above
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast(dec)).cast("double")).alias(
            "nrm"
        )
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("w").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum((F.col("wa") * F.col("wb")).cast(dec)).cast("double").alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= _COS_MIN)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cos"))
    )


@register(
    "similarity_graph_triangles",
    oracle=f"""
    WITH {_COS_PAIRS_CTES}, deg AS MATERIALIZED (
      SELECT v, count(*) AS d FROM (
        SELECT doc_a AS v FROM pairs UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY v
    ), o AS MATERIALIZED (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND p.doc_a < p.doc_b)
                  THEN p.doc_a ELSE p.doc_b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND p.doc_a < p.doc_b)
                  THEN p.doc_b ELSE p.doc_a END AS dst
      FROM pairs p
      JOIN deg da ON da.v = p.doc_a
      JOIN deg db ON db.v = p.doc_b
    ), wedges AS (
      SELECT least(o1.dst, o2.dst) AS lo, greatest(o1.dst, o2.dst) AS hi
      FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst
    )
    SELECT (SELECT count(*) FROM wedges) AS n_wedges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM wedges w JOIN pairs p ON p.doc_a = w.lo AND p.doc_b = w.hi
    """,
)
def similarity_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the TF-IDF similarity graph (edges = document
    pairs with cos >= 0.5) — the classic distributed graph-analytics
    kernel, with the DEGREE orientation that makes it scale: every edge
    is directed from its lower-degree endpoint (ties by id), so wedge
    generation is bounded by the graph's arboricity (Cohen 2009's
    MapReduce triangle counting / Schank-Wagner), never by a hub
    vertex's full neighborhood squared.

    Plan shape: edges come from the ``tfidf_cosine_pairs`` plan
    (localCheckpoint-pinned — the graph is materialized once, then the
    degree join, wedge self-join and closure join are all narrow-key
    equi joins on vertex ids / id pairs).
    """
    pairs = tfidf_cosine_pairs(spark, sf_dir).localCheckpoint()
    deg = (
        pairs.select(F.col("doc_a").alias("v"))
        .unionAll(pairs.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("doc_a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("doc_b"), F.col("d").alias("db"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    o = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(fwd, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(fwd, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        )
    )
    o1 = o.select("src", F.col("dst").alias("d1"))
    o2 = o.select("src", F.col("dst").alias("d2"))
    wedges = (
        o1.join(o2, "src")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            F.least("d1", "d2").alias("lo"), F.greatest("d1", "d2").alias("hi")
        )
    ).localCheckpoint()
    n_wedges = wedges.count()
    closure = wedges.join(
        pairs.select(
            F.col("doc_a").alias("lo"), F.col("doc_b").alias("hi")
        ),
        ["lo", "hi"],
    )
    return closure.agg(
        F.lit(n_wedges).cast("long").alias("n_wedges"),
        F.count("*").alias("n_triangles"),
    )


@register(
    "chi_square_lang_source",
    oracle="""
    WITH obs AS MATERIALIZED (
      SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
      FROM documents GROUP BY lang, source
    ), rt AS (
      SELECT lang, sum(o) AS r FROM obs GROUP BY lang
    ), ct AS (
      SELECT source, sum(o) AS c FROM obs GROUP BY source
    ), tot AS (
      SELECT sum(o) AS n FROM obs
    ), cells AS (
      SELECT obs.o, rt.r * ct.c / (SELECT n FROM tot) AS e
      FROM obs JOIN rt USING (lang) JOIN ct USING (source)
    )
    SELECT round(CAST(sum(CAST((o - e) * (o - e) / e AS DECIMAL(28, 12)))
                 AS DOUBLE), 6) AS chi2,
           CAST(((SELECT count(*) FROM rt) - 1)
                * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof,
           CAST((SELECT n FROM tot) AS BIGINT) AS n
    FROM cells
    """,
)
def chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for the (lang x source)
    contingency table — the categorical drift/association check a
    corpus QA pipeline runs over shards.

    Scale shape: the contingency table is ONE partial-aggregated
    groupBy (cells = |langs| x |sources|, model-sized); marginals and
    the statistic are algebra over that tiny table — the corpus is
    scanned once and never shuffled beyond narrow (lang, source) keys.
    Per-cell terms are IEEE-exact from integer counts; the final sum is
    decimal-cast so the 50-cell addition order cannot perturb the 6-dp
    statistic across engines.
    """
    d = table(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(
        F.count("*").cast("double").alias("o")
    )
    rt = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "o", (F.col("r") * F.col("c") / F.col("n")).alias("e"), "n"
        )
    )
    n_r = rt.count()
    n_c = ct.count()
    term = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return cells.agg(
        F.round(
            F.sum(term.cast("decimal(28,12)")).cast("double"), 6
        ).alias("chi2"),
        F.lit((n_r - 1) * (n_c - 1)).cast("long").alias("dof"),
        F.max("n").cast("long").alias("n"),
    )


@register(
    "weighted_sample_es",
    oracle="""
    WITH keyed AS (
      SELECT lang, doc_id,
             pow(
               (CAST(('0x' || substr(md5('es:' || CAST(doc_id AS VARCHAR)),
                                     1, 8)) AS BIGINT) + 0.5) / 4294967296.0,
               1.0 / n_chars) AS k
      FROM documents
    ), ranked AS (
      SELECT lang, doc_id, k,
             row_number() OVER (PARTITION BY lang
                                ORDER BY k DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT lang, doc_id, round(k, 6) AS sample_key
    FROM ranked WHERE rn <= 5
    """,
)
def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k=5 per language
    (Efraimidis-Spirakis 2006): each doc draws a deterministic
    pseudo-uniform u from an md5 slice of its id and competes with key
    u^(1/weight) (weight = n_chars) — the top-k keys per stratum are an
    exact weighted sample, longer docs proportionally likelier.

    Scale shape: the key is a map-side expression (no RNG state, fully
    replayable — the property that makes distributed weighted sampling
    restartable); top-k per stratum is a rank-limited window, planned
    as WindowGroupLimit partial top-k below the exchange, so at most k
    rows per stratum per partition ever shuffle. The u derivation is
    integer-exact in both engines; pow is the one libm call — sub-ulp
    divergence cannot reorder keys unless two keys collide to ~1 ulp,
    which the id tie-break and 32-bit-distinct u values preclude.
    """
    d = table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("es:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / F.lit(4294967296.0)
    keyed = d.select(
        "lang", "doc_id", F.pow(u, 1.0 / F.col("n_chars")).alias("k")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("k"), "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", F.round("k", 6).alias("sample_key"))
    )


@register(
    "part_pair_cooccurrence",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def part_pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the 20 part pairs most often bought
    in the same order (support counting — the candidate-generation
    step of Apriori/FP-growth).

    Scale shape: the self-join is keyed on the BASKET id, so fan-out
    per order is C(lines, 2) with lines bounded by the order schema
    (~7) — never corpus x corpus; the distinct-first projection keeps
    multi-line duplicates of the same part from inflating pairs. The
    pair rollup partial-aggregates before one narrow (part, part)
    shuffle, and top-20 is TakeOrderedAndProject — no global sort.
    """
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        "l_orderkey", F.col("l_partkey").alias("part_a")
    )
    b = li.select(
        "l_orderkey", F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "trimmed_mean_grouped_agg",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), kept AS (
      SELECT event_type, value, n FROM r
      WHERE rn > CAST(floor(n / 10) AS BIGINT)
        AND rn <= n - CAST(floor(n / 10) AS BIGINT)
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           round(CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE)
                 / count(*), 6) AS trimmed_mean
    FROM kept GROUP BY event_type
    """,
)
def trimmed_mean_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of event values per type, computed through the
    one pandas-UDF shape the engine hadn't exercised: a GROUPED-AGG
    pandas UDF (a vectorized UDAF — the whole group arrives as one
    Series, one scalar returns). This completes the Python-extension
    matrix: scalar / grouped-map / grouped-AGG / mapInPandas / cogroup
    / UDTF / applyInPandasWithState.

    Determinism discipline inside the kernel: the group is sorted and
    trimmed positionally (ties interchangeable — the trimmed MULTISET
    is order-independent), then summed with math.fsum (correctly
    rounded regardless of arrival order — the UDAF analog of the
    decimal-sum rule). Per-type state is one value array — bounded by
    the group, the same contract as every grouped kernel here; the
    oracle selects the identical multiset via rank arithmetic.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed_mean(v: pd.Series) -> float:
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np

        x = np.sort(v.to_numpy(dtype=np.float64))
        cut = int(len(x) // 10)
        kept = x[cut : len(x) - cut]
        # mirror the oracle exactly: quantize each value to 6 dp
        # (DuckDB's CAST(value AS DECIMAL(18,6))), sum exactly, divide
        # as double, round HALF-AWAY (SQL round — Python's built-in
        # round() is half-to-even and diverges on half boundaries)
        q = Decimal("0.000001")
        total = sum(Decimal(float(t)).quantize(q, ROUND_HALF_UP) for t in kept)
        mean = float(total) / len(kept)
        return float(Decimal(mean).quantize(q, ROUND_HALF_UP))

    @pandas_udf("long")
    def n_total(v: pd.Series) -> int:
        return len(v)

    @pandas_udf("long")
    def n_kept(v: pd.Series) -> int:
        n = len(v)
        return n - 2 * int(n // 10)

    # grouped-agg pandas UDFs cannot mix with built-in aggregates in
    # one agg() (INVALID_PANDAS_UDF_PLACEMENT) — so even the count is a
    # (trivial) pandas UDAF here
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        n_total(F.col("value")).alias("n_total"),
        n_kept(F.col("value")).alias("n_kept"),
        trimmed_mean(F.col("value")).alias("trimmed_mean"),
    )


def _bpe_encode_oracle(rounds: int) -> str:
    """The shared training CTE chain with the final merge applied
    (rfinal), plus the corpus tokenization census: tokens per word
    after all merges, weighted by word frequency."""
    return (
        _bpe_ctes(rounds, final_apply=True)
        + """
    SELECT CAST(sum(cnt * len(string_split(r, '  '))) AS BIGINT)
             AS total_symbols,
           CAST(sum(cnt * length(replace(r, ' ', ''))) AS BIGINT)
             AS total_chars,
           CAST(sum(cnt) AS BIGINT) AS total_words,
           round(CAST(sum(cnt * len(string_split(r, '  '))) AS DOUBLE)
                 / sum(cnt * length(replace(r, ' ', ''))), 6)
             AS symbols_per_char
    FROM rfinal
    """
    )


@register("bpe_encode_corpus", oracle=_bpe_encode_oracle(_BPE_ROUNDS))
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of BPE: apply the 5 learned merges to the whole
    vocabulary and report the corpus tokenization census — total
    symbols, characters, words, and the compression ratio
    (symbols/char falls as merges land; 1.0 = character-level). With
    ``bpe_train_merges`` this closes the tokenizer loop:
    train -> merge table -> segmenter.

    Same scale shape as training (the census is over the vocab-sized
    word table, weighted by frequency — corpus scanned once); encoding
    real text at scale is the same literal `replace` chain applied
    map-side per document.
    """
    _, cur = _bpe_train(spark, sf_dir, _BPE_ROUNDS, apply_last=True)
    syms = F.size(F.split("r", "  "))
    chars = F.length(F.call_function("replace", F.col("r"), F.lit(" "), F.lit("")))
    return cur.agg(
        F.sum(F.col("cnt") * syms).alias("total_symbols"),
        F.sum(F.col("cnt") * chars).alias("total_chars"),
        F.sum("cnt").alias("total_words"),
        F.round(
            F.sum(F.col("cnt") * syms).cast("double")
            / F.sum(F.col("cnt") * chars),
            6,
        ).alias("symbols_per_char"),
    )


@register(
    "vocab_coverage_curve",
    oracle="""
    WITH v AS (
      SELECT tok, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY tok
    ), r AS (
      SELECT tok, freq,
             row_number() OVER (ORDER BY freq DESC, tok) AS rn,
             sum(freq) OVER (ORDER BY freq DESC, tok
                             ROWS UNBOUNDED PRECEDING) AS cum,
             (SELECT sum(freq) FROM v) AS tot
      FROM v
    )
    SELECT CAST(rn AS BIGINT) AS vocab_size,
           CAST(cum AS BIGINT) AS tokens_covered,
           round(CAST(cum AS DOUBLE) / tot, 6) AS coverage
    FROM r WHERE rn IN (1, 10, 25)
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (the tokenizer-sizing question): what
    fraction of all corpus tokens do the top-1 / top-10 / top-25 most
    frequent types cover? The Zipf head drives tokenizer vocab-size
    and stopword decisions.

    At 100 TB the vocabulary itself is large, so the rank AND the
    running coverage both come from the two-pass machinery
    (operators/ranking.py) over (-freq, tok) order — global_row_number
    for the rank, global_cumsum for the running token mass, joined on
    the type — never a single-partition window over the vocab. The
    probe ranks are a tiny IN filter; the oracle states the same
    semantics as the naive global window.
    """
    from csv2parquet_spark.operators.ranking import global_cumsum

    d = table(spark, sf_dir, "documents")
    v = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .withColumn("neg", -F.col("freq"))
    )
    # rank + running mass + grand total from ONE two-pass machine (r11
    # rn_col/return_totals fusion): the previous shape built two full
    # range-sort/checkpoint/offsets chains over v and joined them back
    # on tok, plus a third broadcast-subquery job for the total. Same
    # ordering keys → identical rn/cum integers by construction.
    cum, _tot = global_cumsum(
        v, ["neg", "tok"], "freq", cum_col="cum",
        return_totals=True, rn_col="rn",
    )
    return (
        cum.filter(F.col("rn").isin(1, 10, 25))
        .select(
            F.col("rn").alias("vocab_size"),
            F.col("cum").alias("tokens_covered"),
            F.round(
                F.col("cum").cast("double") / F.lit(_tot["freq"]), 6
            ).alias("coverage"),
        )
    )


@register(
    "length_bucket_packing_report",
    oracle="""
    WITH d AS (
      -- a NULL text has no token length: it cannot be length-bucketed
      -- (NULL-twin contract; Spark NULLS-FIRST vs DuckDB NULLS-LAST
      -- would otherwise scatter the unbucketable rows differently)
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
      WHERE text IS NOT NULL
    ), b AS (
      SELECT doc_id, n_tokens,
             ntile(8) OVER (ORDER BY n_tokens, doc_id) AS bucket
      FROM d
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS pad_waste,
           round(1.0 - sum(n_tokens) * 1.0 / (count(*) * max(n_tokens)), 6)
             AS waste_frac
    FROM b GROUP BY bucket
    """,
)
def length_bucket_packing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report (the padding-efficiency lever in
    LLM training dataloaders): docs are split into 8 equal-count buckets
    by token length (batching within a bucket pads every sequence to the
    bucket max), and the report quantifies the padding waste each bucket
    would incur. The global length order comes from the two-pass
    rank_stats machinery (operators/ranking.py — its 5th production
    use), NOT a single-partition window; the rollup is an 8-key agg."""
    from csv2parquet_spark.operators.ranking import rank_stats

    d = (
        table(spark, sf_dir, "documents")
        # NULL text is unbucketable by contract (see oracle note)
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    )
    b = rank_stats(d, ["n_tokens", "doc_id"], tiles=8).select(
        "doc_id", "n_tokens", F.col("quartile").alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").alias("sum_tokens"),
        (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
        .cast("long")
        .alias("pad_waste"),
        F.round(
            1.0
            - F.sum("n_tokens") * 1.0 / (F.count(F.lit(1)) * F.max("n_tokens")),
            6,
        ).alias("waste_frac"),
    )


@register(
    "shard_assignment_stats",
    oracle="""
    SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 32 AS INTEGER) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1
    """,
)
def shard_assignment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment audit: the md5-derived
    shard id every engine/run agrees on (operators/layout.py:shard_key,
    the key write_training_shards lays files out by), rolled up to
    per-shard doc counts and char volume — the balance check a pipeline
    runs before committing to a shard count. Map-side key, one
    32-group partial agg."""
    from csv2parquet_spark.operators.layout import shard_key

    d = table(spark, sf_dir, "documents")
    return d.groupBy(shard_key(F.col("doc_id"), 32).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def _lpa_oracle(n_iter: int = 3) -> str:
    """Generated DuckDB twin of operators/graph.label_propagation over
    the co-purchase graph: one MATERIALIZED CTE level per superstep
    (nbr → best → l), the same two-aggregate argmax (max weight, then
    min label among maximizers)."""
    sql = """
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT src AS id, src AS lbl FROM e
    )"""
    for t in range(1, n_iter + 1):
        sql += f"""
    , nbr{t} AS MATERIALIZED (
      SELECT e.src, l.lbl, CAST(sum(e.w) AS BIGINT) AS tw
      FROM e JOIN l{t - 1} l ON l.id = e.dst
      GROUP BY e.src, l.lbl
    ), best{t} AS MATERIALIZED (
      SELECT src, CAST(max(tw) AS BIGINT) AS bw FROM nbr{t} GROUP BY src
    ), l{t} AS MATERIALIZED (
      SELECT n.src AS id, CAST(min(n.lbl) AS BIGINT) AS lbl
      FROM nbr{t} n JOIN best{t} b ON b.src = n.src AND n.tw = b.bw
      GROUP BY n.src
    )"""
    sql += f"""
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS size,
           CAST(min(id) AS BIGINT) AS min_member
    FROM l{n_iter} GROUP BY lbl
    ORDER BY size DESC, community LIMIT 20
    """
    return sql


@register("lpa_copurchase_communities", oracle=_lpa_oracle())
def lpa_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the co-purchase graph (parts weighted by
    how many orders contain both): 3 supersteps of deterministic
    synchronous Label Propagation
    (:func:`~csv2parquet_spark.operators.graph.label_propagation`) —
    the "products that sell together" clustering, and the third graph
    algorithm next to PageRank and connected components (LPA finds
    DENSE communities; CC only finds reachability).

    Deterministic/hash-provable because every superstep is integer
    arithmetic with total tie-breaks (max summed weight, then smallest
    label), mirrored CTE-for-CTE by the generated oracle. Scale shape:
    edges are basket-bounded (C(lines,2) per order, never parts²) and
    expanded map-side from per-order item arrays
    (:func:`~csv2parquet_spark.operators.graph.copurchase_edges` — the
    oracle keeps the equivalent self-join form); per superstep the
    shuffled relation is (vertex, candidate label), not edges; labels
    are checkpointed so the plan stays iteration-count-independent.
    """
    from csv2parquet_spark.operators.graph import copurchase_edges, label_propagation

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(
        li, "l_orderkey", "l_partkey", weighted=True, partition_on="dst"
    )
    # ckpt_every=1 (r12, was 4): with the partition-preserving edge
    # checkpoint, materializing the label state every superstep keeps
    # each superstep plan single-reference on the edge relation, so the
    # edges NEVER re-exchange (a multi-superstep plan re-aliases the
    # 2nd+ edge references and loses the recorded hash(dst) layout).
    # The one-job shape this replaces paid one full edge Exchange per
    # superstep after the first; A/B at sf0.1 and sf1 is a wash on wall
    # clock, and V-sized state materializations beat E-sized exchanges
    # at any real scale.
    # symmetric=True: co-purchase edges exist in both directions by
    # construction, so superstep 1 skips the identity state join.
    labels = label_propagation(
        edges, n_iter=3, ckpt_every=1, symmetric=True
    )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.min("id").alias("min_member"),
        )
        .orderBy(F.desc("size"), "community")
        .limit(20)
    )


def _bfs_oracle(n_iter: int = 4) -> str:
    """Generated DuckDB twin of operators/graph.bfs_hops over the
    co-purchase graph from the minimum part key: one MATERIALIZED CTE
    level per relaxation superstep."""
    sql = """
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ), d0 AS MATERIALIZED (
      SELECT CAST(min(src) AS BIGINT) AS id, CAST(0 AS BIGINT) AS d FROM e
    )"""
    for t in range(1, n_iter + 1):
        sql += f"""
    , d{t} AS MATERIALIZED (
      SELECT id, CAST(min(d) AS BIGINT) AS d FROM (
        SELECT id, d FROM d{t - 1}
        UNION ALL
        SELECT e.dst AS id, p.d + 1 AS d
        FROM e JOIN d{t - 1} p ON p.id = e.src
      ) GROUP BY id
    )"""
    sql += f"""
    SELECT d AS hops, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(id) AS BIGINT) AS min_part
    FROM d{n_iter} GROUP BY d
    """
    return sql


@register("bfs_hops_copurchase", oracle=_bfs_oracle())
def bfs_hops_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop-distance histogram from the lowest part key over the
    co-purchase graph — "how many recommendation hops reach the rest
    of the catalog" (the small-world diagnostic; with PageRank,
    connected components and LPA this completes the graph family:
    centrality / reachability / communities / DISTANCE).

    4 synchronous min-relaxation supersteps of
    :func:`~csv2parquet_spark.operators.graph.bfs_hops` — pure integer
    state with min-groupBy merges, so the distances are exact and
    engine-portable; the generated oracle mirrors each superstep as a
    MATERIALIZED CTE. Edges are basket-bounded and expanded map-side
    from per-order item arrays (see lpa_copurchase_communities); per
    superstep the shuffle carries (vertex, distance) only. The source
    vertex (min part key) is taken from the CHECKPOINTED edge relation
    inside :func:`bfs_hops` — the r5 shape collected it from the raw
    edge plan, executing the expensive pair expansion twice.
    """
    from csv2parquet_spark.operators.graph import bfs_hops, copurchase_edges

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(
        li, "l_orderkey", "l_partkey", weighted=False, partition_on="src"
    )
    dist = bfs_hops(edges, None, n_iter=4)
    return dist.groupBy(F.col("d").alias("hops")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("id").alias("min_part"),
    )


@register(
    "frequent_triples_apriori",
    oracle="""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), freq AS MATERIALIZED (
      SELECT l_partkey FROM li GROUP BY l_partkey HAVING count(*) >= 3
    ), li2 AS MATERIALIZED (
      SELECT li.l_orderkey, li.l_partkey FROM li
      JOIN freq USING (l_partkey)
    ), tri AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc,
             CAST(count(*) AS BIGINT) AS support
      FROM li2 a
      JOIN li2 b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
      JOIN li2 c ON c.l_orderkey = a.l_orderkey AND c.l_partkey > b.l_partkey
      GROUP BY 1, 2, 3
      HAVING count(*) >= 2
    )
    SELECT pa, pb, pc, support FROM tri
    ORDER BY support DESC, pa, pb, pc LIMIT 20
    """,
)
def frequent_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets with the Apriori anti-monotone prune
    (Agrawal & Srikant 1994): baskets are filtered to FREQUENT ITEMS
    (support ≥ 3) before any triple is enumerated — a triple can't be
    frequent if any member isn't, so the prune collapses the candidate
    space before the expensive stage. Completes the pattern-mining rung
    above ``part_pair_cooccurrence``.

    Scale shape: the item-support pass is one partial-agg; the prune is
    a broadcast semi-join; triple enumeration is keyed on the BASKET id
    (C(lines,3) per order, lines bounded by the order schema — never
    catalog³); the rollup partial-aggregates onto (a,b,c) keys, and
    top-20 is TakeOrderedAndProject.
    """
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    freq = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .select("l_partkey")
    )
    li2 = li.join(F.broadcast(freq), "l_partkey").select(
        "l_orderkey", "l_partkey"
    )
    a = li2.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li2.select("l_orderkey", F.col("l_partkey").alias("pb"))
    c = li2.select("l_orderkey", F.col("l_partkey").alias("pc"))
    tri = (
        a.join(b, "l_orderkey")
        .filter(F.col("pb") > F.col("pa"))
        .join(c, "l_orderkey")
        .filter(F.col("pc") > F.col("pb"))
        .groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    return tri.orderBy(F.desc("support"), "pa", "pb", "pc").limit(20)


@register(
    "basket_lift_pairs",
    oracle="""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ), c AS MATERIALIZED (
      SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS cnt FROM li GROUP BY 1
    ), nn AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM li
    )
    SELECT src, dst, w, ca.cnt AS c_src, cb.cnt AS c_dst,
           CAST((nn.n * w * 1000000) // (ca.cnt * cb.cnt) AS BIGINT) AS lift_ppm
    FROM e JOIN c ca ON ca.item = e.src JOIN c cb ON cb.item = e.dst, nn
    WHERE w >= 2
    ORDER BY lift_ppm DESC, src, dst
    LIMIT 20
    """,
)
def basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift: top-20 part pairs by
    lift = N·P(a,b)/(P(a)·P(b)), i.e. how much more often two parts
    co-occur in an order than independence predicts — the association
    metric behind "frequently bought together". Complements
    ``part_pair_cooccurrence`` (raw support top-k): support surfaces
    POPULAR pairs, lift surfaces SURPRISING ones (a pair of rare parts
    always bought together tops lift but never support) — a
    recommender wants both lists.

    Reuses :func:`~csv2parquet_spark.operators.graph.copurchase_edges`
    (map-side basket-bounded pair expansion, one pair shuffle); item
    frequencies broadcast onto the edges (parts is the dimension), N is
    a 1-row broadcast. The ratio is emitted in INTEGER ppm
    ((N·w·10^6) DIV (c_a·c_b)) so ordering and hashing never touch
    float division."""
    from csv2parquet_spark.operators.graph import copurchase_edges

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(li, "l_orderkey", "l_partkey", weighted=True)
    lid = li.distinct()
    icnt = lid.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n1 = lid.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        edges.filter(F.col("w") >= 2)
        .join(F.broadcast(icnt.select(F.col("item").alias("src"), F.col("cnt").alias("c_src"))), "src")
        .join(F.broadcast(icnt.select(F.col("item").alias("dst"), F.col("cnt").alias("c_dst"))), "dst")
        .crossJoin(F.broadcast(n1))
        .select(
            "src", "dst", "w", "c_src", "c_dst",
            F.expr("n * w * 1000000 DIV (c_src * c_dst)").alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "src", "dst")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Deterministic seeded epoch shuffle (VERDICT r7 "Next round" #7): the
# one training-pipeline stage between dedup and packing with no registry
# entry — a REPRODUCIBLE global permutation of the corpus per epoch.
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = "seed42"
_SHUFFLE_EPOCHS = 2
_SHUFFLE_SHARDS = 32


@register(
    "epoch_shuffle_seeded",
    oracle=f"""
    WITH perm AS (
      SELECT e.epoch, d.doc_id,
             md5('{_SHUFFLE_SEED}:' || CAST(e.epoch AS VARCHAR) || ':'
                 || CAST(d.doc_id AS VARCHAR)) AS h
      FROM documents d
      CROSS JOIN (VALUES {", ".join(f"({e})" for e in range(1, _SHUFFLE_EPOCHS + 1))}) e(epoch)
    )
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id)
                AS BIGINT) AS pos,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST((row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id)
                 - 1) % {_SHUFFLE_SHARDS} AS BIGINT) AS shard
    FROM perm
    """,
)
def epoch_shuffle_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded epoch shuffle: assign every document a
    reproducible global training-order position per epoch, plus its
    static output shard. Training runs need the SAME permutation on
    every re-run (resume, re-shard, audit) and a DIFFERENT one per
    epoch — so the order is a pure function of (seed, epoch, doc_id):
    sort by ``md5(seed:epoch:doc_id)``. No RNG state anywhere; Spark
    and DuckDB compute byte-identical md5 hex, so the oracle checks the
    exact permutation, not just its shape.

    Scale shape: the one operation this must NOT be is a global
    ``Window.orderBy`` (single-partition sort of the corpus). It is the
    two-pass :func:`~csv2parquet_spark.operators.ranking.global_row_number`
    over (epoch, h, doc_id): a range-exchange parallel sort, P partition
    counts to the driver, then map-only enumeration — per-epoch position
    falls out as ``global_rn − (epoch−1)·N`` because epoch leads the
    sort key, so one ranking pass covers every epoch. The shard column
    is ``(pos−1) mod S`` — round-robin over the permutation, which is
    exactly how packed training files are striped across writers."""
    from csv2parquet_spark.operators.ranking import global_row_number

    docs = table(spark, sf_dir, "documents").select("doc_id")
    rel = docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(e) for e in range(1, _SHUFFLE_EPOCHS + 1)])
        ).alias("epoch"),
    ).withColumn(
        "h",
        F.md5(
            F.concat(
                F.lit(_SHUFFLE_SEED + ":"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
    )
    ranked, total = global_row_number(rel, ["epoch", "h", "doc_id"], rn_col="grn")
    n = total // _SHUFFLE_EPOCHS
    pos = F.col("grn") - (F.col("epoch").cast("long") - 1) * F.lit(n)
    return ranked.select(
        F.col("epoch").cast("long").alias("epoch"),
        pos.cast("long").alias("pos"),
        F.col("doc_id").cast("long").alias("doc_id"),
        ((pos - 1) % _SHUFFLE_SHARDS).cast("long").alias("shard"),
    )
