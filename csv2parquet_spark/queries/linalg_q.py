"""Distributed-linear-algebra queries over the embeddings table
(operators/linalg.py): hash-checked gram matrix and PCA projection
(fixed-point integer power iteration — engine-exact; the eigh variant
stays the library path in operators/linalg.pca_project)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv2parquet_spark.queries.registry import register
from csv2parquet_spark.tables import table

_DIM = 64


@register(
    "embedding_gram_matrix",
    oracle=f"""
    SELECT ii.i AS i, jj.j AS j,
           round(sum(e.embedding[ii.i + 1] * e.embedding[jj.j + 1]), 4) AS v
    FROM embeddings e, range(0, {_DIM}) ii(i), range(0, {_DIM}) jj(j)
    GROUP BY ii.i, jj.j
    """,
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XᵀX over the embedding corpus: each partition reduces to one
    64×64 numpy partial inside mapInPandas, so the shuffle carries
    batches·dim² values — row-count-independent. The DuckDB twin is the
    naive per-element sum; values meet at 4 decimals."""
    from csv2parquet_spark.operators.linalg import gram_matrix

    emb = table(spark, sf_dir, "embeddings")
    g = gram_matrix(emb, "embedding", _DIM)
    return g.select("i", "j", F.round("v", 4).alias("v"))


_PCA_S = 6  # matrix squarings: iterate with G^64, gap amplified ^64
_PCA_T = 12  # power-iteration steps per component
_PCA_SV = 1_000_000_000  # fixed-point vector units (1e-9)
_PCA_SM = 100_000_000  # fixed-point matrix units after each rescale


def _pca_power_oracle(s_sq: int = _PCA_S, t_iter: int = _PCA_T) -> str:
    """Chained-CTE fixed-point power iteration mirroring the query
    exactly: the integer gram (proven 4dp rounding × 10⁴) is SQUARED
    s_sq times with a max-entry truncating rescale (iterating with
    G^(2^s) — the testdata embeddings are near-isotropic, λ1/λ2 ≈ 1.02,
    so plain power iteration would need hundreds of steps; squaring
    amplifies the gap to ^64), then T max-norm power steps for
    component 1 and T deflated steps for component 2. Every op is
    integer multiply / add / truncating division, so the HUGEINT
    arithmetic is exact and engine-identical (DuckDB ``//`` on integers
    truncates toward zero, same as the query's tdiv; intermediates peak
    ~2.5e27 ≪ int128). The float projection pairs
    list_sum(list_transform) with Spark's F.aggregate(zip_with) left
    fold (the proven similarity_topk_exact pairing)."""
    parts = [f"""
    WITH h0 AS MATERIALIZED (
      SELECT ii.i AS i, jj.j AS j,
             CAST(round(round(sum(e.embedding[ii.i + 1] * e.embedding[jj.j + 1]),
                              4) * 10000, 0) AS HUGEINT) AS hv
      FROM embeddings e, range(0, {_DIM}) ii(i), range(0, {_DIM}) jj(j)
      GROUP BY ii.i, jj.j
    )"""]
    for s in range(1, s_sq + 1):
        parts.append(f"""
    , q{s} AS MATERIALIZED (
      SELECT a.i AS i, b.j AS j, sum(a.hv * b.hv) AS qv
      FROM h{s - 1} a JOIN h{s - 1} b ON a.j = b.i
      GROUP BY a.i, b.j
    ), h{s} AS MATERIALIZED (
      SELECT i, j, (qv * {_PCA_SM}) // (SELECT max(abs(qv)) FROM q{s}) AS hv
      FROM q{s}
    )""")
    h = f"h{s_sq}"
    parts.append(f"""
    , v0 AS MATERIALIZED (
      SELECT r.pos, CAST({_PCA_SV} AS HUGEINT) AS vv
      FROM range(0, {_DIM}) r(pos)
    )""")
    for t in range(1, t_iter + 1):
        parts.append(f"""
    , u{t} AS MATERIALIZED (
      SELECT h.i AS pos, sum(h.hv * v.vv) AS uu
      FROM {h} h JOIN v{t - 1} v ON h.j = v.pos GROUP BY h.i
    ), v{t} AS MATERIALIZED (
      SELECT pos, (uu * {_PCA_SV}) // (SELECT max(abs(uu)) FROM u{t}) AS vv
      FROM u{t}
    )""")
    parts.append(f"""
    , w AS MATERIALIZED (
      SELECT h.i AS pos, sum(h.hv * v.vv) AS ww
      FROM {h} h JOIN v{t_iter} v ON h.j = v.pos GROUP BY h.i
    ), n1 AS MATERIALIZED (SELECT sum(vv * vv) AS n FROM v{t_iter})
    , y0 AS MATERIALIZED (
      SELECT r.pos, CAST(CASE WHEN r.pos % 2 = 0 THEN {_PCA_SV}
                              ELSE -{_PCA_SV} END AS HUGEINT) AS vv
      FROM range(0, {_DIM}) r(pos)
    )""")
    for t in range(1, t_iter + 1):
        parts.append(f"""
    , t{t} AS MATERIALIZED (
      SELECT ((SELECT sum(a.vv * b.vv)
               FROM v{t_iter} a JOIN y{t - 1} b USING (pos)) * {_PCA_SV})
             // (SELECT n FROM n1) AS t1
    ), z{t} AS MATERIALIZED (
      SELECT gy.pos,
             gy.gvy - (w.ww * (SELECT t1 FROM t{t})) // {_PCA_SV} AS uu
      FROM (SELECT h.i AS pos, sum(h.hv * y.vv) AS gvy
            FROM {h} h JOIN y{t - 1} y ON h.j = y.pos GROUP BY h.i) gy
      JOIN w ON w.pos = gy.pos
    ), y{t} AS MATERIALIZED (
      SELECT pos, (uu * {_PCA_SV}) // (SELECT max(abs(uu)) FROM z{t}) AS vv
      FROM z{t}
    )""")
    parts.append(f"""
    , c1 AS MATERIALIZED (
      SELECT list(CAST(vv AS DOUBLE) ORDER BY pos) AS arr FROM v{t_iter}
    ), c2 AS MATERIALIZED (
      SELECT list(CAST(vv AS DOUBLE) ORDER BY pos) AS arr FROM y{t_iter}
    )
    SELECT e.vec_id,
           round(list_sum(list_transform(range(1, {_DIM} + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * c1.arr[i]))
                 / CAST({_PCA_SV} AS DOUBLE), 4) AS p_0,
           round(list_sum(list_transform(range(1, {_DIM} + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * c2.arr[i]))
                 / CAST({_PCA_SV} AS DOUBLE), 4) AS p_1
    FROM embeddings e CROSS JOIN c1 CROSS JOIN c2
    """)
    return "".join(parts)


@register("embedding_pca_project", oracle=_pca_power_oracle())
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows projected onto the top-2 principal directions of the gram
    matrix — hash-proven end-to-end via FIXED-POINT INTEGER power
    iteration (the pagerank_fixed technique applied to eigenvectors;
    replaces the rows-only eigh variant, which stays the library path
    in operators/linalg.pca_project).

    Training: the distributed dim² gram partials (mapInPandas numpy,
    shuffle volume batches·dim² — row-count-independent) collect as
    4096 scalars; everything after is model-sized driver work in EXACT
    integer arithmetic. The gram is squared 6 times with a max-entry
    truncating rescale (the testdata spectrum is near-flat, λ1/λ2 ≈
    1.02 — plain power iteration would need hundreds of steps; G^64
    amplifies the gap to ^64), then 12 max-norm steps converge
    component 1 and 12 deflated steps (y ← H·y − (H·v1)(v1ᵀy)/(v1ᵀv1),
    division split in two so intermediates stay ≪ int128) converge
    component 2. All divisions truncate toward zero (Python tdiv ==
    DuckDB ``//`` == Spark DIV), so both engines walk bit-identical
    states; sign falls out of the deterministic inits (all-ones /
    alternating). Projection is a map-only Catalyst HOF fold
    (F.aggregate(zip_with), the proven bit-identical pairing with
    list_sum), rounded at 4 dp. At 100 TB only the gram pass touches
    data; everything else is dim² driver state broadcast back."""
    from csv2parquet_spark.operators.linalg import gram_matrix

    def tdiv(a: int, b: int) -> int:
        # truncate toward zero (b > 0 here) — DuckDB // and Spark DIV
        return a // b if a >= 0 else -((-a) // b)

    emb = table(spark, sf_dir, "embeddings")
    rows = gram_matrix(emb, "embedding", _DIM).select(
        "i", "j", F.round("v", 4).alias("v")
    ).collect()  # dim² scalars — model-sized
    H = [[0] * _DIM for _ in range(_DIM)]
    for r in rows:
        y = r.v * 10000
        # DuckDB round(y, 0): half away from zero
        H[r.i][r.j] = int(y + 0.5) if y >= 0 else -int(-y + 0.5)

    rng = range(_DIM)
    for _ in range(_PCA_S):
        Q = [[sum(H[i][k] * H[k][j] for k in rng) for j in rng] for i in rng]
        mx = max(abs(x) for row in Q for x in row)
        H = [[tdiv(x * _PCA_SM, mx) for x in row] for row in Q]

    def matvec(vec: list[int]) -> list[int]:
        return [sum(H[i][j] * vec[j] for j in rng) for i in rng]

    v1 = [_PCA_SV] * _DIM
    for _ in range(_PCA_T):
        u = matvec(v1)
        m = max(abs(x) for x in u)
        v1 = [tdiv(x * _PCA_SV, m) for x in u]
    w = matvec(v1)
    n1 = sum(x * x for x in v1)
    v2 = [_PCA_SV if p % 2 == 0 else -_PCA_SV for p in range(_DIM)]
    for _ in range(_PCA_T):
        s = sum(a * b for a, b in zip(v1, v2))
        t1 = tdiv(s * _PCA_SV, n1)
        gv = matvec(v2)
        u = [gv[i] - tdiv(w[i] * t1, _PCA_SV) for i in rng]
        m = max(abs(x) for x in u)
        v2 = [tdiv(x * _PCA_SV, m) for x in u]

    def proj(comp: list[int]):
        arr = F.array(*[F.lit(float(x)) for x in comp])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), arr, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(dot / F.lit(float(_PCA_SV)), 4)

    return emb.select(
        "vec_id", proj(v1).alias("p_0"), proj(v2).alias("p_1")
    )



def _fit_class_centroids(e, vec_col: str = "embedding", label_col: str = "label"):
    """Per-class exact-decimal centroid fit, collected MODEL-SIZED.

    One posexplode -> (label, pos) partial-agg pass over the corpus (the
    unavoidable fit scan), then the classes x dims centroid table plus
    each class's decimal-summed ||c||^2 come back to the driver as
    literals — k x dim floats, the same model-sized-collect contract as
    the k-means/IVF training loops. Rows sorted by class id (NULL class
    last) so downstream expression chains are deterministic."""
    ex = e.select(
        label_col, F.posexplode(vec_col).alias("pos", "vf")
    ).select(label_col, "pos", F.col("vf").cast("double").alias("v"))
    cent = ex.groupBy(F.col(label_col).alias("clabel"), "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(20,10)")).cast("double") / F.count("*")
        ).alias("c")
    )
    cn = cent.groupBy("clabel").agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(28,14)"))
        .cast("double")
        .alias("c2")
    )
    rows = (
        cent.groupBy("clabel")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("clabel", F.col("pc.c").alias("cent"))
        .join(cn, "clabel")
        .collect()
    )
    rows.sort(key=lambda r: (r.clabel is None, r.clabel))
    return rows


def _dec_fold(arr):
    """Exact decimal sum of an array of DECIMAL(28,14) terms, as DOUBLE.

    Decimal addition is associative EXACTLY, so this per-row fold is
    bit-identical to the grouped SUM over exploded rows it replaces —
    the reformulation moves no output bit, it only deletes the
    n x dim x k explode-join shuffle."""
    return (
        F.aggregate(
            arr,
            F.lit(0).cast("decimal(38,14)"),
            lambda a, x: (a + x).cast("decimal(38,14)"),
        )
        .cast("double")
    )


@register(
    "ncm_confusion_matrix",
    oracle="""
    WITH ex AS MATERIALIZED (
      SELECT vec_id, label, i - 1 AS pos,
             CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
    ), cent AS MATERIALIZED (
      SELECT label AS clabel, pos,
             CAST(sum(CAST(v AS DECIMAL(20, 10))) AS DOUBLE) / count(*) AS c
      FROM ex GROUP BY label, pos
    ), cn AS MATERIALIZED (
      SELECT clabel,
             CAST(sum(CAST(c * c AS DECIMAL(28, 14))) AS DOUBLE) AS c2
      FROM cent GROUP BY clabel
    ), dots AS (
      SELECT ex.vec_id, ex.label, cent.clabel,
             CAST(sum(CAST(ex.v * cent.c AS DECIMAL(28, 14))) AS DOUBLE) AS dot
      FROM ex JOIN cent USING (pos)
      GROUP BY ex.vec_id, ex.label, cent.clabel
    ), scored AS (
      SELECT d.vec_id, d.label, d.clabel,
             row_number() OVER (PARTITION BY d.vec_id
                                ORDER BY cn.c2 - 2 * d.dot, d.clabel) AS rn
      FROM dots d JOIN cn USING (clabel)
    )
    SELECT label AS true_label, clabel AS pred_label, count(*) AS n
    FROM scored WHERE rn = 1
    GROUP BY label, clabel
    """,
)
def ncm_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean classifier evaluation over the embedding
    corpus: per-label centroids from the data, every vector assigned to
    its euclidean-nearest centroid (argmin of ||c||^2 - 2 v·c — the
    ||v||^2 term is constant per vector and drops out), reported as the
    (true_label, pred_label) confusion matrix.

    The model-eval shape for embedding pipelines: centroid fitting is a
    narrow (label, pos) aggregate (model-sized output — classes × dims
    cells); scoring joins each exploded coordinate against the 10
    per-position centroid cells (fan-out = n_classes, never corpus ×
    corpus); every float accumulation (centroid means, ||c||^2, dot
    products) is decimal-stabilized so both engines build bit-identical
    scores, and the argmin tie-breaks on the class id.
    """
    e = table(spark, sf_dir, "embeddings")
    # Fit: one explode pass, model-sized collect (_fit_class_centroids).
    # Score: was an n·dim × k explode-JOIN + (vec, class) shuffle + a
    # per-vec row_number — the registry's 2nd-slowest key at sf1
    # (27.8 s, 8.6× at 10× data). Now a MAP-ONLY per-row fold against
    # the k×dim centroid literals: score_c = ||c||² − 2·v·c with every
    # accumulation in the SAME per-term DECIMAL(28,14) casts, so the
    # doubles are bit-identical to the join formulation (decimal
    # addition is exact — order can't move a bit) and the argmin picks
    # the same class; ties break to the lower class id via the
    # (score, clabel) struct ordering, exactly the old row_number
    # order. Zero scoring shuffle; the oracle is unchanged.
    rows = _fit_class_centroids(e)
    if not rows:
        return spark.createDataFrame(
            [], "true_label int, pred_label int, n bigint"
        )
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v2_free_scores = []
    for r in rows:
        carr = F.array(*[F.lit(float(c)) for c in r.cent])
        dot = _dec_fold(
            F.zip_with(vd, carr, lambda x, y: (x * y).cast("decimal(28,14)"))
        )
        lab = (
            F.lit(None).cast("int") if r.clabel is None else F.lit(int(r.clabel))
        )
        v2_free_scores.append(
            F.struct(
                (F.lit(float(r.c2)) - 2 * dot).alias("s"), lab.alias("l")
            )
        )
    pred = F.array_min(F.array(*v2_free_scores))["l"]
    return (
        # NULL embeddings were absent from the exploded relation; the
        # map-only path keeps that contract with an explicit filter
        e.filter(F.col("embedding").isNotNull())
        .groupBy(
            F.col("label").alias("true_label"), pred.alias("pred_label")
        )
        .agg(F.count("*").alias("n"))
    )


_KM_K, _KM_ITER = 4, 2


def _km_dist_sql(vec: str, cent: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {_DIM} + 1), "
        f"i -> (CAST({vec}[i] AS DOUBLE) - {cent}[i])"
        f" * (CAST({vec}[i] AS DOUBLE) - {cent}[i])))"
    )


def _kmeans_oracle(k: int = _KM_K, n_iter: int = _KM_ITER) -> str:
    """Chained-CTE Lloyd's k-means mirroring the query exactly: md5-min
    init, squared-euclidean CASE-chain argmin (ties → lower cluster),
    per-component decimal-summed means rounded to 6dp each iteration,
    carry-forward for empty clusters. list_sum's sequential fold pairs
    with Spark's F.aggregate (the proven similarity_topk_exact
    pairing), so the float distances are bit-identical."""
    parts = [f"""
    WITH emb AS MATERIALIZED (
      -- a NULL embedding cannot be clustered (NULL-twin contract:
      -- DuckDB's LATERAL range would fabricate dim NULL components
      -- into every mean denominator where Spark's posexplode emits
      -- no rows at all)
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL
    ), c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cluster,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
      FROM emb ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k}
    )"""]
    for t in range(1, n_iter + 1):
        ks = ", ".join(
            f"(SELECT cent FROM c{t - 1} WHERE cluster = {c}) AS k{c}"
            for c in range(k)
        )
        ds = ",\n        ".join(
            f"{_km_dist_sql('v.embedding', f'kk.k{c}')} AS dc{c}" for c in range(k)
        )
        whens = " ".join(
            "WHEN "
            + " AND ".join(f"dc{c} <= dc{o}" for o in range(c + 1, k))
            + f" THEN {c}"
            for c in range(k - 1)
        )
        parts.append(f"""
    , kk{t} AS MATERIALIZED (
      SELECT {ks}
    ), d{t} AS MATERIALIZED (
      SELECT v.vec_id, v.embedding,
        {ds}
      FROM emb v CROSS JOIN kk{t} kk
    ), a{t} AS MATERIALIZED (
      SELECT vec_id, embedding,
        CASE {whens} ELSE {k - 1} END AS cluster
      FROM d{t}
    ), m{t} AS MATERIALIZED (
      SELECT cluster, pos,
        round(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,12))) AS DOUBLE)
              / count(*), 6) AS mm
      FROM (SELECT cluster, r.i AS pos, embedding[r.i] AS x
            FROM a{t}, LATERAL (SELECT unnest(range(1, {_DIM} + 1)) AS i) AS r)
      GROUP BY cluster, pos
    ), mc{t} AS MATERIALIZED (
      SELECT cluster, list(mm ORDER BY pos) AS cent FROM m{t} GROUP BY cluster
    ), c{t} AS MATERIALIZED (
      SELECT cluster, cent FROM mc{t}
      UNION ALL
      SELECT p.cluster, p.cent FROM c{t - 1} p
      WHERE p.cluster NOT IN (SELECT cluster FROM mc{t})
    )""")
    parts.append(f"""
    SELECT a.cluster, CAST(count(*) AS BIGINT) AS n_vecs, ck.checksum
    FROM a{n_iter} a JOIN (
      SELECT cluster,
             CAST(sum(CAST(mm AS DECIMAL(18,6))) AS DOUBLE) AS checksum
      FROM m{n_iter} GROUP BY cluster
    ) ck USING (cluster)
    GROUP BY a.cluster, ck.checksum
    """)
    return "".join(parts)


@register("kmeans_train_clusters", oracle=_kmeans_oracle())
def kmeans_train_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means TRAINING LOOP, hash-proven end-to-end (the
    clustering sibling of ``logreg_gd_weights``): k=4 centroids
    initialized from the 4 vectors with the smallest md5(vec_id)
    (deterministic, data-derived, SQL-reproducible — unlike the
    xxhash64 init of ``operators/similarity.kmeans_centroids``, which
    stays the IVF scale path with its broadcast-matrix pandas-UDF
    assignment), then 2 iterations of: squared-euclidean argmin
    assignment (explicit CASE chain, ties to the lower cluster id) and
    per-component mean update (per-row DECIMAL(18,12) casts make the
    sums association-proof; means rounded to 6dp at every iteration
    boundary per the engine's iterative-float protocol). Output:
    cluster sizes from the final assignment plus an exact
    decimal-summed checksum of the final rounded centroid components.

    Scale shape: per iteration one map-only assignment pass over the
    corpus (centroids are literals — model-sized) and one
    posexplode → partial-agg shuffle of n·dim scalar terms; only the
    k×dim means ever reach the driver (the logreg precedent). Distance
    folds use F.aggregate(zip_with(...)) whose left-to-right order
    pairs bit-identically with DuckDB's list_sum (proven by
    similarity_topk_exact)."""
    k = _KM_K
    # NULL embeddings are unclusterable by contract (see oracle note).
    # NO rebalance/checkpoint at this head (r11 measured): interleaved
    # A/B put rebalance+localCheckpoint at 2.10 s vs 2.01 s as-is —
    # the 2 k-row relation is too small for the materialization to pay.
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    init = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(k)
        .select("embedding")
        .collect()
    )
    cents = [[float(x) for x in r.embedding] for r in init]

    def assign(cents):
        dcols = []
        for c, cent in enumerate(cents):
            carr = F.array(*[F.lit(float(v)) for v in cent])
            diffs = F.zip_with(
                F.col("embedding").cast("array<double>"),
                carr,
                lambda x, y: (x - y) * (x - y),
            )
            dcols.append(
                F.aggregate(diffs, F.lit(0.0), lambda a, x: a + x).alias(f"dc{c}")
            )
        d = emb.select("vec_id", "embedding", *dcols)
        cl = F.when(
            (F.col("dc0") <= F.col("dc1"))
            & (F.col("dc0") <= F.col("dc2"))
            & (F.col("dc0") <= F.col("dc3")),
            0,
        ).when(
            (F.col("dc1") <= F.col("dc2")) & (F.col("dc1") <= F.col("dc3")), 1
        ).when(F.col("dc2") <= F.col("dc3"), 2).otherwise(3)
        return d.select("vec_id", "embedding", cl.alias("cluster"))

    from csv2parquet_spark.session import no_aqe

    assigned = None
    mrows: list = []
    # no_aqe around the training loop: each per-iteration mean
    # aggregate is a fixed-shape two-stage collect; AQE only adds a
    # second driver-sequenced stage-job per iteration (see session.no_aqe).
    with no_aqe(spark):
        for _ in range(_KM_ITER):
            assigned = assign(cents)
            # ONE job per iteration (r12): collect the k·dim mean rows
            # directly off the aggregation — the r11 shape paid a
            # localCheckpoint materialization job AND a collect job per
            # iteration for a 64-row model relation. Model-sized driver
            # collect, same contract as the init collect above.
            mrows = (
                assigned.select(
                    "cluster",
                    F.posexplode(F.col("embedding").cast("array<double>")).alias(
                        "pos", "x"
                    ),
                )
                .groupBy("cluster", "pos")
                .agg(
                    F.round(
                        F.sum(F.col("x").cast("decimal(18,12)")).cast("double")
                        / F.count("*"),
                        6,
                    ).alias("mm")
                )
                .collect()
            )
            new = {c: cents[c] for c in range(k)}  # empty cluster → carry forward
            by_cluster: dict[int, list] = {}
            for r in mrows:
                by_cluster.setdefault(r.cluster, []).append((r.pos, r.mm))
            for c, pm in by_cluster.items():
                new[c] = [float(mm) for _, mm in sorted(pm)]
            cents = [new[c] for c in range(k)]

    counts = assigned.groupBy("cluster").agg(F.count("*").alias("n_vecs"))
    # Final-iteration means re-emitted as a JVM VALUES relation (exact:
    # repr round-trips the 6dp-rounded doubles bit-for-bit), so the
    # checksum is the same decimal sum the checkpointed relation fed.
    from csv2parquet_spark.queries.helpers import local_result_df

    means = local_result_df(
        spark,
        [(int(r.cluster), int(r.pos), float(r.mm)) for r in mrows],
        "cluster int, pos int, mm double",
    )
    ck = means.groupBy("cluster").agg(
        F.sum(F.col("mm").cast("decimal(18,6)")).cast("double").alias("checksum")
    )
    return counts.join(ck, "cluster").select("cluster", "n_vecs", "checksum")


@register(
    "label_centroid_separation",
    oracle="""
    WITH ex AS MATERIALIZED (
      SELECT vec_id, label, i - 1 AS pos,
             CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
      -- a NULL label is not a class: it can neither fit a centroid
      -- nor be audited against one (NULL-twin contract r11)
      WHERE label IS NOT NULL
    ), cent AS MATERIALIZED (
      SELECT label AS clabel, pos,
             CAST(sum(CAST(v AS DECIMAL(20, 10))) AS DOUBLE) / count(*) AS c
      FROM ex GROUP BY label, pos
    ), cn AS MATERIALIZED (
      SELECT clabel,
             CAST(sum(CAST(c * c AS DECIMAL(28, 14))) AS DOUBLE) AS c2
      FROM cent GROUP BY clabel
    ), vn AS MATERIALIZED (
      SELECT vec_id,
             CAST(sum(CAST(v * v AS DECIMAL(28, 14))) AS DOUBLE) AS v2
      FROM ex GROUP BY vec_id
    ), dots AS MATERIALIZED (
      SELECT ex.vec_id, ex.label, cent.clabel,
             CAST(sum(CAST(ex.v * cent.c AS DECIMAL(28, 14))) AS DOUBLE) AS dot
      FROM ex JOIN cent USING (pos)
      GROUP BY ex.vec_id, ex.label, cent.clabel
    ), d2 AS MATERIALIZED (
      SELECT d.vec_id, d.label, d.clabel,
             round(vn.v2 - 2 * d.dot + cn.c2, 6) AS dist
      FROM dots d JOIN cn USING (clabel) JOIN vn USING (vec_id)
    ), pv AS MATERIALIZED (
      SELECT vec_id, label,
             min(CASE WHEN clabel = label THEN dist END) AS d_own,
             min(CASE WHEN clabel <> label THEN dist END) AS d_other
      FROM d2 GROUP BY 1, 2
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN d_own < d_other THEN 1 ELSE 0 END) AS BIGINT)
             AS n_separated,
           round(CAST(sum(CAST(d_own AS DECIMAL(18, 6))) AS DOUBLE), 6)
             AS sum_d_own,
           round(CAST(sum(CAST(d_other AS DECIMAL(18, 6))) AS DOUBLE), 6)
             AS sum_d_other
    FROM pv GROUP BY label
    """,
)
def label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class-separation audit (the scalable cousin of a
    silhouette score): per label, how many vectors sit closer to their
    OWN label centroid than to the nearest other centroid, plus the
    summed squared distances each way — the go/no-go check before
    trusting labels (or centroids) for semantic dedup, NCM filtering,
    or contrastive sampling.

    Same decimal-stabilized machinery as the proven
    ``ncm_confusion_matrix``: centroid fit is a (label, pos) aggregate
    (model-sized), per-vector distances come from ||v||² − 2v·c + ||c||²
    with every float accumulation decimal-cast (bit-identical across
    engines), distances rounded to 6dp before the compare/sum so the
    hashed output carries no raw float arithmetic. Fan-out per vector is
    n_classes, never corpus×corpus."""
    # NULL labels are not classes (see oracle note)
    e = table(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    # Fit: one explode pass + model-sized collect. Distances: was the
    # registry's slowest sf1 key (35 s, dim² via an n·dim × k
    # explode-join + vec-norm groupBy + a (vec, class) shuffle). Now a
    # MAP-ONLY per-row fold: dist_c = round(||v||² − 2·v·c + ||c||², 6)
    # against the k×dim centroid literals, with the SAME per-term
    # DECIMAL(28,14) casts — decimal addition is exact, so every double
    # (and therefore every hashed output) is bit-identical to the
    # join formulation. d_own/d_other select by label equality over the
    # k dist expressions; zero scoring shuffle, oracle unchanged.
    rows = _fit_class_centroids(e)
    if not rows:
        return spark.createDataFrame(
            [],
            "label int, n_vecs bigint, n_separated bigint, "
            "sum_d_own double, sum_d_other double",
        )
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v2 = _dec_fold(F.transform(vd, lambda x: (x * x).cast("decimal(28,14)")))
    dists = []
    for r in rows:
        carr = F.array(*[F.lit(float(c)) for c in r.cent])
        dot = _dec_fold(
            F.zip_with(vd, carr, lambda x, y: (x * y).cast("decimal(28,14)"))
        )
        dists.append(F.round(v2 - 2 * dot + F.lit(float(r.c2)), 6))
    d_own = d_other = None
    for i, r in enumerate(rows):
        others = [d for j, d in enumerate(dists) if j != i]
        oth = F.least(*others) if others else F.lit(None).cast("double")
        cond = F.col("label") == F.lit(int(r.clabel))
        d_own = F.when(cond, dists[i]) if d_own is None else d_own.when(cond, dists[i])
        d_other = F.when(cond, oth) if d_other is None else d_other.when(cond, oth)
    pv = e.filter(F.col("embedding").isNotNull()).select(
        "label", d_own.alias("d_own"), d_other.alias("d_other")
    )
    return pv.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum((F.col("d_own") < F.col("d_other")).cast("long")).alias("n_separated"),
        F.round(
            F.sum(F.col("d_own").cast("decimal(18,6)")).cast("double"), 6
        ).alias("sum_d_own"),
        F.round(
            F.sum(F.col("d_other").cast("decimal(18,6)")).cast("double"), 6
        ).alias("sum_d_other"),
    )
