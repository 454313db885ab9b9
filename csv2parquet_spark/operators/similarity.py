"""Similarity search over embedding columns (SURVEY.md §2.8).

* ``cosine(a, b)`` — pure-Catalyst cosine over two array<float> columns
  (zip_with product + left-fold sum): stays in codegen, no Python.
* ``topk_similar`` — brute-force exact top-k: broadcast the query
  vector(s), score every row, TakeOrderedAndProject. This is the
  correctness baseline and, broadcast-side, is embarrassingly parallel:
  at 100 TB it is one scan, zero shuffles.
* ``lsh_topk`` — random-hyperplane LSH: P fixed hyperplanes → sign-bit
  bucket; search only the query's bucket (and optionally neighboring
  probes). The scale path — bucket join replaces the full scan.
* ``ivf_topk`` — IVF-style: coarse centroids (seeded sample), assign
  each vector to nearest centroid (broadcast centroid table), probe the
  closest ``nprobe`` lists. Mirrors FAISS IVF-Flat in DataFrame algebra.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (sequential left fold → the same
    association order DuckDB's list functions use)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_similar(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k: cross-join the (tiny, broadcast) query
    against every vector, score, take top-k. Returns (vec_id, sim).

    CONTRACT: ``query`` must be ONE row (same for ``lsh_topk`` /
    ``ivf_topk``). The output carries no query id, so a multi-row
    query would silently blend scores from different queries into one
    meaningless top-k; multi-query workloads belong on
    :func:`knn_join`, which keys results by query id. A runtime count
    guard is deliberately omitted — it would add an aggregate to every
    caller's plan to catch a misuse the signature already states
    (:func:`probe_ivf_index` DOES raise, because that audit path
    collects the query vector anyway and the check is free there).

    Norms are computed once per side (a projection), so the per-pair
    work is a single dot fold — same arithmetic as dot/(|a|·|b|),
    just not recomputed N times.
    """
    q = F.broadcast(
        query.select(F.col(vec_col).alias("__qvec"), norm(F.col(vec_col)).alias("__qn"))
    )
    scored = (
        vectors.withColumn("__vn", norm(F.col(vec_col)))
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), F.col("__qvec")) / (F.col("__vn") * F.col("__qn")),
                6,
            ).alias("sim"),
        )
    )
    return scored.orderBy(F.desc("sim"), id_col).limit(k)


def _lsh_blas_candidates(
    vectors: DataFrame,
    threshold: float,
    num_planes: int,
    num_tables: int,
    dim: int,
    vec_col: str,
    id_col: str,
    seed: int,
    bucket_cap: int = 8192,
) -> DataFrame:
    """LSH-bucketed candidate pairs via per-bucket BLAS over
    INT8-QUANTIZED vectors: group each (table, bucket) with
    ``applyInPandas`` and emit only pairs that could possibly clear
    ``threshold`` given a rigorous quantization-error bound.

    Why not a bucket self-join? At n vectors per bucket the join
    MATERIALIZES n² candidate rows through a shuffle and scores each
    with an interpreted array fold — measured 13 s at 5 k vectors. Here
    the n² work happens inside one numpy matmul per bucket, and only
    survivors leave Python.

    Why int8 in the exchange? The T-fold ``explode(tables)`` replicates
    every corpus row into T groups; carrying float64 vectors through
    that groupBy shuffles 8·dim bytes × T per vector — at corpus scale
    the job's dominant cost. Instead the vector is quantized MAP-SIDE
    (before the explode) to one binary cell of ``8 + dim`` bytes
    (float64 scale ‖ int8 codes), an ~8× cut that cancels the T-fold
    blow-up at T=8.

    Losslessness: with per-vector scale s = max|x|/127 and
    round-to-nearest codes, the reconstruction x̂ satisfies
    |x̂ − x|₂ ≤ E = √dim·s/2, so the unit vectors differ by at most
    δ = 2E/|x̂| (hat-norm known exactly in-kernel) and
    |cos(x̂,ŷ) − cos(x,y)| ≤ δ_x + δ_y. A pair is kept iff
    cos(x̂,ŷ) ≥ threshold − δ_x − δ_y − 1e-6 — every pair whose EXACT
    cosine ≥ threshold survives, so the downstream exact float64 verify
    (which re-joins the true vectors by id) loses nothing and the final
    output is identical to the float64 stage it replaces.

    Bucket-size bound (ENFORCED, not advisory): a skewed (table, bucket)
    group larger than ``bucket_cap`` rows is split into r =
    ⌈2n/bucket_cap⌉ deterministic salt blocks (salt = xxhash64(id) mod
    r) and processed as the C(r+1, 2) pair-blocks of the triangle
    decomposition: group (i, i) scores its own block's upper triangle,
    group (i, j), i<j scores only the i×j cross rectangle, so every
    candidate pair is examined in EXACTLY one group and the superset
    guarantee is preserved while no group holds more than ~bucket_cap
    rows (2n/r ≤ bucket_cap). Replication cost is r copies of the
    bucket's narrow (8+dim)-byte cells — the price of not OOMing an
    executor on an adversarial bucket. The bucket-size census is a
    partial-agg over the bucket space (≤ T·2^planes rows — broadcast).

    Bucket ids are computed in the SAME numpy kernel as the quantizer
    (one matmul against all T·P hyperplanes) rather than as Catalyst
    literal-array folds: 32 plane-dot expression trees × 64 terms cost
    ~2 s of driver-side analysis PER CALL, constant overhead that
    dominated the sf0.1 bench. numpy's pairwise-summed dot can only
    disagree with the oracle's sequential fold on the sign of a dot
    within ~1e-13 of zero — tests assert the fixture's minimum |dot|
    margin is orders of magnitude above that (test_operators.py)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = np.asarray(
        [_hyperplanes(num_planes, dim, seed + t) for t in range(num_tables)],
        dtype=np.float64,
    ).reshape(num_tables * num_planes, dim)
    bits_w = (1 << np.arange(num_planes)).astype(np.int64)
    T, P = num_tables, num_planes

    @pandas_udf("qz binary, buckets array<bigint>")
    def _sig(embs: pd.Series) -> pd.DataFrame:
        if len(embs) == 0:
            return pd.DataFrame({"qz": [], "buckets": []})
        if embs.isna().any():
            # Actionable contract error instead of a bare numpy
            # traceback (r9 NULL-twin audit): same discipline as the
            # ranking kernels' NULL guards.
            raise ValueError(
                "lsh signatures: NULL embeddings in the input — "
                "filter them first (df.filter(col.isNotNull()))"
            )
        V = np.vstack([np.asarray(e, dtype=np.float64) for e in embs])
        m = np.max(np.abs(V), axis=1)
        m[m == 0.0] = 1.0
        Q = np.floor(V * (127.0 / m[:, None]) + 0.5).astype(np.int8)
        s = (m / 127.0).astype(np.float64)
        sign_bits = (V @ planes.T >= 0).astype(np.int64).reshape(len(embs), T, P)
        buckets = sign_bits @ bits_w
        return pd.DataFrame(
            {
                "qz": [s[i].tobytes() + Q[i].tobytes() for i in range(len(embs))],
                "buckets": list(buckets),
            }
        )

    bk = vectors.select(
        F.col(id_col).alias("id"), _sig(F.col(vec_col)).alias("s")
    ).select(
        "id",
        F.col("s.qz").alias("qz"),
        F.posexplode(F.col("s.buckets")).alias("tbl", "bucket"),
    ).localCheckpoint()
    # ^ materialized once (r12): bk feeds BOTH the bucket census and
    # the salted group relation; unmaterialized, the _sig quantize+
    # hyperplane kernel executed twice (profiled as two separate
    # Python stages) — double signature compute at any scale, and the
    # larger half of this key's run-to-run spread (BLAS thread jitter
    # twice). The checkpoint is the T-fold narrow cell relation, the
    # cheapest thing this operator owns.

    # Bucket census over the ≤ T·2^planes bucket space; r=1 (no salting)
    # for every bucket within the cap, so the common path is unchanged.
    sizes = bk.groupBy("tbl", "bucket").agg(F.count(F.lit(1)).alias("__bn"))
    r_col = F.when(
        F.col("__bn") > bucket_cap,
        F.ceil(F.lit(2) * F.col("__bn") / F.lit(bucket_cap)).cast("int"),
    ).otherwise(F.lit(1))
    salted = (
        bk.join(F.broadcast(sizes), ["tbl", "bucket"])
        .withColumn("__r", r_col)
        .withColumn("__salt", F.pmod(F.xxhash64("id"), F.col("__r")).cast("int"))
        .select(
            "id",
            "qz",
            "tbl",
            "bucket",
            "__salt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("__r") - 1),
                    lambda t: F.struct(
                        F.least(F.col("__salt"), t).alias("gi"),
                        F.greatest(F.col("__salt"), t).alias("gj"),
                    ),
                )
            ).alias("g"),
        )
        .select("id", "qz", "tbl", "bucket", "__salt", "g.gi", "g.gj")
    )

    def _unpack(pdf: pd.DataFrame):
        A = np.frombuffer(b"".join(pdf["qz"]), dtype=np.uint8).reshape(len(pdf), -1)
        s = A[:, :8].copy().view(np.float64).ravel()
        V = A[:, 8:].view(np.int8).astype(np.float64) * s[:, None]
        d = V.shape[1]
        n = np.linalg.norm(V, axis=1)
        # δ = 2·(√d·s/2)/|x̂| bounds the unit-vector perturbation from
        # quantization; zero-norm reconstructions get the max bound (2).
        delta = np.full(len(s), 2.0)
        nz = n > 0.0
        delta[nz] = np.sqrt(d) * s[nz] / n[nz]
        n[~nz] = 1.0
        return V / n[:, None], delta, pdf["id"].to_numpy()

    empty = pd.DataFrame(
        {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64")}
    )

    def gen(key, pdf):
        gi, gj = key[2], key[3]
        if gi == gj:
            # Own-block triangle: every pair within this salt block.
            if len(pdf) < 2:
                return empty
            Vn, delta, ids = _unpack(pdf)
            keep = Vn @ Vn.T >= threshold - delta[:, None] - delta[None, :] - 1e-6
            ia, ib = np.nonzero(np.triu(keep, k=1))
        else:
            # Cross rectangle: only gi-block × gj-block pairs — the
            # (gi,gi)/(gj,gj) sub-blocks belong to their own groups, so
            # no pair is scored twice across the decomposition.
            la = pdf["__salt"].to_numpy() == gi
            if not la.any() or la.all():
                return empty
            Vn, delta, ids = _unpack(pdf)
            ka, kb = np.nonzero(
                Vn[la] @ Vn[~la].T
                >= threshold - delta[la][:, None] - delta[~la][None, :] - 1e-6
            )
            idx = np.arange(len(ids))
            ia, ib = idx[la][ka], idx[~la][kb]
        if len(ia) == 0:
            return empty
        return pd.DataFrame(
            {"id_a": np.minimum(ids[ia], ids[ib]), "id_b": np.maximum(ids[ia], ids[ib])}
        )

    return (
        salted.groupBy("tbl", "bucket", "gi", "gj")
        .applyInPandas(gen, "id_a bigint, id_b bigint")
        .distinct()
    )


def pairwise_near_dups(
    vectors: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    bucket_cap: int = 8192,
    on_null: str = "raise",
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (id_a, id_b, sim ≥ threshold).

    Candidates come from the LSH tables of :func:`_lsh_blas_candidates`
    and are verified with exact cosine, so the contract is deterministic
    given the seeds: every pair that shares ≥1 LSH bucket AND has cosine
    ≥ threshold. The join is keyed on (table, bucket), never a data
    column — a hot label can't make it quadratic.

    ``on_null="skip"`` drops NULL-``vec_col`` rows before signatures
    are computed, counting them via an Observation (null_policy.py);
    the default ``"raise"`` keeps the loud kernel contract.
    """
    from csv2parquet_spark.operators.null_policy import check_on_null, skip_nulls

    check_on_null(on_null)
    if on_null == "skip":
        vectors = skip_nulls(vectors, [vec_col], "pairwise_near_dups")
    withn = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),  # once per vector, not per pair
    )
    cand = _lsh_blas_candidates(
        vectors,
        threshold,
        num_planes,
        num_tables,
        dim,
        vec_col,
        id_col,
        seed,
        bucket_cap=bucket_cap,
    )
    return (
        cand.join(
            withn.select(
                F.col("id").alias("id_a"),
                F.col("v").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "id_a",
        )
        .join(
            withn.select(
                F.col("id").alias("id_b"),
                F.col("v").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "id_b",
        )
        .withColumn(
            "sim_exact", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("sim_exact") >= threshold)
        .select("id_a", "id_b", F.round("sim_exact", 6).alias("sim"))
    )


def _normalized_centroid_matrix(centroids: list[list[float]]):
    """Row-normalized (k × dim) float64 centroid matrix: per-vector
    cosine argmax over centroids == dot argmax against normalized rows
    (|v| is constant across candidates)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    n = np.linalg.norm(C, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return C / n


def _assign_clusters(
    vectors: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Add the nearest-centroid ``cluster`` id — Arrow-batched pandas
    UDF over a BROADCAST numpy centroid matrix.

    This is the coarse-quantizer shape that survives a real index size:
    literal-centroid expression trees (round 1) explode Catalyst at
    thousands-of-lists × 768-dim, and a centroid-join + per-vector
    argmin groupBy would shuffle the corpus×k score pairs. Here the
    centroids ship once per executor (sc.broadcast) and assignment is
    one map-only matmul per Arrow batch — zero shuffle, O(k·dim) driver
    state, ties broken by lowest cluster id (np.argmax)."""
    from pyspark.sql.functions import pandas_udf

    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast(_normalized_centroid_matrix(centroids))

    @pandas_udf("int")
    def _argmax(embs: pd.Series) -> pd.Series:
        import numpy as np

        if embs.isna().any():
            raise ValueError(
                "cluster assignment: NULL embeddings in the input — "
                "filter them first (df.filter(col.isNotNull()))"
            )
        M = np.vstack([np.asarray(e, dtype=np.float64) for e in embs])
        return pd.Series(np.argmax(M @ bc.value.T, axis=1).astype(np.int32))

    return vectors.withColumn("cluster", _argmax(F.col(vec_col)))


def kmeans_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Lloyd's k-means in DataFrame algebra; returns the centroid table
    (a ``n_centroids × dim`` Python list — the ONLY thing that ever
    reaches the driver; the vectors never do).

    Per iteration: assignment is the broadcast-matrix pandas UDF of
    :func:`_assign_clusters` (map-only, no shuffle); the update is
    ``posexplode → groupBy(cluster, pos) → avg`` — a map-side-combining
    shuffle of n·dim scalar partials, the standard distributed-Lloyd
    shape. Init is the ``n_centroids`` vectors with the smallest
    ``xxhash64(id)`` (deterministic, seed-free sampling).
    """
    init = (
        vectors.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_centroids)
        .collect()
    )
    centroids = [[float(x) for x in r.v] for r in init]
    for _ in range(n_iter):
        assigned = _assign_clusters(vectors, centroids, vec_col).select(
            "cluster", F.posexplode(F.col(vec_col)).alias("pos", "x")
        )
        new = (
            assigned.groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cluster", F.col("pm.m").alias("centroid"))
            .collect()
        )
        for r in new:
            centroids[r.cluster] = [float(x) for x in r.centroid]
    return centroids


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add the IVF list id (``cluster``) to every vector. At scale this
    column is the partition/bucket key of the stored index (see
    :func:`write_ivf_index`), so a probe reads ``nprobe`` partitions
    instead of the corpus."""
    return _assign_clusters(vectors, centroids, vec_col)


def _probe_lists(spark, centroids: list[list[float]], nprobe: int):
    """pandas UDF: per query vector, the ``nprobe`` nearest centroid ids
    (cosine, ties to the lower id via stable argsort) — the same
    broadcast-matrix shape as :func:`_assign_clusters`."""
    from pyspark.sql.functions import pandas_udf

    bc = spark.sparkContext.broadcast(_normalized_centroid_matrix(centroids))

    @pandas_udf("array<int>")
    def _topn(embs: pd.Series) -> pd.Series:
        import numpy as np

        if embs.isna().any():
            raise ValueError(
                "ivf probe: NULL query embeddings in the input — "
                "filter them first (df.filter(col.isNotNull()))"
            )
        M = np.vstack([np.asarray(e, dtype=np.float64) for e in embs])
        order = np.argsort(-(M @ bc.value.T), axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype(np.int32) for row in order])

    return _topn


def write_ivf_index(
    vectors: DataFrame,
    path: str,
    n_centroids: int = 16,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Persist an IVF-Flat index: the corpus parquet-partitioned by its
    ``cluster`` list id (``{path}/corpus/cluster=N/``) plus the centroid
    table (``{path}/centroids``). A probe then reads only ``nprobe``
    directories — partition PRUNING, not a scan-and-filter: at 100 TB
    the probe cost is proportional to the probed lists, not the corpus.
    Returns the trained centroids."""
    centroids = kmeans_centroids(vectors, n_centroids, n_iter, vec_col, id_col)
    assigned = ivf_assign(vectors, centroids, vec_col)
    assigned.write.partitionBy("cluster").mode("overwrite").parquet(f"{path}/corpus")
    spark = vectors.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return centroids


def probe_ivf_index(
    spark,
    path: str,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k against a persisted IVF index (:func:`write_ivf_index`).

    The centroid table (k × dim — driver-sized by construction) is
    collected, the query's ``nprobe`` nearest lists are chosen driver-
    side in numpy, and the corpus read carries ``cluster IN (probes)``
    — Spark turns that into partition pruning on the ``cluster=N``
    directories (asserted on ``inputFiles()`` in tests), so the scan
    touches only the probed lists. With ``nprobe == n_centroids`` the
    result is exactly the brute-force top-k."""
    import numpy as np

    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cluster").collect()
    Cn = _normalized_centroid_matrix([list(r.centroid) for r in cent_rows])
    qrows = query.select(F.col(vec_col).alias("q")).collect()
    if len(qrows) != 1:
        raise ValueError(f"probe_ivf_index expects exactly one query row, got {len(qrows)}")
    qv = np.asarray(qrows[0].q, dtype=np.float64)
    probes = [
        int(c)
        for c in np.argsort(-(Cn @ qv), kind="stable")[:nprobe]
    ]
    corpus = spark.read.parquet(f"{path}/corpus").filter(F.col("cluster").isin(probes))
    qdf = query.select(F.col(vec_col).alias(vec_col)).limit(1)
    return topk_similar(corpus, qdf, k=k, vec_col=vec_col, id_col=id_col)


def ivf_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    on_null: str = "raise",
) -> DataFrame:
    """IVF-Flat top-k (FAISS-style, in DataFrame algebra): train coarse
    centroids, assign every vector to its nearest list, probe only the
    query's ``nprobe`` nearest lists, brute-force within them.

    With ``nprobe == n_centroids`` the probe covers every list and the
    result is EXACTLY the brute-force top-k (the hash-checked oracle
    configuration); smaller ``nprobe`` is the approximate scale path.
    The probe is a broadcast join on the cluster column — on a stored
    index partitioned by ``cluster`` it becomes partition pruning.

    ``on_null="skip"`` drops NULL-embedding rows from BOTH the corpus
    (before centroid training/assignment) and the query batch (before
    the probe), each counted under its own Observation context.
    """
    from csv2parquet_spark.operators.null_policy import check_on_null, skip_nulls

    check_on_null(on_null)
    if on_null == "skip":
        vectors = skip_nulls(vectors, [vec_col], "ivf_topk.corpus")
        query = skip_nulls(query, [vec_col], "ivf_topk.query")
    centroids = kmeans_centroids(vectors, n_centroids, n_iter, vec_col, id_col)
    assigned = ivf_assign(vectors, centroids, vec_col)
    qprobe = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qvec"),
            norm(F.col(vec_col)).alias("__qn"),
            _probe_lists(query.sparkSession, centroids, nprobe)(F.col(vec_col)).alias(
                "__probes"
            ),
        )
    )
    scored = (
        assigned.withColumn("__vn", norm(F.col(vec_col)))
        .join(qprobe, F.array_contains(F.col("__probes"), F.col("cluster")))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), F.col("__qvec")) / (F.col("__vn") * F.col("__qn")),
                6,
            ).alias("sim"),
        )
    )
    return scored.orderBy(F.desc("sim"), id_col).limit(k)


def knn_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    query_cols: list[str] | None = None,
    pair_filter: Column | None = None,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Batch kNN join: exact top-k corpus neighbors for EVERY query row
    at once — the production retrieval shape (one pass for a whole query
    batch, not one job per query). Returns (query_id, vec_id, sim,
    knn_rank). A query row never matches the corpus row of its own id.

    Scale design: queries broadcast (with norms precomputed); scoring is
    map-side over the corpus scan. The per-query top-k is a rank-limited
    window — Spark plans it as ``WindowGroupLimit Partial`` BELOW the
    exchange (per input partition, at most k rows per query survive) +
    ``Final`` above it, so the query-key shuffle moves O(partitions·Q·k)
    rows, never the corpus×queries product. This built-in partial top-k
    is why the naive-looking window is the right 100 TB plan (verified
    against a hand-rolled salted two-stage top-k: same result, one fewer
    shuffle, no collect_list state).

    ``query_cols`` carries extra query-side columns into the broadcast
    as ``__q_<name>``; ``pair_filter`` is applied MAP-SIDE after the
    broadcast join, before anything shuffles — together they express
    constrained-neighbor variants (e.g. hard-negative mining's
    different-label constraint) without duplicating this plan.

    The query-batch contract is ENFORCED like fuzzy_dim_join's
    dimension contract (r9): the map-side work is corpus × queries dot
    products, so a corpus-scale ``queries`` side silently turns the
    one-pass retrieval into an all-pairs job (and the broadcast build
    into an executor-memory bomb) — above ``max_query_rows`` this
    raises and points at the IVF/LSH scale paths instead.

    The guard is EAGER (runs a bounded count job when this function is
    CALLED, not when the result executes) and evaluates ``queries``
    twice — once for the count, once in the broadcast. Cache or
    ``localCheckpoint()`` a nondeterministic query side first, or the
    counted batch may differ from the broadcast one; plan-only callers
    can disable enforcement with ``SPARK_GRAFT_DIM_GUARD=0`` (see
    ``operators/scan.py::assert_dim_sized``).
    """
    from csv2parquet_spark.operators.scan import assert_dim_sized

    assert_dim_sized(
        queries,
        "knn_join",
        max_rows=max_query_rows,
        hint="brute-force batch kNN is corpus x queries; for large "
        "query sets use the IVF index (write_ivf_index/probe_ivf_index)"
        " or LSH buckets (lsh_topk) instead",
    )
    q = F.broadcast(
        queries.select(
            F.col(qid_col),
            F.col(vec_col).alias("__qvec"),
            norm(F.col(vec_col)).alias("__qn"),
            *[F.col(c).alias(f"__q_{c}") for c in (query_cols or [])],
        )
    )
    scored = (
        vectors.withColumn("__vn", norm(F.col(vec_col)))
        .crossJoin(q)
        .filter(F.col(id_col) != F.col(qid_col))
    )
    if pair_filter is not None:
        scored = scored.filter(pair_filter)
    scored = scored.select(
        F.col(qid_col),
        F.col(id_col),
        F.round(
            dot(F.col(vec_col), F.col("__qvec")) / (F.col("__vn") * F.col("__qn")), 6
        ).alias("sim"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(qid_col).orderBy(F.desc("sim"), id_col)
    return scored.withColumn("knn_rank", F.row_number().over(w)).filter(
        F.col("knn_rank") <= k
    )


def _hyperplanes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy RNG state leaks:
    a simple LCG keeps this reproducible everywhere)."""
    planes: list[list[float]] = []
    state = seed & 0x7FFFFFFF
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append(state / 0x7FFFFFFF * 2.0 - 1.0)
        planes.append(row)
    return planes


def _lsh_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id of a vector column against literal hyperplane
    arrays — evaluated in codegen, no Python, no broadcast needed."""
    bucket = F.lit(0).cast("bigint")
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(vec, plane_col) >= 0, F.lit(1 << p).cast("bigint")).otherwise(0)
        bucket = bucket + bit
    return bucket


def add_lsh_bucket(
    vectors: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH bucket id (0..2^num_planes-1) per vector."""
    return vectors.withColumn(
        "bucket", _lsh_bucket_col(F.col(vec_col), _hyperplanes(num_planes, dim, seed))
    )


def lsh_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket matches the
    query's bucket. At scale the bucket column is a partition key, so the
    probe reads one partition instead of the corpus."""
    bucketed = add_lsh_bucket(vectors, num_planes, dim, vec_col, seed)
    qb = add_lsh_bucket(
        query.select(F.col(vec_col).alias(vec_col)), num_planes, dim, vec_col, seed
    ).select(F.col(vec_col).alias("__qvec"), "bucket")
    return (
        bucketed.join(F.broadcast(qb), "bucket")
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), id_col)
        .limit(k)
    )


def int8_topk(
    vectors: DataFrame,
    query_id: int = 0,
    k: int = 10,
    pool: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage top-k with int8-quantized pre-scoring: per-vector
    symmetric quantization q_i = floor(x_i·127/max|x| + 0.5), integer
    dot products for the candidate pool (4× less memory traffic than
    float32 — the production motivation), exact-cosine re-rank of the
    pool. Integer stage-1 arithmetic is EXACT, so the ranking (and the
    DuckDB oracle twin) is deterministic — no float-association risk.

    Scale shape: quantization is map-only; the pool is
    TakeOrderedAndProject over one broadcast of the single query row;
    only `pool` rows reach the exact re-rank. At corpus scale the int8
    column is precomputed and stored (it compresses the scan, which is
    the point)."""
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    m = F.when(absmax == 0, F.lit(1.0)).otherwise(absmax)
    qz = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"), m.alias("m")
    ).withColumn(
        "q",
        F.transform(
            "v", lambda x: F.floor(x * 127.0 / F.col("m") + 0.5).cast("long")
        ),
    )
    qq = qz.filter(F.col("vid") == query_id).select(
        F.col("v").alias("qv"), F.col("m").alias("qm"), F.col("q").alias("qvec")
    )
    dotq = F.aggregate(
        F.zip_with(F.col("q"), F.col("qvec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pool_df = (
        qz.filter(F.col("vid") != query_id)
        .crossJoin(F.broadcast(qq))
        .withColumn(
            "approx", dotq.cast("double") * F.col("m") * F.col("qm") / 16129.0
        )
        .orderBy(F.desc("approx"), "vid")
        .limit(pool)
    )
    return (
        pool_df.withColumn(
            "sim", F.round(cosine(F.col("v"), F.col("qv")), 6)
        )
        .orderBy(F.desc("sim"), "vid")
        .limit(k)
        .select(F.col("vid").alias(id_col), "sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") — the memory-side of the ANN family: vectors
# compress to m sub-codes (here 8 × 4 bits), queries scan the compressed
# corpus with an asymmetric-distance (ADC) table lookup, and a small
# pool re-ranks exactly. Complements the recall-side structures above
# (LSH buckets, IVF lists) — production indexes compose IVF+PQ.
# ---------------------------------------------------------------------------


def _pq_subvectors(vectors: DataFrame, m: int, vec_col: str, id_col: str) -> DataFrame:
    """(id, sub, subvec): the vector split into ``m`` contiguous
    subspaces — a map-only explode + slice, no join."""
    return (
        vectors.select(
            F.col(id_col).alias("pq_id"), F.col(vec_col).alias("v")
        )
        .select(
            "pq_id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            "v",
        )
        .select(
            "pq_id",
            "sub",
            F.expr(
                f"slice(v, sub * (size(v) div {m}) + 1, size(v) div {m})"
            ).alias("subvec"),
        )
    )


def _pq_assign(sv: DataFrame, codebooks) -> DataFrame:
    """Add the nearest-codeword ``code`` per (id, sub) row — one
    Arrow-batched kernel over a BROADCAST (m × k × dsub) codebook
    tensor; euclidean argmin, ties to the lowest code id."""
    import numpy as np

    sc = sv.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(codebooks, dtype=np.float64))

    def kernel(batches):
        for pdf in batches:
            C = bc.value  # (m, k, dsub)
            subs = pdf["sub"].to_numpy()
            if pdf["subvec"].isna().any():
                raise ValueError(
                    "pq assign: NULL subvectors in the input (NULL "
                    "embeddings upstream) — filter them first "
                    "(df.filter(col.isNotNull()))"
                )
            M = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf["subvec"]])
            codes = np.empty(len(pdf), dtype=np.int32)
            for s in np.unique(subs):
                rows = subs == s
                X = M[rows]  # (n, dsub)
                d = ((X[:, None, :] - C[s][None, :, :]) ** 2).sum(axis=2)
                codes[rows] = np.argmin(d, axis=1)
            out = pdf[["pq_id", "sub"]].copy()
            out["code"] = codes
            yield out

    return sv.mapInPandas(kernel, "pq_id bigint, sub int, code int")


def pq_train_codebooks(
    vectors: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    on_null: str = "raise",
):
    """Per-subspace Lloyd k-means; returns the (m × k × dim/m) codebook
    tensor as nested Python lists (model-sized — the vectors never
    reach the driver). ALL subspaces train in the same jobs: one
    map-only assignment + one (sub, code, pos) partial-agg mean per
    iteration. Init = the subvector slices of the ``k`` vectors with
    the smallest ``xxhash64(id)`` (deterministic, seed-free).

    ``on_null="skip"`` drops NULL-``vec_col`` rows before subvector
    slicing — the returned ``sv`` relation (and everything encoded
    from it) is then NULL-free, so ``pq_encode``/``pq_adc_topk`` are
    covered by the same quarantine."""
    import numpy as np

    from csv2parquet_spark.operators.null_policy import check_on_null, skip_nulls

    check_on_null(on_null)
    if on_null == "skip":
        vectors = skip_nulls(vectors, [vec_col], "pq_train_codebooks")

    init = (
        vectors.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(k)
        .collect()
    )
    V = np.asarray([[float(x) for x in r.v] for r in init])
    dim = V.shape[1]
    dsub = dim // m
    codebooks = [
        [[float(x) for x in V[j, s * dsub : (s + 1) * dsub]] for j in range(k)]
        for s in range(m)
    ]
    sv = _pq_subvectors(vectors, m, vec_col, id_col).localCheckpoint()
    for _ in range(n_iter):
        assigned = _pq_assign(sv, codebooks).join(sv, ["pq_id", "sub"])
        new = (
            assigned.select(
                "sub", "code", F.posexplode("subvec").alias("pos", "x")
            )
            .groupBy("sub", "code", "pos")
            .agg(F.avg("x").alias("mu"))
            .groupBy("sub", "code")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm")
            )
            .select("sub", "code", F.col("pm.mu").alias("cw"))
            .collect()
        )
        for r in new:
            codebooks[r.sub][r.code] = [float(x) for x in r.cw]
    return codebooks, sv


def pq_encode(sv: DataFrame, codebooks) -> DataFrame:
    """(id, codes array<int>) — the compressed corpus: m small ints per
    vector (here 8 codes = 8 bytes vs 256 bytes of float32), the whole
    point of PQ at 100 TB."""
    return (
        _pq_assign(sv, codebooks)
        .groupBy("pq_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("sc")
        )
        .select("pq_id", F.col("sc.code").alias("codes"))
    )


def pq_adc_topk(
    encoded: DataFrame,
    vectors: DataFrame,
    query: list[float],
    codebooks,
    k: int = 10,
    pool: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: the driver builds the (m × K)
    query-to-codeword distance table (model-sized numpy), ships it as a
    LITERAL array, and the compressed corpus is scanned map-side — each
    vector's approximate distance is m table lookups folded in Catalyst
    (zip_with + aggregate, no UDF, no shuffle); the ``pool`` best enter
    an exact float re-rank keyed on id. Returns (vec_id, cos)."""
    import numpy as np

    C = np.asarray(codebooks, dtype=np.float64)  # (m, K, dsub)
    q = np.asarray(query, dtype=np.float64)
    m, K, dsub = C.shape
    qs = q.reshape(m, dsub)
    table = ((C - qs[:, None, :]) ** 2).sum(axis=2)  # (m, K)
    T = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in table]
    )
    dist = F.aggregate(
        F.zip_with(
            F.sequence(F.lit(1), F.lit(m)),
            F.col("codes"),
            lambda s, c: F.element_at(F.element_at(T, s.cast("int")), c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cand = (
        encoded.select("pq_id", dist.alias("adc"))
        .orderBy("adc", "pq_id")
        .limit(pool)
    )
    qcol = F.array(*[F.lit(float(x)) for x in query])
    exact = cand.join(
        vectors.select(F.col(id_col).alias("pq_id"), F.col(vec_col).alias("v")),
        "pq_id",
    ).select(
        F.col("pq_id").alias(id_col),
        F.round(cosine(F.col("v"), qcol), 6).alias("cos"),
    )
    return exact.orderBy(F.desc("cos"), id_col).limit(k)
