"""Deduplication operators (SURVEY.md §2.8): exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design (the point of each implementation):

* **Exact dedup** groups on a hash of the text, not the text itself —
  the shuffle moves 16-byte keys, not documents. At 100 TB this is the
  difference between a feasible and an infeasible exchange.
* **Per-doc shingle sets are built row-at-a-time** (`array_distinct` +
  `transform`/`xxhash64` inside codegen) — ZERO shuffle to shingle the
  corpus. Shingles travel as 8-byte hashes, never strings, so every
  downstream exchange is fixed-width. (xxhash64 collisions are the only
  approximation; at 2^64 the expected collision count is ~0 below
  trillions of distinct shingles.)
* **MinHash signatures** are per-row array folds over the shingle set —
  no explode, no groupBy: the signature job is embarrassingly parallel.
  LSH banding then buckets with one explode + one self-join; candidate
  pairs are verified with exact Jaccard so the output is
  seeded-deterministic.
* **n-gram Jaccard** uses the PPJoin/AllPairs prefix principle for
  candidate generation (rarest-first global ordering; only prefix
  shingles enter the self-join) and array-intersection verification, so
  neither the pair space nor the verify shuffle is quadratic.
* **SimHash** computes the 64-bit signature per-row from the hashed
  token array, then blocks on 16-bit bands for Hamming-distance
  candidate generation (pigeonhole-complete at radius 3).
* All pair-joins emit ``a < b`` once, and block within a cheap
  partition key (band / bucket / prefix shingle) so the join never goes
  quadratic in the corpus, only in the bucket.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv2parquet_spark.operators.scan import parallelize_scan as _parallelize_scan
from csv2parquet_spark.operators.text import shingles, tokens

# IEEE-double guard for threshold arithmetic at exact-boundary cases:
# 0.435*1000 = 435.00000000000006 in doubles, so a bare ceil(t*sz) would
# overshoot and shorten the PPJoin prefix by one (silently missing true
# pairs with J == threshold). Subtracting EPS before ceil / comparisons
# keeps every mathematically-qualifying pair; it can only ADD candidates,
# and verification computes exact Jaccard, so the output stays exact.
_EPS = 1e-9


def _prefix_len(threshold: float):
    """PPJoin prefix length |A| - ceil(t*|A|) + 1, FP-safe."""
    return (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(_EPS)) + 1
    ).cast("int")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep-first exact dedup: one row per distinct text, smallest id wins.

    Returns (keep_id, n_copies, fp) — fp = md5 of the text.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies", "fp")
    )


def doc_shingle_arrays(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3,
    sort: bool = False,
) -> DataFrame:
    """(id, sset: array<bigint>, sz) — each doc's distinct k-token shingle
    set as xxhash64 values, built entirely inside a per-row projection.

    No shuffle: tokenize → shingle → array_distinct → hash all happen in
    whole-stage codegen over the scan. This is the shared input relation
    for Jaccard and MinHash; docs too short to have a shingle are dropped
    (they cannot match anything).

    ``sort=True`` stores each array ASCENDING (r11): the hash-order
    prefix path needs sorted sets, and sorting here — once, before the
    relation is checkpointed — replaces an ``array_sort`` re-computed
    on BOTH sides of the prefix self-join. A set is order-free, so
    every consumer (intersection verify, MinHash aggregate, explode)
    reads identical values either way.
    """
    hashed = F.transform(
        F.array_distinct(shingles(tokens(text_col), k)), lambda s: F.xxhash64(s)
    )
    if sort:
        hashed = F.array_sort(hashed)
    return (
        _parallelize_scan(df)
        .select(F.col(id_col).alias("id"), hashed.alias("sset"))
        .withColumn("sz", F.size("sset"))
        .filter(F.col("sz") > 0)
    )


def _verify_jaccard(cand: DataFrame, dsa: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs against the per-doc
    shingle arrays; emits pairs with J ≥ threshold.

    Verification is array-at-a-time: the doc-array relation is hash-joined
    to the candidates on doc id (AQE broadcasts it when it fits) and the
    exact overlap is ``size(array_intersect(...))`` per pair. The
    alternative — re-exploding candidates against the shingle relation —
    shuffles |cand| × |shingles per doc| rows; this shuffles |cand| pairs
    plus the doc-sized relation. A length prefilter
    (J ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|)) drops size-mismatched pairs
    before any intersection is computed.
    """
    return (
        cand.join(
            dsa.select(
                F.col("id").alias("id_a"),
                F.col("sset").alias("set_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            dsa.select(
                F.col("id").alias("id_b"),
                F.col("sset").alias("set_b"),
                F.col("sz").alias("sz_b"),
            ),
            "id_b",
        )
        .filter(
            F.greatest("sz_a", "sz_b") * F.lit(threshold) - F.lit(_EPS)
            <= F.least("sz_a", "sz_b")
        )
        .withColumn("common", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "jaccard_exact",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        # Threshold on the UNROUNDED value (rounding first would admit
        # pairs up to 5e-7 below threshold); round only in the output.
        .filter(F.col("jaccard_exact") >= threshold)
        .withColumn("jaccard", F.round("jaccard_exact", 6))
        .select("id_a", "id_b", "common", "sz_a", "sz_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    prefix_filter: bool = True,
    order: str = "rare_first",
    pair_filter=None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join (all pairs with J ≥ threshold).

    With ``prefix_filter`` (the scale path — the PPJoin/AllPairs prefix
    principle from the set-similarity-join literature): order each doc's
    shingles rarest-first globally; two sets with J ≥ t must share a
    shingle within each other's first ``|A| - ceil(t·|A|) + 1`` shingles,
    so the candidate self-join runs only on those prefixes. Rare-first
    ordering makes prefix join keys low-frequency — the hot-key blowup of
    a naive shingle self-join (common shingles shared by thousands of
    docs) disappears, and the verify step touches only surviving pairs.
    Output is EXACT either way (verification recomputes true Jaccard).

    ``order`` picks the global shingle order the prefix principle needs
    (any CONSISTENT total order is correct):

    * ``"rare_first"`` (default) — global document-frequency order.
      Costs one frequency groupBy + one groupBy(id) re-sort, but
      guarantees prefix join keys are the corpus's RAREST shingles —
      the only safe choice on heavy-tailed real text, where a stopword
      shingle in prefixes makes the self-join quadratic per hot key.
    * ``"hash"`` — the xxhash64 values already in the set arrays,
      sorted per-row. ZERO extra shuffles (the prefix is a pure
      projection off the doc arrays) and the positional filter still
      prunes hard; right when shingle frequencies are near-uniform.

    Both orders produce identical final output (verification is exact).

    ``pair_filter``: optional Column predicate over (``id_a``, ``id_b``)
    applied at the CANDIDATE stage, before the exact-Jaccard verify —
    for callers that only want a subset of the pair space (e.g.
    incremental dedup's batch×corpus pairs), the discarded pairs then
    never pay shingle-set intersection. Output equals filtering the
    unrestricted result with the same predicate.
    """
    # localCheckpoint, not cache: the shingle relation feeds three
    # consumers (prefix stage + both verify sides); a lineage-truncating
    # block-manager materialization (memory, spilling to local disk)
    # builds it ONCE without keeping a re-plannable in-memory columnar
    # copy — measured ~1.6× over recompute and faster than cache() at
    # sf0.1, and it is the reuse shape that survives 100 TB (spillable).
    # hash order: store the arrays pre-sorted so the checkpoint holds
    # them sorted ONCE instead of both prefix join sides re-sorting
    # (r11; identical set values — see doc_shingle_arrays)
    dsa = doc_shingle_arrays(
        df, text_col, id_col, k, sort=prefix_filter and order == "hash"
    ).localCheckpoint()
    if prefix_filter and order == "hash":
        plen = _prefix_len(threshold)
        prefix = dsa.select(
            "id",
            "sz",
            F.posexplode(F.slice("sset", F.lit(1), plen)).alias(
                "pos", "shingle"
            ),
        )
    elif prefix_filter:
        ex = dsa.select("id", "sz", F.explode("sset").alias("shingle"))
        freq = ex.groupBy("shingle").agg(F.count("*").alias("df_freq"))
        ranked = (
            ex.join(freq, "shingle")
            .groupBy("id")
            .agg(
                F.first("sz").alias("sz"),
                F.array_sort(F.collect_list(F.struct("df_freq", "shingle"))).alias(
                    "rk"
                ),
            )
        )
        plen = _prefix_len(threshold)
        prefix = ranked.select(
            "id",
            "sz",
            F.posexplode(
                F.slice(F.transform("rk", lambda x: x["shingle"]), F.lit(1), plen)
            ).alias("pos", "shingle"),
        )
    if prefix_filter:
        a = prefix.select(
            F.col("id").alias("id_a"),
            F.col("sz").alias("pa_sz"),
            F.col("pos").alias("pa_pos"),
            "shingle",
        )
        b = prefix.select(
            F.col("id").alias("id_b"),
            F.col("sz").alias("pb_sz"),
            F.col("pos").alias("pb_pos"),
            "shingle",
        )
        # PPJoin position filter: a pair sharing a prefix shingle at
        # (0-based) positions i, j can overlap in at most
        # min(|A|-i, |B|-j) elements, so J ≤ maxo/(|A|+|B|-maxo); drop
        # occurrences whose bound is already below the threshold.
        maxo = F.least(
            F.col("pa_sz") - F.col("pa_pos"), F.col("pb_sz") - F.col("pb_pos")
        )
        ub = maxo.cast("double") / (F.col("pa_sz") + F.col("pb_sz") - maxo)
        cand = (
            a.join(b, "shingle")
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & (ub >= F.lit(threshold) - F.lit(_EPS))
            )
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        prefix = dsa.select("id", F.explode("sset").alias("shingle"))
        a = prefix.select(F.col("id").alias("id_a"), "shingle")
        b = prefix.select(F.col("id").alias("id_b"), "shingle")
        cand = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    if pair_filter is not None:
        cand = cand.filter(pair_filter)
    return _verify_jaccard(cand, dsa, threshold)


def _minhash_sig_col(sset, num_perm: int):
    """array<bigint> MinHash signature of a shingle-set column: per
    permutation i, min over the set of xxhash64(shingle, seed=i). Pure
    per-row expression — no shuffle anywhere in the signature job.

    Computed as ONE fold over the shingle set with a num_perm-wide
    accumulator (zip_with least against the per-shingle hash row)
    rather than num_perm separate array passes — same values, single
    traversal of the set in the interpreted HOF evaluator.
    """
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("bigint"), num_perm)
    return F.aggregate(
        sset,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(i)) for i in range(num_perm)]),
            lambda a, b: F.least(a, b),
        ),
    )


def _minhash_sig_pandas(num_perm: int):
    """Arrow-batched pandas UDF computing the same signature as
    :func:`_minhash_sig_col`, bit-exactly, in vectorized numpy.

    The Catalyst fold is the right *topology* (map-only, no shuffle) but
    runs in Spark's interpreted higher-order-function evaluator —
    num_perm lambda evaluations per shingle dominate CPU at scale. This
    kernel replicates Spark's ``xxhash64(shingle, lit(i))`` — which is
    ``XXH64.hashInt(i, XXH64.hashLong(shingle, 42))`` (multi-arg
    xxhash64 folds each argument with the running hash as seed;
    ``lit(i)`` is an int32, so the outer round is the 4-byte variant) —
    as two vectorized XXH64 rounds over the whole Arrow batch, then
    per-doc signed minima via ``minimum.reduceat``. Identity with the
    Catalyst twin is pinned by tests/test_operators.py.

    NB: every op stays on uint64 *arrays* — numpy scalar uint64
    arithmetic silently promotes to float64 on mixed operands, which
    corrupts the hash.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def _sig(ssets: pd.Series) -> pd.Series:
        import numpy as np

        np.seterr(over="ignore")
        P1 = np.uint64(0x9E3779B185EBCA87)
        P2 = np.uint64(0xC2B2AE3D27D4EB4F)
        P3 = np.uint64(0x165667B19E3779F9)
        P4 = np.uint64(0x85EBCA77C2B2AE63)
        P5 = np.uint64(0x27D4EB2F165667C5)
        C64 = np.uint64(64)

        def rotl(x, r):
            r = np.uint64(r)
            return (x << r) | (x >> (C64 - r))

        def fmix(acc):
            acc ^= acc >> np.uint64(33)
            acc *= P2
            acc ^= acc >> np.uint64(29)
            acc *= P3
            acc ^= acc >> np.uint64(32)
            return acc

        # Per-permutation constant: the input-lane term of the OUTER
        # hashInt(i, seed=h1) depends only on i (zero-extended int32).
        perms = np.arange(num_perm, dtype=np.uint64)
        k_perm = perms * P1  # (num_perm,)

        init = np.int64((1 << 63) - 1)
        lens = np.fromiter((len(s) for s in ssets), dtype=np.int64, count=len(ssets))
        out = np.full((len(ssets), num_perm), init, dtype=np.int64)
        nonempty = np.flatnonzero(lens > 0)
        if nonempty.size:
            flat = np.concatenate(
                [np.asarray(ssets.iloc[i], dtype=np.int64) for i in nonempty]
            ).view(np.uint64)
            # inner: h1 = hashLong(shingle, 42)
            acc = np.uint64(42) + P5 + np.uint64(8)
            acc = acc ^ (rotl(flat * P2, 31) * P1)
            h1 = fmix(rotl(acc, 27) * P1 + P4)  # (total,)
            # outer: sig_lane = hashInt(i, h1)  → (total, num_perm)
            m = fmix(rotl((h1[:, None] + P5 + np.uint64(4)) ^ k_perm[None, :], 23) * P2 + P3)
            offsets = np.zeros(nonempty.size, dtype=np.int64)
            np.cumsum(lens[nonempty][:-1], out=offsets[1:])
            out[nonempty] = np.minimum.reduceat(m.view(np.int64), offsets, axis=0)
        return pd.Series(list(out))

    return _sig


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    impl: str = "pandas",
) -> DataFrame:
    """MinHash signatures: (id, array<bigint> sig[num_perm]).

    Permutation i is ``xxhash64(shingle, seed=i)``; the signature is the
    per-doc min of each. Map-only either way (embarrassingly parallel at
    any scale); ``impl`` picks the kernel:

    * ``"pandas"`` (default) — Arrow-batched numpy XXH64, the scale path
      (the Catalyst fold evaluates interpreted, ~num_perm lambda calls
      per shingle).
    * ``"catalyst"`` — the pure-expression fold; bit-identical output,
      kept as the oracle twin and for environments without Arrow."""
    dsa = doc_shingle_arrays(df, text_col, id_col, k)
    return _signatures_from_arrays(dsa, num_perm, impl)


def _signatures_from_arrays(dsa: DataFrame, num_perm: int, impl: str) -> DataFrame:
    if impl == "pandas":
        sig = _minhash_sig_pandas(num_perm)(F.col("sset"))
    elif impl == "catalyst":
        sig = _minhash_sig_col(F.col("sset"), num_perm)
    else:
        raise ValueError(f"unknown minhash impl {impl!r}")
    return dsa.select("id", sig.alias("sig"))


def minhash_lsh_candidates(
    sig_df: DataFrame, num_perm: int = 32, bands: int = 8,
    bucket_mode: str = "hash",
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows of
    ``num_perm // bands`` hashes, bucket by (band_idx, band_hash), and
    emit candidate pairs per bucket. Pairs are distinct (id_a < id_b).

    ``bucket_mode`` picks the bucket key: ``"hash"`` (default) folds the
    band's values through one more xxhash64 — an 8-byte shuffle key, the
    scale path (a 2^-64 collision adds a spurious CANDIDATE only, which
    downstream exact verification then rejects or legitimately keeps);
    ``"tuple"`` keys on the band values themselves (comma-joined string)
    — collision-free by construction, so the candidate set is exactly
    "pairs agreeing on some band" and is reproducible in portable SQL
    (the property the DuckDB-oracle query variants need)."""
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}); "
            "trailing signature hashes would be silently ignored, reducing "
            "LSH recall below the requested permutation count"
        )
    rows_per_band = num_perm // bands
    if bucket_mode == "hash":
        def _bucket(b):
            return F.xxhash64(*[F.element_at("sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)])
    elif bucket_mode == "tuple":
        def _bucket(b):
            return F.concat_ws(
                ",",
                *[F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                  for r in range(rows_per_band)],
            )
    else:
        raise ValueError(f"unknown bucket_mode {bucket_mode!r}")
    band_arrays = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _bucket(b).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    buckets = sig_df.select("id", F.explode(band_arrays).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = buckets.select(F.col("id").alias("id_a"), "band", "bucket")
    b = buckets.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    impl: str = "pandas",
) -> DataFrame:
    """MinHash-LSH near-dup pipeline with exact-Jaccard verification of
    candidates (so the result is deterministic given the seeds, and
    identical across ``impl`` kernels)."""
    # Shared by the signature job and both verify sides — see the
    # localCheckpoint note in ngram_jaccard_pairs.
    dsa = doc_shingle_arrays(df, text_col, id_col, k).localCheckpoint()
    # sig feeds BOTH sides of the bucket self-join — checkpoint so the
    # signature job runs once (the relation is n_docs × num_perm × 8 B,
    # tiny relative to the corpus, and spillable).
    sig = _signatures_from_arrays(dsa, num_perm, impl).localCheckpoint()
    cand = minhash_lsh_candidates(sig, num_perm, bands)
    return _verify_jaccard(cand, dsa, threshold).select("id_a", "id_b", "jaccard")


def minhash_near_dups_exprs(
    df: DataFrame,
    perm_hashers,
    threshold: float = 0.5,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline over an EXPLICIT permutation-hash
    family: ``perm_hashers`` is a list of Column builders (shingle
    string → any ORDERABLE hash value — int64, or a fixed-width
    lowercase-hex slice, whose lexicographic min equals the numeric
    min), one per permutation, evaluated JVM-side.

    Same topology as :func:`minhash_near_dups` — map-side signature
    construction (the min-agg is partial, so the corpus shuffle carries
    ``len(perm_hashers)`` longs per doc), tuple-keyed banding
    (collision-free, see :func:`minhash_lsh_candidates`), exact-Jaccard
    verification of candidates — but with a hash family the caller can
    reproduce outside Spark (e.g. md5 slices, which portable SQL can
    compute; xxhash64 it cannot). The xxhash64 + Arrow-kernel variant
    stays the throughput path; this one exists so the END-TO-END
    pipeline (signatures → bands → candidates → verify) is checkable
    against an independent engine, not just the signature step.

    Output: (id_a, id_b, common, sz_a, sz_b, jaccard) for pairs with
    exact Jaccard ≥ threshold among band-sharing candidates.
    """
    cand = minhash_candidates_exprs(df, perm_hashers, bands, text_col, id_col, k)
    dsa = doc_shingle_arrays(df, text_col, id_col, k).localCheckpoint()
    return _verify_jaccard(cand, dsa, threshold)


def minhash_candidates_exprs(
    df: DataFrame,
    perm_hashers,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """The CANDIDATE stage of :func:`minhash_near_dups_exprs` —
    signatures over the explicit permutation-hash family, tuple-keyed
    banding, distinct band-sharing (id_a < id_b) pairs, NO Jaccard
    verify. Split out so recall/precision audits can measure the raw
    candidate set against exact ground truth."""
    n = len(perm_hashers)
    # DISTINCT shingles per doc: the per-perm min is set semantics, so
    # duplicate occurrences only repeat hash work — array_distinct in
    # the same projection drops them before any hashing.
    # _parallelize_scan: a single-file scan is one task; the md5 work
    # must spread across cores before the explode.
    sh = _parallelize_scan(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(tokens(text_col), k))).alias("s"),
    )
    sigs = (
        sh.groupBy("id")
        .agg(*[F.min(h(F.col("s"))).alias(f"m{i}") for i, h in enumerate(perm_hashers)])
        .select("id", F.array(*[f"m{i}" for i in range(n)]).alias("sig"))
    )
    return minhash_lsh_candidates(sigs, num_perm=n, bands=bands, bucket_mode="tuple")


def connected_components(
    edges: DataFrame, max_iter: int = 20, algorithm: str = "propagation"
) -> DataFrame:
    """Connected components of an undirected pair graph — the step that
    turns near-dup PAIRS into dedup CLUSTERS (keep min-id per cluster).

    ``algorithm="propagation"`` (default): iterative min-label
    propagation — every vertex takes the minimum component id among
    itself and its neighbors until fixpoint (hash-join + groupBy per
    round, O(graph diameter) rounds; near-dup graphs are shallow).
    ``algorithm="star"``: alternating large-star/small-star (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond") — same
    output, O(log n) rounds regardless of diameter; pick it when the
    pair graph may contain long chains (adversarial near-dup chains,
    transitive fuzzy matches). Property-tested equivalent to the
    propagation fixpoint on random graphs (tests/test_properties.py).

    ``localCheckpoint`` truncates the lineage each round so the plan
    doesn't grow with iterations; the fixpoint check rides the SAME
    materialization job via ``observe`` (sum of per-row changed flags
    collected by task listeners), so each round is ONE pass over the
    label relation — the old separate old-vs-new join re-read both
    label sets per round, a whole extra vertex-set scan at scale.
    Input: (id_a, id_b); output: (id, component) for every vertex that
    appears in an edge.
    """
    if algorithm == "star":
        return _connected_components_star(edges, max_iter)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    from pyspark.sql import Observation

    # Checkpoint the CALLER'S edge plan first (r11, the pagerank_fixed
    # fix): sym and the label init both derive from it, and without
    # this the labels materialization and the symmetrized edge relation
    # each re-executed the whole upstream pair pipeline (for the
    # near-dup callers that is the PPJoin verify — profiled as two
    # extra 8-9 s array_intersect passes in dedup_keep_best_quality).
    e0 = edges.select("id_a", "id_b").localCheckpoint()
    # Scale-adaptive layout for the per-round edge map (a small pair
    # graph inherits ~2× the parent's partition count through the
    # union; ~20 near-empty tasks per round is pure scheduler constant
    # at small SF). coalesce is narrow — no shuffle — and the gate
    # leaves any data-sized pair graph at its natural parallelism.
    #
    # NOTE (r12 measured negative): the graph-family treatment —
    # materialize sym ONCE hash(id_b)-partitioned with the
    # partition-preserving checkpoint (+ co-partitioned labels) so the
    # per-round state join stops re-exchanging sym — was A/B'd here
    # and reverted: near-dup pair graphs are tiny (nparts=1 at sf0.1)
    # and run 2-4 rounds, so the extra sym materialization job and
    # labels-init exchange cost MORE than the saved per-round
    # exchanges (interleaved stash A/B ×3: keep_best best 2.90→3.31 s,
    # dedup_clusters 2.96→3.53 s). The narrow re-derive from e0 blocks
    # per round stays; LPA/BFS keep the partitioned shape because
    # their edge relations are corpus-derived (E >> V), not
    # candidate-pair-sized.
    n_edges = e0.count()  # one cheap scan of the checkpoint blocks
    sc = e0.sparkSession.sparkContext
    sym = e0.union(
        e0.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    if n_edges < 50_000 * sc.defaultParallelism:
        sym = sym.coalesce(
            max(1, min(sc.defaultParallelism, 1 + n_edges // 50_000))
        )
    labels = (
        sym.select(F.col("id_a").alias("id")).distinct().withColumn("component", F.col("id"))
    ).localCheckpoint()
    for _ in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("id").alias("id_b"), F.col("component").alias("nc")
                ),
                "id_b",
            )
            .groupBy("id_a")
            .agg(F.min("nc").alias("nmin"))
            .select(F.col("id_a").alias("id"), "nmin")
        )
        obs = Observation()
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nmin", F.col("component"))
                ).alias("new_component"),
                F.col("component").alias("old_component"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("new_component") != F.col("old_component")).cast(
                        "long"
                    )
                ).alias("n_changed"),
            )
            .select("id", F.col("new_component").alias("component"))
            .localCheckpoint()
        )
        changed = int(obs.get["n_changed"] or 0)
        labels = new_labels
        if changed == 0:
            break
    else:
        import warnings

        warnings.warn(
            f"connected_components hit max_iter={max_iter} without reaching "
            "the fixpoint — returned components may be over-split; raise "
            "max_iter (rounds needed ~ graph diameter)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def _connected_components_star(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Alternating large-star / small-star rounds until the edge set is
    a fixed star forest (child → component-min), then read the labels
    off the edges.

    Per round both operations are one groupBy(min) + one join over the
    EDGE relation only (never the corpus): large-star hangs every
    neighbor larger than u onto min(Γ(u) ∪ {u}); small-star re-hangs the
    smaller-or-equal neighborhood onto its min. Kiveris et al. 2014
    prove convergence in O(log n) alternations with monotone edge-value
    decrease — the deep-chain cure the propagation variant lacks."""
    # Checkpoint the caller's edge plan first (r11): sym, vertices and
    # the oriented E all derive from it — without this each derived
    # materialization re-executed the upstream pair pipeline.
    e0 = edges.select("id_a", "id_b").localCheckpoint()
    sym = (
        e0.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .union(
            e0.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")).filter(
                F.col("u") != F.col("v")
            )
        )
        .distinct()
    )
    # Every vertex appearing in ANY edge (self-loops included — a
    # vertex whose only edge is (x, x) is its own singleton component).
    vertices = (
        e0.select(F.col("id_a").alias("id"))
        .union(e0.select(F.col("id_b").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    # Oriented invariant between rounds: E holds (u, v) with u > v.
    E = sym.filter(F.col("u") > F.col("v")).distinct().localCheckpoint()

    for _ in range(max_iter):
        # Large-star over the symmetric view of E: for every center u,
        # attach each neighbor v > u to m = min(neighbors(u) ∪ {u}).
        symE = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = symE.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            symE.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Small-star: edges already oriented (u > v); re-hang u and its
        # smaller neighborhood onto the neighborhood min.
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        changed = (
            small.exceptAll(E).limit(1).count() + E.exceptAll(small).limit(1).count()
        )
        E = small
        if changed == 0:
            break
    else:
        import warnings

        warnings.warn(
            f"connected_components(star) hit max_iter={max_iter} before the "
            "star forest stabilized — components may be over-split",
            RuntimeWarning,
            stacklevel=3,
        )
    # At the star fixpoint every child has exactly one out-edge (to its
    # root); the min-agg is defensive for the max_iter-exceeded path.
    labels = E.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("component"))
    return vertices.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64,
    hasher=None, on_null: str = "raise",
) -> DataFrame:
    """``bits``-bit SimHash per document, computed per-row (map-only, no
    explode, no shuffle).

    Token hash = ``hasher(token)`` — default ``xxhash64``, computed
    JVM-side in Catalyst so the hash function is identical everywhere
    it's used. Pass a different Column builder (e.g. an md5-slice — see
    queries/llm_ops.simhash_near_dups) with a matching ``bits`` width
    when the hash family must be reproducible outside Spark; the kernel
    only assumes the hash's low ``bits`` bits are the signature domain.
    Bit b of the signature is the majority of bit b over the doc's token
    hashes (repeats count). The per-bit counting runs as an
    Arrow-batched pandas UDF: the pure-expression alternative (64
    higher-order ``filter`` passes per row) evaluates in Spark's
    interpreted HOF path — ~17M lambda evaluations at 5k docs — while
    numpy unpacks all 64 bit-planes of a doc in one vectorized op. This
    is the documented exception to "built-ins first": the built-in
    formulation cannot reach codegen.

    ``on_null="skip"`` drops NULL-``text_col`` rows before the kernel,
    counting them via an Observation (see operators/null_policy.py);
    the default ``"raise"`` keeps the loud contract below.
    """
    from pyspark.sql.functions import pandas_udf

    from csv2parquet_spark.operators.null_policy import check_on_null, skip_nulls

    check_on_null(on_null)
    if on_null == "skip":
        df = skip_nulls(df, [text_col], "simhash_signatures")

    @pandas_udf("bigint")
    def _simhash(harrs: pd.Series) -> pd.Series:
        import numpy as np

        if harrs.isna().any():
            # Actionable contract error instead of a bare numpy
            # traceback (r9 NULL-twin audit adjudication: loud reject,
            # same discipline as the LSH/cluster kernels).
            raise ValueError(
                "simhash signatures: NULL token arrays in the input "
                f"(NULL '{text_col}' rows) — filter them first "
                f"(df.filter(F.col('{text_col}').isNotNull()))"
            )
        out = np.zeros(len(harrs), dtype=np.uint64)
        shifts = np.arange(bits, dtype=np.uint64)
        for i, h in enumerate(harrs):
            a = np.asarray(h, dtype=np.int64).view(np.uint64)
            if a.size == 0:
                continue
            # bit-plane popcounts: (n_tokens × bits) 0/1 matrix summed per bit
            pos = ((a[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            out[i] = np.uint64(((2 * pos) > a.size) @ (np.uint64(1) << shifts))
        return pd.Series(out.view(np.int64))

    if hasher is None:
        hasher = F.xxhash64
    return _parallelize_scan(df).select(
        F.col(id_col).alias("id"),
        _simhash(F.transform(tokens(text_col), lambda x: hasher(x))).alias(
            "simhash"
        ),
    )


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hasher=None,
    n_bands: int = 4,
    on_null: str = "raise",
) -> DataFrame:
    """SimHash near-dup pairs: block on ``n_bands`` equal-width bands
    (default 4×16-bit over 64 bits — any pair within Hamming ≤ 3 shares
    at least one exact band by pigeonhole over 4 bands), then verify
    Hamming via bit_count(xor). ``bits``/``hasher`` select the hash
    family (see :func:`simhash_signatures`); pigeonhole completeness
    requires ``max_hamming < n_bands``."""
    if bits % n_bands != 0:
        raise ValueError(f"bits ({bits}) must be divisible by n_bands ({n_bands})")
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) >= n_bands ({n_bands}): pigeonhole "
            "blocking would miss pairs with one flipped bit in every band"
        )
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sig = simhash_signatures(
        df, text_col, id_col, bits, hasher, on_null=on_null
    ).localCheckpoint()
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("simhash", b * band_bits).bitwiseAND(F.lit(mask)).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    buckets = sig.select("id", "simhash", F.explode(band_arr).alias("bb")).select(
        "id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = buckets.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bucket")
    b = buckets.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def chunk_level_dedup(
    df: DataFrame,
    size: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph/chunk-level exact dedup with document REASSEMBLY — the
    CCNet shape: documents are split into non-overlapping ``size``-token
    chunks, a chunk survives only at its FIRST occurrence corpus-wide
    (min (doc_id, chunk_idx) per md5, a deterministic total order), and
    every document is rebuilt from its surviving chunks in order.

    Returns (doc_id, n_chunks, n_kept, dedup_fp) where ``dedup_fp`` is
    the md5 of the rebuilt text (narrow output; the rebuilt string never
    leaves the executor). Scale shape: chunking is map-only explode;
    the keep decision is ONE hash-partitioned window over the chunk
    relation (the md5 key spreads uniformly — boilerplate-heavy corpora
    concentrate per md5 VALUE, and a single window partition holds one
    chunk's occurrence list, bounded by its duplication count); the
    rebuild is one groupBy(doc_id) with an ordered conditional
    collect_list. Two shuffles total, both on synthetic keys.
    """
    from csv2parquet_spark.operators.chunking import chunk_documents
    from pyspark.sql.window import Window

    ch = chunk_documents(df, size=size, stride=size, text_col=text_col, id_col=id_col)
    # Arithmetic occurrence key (doc_id·100000 + idx): same total order
    # as the (doc_id, chunk_idx) struct, and expressible identically in
    # the DuckDB oracle. The encoding aliases across documents if a doc
    # ever reaches 100000 chunks (≥1.6M tokens at size 16), which would
    # SILENTLY mark duplicate chunks as first occurrences — so the cap
    # is enforced in-plan: assert_true fails the job loudly instead.
    occ = F.when(
        F.col("chunk_idx") < 100000,
        F.col("doc_id") * 100000 + F.col("chunk_idx"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "chunk_level_dedup: doc exceeds 100000 chunks; the "
                "occurrence-key encoding would alias across documents"
            )
        ).cast("long")
    )
    w = Window.partitionBy(F.md5("chunk_text"))
    k = ch.withColumn("keep", F.min(occ).over(w) == occ)
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("chunk_idx"), F.col("chunk_text"))
    )
    return (
        k.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s.chunk_text,
                    ),
                    " ",
                )
            ).alias("dedup_fp"),
        )
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Exact n-gram CONTAINMENT similarity join: directional pairs
    (id_a, id_b) where |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥
    threshold — A is (near-)contained in B. The asymmetric complement
    of Jaccard: quotes, excerpts, and boilerplate-wrapped copies have
    LOW Jaccard against their source (size mismatch) but containment
    ≈ 1, so a Jaccard-only dedup misses exactly the subset-duplicates
    this finds.

    Scale shape (prefix principle, contained side only): if
    |A∩B| ≥ t·|A|, then ANY |A| − ⌈t·|A|⌉ + 1 elements of A must hit B
    (pigeonhole), so the candidate join runs A's hash-order prefix
    against B's full shingle relation — never prefix×prefix is needed
    and never corpus². A per-occurrence position filter prunes
    further: if the FIRST shared element sits at sorted position p in
    A, the overlap is ≤ |A| − p (no earlier A-element is in B), so
    occurrences with (|A|−p)/|A| < t cannot certify the pair.
    Verification is the same array-at-a-time exact intersect as
    Jaccard, with the length prefilter t·|A| ≤ |B| (the overlap can't
    exceed |B|)."""
    dsa = doc_shingle_arrays(df, text_col, id_col, k).localCheckpoint()
    plen = _prefix_len(threshold)
    prefix = dsa.select(
        "id",
        "sz",
        F.posexplode(F.slice(F.array_sort("sset"), F.lit(1), plen)).alias(
            "pos", "shingle"
        ),
    )
    a = prefix.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("pa_sz"),
        F.col("pos").alias("pa_pos"),
        "shingle",
    )
    full = dsa.select(F.col("id").alias("id_b"), F.explode("sset").alias("shingle"))
    ub = (F.col("pa_sz") - F.col("pa_pos")).cast("double") / F.col("pa_sz")
    cand = (
        a.join(full, "shingle")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (ub >= F.lit(threshold) - F.lit(_EPS))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        cand.join(
            dsa.select(
                F.col("id").alias("id_a"),
                F.col("sset").alias("set_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            dsa.select(
                F.col("id").alias("id_b"),
                F.col("sset").alias("set_b"),
                F.col("sz").alias("sz_b"),
            ),
            "id_b",
        )
        .filter(F.col("sz_a") * F.lit(threshold) - F.lit(_EPS) <= F.col("sz_b"))
        .withColumn("common", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "containment_exact",
            F.col("common").cast("double") / F.col("sz_a"),
        )
        .filter(F.col("containment_exact") >= threshold)
        .withColumn("containment", F.round("containment_exact", 6))
        .select("id_a", "id_b", "common", "sz_a", "sz_b", "containment")
    )
