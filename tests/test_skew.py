"""Skew-resilience tests (VERDICT r1 item 8): a corpus where ~30% of
documents are byte-identical creates the worst-case hot key for every
near-dup pipeline — one hot LSH band bucket, one hot SimHash band, hot
prefix shingles. The pipelines must (a) stay EXACT (the quadratic
C(hot, 2) pair set is the true answer, not a blowup artifact), and
(b) finish in bounded time because the skew machinery — AQE skew-join
splitting plus the PPJoin rare-first prefix ordering, which is the
salting-equivalent for the shingle join — keeps per-task work bounded.
"""

from __future__ import annotations

import time

import pytest

from csv2parquet_spark.operators import dedup as D

HOT = 150  # 150 of 500 docs identical → 30% hot key
EXPECTED_PAIRS = HOT * (HOT - 1) // 2


@pytest.fixture(scope="module")
def hot_corpus(spark):
    hot = [
        (i, "the same hot duplicated document body repeated many times across the corpus")
        for i in range(HOT)
    ]
    uniq = [
        (
            1000 + i,
            f"unique doc {i} alpha{i} beta{i * 7} gamma{i * 11} "
            f"delta{i * 13} epsilon{i * 17} zeta{i * 19}",
        )
        for i in range(350)
    ]
    return spark.createDataFrame(hot + uniq, "doc_id bigint, text string")


def test_session_enables_aqe_skew_handling(spark):
    """The engine session must ship with runtime skew handling on — at
    100 TB a skewed verify join is re-split by AQE, not hand-tuned."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"


@pytest.mark.parametrize(
    "name,run",
    [
        ("jaccard", lambda df: D.ngram_jaccard_pairs(df, threshold=0.8)),
        ("minhash", lambda df: D.minhash_near_dups(df, threshold=0.8)),
        ("simhash", lambda df: D.simhash_near_dups(df, max_hamming=0)),
    ],
)
def test_hot_key_near_dup_exact_and_bounded(hot_corpus, name, run):
    """30% identical docs: every pipeline must return EXACTLY the
    C(150,2) true pairs (hot keys must not drop or duplicate pairs) and
    complete in bounded wall time (generous cap — the point is 'does not
    degenerate', not a micro-benchmark)."""
    t0 = time.time()
    got = run(hot_corpus).count()
    wall = time.time() - t0
    assert got == EXPECTED_PAIRS, f"{name}: {got} != {EXPECTED_PAIRS}"
    assert wall < 60, f"{name} degenerated on hot key: {wall:.1f}s"


def test_hot_key_candidates_do_not_multiply(hot_corpus):
    """The PPJoin position filter must emit each hot pair ~once: the
    hot docs share every prefix shingle, so a naive prefix join would
    yield |prefix|× duplicates of each pair before the distinct. The
    positional upper-bound filter prunes those occurrences; candidate
    multiplicity stays a small constant (measured ~1 for identical
    docs at threshold 0.8)."""
    from pyspark.sql import functions as F

    dsa = D.doc_shingle_arrays(hot_corpus).localCheckpoint()
    # Reproduce the rare-first prefix relation the operator builds.
    ex = dsa.select("id", "sz", F.explode("sset").alias("shingle"))
    freq = ex.groupBy("shingle").agg(F.count("*").alias("df_freq"))
    ranked = (
        ex.join(freq, "shingle")
        .groupBy("id")
        .agg(
            F.first("sz").alias("sz"),
            F.array_sort(F.collect_list(F.struct("df_freq", "shingle"))).alias("rk"),
        )
    )
    plen = D._prefix_len(0.8)
    prefix = ranked.select(
        "id",
        "sz",
        F.posexplode(
            F.slice(F.transform("rk", lambda x: x["shingle"]), F.lit(1), plen)
        ).alias("pos", "shingle"),
    )
    a = prefix.select(
        F.col("id").alias("id_a"), F.col("sz").alias("pa_sz"), F.col("pos").alias("pa_pos"), "shingle"
    )
    b = prefix.select(
        F.col("id").alias("id_b"), F.col("sz").alias("pb_sz"), F.col("pos").alias("pb_pos"), "shingle"
    )
    maxo = F.least(F.col("pa_sz") - F.col("pa_pos"), F.col("pb_sz") - F.col("pb_pos"))
    ub = maxo.cast("double") / (F.col("pa_sz") + F.col("pb_sz") - maxo)
    pre_distinct = (
        a.join(b, "shingle")
        .filter((F.col("id_a") < F.col("id_b")) & (ub >= F.lit(0.8) - F.lit(1e-9)))
        .count()
    )
    assert pre_distinct <= 3 * EXPECTED_PAIRS, (
        f"position filter failed to bound hot-key candidates: "
        f"{pre_distinct} occurrences for {EXPECTED_PAIRS} true pairs"
    )


def test_inverted_index_postings_bounded_for_stopword(spark):
    """A stopword appearing in EVERY document must not accumulate a
    corpus-sized postings array: the rank-limit runs before collection,
    so the stored postings stay at <= 20 entries while df still counts
    every document."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n_docs = 400
    docs = spark.createDataFrame(
        [(i, f"the unique{i} token") for i in range(n_docs)],
        "doc_id bigint, text string",
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    per = toks.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("tok").orderBy("doc_id")
    ranked = per.withColumn("rn", F.row_number().over(w))
    out = (
        ranked.groupBy("tok")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(F.col("rn") <= 20, F.col("doc_id")))
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("tok").isin("the", "token"))
        .collect()
    )
    by_tok = {r.tok: r for r in out}
    for t in ("the", "token"):
        assert by_tok[t].df == n_docs
        assert len(by_tok[t].postings.split(",")) == 20  # capped, not 400
        assert by_tok[t].postings.split(",")[0] == "0"   # lowest doc_ids kept


def test_salted_join_splits_hot_key_and_matches_plain_join(spark):
    """salted_join on a 30%-hot-key fixture: (a) result identical to
    the plain join, (b) the hot key's rows really are spread across the
    r sub-keys — max (key, salt) group is ~hot/r, never the whole hot
    key on one reducer key."""
    from pyspark.sql import functions as F

    from csv2parquet_spark.operators.skewjoin import salted_join, _SALT

    r = 8
    hot = [(0, f"p{i}") for i in range(4000)]
    cold = [(1 + i % 100, f"q{i}") for i in range(8000)]
    big = spark.createDataFrame(hot + cold, "k bigint, payload string")
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(101)], "k bigint, name string"
    )

    got = sorted(
        map(tuple, salted_join(big, small, "k", r=r).collect())
    )
    want = sorted(map(tuple, big.join(small, "k").collect()))
    assert got == want

    salted = big.withColumn(
        _SALT, F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(r))
    )
    sizes = (
        salted.groupBy("k", _SALT).count().filter(F.col("k") == 0).collect()
    )
    assert len(sizes) == r, "hot key must occupy every salt sub-key"
    assert max(x["count"] for x in sizes) < 4000 / r * 1.5


def test_salted_join_hot_splits_only_hot_keys(spark):
    """salted_join_hot on the same 30%-hot-key fixture: (a) result
    identical to the plain join (the unmatched key drops out), (b) only
    the hot key takes the salted path — the cold small side is not
    replicated."""
    from csv2parquet_spark.operators.skewjoin import salted_join_hot

    hot = [(0, f"p{i}") for i in range(4000)]
    cold = [(1 + i % 100, f"q{i}") for i in range(8000)]
    unmatched = [(999, "lonely")]
    big = spark.createDataFrame(hot + cold + unmatched, "k bigint, payload string")
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(101)], "k bigint, name string"
    )
    got = sorted(
        map(tuple, salted_join_hot(big, small, "k", r=8,
                                   hot_threshold=1000).collect())
    )
    want = sorted(map(tuple, big.join(small, "k").collect()))
    assert got == want
