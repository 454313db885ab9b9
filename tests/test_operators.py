"""Unit tests for the LLM-pipeline operators: shingle edge cases,
MinHash-LSH recall against exact Jaccard, SimHash properties, LSH top-k
vs brute force.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csv2parquet_spark.operators import dedup as D
from csv2parquet_spark.operators import similarity as S
from csv2parquet_spark.operators.text import shingles, tokens
from csv2parquet_spark.tables import table


def test_shingles_short_docs(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",), ("x",)], "text string"
    )
    got = df.select(shingles(tokens("text"), 3).alias("sh")).collect()
    assert got[0].sh == ["a b c", "b c d"]
    assert got[1].sh == []
    assert got[3].sh == []


def test_minhash_lsh_finds_planted_near_dups(spark, sf_dir):
    """Every exact-Jaccard ≥0.8 pair must be recalled by the LSH pipeline
    (at 0.8 similarity with 8 bands × 4 rows, miss probability per pair
    is (1-0.8^4)^8 ≈ 0.8% — the planted pairs at ~0.99 are near-certain)."""
    docs = table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {(r.id_a, r.id_b) for r in D.minhash_near_dups(docs, threshold=0.8).collect()}
    assert exact, "fixture should contain planted near-dups"
    assert lsh == exact  # verification step makes candidates exact


def test_minhash_pandas_kernel_matches_catalyst(spark, sf_dir):
    """The vectorized numpy XXH64 signature kernel must be BIT-IDENTICAL
    to the Catalyst fold (same xxhash64(shingle, lit(i)) semantics) —
    this is what lets the fast path keep the fold as its oracle twin."""
    docs = table(spark, sf_dir, "documents").limit(200)
    fast = {
        r.id: list(r.sig)
        for r in D.minhash_signatures(docs, num_perm=16, impl="pandas").collect()
    }
    slow = {
        r.id: list(r.sig)
        for r in D.minhash_signatures(docs, num_perm=16, impl="catalyst").collect()
    }
    assert fast == slow and fast


def test_minhash_rejects_indivisible_bands(spark):
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id bigint, text string")
    import pytest

    with pytest.raises(ValueError, match="divisible"):
        D.minhash_near_dups(df, num_perm=32, bands=7).collect()


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here")],
        "doc_id bigint, text string",
    )
    pairs = D.simhash_near_dups(df, max_hamming=3).collect()
    assert {(p.id_a, p.id_b, p.hamming) for p in pairs} == {(1, 2, 0)}


def test_minhash_tuple_buckets_match_hash_buckets(spark, sf_dir):
    """bucket_mode="tuple" (collision-free band keys, the SQL-oracle
    path) must produce the same candidate pair set as the default
    xxhash64 band-fold on real signatures — a divergence would mean the
    fold hashes distinct tuples together (or the tuple key conflates
    bands)."""
    docs = table(spark, sf_dir, "documents").limit(300)
    sig = D.minhash_signatures(docs, num_perm=16)
    hashed = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_candidates(sig, num_perm=16, bands=4).collect()
    }
    tupled = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_candidates(
            sig, num_perm=16, bands=4, bucket_mode="tuple"
        ).collect()
    }
    assert hashed == tupled and tupled


def test_simhash_md5_family_matches_python_reference(spark):
    """The 48-bit md5-slice SimHash instantiation (the hash-provable
    registry variant) against a straight-line Python reference: per
    token, hash = first 12 hex chars of md5; per bit, strict majority
    over the token multiset; pack bits 0..47."""
    import hashlib

    from pyspark.sql import functions as F

    texts = [
        (1, "alpha beta gamma alpha"),
        (2, "one two three four five six"),
        (3, "alpha beta gamma alpha"),
        (4, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    md5_48 = lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")  # noqa: E731
    got = {
        r.id: r.simhash
        for r in D.simhash_signatures(df, bits=48, hasher=md5_48).collect()
    }

    def ref(text):
        toks = text.split(" ") if text else [""]
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:12], 16) for t in toks]
        sig = 0
        for b in range(48):
            ones = sum((h >> b) & 1 for h in hs)
            if 2 * ones > len(hs):
                sig |= 1 << b
        return sig

    for doc_id, text in texts:
        assert got[doc_id] == ref(text), (doc_id, got[doc_id], ref(text))
    assert got[1] == got[3]


def test_lsh_topk_subset_of_exact_scores(spark, sf_dir):
    """LSH top-k scores must agree with brute-force cosine for the ids it
    returns (it probes a subset; scores are computed the same way)."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding")
    rest = e.filter(F.col("vec_id") != 0)
    exact = {r.vec_id: r.sim for r in S.topk_similar(rest, q, k=500).collect()}
    approx = S.lsh_topk(rest, q, k=10, num_planes=4).collect()
    assert approx, "bucket should not be empty"
    for r in approx:
        assert abs(exact[r.vec_id] - r.sim) < 1e-9


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "doc_id bigint, text string"
    )
    got = {r.keep_id: r.n_copies for r in D.exact_dedup(df).collect()}
    assert got == {1: 2, 3: 1}


def test_chunking_edges(spark):
    """Chunk grammar edge cases: empty text -> one empty chunk; text
    shorter than a chunk -> one chunk; exact-stride boundary."""
    from csv2parquet_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        [(1, ""), (2, "a b"), (3, " ".join(f"t{i}" for i in range(48)))],
        "doc_id bigint, text string",
    )
    got = {
        (r.doc_id, r.chunk_idx): r.chunk_text
        for r in chunk_documents(df, size=32, stride=24).collect()
    }
    assert got[(1, 0)] == ""
    assert got[(2, 0)] == "a b"
    assert (2, 1) not in got
    # 48 tokens, stride 24 → starts at 0 and 24 → exactly two chunks
    assert got[(3, 0)] == " ".join(f"t{i}" for i in range(32))
    assert got[(3, 1)] == " ".join(f"t{i}" for i in range(24, 48))
    assert (3, 2) not in got


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """nprobe == n_centroids must reproduce exact brute-force top-k."""
    import pyspark.sql.functions as F

    from csv2parquet_spark.operators import similarity as S
    from csv2parquet_spark.tables import table

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding")
    body = e.filter(F.col("vec_id") != 0)
    exact = S.topk_similar(body, q, k=5).collect()
    ivf = S.ivf_topk(body, q, k=5, n_centroids=4, nprobe=4, n_iter=1).collect()
    assert [(r.vec_id, r.sim) for r in exact] == [(r.vec_id, r.sim) for r in ivf]


def test_ivf_index_probe_is_partition_pruned(spark, sf_dir, tmp_path):
    """probe_ivf_index must read ONLY the nprobe cluster=N directories
    (partition pruning on the persisted index), and a full probe must
    reproduce brute-force top-k exactly."""
    import pyspark.sql.functions as F

    from csv2parquet_spark.operators import similarity as S
    from csv2parquet_spark.tables import table

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding")
    body = e.filter(F.col("vec_id") != 0)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(body, path, n_centroids=4, n_iter=1)

    pruned = S.probe_ivf_index(spark, path, q, k=5, nprobe=2)
    # The cluster predicate must land in PartitionFilters — that's the
    # directory-level pruning mechanism (the FileIndex never lists the
    # non-probed cluster=N dirs); a post-scan Filter would mean the scan
    # still reads the whole corpus.
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cluster" in pf[0], plan
    assert len(pruned.collect()) <= 5

    full = S.probe_ivf_index(spark, path, q, k=5, nprobe=4).collect()
    exact = S.topk_similar(body, q, k=5).collect()
    assert [(r.vec_id, r.sim) for r in exact] == [(r.vec_id, r.sim) for r in full]


def test_compaction_reduces_file_count(spark, tmp_path, sf_dir):
    """A batch fragmented into 128 tiny part files compacts into fewer
    files, and the rows survive. The manifest predates the ``writer``
    key, so compaction writes with the default batch options."""
    import glob
    import json

    from csv2parquet_spark.converter.incremental import compact_incremental

    out = tmp_path / "out"
    stem = str(out / "batch=0" / "orders.parquet")
    base = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base.repartition(128).write.mode("overwrite").parquet(stem)
    manifest = tmp_path / "manifest.json"
    manifest.write_text(json.dumps({"files": {}, "next_batch": 1}))
    res = compact_incremental(spark, str(out), str(manifest))
    assert res.batch == 1 and res.sources == ["orders"]
    before = glob.glob(f"{stem}/*.parquet")
    after = glob.glob(str(out / "batch=1" / "orders.parquet" / "*.parquet"))
    assert len(before) == 128
    assert 0 < len(after) < len(before)
    back = spark.read.parquet(str(out / "batch=1" / "orders.parquet"))
    assert back.count() == base.count()


# ---------------------------------------------------------------------------
# Corpus-hygiene operators (operators/pipeline.py)
# ---------------------------------------------------------------------------


def test_decontaminate_flags_shared_shingles(spark):
    from csv2parquet_spark.operators import pipeline as P

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),  # contains eval 5-gram
            (2, "one two three four five six seven"),  # clean
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "xx alpha beta gamma delta epsilon yy")],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_shared for r in P.decontaminate(train, ev, k=5).collect()}
    assert hits == {1: 1}
    kept = {r.doc_id for r in P.remove_contaminated(train, ev, k=5).collect()}
    assert kept == {2}


def test_mixture_keep_exact_fraction(spark):
    """Over any 1000 consecutive ids the multiplicative gate keeps
    EXACTLY weight_permille rows (the multiplier is coprime to 1000)."""
    from pyspark.sql import functions as F

    from csv2parquet_spark.operators.pipeline import mixture_keep

    df = spark.range(5000, 6000).withColumnRenamed("id", "doc_id")
    n = df.filter(mixture_keep(F.lit(250))).count()
    assert n == 250


def test_quality_columns_rules(spark):
    from csv2parquet_spark.operators import pipeline as P

    long_clean = "the " + " ".join(f"word{i:02d}xx" for i in range(30))
    repetitive = "the " + "ab cd " * 20  # duplicate 2-grams dominate
    short = "the quick brown fox"
    rows = {
        r.doc_id: r
        for r in P.quality_columns(
            spark.createDataFrame(
                [(1, long_clean), (2, repetitive.strip()), (3, short)],
                "doc_id long, text string",
            )
        ).collect()
    }
    assert rows[1].keep
    assert not rows[2].pass_repetition and not rows[2].keep
    assert not rows[3].pass_min_words and not rows[3].keep

def test_zorder_layout_prunes_second_dimension(spark, tmp_path):
    """Layout quality from real parquet footers: a linear sort prunes
    only its own sort column; Z-order interleaving localizes BOTH
    columns, so min/max row-group pruning works for a filter on the
    second dimension alone (the case a 1-D layout cannot serve)."""
    from csv2parquet_spark.converter.convert import ConvertOptions, write_parquet
    from csv2parquet_spark.operators.layout import rowgroup_prune_fraction
    from csv2parquet_spark.tables import table

    # sf0.01 (60k rows): enough row groups at 16 KB blocks for the
    # footer-level measurement to be meaningful.
    li = table(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    zpath = str(tmp_path / "z")
    lpath = str(tmp_path / "lin")
    # W9 maps max_row_group_size to parquet.block.size at 128 B a row:
    # 128 rows → 16 KB blocks, the same blocks as the linear layout's.
    write_parquet(spark, li, zpath, zpath, ConvertOptions(
        zorder_by=["l_orderkey", "l_partkey"], single_file=False,
        max_row_group_size=128,
    ))
    (
        li.repartitionByRange(4, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .option("parquet.block.size", str(16 << 10))
        .parquet(lpath)
    )

    stats = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_orderkey"), F.max("l_orderkey"),
    ).collect()[0]
    pk_lo, pk_hi, ok_lo, ok_hi = stats

    # filter on the SECOND dimension only (middle 10% of l_partkey)
    pk_box = {
        "l_partkey": (
            pk_lo + 0.45 * (pk_hi - pk_lo), pk_lo + 0.55 * (pk_hi - pk_lo)
        ),
    }
    z_skip = rowgroup_prune_fraction(zpath, pk_box)
    l_skip = rowgroup_prune_fraction(lpath, pk_box)
    assert l_skip <= 0.10  # linear-by-orderkey: partkey spans every group
    assert z_skip >= 0.50  # interleaved bits localize partkey too

    # conjunctive 2-D box: z-order must do no worse than the 1-D layout
    box = {
        "l_orderkey": (
            ok_lo + 0.45 * (ok_hi - ok_lo), ok_lo + 0.55 * (ok_hi - ok_lo)
        ),
        **pk_box,
    }
    assert rowgroup_prune_fraction(zpath, box) >= rowgroup_prune_fraction(
        lpath, box
    ) - 0.05

    # correctness: layout changes bytes, not rows
    assert spark.read.parquet(zpath).count() == li.count()


def test_pca_components_orthonormal_and_ordered(spark, sf_dir):
    """principal_components returns orthonormal rows with descending
    captured energy, under the deterministic sign convention."""
    import numpy as np

    from csv2parquet_spark.operators.linalg import principal_components
    from csv2parquet_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    C = principal_components(emb, k=3, dim=64)
    assert C.shape == (3, 64)
    assert np.allclose(C @ C.T, np.eye(3), atol=1e-9)
    V = np.vstack([np.asarray(r.embedding) for r in emb.collect()])
    energies = [float(((V @ c) ** 2).sum()) for c in C]
    assert energies == sorted(energies, reverse=True)
    # sign convention: max-|coeff| entry positive
    for c in C:
        assert c[int(np.abs(c).argmax())] > 0


def test_cms_merge_and_never_undercounts(spark, sf_dir):
    """CMS invariants: (1) sketches built per shard and merged equal the
    whole-corpus sketch (distributive merge); (2) estimates never
    undercount the exact frequency."""
    from csv2parquet_spark.operators.sketches import (
        cms_build,
        cms_lookup,
        cms_merge,
    )
    from csv2parquet_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    whole = cms_build(tok.select("token"))
    shard_a = cms_build(tok.filter("doc_id % 2 = 0").select("token"))
    shard_b = cms_build(tok.filter("doc_id % 2 = 1").select("token"))
    merged = cms_merge(shard_a, shard_b)
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )

    cnt = tok.groupBy("token").agg(F.count("*").alias("exact"))
    est = cms_lookup(whole, cnt.select("token"))
    joined = cnt.join(est, "token")
    assert joined.filter("cms_estimate < exact").count() == 0


def test_hll_merge_and_accuracy(spark, sf_dir):
    """HLL invariants: shard-merge equals whole-corpus registers, and
    the estimate lands within the ~3.25/sqrt(m) relative-error envelope
    of the true distinct count."""
    from csv2parquet_spark.operators.sketches import (
        HLL_M,
        hll_estimate,
        hll_merge,
        hll_registers,
    )
    from csv2parquet_spark.tables import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").cast("string").alias("pk")
    )
    whole = hll_registers(li, "pk")
    a = hll_registers(li.filter("l_orderkey % 2 = 0"), "pk")
    b = hll_registers(li.filter("l_orderkey % 2 = 1"), "pk")
    merged = hll_merge(a, b)
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )

    est = hll_estimate(whole).collect()[0].hll_estimate
    true = li.select("pk").distinct().count()
    assert abs(est - true) / true < 3.25 / (HLL_M ** 0.5)


def test_int8_topk_matches_exact(spark, sf_dir):
    """The int8-pooled two-stage top-10 must equal brute-force exact
    top-10 (pool of 50 gives the quantized stage ample recall headroom
    at 64 dims)."""
    from csv2parquet_spark.operators.similarity import int8_topk, topk_similar
    from csv2parquet_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    from pyspark.sql import functions as SF

    q = emb.filter(SF.col("vec_id") == 0)
    corpus = emb.filter(SF.col("vec_id") != 0)
    got = [(r.vec_id, r.sim) for r in int8_topk(emb, query_id=0, k=10).collect()]
    want = [(r.vec_id, r.sim) for r in topk_similar(corpus, q, k=10).collect()]
    assert got == want


def test_lsh_blas_sign_margin_and_candidate_superset(spark, sf_dir):
    """The int8 stage-1 rewrite (similarity._lsh_blas_candidates) makes
    two claims this test pins:

    1. Bucket SIGN SAFETY: bucket bits come from a numpy pairwise-summed
       matmul while the DuckDB oracle uses a sequential list fold; the
       two can disagree only if some |v·plane| is within float-association
       distance (~1e-13) of zero. Assert the fixture's minimum margin is
       orders of magnitude above that, so the engines provably agree.
    2. LOSSLESSNESS: the quantization-error margin keeps stage-1 a strict
       superset of every co-bucketed pair whose EXACT cosine clears the
       threshold (so the exact float64 verify loses nothing).
    """
    import numpy as np

    emb = table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    V = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    ids = np.array([r.vec_id for r in rows])
    planes = np.asarray(
        [S._hyperplanes(4, 64, 42 + t) for t in range(8)], dtype=np.float64
    ).reshape(32, 64)
    margin = np.min(np.abs(V @ planes.T))
    assert margin > 1e-6, f"bucket sign margin too small: {margin}"

    # exact ground truth: co-bucketed pairs with cosine >= threshold
    thr = 0.4
    n = np.linalg.norm(V, axis=1)
    n[n == 0.0] = 1.0
    Cos = (V / n[:, None]) @ (V / n[:, None]).T
    bits = (V @ planes.T >= 0).astype(np.int64).reshape(len(V), 8, 4)
    buckets = bits @ (1 << np.arange(4))
    same_bucket = (buckets[:, None, :] == buckets[None, :, :]).any(axis=2)
    ia, ib = np.nonzero(np.triu((Cos >= thr) & same_bucket, k=1))
    want = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j]))) for i, j in zip(ia, ib)
    }

    got = {
        (r.id_a, r.id_b)
        for r in S._lsh_blas_candidates(emb, thr, 4, 8, 64, "embedding", "vec_id", 42).collect()
    }
    assert want, "fixture should contain co-bucketed near-dups"
    assert want <= got, f"stage-1 lost true pairs: {sorted(want - got)[:5]}"

    # 3. BUCKET-CAP ENFORCEMENT: a bucket_cap far below every bucket's
    #    size forces the salted pair-block decomposition (r > 1 for all
    #    buckets) — the candidate set must be IDENTICAL, because the
    #    triangle decomposition scores every pair exactly once (own-block
    #    triangles + cross rectangles partition the pair space).
    got_salted = {
        (r.id_a, r.id_b)
        for r in S._lsh_blas_candidates(
            emb, thr, 4, 8, 64, "embedding", "vec_id", 42, bucket_cap=8
        ).collect()
    }
    assert got_salted == got, (
        f"salted decomposition changed the candidate set: "
        f"lost={sorted(got - got_salted)[:5]} gained={sorted(got_salted - got)[:5]}"
    )


def test_bloom_probe_duplicate_queries_no_false_negatives(spark):
    """Duplicate probe values must not break the Bloom no-false-negative
    invariant (pre-fix: nhit = k*dups != k marked present keys absent).
    Output stays one row per INPUT row, duplicates included."""
    from csv2parquet_spark.operators.sketches import bloom_build, bloom_probe

    keys = spark.createDataFrame([("alpha",), ("beta",)], "s string")
    queries = spark.createDataFrame(
        [("alpha",), ("alpha",), ("alpha",), ("gamma",)], "s string"
    )
    bloom = bloom_build(keys, "s")
    got = bloom_probe(bloom, queries, "s").collect()
    assert len(got) == 4
    by_val = {}
    for r in got:
        by_val.setdefault(r.s, set()).add(r.maybe)
    assert by_val["alpha"] == {True}
    # gamma may be a false positive in principle, never an error
    assert by_val["gamma"] <= {True, False}


def test_decode_media_golden_files(spark):
    """The BMP/WAV decoders parse REAL files: golden payloads here are
    built field-by-field (independently of synth_media_payload) with a
    non-canonical WAV (extra LIST chunk before data) to prove the RIFF
    chunk walk, plus an unknown payload."""
    import struct

    from csv2parquet_spark.operators.multimodal import decode_media

    # 2x2 24-bpp BMP: row stride ((24*2+31)//32)*4 = 8, image 16 bytes
    bmp = (
        struct.pack("<2sIHHI", b"BM", 54 + 16, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, 16, 0, 0, 0, 0)
        + b"\x11" * 16
    )
    # 16-bit stereo 8 kHz WAV, 4 samples, LIST chunk between fmt and data
    wav_data = b"\x00" * (4 * 2 * 2)
    wav = (
        struct.pack("<4sI4s", b"RIFF", 4 + 24 + 12 + 8 + len(wav_data), b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 2, 8000, 32000, 4, 16)
        + struct.pack("<4sI", b"LIST", 4) + b"INFO"
        + struct.pack("<4sI", b"data", len(wav_data))
        + wav_data
    )
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(wav)), (3, bytearray(b"not media"))],
        "doc_id bigint, payload binary",
    )
    got = {r.doc_id: r for r in decode_media(df).collect()}
    assert (got[1].format, got[1].width, got[1].height, got[1].channels) == ("bmp", 2, 2, 3)
    assert (got[2].format, got[2].channels, got[2].sample_rate) == ("wav", 2, 8000)
    assert got[2].duration_ms == 4 * 1000 // 8000
    assert got[3].format == "unknown"
    assert got[1].payload_bytes == len(bmp)


def test_synth_media_payloads_are_valid_files(spark):
    """synth_media_payload outputs must decode (they are the fixture for
    the hash-checked oracle query) and match the id arithmetic."""
    from csv2parquet_spark.operators.multimodal import (
        decode_media,
        with_synth_media_payload,
    )

    ids = spark.createDataFrame([(i,) for i in range(21)], "doc_id bigint")
    got = {r.doc_id: r for r in decode_media(with_synth_media_payload(ids)).collect()}
    for i in range(21):
        r = got[i]
        if i % 3 == 0:
            assert r.format == "bmp" and r.width == 1 + i % 64
            assert r.height == 1 + (i // 7) % 48 and r.channels == 3
        elif i % 3 == 1:
            assert r.format == "wav" and r.channels == 1 + i % 2
            assert r.sample_rate == 8000 * (1 + i % 3)
        else:
            assert r.format == "png" and r.width == 1 + i % 32
            assert r.height == 1 + (i // 5) % 24 and r.channels == 3


def test_synth_png_is_fully_valid():
    """The synthesized PNG must be decodable by an INDEPENDENT reader:
    walk the chunks, verify every CRC, inflate the IDAT with plain
    zlib.decompress, and check the raw scanline length — proving the
    stored-deflate stream and chunk CRCs are spec-true, not merely
    self-consistent with our own parser."""
    import struct
    import zlib

    from csv2parquet_spark.operators.multimodal import synth_media_payload

    for doc_id in (2, 5, 113):  # id % 3 == 2 → png
        p = synth_media_payload(doc_id)
        assert p[:8] == b"\x89PNG\r\n\x1a\n"
        pos, chunks = 8, {}
        while pos < len(p):
            ln = struct.unpack_from(">I", p, pos)[0]
            typ = p[pos + 4 : pos + 8]
            data = p[pos + 8 : pos + 8 + ln]
            crc = struct.unpack_from(">I", p, pos + 8 + ln)[0]
            assert crc == zlib.crc32(typ + data) & 0xFFFFFFFF, typ
            chunks[typ] = data
            pos += 12 + ln
        assert pos == len(p)
        w, h = struct.unpack_from(">II", chunks[b"IHDR"], 0)
        raw = zlib.decompress(chunks[b"IDAT"])
        assert len(raw) == h * (1 + 3 * w)
        assert b"IEND" in chunks


def test_kmv_merge_is_exact(spark, sf_dir):
    """KMV mergeability is EXACT: bottom-k of the whole table equals
    union of shard bottom-ks re-limited — the property that lets shard
    sketches roll up without error."""
    from csv2parquet_spark.operators.sketches import kmv_sample

    o = table(spark, sf_dir, "orders")
    k = 100
    whole = set(
        r.h for r in kmv_sample(o, "o_totalprice", "o_orderkey", k).collect()
    )
    s1 = kmv_sample(o.filter("o_orderkey % 2 = 0"), "o_totalprice", "o_orderkey", k)
    s2 = kmv_sample(o.filter("o_orderkey % 2 = 1"), "o_totalprice", "o_orderkey", k)
    merged = set(
        r.h for r in s1.unionByName(s2).orderBy("h").limit(k).collect()
    )
    assert merged == whole and len(whole) == k


def test_rank_stats_single_row_and_kmv_small_input(spark):
    """Edge behavior of the round-3 operators: rank_stats on one row
    (quartile 1, pct_rank 0 under the n>1 guard, cume 1); kmv_quantiles
    when the table has fewer rows than k (ranks beyond the sample are
    absent — quantile picks land on existing ranks only if the index
    fits, so callers size k to the corpus floor; pinned here so the
    semantics are explicit, not accidental)."""
    from csv2parquet_spark.operators.ranking import rank_stats
    from csv2parquet_spark.operators.sketches import kmv_quantiles, kmv_sample

    one = spark.createDataFrame([(7, 1)], "id bigint, v bigint")
    r = rank_stats(one, ["v", "id"], tiles=4).collect()
    assert len(r) == 1
    assert (r[0].quartile, r[0].pct_rank, r[0].cume) == (1, 0.0, 1.0)

    small = spark.createDataFrame([(i, float(i)) for i in range(10)], "id bigint, v double")
    s = kmv_sample(small, "v", "id", k=100)
    assert s.count() == 10  # sample is the whole table when n < k
    got = kmv_quantiles(s, [0.0], k=100).collect()
    assert len(got) == 1 and got[0].value == 0.0  # rank 1 exists
    # r8 contract change: ranks index the ACTUAL sample size, so upper
    # quantiles are answered from the real sample instead of silently
    # dropped (the r3 pin froze the nominal-k indexing accident —
    # review r8 wave 5; see test_kmv_quantiles_small_sample)
    got95 = kmv_quantiles(s, [0.95], k=100).collect()
    assert len(got95) == 1 and got95[0].value == 8.0  # rank 1+int(.95*9)


def test_pagerank_closed_forms(spark):
    """pagerank against hand-computable graphs: a 3-cycle is uniform at
    every iteration (1/3 each); a 2-node graph with a dangling sink
    still sums to ~1 (dangling mass redistributed, nothing leaks)."""
    from csv2parquet_spark.operators.graph import pagerank

    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    r = {x.id: x.rank for x in pagerank(cycle, n_iter=5).collect()}
    assert set(r) == {"a", "b", "c"}
    assert all(abs(v - 1 / 3) < 1e-6 for v in r.values())

    dangle = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {x.id: x.rank for x in pagerank(dangle, n_iter=10).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-4
    assert got["b"] > got["a"]  # the sink receives a's full contribution

    # determinism across re-execution (the rows-only gate's contract)
    again = {x.id: x.rank for x in pagerank(dangle, n_iter=10).collect()}
    assert got == again


def test_pagerank_fixed_matches_python_reference(spark):
    """pagerank_fixed (the hash-provable integer recurrence) against a
    straight-line Python implementation of the SAME recurrence on a
    cycle, a dangling chain, and a diamond-with-self-loop — and its
    induced ranking must agree with the float pagerank on the
    well-separated dangling graph (the fixed-point algorithm is a
    sibling, not an approximation, but on non-tied graphs the order
    must coincide)."""
    from collections import Counter

    from csv2parquet_spark.operators.graph import pagerank, pagerank_fixed

    SCALE = 10**12

    def ref(edges, n_iter=5):
        e = sorted(set(edges))
        vs = sorted({a for a, _ in e} | {b for _, b in e})
        n = len(vs)
        deg = Counter(a for a, _ in e)
        r = {v: SCALE // n for v in vs}
        base = (15 * SCALE) // (100 * n)
        for _ in range(n_iter):
            inflow = {v: 0 for v in vs}
            for a, b in e:
                inflow[b] += r[a] // deg[a]
            dm = sum(r[v] for v in vs if deg.get(v, 0) == 0)
            r = {v: base + (85 * (inflow[v] + dm // n)) // 100 for v in vs}
        return r

    graphs = [
        [("a", "b"), ("b", "c"), ("c", "a")],
        [("a", "b"), ("b", "c")],  # c dangles
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "d"), ("a", "b")],
    ]
    for edges in graphs:
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {x.id: x.rank_fp for x in pagerank_fixed(df, n_iter=5).collect()}
        assert got == ref(edges), edges

    dangle = spark.createDataFrame(graphs[1], "src string, dst string")
    order_fp = [
        x.id
        for x in pagerank_fixed(dangle, n_iter=5)
        .orderBy(F.desc("rank_fp"), "id")
        .collect()
    ]
    order_fl = [
        x.id
        for x in pagerank(dangle, n_iter=5).orderBy(F.desc("rank"), "id").collect()
    ]
    assert order_fp == order_fl


def test_global_cumsum_matches_window(spark):
    """global_cumsum (two-pass, no single-partition stage) must equal
    the naive global-window running sum on a shuffled fixture."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csv2parquet_spark.operators.ranking import global_cumsum

    rows = [(i, (i * 7919) % 23 + 1) for i in range(997)]
    df = spark.createDataFrame(rows, ["k", "w"]).repartition(13)
    got = {
        r.k: r.cum
        for r in global_cumsum(df, ["k"], "w", cum_col="cum").collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.k: r.cum
        for r in df.withColumn("cum", F.sum("w").over(w)).collect()
    }
    assert got == want


def test_mg_heavy_hitters_guarantees(spark):
    """Misra-Gries bounds against exact counts on a skewed fixture:
    (a) est <= true <= ub for every surviving token, (b) every token
    with true count > N/(k+1) survives the sketch (the MG frequent-item
    guarantee), (c) deterministic re-execution."""
    from pyspark.sql import functions as F

    from csv2parquet_spark.operators.sketches import mg_merge, mg_partials

    k = 8
    rows = (
        [("hot",)] * 500
        + [("warm",)] * 200
        + [(f"t{i % 97}",) for i in range(1300)]
    )
    df = spark.createDataFrame(rows, "token string").repartition(7)
    summary = mg_merge(mg_partials(df, "token", k=k))
    got = {r.tok: (r.est, r.ub) for r in summary.collect()}
    exact = {
        r.token: r["count"]
        for r in df.groupBy("token").count().collect()
    }
    n = sum(exact.values())
    for tok, (est, ub) in got.items():
        assert est <= exact[tok] <= ub, (tok, est, exact[tok], ub)
    for tok, true in exact.items():
        if true > n / (k + 1):
            assert tok in got, f"frequent token {tok} lost ({true} > N/(k+1))"
    again = {r.tok: (r.est, r.ub) for r in mg_merge(mg_partials(df, "token", k=k)).collect()}
    assert got == again


def test_pq_adc_recall_against_exact(spark, sf_dir):
    """PQ-ADC top-10 must (a) re-rank with EXACT cosines (every
    reported score equals the brute-force score for that id), and (b)
    achieve recall@10 >= 0.5 against exact top-10 on the fixture —
    the compression/recall trade PQ exists for. Drives the OPERATOR
    (the registry entry became the r7 bound-oracle audit row)."""
    from pyspark.sql import functions as F

    from csv2parquet_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
        topk_similar,
    )
    from csv2parquet_spark.tables import table

    emb0 = table(spark, sf_dir, "embeddings")
    query = [
        float(x) for x in emb0.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    codebooks, sv = pq_train_codebooks(emb0, m=8, k=16, n_iter=3)
    pq10 = pq_adc_topk(pq_encode(sv, codebooks), emb0, query, codebooks, k=10, pool=50)
    got = {r.vec_id: r.cos for r in pq10.collect()}
    emb = table(spark, sf_dir, "embeddings")
    exact = topk_similar(emb, emb.filter(F.col("vec_id") == 0), k=10)
    exact_rows = {r[0]: round(r[1], 6) for r in (tuple(r) for r in exact.collect())}
    overlap = set(got) & set(exact_rows)
    assert len(overlap) >= 5, f"recall@10 too low: {len(overlap)}/10"
    for vid in overlap:
        assert abs(got[vid] - exact_rows[vid]) < 1e-6, (vid, got[vid], exact_rows[vid])


def test_observe_metrics_during_query(spark, sf_dir):
    """df.observe + Observation: pipeline health metrics (row counts,
    null counts, sums) collected DURING a real query execution — no
    second scan, no collect of data — the built-in hook a production
    pipeline uses instead of re-running counts. Metrics must match
    independently computed values."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from csv2parquet_spark.tables import table

    e = table(spark, sf_dir, "events")
    obs = Observation("ingest_health")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null_value"),
        # DISTINCT aggregates are rejected in observed metrics
        # (INVALID_OBSERVED_METRICS) — approx_count_distinct is the
        # sanctioned cardinality metric here
        F.approx_count_distinct("user_id", 0.005).alias("n_users_approx"),
    )
    out = observed.filter(F.col("event_type") == "purchase").groupBy("user_id").count()
    out.write.format("noop").mode("overwrite").save()

    got = obs.get
    assert got["n_rows"] == e.count()
    assert got["n_null_value"] == e.filter(F.col("value").isNull()).count()
    exact_users = e.select("user_id").distinct().count()
    assert abs(got["n_users_approx"] - exact_users) <= max(1, exact_users // 20)


def test_ntile_percentiles_twin_equivalence(spark, sf_dir):
    """The UNREGISTERED single-partition-Window twin (demoted from the
    driver contract in round 4 — the registry should contain only plans
    that survive 100×) must stay result-identical to the registered
    scale-safe two-pass implementation."""
    from csv2parquet_spark.queries.windows import (
        window_ntile_percentiles,
        window_ntile_scalable,
    )

    naive = sorted(map(tuple, window_ntile_percentiles(spark, sf_dir).collect()))
    scalable = sorted(map(tuple, window_ntile_scalable(spark, sf_dir).collect()))
    assert naive == scalable


def test_image_ahash_equals_pattern_bits_and_resize_invariance(spark):
    """The aHash earned from REAL BMP pixel parsing must equal the
    64-bit pattern that generated the image (bits = cells > mean, cells
    exactly 0/255) — for every variant and at every rendered dimension,
    which IS the resize-invariance property perceptual hashes exist
    for. Also pins the band-blocked near-dup join on a planted set."""
    from csv2parquet_spark.operators.multimodal import (
        _mix64,
        image_ahash,
        image_near_dups,
        synth_patterned_image,
        with_patterned_image,
    )

    # ids 0..15 = 4 bases × 4 variants, dims vary per id (16..72 px)
    ids = spark.range(16).withColumnRenamed("id", "doc_id")
    imgs = with_patterned_image(ids)
    got = {r.doc_id: r.ahash for r in image_ahash(imgs).collect()}
    assert set(got) == set(range(16))
    for i in range(16):
        bits = _mix64(i // 4)
        if i % 4:
            bits ^= 1 << ((i % 4 * 17) % 64)
        want = bits - (1 << 64) if bits >= 1 << 63 else bits
        assert got[i] == want, f"id {i}: ahash != generating pattern"

    # independent byte check: a non-trivial payload really is a BMP
    p = synth_patterned_image(5)
    assert p[:2] == b"BM" and len(p) > 54

    pairs = {
        (r.id_a, r.id_b): r.hamming for r in image_near_dups(imgs).collect()
    }
    import itertools

    want_pairs = {}
    for base in range(4):
        for a, b in itertools.combinations(range(base * 4, base * 4 + 4), 2):
            want_pairs[(a, b)] = (a % 4 > 0) + (b % 4 > 0)
    assert pairs == want_pairs  # all same-base pairs, no cross-base pair


def test_write_training_shards_deterministic_balanced(spark, tmp_path, sf_dir):
    """write_training_shards: one file per shard directory, shard
    membership identical across two runs (md5-keyed, not partitioning-
    dependent), manifest row counts sum to the corpus, and a shard
    subset read prunes to the selected directories."""
    from csv2parquet_spark.operators.layout import shard_key, write_training_shards
    from csv2parquet_spark.tables import table as load

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    # membership determinism is layout-independent; byte sizes are only
    # pinned under order_col (parquet encoding sees row order)
    m1 = write_training_shards(docs, p1, n_shards=8, order_col="doc_id")
    m2 = write_training_shards(
        docs.repartition(13), p2, n_shards=8, order_col="doc_id"
    )
    assert m1 == m2  # identical shards incl. byte-identical files
    assert sum(m["n_rows"] for m in m1) == docs.count()
    import os as _os

    for m in m1:
        files = _os.listdir(_os.path.join(p1, f"shard={m['shard']}"))
        assert len([f for f in files if f.endswith(".parquet")]) == 1

    # loader-side pruning: the shard predicate must land in
    # PartitionFilters (directory-level pruning — the FileIndex never
    # lists non-selected shard=K dirs; same mechanism as the IVF index)
    sub = spark.read.parquet(p1).filter("shard in (0, 1)")
    plan = sub._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "shard" in pf[0], plan
    # membership matches shard_key recomputation
    got = {r.doc_id for r in sub.collect()}
    want = {
        r.doc_id
        for r in docs.withColumn("s", shard_key(F.col("doc_id"), 8))
        .filter("s in (0, 1)")
        .collect()
    }
    assert got == want


def test_image_ahash_robustness_truncated_and_offset(spark):
    """image_ahash must DROP (not crash on) a payload with a valid BMP
    header but truncated pixel data, and must honor bfOffBits when the
    pixel array does not start at byte 54."""
    import struct

    from csv2parquet_spark.operators.multimodal import (
        image_ahash,
        synth_patterned_image,
    )

    good = synth_patterned_image(3)
    truncated = good[: 54 + 10]  # header intact, pixels cut short
    # same image with a 16-byte gap between header and pixels
    off = struct.unpack_from("<I", good, 10)[0]
    assert off == 54
    gapped = bytearray(good[:54] + b"\x00" * 16 + good[54:])
    struct.pack_into("<I", gapped, 10, 70)  # bfOffBits -> 70
    df = spark.createDataFrame(
        [(3, bytearray(good)), (99, bytearray(truncated)), (4, gapped)],
        "doc_id bigint, payload binary",
    )
    got = {r.doc_id: r.ahash for r in image_ahash(df).collect()}
    assert 99 not in got          # truncated: dropped, no crash
    assert got[4] == got[3]       # offset honored: same pixels, same hash


def test_resize_images_real_roundtrip(spark):
    """resize_images must emit VALID BMPs of the target dimensions whose
    pixel content is the nearest-neighbor resample of the source — and
    a non-BMP payload is dropped, not crashed on."""
    import numpy as np

    from csv2parquet_spark.operators.multimodal import (
        _parse_bmp24,
        resize_images,
        synth_patterned_image,
    )

    df = spark.createDataFrame(
        [
            (7, bytearray(synth_patterned_image(7)), 20, 12),
            (99, bytearray(b"not a bmp"), 20, 12),
        ],
        "doc_id bigint, payload binary, tw int, th int",
    )
    rows = resize_images(df, "tw", "th").collect()
    assert [r.doc_id for r in rows] == [7]
    out = bytes(rows[0].payload)
    parsed = _parse_bmp24(out)
    assert parsed is not None
    arr, w, h = parsed
    assert (w, h) == (20, 12) and rows[0].out_bytes == len(out)
    # independent resample of the source agrees pixel-for-pixel
    src, sw, sh = _parse_bmp24(synth_patterned_image(7))
    ys = (2 * np.arange(12) + 1) * sh // 24
    xs = (2 * np.arange(20) + 1) * sw // 40
    assert (arr == src[np.ix_(ys, xs)]).all()


def test_audio_features_real_dsp(spark):
    """audio_features must compute RMS/peak/crossings from the ACTUAL
    PCM samples: a handcrafted non-square waveform (so id arithmetic
    can't fake it) checks the kernel against numpy ground truth; a
    truncated WAV and a non-WAV are dropped, not crashed on."""
    import struct

    import numpy as np

    from csv2parquet_spark.operators.multimodal import audio_features

    samples = np.array([100, -200, 300, -400, 0, 500], dtype="<i2")
    data = samples.tobytes()
    wav = (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
        + struct.pack("<4sI", b"data", len(data))
        + data
    )
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(wav[:50])), (3, bytearray(b"nope"))],
        "doc_id bigint, payload binary",
    )
    rows = audio_features(df).collect()
    assert [r.doc_id for r in rows] == [1]
    r = rows[0]
    x = samples.astype(np.float64)
    assert r.n_samples == 6 and r.sample_rate == 8000
    assert r.rms == int(np.sqrt(np.mean(x * x)) + 0.5)
    assert r.peak == 500
    # signbit flips: 100/-200, -200/300, 300/-400, -400/0(+), none at 0/500
    assert r.zero_crossings == 4


def test_avi_frame_sampler_real_walk(spark):
    """sample_frames_real must walk the RIFF tree (not fixed offsets):
    an AVI with an extra JUNK chunk before movi still parses; frame
    count/stride are honored; truncated and non-AVI payloads drop."""
    import struct

    from csv2parquet_spark.operators.multimodal import (
        _frame_pattern_bits,
        sample_frames_real,
        synth_patterned_avi,
    )

    good = synth_patterned_avi(11)  # 4 + 11%5 = 5 frames
    # splice a JUNK chunk right after 'AVI ' (offset 12), fixing the
    # RIFF size field — a structure-agnostic parser must skip it
    junk = b"JUNK" + struct.pack("<I", 6) + b"abcdef"
    padded = bytearray(good[:12] + junk + good[12:])
    struct.pack_into("<I", padded, 4, struct.unpack_from("<I", good, 4)[0] + len(junk))
    df = spark.createDataFrame(
        [(11, bytearray(good)), (12, padded), (13, bytearray(good[:40])),
         (14, bytearray(b"RIFFxxxxWAVE"))],
        "doc_id bigint, payload binary",
    )
    rows = sample_frames_real(df, every=2).collect()
    got = {(r.doc_id, r.frame_idx): r for r in rows}
    # doc 11 and the JUNK-padded doc 12 both yield frames 0, 2, 4 of 5
    for doc in (11, 12):
        idxs = sorted(fi for d, fi in got if d == doc)
        assert idxs == [0, 2, 4]
        for fi in idxs:
            r = got[(doc, fi)]
            assert r.n_frames == 5 and r.frame_bytes == 768
            assert r.ahash == _frame_pattern_bits(11, fi)
    assert not [d for d, _ in got if d in (13, 14)]


def test_ahash_fixture_base_patterns_well_separated():
    """The image_ahash_near_dups oracle only enumerates SAME-base pairs,
    which silently assumes no two splitmix64 base patterns ever land
    within Hamming <= 3 of each other (variants flip one bit per side,
    so a cross-base pair needs base distance <= 5 to sneak under the
    max_hamming=3 verify). Assert that margin LOUDLY for every base any
    tested scale factor can reach (sf1 has 50000 docs = 12500 bases;
    check 16384 for headroom — the synth guard in multimodal.py refuses
    anything beyond this verified envelope) so a future dataset size
    fails here, not as a silent oracle gap. Chunked float32 matmul:
    0/1 bit matrices are exact in float32 (values ≤ 64) and BLAS makes
    the 16384² pair sweep take ~a second where the int32 path took 20."""
    import numpy as np

    from csv2parquet_spark.operators.multimodal import _IMAGE_BASE_ENVELOPE, _mix64

    n = _IMAGE_BASE_ENVELOPE
    bits = np.array([_mix64(b) for b in range(n)], dtype=np.uint64)
    # pairwise XOR popcount without Python loops: 8 bytes per value
    p = np.unpackbits(bits.view(np.uint8).reshape(-1, 8), axis=1).astype(
        np.float32
    )
    tot = p.sum(axis=1)
    mind = 64.0
    chunk = 2048
    for i in range(0, n, chunk):
        rows = p[i : i + chunk]
        # d(i,j) = tot_i + tot_j - 2*(bits set in both)
        d = tot[i : i + chunk][:, None] + tot[None, :] - 2.0 * (rows @ p.T)
        d[np.arange(rows.shape[0]), np.arange(i, i + rows.shape[0])] = 99.0
        mind = min(mind, float(d.min()))
    assert mind > 5, f"base patterns too close: min pairwise Hamming {mind}"


def test_resize_images_per_row_targets(spark):
    """Per-row target columns: each image resamples to ITS OWN (tw, th),
    out_bytes reflects the re-encoded payload, and the content equals an
    independent nearest-neighbor resample."""
    import numpy as np

    from csv2parquet_spark.operators.multimodal import (
        _parse_bmp24,
        resize_images,
        synth_patterned_image,
    )

    data = [
        (3, bytearray(synth_patterned_image(3)), 16, 24),
        (4, bytearray(synth_patterned_image(4)), 40, 16),
    ]
    df = spark.createDataFrame(
        data, "doc_id bigint, payload binary, tw int, th int"
    )
    rows = {
        r.doc_id: r
        for r in resize_images(
            df, target_w_col="tw", target_h_col="th"
        ).collect()
    }
    for doc_id, payload, tw, th in data:
        r = rows[doc_id]
        assert (r.out_w, r.out_h) == (tw, th)
        arr, w, h = _parse_bmp24(bytes(r.payload))
        assert (w, h) == (tw, th) and r.out_bytes == len(bytes(r.payload))
        src, sw, sh = _parse_bmp24(bytes(payload))
        ys = (2 * np.arange(th) + 1) * sh // (2 * th)
        xs = (2 * np.arange(tw) + 1) * sw // (2 * tw)
        assert (arr == src[np.ix_(ys, xs)]).all()


def test_pca_power_iteration_agrees_with_eigh(spark, sf_dir):
    """The fixed-point power-iteration components driving
    embedding_pca_project must align with numpy's eigh directions
    (|cosine| > 0.999 after 8 max-norm steps on this spectrum), and the
    projections must be non-degenerate — the engine-exactness is proven
    by the oracle hash; this pins that the integer recurrence still
    computes PCA."""
    import numpy as np

    from csv2parquet_spark.operators.linalg import principal_components
    from csv2parquet_spark.queries.linalg_q import embedding_pca_project
    from csv2parquet_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    C = principal_components(emb, k=2, dim=64)  # eigh reference
    rows = embedding_pca_project(spark, sf_dir).collect()
    V = {r.vec_id: np.asarray(r.embedding) for r in emb.collect()}
    got = np.array([[r.p_0, r.p_1] for r in rows])
    ref = np.array([[float(V[r.vec_id] @ C[0]), float(V[r.vec_id] @ C[1])]
                    for r in rows])
    assert got.std(axis=0).min() > 1e-3  # both axes carry real variance
    for k in range(2):
        cos = abs(float(got[:, k] @ ref[:, k])) / (
            np.linalg.norm(got[:, k]) * np.linalg.norm(ref[:, k])
        )
        assert cos > 0.999, f"component {k} misaligned: |cos|={cos}"


def test_containment_pairs_directional_and_exact(spark):
    """containment_pairs finds the planted subset-duplicate in the
    containment direction only (short ⊂ long has containment 1.0 but
    tiny Jaccard — the pair Jaccard dedup misses), with common/sz
    agreeing with a straight Python shingle computation."""
    long_text = " ".join(f"w{i}" for i in range(40))
    short_text = " ".join(f"w{i}" for i in range(10, 22))  # ⊂ long
    other = " ".join(f"x{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, other)],
        "doc_id bigint, text string",
    )
    rows = D.containment_pairs(df, threshold=0.9).collect()
    got = {(r.id_a, r.id_b): r for r in rows}
    assert set(got) == {(2, 1)}  # short contained in long, nothing else

    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    a, b = sh(short_text), sh(long_text)
    r = got[(2, 1)]
    assert r.common == len(a & b)
    assert r.sz_a == len(a) and r.sz_b == len(b)
    assert r.containment == 1.0


def test_global_running_max_matches_window(spark):
    """global_running_max (two-pass) must equal the naive global-window
    running max over the strictly preceding rows on a shuffled fixture,
    including the NULL on the globally first row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csv2parquet_spark.operators.ranking import global_running_max

    # non-monotone values so the running max actually plateaus
    rows = [(i, ((i * 6007) % 101) - 50) for i in range(853)]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(11)

    got_exc = {
        r.k: r.m
        for r in global_running_max(df, ["k"], "v", out_col="m").collect()
    }
    w_exc = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want_exc = {
        r.k: r.m for r in df.withColumn("m", F.max("v").over(w_exc)).collect()
    }
    assert got_exc == want_exc
    assert got_exc[0] is None  # globally first row has no predecessor


def test_skyline_matches_pairwise_dominance(spark, sf_dir):
    """The skyline query must equal the O(n²) dominance definition
    computed in Python over the same (price_cents, size) points."""
    from csv2parquet_spark.queries.order_stats import skyline_parts_frontier
    from csv2parquet_spark.tables import table

    pts = [
        (int(r.p_retailprice * 100 + 0.5), int(r.p_size))
        for r in table(spark, sf_dir, "part").collect()
    ]
    frontier_prices = {
        r.price_cents for r in skyline_parts_frontier(spark, sf_dir).collect()
    }
    want = {
        c
        for c, s in pts
        if not any(
            (c2 <= c and s2 >= s and (c2 < c or s2 > s)) for c2, s2 in pts
        )
    }
    assert frontier_prices == want


def test_mad_outlier_report_matches_statistics(spark, sf_dir):
    """The integer-doubled med2/m4 encodings must equal Python's exact
    median/MAD (statistics.median on the raw cents), and the outlier
    count must match the 3·1.4826·MAD rule applied row-by-row."""
    import statistics
    from fractions import Fraction

    from csv2parquet_spark.queries.order_stats import mad_outlier_report
    from csv2parquet_spark.tables import table

    rows = table(spark, sf_dir, "orders").collect()
    by_grp: dict[str, list[int]] = {}
    for r in rows:
        by_grp.setdefault(r.o_orderpriority, []).append(
            int(r.o_totalprice * 100 + 0.5)
        )
    got = {r.grp: r for r in mad_outlier_report(spark, sf_dir).collect()}
    assert set(got) == set(by_grp)
    for grp, cents in by_grp.items():
        med = Fraction(statistics.median(cents))
        devs = [abs(Fraction(c) - med) for c in cents]
        mad = Fraction(statistics.median([float(d) for d in devs]))
        r = got[grp]
        assert Fraction(r.med2, 2) == med
        assert Fraction(r.m4, 4) == mad
        # threshold 4.4478·MAD exactly, as the integer form encodes it
        cutoff = Fraction(44478, 10000) * mad
        n_out = sum(1 for d in devs if d > cutoff)
        assert r.n_outliers == n_out
        assert r.n == len(cents)


def test_mmr_greedy_trajectory_matches_python(spark, sf_dir):
    """The distributed MMR loop must reproduce a straight-line Python
    greedy MMR over the same integer-rounded candidate/pair sims."""
    from csv2parquet_spark.queries.text_index import mmr_diversify_topk
    from csv2parquet_spark.tables import table

    import numpy as np

    e = {r.vec_id: np.array(r.embedding, dtype=np.float64)
         for r in table(spark, sf_dir, "embeddings").collect()}
    qv = e[0]

    def cos_fp(a, b):
        # numpy dot on float64 is not guaranteed to associate like the
        # engines' sequential fold — recompute sequentially.
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        from decimal import ROUND_HALF_UP, Decimal
        v = dot / (na ** 0.5 * nb ** 0.5) * 10000
        return int(Decimal(repr(v)).quantize(Decimal("1"), ROUND_HALF_UP))

    rel = {i: cos_fp(v, qv) for i, v in e.items() if i != 0}
    cand = sorted(rel, key=lambda i: (-rel[i], i))[:50]
    sims = {
        (a, b): cos_fp(e[a], e[b]) for a in cand for b in cand if a != b
    }
    chosen = [min(cand, key=lambda i: (-rel[i], i))]
    expect = [(1, chosen[0], rel[chosen[0]], None, rel[chosen[0]])]
    for t in range(2, 9):
        rest = [i for i in cand if i not in chosen]
        best = min(
            rest,
            key=lambda i: (-(rel[i] - max(sims[(i, s)] for s in chosen)), i),
        )
        ms = max(sims[(best, s)] for s in chosen)
        expect.append((t, best, rel[best], ms, rel[best] - ms))
        chosen.append(best)

    got = [
        (r.pick_rank, r.doc_id, r.rel_fp, r.max_sim_fp, r.mmr2)
        for r in mmr_diversify_topk(spark, sf_dir).orderBy("pick_rank").collect()
    ]
    assert got == expect


def test_merge_schema_read_superset_and_null_backfill(spark, sf_dir):
    """mergeSchema must surface the union schema and NULL-backfill the
    evolved column for exactly the generation-1 rows."""
    import os

    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.scanopt import write_two_generation_orders
    from csv2parquet_spark.tables import table

    root = write_two_generation_orders(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "gen1"), os.path.join(root, "gen2")
    )
    assert "o_orderpriority" in merged.columns
    # without mergeSchema, schema comes from one footer — the evolved
    # column may be invisible; with it, it's always present
    n_null = merged.filter(F.col("o_orderpriority").isNull()).count()
    o = table(spark, sf_dir, "orders")
    n_gen1 = o.filter(F.col("o_orderdate") < "1995-01-01").count()
    assert n_null == n_gen1
    assert merged.count() == o.count()


def test_label_propagation_two_cliques(spark):
    """Synchronous weighted LPA must separate two dense cliques joined
    by one weak bridge, and must match a straight-line Python reference
    superstep-for-superstep (deterministic ties to smallest label)."""
    from csv2parquet_spark.operators.graph import label_propagation

    def clique(ids, w):
        return [(a, b, w) for a in ids for b in ids if a != b]

    edges = clique([1, 2, 3, 4], 5) + clique([10, 11, 12, 13], 5) + [
        (4, 10, 1),
        (10, 4, 1),
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {r.id: r.lbl for r in label_propagation(df, n_iter=3).collect()}

    # Python reference: same synchronous update, same tie rule
    from collections import defaultdict

    adj = defaultdict(list)
    for s, d, w in edges:
        adj[s].append((d, w))
    lbl = {v: v for v in adj}
    for _ in range(3):
        nxt = {}
        for v in adj:
            tot = defaultdict(int)
            for d, w in adj[v]:
                tot[lbl[d]] += w
            bw = max(tot.values())
            nxt[v] = min(l for l, t in tot.items() if t == bw)
        lbl = nxt
    assert got == lbl
    assert len({lbl[v] for v in [1, 2, 3, 4]}) == 1
    assert len({lbl[v] for v in [10, 11, 12, 13]}) == 1
    assert lbl[1] != lbl[10]  # the bridge must not merge the cliques


def test_label_propagation_zero_iterations(spark):
    """n_iter=0 returns identity labels on BOTH paths (ADVICE r6: the
    symmetric superstep-1 shortcut left the zero-iteration case
    returning None instead of the initial state)."""
    from csv2parquet_spark.operators.graph import label_propagation

    edges = [(1, 2, 1), (2, 1, 1), (2, 3, 1), (3, 2, 1)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    for sym in (False, True):
        out = label_propagation(df, n_iter=0, symmetric=sym)
        got = {r.id: r.lbl for r in out.collect()}
        assert got == {1: 1, 2: 2, 3: 3}, (sym, got)


def test_isotonic_calibration_matches_pava(spark, sf_dir):
    """The minimax closed form must equal the classic sequential
    pool-adjacent-violators fit (exact Fractions), and be monotone."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.mlmetrics import isotonic_calibration_exact
    from csv2parquet_spark.tables import table

    import math

    rows = (
        table(spark, sf_dir, "embeddings")
        .select(
            F.floor(F.element_at("embedding", 1).cast("double") * 100)
            .cast("long")
            .alias("score"),
            (F.col("label") >= 5).cast("int").alias("pos"),
        )
        .groupBy("score")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("p"))
        .orderBy("score")
        .collect()
    )
    # classic PAVA with exact weights
    pools = []  # (n, p) merged pools in score order
    spans = []  # how many buckets each pool covers
    for r in rows:
        pools.append((r.n, r.p))
        spans.append(1)
        while len(pools) > 1 and Fraction(pools[-2][1], pools[-2][0]) >= Fraction(
            pools[-1][1], pools[-1][0]
        ):
            n2, p2 = pools.pop()
            s2 = spans.pop()
            pools[-1] = (pools[-1][0] + n2, pools[-1][1] + p2)
            spans[-1] += s2
    want = []
    for (n, p), s in zip(pools, spans):
        want.extend([Fraction(p, n)] * s)

    got = {
        r.score: r.iso_rate
        for r in isotonic_calibration_exact(spark, sf_dir).collect()
    }
    assert len(got) == len(rows)
    fits = [got[r.score] for r in rows]
    for a, b in zip(fits, fits[1:]):
        assert a <= b, "isotonic fit must be non-decreasing"
    for f, w in zip(fits, want):
        assert math.isclose(f, float(w), abs_tol=2e-6), (f, float(w))


def test_km_survival_matches_python_reference(spark, sf_dir):
    """The fixed-point KM curve must equal a straight-line Python
    Kaplan-Meier over the same (duration, event) pairs, censoring
    included."""
    import math
    from collections import Counter
    from fractions import Fraction

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.timeseries import km_reorder_survival
    from csv2parquet_spark.tables import table

    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).cast("long").alias("day"),
    )
    rows = o.withColumn(
        "nxt", F.lead("day").over(Window.partitionBy("c").orderBy("day"))
    ).collect()
    wend = max(r.day for r in rows)
    durs = [
        (r.nxt - r.day, 1) if r.nxt is not None else (wend - r.day, 0)
        for r in rows
    ]
    deaths = Counter(t for t, d in durs if d)
    total = Counter(t for t, _ in durs)
    at_risk = len(durs)
    surv = Fraction(1)
    want = {}
    for t in sorted(total):
        d_t = deaths.get(t, 0)
        if d_t:
            surv *= Fraction(at_risk - d_t, at_risk)
        want[t] = (at_risk, d_t, float(surv))
        at_risk -= total[t]

    got = {r.t: r for r in km_reorder_survival(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for t, (n_t, d_t, s) in want.items():
        r = got[t]
        assert r.at_risk == n_t and r.d_t == d_t
        assert math.isclose(r.surv, s, abs_tol=2e-6), (t, r.surv, s)
    # curve must be non-increasing in t
    ts = sorted(got)
    for a, b in zip(ts, ts[1:]):
        assert got[b].surv <= got[a].surv + 1e-9


def test_theil_sen_matches_python_reference(spark, sf_dir):
    """Slope/intercept must equal the direct median-of-pairwise-slopes
    definition computed in Python on the same integer daily series."""
    import statistics

    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.timeseries import theil_sen_daily_trend
    from csv2parquet_spark.tables import table

    daily = {
        r.d: r.cents
        for r in (
            table(spark, sf_dir, "events")
            .select(
                F.datediff(
                    F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
                ).cast("long").alias("d"),
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("c"),
            )
            .groupBy("d")
            .agg(F.sum("c").alias("cents"))
            .collect()
        )
    }
    ds = sorted(daily)
    slopes = [
        (daily[b] - daily[a]) / (b - a)
        for i, a in enumerate(ds)
        for b in ds[i + 1 :]
    ]
    slope = statistics.median(slopes)
    intercept = statistics.median(daily[d] - slope * d for d in ds)

    r = theil_sen_daily_trend(spark, sf_dir).collect()[0]
    assert r.n_days == len(ds)
    assert r.n_pairs == len(slopes)
    assert abs(r.ts_slope - slope) < 2e-6
    assert abs(r.ts_intercept - intercept) < 2e-6


def test_mann_whitney_matches_rank_definition(spark, sf_dir):
    """u2 must equal 2x the classic rank-sum U (with tie halves), and
    the tie-corrected z must match the textbook formula."""
    import math

    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.mlmetrics import mann_whitney_u_test
    from csv2parquet_spark.tables import table

    rows = (
        table(spark, sf_dir, "orders")
        .select(
            F.when(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1)
                < "8",
                1,
            )
            .otherwise(0)
            .alias("a"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .collect()
    )
    avals = sorted(r.c for r in rows if r.a)
    bvals = sorted(r.c for r in rows if not r.a)
    import bisect

    u2 = 0
    for x in avals:
        lo = bisect.bisect_left(bvals, x)
        hi = bisect.bisect_right(bvals, x)
        u2 += 2 * lo + (hi - lo)
    na, nb = len(avals), len(bvals)
    n = na + nb
    from collections import Counter

    tie3 = sum(t**3 - t for t in Counter(r.c for r in rows).values())
    var = na * nb / 12 * ((n + 1) - tie3 / (n * (n - 1)))
    z = (u2 / 2 - na * nb / 2) / math.sqrt(var)

    r = mann_whitney_u_test(spark, sf_dir).collect()[0]
    assert (r.na, r.nb, r.u2) == (na, nb, u2)
    assert abs(r.z_score - z) < 2e-6


def test_kendall_tau_b_matches_pairwise_definition(spark, sf_dir):
    """Grid-based concordance counts must equal the O(n^2) pairwise
    definition on the same banded rows."""
    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.mlmetrics import kendall_tau_b_bands
    from csv2parquet_spark.tables import table

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    rows = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_acctbal")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.expr("CAST(o_totalprice AS BIGINT) div 50000").alias("x"),
            F.floor(F.col("c_acctbal") / 2000).cast("long").alias("y"),
        )
        .collect()
    )
    pts = [(r.x, r.y) for r in rows]
    conc = disc = tx = ty = 0
    for i in range(len(pts)):
        xi, yi = pts[i]
        for j in range(i + 1, len(pts)):
            xj, yj = pts[j]
            if xi == xj and yi == yj:
                continue
            if xi == xj:
                tx += 1
            elif yi == yj:
                ty += 1
            elif (xi - xj) * (yi - yj) > 0:
                conc += 1
            else:
                disc += 1

    r = kendall_tau_b_bands(spark, sf_dir).collect()[0]
    assert r.conc == conc and r.disc == disc
    n = len(pts)
    n0 = n * (n - 1) / 2
    # query's ties_x counts ALL same-x pairs (incl. same-cell); the
    # denominator terms must still agree with the scipy tau-b form
    want_tau = (conc - disc) / (
        ((n0 - r.ties_x) * (n0 - r.ties_y)) ** 0.5
    )
    assert abs(r.tau_b - want_tau) < 2e-6


def test_acf_matches_numpy_reference(spark, sf_dir):
    """ACF terms must match the direct centered-product definition."""
    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.timeseries import acf_daily_revenue
    from csv2parquet_spark.tables import table

    daily = {
        r.d: r.cents
        for r in (
            table(spark, sf_dir, "events")
            .select(
                F.datediff(
                    F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
                ).cast("long").alias("d"),
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("c"),
            )
            .groupBy("d")
            .agg(F.sum("c").alias("cents"))
            .collect()
        )
    }
    mu = round(sum(daily.values()) / len(daily), 6)
    den = sum((x - mu) ** 2 for x in daily.values())
    got = {r.lag_k: r for r in acf_daily_revenue(spark, sf_dir).collect()}
    assert set(got) == set(range(1, 8))
    for k in range(1, 8):
        # calendar lag (day d pairs with day d+k), not positional lag
        pairs = [(daily[d], daily[d + k]) for d in daily if d + k in daily]
        num = sum((xa - mu) * (xb - mu) for xa, xb in pairs)
        assert got[k].n_terms == len(pairs)
        assert abs(got[k].acf - num / den) < 2e-6, (k, got[k].acf, num / den)


def test_conformal_interval_coverage_property(spark, sf_dir):
    """qhat must be the ceil((n+1)*0.9)-th smallest |residual| and give
    >=90% empirical coverage on the calibration residuals themselves."""
    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.timeseries import conformal_interval_daily
    from csv2parquet_spark.tables import table

    daily = {
        r.d: r.cents
        for r in (
            table(spark, sf_dir, "events")
            .select(
                F.datediff(
                    F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
                ).cast("long").alias("d"),
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("c"),
            )
            .groupBy("d")
            .agg(F.sum("c").alias("cents"))
            .collect()
        )
    }
    resid = sorted(
        abs(daily[d] - daily[d - 7]) for d in daily if d - 7 in daily
    )
    n = len(resid)
    k = (n + 1) * 9 // 10
    r = conformal_interval_daily(spark, sf_dir).collect()[0]
    assert (r.n_cal, r.k) == (n, k)
    assert r.qhat_cents == resid[k - 1]
    covered = sum(1 for x in resid if x <= r.qhat_cents)
    assert covered >= 0.9 * n - 1


def test_bfs_hops_matches_python_reference(spark):
    """bfs_hops must equal a straight-line Python BFS on a fixed graph,
    including the hop cap (vertices beyond n_iter hops are absent)."""
    from collections import deque

    from csv2parquet_spark.operators.graph import bfs_hops

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
        (1, 10), (10, 4),  # shortcut: 4 is at distance 2, not 3
        (20, 21),          # disconnected from source
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.d for r in bfs_hops(df, source=1, n_iter=4).collect()}

    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    want = {1: 0}
    q = deque([1])
    while q:
        v = q.popleft()
        if want[v] >= 4:
            continue
        for w in adj.get(v, []):
            if w not in want:
                want[w] = want[v] + 1
                q.append(w)
    assert got == want
    assert got[4] == 2  # the shortcut wins over the chain path
    assert 20 not in got and 21 not in got
    assert 7 not in got  # 6 hops away, cap is 4


def test_ks_statistic_matches_direct_definition(spark, sf_dir):
    """d_num/d_den must equal sup|F_A - F_B| computed directly."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.mlmetrics import ks_test_two_sample
    from csv2parquet_spark.tables import table

    rows = (
        table(spark, sf_dir, "orders")
        .select(
            F.when(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1)
                < "8",
                1,
            )
            .otherwise(0)
            .alias("a"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .collect()
    )
    avals = sorted(r.c for r in rows if r.a)
    bvals = sorted(r.c for r in rows if not r.a)
    import bisect

    na, nb = len(avals), len(bvals)
    best = Fraction(0)
    for x in sorted({*avals, *bvals}):
        fa = Fraction(bisect.bisect_right(avals, x), na)
        fb = Fraction(bisect.bisect_right(bvals, x), nb)
        best = max(best, abs(fa - fb))

    r = ks_test_two_sample(spark, sf_dir).collect()[0]
    assert (r.na, r.nb) == (na, nb)
    assert Fraction(r.d_num, r.d_den) == best


def test_concentration_report_matches_python(spark, sf_dir):
    """Gini / HHI / top-decile share must match direct computations on
    the collected per-customer revenues."""
    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.operational import (
        revenue_concentration_report,
    )
    from csv2parquet_spark.tables import table

    revs = [
        r.rev
        for r in (
            table(spark, sf_dir, "orders")
            .select(
                F.col("o_custkey").alias("c"),
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
            )
            .groupBy("c")
            .agg(F.sum("cents").alias("rev"))
            .collect()
        )
    ]
    xs = sorted(revs)
    n, s = len(xs), sum(xs)
    gini = 2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * s) - (n + 1) / n
    hhi = sum(x * x for x in xs) / (s * s)
    top = sum(xs[n - n // 10 :]) / s

    r = revenue_concentration_report(spark, sf_dir).collect()[0]
    assert (r.n_customers, r.total_cents) == (n, s)
    assert abs(r.gini - gini) < 2e-6
    assert abs(r.hhi - hhi) < 2e-6
    assert abs(r.top_decile_share - top) < 2e-6
    assert 0 <= r.gini <= 1 and 0 < r.hhi <= 1


def test_cuped_matches_python_reference(spark, sf_dir):
    """theta, the adjusted means, and the variance-reduction fraction
    must match direct Python computations on the per-customer rows."""
    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.mlmetrics import cuped_adjusted_ab_test
    from csv2parquet_spark.tables import table

    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    rows = (
        table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("c"),
            F.when(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1)
                < "8",
                1,
            )
            .otherwise(0)
            .alias("a"),
            F.when(F.col("o_orderdate") >= "1996-01-01", cents)
            .otherwise(0)
            .alias("yc"),
            F.when(F.col("o_orderdate") < "1996-01-01", cents)
            .otherwise(0)
            .alias("xc"),
        )
        .groupBy("c", "a")
        .agg(F.sum("yc").alias("y"), F.sum("xc").alias("x"))
        .collect()
    )
    n = len(rows)
    sx = sum(r.x for r in rows); sy = sum(r.y for r in rows)
    sxx = sum(r.x * r.x for r in rows); sxy = sum(r.x * r.y for r in rows)
    syy = sum(r.y * r.y for r in rows)
    cov = sxy - sx * sy / n
    varx = sxx - sx * sx / n
    vary = syy - sy * sy / n
    theta = cov / varx
    got = {r.arm_a: r for r in cuped_adjusted_ab_test(spark, sf_dir).collect()}
    assert set(got) == {0, 1}
    for arm in (0, 1):
        sub = [r for r in rows if r.a == arm]
        my = sum(r.y for r in sub) / len(sub)
        mx = sum(r.x for r in sub) / len(sub)
        adj = my - theta * (mx - sx / n)
        r = got[arm]
        assert r.n_arm == len(sub)
        assert abs(r.mean_y - my) < 2e-5
        assert abs(r.mean_y_cuped - adj) < 2e-5
        assert abs(r.theta - theta) < 2e-6
        assert abs(r.var_reduction - cov * cov / (varx * vary)) < 2e-6
        assert 0 <= r.var_reduction <= 1


def test_global_cumsum_multi_column_matches_window(spark):
    """The list form must equal per-column global-window running sums
    (shared sort, one kernel) including negative weights."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csv2parquet_spark.operators.ranking import global_cumsum

    rows = [(i, (i * 31) % 17 + 1, ((i * 7) % 11) - 5) for i in range(541)]
    df = spark.createDataFrame(rows, ["k", "w1", "w2"]).repartition(9)
    got = {
        r.k: (r.c1, r.c2)
        for r in global_cumsum(
            df, ["k"], weight_col=["w1", "w2"], cum_col=["c1", "c2"]
        ).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.k: (r.c1, r.c2)
        for r in df.withColumn("c1", F.sum("w1").over(w))
        .withColumn("c2", F.sum("w2").over(w))
        .collect()
    }
    assert got == want


def test_spearman_matches_scipy_style_reference(spark, sf_dir):
    """rho must equal Pearson on tie-corrected midranks computed
    directly in Python."""
    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.mlmetrics import spearman_rank_correlation
    from csv2parquet_spark.tables import table

    rows = (
        table(spark, sf_dir, "orders")
        .select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("x"),
            (F.col("o_orderkey") % 97).cast("long").alias("y"),
        )
        .collect()
    )

    def midrank_map(vals):
        from collections import Counter

        cnt = Counter(vals)
        out = {}
        cum = 0
        for v in sorted(cnt):
            out[v] = cum + (cnt[v] + 1) / 2  # average rank of the tie run
            cum += cnt[v]
        return out

    xs = [r.x for r in rows]
    ys = [r.y for r in rows]
    mx = midrank_map(xs)
    my = midrank_map(ys)
    rx = [mx[v] for v in xs]
    ry = [my[v] for v in ys]
    n = len(rows)
    mxbar = sum(rx) / n
    mybar = sum(ry) / n
    cov = sum((a - mxbar) * (b - mybar) for a, b in zip(rx, ry))
    vx = sum((a - mxbar) ** 2 for a in rx)
    vy = sum((b - mybar) ** 2 for b in ry)
    want = cov / (vx * vy) ** 0.5

    r = spearman_rank_correlation(spark, sf_dir).collect()[0]
    assert r.n == n
    assert abs(r.spearman_rho - want) < 2e-6


def test_pps_sample_crossing_invariants(spark, sf_dir):
    """PPS systematic sampling: ≤97 rows (one per crossed bucket),
    buckets strictly increasing in doc order, every bucket in [1, 97],
    and each selected doc's char mass actually contains its crossing
    (floor((cum−w)·97/total) < bucket ≤ floor(cum·97/total))."""
    import duckdb

    from csv2parquet_spark.queries import REGISTRY

    rows = (
        REGISTRY["pps_systematic_sample"].fn(spark, sf_dir)
        .orderBy("doc_id")
        .collect()
    )
    total = duckdb.sql(
        f"SELECT sum(n_chars) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert 1 <= len(rows) <= 97
    buckets = [r.bucket for r in rows]
    assert buckets == sorted(buckets) and len(set(buckets)) == len(buckets)
    for r in rows:
        lo = (r.cum - r.n_chars) * 97 // total
        hi = r.cum * 97 // total
        assert lo < r.bucket <= hi, r


def test_peak_concurrency_matches_bruteforce(spark, sf_dir):
    """Sweep-line peak concurrency equals a brute-force per-event scan
    (half-open [s, e) intervals) on the fixture data."""
    from collections import defaultdict

    from csv2parquet_spark.queries import REGISTRY
    from csv2parquet_spark.tables import table

    got = {
        r.day: (r.n_events, r.peak_concurrency)
        for r in REGISTRY["peak_concurrency_daily"].fn(spark, sf_dir).collect()
    }
    ev = table(spark, sf_dir, "events").select("event_id", "ts").collect()
    per_day = defaultdict(list)
    for r in ev:
        day = r.ts.date()
        import datetime

        e = min(
            r.ts + datetime.timedelta(seconds=60 * (1 + r.event_id % 5)),
            datetime.datetime.combine(
                day + datetime.timedelta(days=1), datetime.time()
            ),
        )
        per_day[day].append((r.ts, e))
    for day, ivs in per_day.items():
        # brute force: concurrency at each interval start
        peak = max(
            sum(1 for (s2, e2) in ivs if s2 <= s < e2) for (s, _) in ivs
        )
        key = day.strftime("%Y-%m-%d")
        assert got[key] == (len(ivs), peak), (day, got[key], len(ivs), peak)


def test_lang_id_kappa_matches_direct_python(spark, sf_dir):
    """κ from the registered query equals the direct computation over
    the confusion matrix (Fraction-exact, then the same truncation)."""
    from fractions import Fraction

    from csv2parquet_spark.queries import REGISTRY
    from csv2parquet_spark.queries.llm_ops import lang_id_heuristic

    conf = lang_id_heuristic(spark, sf_dir).collect()
    n = sum(r.n_docs for r in conf)
    agree = sum(r.n_docs for r in conf if r.lang == r.predicted)
    rows, cols = {}, {}
    for r in conf:
        rows[r.lang] = rows.get(r.lang, 0) + r.n_docs
        cols[r.predicted] = cols.get(r.predicted, 0) + r.n_docs
    pe = sum(rows.get(k, 0) * cols.get(k, 0) for k in set(rows) & set(cols))
    got = REGISTRY["lang_id_agreement_kappa"].fn(spark, sf_dir).collect()[0]
    assert got.n_docs == n and got.n_agree == agree
    assert got.kappa_num == n * agree - pe
    assert got.kappa_den == n * n - pe
    import math

    want_ppm = Fraction(n * agree - pe, 1) * 1_000_000 / Fraction(n * n - pe)
    # FLOOR on both sides: DuckDB `//` floors and the Spark expression
    # is the floor-consistent (x - pmod(x, den)) DIV den (ADVICE r6 —
    # plain Spark DIV truncates toward zero and would differ by 1 on
    # below-chance agreement, kappa_num < 0).
    assert got.kappa_ppm == math.floor(want_ppm)


def test_minhash_recall_audit_bounds(spark, sf_dir):
    """Audit sanity: hits ≤ min(truth, candidates); verified pairs
    (minhash_near_dups output) == hits, because verify keeps exactly
    the candidates that meet the exact-Jaccard threshold."""
    from csv2parquet_spark.queries import REGISTRY

    a = REGISTRY["minhash_recall_audit"].fn(spark, sf_dir).collect()[0]
    assert a.n_hits <= min(a.n_truth, a.n_candidates)
    assert 0 <= a.recall_ppm <= 1_000_000
    assert 0 <= a.precision_ppm <= 1_000_000
    verified = REGISTRY["minhash_near_dups"].fn(spark, sf_dir).count()
    assert verified == a.n_hits


def test_winnow_digests_null_and_short_text(spark):
    """The vectorized winnowing kernel: NULL text → empty fingerprint
    set → NULL digest (r11 NULL contract: never md5('')), sub-k text →
    empty → NULL, exactly-k text → one fingerprint."""
    import hashlib

    from csv2parquet_spark.operators.text import winnow_fingerprint_digests

    df = spark.createDataFrame(
        [(1, None), (2, "abc"), (3, "abcde")], "doc_id bigint, text string"
    )
    got = {r.doc_id: (r.n_fp, r.fp_digest) for r in
           winnow_fingerprint_digests(df).collect()}
    assert got[1] == (0, None)
    assert got[2] == (0, None)
    h = ((((ord("a") * 257 + ord("b")) * 257 + ord("c")) * 257
          + ord("d")) * 257 + ord("e"))
    assert got[3] == (1, hashlib.md5(str(h).encode()).hexdigest())


def test_t_closeness_matches_fraction_reference(spark, sf_dir):
    """t_ppm from the registered query equals the Fraction-exact
    ordered-EMD computed straight from the (class, sens) counts —
    floor semantics included (the kappa pattern)."""
    from fractions import Fraction
    import math

    from pyspark.sql import functions as F

    from csv2parquet_spark.queries import REGISTRY
    from csv2parquet_spark.tables import table

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    rel = o.join(
        c.select(
            "c_custkey", "c_nationkey", "c_mktsegment",
            F.floor(F.col("c_acctbal") / 4000).alias("bal_band"),
        ),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("c_nationkey", "c_mktsegment", "bal_band", "o_orderpriority")
    cells = rel.groupBy(
        "c_nationkey", "c_mktsegment", "bal_band", "o_orderpriority"
    ).count().collect()

    sens = sorted({r.o_orderpriority for r in cells})
    glob = {s: 0 for s in sens}
    classes: dict = {}
    for r in cells:
        key = (r.c_nationkey, r.c_mktsegment, r.bal_band)
        classes.setdefault(key, {s: 0 for s in sens})[r.o_orderpriority] += r["count"]
        glob[r.o_orderpriority] += r["count"]
    n = sum(glob.values())
    m = len(sens)

    want = {}
    for key, dist in classes.items():
        n_c = sum(dist.values())
        cp = cq = 0
        acc = Fraction(0)
        for s in sens:
            cp += dist[s]
            cq += glob[s]
            acc += abs(Fraction(cp, n_c) - Fraction(cq, n))
        want[key] = (n_c, math.floor(acc / (m - 1) * 1_000_000))

    got = {
        (r.c_nationkey, r.c_mktsegment, r.bal_band): (r.class_size, r.t_ppm)
        for r in REGISTRY["t_closeness_report"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_incremental_ingest_latest_content(spark):
    """The reconciled dataset is exactly what the fixture's three
    converter runs imply: b and c rows from their only batches, file
    a's rows ONLY from batch 2 (the changed-file reconvert) with the
    changed values — no batch-0 leftovers."""
    from csv2parquet_spark.queries import REGISTRY

    rows = {
        (r.source, r.batch, r.k, r.v)
        for r in REGISTRY["incremental_ingest_latest"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert rows == {
        ("b", 0, 4, 40), ("b", 0, 5, 50),
        ("c", 1, 6, 60), ("c", 1, 7, 70),
        ("a", 2, 1, 11), ("a", 2, 2, 22), ("a", 2, 3, 33), ("a", 2, 8, 88),
    }


# ---------------------------------------------------------------------------
# Round-8 third review wave: operator-library hardening
# ---------------------------------------------------------------------------


def test_global_cumsum_rejects_mixed_null_weights(spark):
    """sum() skips NULLs, so [5, NULL, 3] used to pass the all-NULL
    check and the int64 kernel turned the NaN row into INT64_MIN —
    silent corruption. Mixed NULLs must raise."""
    from csv2parquet_spark.operators.ranking import global_cumsum

    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 3)], "k int, w int"
    )
    with pytest.raises(ValueError, match="NULL weights"):
        global_cumsum(df, keys=["k"], weight_col="w").collect()


def test_global_running_max_rejects_mixed_null_values(spark):
    from csv2parquet_spark.operators.ranking import global_running_max

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 7)], "k int, v int"
    )
    with pytest.raises(ValueError, match="NULL values"):
        global_running_max(df, keys=["k"], value_col="v").collect()


def test_exact_median_empty_and_null_diagnostics(spark):
    from csv2parquet_spark.operators.ranking import exact_median

    empty = spark.createDataFrame([], "x double")
    with pytest.raises(ValueError, match="empty input or NULL"):
        exact_median(empty, "x")
    with_null = spark.createDataFrame([(1.0,), (None,), (3.0,)], "x double")
    with pytest.raises(ValueError, match="empty input or NULL"):
        exact_median(with_null, "x")
    # and the clean path still works
    m, n = exact_median(
        spark.createDataFrame([(1.0,), (2.0,), (9.0,)], "x double"), "x"
    )
    assert (m, n) == (2.0, 3)


def test_grouped_zscore_singleton_and_constant_groups_null(spark):
    """SQL stddev_samp semantics: singleton groups (stddev NULL) and
    zero-variance groups (0/0) yield NULL z — pandas would give NaN,
    which crosses Arrow as double NaN and diverges from the SQL twin."""
    from csv2parquet_spark.operators.grouped import grouped_zscore

    df = spark.createDataFrame(
        [(1, "solo", 10), (2, "flat", 5), (3, "flat", 5),
         (4, "ok", 1), (5, "ok", 3)],
        "doc_id bigint, lang string, n_chars int",
    )
    rows = {r.doc_id: r.z for r in grouped_zscore(df).collect()}
    assert rows[1] is None          # singleton → NULL, not NaN
    assert rows[2] is None and rows[3] is None  # zero variance → NULL
    assert rows[4] is not None and rows[4] == -rows[5]


def test_grid_radius_join_int32_coordinates_no_overflow(spark):
    """dist2 squares in long: int32 coordinates with ~1e5 spread used to
    overflow at dx*dx (ANSI: job-killing ARITHMETIC_OVERFLOW)."""
    from csv2parquet_spark.operators.spatial import grid_radius_join

    left = spark.createDataFrame([(1, 0, 0)], "id_l int, xl int, yl int")
    right = spark.createDataFrame(
        [(10, 49_000, 0), (11, 80_000, 0)], "id_r int, xr int, yr int"
    )
    got = grid_radius_join(left, right, radius=50_000).collect()
    assert [(r.id_r, r.dist2) for r in got] == [(10, 49_000 ** 2)]


def test_image_near_dups_rejects_radius_beyond_pigeonhole(spark):
    from csv2parquet_spark.operators.multimodal import image_near_dups

    docs = spark.createDataFrame(
        [(1, b"x")], "doc_id bigint, payload binary"
    )
    with pytest.raises(ValueError, match="pigeonhole"):
        image_near_dups(docs, max_hamming=4)


def test_graph_ops_empty_edges(spark):
    """Empty edge relations return empty results, not ZeroDivisionError
    / int(None) driver crashes."""
    from csv2parquet_spark.operators.graph import bfs_hops, pagerank, pagerank_fixed

    e = spark.createDataFrame([], "src bigint, dst bigint")
    assert pagerank(e).count() == 0
    assert pagerank_fixed(e).count() == 0
    assert bfs_hops(e, None).count() == 0


# ---------------------------------------------------------------------------
# Round-8 fifth review wave: sketches / sampling gates / skew / linalg
# ---------------------------------------------------------------------------


def test_cms_lookup_absent_token_estimates_zero(spark):
    """The counter table is sparse: a token whose cells were never
    incremented must estimate 0 (left join + coalesce), not vanish or
    inherit a colliding cell's count."""
    from csv2parquet_spark.operators.sketches import cms_build, cms_lookup

    toks = spark.createDataFrame([("a",)] * 5 + [("b",)] * 3, "token string")
    sketch = cms_build(toks)
    got = {
        r.token: r.cms_estimate
        for r in cms_lookup(
            sketch, spark.createDataFrame([("a",), ("zzz_absent",)], "token string")
        ).collect()
    }
    assert got["a"] >= 5           # upper bound, never undercounts
    assert got["zzz_absent"] == 0  # present in output, estimate 0


def test_cms_bucket_rejects_out_of_range_hash_index(spark):
    from csv2parquet_spark.operators.sketches import bloom_build, cms_bucket

    with pytest.raises(ValueError, match="k must be 0..3"):
        cms_bucket(F.lit("x"), 4)
    with pytest.raises(ValueError, match="k must be 0..3"):
        bloom_build(spark.createDataFrame([("a",)], "k string"), "k", k=5)


def test_hll_ignores_nulls_and_empty_estimates_zero(spark):
    from csv2parquet_spark.operators.sketches import hll_estimate, hll_registers

    vals = spark.createDataFrame(
        [(str(i),) for i in range(200)] + [(None,)] * 10, "v string"
    )
    regs = hll_registers(vals, "v")
    assert regs.filter(F.col("bucket").isNull()).count() == 0
    est = hll_estimate(regs).collect()[0].hll_estimate
    assert 150 <= est <= 260  # ~200 within HLL error at m=1024
    empty = spark.createDataFrame([], "v string")
    assert hll_estimate(hll_registers(empty, "v")).collect()[0].hll_estimate == 0.0


def test_kmv_quantiles_small_sample(spark):
    """A corpus smaller than k yields ranks within the ACTUAL sample;
    every requested quantile appears (none silently dropped)."""
    from csv2parquet_spark.operators.sketches import kmv_quantiles, kmv_sample

    df = spark.createDataFrame(
        [(float(i), i) for i in range(10)], "x double, id bigint"
    )
    sample = kmv_sample(df, "x", "id", k=500)
    got = kmv_quantiles(sample, [0.0, 0.5, 0.95, 1.0], k=500).collect()
    assert [r.q for r in got] == [0.0, 0.5, 0.95, 1.0]
    by_q = {r.q: r.value for r in got}
    assert by_q[0.0] == 0.0 and by_q[1.0] == 9.0


def test_mixture_gate_large_ids_no_overflow(spark):
    """The per-mille gate computes pmod(pmod(id,1000)*M, 1000) — the
    modular identity keeps the product bigint-safe where id*M overflows
    ANSI arithmetic above id ~3.47e9; values are unchanged (verified
    against Python's exact arithmetic)."""
    from csv2parquet_spark.operators.pipeline import _MIX_MULT, mixture_keep

    ids = [1, 999, 123456, 3_470_000_000, 4_000_000_000, 2**62]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {
        r.doc_id: r.keep
        for r in df.select(
            "doc_id", mixture_keep(F.lit(500)).alias("keep")
        ).collect()
    }
    for i in ids:
        assert got[i] == ((i * _MIX_MULT) % 1000 < 500), i


def test_salted_join_hot_null_keys_routed(spark):
    """NULL join keys match nothing but used to funnel through the one
    NULL shuffle partition; they now bypass the join. Results stay
    identical to the plain join."""
    from csv2parquet_spark.operators.skewjoin import salted_join_hot

    big = spark.createDataFrame(
        [(1, "a")] * 50 + [(None, "n")] * 50 + [(2, "b")], "k int, v string"
    )
    small = spark.createDataFrame([(1, "X"), (2, "Y")], "k int, w string")
    got = sorted(
        map(str, salted_join_hot(big, small, "k", r=4, hot_threshold=10).collect())
    )
    want = sorted(map(str, big.join(small, "k").collect()))
    assert got == want


def test_linalg_null_embeddings_dropped(spark):
    from csv2parquet_spark.operators.linalg import gram_matrix, pca_project

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 2.0])],
        "vec_id bigint, embedding array<double>",
    )
    g = {(r.i, r.j): r.v for r in gram_matrix(df, dim=2).collect()}
    assert g[(0, 0)] == 1.0 and g[(1, 1)] == 4.0  # null row contributed 0
    assert pca_project(df, k=1, dim=2).count() == 2  # null row dropped


def test_fuzzy_dim_join_enforces_dimension_contract(spark):
    """VERDICT r8 item 5: a corpus-scale lookup side must RAISE, not run
    a silent quadratic BroadcastNestedLoop; dim-sized sides still join.
    The guard is a LocalLimit count, so the cap is exercised directly."""
    import pytest

    from csv2parquet_spark.operators.scan import assert_dim_sized
    from csv2parquet_spark.queries.relational import fuzzy_dim_join

    dim = spark.createDataFrame(
        [(i, f"name{i:03d}") for i in range(50)], "s_suppkey int, s_name string"
    )
    probes = spark.createDataFrame(
        [(1, "name001"), (2, "nam002")], "probe_key int, probe_name string"
    )

    # happy path: dim-sized side joins; the corrupted probe matches at
    # dist<=2 and the exact probe at dist 0
    out = fuzzy_dim_join(probes, dim, "probe_name", "s_name")
    assert out.filter("probe_key = 2 AND s_suppkey = 2").count() == 1

    # corpus-scale right side (simulated by the cap) raises loudly,
    # pointing at the blocked joins
    with pytest.raises(ValueError, match="dimension contract"):
        fuzzy_dim_join(probes, dim, "probe_name", "s_name", max_dim_rows=10)

    # the guard itself: passes through under the cap, raises above it
    assert assert_dim_sized(dim, "t", max_rows=50) is dim
    with pytest.raises(ValueError, match="no scale path"):
        assert_dim_sized(dim, "t", max_rows=49)


def test_knn_join_enforces_query_batch_contract(spark):
    """r9: knn_join's map-side work is corpus x queries — a corpus-scale
    query batch must RAISE (pointing at the IVF/LSH scale paths), not
    silently broadcast and run an all-pairs job. Dim-sized batches
    still work."""
    import pytest

    from csv2parquet_spark.operators.similarity import knn_join

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id bigint, embedding array<double>",
    )
    qs = vecs.selectExpr("vec_id AS query_id", "embedding")
    out = knn_join(vecs, qs.limit(2), k=3)
    assert out.groupBy("query_id").count().count() == 2

    with pytest.raises(ValueError, match="knn_join"):
        knn_join(vecs, qs, k=3, max_query_rows=10)


def test_embedding_kernels_reject_null_embeddings_loudly(spark):
    """r9 NULL-twin audit follow-up: the two central embedding kernels
    raise an actionable contract error on NULL embeddings instead of a
    bare numpy vstack traceback."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from csv2parquet_spark.operators.similarity import (
        _assign_clusters,
        pairwise_near_dups,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises((PythonException, Py4JJavaError), match="NULL embeddings"):
        pairwise_near_dups(df, threshold=0.9, dim=2).collect()
    with pytest.raises((PythonException, Py4JJavaError), match="NULL embeddings"):
        _assign_clusters(df, [[1.0, 0.0], [0.0, 1.0]]).collect()
