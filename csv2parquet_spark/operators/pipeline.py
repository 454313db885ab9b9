"""Corpus-hygiene operators for LLM training-data pipelines: benchmark
decontamination, C4-style quality filtering, Gopher-style repetition
signals, boilerplate n-gram detection, and deterministic mixture
sampling.

These extend the reference's surface per the north-star mandate
(SURVEY.md §2.8; the reference itself — /root/reference/src/main.rs —
is a single CSV→Parquet dataflow with none of this). Everything is
Catalyst built-ins (no Python in the hot path); the shuffled keys are
16-byte hashes or small aggregates, never document bodies, so every
operator keeps the 100 TB-safe shape:

- decontaminate: eval-set shingle keys are DISTINCT'd and broadcast
  (benchmarks are tiny next to a training corpus), so the train side is
  scanned once, map-side, with no shuffle of the corpus.
- boilerplate n-grams: the corpus shuffles only (hash, 1) pairs after
  a per-doc DISTINCT — classic partial-aggregate-friendly shape.
- quality / repetition: per-document map-only arithmetic (quality) or
  a per-doc-keyed agg (repetition) — embarrassingly parallel.
- mixture sampling: pure arithmetic on (doc_id, source); at scale swap
  the multiplicative hash for xxhash64(id) to be robust to
  non-sequential id spaces (kept SQL-expressible here for the oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csv2parquet_spark.operators import text as T

# C4/Gopher-ish quality-rule stopword list (english function words; the
# fixture corpus draws fillers from this set).
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on")


def shingle_keys(
    df: DataFrame, text_col: str = "text", k: int = 5, id_col: str = "doc_id"
) -> DataFrame:
    """(id, h) — md5 keys of the DISTINCT k-token shingles per document.

    md5 keeps the key DuckDB-reproducible for the oracle; at scale the
    same topology runs on ``xxhash64`` (8-byte keys) — only the key
    expression changes, never the plan shape.
    """
    sh = T.shingles(T.tokens(text_col), k=k)
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle")
    ).select(id_col, F.md5("shingle").alias("h"))


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: train documents sharing at least one
    k-token shingle with the eval corpus → (doc_id, n_shared).

    The eval shingle-key set is distinct'd and broadcast —
    the standard production shape: eval suites are MBs while the train
    corpus is TBs, so contamination checking must not shuffle the
    corpus. The train side explodes to (doc_id, h) and inner-joins the
    broadcast set map-side; the only shuffle is the final per-doc count
    over hit rows (a tiny fraction of the corpus).
    """
    ev = F.broadcast(shingle_keys(eval_df, k=k).select("h").distinct())
    hits = shingle_keys(train, k=k).join(ev, "h")
    return hits.groupBy("doc_id").agg(F.count_distinct("h").alias("n_shared"))


def remove_contaminated(
    train: DataFrame, eval_df: DataFrame, k: int = 5
) -> DataFrame:
    """Train corpus minus every document flagged by :func:`decontaminate`
    (left-anti on the contaminated id set)."""
    bad = decontaminate(train, eval_df, k=k).select("doc_id")
    return train.join(bad, "doc_id", "left_anti")


def quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style per-document quality rule columns (all Catalyst, map-only).

    Rules (thresholds tuned to the fixture corpus; each is a standard
    C4/Gopher signal):
      pass_min_words   — ≥ 20 whitespace tokens
      pass_word_len    — mean token length in [3, 10]
      pass_stopword    — ≥ 1% of tokens are function words
      pass_repetition  — duplicate-2-gram fraction ≤ 0.10
    ``keep`` is the conjunction. Mean token length uses the exact
    single-space identity (chars − spaces) / n_tokens, computed
    engine-independently.
    """
    toks = T.tokens(text_col)
    n = F.size(toks)
    avg_len = (F.length(text_col) - n + 1) / n
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    sh2 = T.shingles(toks, k=2)
    n2 = F.size(sh2)
    dup2 = F.when(n2 > 0, (n2 - F.size(F.array_distinct(sh2))) / n2).otherwise(
        F.lit(0.0)
    )
    out = (
        df.withColumn("pass_min_words", n >= 20)
        .withColumn("pass_word_len", (avg_len >= 3) & (avg_len <= 10))
        .withColumn("pass_stopword", n_stop / n >= 0.01)
        .withColumn("pass_repetition", dup2 <= 0.10)
    )
    return out.withColumn(
        "keep",
        F.col("pass_min_words")
        & F.col("pass_word_len")
        & F.col("pass_stopword")
        & F.col("pass_repetition"),
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: 2-gram count,
    duplicate-2-gram fraction, and top-2-gram fraction.

    CONTRACT: documents with fewer than two tokens have no 2-grams and
    are ABSENT from the output (the registered DuckDB oracle mirrors
    this exactly — its range() emits no shingle rows for them). Callers
    that need a row per document left-join the stats back and coalesce
    n_2grams to 0, as quality_columns does with its when/otherwise.

    Two-level aggregation keyed by doc_id — partial aggregation runs
    map-side, and the per-doc group is bounded by document length, so
    no key can exceed one document's shingle count.
    """
    sh2 = df.select(
        "doc_id", F.explode(T.shingles(T.tokens(text_col), k=2)).alias("g")
    )
    per = sh2.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_2grams"),
        F.round((F.sum("c") - F.count("*")) / F.sum("c"), 6).alias("dup2_frac"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top2_frac"),
    )


def boilerplate_ngrams(
    df: DataFrame, text_col: str = "text", k: int = 5, min_docs: int = 3, top: int = 50
) -> DataFrame:
    """Boilerplate detection: k-token shingles appearing in ≥ min_docs
    DISTINCT documents, most-frequent first (ties broken on the shingle
    for determinism).

    Per-doc DISTINCT happens before the explode, so the shuffle carries
    one row per (doc, shingle) — at scale, hash the shingle first and
    join the winners back for display; the aggregate itself is the
    classic partial-agg count shape.
    """
    sh = df.select(
        F.explode(
            F.array_distinct(T.shingles(T.tokens(text_col), k=k))
        ).alias("shingle")
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), "shingle")
        .limit(top)
    )


# Knuth multiplicative-hash constant; coprime to the 1000 threshold
# space, so over any 1000 consecutive ids the kept fraction is EXACTLY
# the per-mille weight.
_MIX_MULT = 2654435761


def mixture_keep(weight_permille: Column, id_col: str = "doc_id") -> Column:
    """Deterministic Bernoulli(weight) gate on the id — reproducible
    across engines and runs (no RNG state). At scale use
    ``xxhash64(id) % 1000`` instead to decorrelate from structured id
    spaces; the arithmetic form is kept here so the DuckDB oracle can
    reproduce it bit-for-bit."""
    return _mix_gate(id_col) < weight_permille


def _mix_gate(id_col: str) -> Column:
    """pmod(id·M, 1000) computed as pmod(pmod(id,1000)·M, 1000) — the
    modular-multiplication identity keeps the product ≤ 999·M ≈ 2.65e12
    (bigint-safe), where the direct form overflows int64 for ids above
    ~3.47e9: an ANSI ARITHMETIC_OVERFLOW job failure, or a silent
    per-mille-breaking wrap with ANSI off (review r8). Same value for
    every id, so the DuckDB oracles (which compute the direct form in
    int128) are unaffected."""
    return F.pmod(
        F.pmod(F.col(id_col), F.lit(1000)) * F.lit(_MIX_MULT), F.lit(1000)
    )


def mixture_weighted_sample(df: DataFrame, weight_permille: Column) -> DataFrame:
    """Per-source mixture sampling summary: total docs, kept docs, and
    kept chars under the deterministic per-mille gate (map-only +
    one small per-source aggregate)."""
    keep = mixture_keep(weight_permille)
    kept = F.when(keep, 1).otherwise(0)
    return df.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
    )


def split_assign(id_col: str = "doc_id", val_permille: int = 50, test_permille: int = 50) -> Column:
    """Deterministic train/val/test assignment from the id — stable
    across runs, engines, and re-partitioning (no RNG state, unlike
    randomSplit). Gate arithmetic matches :func:`mixture_keep`; at
    scale swap the multiplicative hash for xxhash64(id) % 1000."""
    gate = _mix_gate(id_col)
    return (
        F.when(gate < val_permille, "val")
        .when(gate < val_permille + test_permille, "test")
        .otherwise("train")
    )


def profile_columns(df, specs):
    """One-pass column profiler (the warehouse data-profiling staple):
    one output row per column — (column, n_rows, n_null, n_distinct,
    min_repr, max_repr), with min/max pre-cast by the caller to a
    string-stable type (``specs`` maps column name → Column expression).

    Single scan: all per-column aggregates run in ONE agg. The exact
    multi-column count_distinct plans as an Expand (×k rows into the
    partial agg) — the one-pass cost of k exact distincts; for wide
    tables at corpus scale either profile in column batches or swap
    approx_count_distinct in. k is caller-bounded here, so exactness
    wins (and the DuckDB oracle is exact too).
    """
    def q(generated: str) -> Column:
        # backtick-quote generated references: a spec NAME containing a
        # dot (profiling a dotted source column) would otherwise parse
        # as a struct-field access on re-read (review r8)
        return F.col("`" + generated.replace("`", "``") + "`")

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for name, col in specs.items():
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"__null_{name}"),
            F.count_distinct(col).alias(f"__dist_{name}"),
            F.min(col).cast("string").alias(f"__min_{name}"),
            F.max(col).cast("string").alias(f"__max_{name}"),
        ]
    row = df.agg(*aggs)
    stacked = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("column"),
                        F.col("__rows").alias("n_rows"),
                        q(f"__null_{name}").cast("long").alias("n_null"),
                        q(f"__dist_{name}").alias("n_distinct"),
                        q(f"__min_{name}").alias("min_repr"),
                        q(f"__max_{name}").alias("max_repr"),
                    )
                    for name in specs
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")
