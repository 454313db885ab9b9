"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The FINAL stdout line is ONE compact JSON object:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "n_queries": <n>, "sf": <sf>, "queries_detail": "BENCH_DETAIL.json",
   "canary_box_ratio_vs_r8": <ratio, sf0.1 runs only>}
The line before it carries the 2dp per-query map. Per-query spreads,
calibration, rotation and conversion-benchmark blocks go to a sidecar
file (BENCH_DETAIL.json next to this script) and an EARLIER stdout
line — the round-3 all-in-one line outgrew the driver's tail capture
(BENCH_r03 "parsed": null), so the parseable summary now comes last
and stays small.

Each query executes its FULL plan via the noop sink (no driver-side
collect — we measure engine time, not result transfer). Timings are
STEADY-STATE: one warm run, then ADAPTIVE best-of-N timed runs per
query — timing continues (up to 6 runs) until the two fastest runs
agree within min(0.3 s, 30% of best), so the reported best is a
REPRODUCED number, not a contention fluke, and one-time
whole-stage-codegen compilation doesn't swamp engine time — on a real
cluster those kernels compile once per executor lifetime, not once per
query. The sidecar's `spread` is second_best − best (uncertainty of
the reported number); `n_runs` says how hard each query fought the box.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import statistics
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from csv2parquet_spark.converter import ConvertOptions, convert  # noqa: E402
from csv2parquet_spark.planmetrics import executed_shuffle_metrics  # noqa: E402
from csv2parquet_spark.queries import REGISTRY  # noqa: E402
from csv2parquet_spark.session import get_spark  # noqa: E402

# Fixture CSVs and conversion outputs (generation is setup, not timed).
WORK = "/tmp/spark_graft_bench"
# Non-HEADLINE keys timed per round by the rotation tier.
ROTATION_KEYS = 30

HEADLINE = [
    "q1_pricing_summary",
    "filter_project",
    "q3_top_revenue_orders",
    "q5_local_supplier_volume",
    "join_left_outer_order_counts",
    "agg_distinct_counts",
    "window_rank_orders",
    "window_running_sum",
    "topk_orders_by_price",
    "stream_tumbling_window",
    "stream_session_windows",
    "asof_purchase_prev_click",
    "dedup_exact",
    "ngram_jaccard_near_dups",
    "minhash_near_dups",
    "simhash_near_dups",
    "similarity_topk_exact",
    "embedding_near_dups",
    "text_token_stats",
    "doc_fingerprints",
    "json_funcs",
    # round-2 additions
    "corpus_pipeline_end_to_end",
    "tfidf_top_terms",
    "count_min_token_counts",
    # round-3 additions
    "window_ntile_scalable",
    "multimodal_decode_real",
    # round-3 late additions (time-series + tokenizer/index ops);
    # round-over-round totals compare like-for-like on shared keys
    "sessionize_events_gap",
    "token_entropy_quality",
    "bpe_pair_counts",
    "inverted_index_postings",
    # round-3 continuation (corpus second wave + skew join + training)
    "exact_substr_dup_spans",
    "pack_sequences_greedy",
    "skew_join_salted",
    "bpe_train_merges",
    "logreg_gd_weights",
    # round-4 additions (funnel / LM filter / paragraph dedup /
    # length bucketing / image perceptual hash)
    "funnel_signup_view_purchase",
    "bigram_lm_scores",
    "paragraph_dedup_rebuild",
    "length_bucket_packing_report",
    "image_ahash_near_dups",
    "bm25_topk_docs",
    "multimodal_resize_real",
    "audio_features_real",
    "video_frame_sample_real",
    "image_features_real",
    # round-4 continuation (ML eval / scan-opt / URL hygiene / EWMA)
    "roc_auc_exact",
    "ewma_user_value",
    "url_canonical_dedup",
    "dpp_partitioned_days",
    "lateral_topk_per_nation",
    # round-4 second continuation (resampling + clustering loop)
    "timeseries_interpolate_linear",
    "kmeans_train_clusters",
    # round-5 additions (DSIR data selection / keep-best dedup /
    # runtime bloom-filter join / fixed-point PCA)
    "dsir_importance_weights",
    "dedup_keep_best_quality",
    "runtime_bloom_filter_join",
    "embedding_pca_project",
    "containment_near_dups",
    "content_defined_chunks",
    # round-5 fourth wave (order statistics + retrieval fusion)
    "skyline_parts_frontier",
    "mad_outlier_report",
    "rrf_fusion_hybrid",
    "mmr_diversify_topk",
    # round-5 fifth wave (calibration / survival)
    "isotonic_calibration_exact",
    "km_reorder_survival",
    # round-6: graph loops, promoted after the superstep rework
    # (VERDICT r5 item 3), and winnowing, after its single-task fix
    "lpa_copurchase_communities",
    "bfs_hops_copurchase",
    "textrank_tokens",
    "winnowing_fingerprints",
    # round-5 eighth wave (inference completion)
    "ks_test_two_sample",
    "cuped_adjusted_ab_test",
    "revenue_concentration_report",
    # round-7 additions (ingest reconcile / governance / spatial join)
    "incremental_ingest_latest",
    "t_closeness_report",
    "spatial_radius_join_grid",
    # round-8 additions (seeded epoch shuffle / compacted ingest)
    "epoch_shuffle_seeded",
    "incremental_ingest_after_gc",
]


# ---------------------------------------------------------------------------
# Canary calibration (VERDICT r7 item 1): the r7 driver bench drifted
# +9.6% like-for-like with every worst key in r7-untouched code — box
# drift and a real regression were indistinguishable because the bench
# had no in-run yardstick. These keys are FROZEN trivial queries
# (scan+filter, top-k sort, exact dedup, running-sum window, JSON
# funcs — code untouched since r1/r2); their driver times are pinned
# below, so every future run carries its own box-speed ratio:
#   normalized_ratio(key, rN) = (t_now/t_rN) / canary_ratio_vs_rN.
# A normalized ratio ≈1 with a high raw ratio = box drift; a high
# normalized ratio = a real regression. Medians, not means — any one
# canary can catch a contended scheduler slot.
CANARY_KEYS = [
    "filter_project",
    "topk_orders_by_price",
    "dedup_exact",
    "window_running_sum",
    "json_funcs",
    # r9 widening (VERDICT r8 item 2): five keys were too few against
    # 1.5-2.5x host-noise phases. These five span HEADLINE's run order
    # and the engine's execution families (streaming-twin agg, text
    # kernel, Arrow/Pandas-UDF multimodal, dedup self-join, governance
    # report), all code-frozen.
    "stream_tumbling_window",
    "token_entropy_quality",
    "video_frame_sample_real",
    "containment_near_dups",
    "t_closeness_report",
]
# Driver-measured seconds at sf0.1 (BENCH_DETAIL.json as committed by
# the driver, r8 = commit ff40f08), all ten keys.
#
# WHICH NORMALIZER IS AUTHORITATIVE (VERDICT r8 item 2): the canary
# median over the ten frozen keys. The all-shared-keys median is the
# CROSS-CHECK only — it includes every key that genuinely regressed,
# so whenever a real regression exists it overestimates the box ratio
# and under-flags the regression; the canaries are frozen code and
# cannot regress. If the two disagree beyond ~5%, trust the canaries
# and probe the disagreement (isolated quiet-box protocol, ROUND8.md
# §1) rather than averaging the normalizers.
CANARY_REF = {
    "r8": {
        "filter_project": 0.286,
        "topk_orders_by_price": 0.144,
        "dedup_exact": 0.213,
        "window_running_sum": 0.652,
        "json_funcs": 0.367,
        "stream_tumbling_window": 0.338,
        "token_entropy_quality": 0.428,
        "video_frame_sample_real": 1.308,
        "containment_near_dups": 1.984,
        "t_closeness_report": 0.702,
    },
}

# Conversion-path canary (VERDICT r8 item 2: the r8 driver run's 2.5x
# big-conversion drift was unadjudicable because no conversion job had
# a pinned reference). The small fixed fixture (the sf0.1 lineitem CSV,
# ~39 MB) is the PINNED canary — it was stable across the very rounds
# whose big-conversion times swung 2.5x (r7 3.250/2.017 s vs r8
# 3.227/1.955 s single/parallel), which bounds how much of a big-path
# swing can be code: the small and big paths execute the same plan, so
# a code regression moves both, while page-cache/writeback phases hit
# only the GB-scale job.
CONV_CANARY_REF = {
    "r8": {"single_file_sec": 3.227, "parallel_sec": 1.955},
}

# Mid-size (~117 MB) conversion canary pins — driver-measured r9
# (BENCH_DETAIL.json @ commit 2b99c06; adopted into the BASELINE.md
# anchor table in r10 per VERDICT r9 item 5). Large enough that
# parse+encode dominates job overhead, so this ratio tracks sustained
# conversion throughput where the 39 MB fixture tracks fixed overhead.
MID_CONV_CANARY_REF = {
    "r9": {"single_file_sec": 5.463, "parallel_sec": 3.419},
}


def _ratios(
    times: dict, ref: dict[str, float]
) -> tuple[dict[str, float], float | None]:
    """``times[k] / ref[k]`` for every pinned key with a numeric time, and
    their median. A key missing from ``times`` is skipped; with none
    present the median is None — a HEADLINE edit or a failed bench
    degrades to an explicit marker, never a crash."""
    ratios = {
        k: round(times[k] / r, 3)
        for k, r in ref.items()
        if isinstance(times.get(k), (int, float)) and r
    }
    box = round(statistics.median(ratios.values()), 3) if ratios else None
    return ratios, box


def canary_section(times: dict[str, float]) -> dict:
    """Per-reference-round box-speed ratio from this run's canary times."""
    out: dict = {"keys": CANARY_KEYS, "ref": CANARY_REF}
    for rnd, ref in CANARY_REF.items():
        out[f"ratios_vs_{rnd}"], out[f"box_ratio_vs_{rnd}"] = _ratios(times, ref)
    missing = [k for k in CANARY_KEYS if k not in times]
    if missing:
        out["missing_keys"] = missing
    return out


def conv_canary_section(conv: dict, mid: dict | None = None) -> dict:
    """Box I/O-speed ratios for the conversion path, from the pinned
    small-fixture times (see CONV_CANARY_REF) and, when available, the
    mid-size canary (MID_CONV_CANARY_REF). Lives next to the query
    canaries so a future big-conversion swing arrives pre-adjudicated:
    conv canary moved too = box I/O phase; big path moved alone at
    stable canary = real code/plan regression."""
    out: dict = {"ref": CONV_CANARY_REF, "mid_ref": MID_CONV_CANARY_REF}
    # Each ref family gates on ITS OWN source dict (ADVICE r10): a
    # failed small-fixture bench must not skip the independent
    # mid-canary calibration, and vice versa — and a skip is recorded
    # with an explicit reason, never as silently-empty ratios.
    conv_ok = isinstance(conv, dict) and "error" not in conv
    mid_ok = isinstance(mid, dict) and "error" not in mid
    if not conv_ok:
        out["small_skipped"] = f"conv bench unavailable: {conv!r}"[:200]
    if not mid_ok:
        out["mid_skipped"] = f"mid conv canary unavailable: {mid!r}"[:200]
    for pre, src, refs in (
        ("", conv if conv_ok else {}, CONV_CANARY_REF),
        ("mid_", mid if mid_ok else {}, MID_CONV_CANARY_REF),
    ):
        for rnd, ref in refs.items():
            out[f"{pre}ratios_vs_{rnd}"], out[f"{pre}box_ratio_vs_{rnd}"] = _ratios(src, ref)
    return out


def _archived(prefix: str, root: str = ROOT) -> dict[int, str]:
    """``{round: path}`` of the ``{prefix}{N}.json`` files in ``root``.
    Suffixed names (BENCH_r11_c8.json, a core-count variant) are not
    rounds."""
    return {
        int(m.group(1)): p
        for p in glob.glob(os.path.join(root, f"{prefix}*.json"))
        if (m := re.search(rf"{prefix}(\d+)\.json$", p))
    }


def _round(root: str = ROOT) -> int:
    """This run's driver round: one past the newest BENCH_r{N}.json — the
    driver writes BENCH_r{N} for the round being closed AFTER running
    this script."""
    return max(_archived("BENCH_r", root), default=0) + 1


def _secs(fn, *args) -> float:
    """Wall seconds of one ``fn(*args)`` call."""
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def _noop(fn, spark, sf_dir: str) -> None:
    """Build query ``fn``'s frame and execute its full plan through the
    noop sink."""
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def bench_rotation(spark, sf_dir: str, headline: list[str]) -> dict:
    """Rotating perf tier (VERDICT r7 item 2): HEADLINE covers 74 keys;
    the other ~210 registered queries had NO recorded wall time, so a
    constant-factor regression there (AQE flip, stray exchange with
    unchanged operators) was invisible between correctness rounds. Each
    round times a ROTATION_KEYS slice of the non-HEADLINE registry in
    stable alphabetical order, keyed off the round number — every
    registered query gets a recorded time within any 7-round span. Warm
    once + best-of-2 (cheaper than HEADLINE's adaptive best-of-N: this
    tier exists to catch step-function regressions, not to be a
    precision yardstick)."""
    rest = sorted(n for n in REGISTRY if n not in set(headline))
    rnd = _round()
    start = ((rnd - 8) * ROTATION_KEYS) % len(rest)  # r8 = first slice
    picked = [rest[(start + i) % len(rest)] for i in range(min(ROTATION_KEYS, len(rest)))]
    times: dict[str, float] = {}
    for name in picked:
        fn = REGISTRY[name].fn
        try:
            _noop(fn, spark, sf_dir)  # warm
            times[name] = round(min(_secs(_noop, fn, spark, sf_dir) for _ in range(2)), 3)
        except Exception as exc:  # pragma: no cover — never lose the round
            times[name] = -1.0
            print(f"rotation {name} failed: {exc!r}", file=sys.stderr)
    return {"round": rnd, "start_index": start, "of_total": len(rest), "keys": times}


def _lineitem_csv(sf_dir: str) -> str:
    """The sf lineitem table as a headed CSV, cached in WORK across runs."""
    os.makedirs(WORK, exist_ok=True)
    path = os.path.join(WORK, f"lineitem_{os.path.basename(sf_dir)}.csv")
    if not os.path.exists(path):
        duckdb.sql(
            f"COPY (SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')) "
            f"TO '{path}' (HEADER, DELIMITER ',')"
        )
    return path


def _convert_best_of_2(spark, src: str, dst: str, settle: bool) -> dict:
    """Steady-state like the queries: per mode (single-file, then
    parallel) one warm conversion, then the best of two timed runs (this
    box's I/O variance is ±2×). ``settle`` flushes the filesystem before
    each timed run."""
    out = {}
    for label, opts in (
        ("single_file_sec", ConvertOptions()),
        ("parallel_sec", ConvertOptions(single_file=False)),
    ):
        convert(spark, src, dst, opts)  # warm
        runs = []
        for _ in range(2):
            if settle:
                _fs_settle()
            runs.append(_secs(convert, spark, src, dst, opts))
        out[label] = round(min(runs), 3)
    return out


def bench_conversion(spark, sf_dir: str) -> dict:
    """The reference's actual workload: CSV→Parquet, timed both in CLI
    parity mode (single output file, full-pass schema inference — the
    reference's default behavior) and the scale path (multi-part write,
    parallel across input splits)."""
    csv_path = _lineitem_csv(sf_dir)
    size_mb = os.path.getsize(csv_path) / 1e6
    t = _convert_best_of_2(
        spark, csv_path, os.path.join(WORK, "out_bench.parquet"), settle=False
    )
    return {
        "input_mb": round(size_mb, 1),
        **t,
        "parallel_mb_per_sec": round(size_mb / t["parallel_sec"], 1),
    }


def _replicated_csv(sf_dir: str, target_mb: int) -> str:
    """Deterministic CSV fixture: the sf lineitem CSV body replicated to
    ~target_mb MB, cached in WORK across runs."""
    base = _lineitem_csv(sf_dir)
    big = os.path.join(WORK, f"big_lineitem_{target_mb}.csv")
    if (
        not os.path.exists(big)
        or abs(os.path.getsize(big) - target_mb * 1e6) > 0.1 * target_mb * 1e6
    ):
        with open(base, "rb") as f:
            header, body = f.read().split(b"\n", 1)
        reps = max(1, int(target_mb * 1e6 // max(1, len(body))))
        with open(big, "wb") as out:
            out.write(header + b"\n")
            for _ in range(reps):
                out.write(body)
    return big


def _fs_settle() -> None:
    """Flush dirty pages and give writeback a beat before a timed I/O
    run, so no timed conversion races the kernel's writeback of its own
    input or of the previous mode's output (the suspected cause of the
    r8 2.5x big-conversion swing, VERDICT r8 "What's missing" #1)."""
    os.sync()
    time.sleep(1.0)


def bench_conversion_canary(spark, sf_dir: str) -> dict:
    """FROZEN mid-size conversion canary (VERDICT r8 item 2): a fixed
    ~128 MB replicated-lineitem CSV, single-file + parallel, warm +
    best-of-2 with an fs-settle before every timed run. Large enough
    that parse+encode dominates job overhead (the 39 MB pinned canary
    is overhead-dominated), small enough that a timed run is seconds.
    Driver-measured r9 times are the pinned reference in
    MID_CONV_CANARY_REF / BASELINE.md."""
    path = _replicated_csv(sf_dir, 128)
    dst = os.path.join(WORK, "canary_conv.parquet")
    return {
        "input_mb": round(os.path.getsize(path) / 1e6, 1),
        **_convert_best_of_2(spark, path, dst, settle=True),
    }


def bench_conversion_big(spark, sf_dir: str) -> dict:
    """Conversion throughput at REAL size: a multi-GB CSV (cached across
    rounds — generation is setup, not timed) so the MB/s figure measures
    sustained parse+encode, not fixed JVM/job overhead (a 39 MB input is
    overhead-dominated and says nothing about the 100 TB path).

    The input is the sf lineitem CSV body replicated to
    $SPARK_GRAFT_BENCH_BIG_MB (default 2048 MB; 0 skips). Timed once per
    mode — at GB scale codegen warm-up is noise — each from a SETTLED
    filesystem (_fs_settle)."""
    target_mb = int(os.environ.get("SPARK_GRAFT_BENCH_BIG_MB", "2048"))
    if target_mb <= 0:
        return {}
    big = _replicated_csv(sf_dir, target_mb)
    size_mb = os.path.getsize(big) / 1e6
    out = {"input_mb": round(size_mb, 1)}
    # Sampled inference (the realistic at-scale knob: --max-read-records)
    # isolates the cost of the reference-default full-pass inference.
    for label, dst, opts in (
        ("parallel", "big_multi.parquet", ConvertOptions(single_file=False)),
        (
            "parallel_sampled_infer",
            "big_multi.parquet",
            ConvertOptions(single_file=False, max_read_records=65536),
        ),
        ("single_file", "big_single.parquet", ConvertOptions()),
    ):
        _fs_settle()
        sec = _secs(convert, spark, big, os.path.join(WORK, dst), opts)
        out[f"{label}_sec"] = round(sec, 3)
        out[f"{label}_mb_per_sec"] = round(size_mb / sec, 1)
    return out


def vs_prev_section(times: dict[str, float], root: str = ROOT) -> dict:
    """Repo-side round-over-round comparison (VERDICT r11 item 3's
    intent, robust to the driver's 2 KB tail): diff this run's per-query
    map against the NEWEST archived BENCH_DETAIL_r{M}.json so n_common /
    improved / regressed exist as artifacts even when the driver-side
    PERF tooling cannot reconstruct them. Purely informational — wall
    ratios across rounds carry box phase; the canary ratios of both runs
    ride along for normalization."""
    archived = _archived("BENCH_DETAIL_r", root)
    if not archived:
        return {"skipped": "no archived detail"}
    prev_path = archived[max(archived)]
    with open(prev_path) as f:
        prev = json.load(f)
    pq = prev.get("queries", {})
    common = [k for k in times if k in pq and pq[k] > 0]
    ratios = [times[k] / pq[k] for k in common]
    return {
        "prev_round_file": os.path.basename(prev_path),
        "prev_total": prev.get("value"),
        "prev_canary_box_ratio_vs_r8": (prev.get("canary") or {}).get(
            "box_ratio_vs_r8"
        ),
        "n_common": len(common),
        "geomean_ratio": (
            round(statistics.geometric_mean(ratios), 3) if ratios else None
        ),
        "improved_gt10pct": sum(1 for r in ratios if r < 0.9),
        "regressed_gt10pct": sum(1 for r in ratios if r > 1.1),
    }


def _guarded(fn, *args) -> dict:
    """``fn(*args)``, or ``{"error": repr(exc)}`` if it raises: the
    calibration, rotation and conversion tiers must never cost the round
    its headline numbers, and each fails on its own (ADVICE r9) so one
    failure cannot overwrite another tier's result."""
    try:
        return fn(*args)
    except Exception as exc:  # pragma: no cover - defensive
        return {"error": repr(exc)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Every pinned reference (canaries, archived round details) is sf0.1,
    # the driver's bench SF; at any other SF their ratios are meaningless.
    at_ref_sf = isinstance(sf_val, float) and math.isclose(sf_val, 0.1)
    # Progress bars write \r-frames to stdout; under the driver's capture
    # they flood the tail and can push the JSON summary line out of the
    # window — disable them for a clean machine-readable stream.
    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    # Pin the session's INTENDED shuffle-partition count now, before any
    # in-process getOrCreate can retune it (the r9 conf-leak hazard
    # documented in session.py): the per-key shuffle capture passes this
    # value explicitly so captured volumes stay comparable round-over-
    # round even if something mid-run flips the live conf (ADVICE r9).
    bench_shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # Warm the JVM/codegen once with the flagship query.
    _noop(REGISTRY["q1_pricing_summary"].fn, spark, sf_dir)

    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    nruns: dict[str, int] = {}
    shuffle: dict[str, dict[str, int]] = {}
    for name in HEADLINE:
        fn = REGISTRY[name].fn
        _noop(fn, spark, sf_dir)  # codegen warm
        # Adaptive best-of-N (VERDICT r4 item 3: the r4 driver run was
        # contended, with spreads larger than the measurement): keep
        # timing until the two FASTEST runs agree within min(0.3 s, 30%
        # of best) — i.e. the reported best is reproduced, not a fluke —
        # or the run cap is hit. `spread` is second_best − best (the
        # uncertainty OF THE REPORTED NUMBER; max−min only measures how
        # contended the box was, which is noise we're discarding).
        runs: list[float] = []
        for _ in range(6):
            runs.append(_secs(_noop, fn, spark, sf_dir))
            if len(runs) >= 3:
                s = sorted(runs)
                if s[1] - s[0] < min(0.3, 0.3 * s[0]):
                    break
        s = sorted(runs)
        times[name] = round(s[0], 3)
        spread[name] = round(s[1] - s[0], 3)
        nruns[name] = len(runs)
        # Box-noise-IMMUNE plan signal (VERDICT r8 item 8): shuffle
        # write volume is deterministic where wall time is not. One
        # untimed extra execution per key, on a FRESH frame so the
        # timed QEs above aren't double-counted. Never let a metric
        # walk cost the round its timings.
        try:
            shuffle[name] = executed_shuffle_metrics(
                fn(spark, sf_dir), shuffle_partitions=bench_shuffle_parts
            )
        except Exception as exc:  # pragma: no cover - defensive
            shuffle[name] = {"error": repr(exc)}  # type: ignore[dict-item]

    total = round(sum(times.values()), 3)
    rotation = _guarded(bench_rotation, spark, sf_dir, HEADLINE)
    conv = _guarded(bench_conversion, spark, sf_dir)
    conv_canary = _guarded(bench_conversion_canary, spark, sf_dir)
    conv_big = _guarded(bench_conversion_big, spark, sf_dir)
    if at_ref_sf:
        canary = _guarded(canary_section, times)
        # Per-family gating lives INSIDE conv_canary_section (ADVICE r10).
        conv_cal = _guarded(conv_canary_section, conv, conv_canary)
        vs_prev = _guarded(vs_prev_section, times)
    else:
        canary = conv_cal = vs_prev = {"skipped": f"refs are sf0.1, ran sf{sf_val}"}
    detail = {
        "metric": "headline_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "spread": spread,
        "n_runs": nruns,
        "sf": sf_val,
        "canary": canary,
        "shuffle": shuffle,
        "shuffle_partitions": bench_shuffle_parts,
        "rotation": rotation,
        "csv_to_parquet": conv,
        "csv_to_parquet_canary": conv_canary,
        "csv_to_parquet_canary_calibration": conv_cal,
        "csv_to_parquet_big": conv_big,
        "vs_prev": vs_prev,
    }
    with open(os.path.join(ROOT, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
    # Self-archive (ADVICE/VERDICT r10 item 5): BENCH_DETAIL.json is
    # overwritten every run, which made per-key round-over-round
    # comparison impossible from artifacts — keep a per-round copy.
    # Re-runs within a round just refresh the same file.
    try:
        with open(os.path.join(ROOT, f"BENCH_DETAIL_r{_round():02d}.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # archiving is best-effort; the driver contract line matters
    # Earlier line: full detail. Final line: the compact driver contract.
    # The driver's tail capture is 2000 bytes and a 76-key per-query map
    # is ≥2.2 KB compact, so the map in the final line would
    # front-truncate it and break the parse (BENCH_r05 "parsed": null).
    # The map rides on a SECOND line right before the final one, for any
    # capture window larger than the map; the final line stays small and
    # carries the canary box-speed ratio so a future driver swing
    # arrives pre-adjudicated without the sidecar.
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "metric": "headline_query_per_query_sec",
                "queries": {k: round(v, 2) for k, v in times.items()},
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    )
    sys.stdout.flush()
    final = {
        "metric": "headline_query_wall_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(times),
        "sf": sf_val,
        "queries_detail": "BENCH_DETAIL.json",
    }
    if canary.get("box_ratio_vs_r8") is not None:
        final["canary_box_ratio_vs_r8"] = canary["box_ratio_vs_r8"]
    print(json.dumps(final))


if __name__ == "__main__":
    main()
