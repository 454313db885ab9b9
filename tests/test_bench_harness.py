"""Spark-free unit tests for bench.py's bookkeeping: round inference,
canary ratios and the conversion-canary calibration. No session is
started; only the pure helpers run."""

from __future__ import annotations

import bench


def test_round_ignores_suffixed_bench_files(tmp_path):
    """BENCH_r11_c8.json is a core-count variant of round 11, not a
    round; the next round after r12 is 13."""
    for name in ("BENCH_r11.json", "BENCH_r11_c8.json", "BENCH_r12.json"):
        (tmp_path / name).write_text("{}")
    assert bench._round(str(tmp_path)) == 13


def test_ratios_skip_missing_keys():
    ref = {"a": 2.0, "b": 4.0, "c": 1.0}
    ratios, box = bench._ratios({"a": 1.0, "c": 3.0}, ref)
    assert ratios == {"a": 0.5, "c": 3.0}
    assert box == 1.75

    ratios, box = bench._ratios({}, ref)
    assert ratios == {} and box is None


def test_conv_canary_section_one_family_failed():
    """A failed mid-canary bench records why it was skipped and keeps
    the small-fixture family's ratios, and vice versa."""
    (rnd, ref), = bench.CONV_CANARY_REF.items()
    (mid_rnd, mid_ref), = bench.MID_CONV_CANARY_REF.items()
    conv = {k: 2 * v for k, v in ref.items()}
    mid = {k: 3 * v for k, v in mid_ref.items()}

    out = bench.conv_canary_section(conv, {"error": "boom"})
    assert out[f"box_ratio_vs_{rnd}"] == 2.0
    assert set(out[f"ratios_vs_{rnd}"]) == set(ref)
    assert "boom" in out["mid_skipped"]
    assert out[f"mid_ratios_vs_{mid_rnd}"] == {}
    assert out[f"mid_box_ratio_vs_{mid_rnd}"] is None
    assert "small_skipped" not in out

    out = bench.conv_canary_section({"error": "boom"}, mid)
    assert out[f"mid_box_ratio_vs_{mid_rnd}"] == 3.0
    assert "boom" in out["small_skipped"]
    assert out[f"box_ratio_vs_{rnd}"] is None
    assert "mid_skipped" not in out
