"""Shuffle-volume plan lint (VERDICT r8 item 8): the box-noise-immune
plan-regression signal.

Wall-time comparisons across rounds need canary normalization because
the bench box drifts 1.5-2.5x between phases; shuffle RECORDS written
do not — on frozen data they are a pure function of the plan. Every
HEADLINE key's sf0.001 shuffle volume is pinned in
SHUFFLE_BASELINE.json; a key growing >20% fails here, which is the
signal that would have caught r8's ``agg_approx_distinct`` Expand
pathology without the sf1 sweep. Regenerate the baseline ONLY for
deliberate plan changes: ``python scripts/gen_shuffle_baseline.py
<key ...>`` (and say so in the commit).
"""

from __future__ import annotations

import json
import os

import pytest

from csv2parquet_spark.planmetrics import (
    executed_shuffle_metrics,
    kernel_source_hash,
    plan_signature,
)
from csv2parquet_spark.queries.registry import REGISTRY
from csv2parquet_spark.session import conf_override

# Fast path (VERDICT r9 item 6 — the 286-key full-capture lint costs
# ~5.5 min of every suite run): a key whose NORMALIZED plan-string
# signature matches its pin has, by construction, the pinned volume
# (volume is a function of plan + frozen data + pinned conf), so the
# full executed capture is skipped. Keys whose signature differs — or
# that have no pinned signature — always get the full capture and the
# volume assertion. Round-close runs MUST set
# SPARK_GRAFT_SHUFFLE_LINT_FULL=1 (mandatory per ADVICE r10, not
# opt-in): the fast path is a dev-loop accelerator only; each round's
# record keeps one end-to-end volume measurement of every key. The
# fast path checks BOTH the plan signature and the kernel
# source-closure hash — UDF-body edits, invisible in the plan string,
# also force the real capture.
_FULL = os.environ.get("SPARK_GRAFT_SHUFFLE_LINT_FULL", "0") == "1"

_BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "SHUFFLE_BASELINE.json",
)
with open(_BASELINE_PATH) as _f:
    _BASELINE = json.load(_f)

# Records tolerance: static-plan shuffle records are deterministic
# (the capture disables AQE — its volumes are RACY: a runtime
# broadcast conversion can cancel a sibling exchange before it writes,
# and the same query measured 163 vs 91 records back-to-back). 20% is
# the verdict's bar; genuine pathologies (the agg_approx_distinct case
# was 170x at the Expand) clear it by orders of magnitude. The +64
# absolute slack keeps single-digit keys from failing on a couple of
# partial-agg rows.
_GROWTH = 1.20


@pytest.fixture()
def pinned_conf(spark):
    """Pin the session confs the baseline was captured under — shuffle
    RECORDS depend on them (a second-stage partial aggregate runs on
    the previous shuffle's partition count, so more partitions = less
    map-side combining = more records). The full suite learned this the
    hard way: CLI tests' ``getOrCreate`` applies builder configs to the
    EXISTING session, silently flipping shared shuffle.partitions from
    4 to 32, and 27 text-heavy keys "grew" 20-50% against the pin. The
    pin wraps the query-fn construction too: internal localCheckpoints
    materialize under the live conf, not at capture time."""
    pins = {"spark.sql.shuffle.partitions": str(_BASELINE["shuffle_partitions"])}
    with conf_override(spark.conf, pins):
        yield spark


@pytest.mark.parametrize("name", sorted(_BASELINE["keys"]))
def test_shuffle_volume_pinned(pinned_conf, name):
    spark = pinned_conf
    base = _BASELINE["keys"][name]
    if not _FULL and base.get("plan_sig") and base.get("kernel_sig"):
        # Fast path requires BOTH halves of the identity (ADVICE r10):
        # the plan signature (plan shape under pinned conf) AND the
        # kernel source-closure hash. Plans with Python kernels
        # (mapInPandas / applyInPandas / ArrowEvalPython) show only the
        # UDF *name* in the plan string, so a kernel-body edit that
        # changes emitted row counts would pass the plan check alone —
        # the source hash forces the full capture for exactly those
        # edits. Keys without a kernel_sig pin always get the full
        # capture until the baseline is regenerated.
        sig = plan_signature(
            REGISTRY[name].fn(spark, _BASELINE["sf_dir"]),
            shuffle_partitions=_BASELINE["shuffle_partitions"],
        )
        if (
            sig == base["plan_sig"]
            and kernel_source_hash(REGISTRY[name].fn) == base["kernel_sig"]
        ):
            return  # unchanged plan+kernels -> pinned volume holds
    got = executed_shuffle_metrics(REGISTRY[name].fn(spark, _BASELINE["sf_dir"]))
    assert got["records"] <= max(base["records"] * _GROWTH, base["records"] + 64), (
        f"{name}: shuffle records grew {base['records']} -> {got['records']} "
        f"(> {_GROWTH}x). If the plan change is DELIBERATE, regenerate with "
        f"scripts/gen_shuffle_baseline.py {name} and say so in the commit."
    )
    # Shrink is an improvement, not a failure — but a silent >20% drop
    # means the pinned number is stale; surface it without failing.
    if got["records"] < base["records"] / _GROWTH - 64:
        import warnings

        warnings.warn(
            f"{name}: shuffle records shrank {base['records']} -> "
            f"{got['records']}; refresh SHUFFLE_BASELINE.json",
            UserWarning,
        )
