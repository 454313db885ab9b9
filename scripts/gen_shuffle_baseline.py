"""Regenerate SHUFFLE_BASELINE.json — the committed per-key shuffle
volume anchor for the plan-regression lint (VERDICT r8 item 8).

Shuffle records written are a deterministic function of plan + data, so
unlike wall time they need no canary normalization: a >20% growth on
frozen data is a PLAN change, period. The baseline is captured at
sf0.001 under the test session config (local[4], 4 shuffle partitions —
must match tests/conftest.py, since parallelize_scan's gate reads
defaultParallelism) and linted by tests/test_shuffle_baseline.py. Each
key pins the ``records`` and ``bytes`` of one executed capture.

Rerun this script ONLY when a key's plan changes deliberately, and say
so in the commit message — silently refreshing the baseline defeats the
lint.

Usage: python scripts/gen_shuffle_baseline.py [--all] [key ...]
(no args = all HEADLINE keys; --all = every registered query; with
key args = update just those keys)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv2parquet_spark.planmetrics import executed_shuffle_metrics  # noqa: E402
from csv2parquet_spark.queries import REGISTRY  # noqa: E402
from csv2parquet_spark.session import get_spark  # noqa: E402

from bench import HEADLINE  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "SHUFFLE_BASELINE.json")


def main() -> None:
    args = sys.argv[1:]
    do_all = "--all" in args
    only = {a for a in args if not a.startswith("--")}
    spark = get_spark(
        "shuffle_baseline",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    baseline: dict = {"sf_dir": SF_DIR, "master": "local[4]",
                      "shuffle_partitions": 4, "keys": {}}
    # ALWAYS merge into the existing baseline when it exists (ADVICE r9):
    # the old code loaded it only for explicit key args, so a bare
    # `gen_shuffle_baseline.py` run (HEADLINE keys) silently REPLACED the
    # committed 286-key file with a 76-key one and ~210 queries lost
    # their lint pin. Keys not selected this run keep their old volumes.
    if os.path.exists(OUT):
        with open(OUT) as f:
            baseline = json.load(f)
    # Registry-wide coverage (--all): HEADLINE gets its plan lint from
    # r9; the other ~210 registered queries deserve the same continuous
    # protection — the rotation tier gives them a wall time only once
    # per 7 rounds, but shuffle volume is cheap and deterministic
    # enough to pin for every key on every suite run.
    # Explicit key args must reach NON-HEADLINE keys too: iterating
    # HEADLINE when keys were named silently skipped any key outside
    # it (found r11 — the dim²-rewrite regen was a no-op), leaving a
    # stale pin that looks refreshed.
    names = sorted(REGISTRY) if (do_all or only) else HEADLINE
    missing = only - set(names)
    if missing:
        sys.exit(f"unknown keys: {sorted(missing)}")
    for name in names:
        if only and name not in only:
            continue
        try:
            m = executed_shuffle_metrics(REGISTRY[name].fn(spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001 — record, don't abort
            print(f"{name}: FAILED {exc!r}", file=sys.stderr)
            continue
        baseline["keys"][name] = m
        print(name, m, flush=True)
    with open(OUT, "w") as f:
        json.dump(baseline, f, indent=1, sort_keys=True)
    print(f"wrote {OUT} ({len(baseline['keys'])} keys)")


if __name__ == "__main__":
    main()
