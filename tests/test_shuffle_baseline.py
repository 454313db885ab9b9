"""Shuffle-volume plan lint (VERDICT r8 item 8): the box-noise-immune
plan-regression signal.

Wall-time comparisons across rounds need canary normalization because
the bench box drifts 1.5-2.5x between phases; shuffle RECORDS written
do not — on frozen data they are a pure function of the plan. Every
registered key's sf0.001 shuffle volume is pinned in
SHUFFLE_BASELINE.json, and each test builds its key once and runs the
full executed capture; a key growing >20% fails here, which is the
signal that would have caught r8's ``agg_approx_distinct`` Expand
pathology without the sf1 sweep. Regenerate the baseline ONLY for
deliberate plan changes: ``python scripts/gen_shuffle_baseline.py
<key ...>`` (and say so in the commit).
"""

from __future__ import annotations

import json
import os

import pytest

from csv2parquet_spark.planmetrics import executed_shuffle_metrics
from csv2parquet_spark.queries.registry import REGISTRY
from csv2parquet_spark.session import conf_override

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


def test_executed_shuffle_metrics_walk(spark):
    """Pin the capture's tree walk on frames with known exchange volumes:
    100 rows in 4 map tasks, grouped into 7 keys over 4 shuffle
    partitions."""
    agg = "SELECT id % 7 AS k, count(*) AS n FROM range(0, 100, 1, 4) GROUP BY id % 7"

    def records(df):
        return executed_shuffle_metrics(df, shuffle_partitions=4)["records"]

    # 4 map tasks x 7 partial groups through the hash exchange; an added
    # REPARTITION shuffles the aggregate's 7 rows once more
    rep = agg.replace("SELECT", "SELECT /*+ REPARTITION(3) */", 1)
    assert (records(spark.sql(agg)), records(spark.sql(rep))) == (28, 28 + 7)
    # a scalar subquery hangs off the Project's expressions, not its
    # children: its hash exchange plus one partial max per partition
    sub = f"(SELECT max(n) FROM ({agg}))"
    assert records(spark.sql(f"SELECT id, {sub} AS a FROM range(0, 10, 1, 2)")) == 28 + 4
    # the same subquery used twice runs once: the second use is a
    # ReusedSubqueryExec and must not count again
    twice = spark.sql(f"SELECT id, {sub} AS a, {sub} + 1 AS b FROM range(0, 10, 1, 2)")
    assert records(twice) == 28 + 4
    assert "ReusedSubquery" in twice._jdf.queryExecution().executedPlan().toString()
