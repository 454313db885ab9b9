"""Property-based tests (hypothesis) for the two-pass global ranking
machinery (operators/ranking.py) — the engine under MAD / Theil-Sen /
KS / Mann-Whitney / conformal / skyline. The fixed-input unit tests
pin known answers; these hunt the failure mode the machinery actually
risks: PARTITION-BOUNDARY bugs (offsets computed per range partition,
enumeration local to a partition), by sweeping random value multisets
through random input partition counts and comparing to plain Python.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

CASES = st.tuples(
    st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),   # key value
            st.integers(min_value=1, max_value=9),      # weight
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],                       # distinct keys
    ),
    st.integers(min_value=1, max_value=7),              # input partitions
    st.integers(min_value=1, max_value=5),              # two-pass partitions
)


@given(case=CASES)
@SETTINGS
def test_two_pass_ranking_machinery_matches_python(spark, case):
    from csv2parquet_spark.operators.ranking import (
        global_cumsum,
        global_row_number,
        global_running_max,
    )

    kws, in_parts, num_parts = case
    df = spark.createDataFrame(kws, "k long, w long").repartition(in_parts)

    want_order = sorted(k for k, _ in kws)
    wmap = dict(kws)

    cum = {
        r.k: r.cum
        for r in global_cumsum(
            df, ["k"], "w", cum_col="cum", num_partitions=num_parts
        ).collect()
    }
    run, want_cum = 0, {}
    for k in want_order:
        run += wmap[k]
        want_cum[k] = run
    assert cum == want_cum

    ranked, n = global_row_number(df, ["k"], num_partitions=num_parts)
    rn = {r.k: r.rn for r in ranked.collect()}
    assert n == len(kws)
    assert rn == {k: i + 1 for i, k in enumerate(want_order)}

    rm = {
        r.k: r.m
        for r in global_running_max(
            df, ["k"], "w", out_col="m", num_partitions=num_parts
        ).collect()
    }
    best, want_rm = None, {}
    for k in want_order:
        want_rm[k] = best  # max over the strictly preceding keys
        best = wmap[k] if best is None else max(best, wmap[k])
    assert rm == want_rm
