"""Property-based tests (hypothesis) for the grid-cell radius join:
on ARBITRARY integer point sets (negative coordinates, points on exact
cell edges, pairs at exactly radius distance) the blocked join must
return exactly the brute-force pair set — the 3×3 neighbor replication
of radius-sized cells is provably complete, and these examples hunt the
boundary cases a fixture never exercises.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Small coordinate range relative to the cell (= radius <= 10) so cells
# are densely hit and edges/negatives occur constantly.
POINTS = st.lists(
    st.tuples(
        st.integers(min_value=-35, max_value=35),
        st.integers(min_value=-35, max_value=35),
    ),
    min_size=0,
    max_size=25,
)


@given(lpts=POINTS, rpts=POINTS, radius=st.integers(min_value=1, max_value=10))
@SETTINGS
def test_grid_radius_join_matches_bruteforce(spark, lpts, rpts, radius):
    from csv2parquet_spark.operators.spatial import grid_radius_join

    if not lpts or not rpts:
        return
    left = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(lpts)], "id_l long, xl long, yl long"
    )
    right = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(rpts)], "id_r long, xr long, yr long"
    )
    got = {
        (r.id_l, r.id_r, r.dist2)
        for r in grid_radius_join(left, right, radius=radius).collect()
    }
    want = {
        (i, j, (xa - xb) ** 2 + (ya - yb) ** 2)
        for i, (xa, ya) in enumerate(lpts)
        for j, (xb, yb) in enumerate(rpts)
        if (xa - xb) ** 2 + (ya - yb) ** 2 <= radius * radius
    }
    assert got == want
