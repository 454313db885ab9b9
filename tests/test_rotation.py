"""The driver-window rotation (queries/__init__._rotate) decides which
~50 queries get driver proof each round — a silent ordering regression
loses proofs without failing anything. Pin the tiering contract:
force-first leads, never-proven oracle-backed queries precede proven
ones, and every registered name survives the reorder exactly once.
"""

from __future__ import annotations

import csv2parquet_spark.queries as Q


def test_rotation_tiering_contract(monkeypatch):
    names = list(Q.REGISTRY)
    force = list(Q._FORCE_FIRST)

    # permutation: nothing lost, nothing duplicated
    assert len(names) == len(set(names))

    hash_proven, _ = Q._proven_from_driver_rounds()

    # tier 0: the force-first re-proofs lead the registry verbatim
    assert names[: len(force)] == force

    # tiers are non-decreasing outside the force block (rows-only
    # ran-clean detection is environment-dependent, so only assert the
    # oracle-backed ordering: no proven name may precede an unproven one)
    rest = [n for n in names[len(force):] if Q.REGISTRY[n].oracle is not None]
    seen_proven = False
    for n in rest:
        if n in hash_proven:
            seen_proven = True
        else:
            assert not seen_proven, (
                f"unproven query {n!r} sorted behind proven ones — "
                "the rotation would never convert it"
            )
