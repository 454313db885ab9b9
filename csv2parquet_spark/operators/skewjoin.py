"""Skew-resilient equi join via key salting — the standard remedy when
one join key is a heavy hitter and a shuffled join would funnel that
key's every row through a single reducer.

Two forms:

``salted_join(big, small, key, r)`` — blanket salting: every big-side
row gets a deterministic salt in [0, r) (xxhash64 of the whole row —
stable across task retries, unlike rand()/monotonic ids); the small
side replicates r-fold; the join runs on ``(key, salt)``. Simple, but
pays ×r replication for every key.

``salted_join_hot(big, small, key, r, hot_threshold)`` — the
production pattern: ONE cheap pre-aggregation finds the actual heavy
hitters (count per key > threshold — narrow-key shuffle, partial-agg
reduced); only rows bearing a hot key take the salted path, everything
else takes the plain shuffled join, and the two halves union. The
small side replicates ×r only for the (few) hot keys, so the blanket
tax disappears while the hot keys still spread across r reducers. The
hot-key set is broadcast (heavy hitters are few by definition — at
most n/threshold keys exist above the bar).

Both are result-identical to the plain join (the salt never reaches
the output). They compose with AQE skew-join splitting, which only
splits at partition granularity and cannot split ONE key's rows
across reducers in a sort-merge join the way salting can.

The reference (`/root/reference/src/main.rs`) has no join surface;
this is engine-extension scale machinery (SURVEY.md §2.2 joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def _check(big: DataFrame, small: DataFrame, key: str | list[str]) -> list[str]:
    if _SALT in big.columns or _SALT in small.columns:
        raise ValueError(f"column {_SALT!r} already present")
    return [key] if isinstance(key, str) else list(key)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str | list[str],
    r: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Blanket ``r``-way salted inner equi join of ``big`` ⋈ ``small``
    on ``key``.

    The salt hashes ``salt_cols`` (default: every big-side column), so
    it is stable across task retries (any salt value is CORRECT — the
    small side carries all r salts — but a nondeterministic salt such
    as rand() can lose/duplicate rows under partial shuffle-retry).
    Caveat: rows BYTE-IDENTICAL on ``salt_cols`` co-locate on one salt
    — a hot key whose rows are full duplicates does not split. Pass a
    unique row id in ``salt_cols`` when the data has one; otherwise
    dedup/count-collapse duplicates upstream (their join results are
    identical anyway).
    """
    keys = _check(big, small, key)
    b = big.withColumn(
        _SALT,
        F.pmod(
            F.xxhash64(*[F.col(c) for c in (salt_cols or big.columns)]),
            F.lit(r),
        ).cast("int"),
    )
    s = small.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(r - 1)))
    ).withColumn(_SALT, F.col(_SALT).cast("int"))
    return b.join(s, [*keys, _SALT]).drop(_SALT)


def salted_join_hot(
    big: DataFrame,
    small: DataFrame,
    key: str | list[str],
    r: int = 16,
    hot_threshold: int = 100_000,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Hot-key-only salted join: detect keys with more than
    ``hot_threshold`` big-side rows, salt ONLY those, plain-join the
    rest, union. Result-identical to ``big.join(small, key)``.

    Cost: one partial-aggregated count over the big side's key columns
    (the detection scan), a broadcast of the hot-key set (bounded by
    |big| / hot_threshold keys), and ×r small-side replication only
    for hot keys. With no hot keys the salted branch is empty and the
    plan degenerates to the plain join plus a cheap empty leg.
    """
    keys = _check(big, small, key)
    # NULL join keys are their own heavy hitter in real data (unknown
    # users/ids): they match NOTHING in SQL join semantics, yet a
    # shuffled join still hashes them all onto the one NULL partition —
    # and the semi/anti hot split can't route them (NULL fails the semi
    # match), so the straggler the function exists to remove survived
    # (review r8). Route them around the join entirely: they match
    # nothing, so the inner join drops them before any shuffle.
    import functools
    import operator

    any_null = functools.reduce(
        operator.or_, [F.col(k).isNull() for k in keys]
    )
    big = big.filter(~any_null)
    hot = (
        big.groupBy(*keys)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > hot_threshold)
        .select(*keys)
    )
    bh = big.join(F.broadcast(hot), keys, "left_semi")
    bc = big.join(F.broadcast(hot), keys, "left_anti")
    sh = small.join(F.broadcast(hot), keys, "left_semi")
    hot_part = salted_join(bh, sh, keys, r=r, salt_cols=salt_cols)
    cold_part = bc.join(small, keys)
    return hot_part.unionByName(cold_part)
