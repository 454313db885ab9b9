"""Shared conventions that make Spark vs DuckDB value-hashes match.

The driver's oracle compare is an order-insensitive value hash, so the
only sources of mismatch are float nondeterminism and type drift. Rules
used across every registered query (SURVEY.md §5.2 item 1, §7 hard parts):

* **Sums of doubles are computed in DECIMAL.** Double addition is not
  associative; Spark's partial aggregation order differs run-to-run and
  engine-to-engine. ``CAST(x AS DECIMAL(18,6))`` per row (deterministic
  round-to-6dp of the same IEEE double on both engines), then an exact
  decimal sum, then ``CAST(... AS DOUBLE)`` — identical bytes on both
  sides regardless of association order. This also holds at 100 TB scale:
  decimal sums cost the same shuffle as double sums.
* **Averages** are derived as decimal-sum / count, rounded to 6dp —
  again deterministic given identical inputs.
* **Products stay in DOUBLE per-row** (IEEE multiply is deterministic),
  and only the final per-row value is decimal-cast before summing.
* **Timestamps never appear raw in outputs** — epoch millis
  (``unix_millis`` ↔ ``epoch_ms``) or ``yyyy-MM-dd`` strings.
* Every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Domain contract: |value| < 10^12 (DECIMAL(18,6)'s integral range).
# Under Spark 4's default ANSI mode an out-of-range cast RAISES
# (CAST_OVERFLOW) — same loud failure as DuckDB's cast — so the cliff
# is never silent on this engine; only a deployment that explicitly
# disables ANSI would see overflow→NULL rows vanish from the sum.
# (18,6) is deliberate over (38,6): precision ≤ 18 keeps Tungsten's
# compact-long decimal representation in the hot aggregation path;
# widening would push every sum onto the byte-array BigDecimal path.
DEC = "decimal(18,6)"


def dsum(col: Column, alias: str) -> Column:
    """Association-order-proof sum of a double column."""
    return F.sum(col.cast(DEC)).cast("double").alias(alias)


def davg(col: Column, alias: str) -> Column:
    """Deterministic average: exact decimal sum / count, rounded to 6dp."""
    return F.round(
        F.sum(col.cast(DEC)).cast("double") / F.count(col), 6
    ).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    """DuckDB-side twin of :func:`dsum`."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    """DuckDB-side twin of :func:`davg`."""
    return (
        f"round(CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
        f" / count({expr}), 6) AS {alias}"
    )


def local_result_df(spark, rows, ddl_schema: str):
    """Model-sized driver-computed result rows → DataFrame as a pure-JVM
    LocalRelation (SQL VALUES), NOT ``spark.createDataFrame(list)``.

    ``createDataFrame`` on a Python list parallelizes PICKLED rows: the
    noop-sink action then pays one Python-worker round per partition
    (~250 ms each on this rig — profiled r11: the 8-row MMR result cost
    more executor time than the corpus stage; 32 empty slices × a
    worker spin-up). A VALUES relation evaluates entirely in the JVM —
    zero Python workers, one task. Use ONLY for model-sized outputs of
    driver-side iterative loops (weights, picks, merge tables).

    ``ddl_schema``: "name type, name type, ..." — every column is CAST
    to its declared type, so literal rendering quirks cannot leak into
    the result schema. Supports int/float/str/bool/None cells.
    """
    cols = []
    for field in ddl_schema.split(","):
        name, typ = field.strip().split(None, 1)
        cols.append((name, typ.strip()))
    if not rows:
        # `FROM VALUES ` with zero tuples is a ParseException; the
        # empty relation the createDataFrame path used to return is
        # still the right answer (ADVICE r11).
        return spark.createDataFrame([], ddl_schema)

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            # string→double parse is exact IEEE nearest; repr
            # round-trips. Non-finite floats spell differently per
            # engine: repr gives 'inf'/'nan', which Spark's non-ANSI
            # string→double cast turns into NULL SILENTLY — map them
            # to the spellings Spark accepts (ADVICE r11).
            if v != v:
                return "CAST('NaN' AS DOUBLE)"
            if v == float("inf"):
                return "CAST('Infinity' AS DOUBLE)"
            if v == float("-inf"):
                return "CAST('-Infinity' AS DOUBLE)"
            return f"CAST('{v!r}' AS DOUBLE)"
        if isinstance(v, str):
            escaped = v.replace("\\", "\\\\").replace("'", "\\'")
            return f"'{escaped}'"
        raise TypeError(f"unsupported literal type {type(v).__name__}")

    values = ", ".join(
        "(" + ", ".join(lit(c) for c in row) + ")" for row in rows
    )
    select = ", ".join(
        f"CAST(c{i} AS {typ}) AS {name}" for i, (name, typ) in enumerate(cols)
    )
    names = ", ".join(f"c{i}" for i in range(len(cols)))
    return spark.sql(f"SELECT {select} FROM VALUES {values} AS t({names})")
