"""arrow-csv-compatible schema inference (SURVEY.md §1.2, §4.3 item 3).

The reference delegates to ``arrow::csv::reader::infer_file_schema``
(reference ``src/main.rs:145-158``): sample ≤N rows (absent N = all
rows, N=0 = skip → all Utf8), regex-classify each column into
{Boolean, Int64, Float64, Date32, Date64, Utf8}, merge conflicts
(Int64+Float64→Float64, anything else→Utf8), mark everything nullable.

Spark's own CSV inference yields different types (Int32 / Decimal /
Timestamp), so for schema-output parity this module re-implements the
arrow-csv lattice as a Spark job: read the sample as all-strings,
classify every cell with the reference regexes (one aggregate of
per-column class masks, distributed), then map to Spark types. The
only rows the driver sees are the first :data:`HINT_ROWS`, which order
each column's regex tests (see :func:`_sample_hints`).

The same :data:`HINT_ROWS` also pick the one-pass schema: when every
cell of the file matches the class its column's hint predicts, the full
classify aggregate would give exactly the hinted types, so
:func:`checked_cast` casts the string scan to them directly and fails
the job on the first cell that does not conform.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Lattice class bits; a column aggregates to the bit-OR of its values'.
_BOOL, _INT, _FLOAT, _D32, _D64, _UTF8 = 1, 2, 4, 8, 16, 32

# Pattern body per class (arrow-csv 32.0.0's inference regexes, SURVEY
# §1.2), in the classifier's default CASE order. The classes are
# disjoint except INT ⊂ FLOAT, so any order that keeps INT ahead of
# FLOAT gives every value the same class. `\d` is ASCII-only in both
# Java regex and Python `re.ASCII`.
_PATTERNS = {
    _INT: r"-?\d+",
    _FLOAT: r"-?(?:\d+\.\d+|\d+\.|\.\d+|\d+)(?:[eE][-+]?\d+)?",
    _D32: r"\d{4}-\d{2}-\d{2}",
    _D64: r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}",
    _BOOL: r"(?i:true|false)",
}


def _java_re(body: str) -> str:
    """Whole-value Java pattern for ``rlike``. ``\\z`` is the true end of
    the string, like the reference's rust-regex ``$`` (Java's ``$`` and
    ``\\Z`` also match before a final line terminator)."""
    return rf"\A(?:{body})\z"


_UNION_RE = _java_re("|".join(_PATTERNS.values()))

# The same patterns spelled for Python ``re`` (whose ``\Z`` is Java's
# ``\z``; Python before 3.14 has no ``\z``).
BOOLEAN_RE, INTEGER_RE, FLOAT_RE, DATE32_RE, DATE64_RE = (
    rf"\A(?:{_PATTERNS[b]})\Z" for b in (_BOOL, _INT, _FLOAT, _D32, _D64)
)
_PY_PATTERNS = {b: re.compile(p, re.ASCII) for b, p in _PATTERNS.items()}

# Rows the driver classifies to order each column's CASE branches and
# to predict the one-pass schema (:func:`checked_cast`).
HINT_ROWS = 64

# Arrow type-name strings (serde spelling) in lattice order.
ARROW_BOOLEAN = "Boolean"
ARROW_INT64 = "Int64"
ARROW_FLOAT64 = "Float64"
ARROW_DATE32 = "Date32"
ARROW_DATE64 = "Date64"
ARROW_UTF8 = "Utf8"

ARROW_TO_SPARK = {
    ARROW_BOOLEAN: T.BooleanType(),
    ARROW_INT64: T.LongType(),
    ARROW_FLOAT64: T.DoubleType(),
    ARROW_DATE32: T.DateType(),
    # Date64 = epoch-millis datetime → TimestampType (SURVEY §1.4 / §7);
    # session timezone is pinned to UTC for parity.
    ARROW_DATE64: T.TimestampType(),
    ARROW_UTF8: T.StringType(),
}


def _ref(col: str) -> F.Column:
    """Reference to a RAW header name: backtick-quoted, since a CSV
    header like `user.id` would otherwise parse as a nested-field
    reference and abort the whole conversion with UNRESOLVED_COLUMN;
    embedded backticks escape by doubling, per Spark identifier rules."""
    return F.col("`" + col.replace("`", "``") + "`")


def _classify_column(col: str, hint: int) -> F.Column:
    """Per-column type mask: each non-null value is classified ONCE by
    :func:`_value_class_bit`, and the column aggregates to a bit-OR of
    observed classes. The mask reproduces arrow-csv's merge rule exactly
    in :func:`_mask_to_arrow`."""
    c = _ref(col)
    nonnull = c.isNotNull() & (c != "")
    return F.coalesce(
        F.bit_or(F.when(nonnull, _value_class_bit(c, hint))), F.lit(0)
    ).alias(col)


def _value_class_bit(c: F.Column, hint: int) -> F.Column:
    """Lattice class bit of one value: a CASE of whole-value regexes in
    table order, reordered by the column's sample ``hint`` so a typical
    cell costs one regex. A hinted date or bool class is tested first; a
    hinted Utf8 column first tests the union of all five patterns (a
    miss is Utf8). A wrong hint changes the cost, never the class.

    java.util.regex is cheaper per cell than regex-free ``translate``
    predicates: on a 4-vCPU VM (C1-only JVM), testing every cell of a
    45k-row, 15-column CSV scan (0.69 JVM CPU-s) for INT added 0.50
    CPU-s with ``translate`` and 0.20 with ``rlike``."""
    order = list(_PATTERNS)
    if hint in (_D32, _D64, _BOOL):
        order.remove(hint)
        order.insert(0, hint)
    branches = [(c.rlike(_java_re(_PATTERNS[bit])), bit) for bit in order]
    if hint == _UTF8:
        branches.insert(0, (~c.rlike(_UNION_RE), _UTF8))
    case = F.when(*branches[0])
    for cond, bit in branches[1:]:
        case = case.when(cond, bit)
    return case.otherwise(_UTF8)


def _py_class_bit(v: str) -> int:
    """Driver-side twin of :func:`_value_class_bit` for one value
    (Python ``re`` over the same pattern table)."""
    for bit, rx in _PY_PATTERNS.items():
        if rx.fullmatch(v):
            return bit
    return _UTF8


def _hinted_sample(
    raw: DataFrame, max_read_records: int | None
) -> tuple[DataFrame, list[int]]:
    """The inference sample (the first ``max_read_records`` rows, or all
    of them) and its per-column hints from its first :data:`HINT_ROWS`
    rows (one small job)."""
    sample = raw.limit(max_read_records) if max_read_records else raw
    return sample, _sample_hints(sample.take(HINT_ROWS), len(raw.columns))


def _sample_hints(rows: list, ncols: int) -> list[int]:
    """Per-column hint from the first rows: the class the sampled values
    merge to (0 when all null or empty)."""
    masks = [0] * ncols
    for row in rows:
        for i, v in enumerate(row):
            if v:
                masks[i] |= _py_class_bit(v)
    hints = []
    for m in masks:
        if m == _INT | _FLOAT:
            m = _FLOAT
        hints.append(m if m == 0 or m in _PATTERNS else _UTF8)
    return hints


def _mask_to_arrow(mask: int) -> str:
    """arrow-csv merge rule over the set of observed value classes:
    single class → that type; {Int64,Float64} → Float64; anything else
    (incl. all-null / any-Utf8) → Utf8."""
    if mask == _BOOL:
        return ARROW_BOOLEAN
    if mask == _INT:
        return ARROW_INT64
    if mask in (_FLOAT, _INT | _FLOAT):
        return ARROW_FLOAT64
    if mask == _D32:
        return ARROW_DATE32
    if mask == _D64:
        return ARROW_DATE64
    return ARROW_UTF8


def infer_arrow_types(
    raw: DataFrame, max_read_records: int | None = None
) -> dict[str, str]:
    """Infer the arrow type name per column of an all-strings DataFrame.

    ``max_read_records`` caps the sample (None = all rows, mirroring the
    reference's absent flag, main.rs:60-62); 0 = no inference → Utf8.
    The classification is ONE distributed aggregate, so it scales to any
    input size; one small job before it brings the first
    :data:`HINT_ROWS` rows to the driver to order the regex tests.
    """
    if max_read_records == 0:
        return {c: ARROW_UTF8 for c in raw.columns}
    sample, hints = _hinted_sample(raw, max_read_records)
    # A multiLine CSV read is a single split, which would serialize the
    # regex classification onto one core. When the sample arrives in
    # fewer partitions than we have cores, one round-robin repartition
    # (a pass over the string sample) lets the classify aggregate run
    # on every core.
    para = sample.sparkSession.sparkContext.defaultParallelism
    if (
        max_read_records is None or max_read_records > 65536
    ) and sample.rdd.getNumPartitions() < para:
        sample = sample.repartition(para)
    row = sample.agg(
        *[_classify_column(c, h) for c, h in zip(raw.columns, hints)]
    ).collect()[0]
    return {c: _mask_to_arrow(row[c]) for c in raw.columns}


def infer_schema(
    raw: DataFrame, max_read_records: int | None = None
) -> T.StructType:
    """Arrow-lattice inference → Spark StructType (all fields nullable,
    as arrow-csv marks every inferred field nullable)."""
    arrow_types = infer_arrow_types(raw, max_read_records)
    return T.StructType(
        [T.StructField(c, ARROW_TO_SPARK[a], True) for c, a in arrow_types.items()]
    )


def _checked_column(col: str, hint: int) -> F.Column:
    """One column of :func:`checked_cast`: the cell cast to its hinted
    type, NULL for an empty or null cell, and a ``raise_error`` for any
    cell outside the hinted class. A Utf8 hint passes the string
    through; hint 0 (all empty in the hint rows) lets only empty cells
    through. The FLOAT pattern also covers INT cells, which the
    Int64+Float64 → Float64 merge absorbs."""
    c = _ref(col)
    if hint == _UTF8:
        return c.alias(col)
    miss = F.raise_error(
        F.lit(f"column {col!r} breaks the class its first {HINT_ROWS} rows predict")
    )
    if hint == 0:
        return F.when(c != "", miss).otherwise(c).alias(col)
    # A matching cell whose cast is still null (a Feb-30 date, an int
    # past 2^63) is malformed for the typed CSV parse too.
    typ = ARROW_TO_SPARK[_mask_to_arrow(hint)]
    cast = F.when(c.rlike(_java_re(_PATTERNS[hint])), c.try_cast(typ))
    return F.coalesce(cast, F.when(c != "", miss)).alias(col)


def checked_cast(raw: DataFrame, max_read_records: int | None = None) -> DataFrame:
    """The one-pass frame: ``raw`` (all strings) cast column by column to
    the type its sample hints predict (:func:`_hinted_sample`, the same
    hints :func:`infer_arrow_types` orders its tests by), checked cell
    by cell. A narrow projection: no aggregate, no shuffle.

    If a job over the frame finishes, every non-empty cell matched its
    column's hinted class. The hint rows belong to the inference sample,
    so the classify aggregate would merge to exactly the hinted type,
    and the frame's schema is :func:`infer_schema`'s. If any cell breaks
    its hint, the job fails in ``raise_error`` and the caller falls back
    to the full inference."""
    _, hints = _hinted_sample(raw, max_read_records)
    return raw.select(*[_checked_column(c, h) for c, h in zip(raw.columns, hints)])
