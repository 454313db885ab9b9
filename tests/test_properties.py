"""Property-based tests (hypothesis) for the converter — SURVEY §5.2
items 2-3 hardened: arbitrary typed tables must round-trip CSV→Parquet
value-exactly, and the inference lattice must classify arbitrary
single-type columns correctly.

Example counts are small (each example runs a Spark job); the point is
the generator's edge cases (empty strings, quotes, commas, negative
zero, huge ints) rather than volume.
"""

from __future__ import annotations

import csv
import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from csv2parquet_spark.converter import ConvertOptions, convert

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# CSV-safe text: printable, includes quotes/commas/spaces to exercise
# RFC-4180; excludes newlines (covered by the quoted fixture test) and
# NUL. Never all-digits (that would legally infer as a number).
TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=12,
).map(lambda s: "s" + s)

INTS = st.integers(min_value=-(2**62), max_value=2**62)
BOOLS = st.booleans()


CLASSIFIER_CHARS = st.text(
    alphabet=list("0123456789-.:eE+ Ttruefals/\n"), min_size=0, max_size=20
)
EDGE_VALUES = [
    "", "-", "--", "+5", " 5", "5 ", "-0", "007", "5.", ".5", "-.5", ".",
    "1e5", "1E+5", "1e-5", ".5e3", "5.e3", "e5", "1e", "1.2.3", "1-2",
    "true", "False", "tRuE", "truefalse", "falſe",
    "2020-01-01", "2020-1-01", "0000-00-00", "9999-99-99", "2020-01-011",
    "2020-01-01 00:00:00", "2020-01-01T00:00:00", "2020-01-01t00:00:00",
    "2020-01-01 0:00:00", "2020-01-01 00-00-00",
    "9223372036854775808123", "٥",
    "1\n", "true\n", "2020-01-01\n", "\n5",
]
CLASS_HINTS = (0, 1, 2, 4, 8, 16, 32)


@SETTINGS
@given(vals=st.lists(CLASSIFIER_CHARS, min_size=1, max_size=30))
def test_fast_classifiers_match_reference_regexes(spark, vals):
    """Whatever the column's sample hint, the hint-ordered classify CASE
    must give every value the class of the reference CASE (the anchored
    arrow-csv regexes in lattice-priority order), and the driver-side
    hint classifier (Python re) must agree with Java rlike. Values
    ending in a newline are Utf8: the reference's rust-regex `$` (and
    `\\z` here) matches only at the true end of the string."""
    import pyspark.sql.functions as F

    import csv2parquet_spark.converter.inference as I

    vals = sorted({*vals, *EDGE_VALUES})
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    c = F.col("v")
    ref = (
        F.when(c.rlike(r"^-?(\d+)\z"), 2)
        .when(c.rlike(r"^-?(\d+\.\d+|\d+\.|\.\d+|\d+)([eE][-+]?\d+)?\z"), 4)
        .when(c.rlike(r"^\d{4}-\d{2}-\d{2}\z"), 8)
        .when(c.rlike(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}\z"), 16)
        .when(c.rlike(r"(?i)^(true|false)\z"), 1)
        .otherwise(32)
    )
    got = df.select(
        "v",
        ref.alias("ref"),
        *[I._value_class_bit(c, h).alias(f"h{h}") for h in CLASS_HINTS],
    ).collect()
    bad = [
        (r.v, r.ref, h, r[f"h{h}"])
        for r in got
        for h in CLASS_HINTS
        if r[f"h{h}"] != r.ref
    ]
    assert not bad, f"classifier divergence (value, ref, hint, got): {bad[:10]}"
    py_bad = [
        (r.v, r.ref, I._py_class_bit(r.v))
        for r in got
        if I._py_class_bit(r.v) != r.ref
    ]
    assert not py_bad, f"driver hint classifier divergence: {py_bad[:10]}"


def _class_values(pattern: str, extra=None):
    """Values fully matching one inference class's (Python) pattern,
    mostly lexically valid but out of range (month 54, hour 90)."""
    import re

    values = st.from_regex(re.compile(pattern, re.ASCII), fullmatch=True)
    return st.one_of(values, extra) if extra is not None else values


CAST_CLASSES = {
    # column → (pattern name, Spark type, edge values)
    "i": ("INTEGER_RE", T.LongType(),
          ["9223372036854775808", "-9223372036854775808", "007"]),
    "f": ("FLOAT_RE", T.DoubleType(),
          ["1e999", "-1e999", "9223372036854775808", "1.", ".5"]),
    "d32": ("DATE32_RE", T.DateType(), ["0000-01-01", "2020-02-30", "2020-02-29"]),
    "d64": ("DATE64_RE", T.TimestampType(),
            ["0000-01-01 00:00:00", "2020-02-30 00:00:00", "2020-01-01 23:59:60",
             "2020-01-01T00:00:00"]),
    "b": ("BOOLEAN_RE", T.BooleanType(), ["TRUE", "fAlSe"]),
}


@SETTINGS
@given(data=st.data())
def test_try_cast_equals_typed_csv_parse(spark, tmp_path_factory, data):
    """The one-pass cast is the typed CSV parse: for every value of each
    inference class (its regex's language plus edge values), ``try_cast``
    of the string read equals the typed read (the converter's
    timestampFormat, PERMISSIVE so a malformed cell reads as null), and
    a null on one side is a null on the other."""
    import datetime as dt

    import pyspark.sql.functions as F

    import csv2parquet_spark.converter.inference as I
    from csv2parquet_spark.converter.convert import TIMESTAMP_FORMAT

    valid = {
        "d32": st.dates().map(dt.date.isoformat),
        "d64": st.datetimes().map(lambda t: t.isoformat(sep=" ", timespec="seconds")),
    }
    cols = {
        c: data.draw(st.lists(_class_values(getattr(I, rx), valid.get(c)),
                              min_size=1, max_size=12)) + edges
        for c, (rx, _, edges) in CAST_CLASSES.items()
    }
    n = max(map(len, cols.values()))
    rows = [tuple(v[k] if k < len(v) else "" for v in cols.values()) for k in range(n)]
    src = str(tmp_path_factory.mktemp("cast") / "in.csv")
    _write_csv(src, list(cols), rows)

    schema = T.StructType([T.StructField(c, t) for c, (_, t, _) in CAST_CLASSES.items()])
    typed = (
        spark.read.options(header=True, mode="PERMISSIVE", timestampFormat=TIMESTAMP_FORMAT)
        .schema(schema).csv(src)
    )
    cast = spark.read.options(header=True).csv(src).select(
        *[F.col(f.name).try_cast(f.dataType).alias(f.name) for f in schema]
    )
    # compared as strings: year-0000 dates have no Python twin
    as_text = [F.col(c).cast("string").alias(c) for c in cols]
    got = [tuple(r) for r in cast.select(*as_text).collect()]
    want = [tuple(r) for r in typed.select(*as_text).collect()]
    assert got == want
    # the edge values close each column, and decide both ways
    edge = {c: col[len(cols[c]) - len(CAST_CLASSES[c][2]):len(cols[c])]
            for c, col in zip(cols, zip(*want))}
    assert edge["i"] == (None, "-9223372036854775808", "7")
    assert edge["f"] == ("Infinity", "-Infinity", "9.223372036854776E18", "1.0", "0.5")
    assert edge["d32"] == ("0000-01-01", None, "2020-02-29")
    assert edge["d64"] == ("0000-01-01 00:00:00", None, None, "2020-01-01 00:00:00")


def _write_csv(path: str, header: list[str], rows: list[tuple]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)  # RFC-4180 quoting
        w.writerow(header)
        w.writerows(rows)


@pytest.fixture()
def tmpdir_factory_path(tmp_path):
    return tmp_path


@SETTINGS
@given(
    rows=st.lists(st.tuples(INTS, TEXT, BOOLS), min_size=1, max_size=20),
)
def test_typed_roundtrip_value_exact(spark, tmp_path_factory, rows):
    """int/string/bool rows survive CSV→Parquet byte-exactly (checked
    through DuckDB, the independent reader)."""
    d = tmp_path_factory.mktemp("prop")
    src, out = str(d / "in.csv"), str(d / "out.parquet")
    _write_csv(src, ["i", "s", "b"], rows)
    convert(spark, src, out, ConvertOptions())
    got = duckdb.sql(
        f"SELECT i, s, b FROM read_parquet('{out}') ORDER BY ALL"
    ).fetchall()
    want = sorted((i, s if s != "" else None, b) for i, s, b in rows)
    assert got == want


@SETTINGS
@given(vals=st.lists(INTS, min_size=1, max_size=20))
def test_integer_column_infers_int64(spark, tmp_path_factory, vals):
    d = tmp_path_factory.mktemp("prop")
    src, out = str(d / "in.csv"), str(d / "out.parquet")
    _write_csv(src, ["x"], [(v,) for v in vals])
    schema = convert(spark, src, out, ConvertOptions(dry=True))
    assert [f.dataType.simpleString() for f in schema.fields] == ["bigint"]


@SETTINGS
@given(
    vals=st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        min_size=1,
        max_size=20,
    )
)
def test_float_column_infers_float64_or_int64(spark, tmp_path_factory, vals):
    """Float literals infer Float64 — unless every sampled value prints
    as an integer literal (arrow-csv classifies by lexical form)."""
    d = tmp_path_factory.mktemp("prop")
    src, out = str(d / "in.csv"), str(d / "out.parquet")
    rows = [(repr(float(v)),) for v in vals]
    _write_csv(src, ["x"], rows)
    schema = convert(spark, src, out, ConvertOptions(dry=True))
    got = schema.fields[0].dataType.simpleString()
    all_integral = all("." not in r[0] and "e" not in r[0].lower() for r in rows)
    assert got == ("bigint" if all_integral else "double")


@SETTINGS
@given(texts=st.lists(TEXT, min_size=1, max_size=20))
def test_text_column_infers_utf8(spark, tmp_path_factory, texts):
    d = tmp_path_factory.mktemp("prop")
    src, out = str(d / "in.csv"), str(d / "out.parquet")
    _write_csv(src, ["x"], [(t,) for t in texts])
    schema = convert(spark, src, out, ConvertOptions(dry=True))
    assert schema.fields[0].dataType.simpleString() == "string"


# ---------------------------------------------------------------------------
# Two-pass global rank (operators/ranking.py) vs the single-partition
# window twin: same quartile/pct_rank/cume on arbitrary value
# distributions (duplicates, negatives, skew — the window handles ties
# via the unique id tiebreaker, exactly like the operator's total-order
# contract).
# ---------------------------------------------------------------------------
@SETTINGS
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    )
)
def test_rank_stats_matches_window_twin(spark, vals):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csv2parquet_spark.operators.ranking import rank_stats

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id bigint, v bigint"
    )
    got = {
        r.id: (r.quartile, r.pct_rank, r.cume)
        for r in rank_stats(df, ["v", "id"], tiles=4, num_partitions=4).collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r.id: (r.quartile, r.pct_rank, r.cume)
        for r in df.select(
            "id",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Time-series operator properties: sessionize / streaks vs a pure-Python
# reference on tiny random event sets (engine-independent semantics).
# ---------------------------------------------------------------------------

EVENT_TIMES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),          # user
        st.integers(min_value=0, max_value=300_000),    # seconds offset
    ),
    min_size=1,
    max_size=25,
    unique=True,
)


@given(EVENT_TIMES)
@SETTINGS
def test_sessionize_islands_match_reference(spark, evs):
    """Gap-based sessionization must agree with the obvious sequential
    reference: sort each user's times, split where gap > 1h."""
    import datetime as dt

    from pyspark.sql import functions as F

    from csv2parquet_spark.queries.timeseries import sessionize_events_gap

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=sec), u, "click", 1.0, "{}")
        for i, (u, sec) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    # reference session count + sizes per user
    ref: dict[int, list[int]] = {}
    by_user: dict[int, list[int]] = {}
    for _, (u, sec) in enumerate(evs):
        by_user.setdefault(u, []).append(sec)
    for u, secs in by_user.items():
        secs.sort()
        sizes = [1]
        for a, b in zip(secs, secs[1:]):
            if (b - a) > 3600:
                sizes.append(1)
            else:
                sizes[-1] += 1
        ref[u] = sorted(sizes)

    # run the registered query's core logic against a temp view table
    df.createOrReplaceTempView("_prop_events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))
    sess = (
        df.withColumn(
            "is_new", F.when(gap_ms.isNull() | (gap_ms > 3_600_000), 1).otherwise(0)
        )
        .withColumn(
            "session_idx",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_idx")
        .agg(F.count("*").alias("n_events"))
        .collect()
    )
    got: dict[int, list[int]] = {}
    for r in sess:
        got.setdefault(r.user_id, []).append(r.n_events)
    got = {u: sorted(v) for u, v in got.items()}
    assert got == ref


@given(st.lists(st.integers(min_value=0, max_value=40), min_size=1,
                max_size=25, unique=True))
@SETTINGS
def test_streak_islands_match_reference(spark, day_offsets):
    """date - row_number island grouping must yield exactly the runs of
    consecutive integers in the day set."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    days = sorted(day_offsets)
    runs, cur = [], 1
    for a, b in zip(days, days[1:]):
        if b == a + 1:
            cur += 1
        else:
            runs.append(cur)
            cur = 1
    runs.append(cur)

    base = dt.date(2024, 1, 1)
    df = spark.createDataFrame(
        [(base + dt.timedelta(days=d),) for d in days], "d date"
    )
    w = Window.orderBy("d")
    got = sorted(
        r.len
        for r in df.withColumn("rn", F.row_number().over(w))
        .withColumn("grp", F.date_sub(F.col("d"), F.col("rn")))
        .groupBy("grp")
        .agg(F.count("*").alias("len"))
        .collect()
    )
    assert got == sorted(runs)
    assert max(got) == max(runs) and sum(got) == len(days)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**31), max_value=2**31),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=200,
        unique_by=lambda t: t[0],
    ),
    parts=st.integers(min_value=1, max_value=9),
)
@SETTINGS
def test_global_cumsum_property(spark, rows, parts):
    """For ANY unique-keyed integer-weighted table and ANY input
    partitioning, the two-pass global_cumsum equals the naive global
    window running sum."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csv2parquet_spark.operators.ranking import global_cumsum

    df = spark.createDataFrame(rows, "k long, w long").repartition(parts)
    got = {
        r.k: r.cum
        for r in global_cumsum(df, ["k"], "w", num_partitions=5).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.k: r.cum for r in df.withColumn("cum", F.sum("w").over(w)).collect()
    }
    assert got == want


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25),
            st.integers(min_value=0, max_value=25),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_star_matches_propagation(spark, edges):
    """The O(log n)-round alternating-star variant must label arbitrary
    random graphs (self-loops, duplicates, multi-component, chains)
    identically to the O(diameter) propagation fixpoint — and both must
    match a driver-side union-find ground truth."""
    from csv2parquet_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a bigint, id_b bigint"
    )
    prop = {
        r.id: r.component
        for r in connected_components(df, algorithm="propagation").collect()
    }
    star = {
        r.id: r.component
        for r in connected_components(df, max_iter=12, algorithm="star").collect()
    }

    # ground truth: union-find with min-id representative
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    verts = set()
    for a, b in edges:
        verts.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    # union-find parent chains may not point at the min directly; the
    # min-id representative is the min over each root's member set
    by_root: dict[int, list[int]] = {}
    for v in verts:
        by_root.setdefault(find(v), []).append(v)
    want = {v: min(members) for r, members in by_root.items() for v in members}

    # both variants label every vertex appearing in any edge,
    # self-loop-only vertices included
    assert star == want
    assert prop == want


@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_chunk_level_dedup_matches_reference(spark, docs):
    """chunk_level_dedup == a straight-line Python reference (chunk on
    size boundaries, keep first occurrence corpus-wide in (doc, idx)
    order, rebuild in order) for arbitrary tiny corpora — including
    empty docs, all-duplicate corpora, and within-doc repeats."""
    import hashlib

    from csv2parquet_spark.operators.dedup import chunk_level_dedup

    size = 3
    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_kept, r.dedup_fp)
        for r in chunk_level_dedup(df, size=size).collect()
    }

    # reference: chunk grammar = token starts 0, size, 2*size, ... (at
    # least one chunk, possibly empty-string for empty docs)
    seen: set[str] = set()
    want = {}
    for i, toks in enumerate(docs):
        chunks = [
            " ".join(toks[s : s + size])
            for s in range(0, max(len(toks), 1), size)
        ]
        kept = []
        for ch in chunks:
            if ch not in seen:
                seen.add(ch)
                kept.append(ch)
        want[i] = (
            len(chunks),
            len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    assert got == want


# ---------------------------------------------------------------------------
# ML-metric / window closed-form properties (round-4 continuation).
# ---------------------------------------------------------------------------


@SETTINGS
@given(
    deltas=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=40
    )
)
def test_lindley_closed_form_equals_recurrence(spark, deltas):
    """stock_running_balance's two-window closed form
    b_t = S_t - min(0, min_{k<=t} S_k) must equal the sequential
    recurrence b_t = max(0, b_{t-1} + d_t) on arbitrary delta
    sequences — the identity that lets the floor-at-zero gauge stay in
    Tungsten instead of a per-key Python kernel."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(i, d) for i, d in enumerate(deltas)]
    df = spark.createDataFrame(rows, "seq int, delta long")
    w = Window.partitionBy(F.lit(1)).orderBy("seq")
    cum = F.sum("delta").over(w)
    run_min = F.min(cum).over(w)
    got = [
        r.balance
        for r in df.select(
            "seq", (cum - F.least(run_min, F.lit(0))).alias("balance")
        )
        .orderBy("seq")
        .collect()
    ]
    b, want = 0, []
    for d in deltas:
        b = max(0, b + d)
        want.append(b)
    assert got == want


@SETTINGS
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),  # quantized score
            st.booleans(),  # label
        ),
        min_size=2,
        max_size=60,
    )
)
def test_roc_auc_formula_equals_pairwise_definition(spark, data):
    """roc_auc_exact's per-distinct-score identity must equal the
    DEFINITION of AUC: over all (pos, neg) pairs, the fraction where
    score_pos > score_neg, counting ties as 1/2. Single-class inputs
    are assumed away (AUC undefined)."""
    from hypothesis import assume

    from csv2parquet_spark.operators.ranking import global_cumsum
    from pyspark.sql import functions as F

    pos_scores = [s for s, is_pos in data if is_pos]
    neg_scores = [s for s, is_pos in data if not is_pos]
    assume(pos_scores and neg_scores)

    # naive O(n^2) definition; HALF_UP reference rounding to match
    # Spark's F.round (Python's round is half-even and diverges on
    # exact .5 boundaries like AUC = 0.5/64)
    from decimal import ROUND_HALF_UP, Decimal

    num2 = 0  # twice the numerator, exact integer
    for sp in pos_scores:
        for sn in neg_scores:
            num2 += 2 if sp > sn else (1 if sp == sn else 0)
    want = float(
        (
            Decimal(num2) / (2 * len(pos_scores) * len(neg_scores))
        ).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )

    df = spark.createDataFrame(
        [(s, int(p)) for s, p in data], "score long, pos int"
    )
    g = df.groupBy("score").agg(
        F.sum("pos").alias("n_p"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("n_n"),
    )
    c = global_cumsum(g, keys=["score"], weight_col="n_n", cum_col="cum_nn")
    row = (
        c.select(
            "n_p",
            "n_n",
            (
                F.col("n_p")
                * (2 * (F.col("cum_nn") - F.col("n_n")) + F.col("n_n"))
            ).alias("num2"),
        )
        .agg(
            F.round(
                F.sum("num2").cast("double")
                / (F.lit(2) * F.sum("n_p") * F.sum("n_n")).cast("double"),
                6,
            ).alias("auc")
        )
        .collect()[0]
    )
    assert row.auc == want


@SETTINGS
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(list("abcdef")), min_size=3, max_size=8
        ).map(lambda ts: " ".join(ts)),
        min_size=3,
        max_size=8,
    )
)
def test_minhash_md5_pipeline_matches_reference(spark, docs):
    """The hash-provable MinHash-LSH pipeline (md5 16-bit-slice perms,
    tuple banding, exact-Jaccard verify) against a straight-line Python
    reference of the SAME algorithm on arbitrary tiny corpora — pins
    signature slicing, band grouping, the id_a < id_b orientation and
    the verify threshold in one place. A forced duplicate of doc 0
    guarantees at least one J=1 pair (identical shingle sets ⇒
    identical signatures ⇒ shared bands ⇒ always recalled)."""
    import hashlib

    from csv2parquet_spark.operators.dedup import minhash_near_dups_exprs
    from pyspark.sql import functions as F

    docs = list(docs) + [docs[0]]  # planted exact dup
    rows = [(i, t) for i, t in enumerate(docs)]

    def sh_set(text):
        toks = text.split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    def sig(shs):
        return [
            min(hashlib.md5(s.encode()).hexdigest()[4 * j : 4 * j + 4] for s in shs)
            for j in range(8)
        ]

    sets = {i: sh_set(t) for i, t in rows if sh_set(t)}
    sigs = {i: sig(s) for i, s in sets.items()}
    cand = set()
    for a in sigs:
        for b in sigs:
            if a < b and any(
                sigs[a][2 * k : 2 * k + 2] == sigs[b][2 * k : 2 * k + 2]
                for k in range(4)
            ):
                cand.add((a, b))
    expected = {}
    for a, b in cand:
        common = len(sets[a] & sets[b])
        j = common / len(sets[a] | sets[b])
        if j >= 0.8:
            expected[(a, b)] = common

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    hashers = [
        (lambda j: (lambda s: F.substring(F.md5(s), 1 + 4 * j, 4)))(j)
        for j in range(8)
    ]
    got = {
        (r.id_a, r.id_b): r.common
        for r in minhash_near_dups_exprs(df, hashers, threshold=0.8, bands=4).collect()
    }
    assert got == expected
    assert (0, len(docs) - 1) in got  # the planted dup was recalled


@SETTINGS
@given(
    series=st.lists(
        st.tuples(st.integers(min_value=0, max_value=25),
                  st.integers(min_value=0, max_value=10**9)),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
def test_linear_interpolation_matches_reference(spark, series):
    """The integer linear-interpolation core (the exact expression
    timeseries_interpolate_linear uses) against a Python reference on
    arbitrary sparse non-negative series: every calendar day between
    the first and last known day gets floor-interpolated micros, known
    days pass through, and the non-negative DIV form never drifts from
    the reference's floor((pv*(den-num)+nv*num)/den)."""
    import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = datetime.date(2024, 1, 1)
    known = {d: v for d, v in series}
    rows = [(1, base + datetime.timedelta(days=d), v) for d, v in series]
    df = spark.createDataFrame(rows, "user_id int, d date, rev_u long")
    span = df.groupBy("user_id").agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = span.select("user_id", F.explode(F.sequence("lo", "hi")).alias("d"))
    j = cal.join(df, ["user_id", "d"], "left")
    wp = Window.partitionBy("user_id").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("user_id").orderBy("d").rowsBetween(
        0, Window.unboundedFollowing
    )
    known_d = F.when(F.col("rev_u").isNotNull(), F.col("d"))
    g = j.select(
        "d",
        "rev_u",
        F.last("rev_u", ignorenulls=True).over(wp).alias("pv"),
        F.last(known_d, ignorenulls=True).over(wp).alias("pd"),
        F.first("rev_u", ignorenulls=True).over(wn).alias("nv"),
        F.first(known_d, ignorenulls=True).over(wn).alias("nd"),
    )
    got = {
        (r.d - base).days: r.out
        for r in g.select(
            "d",
            F.when(F.col("rev_u").isNotNull(), F.col("rev_u"))
            .otherwise(
                F.expr("(pv * (datediff(nd, pd) - datediff(d, pd))"
                       " + nv * datediff(d, pd)) DIV datediff(nd, pd)")
            )
            .alias("out"),
        ).collect()
    }

    days = sorted(known)
    want = {}
    for d in range(days[0], days[-1] + 1):
        if d in known:
            want[d] = known[d]
        else:
            pd_ = max(x for x in days if x < d)
            nd_ = min(x for x in days if x > d)
            pv, nv = known[pd_], known[nd_]
            den, num = nd_ - pd_, d - pd_
            want[d] = (pv * (den - num) + nv * num) // den
    assert got == want
