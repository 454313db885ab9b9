"""Converter-surface tests (SURVEY.md §5.2 items 2-4): round-trips for
the FIXTURES.md §B fixture family, inference-lattice unit tests, schema
JSON round-trip, writer-property assertions via parquet footers.
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from csv2parquet_spark.converter import (
    ConvertOptions,
    arrow_json_to_struct,
    convert,
    convert_input,
    infer_schema,
    struct_to_arrow_json,
)

TYPED_CSV = (
    "b,i,f,d,t,s\n"
    "true,42,1.5,2021-03-04,2021-03-04T05:06:07,hello\n"
    "False,-3,2e3,1999-12-31,2000-01-01 00:00:00,world\n"
    'TRUE,0,-0.25,2020-02-29,2021-06-07T08:09:10,"quoted, comma"\n'
)


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path)


def _write(tmp, name, content):
    p = os.path.join(tmp, name)
    with open(p, "w") as f:
        f.write(content)
    return p


def _raw(spark, path, **opts):
    return spark.read.options(header=True, **opts).csv(path)


def test_inference_lattice(spark, tmp):
    p = _write(tmp, "typed.csv", TYPED_CSV)
    schema = infer_schema(_raw(spark, p))
    assert [f.dataType for f in schema.fields] == [
        T.BooleanType(),
        T.LongType(),
        T.DoubleType(),
        T.DateType(),
        T.TimestampType(),
        T.StringType(),
    ]
    assert all(f.nullable for f in schema.fields)


def test_inference_conflict_merge(spark, tmp):
    p = _write(tmp, "conflict.csv", "x,y\n1,1\n2.5,word\n3,2\n")
    schema = infer_schema(_raw(spark, p))
    # Int64+Float64 → Float64; Int64+Utf8 → Utf8 (arrow-csv merge rules)
    assert schema["x"].dataType == T.DoubleType()
    assert schema["y"].dataType == T.StringType()


def test_inference_max_read_records(spark, tmp):
    rows = "\n".join(["1"] * 5 + ["abc"])
    p = _write(tmp, "late.csv", "x\n" + rows + "\n")
    assert infer_schema(_raw(spark, p), None)["x"].dataType == T.StringType()
    assert infer_schema(_raw(spark, p), 5)["x"].dataType == T.LongType()
    assert infer_schema(_raw(spark, p), 0)["x"].dataType == T.StringType()


def test_inference_nulls(spark, tmp):
    p = _write(tmp, "nulls.csv", "i,s\n1,\n,x\n3,y\n")
    schema = infer_schema(_raw(spark, p))
    assert schema["i"].dataType == T.LongType()


def _misleading_csv(tmp):
    """A CSV whose first HINT_ROWS rows mislead every column's hint: the
    later rows break each sampled class (the late_type.csv shape, per
    column)."""
    from csv2parquet_spark.converter import inference as I

    n = I.HINT_ROWS
    head = [
        (str(k), str(k), "true" if k % 2 else "False", f"2020-01-{k % 28 + 1:02d}",
         f"2020-01-01 00:00:{k % 60:02d}", "", "w")
        for k in range(n)
    ]
    # the quoted cell keeps the multiLine parse on when it is asked for
    tail = [
        ("1.5", "abc", "7", "2020-01-01 00:00:00", "2020-01-01", "5", '"q, x"'),
        ("3", "4", "true", "2020-01-02", "2020-01-01T00:00:01", "-6", "w"),
    ]
    lines = ["int_float,int_text,bool_int,d32_d64,d64_d32,empty_int,text"]
    lines += [",".join(r) for r in head + tail]
    return _write(tmp, "misleading.csv", "\n".join(lines) + "\n")


@pytest.mark.parametrize("multiline", [True, False])
def test_inference_misleading_sample(spark, tmp, multiline):
    """The first HINT_ROWS rows only order each column's regex tests:
    when later rows break the sampled class, full-pass inference still
    gives the full-file type (the late_type.csv shape, per column)."""
    import io

    from csv2parquet_spark.converter import inference as I

    n = I.HINT_ROWS
    src = _misleading_csv(tmp)
    raw = _raw(spark, src)

    # the premise: every hint is wrong (or absent) for its column
    hints = I._sample_hints(raw.take(n), len(raw.columns))
    assert hints == [I._INT, I._INT, I._BOOL, I._D32, I._D64, 0, I._UTF8]

    opts = ConvertOptions(dry=True, multiline=multiline)
    schema = convert(
        spark, src, os.path.join(tmp, "never.parquet"), opts,
        out=io.StringIO(), err=io.StringIO(),
    )
    assert [f.dataType for f in schema.fields] == [
        T.DoubleType(),
        T.StringType(),
        T.StringType(),
        T.StringType(),
        T.StringType(),
        T.LongType(),
        T.StringType(),
    ]


def test_classify_plan_is_hint_ordered_regex(spark, tmp, monkeypatch):
    """Tripwire for the one-regex-per-cell classifier: the classify
    aggregate has no translate-based predicates, an int-looking
    column's CASE opens with the INT regex, and a text column's with
    the union guard (a miss is Utf8 after one regex)."""
    import re

    from csv2parquet_spark.converter import inference as I

    p = _write(tmp, "plan.csv", "i,s\n1,hello\n-22,x y\n333,\n")
    raw = _raw(spark, p)
    aggs = []
    real_agg = type(raw).agg

    def recording_agg(self, *exprs):
        aggs.append(real_agg(self, *exprs))
        return aggs[-1]

    monkeypatch.setattr(type(raw), "agg", recording_agg)
    schema = infer_schema(raw)
    assert [f.dataType for f in schema.fields] == [T.LongType(), T.StringType()]
    assert len(aggs) == 1
    plan = re.sub(r"#\d+", "", aggs[0]._jdf.queryExecution().optimizedPlan().toString())
    assert "translate(" not in plan

    def first_branch(col):
        m = re.search(
            rf"isnotnull\({col}\) AND NOT \({col} = \)\) THEN CASE WHEN (.*?) THEN ",
            plan,
        )
        assert m, plan
        return m.group(1)

    assert first_branch("i") == r"RLIKE(i, \A(?:-?\d+)\z)"
    assert first_branch("s") == f"NOT RLIKE(s, {I._UNION_RE})"


# --------------------------------------------------------------------------
# One-pass conversion (inference.checked_cast) against the two-pass path
# --------------------------------------------------------------------------
def _both_passes(spark, src, tmp, **kw):
    """Convert ``src`` the default way, then through the two-pass path
    (the schema --dry prints, fed back as a schema file); returns the
    (schema, DuckDB rows) of each."""
    import io

    def rows(out):
        return duckdb.sql(
            f"SELECT * FROM read_parquet('{out}') ORDER BY ALL"
        ).fetchall()

    quiet = dict(out=io.StringIO(), err=io.StringIO())
    one = os.path.join(tmp, "one.parquet")
    schema = convert(spark, src, one, ConvertOptions(**kw), **quiet)
    printed = io.StringIO()
    dry = convert(spark, src, one + ".never", ConvertOptions(dry=True, **kw),
                  out=printed, err=io.StringIO())
    sf = _write(tmp, "two_schema.json", printed.getvalue())
    two = os.path.join(tmp, "two.parquet")
    convert(spark, src, two, ConvertOptions(schema_file=sf, **kw), **quiet)
    return (schema, rows(one)), (dry, rows(two))


@pytest.mark.parametrize("case", [
    "typed", "misleading", "empty_hint_then_ints", "cast_wider_than_regex",
    "permissive", "permissive_extra_token",
])
def test_one_pass_matches_two_passes(spark, tmp, case):
    """A conversion gives the schema and rows of the two-pass path,
    whether the one pass holds (typed, an extra-token row under
    PERMISSIVE) or falls back (hints broken by later rows, cells a cast
    takes but the class regex does not, a bad cell under PERMISSIVE)."""
    from csv2parquet_spark.converter import inference as I

    kw = {}
    if case == "typed":
        src = _write(tmp, "in.csv", TYPED_CSV)
    elif case == "misleading":
        src = _misleading_csv(tmp)
    elif case == "empty_hint_then_ints":
        body = "e,s\n" + ",w\n" * I.HINT_ROWS + "5,w\n-6,x\n"
        src = _write(tmp, "in.csv", body)
    elif case == "cast_wider_than_regex":
        # Spark's casts take " 5" as an int and "yes" as a bool; the
        # lattice regexes make both Utf8
        body = "i,b\n" + "".join(f"{k},true\n" for k in range(I.HINT_ROWS))
        src = _write(tmp, "in.csv", body + " 5,yes\n")
    elif case == "permissive":
        # column i samples as Int64 from row 1 only: "notanumber" is a
        # bad cell, "3,c,extra" an extra-token row
        src = _write(tmp, "in.csv", "i,s\n1,a\nnotanumber,b\n3,c,extra\n4,d\n")
        kw = dict(max_read_records=1, parse_mode="PERMISSIVE")
    else:
        src = _write(tmp, "in.csv", "i,s\n1,a\n3,c,extra\n4,d\n")
        kw = dict(parse_mode="PERMISSIVE")
    (schema, rows), (want_schema, want_rows) = _both_passes(spark, src, tmp, **kw)
    assert schema == want_schema
    assert rows == want_rows and rows


@pytest.mark.parametrize("body", [
    "d\n2020-02-28\n2020-02-30\n",        # matches Date32, no such day
    "i\n1\n9223372036854775808\n",         # matches Int64, past 2^63
    "i,j\n1,2\n3,4,5\n",                   # extra token
])
def test_one_pass_failfast_raises_two_pass_error(spark, tmp, body):
    """Under FAILFAST a malformed cell or row raises the typed scan's
    MALFORMED_RECORD_IN_PARSING, never the one pass's own check."""
    src = _write(tmp, "bad.csv", body)
    with pytest.raises(Exception) as exc:
        convert(spark, src, os.path.join(tmp, "bad.parquet"))
    assert "MALFORMED_RECORD_IN_PARSING" in str(exc.value)
    assert "USER_RAISED_EXCEPTION" not in str(exc.value)


def test_classify_aggregate_runs_only_where_one_pass_cannot(spark, tmp, monkeypatch):
    """A conforming FAILFAST conversion runs no classify aggregate; a
    DROPMALFORMED one still does (its inference reads the rows its scan
    drops, so the hint check would judge different rows)."""
    src = _write(tmp, "typed.csv", TYPED_CSV)
    df_type = type(spark.range(1))
    calls = []
    real_agg = df_type.agg

    def recording_agg(self, *exprs):
        calls.append(exprs)
        return real_agg(self, *exprs)

    monkeypatch.setattr(df_type, "agg", recording_agg)
    convert(spark, src, os.path.join(tmp, "a.parquet"))
    assert calls == []
    convert(spark, src, os.path.join(tmp, "b.parquet"),
            ConvertOptions(parse_mode="DROPMALFORMED"))
    assert len(calls) == 1


def test_one_pass_conversion_tripwire(spark, tmp, monkeypatch):
    """Tripwire for the one-pass conversion: a conforming CSV converts
    in at most 3 jobs (the header read, the hint rows, the write), and
    the plan it writes has no Exchange and no HashAggregate. The
    two-pass path takes 6 jobs."""
    import importlib
    import io

    # the module, not the package's re-exported ``convert`` function
    C = importlib.import_module("csv2parquet_spark.converter.convert")

    plans = []
    real_write = C.write_parquet

    def recording_write(spark_, df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_write(spark_, df, *args, **kwargs)

    monkeypatch.setattr(C, "write_parquet", recording_write)
    src = _write(tmp, "typed.csv", TYPED_CSV)
    sc = spark.sparkContext
    group = f"one-pass-tripwire-{os.getpid()}-{id(plans)}"
    sc.setJobGroup(group, "one-pass conversion tripwire")
    try:
        convert(spark, src, os.path.join(tmp, "o.parquet"),
                ConvertOptions(single_file=False),
                out=io.StringIO(), err=io.StringIO())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, f"{len(jobs)} jobs"
    assert len(plans) == 1
    assert "Exchange" not in plans[0] and "HashAggregate" not in plans[0], plans[0]


def test_roundtrip_typed(spark, tmp):
    src = _write(tmp, "typed.csv", TYPED_CSV)
    out = os.path.join(tmp, "typed.parquet")
    convert(spark, src, out)
    con = duckdb.connect()
    res = con.execute(f"SELECT count(*), sum(i), sum(f) FROM read_parquet('{out}')").fetchone()
    assert res == (3, 39, 2001.25)
    vals = con.execute(f"SELECT s FROM read_parquet('{out}') ORDER BY i").fetchall()
    assert [v[0] for v in vals] == ["world", "quoted, comma", "hello"]


def test_roundtrip_noheader_and_delimiter(spark, tmp):
    src = _write(tmp, "tabs.tsv", "1\tx\n2\ty\n")
    out = os.path.join(tmp, "tabs.parquet")
    convert(spark, src, out, ConvertOptions(header=False, delimiter="\t"))
    f = pq.ParquetFile(out)
    assert f.metadata.num_rows == 2
    assert f.schema_arrow.names == ["_c0", "_c1"]


def test_roundtrip_quoted(spark, tmp):
    src = _write(
        tmp, "quoted.csv", 'a,b\n"x, y",1\n"he said ""hi""",2\n"multi\nline",3\n'
    )
    out = os.path.join(tmp, "quoted.parquet")
    convert(spark, src, out, ConvertOptions(max_read_records=0))
    con = duckdb.connect()
    vals = con.execute(f"SELECT a FROM read_parquet('{out}') ORDER BY b").fetchall()
    assert [v[0] for v in vals] == ["x, y", 'he said "hi"', "multi\nline"]


def test_schema_json_roundtrip(spark, tmp):
    src = _write(tmp, "typed.csv", TYPED_CSV)
    schema = infer_schema(_raw(spark, src))
    doc = struct_to_arrow_json(schema)
    parsed = json.loads(doc)
    assert [f["data_type"] for f in parsed["fields"]] == [
        "Boolean", "Int64", "Float64", "Date32", "Date64", "Utf8",
    ]
    assert arrow_json_to_struct(doc) == schema


def test_schema_file_mode(spark, tmp):
    """--schema-file overrides inference (reference Mode B)."""
    src = _write(tmp, "typed.csv", TYPED_CSV)
    schema_doc = struct_to_arrow_json(
        T.StructType(
            [
                T.StructField("b", T.StringType()),
                T.StructField("i", T.DoubleType()),
                T.StructField("f", T.DoubleType()),
                T.StructField("d", T.StringType()),
                T.StructField("t", T.StringType()),
                T.StructField("s", T.StringType()),
            ]
        )
    )
    sf = _write(tmp, "schema.json", schema_doc)
    out = os.path.join(tmp, "explicit.parquet")
    convert(spark, src, out, ConvertOptions(schema_file=sf))
    arrow = pq.ParquetFile(out).schema_arrow
    assert str(arrow.field("b").type) == "string"
    assert str(arrow.field("i").type) == "double"


def test_dry_prints_schema_without_writing(spark, tmp, capsys):
    src = _write(tmp, "typed.csv", TYPED_CSV)
    out = os.path.join(tmp, "never.parquet")
    import io

    o, e = io.StringIO(), io.StringIO()
    convert(spark, src, out, ConvertOptions(dry=True), out=o, err=e)
    assert not os.path.exists(out)
    assert e.getvalue().strip() == "Schema:"
    assert json.loads(o.getvalue())["fields"][0]["name"] == "b"


@pytest.mark.parametrize("ext,fmt", [("csv", "auto"), ("parquet", "parquet")])
def test_cli_dry_banner_on_stderr_schema_on_stdout(tmp_path, capsys, ext, fmt):
    """The CLI keeps the reference's --dry contract for every format:
    the ``Schema:`` banner alone on stderr, the JSON schema alone on
    stdout, and no output written."""
    import pyarrow as pa

    from csv2parquet_spark.converter.cli import main

    src = str(tmp_path / f"in.{ext}")
    if ext == "csv":
        _write(str(tmp_path), "in.csv", "a,b\n1,x\n")
    else:
        pq.write_table(pa.table({"a": [1], "b": ["x"]}), src)
    out = str(tmp_path / "never.parquet")
    capsys.readouterr()
    assert main(["--dry", "--format", fmt, src, out]) == 0
    captured = capsys.readouterr()
    assert captured.err.strip() == "Schema:"
    names = [f["name"] for f in json.loads(captured.out)["fields"]]
    assert names == ["a", "b"]
    assert not os.path.exists(out)


@pytest.mark.parametrize("codec,expect", [("zstd", "ZSTD"), ("gzip", "GZIP"), ("snappy", "SNAPPY"), ("uncompressed", "UNCOMPRESSED")])
def test_writer_compression(spark, tmp, codec, expect):
    src = _write(tmp, "typed.csv", TYPED_CSV)
    out = os.path.join(tmp, f"c_{codec}.parquet")
    convert(spark, src, out, ConvertOptions(compression=codec))
    md = pq.ParquetFile(out).metadata
    assert md.row_group(0).column(1).compression == expect


def test_writer_dictionary_default_off(spark, tmp):
    """Reference inverts parquet default: dictionary OFF unless asked
    (main.rs:100-102, main.rs:180)."""
    src = _write(tmp, "rep.csv", "s\n" + "\n".join(["aaa"] * 200) + "\n")
    out_off = os.path.join(tmp, "dict_off.parquet")
    out_on = os.path.join(tmp, "dict_on.parquet")
    convert(spark, src, out_off, ConvertOptions())
    convert(spark, src, out_on, ConvertOptions(dictionary=True))

    def encodings(p):
        return pq.ParquetFile(p).metadata.row_group(0).column(0).encodings

    assert not any("DICTIONARY" in e for e in encodings(out_off))
    assert any("DICTIONARY" in e for e in encodings(out_on))


def test_writer_encoding_approximations(spark, tmp):
    """W2 (main.rs:25-35,206-218) via parquet-mr's nearest knobs: the
    chosen writer version / dictionary toggle must surface in the file's
    actual column-chunk encodings (pyarrow metadata)."""
    src = _write(
        tmp,
        "enc.csv",
        "i,s\n" + "\n".join(f"{n},word{n % 7}" for n in range(300)) + "\n",
    )

    def encodings(p, col):
        return set(pq.ParquetFile(p).metadata.row_group(0).column(col).encodings)

    out = os.path.join(tmp, "e_delta.parquet")
    convert(spark, src, out, ConvertOptions(encoding="delta-binary-packed"))
    assert "DELTA_BINARY_PACKED" in encodings(out, 0)

    out = os.path.join(tmp, "e_dba.parquet")
    convert(spark, src, out, ConvertOptions(encoding="delta-byte-array"))
    assert "DELTA_BYTE_ARRAY" in encodings(out, 1)

    out = os.path.join(tmp, "e_rled.parquet")
    convert(spark, src, out, ConvertOptions(encoding="rle-dictionary"))
    assert "RLE_DICTIONARY" in encodings(out, 1)

    out = os.path.join(tmp, "e_plain.parquet")
    convert(spark, src, out, ConvertOptions(encoding="plain"))
    assert "PLAIN" in encodings(out, 1)
    assert not any("DICTIONARY" in e for e in encodings(out, 1))

    # rle → v2 writer: BOOLEAN data pages are RLE (the one physical
    # type the reference's set_encoding(RLE) is valid for; probed
    # round 8 — v1 booleans carry PLAIN data pages instead)
    src_b = _write(
        tmp,
        "encb.csv",
        "flag,i\n" + "\n".join(f"{n % 3 == 0},{n}".lower() for n in range(300)) + "\n",
    )
    out = os.path.join(tmp, "e_rle.parquet")
    convert(spark, src_b, out, ConvertOptions(encoding="rle"))
    assert encodings(out, 0) == {"RLE"}


def test_writer_encoding_residual_fallbacks(spark, tmp):
    """The two W2 values parquet-mr cannot force (VERDICT r9 item 7 —
    reference accepts them at main.rs:25-35, applies at main.rs:206-218):
    the documented fallback must be LOUD (a warning naming the mapping)
    and the fallback footer must be exactly what the docs promise.

    - bit-packed: a deprecated LEVEL encoding parquet-mr always chooses
      itself — data encodings keep their defaults (v1, dictionary off).
    - delta-length-byte-array: v2 writers emit DELTA_BYTE_ARRAY for
      byte arrays, so the request lands on the v2 delta family.
    """
    src = _write(
        tmp,
        "encres.csv",
        "i,s\n" + "\n".join(f"{n},word{n % 7}" for n in range(300)) + "\n",
    )

    def encodings(p, col):
        return set(pq.ParquetFile(p).metadata.row_group(0).column(col).encodings)

    out = os.path.join(tmp, "e_bitpacked.parquet")
    with pytest.warns(UserWarning, match="bit-packed.*cannot be forced"):
        convert(spark, src, out, ConvertOptions(encoding="bit-packed"))
    # defaults: v1 writer, dictionary off -> PLAIN data pages
    assert "PLAIN" in encodings(out, 1)
    assert not any("DICTIONARY" in e for e in encodings(out, 1))
    assert not any("DELTA" in e for e in encodings(out, 0))

    out = os.path.join(tmp, "e_dlba.parquet")
    with pytest.warns(UserWarning, match="delta-length-byte-array.*cannot be forced"):
        convert(spark, src, out, ConvertOptions(encoding="delta-length-byte-array"))
    # v2 delta family: strings DELTA_BYTE_ARRAY (not DELTA_LENGTH_...),
    # ints DELTA_BINARY_PACKED
    assert "DELTA_BYTE_ARRAY" in encodings(out, 1)
    assert "DELTA_LENGTH_BYTE_ARRAY" not in encodings(out, 1)
    assert "DELTA_BINARY_PACKED" in encodings(out, 0)


def test_multi_part_output(spark, tmp):
    """single_file=False → directory of part files (the 100 TB path)."""
    src = _write(tmp, "typed.csv", TYPED_CSV)
    out = os.path.join(tmp, "dir.parquet")
    convert(spark, src, out, ConvertOptions(single_file=False))
    assert os.path.isdir(out)
    con = duckdb.connect()
    assert con.execute(f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0] == 3


def test_failfast_on_malformed(spark, tmp):
    src = _write(tmp, "bad.csv", "i,j\n1,2\nx,y,z,w\n")
    out = os.path.join(tmp, "bad.parquet")
    schema_doc = struct_to_arrow_json(
        T.StructType([T.StructField("i", T.LongType()), T.StructField("j", T.LongType())])
    )
    sf = _write(tmp, "bad_schema.json", schema_doc)
    with pytest.raises(Exception):
        convert(spark, src, out, ConvertOptions(schema_file=sf))


# --------------------------------------------------------------------------
# Format extensions (converter/formats.py)
# --------------------------------------------------------------------------
def test_jsonl_to_parquet_roundtrip(spark, tmp_path):
    import duckdb

    src = tmp_path / "in.jsonl"
    src.write_text('{"i": 1, "s": "x"}\n{"i": 2, "s": "y"}\n')
    out = str(tmp_path / "out.parquet")
    convert_input(spark, "jsonl", str(src), out, ConvertOptions(single_file=True))
    got = duckdb.sql(f"SELECT i, s FROM read_parquet('{out}') ORDER BY i").fetchall()
    assert got == [(1, "x"), (2, "y")]


def test_parquet_to_csv_roundtrip(spark, tmp_path, sf_dir):
    from csv2parquet_spark.converter.formats import parquet_to_csv

    out = str(tmp_path / "nation.csv")
    parquet_to_csv(spark, f"{sf_dir}/nation.parquet", out, single_file=True)
    back = spark.read.options(header=True, inferSchema=True).csv(out)
    want = spark.read.parquet(f"{sf_dir}/nation.parquet")
    assert back.count() == want.count()
    assert sorted(back.columns) == sorted(want.columns)


def test_to_orc_roundtrip(spark, tmp_path, sf_dir):
    from csv2parquet_spark.converter.formats import to_orc

    out = str(tmp_path / "region_orc")
    to_orc(spark, f"{sf_dir}/region.parquet", out)
    back = spark.read.orc(out)
    want = spark.read.parquet(f"{sf_dir}/region.parquet")
    assert sorted(map(str, back.collect())) == sorted(map(str, want.collect()))


def test_permissive_mode_nulls_bad_cells(spark, tmp_path):
    """parse_mode='PERMISSIVE' (engine extension): malformed numeric
    cells become null instead of aborting; FAILFAST stays the default
    (reference parity, covered by test_failfast_on_malformed)."""
    import duckdb

    src = tmp_path / "bad.csv"
    src.write_text("i,s\n1,a\nnotanumber,b\n3,c\n")
    out = str(tmp_path / "out.parquet")
    convert(
        spark,
        str(src),
        out,
        # sample only row 1 ("1") so column i locks to Int64; row 2's
        # "notanumber" is then malformed under the frozen schema
        ConvertOptions(schema_file=None, max_read_records=1, parse_mode="PERMISSIVE"),
    )
    rows = duckdb.sql(f"SELECT i, s FROM read_parquet('{out}') ORDER BY s").fetchall()
    assert rows == [(1, "a"), (None, "b"), (3, "c")]


def test_convert_jsonl_nested_and_dry(spark, tmp_path):
    """Full-surface JSONL converter: nested objects survive inference,
    --dry prints a re-feedable arrow serde-JSON schema (Struct support),
    and the written parquet round-trips values."""
    import io

    import duckdb

    src = tmp_path / "docs.jsonl"
    src.write_text(
        '{"id": 1, "text": "hello", "meta": {"lang": "en", "score": 0.5}}\n'
        '{"id": 2, "text": "welt", "meta": {"lang": "de", "score": 0.25}}\n'
    )
    out = str(tmp_path / "docs.parquet")

    # --dry: schema on stdout, banner on stderr, nothing written
    o, e = io.StringIO(), io.StringIO()
    schema = convert_input(
        spark, "jsonl", str(src), out, ConvertOptions(dry=True), out=o, err=e
    )
    assert e.getvalue().strip() == "Schema:"
    assert not os.path.exists(out)
    # printed schema parses back to the same StructType (Struct serde)
    assert arrow_json_to_struct(o.getvalue()) == schema

    convert_input(spark, "jsonl", str(src), out)
    rows = duckdb.sql(
        f"SELECT id, text, meta.lang, meta.score FROM read_parquet('{out}') ORDER BY id"
    ).fetchall()
    assert rows == [(1, "hello", "en", 0.5), (2, "welt", "de", 0.25)]


def test_convert_jsonl_sampled_inference_and_string_mode(spark, tmp_path):
    """max_read_records caps JSONL inference at the first n lines; 0
    mirrors the CSV contract (no inference -> all columns string)."""
    import duckdb

    src = tmp_path / "mix.jsonl"
    # first line int-looking, second would widen to double
    src.write_text('{"v": 1}\n{"v": 2.5}\n')
    out = str(tmp_path / "mix.parquet")

    schema = convert_input(
        spark,
        "jsonl",
        str(src),
        out,
        ConvertOptions(max_read_records=1, parse_mode="PERMISSIVE"),
    )
    assert schema.fields[0].dataType == T.LongType()
    vals = duckdb.sql(f"SELECT v FROM read_parquet('{out}') ORDER BY v").fetchall()
    # frozen long schema: 2.5 is malformed -> null under PERMISSIVE
    # (DuckDB sorts NULLs last)
    assert vals == [(1,), (None,)]

    schema0 = convert_input(
        spark, "jsonl", str(src), str(tmp_path / "s.parquet"),
        ConvertOptions(max_read_records=0),
    )
    assert all(f.dataType == T.StringType() for f in schema0.fields)
    svals = duckdb.sql(
        f"SELECT v FROM read_parquet('{tmp_path / 's.parquet'}') ORDER BY v"
    ).fetchall()
    assert svals == [("1",), ("2.5",)]


def test_cli_format_auto_jsonl(tmp_path):
    """CLI --format auto routes .jsonl inputs through the JSONL path."""
    import duckdb

    from csv2parquet_spark.converter.cli import main

    src = tmp_path / "in.jsonl"
    src.write_text('{"a": 10, "b": "x"}\n')
    out = str(tmp_path / "out.parquet")
    assert main([str(src), out]) == 0
    assert duckdb.sql(f"SELECT a, b FROM read_parquet('{out}')").fetchall() == [
        (10, "x")
    ]


def test_jsonl_string_mode_names_pass_is_bounded(spark, tmp_path):
    """max_read_records=0 must not pay a corpus scan for field names:
    names come from the first _NAME_SAMPLE_LINES lines only. A field
    first appearing beyond that window is dropped (the documented
    caveat) — its presence in the schema would prove an unbounded pass.
    Values still convert for ALL rows under the frozen schema."""
    import duckdb

    from csv2parquet_spark.converter.jsonl import _NAME_SAMPLE_LINES

    src = tmp_path / "big.jsonl"
    n_extra = 200
    with open(src, "w") as f:
        for i in range(_NAME_SAMPLE_LINES):
            f.write('{"a": %d, "b": "x"}\n' % i)
        for i in range(n_extra):
            f.write('{"a": %d, "b": "y", "zzz_late": 1}\n' % i)
    out = str(tmp_path / "big.parquet")
    schema = convert_input(spark, "jsonl", str(src), out, ConvertOptions(max_read_records=0))
    assert [f.name for f in schema.fields] == ["a", "b"]
    assert all(f.dataType == T.StringType() for f in schema.fields)
    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{out}')").fetchone()[0]
    assert n == _NAME_SAMPLE_LINES + n_extra


@pytest.mark.parametrize(
    "path, want",
    [
        ("x.jsonl", "jsonl"), ("x.ndjson", "jsonl"), ("x.json", "json"),
        ("x.xml", "xml"), ("x.orc", "orc"), ("x.parquet", "parquet"),
        ("x.csv", "csv"), ("x.tsv", "csv"), ("x.jsonl.gz", "jsonl"),
        ("x.csv.bz2", "csv"), ("x.jsonl.xz", ValueError),
        ("x.csv.zst", ValueError),
    ],
)
def test_input_format_map(path, want):
    """--format auto's extension map (the one the CLI and incremental
    ingest both route by): compression suffixes are looked through,
    .xz/.zst are refused, anything unknown is CSV."""
    from csv2parquet_spark.converter.convert import input_format

    if want is ValueError:
        with pytest.raises(ValueError, match="not supported"):
            input_format(path)
    else:
        assert input_format(path) == want


def test_converter_has_one_front():
    """Tripwire: one function prints the ``Schema:`` banner, one loads a
    schema file (``arrow_json_to_struct``), one module holds the
    extension → format map (the only place the ``ndjson`` extension is
    spelled), and one function spells the CSV read dialect (passes
    ``sep=`` to ``.options(...)``). The per-format converters were forks
    of the first three; the streaming converter read CSV in a dialect of
    its own."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "csv2parquet_spark"
    banner, schema_loads, ext_maps, dialects = set(), set(), set(), set()

    def visit(node, where):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, f"{where.split(':')[0]}:{child.name}")
                continue
            if isinstance(child, ast.Call):
                callee = ast.unparse(child.func)
                if callee == "print" and any(
                    isinstance(a, ast.Constant) and a.value == "Schema:"
                    for a in child.args
                ):
                    banner.add(where)
                if callee.split(".")[-1] == "arrow_json_to_struct":
                    schema_loads.add(where)
                if callee.split(".")[-1] == "options" and any(
                    k.arg == "sep" for k in child.keywords
                ):
                    dialects.add(where)
            if isinstance(child, ast.Constant) and child.value == "ndjson":
                ext_maps.add(where.split(":")[0])
            visit(child, where)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        visit(ast.parse(path.read_text(), str(path)), rel)
    found = {"banner": banner, "schema_file": schema_loads, "ext_map": ext_maps,
             "csv_dialect": dialects}
    assert all(len(v) == 1 for v in found.values()), "; ".join(
        f"{k}: {sorted(v)}" for k, v in found.items()
    )


def test_orc_and_parquet_inputs_roundtrip(spark, tmp_path, sf_dir):
    """Engine-extension input formats: ORC → Parquet and the
    Parquet → Parquet recompress rewrite both preserve values exactly
    and honor the writer knobs (zstd codec lands in the footer)."""
    import duckdb

    from csv2parquet_spark.converter.cli import main as cli_main
    from csv2parquet_spark.converter.formats import to_orc

    src = f"{sf_dir}/nation.parquet"
    orc = str(tmp_path / "nation.orc")
    out1 = str(tmp_path / "from_orc.parquet")
    out2 = str(tmp_path / "recompressed.parquet")
    to_orc(spark, src, orc, single_file=True)

    assert cli_main([orc, out1]) == 0                      # auto → orc
    assert cli_main(["-c", "zstd", src, out2]) == 0        # auto → parquet

    con = duckdb.connect()
    base = con.execute(
        f"SELECT * FROM read_parquet('{src}') ORDER BY n_nationkey"
    ).fetchall()
    for out in (out1, out2):
        got = con.execute(
            f"SELECT * FROM read_parquet('{out}') ORDER BY n_nationkey"
        ).fetchall()
        assert got == base
    codecs = {
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT compression FROM parquet_metadata('{out2}')"
        ).fetchall()
    }
    assert codecs <= {"ZSTD", "UNCOMPRESSED"} and "ZSTD" in codecs


def test_columnar_input_schema_modes(spark, tmp_path, sf_dir):
    """A self-describing input goes through the same schema front as
    CSV: max_read_records=0 writes every column as string, and a schema
    file selects and casts columns, instead of both being ignored."""
    import duckdb

    src = f"{sf_dir}/nation.parquet"
    out0 = str(tmp_path / "strings.parquet")
    convert_input(spark, "parquet", src, out0, ConvertOptions(max_read_records=0))
    types = {
        r[0]: r[1]
        for r in duckdb.sql(f"DESCRIBE SELECT * FROM read_parquet('{out0}')").fetchall()
    }
    assert types == {"n_nationkey": "VARCHAR", "n_name": "VARCHAR", "n_regionkey": "VARCHAR"}

    sf = tmp_path / "schema.json"
    sf.write_text(struct_to_arrow_json(T.StructType([
        T.StructField("n_regionkey", T.LongType()),
        T.StructField("n_nationkey", T.StringType()),
    ])))
    out1 = str(tmp_path / "cast.parquet")
    convert_input(spark, "parquet", src, out1, ConvertOptions(schema_file=str(sf)))
    con = duckdb.connect()
    got = con.execute(
        f"SELECT * FROM read_parquet('{out1}') ORDER BY n_nationkey::INT"
    ).fetchall()
    want = con.execute(
        f"SELECT n_regionkey::BIGINT, n_nationkey::VARCHAR FROM read_parquet('{src}') "
        "ORDER BY n_nationkey"
    ).fetchall()
    assert got == want


def test_bloom_filter_columns_written(spark, tmp_path):
    """--bloom-filter-columns (engine extension): the parquet output
    must carry a bloom filter for the named column. Neither pyarrow nor
    this DuckDB exposes bloom offsets, so the observable is the bloom's
    FOOTPRINT: the file grows by roughly the expected filter size (~100
    KB for 100k distinct at the default 1% fpp) while values roundtrip
    identically."""
    import csv

    import duckdb

    from csv2parquet_spark.converter import ConvertOptions, convert

    src = tmp_path / "keys.csv"
    with open(src, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["k", "v"])
        for i in range(100_000):
            w.writerow([i * 2654435761 % (1 << 40), i])

    plain = str(tmp_path / "plain.parquet")
    bloom = str(tmp_path / "bloom.parquet")
    convert(spark, str(src), plain, ConvertOptions())
    convert(
        spark, str(src), bloom,
        ConvertOptions(bloom_filter_columns=["k"]),
    )
    import os

    grew = os.path.getsize(bloom) - os.path.getsize(plain)
    assert grew > 50_000, f"bloom footprint missing (delta={grew} bytes)"
    a = duckdb.sql(f"SELECT sum(k), count(*) FROM read_parquet('{plain}')").fetchone()
    b = duckdb.sql(f"SELECT sum(k), count(*) FROM read_parquet('{bloom}')").fetchone()
    assert a == b


def test_partitioned_write_keeps_writer_options(spark, tmp_path):
    """partition_by picks the frame and writer only: the bloom filter
    and the row-group cap reach every partition file, as they do for a
    flat write (test_bloom_filter_columns_written)."""
    import csv
    import glob

    src = tmp_path / "keys.csv"
    with open(src, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["k", "g", "v"])
        for i in range(100_000):
            w.writerow([i * 2654435761 % (1 << 40), f"g{i % 2}", i])

    def write(name, **extra):
        out = str(tmp_path / name)
        convert(spark, str(src), out, ConvertOptions(
            partition_by=["g"], single_file=False, **extra))
        files = glob.glob(os.path.join(out, "g=*", "*.parquet"))
        assert len(files) == 2
        size = sum(os.path.getsize(p) for p in files)
        groups = sum(pq.ParquetFile(p).metadata.num_row_groups for p in files)
        return size, groups

    plain_size, plain_groups = write("plain")
    bloom_size, _ = write("bloom", bloom_filter_columns=["k"])
    _, capped_groups = write("capped", max_row_group_size=1000)
    grew = bloom_size - plain_size
    assert grew > 50_000, f"bloom footprint missing (delta={grew} bytes)"
    assert capped_groups > plain_groups, (capped_groups, plain_groups)


def test_convert_json_multiline_shapes(spark, tmp_path):
    """--format json (round 4): the three multi-line shapes the JSONL
    reader misparses — a top-level ARRAY of objects, ONE pretty-printed
    object — convert correctly; --format auto routes .json here; --dry
    prints the banner contract; max_read_records=0 stays CSV-parity
    (all columns string)."""
    import io

    import duckdb

    from csv2parquet_spark.converter.cli import main as cli_main

    arr = tmp_path / "arr.json"
    arr.write_text(
        '[\n  {"id": 1, "text": "hello",\n   "meta": {"lang": "en"}},\n'
        '  {"id": 2, "text": "welt",\n   "meta": {"lang": "de"}}\n]\n'
    )
    out = str(tmp_path / "arr.parquet")

    # --dry: banner on stderr, schema on stdout, nothing written
    o, e = io.StringIO(), io.StringIO()
    schema = convert_input(
        spark, "json", str(arr), out, ConvertOptions(dry=True), out=o, err=e
    )
    assert e.getvalue().strip() == "Schema:"
    assert not os.path.exists(out)
    assert arrow_json_to_struct(o.getvalue()) == schema

    # auto-routing through the CLI: .json → multiLine reader
    assert cli_main([str(arr), out]) == 0
    rows = duckdb.sql(
        f"SELECT id, text, meta.lang FROM read_parquet('{out}') ORDER BY id"
    ).fetchall()
    assert rows == [(1, "hello", "en"), (2, "welt", "de")]

    # one pretty-printed object per file
    single = tmp_path / "single.json"
    single.write_text('{\n  "id": 7,\n  "text": "solo"\n}\n')
    out2 = str(tmp_path / "single.parquet")
    convert_input(spark, "json", str(single), out2)
    assert duckdb.sql(
        f"SELECT id, text FROM read_parquet('{out2}')"
    ).fetchall() == [(7, "solo")]

    # max_read_records=0 → every column lands as string (CSV parity)
    out3 = str(tmp_path / "arr0.parquet")
    schema0 = convert_input(
        spark, "json", str(arr), out3, ConvertOptions(max_read_records=0)
    )
    assert all(f.dataType.typeName() == "string" for f in schema0.fields)
    assert duckdb.sql(
        f"SELECT id FROM read_parquet('{out3}') ORDER BY id"
    ).fetchall() == [("1",), ("2",)]


def test_convert_xml_roundtrip_and_dry(spark, tmp_path):
    """--format xml (round 4, Spark 4 native XML source): row-tag
    records convert with typed inference; --dry honors the banner
    contract; nested elements survive; auto-routing keys off .xml."""
    import io

    import duckdb

    from csv2parquet_spark.converter.cli import main as cli_main

    src = tmp_path / "recs.xml"
    src.write_text(
        "<rows>\n"
        "  <row><id>1</id><text>hello</text><meta><lang>en</lang></meta></row>\n"
        "  <row><id>2</id><text>welt</text><meta><lang>de</lang></meta></row>\n"
        "</rows>\n"
    )
    out = str(tmp_path / "recs.parquet")

    o, e = io.StringIO(), io.StringIO()
    schema = convert_input(
        spark, "xml", str(src), out, ConvertOptions(dry=True), out=o, err=e
    )
    assert e.getvalue().strip() == "Schema:"
    assert not os.path.exists(out)
    assert arrow_json_to_struct(o.getvalue()) == schema

    assert cli_main([str(src), out]) == 0  # auto-routed .xml
    rows = duckdb.sql(
        f"SELECT id, text, meta.lang FROM read_parquet('{out}') ORDER BY id"
    ).fetchall()
    assert rows == [(1, "hello", "en"), (2, "welt", "de")]

    # string mode (max_read_records=0): scalar leaves land as strings,
    # and the sampled name discovery is LOUD (ADVICE r8: silent field
    # drop on sparse corpora) — the warning names the escape hatch.
    import pytest as _pytest

    out0 = str(tmp_path / "recs0.parquet")
    with _pytest.warns(UserWarning, match="samples at"):
        schema0 = convert_input(
            spark, "xml", str(src), out0, ConvertOptions(max_read_records=0)
        )
    assert schema0["id"].dataType.typeName() == "string"


def test_convert_json_concatenated_objects_limitation(spark, tmp_path):
    """Pinned LIMITATION (documented in jsonl.json_source): Spark's wholeFile
    JSON parser stops after the FIRST top-level value, silently — a
    file with concatenated multi-line objects converts to one row even
    in FAILFAST. Users needing that shape use JSONL (one per line) or
    one document per file. If a Spark upgrade starts parsing all
    values, this test will flag the semantics change."""
    import duckdb

    src = tmp_path / "concat.json"
    src.write_text('{\n "id": 1\n}\n{\n "id": 2\n}\n')
    out = str(tmp_path / "concat.parquet")
    convert_input(spark, "json", str(src), out)
    assert duckdb.sql(f"SELECT id FROM read_parquet('{out}')").fetchall() == [(1,)]


def test_cli_format_auto_compressed_inputs(tmp_path):
    """Transparent-compression suffixes must not hide the real
    extension from --format auto: in.jsonl.gz routes as JSONL (a .gz
    file fell through to the CSV default before this pin, silently
    comma-splitting JSON lines), and in.csv.gz converts as CSV with
    Spark decompressing on read."""
    import gzip

    import duckdb

    from csv2parquet_spark.converter.cli import main

    jsrc = tmp_path / "in.jsonl.gz"
    with gzip.open(jsrc, "wt") as f:
        f.write('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    jout = str(tmp_path / "j.parquet")
    assert main([str(jsrc), jout]) == 0
    assert duckdb.sql(
        f"SELECT a, b FROM read_parquet('{jout}') ORDER BY a"
    ).fetchall() == [(1, "x"), (2, "y")]

    csrc = tmp_path / "in.csv.gz"
    with gzip.open(csrc, "wt") as f:
        f.write("a,b\n1,x\n2,y\n")
    cout = str(tmp_path / "c.parquet")
    assert main([str(csrc), cout]) == 0
    assert duckdb.sql(
        f"SELECT a, b FROM read_parquet('{cout}') ORDER BY a"
    ).fetchall() == [(1, "x"), (2, "y")]


def test_cli_refuses_unsupported_compression(tmp_path):
    """--format auto must refuse .xz/.zst up front (no usable Hadoop
    codec in a pip pyspark build) instead of routing the raw compressed
    bytes into a reader and failing mid-job with FAILED_READ_FILE."""
    from csv2parquet_spark.converter.cli import main

    src = tmp_path / "in.jsonl.xz"
    src.write_bytes(b"\xfd7zXZ\x00")
    assert main([str(src), str(tmp_path / "o.parquet")]) == 2
    assert main([str(tmp_path / "x.csv.zst"), str(tmp_path / "o2.parquet")]) == 2


def test_cli_sort_by_clusters_output(tmp_path):
    """--sort-by must range-cluster the single output file: the column
    reads back globally sorted (tight row-group min/max stats)."""
    import random

    import pyarrow.parquet as pq

    from csv2parquet_spark.converter.cli import main

    rnd = random.Random(11)
    src = tmp_path / "in.csv"
    src.write_text(
        "x,s\n" + "".join(f"{rnd.randint(0, 9999)},r{i}\n" for i in range(5000))
    )
    out = str(tmp_path / "out.parquet")
    assert main(["--sort-by", "x", str(src), out]) == 0
    xs = pq.read_table(out).column("x").to_pylist()
    assert xs == sorted(xs)
    assert len(xs) == 5000


def test_cli_zorder_by_prunes_rowgroups(tmp_path):
    """--zorder-by must make row-group min/max stats prune a 2-D box
    predicate that the reference's input-order layout cannot prune at
    all (the point of Morton clustering)."""
    import random

    from csv2parquet_spark.converter.cli import main
    from csv2parquet_spark.operators.layout import rowgroup_prune_fraction

    rnd = random.Random(13)
    src = tmp_path / "in.csv"
    src.write_text(
        "x,y\n"
        + "".join(
            f"{rnd.randint(0, 9999)},{rnd.randint(0, 9999)}\n"
            for i in range(20000)
        )
    )
    pred = {"x": (1000.0, 1999.0), "y": (1000.0, 1999.0)}

    zout = str(tmp_path / "z.parquet")
    assert main(
        ["--zorder-by", "x,y", "--max-row-group-size", "8", str(src), zout]
    ) == 0
    plain = str(tmp_path / "plain.parquet")
    assert main(["--max-row-group-size", "8", str(src), plain]) == 0

    pz = rowgroup_prune_fraction(zout, pred)
    pp = rowgroup_prune_fraction(plain, pred)
    # measured locally: ~0.95 vs 0.0 — assert with slack
    assert pz > 0.8, f"z-order pruned only {pz:.2f}"
    assert pz > pp + 0.5


def test_cli_cluster_flag_validation(tmp_path):
    """Mutual exclusion and unknown-column validation fail fast (rc=2 /
    ValueError), not mid-write."""
    import pytest

    from csv2parquet_spark.converter.cli import main

    src = tmp_path / "in.csv"
    src.write_text("x,y\n1,2\n")
    out = str(tmp_path / "o.parquet")
    assert main(["--sort-by", "x", "--zorder-by", "x,y", str(src), out]) == 2
    with pytest.raises(ValueError, match="not in schema"):
        main(["--sort-by", "nope", str(src), out])
    with pytest.raises(ValueError, match="at least 2"):
        main(["--zorder-by", "x", str(src), out])


def test_cli_partition_by_writes_hive_layout(tmp_path):
    """--partition-by must produce a hive directory tree whose reads
    carry PartitionFilters, and round-trip the data exactly."""
    import os

    import duckdb

    from csv2parquet_spark.converter.cli import main

    src = tmp_path / "in.csv"
    src.write_text(
        "grp,v\n" + "".join(f"g{i % 3},{i}\n" for i in range(300))
    )
    out = str(tmp_path / "out_dir")
    assert main(["--partition-by", "grp", str(src), out]) == 0
    assert os.path.isdir(out)
    subdirs = {d for d in os.listdir(out) if d.startswith("grp=")}
    assert subdirs == {"grp=g0", "grp=g1", "grp=g2"}
    got = duckdb.sql(
        f"SELECT grp, count(*) n, sum(v) s FROM read_parquet('{out}/*/*.parquet', "
        "hive_partitioning=true) GROUP BY grp ORDER BY grp"
    ).fetchall()
    assert got == [("g0", 100, 14850), ("g1", 100, 14950), ("g2", 100, 15050)]
    # mutual exclusion with clustering fails fast, before any Spark job
    assert main(["--partition-by", "grp", "--sort-by", "v", str(src), out]) == 2


def test_incremental_manifest_conversion(spark, tmp_path):
    """convert_incremental: first run converts everything into batch=0
    and commits the manifest; adding one file converts ONLY it (batch=1);
    a no-change rerun converts nothing. The combined dataset reads back
    as the union of the inputs (DuckDB oracle over batch=*/)."""
    import duckdb

    from csv2parquet_spark.converter.incremental import convert_incremental

    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,x\n2,y\n")
    (src / "b.csv").write_text("k,v\n3,z\n")
    manifest = str(tmp_path / "manifest.json")

    r0 = convert_incremental(spark, str(src), str(out), manifest)
    assert r0.batch == 0 and len(r0.converted) == 2 and r0.skipped == 0

    # no-change rerun: nothing converts, no new batch dir
    r1 = convert_incremental(spark, str(src), str(out), manifest)
    assert r1.batch is None and r1.converted == [] and r1.skipped == 2

    (src / "c.csv").write_text("k,v\n4,w\n5,q\n")
    r2 = convert_incremental(spark, str(src), str(out), manifest)
    assert r2.batch == 1 and [os.path.basename(p) for p in r2.converted] == ["c.csv"]
    assert r2.skipped == 2

    rows = duckdb.sql(
        f"SELECT k, v FROM read_parquet('{out}/batch=*/*.parquet/*.parquet') ORDER BY k"
    ).fetchall()
    assert rows == [(1, "x"), (2, "y"), (3, "z"), (4, "w"), (5, "q")]


def test_incremental_manifest_detects_changed_file(spark, tmp_path):
    """A file whose size/mtime changed reconverts in a NEW batch (the
    manifest keys on size:mtime_ns, not just presence)."""
    from csv2parquet_spark.converter.incremental import convert_incremental

    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    f = src / "a.csv"
    f.write_text("k,v\n1,x\n")
    manifest = str(tmp_path / "manifest.json")
    assert convert_incremental(spark, str(src), str(out), manifest).batch == 0

    f.write_text("k,v\n1,x\n2,y\n")  # grows: size changes
    r = convert_incremental(spark, str(src), str(out), manifest)
    assert r.batch == 1 and len(r.converted) == 1


def test_incremental_manifest_crash_recovery(spark, tmp_path):
    """The crash contract (VERDICT r6 #5): a run that dies AFTER writing
    its batch dir but BEFORE the manifest commit leaves an orphan
    ``batch=n`` dir and an unchanged manifest. The re-run must re-derive
    the SAME batch number, overwrite the orphan, and the ``batch=*/``
    read-back must contain no duplicate rows."""
    import duckdb

    from csv2parquet_spark.converter.incremental import convert_incremental

    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,x\n2,y\n")
    manifest = str(tmp_path / "manifest.json")
    assert convert_incremental(spark, str(src), str(out), manifest).batch == 0

    # Simulate the crash: run the delta conversion with the manifest
    # commit suppressed — batch=1 lands on disk, manifest still claims
    # next_batch=1 with b.csv unseen.
    (src / "b.csv").write_text("k,v\n3,z\n")
    manifest_before = open(manifest).read()
    import csv2parquet_spark.converter.incremental as inc

    real_commit = inc._commit_manifest

    def dying_commit(path, m):
        raise RuntimeError("simulated crash before manifest commit")

    inc._commit_manifest = dying_commit
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            convert_incremental(spark, str(src), str(out), manifest)
    finally:
        inc._commit_manifest = real_commit
    assert open(manifest).read() == manifest_before  # nothing claimed
    assert (out / "batch=1").exists()  # the orphan

    # Recovery run: same batch number re-derived, orphan overwritten,
    # manifest now commits; the dataset reads back duplicate-free.
    r = convert_incremental(spark, str(src), str(out), manifest)
    assert r.batch == 1 and [os.path.basename(p) for p in r.converted] == ["b.csv"]
    rows = duckdb.sql(
        f"SELECT k, v FROM read_parquet('{out}/batch=*/*.parquet/*.parquet') ORDER BY k"
    ).fetchall()
    assert rows == [(1, "x"), (2, "y"), (3, "z")]
    # idempotent after recovery
    r2 = convert_incremental(spark, str(src), str(out), manifest)
    assert r2.batch is None and r2.skipped == 2


def test_incremental_manifest_corrupt_raises(spark, tmp_path):
    """A manifest that EXISTS but is unparseable (or mis-shapen) raises
    instead of silently resetting to batch 0 — a reset would reconvert
    the corpus into batch=0 next to the committed batch dirs and
    readers of batch=*/ would see full duplicates (ADVICE r6)."""
    from csv2parquet_spark.converter.incremental import convert_incremental

    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,x\n")
    manifest = str(tmp_path / "manifest.json")
    assert convert_incremental(spark, str(src), str(out), manifest).batch == 0

    with open(manifest, "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError, match="not valid JSON"):
        convert_incremental(spark, str(src), str(out), manifest)

    with open(manifest, "w") as f:
        f.write('{"wrong": "shape"}')
    with pytest.raises(ValueError, match="expected .'files'"):
        convert_incremental(spark, str(src), str(out), manifest)


def test_incremental_routes_by_extension(spark, tmp_path):
    """convert_incremental converts each input as the format its
    extension names (the CLI's --format auto map): a JSONL file lands
    with its fields as columns, not comma-split through the CSV
    reader."""
    import duckdb

    from csv2parquet_spark.converter.incremental import convert_incremental

    src, out = tmp_path / "in", tmp_path / "out"
    src.mkdir()
    (src / "b.csv").write_text("k,v\n3,z\n")
    (src / "a.jsonl").write_text('{"k": 1, "v": "x"}\n{"k": 2, "v": "y"}\n')
    r = convert_incremental(spark, str(src), str(out), str(tmp_path / "m.json"))
    assert r.batch == 0 and len(r.converted) == 2
    rel = duckdb.sql(
        f"SELECT * FROM read_parquet('{out}/batch=0/*.parquet/*.parquet', "
        "union_by_name=true, hive_partitioning=false) ORDER BY k"
    )
    assert rel.columns == ["k", "v"]
    assert rel.fetchall() == [(1, "x"), (2, "y"), (3, "z")]


def test_incremental_cli_xml_row_tag_and_format(spark, tmp_path, capsys):
    """--incremental-manifest reads XML inputs with --xml-row-tag, and
    refuses a --format other than auto: it picks each file's format by
    its extension."""
    import duckdb

    from csv2parquet_spark.converter.cli import main

    src, out = tmp_path / "in", tmp_path / "out"
    src.mkdir()
    (src / "recs.xml").write_text(
        "<recs><rec><id>1</id><t>a</t></rec><rec><id>2</id><t>b</t></rec></recs>\n"
    )
    manifest = str(tmp_path / "m.json")
    argv = ["--xml-row-tag", "rec", "--incremental-manifest", manifest]
    assert main(argv + [str(src), str(out)]) == 0
    assert duckdb.sql(
        f"SELECT id, t FROM read_parquet('{out}/batch=0/recs.parquet/*.parquet') "
        "ORDER BY id"
    ).fetchall() == [(1, "a"), (2, "b")]

    capsys.readouterr()
    other = ["--format", "csv", "--incremental-manifest", str(tmp_path / "m2.json")]
    assert main(other + [str(src), str(tmp_path / "out2")]) == 2
    assert any(
        line.startswith("error:") for line in capsys.readouterr().err.splitlines()
    )
    assert not (tmp_path / "out2").exists()


def test_ingest_fixture_root_tracks_converter_sources(tmp_path):
    """The incremental-ingest fixture roots carry a digest of the
    converter's sources, so a converter change builds a new fixture
    instead of reading one that older code wrote."""
    from csv2parquet_spark import converter
    from csv2parquet_spark.queries import scanopt

    (tmp_path / "a.py").write_text("x = 1\n")
    d1 = scanopt._source_digest(str(tmp_path))
    (tmp_path / "a.py").write_text("x = 2\n")
    d2 = scanopt._source_digest(str(tmp_path))
    assert d1 != d2
    assert scanopt._ingest_root(digest=d1) != scanopt._ingest_root(digest=d2)
    assert scanopt._ingest_root("v2_compacted", d1) != scanopt._ingest_root("v1", d1)
    here = scanopt._source_digest(os.path.dirname(converter.__file__))
    assert scanopt._ingest_root() == scanopt._ingest_root(digest=here)


def test_incremental_refuses_stem_collision(spark, tmp_path):
    """a.csv and a.jsonl would both write batch=n/a.parquet (the second
    overwriting the first while the manifest records both): refuse the
    run, naming both files, before anything is written."""
    from csv2parquet_spark.converter.incremental import convert_incremental

    src, out = tmp_path / "in", tmp_path / "out"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n3,z\n")
    (src / "a.jsonl").write_text('{"k": 1, "v": "x"}\n')
    manifest = str(tmp_path / "m.json")
    with pytest.raises(ValueError, match=r"a\.csv.*a\.jsonl"):
        convert_incremental(spark, str(src), str(out), manifest)
    assert not (out.exists() and any(out.iterdir()))
    assert not os.path.exists(manifest)


def test_incremental_ingest_duckdb_readback(spark):
    """The full VERDICT-r6-item-7 parity, now THREE-WAY (VERDICT r7
    "What's wrong" #2): (1) the registered Spark query, (2) DuckDB
    reading the SAME batch=*/ directories (read_parquet filename=true +
    last-batch-wins window), and (3) the registered static VALUES
    oracle must all be the identical row set — so a fixture edit plus a
    matching literal edit can no longer keep the driver row green while
    the readback contract silently diverges. (The registry entry's
    driver-facing oracle pins the static input contract because the
    driver may evaluate oracle SQL before the Spark query has built the
    fixture in a fresh container.)"""
    import duckdb

    from csv2parquet_spark.queries import REGISTRY
    from csv2parquet_spark.queries.scanopt import build_ingest_fixture

    root = build_ingest_fixture(spark, compacted=False)
    got = {
        (r.source, r.batch, r.k, r.v)
        for r in REGISTRY["incremental_ingest_latest"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    want = set(
        duckdb.sql(
            f"""
        WITH parsed AS (
          SELECT regexp_extract(filename, '/([^/]+)\\.parquet/', 1) AS source,
                 CAST(regexp_extract(filename, 'batch=(\\d+)', 1) AS BIGINT)
                   AS batch,
                 CAST(k AS BIGINT) AS k, CAST(v AS BIGINT) AS v
          FROM read_parquet('{root}/out/batch=*/*.parquet/*.parquet',
                            filename=true)
        )
        SELECT source, batch, k, v FROM parsed
        QUALIFY batch = max(batch) OVER (PARTITION BY source)
        """
        ).fetchall()
    )
    pinned = set(
        duckdb.sql(REGISTRY["incremental_ingest_latest"].oracle).fetchall()
    )
    assert got == want == pinned and len(want) == 8


def test_writer_statistics_none_drops_footer_stats(spark, tmp):
    """W3: --statistics none now fully reachable (parquet-mr 1.16's
    parquet.column.statistics.enabled — this was a documented gap on
    older writers): NO column chunk carries min/max/null stats, while
    the default write does. Asserted from the actual footers."""
    src = _write(
        tmp, "w3.csv", "i,s\n" + "\n".join(f"{n},x{n}" for n in range(100)) + "\n"
    )
    out_none = os.path.join(tmp, "w3_none.parquet")
    out_def = os.path.join(tmp, "w3_def.parquet")
    convert(spark, src, out_none, ConvertOptions(statistics="none"))
    convert(spark, src, out_def, ConvertOptions())

    def stats_set(p):
        md = pq.ParquetFile(p).metadata
        return [
            md.row_group(g).column(c).is_stats_set
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        ]

    assert not any(stats_set(out_none))
    assert all(stats_set(out_def))
    # the conf restore leaves later writes unaffected (default again)
    out_after = os.path.join(tmp, "w3_after.parquet")
    convert(spark, src, out_after, ConvertOptions())
    assert all(stats_set(out_after))


# ---------------------------------------------------------------------------
# Compaction + retention GC for the incremental layout (round 8)
# ---------------------------------------------------------------------------


def _ingest_history(spark, tmp_path):
    """The canonical 3-run crawl history (a+b → c → changed a) used by
    both ingest fixtures; returns (out_dir, manifest_path)."""
    from csv2parquet_spark.converter.incremental import convert_incremental

    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n2,20\n3,30\n")
    (src / "b.csv").write_text("k,v\n4,40\n5,50\n")
    manifest = str(tmp_path / "manifest.json")
    assert convert_incremental(spark, str(src), str(out), manifest).batch == 0
    (src / "c.csv").write_text("k,v\n6,60\n7,70\n")
    assert convert_incremental(spark, str(src), str(out), manifest).batch == 1
    (src / "a.csv").write_text("k,v\n1,11\n2,22\n3,33\n8,88\n")
    assert convert_incremental(spark, str(src), str(out), manifest).batch == 2
    return str(out), manifest


def _reconciled(out):
    """Last-batch-wins reconcile in DuckDB (the reader contract)."""
    import duckdb

    return set(
        duckdb.sql(
            f"""
        WITH parsed AS (
          SELECT regexp_extract(filename, '/([^/]+)\\.parquet/', 1) AS source,
                 CAST(regexp_extract(filename, 'batch=(\\d+)', 1) AS BIGINT) AS b,
                 k, v
          FROM read_parquet('{out}/batch=*/*.parquet/*.parquet', filename=true)
        )
        SELECT source, k, v FROM parsed
        QUALIFY b = max(b) OVER (PARTITION BY source)
        """
        ).fetchall()
    )


def _raw_rows(out):
    import duckdb

    return sorted(
        duckdb.sql(
            f"SELECT k, v FROM read_parquet('{out}/batch=*/*.parquet/*.parquet')"
        ).fetchall()
    )


def test_compact_then_gc_preserves_reconciled_state(spark, tmp_path):
    """The reader-safety contract end-to-end: the reconciled state is
    IDENTICAL before compaction, with old+compacted batches coexisting,
    and after GC — and after GC the raw (non-reconciling) glob holds no
    superseded rows at all: raw == reconciled."""
    import json

    from csv2parquet_spark.converter.incremental import (
        compact_incremental,
        gc_batches,
    )

    out, manifest = _ingest_history(spark, tmp_path)
    before = _reconciled(out)
    assert len(before) == 8 and len(_raw_rows(out)) == 11  # 3 superseded

    res = compact_incremental(spark, out, manifest)
    assert res.batch == 3 and res.covers_upto == 2
    assert res.sources == ["a", "b", "c"]
    # coexistence window: reconciling readers see the same data
    assert _reconciled(out) == before

    deleted = gc_batches(out, manifest)
    assert [os.path.basename(d) for d in deleted] == [
        "batch=0", "batch=1", "batch=2",
    ]
    assert sorted(os.listdir(out)) == ["batch=3"]
    assert _reconciled(out) == before
    assert _raw_rows(out) == sorted((r[1], r[2]) for r in before)
    assert json.load(open(manifest))["compacted_upto"] == 2


def test_gc_is_noop_without_committed_compaction(spark, tmp_path):
    from csv2parquet_spark.converter.incremental import gc_batches

    out, manifest = _ingest_history(spark, tmp_path)
    assert gc_batches(out, manifest) == []
    assert sorted(os.listdir(out)) == ["batch=0", "batch=1", "batch=2"]


def test_gc_min_age_grace_period(spark, tmp_path):
    """In-flight-reader retention: freshly superseded dirs survive a GC
    pass whose min_age_sec exceeds their age."""
    from csv2parquet_spark.converter.incremental import (
        compact_incremental,
        gc_batches,
    )

    out, manifest = _ingest_history(spark, tmp_path)
    compact_incremental(spark, out, manifest)
    assert gc_batches(out, manifest, min_age_sec=3600) == []
    assert len(os.listdir(out)) == 4  # everything retained
    assert len(gc_batches(out, manifest)) == 3  # age=0: eligible now


def test_compact_idempotent_and_resumes_after_new_batches(spark, tmp_path):
    """A second compact over an already-compacted layout is a no-op;
    post-compaction ingest batches survive GC and fold into the NEXT
    compaction."""
    from csv2parquet_spark.converter.incremental import (
        compact_incremental,
        convert_incremental,
        gc_batches,
    )

    out, manifest = _ingest_history(spark, tmp_path)
    compact_incremental(spark, out, manifest)
    gc_batches(out, manifest)
    assert compact_incremental(spark, out, manifest).batch is None

    (tmp_path / "in" / "d.csv").write_text("k,v\n9,90\n")
    r = convert_incremental(spark, str(tmp_path / "in"), out, manifest)
    assert r.batch == 4
    assert gc_batches(out, manifest) == []  # 3,4 both above the point
    assert sorted(os.listdir(out)) == ["batch=3", "batch=4"]

    res = compact_incremental(spark, out, manifest)
    assert res.batch == 5 and res.covers_upto == 4
    assert len(gc_batches(out, manifest)) == 2
    assert sorted(os.listdir(out)) == ["batch=5"]
    got = _reconciled(out)
    assert (("d", 9, 90) in got) and len(got) == 9


def test_compact_crash_before_commit_rederives_same_batch(spark, tmp_path):
    """The convert_incremental crash contract extends to compaction: a
    compacted dir whose manifest commit never landed is an orphan that
    the retried compact re-derives (same batch number) and overwrites;
    GC never touches anything without the committed point."""
    from csv2parquet_spark.converter.incremental import (
        compact_incremental,
        gc_batches,
    )

    out, manifest = _ingest_history(spark, tmp_path)
    before = _reconciled(out)
    pre_crash = open(manifest).read()
    compact_incremental(spark, out, manifest)
    with open(manifest, "w") as f:  # roll back the commit = the crash
        f.write(pre_crash)
    assert gc_batches(out, manifest) == []  # nothing committed → no GC

    res = compact_incremental(spark, out, manifest)  # retry
    assert res.batch == 3 and res.covers_upto == 2
    gc_batches(out, manifest)
    assert sorted(os.listdir(out)) == ["batch=3"]
    assert _reconciled(out) == before


def test_compact_gc_random_history_matches_model(spark, tmp_path):
    """Model-based check over a longer, messier crawl history than the
    hand-written cases: 5 ingest runs over 6 files with seeded-random
    creates/changes, a mid-history compact+GC, more ingest, a final
    compact+GC — at every stage the DuckDB last-batch-wins reconcile
    must equal a plain Python dict replaying the same drops (latest
    content per file wins), and after each GC the raw glob must hold
    exactly the model's rows."""
    import random

    from csv2parquet_spark.converter.incremental import (
        compact_incremental,
        convert_incremental,
        gc_batches,
    )

    rng = random.Random(42)
    src = tmp_path / "in"
    out = str(tmp_path / "out")
    src.mkdir()
    manifest = str(tmp_path / "manifest.json")
    model: dict[str, list[tuple[int, int]]] = {}  # stem -> latest rows
    next_k = [1]

    def drop(stem: str) -> None:
        rows = [(next_k[0] + i, (next_k[0] + i) * 10) for i in range(rng.randint(1, 4))]
        next_k[0] += len(rows)
        (src / f"{stem}.csv").write_text(
            "k,v\n" + "".join(f"{k},{v}\n" for k, v in rows)
        )
        model[stem] = rows

    def check() -> None:
        want = sorted((k, v) for rows in model.values() for k, v in rows)
        got = _raw_recon(out)
        assert got == want, f"reconcile != model: {got} vs {want}"

    def _raw_recon(out_dir: str):
        import duckdb

        return sorted(
            duckdb.sql(
                f"""
            WITH parsed AS (
              SELECT regexp_extract(filename, '/([^/]+)\\.parquet/', 1) AS s,
                     CAST(regexp_extract(filename, 'batch=(\\d+)', 1) AS BIGINT) AS b,
                     k, v
              FROM read_parquet('{out_dir}/batch=*/*.parquet/*.parquet',
                                filename=true)
            )
            SELECT k, v FROM parsed
            QUALIFY b = max(b) OVER (PARTITION BY s)
            """
            ).fetchall()
        )

    stems = ["a", "b", "c", "d", "e", "f"]
    for run in range(5):
        for stem in stems:
            if rng.random() < 0.5:
                drop(stem)
        convert_incremental(spark, str(src), out, manifest)
        check()
    compact_incremental(spark, out, manifest)
    check()
    gc_batches(out, manifest)
    check()
    assert _raw_rows(out) == [
        (k, v) for k, v in sorted((k, v) for r in model.values() for k, v in r)
    ]
    for stem in stems:
        if rng.random() < 0.5:
            drop(stem)
    convert_incremental(spark, str(src), out, manifest)
    check()
    compact_incremental(spark, out, manifest)
    gc_batches(out, manifest)
    check()
    assert len(os.listdir(out)) == 1  # only the final compacted batch


# ---------------------------------------------------------------------------
# W10 --created-by: footer-resident, closed by a post-write thrift patch
# (round 8; was a "parquet-mr can't reach it" documented gap)
# ---------------------------------------------------------------------------


def test_writer_created_by_single_file(spark, tmp):
    """W10 (main.rs:98,240-241): created_by lands in the footer, data
    pages and statistics survive byte-identically, and both pyarrow and
    DuckDB read the patched file."""
    src = _write(
        tmp, "w10.csv", "i,s\n" + "\n".join(f"{n},x{n}" for n in range(100)) + "\n"
    )
    out = os.path.join(tmp, "w10.parquet")
    convert(spark, src, out, ConvertOptions(created_by="csv2parquet version 0.8.0"))
    md = pq.ParquetFile(out).metadata
    assert md.created_by == "csv2parquet version 0.8.0"
    assert md.num_rows == 100
    # statistics and data pages untouched by the footer rewrite
    st = md.row_group(0).column(0).statistics
    assert st is not None and st.min == 0 and st.max == 99
    got = duckdb.sql(
        f"SELECT count(*), sum(i) FROM read_parquet('{out}')"
    ).fetchone()
    assert got == (100, sum(range(100)))


def test_writer_created_by_parallel_and_partitioned(spark, tmp):
    """Every part file of a directory output gets the patch — both the
    parallel (multi-file) path and the hive-partitioned path."""
    src = _write(
        tmp,
        "w10p.csv",
        "i,g\n" + "\n".join(f"{n},{n % 3}" for n in range(300)) + "\n",
    )
    out_par = os.path.join(tmp, "w10_par.parquet")
    convert(
        spark, src, out_par,
        ConvertOptions(created_by="engine/parallel", single_file=False),
    )
    out_hive = os.path.join(tmp, "w10_hive.parquet")
    convert(
        spark, src, out_hive,
        ConvertOptions(created_by="engine/hive", partition_by=["g"],
                       single_file=False),
    )
    from csv2parquet_spark.converter.convert import _output_parquet_files

    parts_par = _output_parquet_files(out_par)
    parts_hive = _output_parquet_files(out_hive)
    assert parts_par and parts_hive
    assert all(
        pq.ParquetFile(p).metadata.created_by == "engine/parallel"
        for p in parts_par
    )
    assert all(
        pq.ParquetFile(p).metadata.created_by == "engine/hive"
        for p in parts_hive
    )
    # hive layout still reconstructs all 300 rows after patching
    got = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out_hive}/*/*.parquet', "
        "hive_partitioning=true)"
    ).fetchone()
    assert got == (100 * 3,)


def test_footer_patch_insert_and_boundaries(tmp):
    """The thrift splicer handles the absent-field-6 insert path (with
    the following field's delta re-encoded) and varint-boundary value
    lengths; malformed magic raises."""
    import pyarrow as pa

    from csv2parquet_spark.converter import footer as fm

    # Synthetic FileMetaData-shaped struct WITHOUT field 6:
    # field 1 (i32), field 4 (i64), field 7 (binary) — field 7's delta
    # must be rewritten from 3 (rel. 4) to 1 (rel. 6) on insert.
    buf = bytes(
        [0x15, 0x04]            # fid 1, i32, zigzag(2)
        + [0x36, 0x08]          # fid 4 (delta 3), i64, zigzag(4)
        + [0x38, 0x01, 0x7A]    # fid 7 (delta 3), binary len 1 'z'
        + [0x00]                # STOP
    )
    out = fm._splice_created_by(buf, b"me")
    w = fm._Walker(out)
    w.skip_struct()
    assert w.pos == len(out)  # parses to exactly its length
    # decode: field 6 present with the value, field 7 still intact
    w2 = fm._Walker(out)
    seen = {}
    last = 0
    while True:
        head = w2.byte()
        if head == 0:
            break
        delta, ttype = head >> 4, head & 0x0F
        last = last + delta if delta else fm._zigzag_decode(w2.varint())
        if ttype == 8:
            n = w2.varint()
            seen[last] = out[w2.pos:w2.pos + n]
            w2.pos += n
        else:
            w2.skip_value(ttype, False)
    assert seen[6] == b"me" and seen[7] == b"z"

    # real file: a value long enough to need a 2-byte varint length
    t = pa.table({"a": [1, 2, 3]})
    p = os.path.join(tmp, "boundary.parquet")
    pq.write_table(t, p)
    long_val = "b" * 200
    fm.patch_created_by(p, long_val)
    assert pq.ParquetFile(p).metadata.created_by == long_val
    assert pq.read_table(p).equals(t)
    # idempotent re-patch shrinking the footer back down
    fm.patch_created_by(p, "s")
    assert pq.ParquetFile(p).metadata.created_by == "s"
    assert pq.read_table(p).equals(t)

    bad = os.path.join(tmp, "not.parquet")
    with open(bad, "wb") as f:
        f.write(b"x" * 64)
    with pytest.raises(ValueError, match="magic"):
        fm.patch_created_by(bad, "nope")


# ---------------------------------------------------------------------------
# Concurrent-writer safety for the incremental layout (round 8): without
# mutual exclusion, two ingest runs that both load next_batch=n race
# Spark overwrite writes inside the SAME batch=n/ dir.
# ---------------------------------------------------------------------------


def test_incremental_concurrent_writers_serialize(spark, tmp_path):
    """Two convert_incremental runs racing on one dataset serialize via
    the manifest flock: the result equals SOME serial order — distinct
    batch numbers, every input recorded once, the reconciled readback
    complete and duplicate-free."""
    import threading

    from csv2parquet_spark.converter.incremental import convert_incremental

    src = tmp_path / "in"
    out = str(tmp_path / "out")
    src.mkdir()
    for i in range(4):
        (src / f"f{i}.csv").write_text(
            "k,v\n" + "\n".join(f"{i * 100 + j},{j}" for j in range(50)) + "\n"
        )
    manifest = str(tmp_path / "manifest.json")

    results, errors = [], []

    def run():
        try:
            results.append(
                convert_incremental(spark, str(src), out, manifest,
                                    lock_timeout=120.0)
            )
        except Exception as exc:  # pragma: no cover - fail loudly below
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    # one run converted everything; the other saw a committed manifest
    # and had nothing to do (batch=None) — never the same batch twice
    batches = sorted(r.batch for r in results if r.batch is not None)
    assert batches == [0]
    assert sum(len(r.converted) for r in results) == 4
    got = duckdb.sql(
        f"SELECT count(*), count(DISTINCT k) "
        f"FROM read_parquet('{out}/batch=*/*.parquet/*.parquet')"
    ).fetchone()
    assert got == (200, 200)


def test_incremental_writer_lock_times_out(spark, tmp_path):
    """A writer that cannot acquire the lock within lock_timeout raises
    instead of proceeding into a shared batch dir."""
    import fcntl

    from csv2parquet_spark.converter.incremental import convert_incremental

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,1\n")
    manifest = str(tmp_path / "manifest.json")
    holder = os.open(manifest + ".lock", os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(holder, fcntl.LOCK_EX)
        with pytest.raises(TimeoutError, match="another writer"):
            convert_incremental(
                spark, str(src), str(tmp_path / "out"), manifest,
                lock_timeout=0.3,
            )
    finally:
        os.close(holder)
    # lock released → the same call now succeeds
    res = convert_incremental(
        spark, str(src), str(tmp_path / "out"), manifest, lock_timeout=5.0
    )
    assert res.batch == 0 and len(res.converted) == 1


# ---------------------------------------------------------------------------
# Round-8 review fixes: crc sidecars, orphan-stem leak, GC grace anchor
# ---------------------------------------------------------------------------


def test_created_by_patched_output_readable_by_spark(spark, tmp):
    """The in-place footer rewrite invalidates Hadoop's .crc sidecars;
    they must be dropped or SPARK (a ChecksumFileSystem reader) aborts
    reading its own multi-part output — pyarrow/DuckDB ignore sidecars
    and masked this."""
    src = _write(
        tmp, "crc.csv", "i,s\n" + "\n".join(f"{n},x{n}" for n in range(500)) + "\n"
    )
    out = os.path.join(tmp, "crc_multi.parquet")
    convert(spark, src, out,
            ConvertOptions(created_by="probe/1", single_file=False))
    assert spark.read.parquet(out).count() == 500  # would ChecksumException
    import glob as _glob

    # part-file sidecars dropped; the untouched _SUCCESS keeps its own
    assert not _glob.glob(os.path.join(out, ".*part-*.parquet.crc"))


def test_orphan_batch_stems_never_commit(spark, tmp_path):
    """A crashed UNCOMMITTED run's leftover stems must not leak into the
    next committed batch: both ingest and compaction clear a
    pre-existing batch dir before writing into it."""
    from csv2parquet_spark.converter.incremental import (
        compact_incremental,
        convert_incremental,
    )

    src = tmp_path / "in"
    out = str(tmp_path / "out")
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n")
    manifest = str(tmp_path / "manifest.json")
    convert_incremental(spark, str(src), out, manifest)  # batch 0

    # simulate a crashed run: batch=1 exists with stem z, manifest
    # still says next_batch=1, and z.csv has since been DELETED
    orphan = os.path.join(out, "batch=1", "z.parquet")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"garbage")

    # retried ingest with a different new file reuses batch=1 — the
    # orphan stem must be gone from the committed batch
    (src / "y.csv").write_text("k,v\n2,20\n")
    res = convert_incremental(spark, str(src), out, manifest)
    assert res.batch == 1
    assert sorted(os.listdir(os.path.join(out, "batch=1"))) == ["y.parquet"]

    # same contract for compaction stealing an orphaned number
    orphan2 = os.path.join(out, "batch=2", "zz.parquet")
    os.makedirs(orphan2)
    with open(os.path.join(orphan2, "part-00000.parquet"), "wb") as f:
        f.write(b"garbage")
    res = compact_incremental(spark, out, manifest)
    assert res.batch == 2 and sorted(res.sources) == ["a", "y"]
    assert sorted(os.listdir(os.path.join(out, "batch=2"))) == [
        "a.parquet", "y.parquet",
    ]


def test_gc_grace_anchored_on_compaction_commit(spark, tmp_path):
    """min_age_sec counts from the compaction COMMIT (when dirs became
    superseded), not from dir mtimes — a week-old batch dir must NOT be
    GC-eligible the instant compaction lands."""
    import json as _json

    from csv2parquet_spark.converter.incremental import (
        compact_incremental,
        convert_incremental,
        gc_batches,
    )

    src = tmp_path / "in"
    out = str(tmp_path / "out")
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n")
    manifest = str(tmp_path / "manifest.json")
    convert_incremental(spark, str(src), out, manifest)   # batch 0
    (src / "b.csv").write_text("k,v\n2,20\n")
    convert_incremental(spark, str(src), out, manifest)   # batch 1
    # age the batch dirs a week into the past (the old, broken anchor)
    olds = [os.path.join(out, "batch=0"), os.path.join(out, "batch=1")]
    for old in olds:
        week_ago = os.stat(old).st_mtime - 7 * 86400
        os.utime(old, (week_ago, week_ago))
    compact_incremental(spark, out, manifest)  # just now
    assert gc_batches(out, manifest, min_age_sec=3600.0) == []  # grace holds
    assert all(os.path.isdir(o) for o in olds)
    # grace expired (backdate the recorded commit) → now eligible
    m = _json.load(open(manifest))
    m["compacted_at"] -= 7200
    _json.dump(m, open(manifest, "w"))
    deleted = gc_batches(out, manifest, min_age_sec=3600.0)
    assert sorted(deleted) == olds


def test_compact_single_batch_dataset(spark, tmp_path):
    """A dataset with exactly ONE committed ingest batch must still
    compact (the point at scale is coalescing small parts) — the
    idempotence early-return used to false-match it (already=-1,
    committed_upto=0). A second compact with nothing new IS a no-op."""
    from csv2parquet_spark.converter.incremental import (
        compact_incremental,
        convert_incremental,
        gc_batches,
    )

    src = tmp_path / "in"
    out = str(tmp_path / "out")
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n2,20\n")
    manifest = str(tmp_path / "manifest.json")
    convert_incremental(spark, str(src), out, manifest)     # batch 0
    res = compact_incremental(spark, out, manifest)
    assert res.batch == 1 and res.covers_upto == 0 and res.sources == ["a"]
    assert gc_batches(out, manifest) == [os.path.join(out, "batch=0")]
    # idempotent second pass: only the compaction's own output remains
    res2 = compact_incremental(spark, out, manifest)
    assert res2.batch is None
    got = duckdb.sql(
        f"SELECT count(*), sum(k) "
        f"FROM read_parquet('{out}/batch=*/*.parquet/*.parquet')"
    ).fetchone()
    assert got == (2, 3)


def test_compact_keeps_ingest_writer_options(spark, tmp_path):
    """Compaction rewrites with the writer options the ingest recorded
    in the manifest: the compacted batch keeps the ingest's codec and
    created_by, and its rows."""
    import glob

    from csv2parquet_spark.converter.incremental import (
        compact_incremental,
        convert_incremental,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10\n2,20\n")
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest.json")
    opts = ConvertOptions(compression="zstd", created_by="probe-writer")
    convert_incremental(spark, str(src), out, manifest, opts)
    assert json.load(open(manifest))["writer"]["compression"] == "zstd"
    assert compact_incremental(spark, out, manifest).batch == 1

    parts = glob.glob(f"{out}/batch=1/a.parquet/*.parquet")
    assert parts
    for part in parts:
        md = pq.ParquetFile(part).metadata
        assert md.created_by == "probe-writer"
        assert {
            md.row_group(g).column(c).compression
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        } == {"ZSTD"}
    rows = duckdb.sql(
        f"SELECT k, v FROM read_parquet('{out}/batch=1/a.parquet/*.parquet') ORDER BY k"
    ).fetchall()
    assert rows == [(1, 10), (2, 20)]


# ---------------------------------------------------------------------------
# Round-8 fourth review wave: converter-surface hardening
# ---------------------------------------------------------------------------


def test_inference_dotted_and_backtick_headers(spark, tmp):
    """CSV headers with dots (or backticks) are plain column names, not
    nested-field references — inference used to abort with
    UNRESOLVED_COLUMN on `user.id`."""
    src = _write(
        tmp, "dots.csv", "user.id,price.usd,weird`tick\n1,2.5,x\n3,4.5,y\n"
    )
    out = os.path.join(tmp, "dots.parquet")
    convert(spark, src, out)
    f = pq.ParquetFile(out)
    assert f.schema_arrow.names == ["user.id", "price.usd", "weird`tick"]
    got = duckdb.sql(
        f'SELECT sum("user.id"), sum("price.usd") FROM read_parquet(\'{out}\')'
    ).fetchone()
    assert got == (4, 7.0)


def test_schema_json_ntz_and_map_roundtrip(spark, tmp):
    """The parquet-rewrite surface sees TIMESTAMP_NTZ and MAP columns;
    --print-schema used to crash on both. Arrow serde: naive timestamp
    = Timestamp with null tz; Map round-trips through the entries
    struct."""
    schema = T.StructType(
        [
            T.StructField("t", T.TimestampNTZType()),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    doc = struct_to_arrow_json(schema)
    parsed = json.loads(doc)
    assert parsed["fields"][0]["data_type"] == {"Timestamp": ["Microsecond", None]}
    assert arrow_json_to_struct(doc) == schema
    # tz-present arrow timestamps still map to session-tz TimestampType
    tz_doc = {"fields": [{"name": "t", "data_type": {"Timestamp": ["Microsecond", "UTC"]},
                          "nullable": True}]}
    assert arrow_json_to_struct(tz_doc)["t"].dataType == T.TimestampType()


def test_boolean_re_compiles_under_python_re(spark):
    """The exported lattice regexes are the classifier's pattern table
    spelled for Python re (the natural consumer of a module-level
    constant): they compile and match whole values only. The classifier
    itself wraps the same bodies for Java rlike."""
    import re

    from csv2parquet_spark.converter import inference as I

    for pat in (I.BOOLEAN_RE, I.INTEGER_RE, I.FLOAT_RE, I.DATE32_RE, I.DATE64_RE):
        re.compile(pat)
    assert re.match(I.BOOLEAN_RE, "TRUE")
    assert not re.match(I.BOOLEAN_RE, "yes")
    assert not re.match(I.INTEGER_RE, "12\n")


def test_to_orc_csv_uses_engine_read_path(spark, tmp):
    """to_orc's CSV branch goes through the engine's canonical CSV read:
    FAILFAST on malformed rows (not PERMISSIVE nulls) and the
    arrow-lattice schema, identical to convert()'s."""
    from csv2parquet_spark.converter.formats import to_orc

    src = _write(tmp, "ok.csv", TYPED_CSV)
    out = os.path.join(tmp, "ok.orc")
    to_orc(spark, src, out, in_format="csv")
    back = spark.read.orc(out)
    assert [f.dataType for f in back.schema.fields] == [
        T.BooleanType(), T.LongType(), T.DoubleType(),
        T.DateType(), T.TimestampType(), T.StringType(),
    ]
    bad = _write(tmp, "bad.csv", "i,j\n1,2\nx,y,z,w\n")
    with pytest.raises(Exception):
        to_orc(spark, bad, os.path.join(tmp, "bad.orc"), in_format="csv")


def test_events_nanos_floor_division_negative(spark, tmp_path):
    """Pre-epoch TIMESTAMP(NANOS) values floor (never truncate toward
    zero) when reduced to micros: -1500 ns is -2 us, not -1 us."""
    import pyarrow as pa

    sf = tmp_path
    t = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([1, 1, 1], pa.int64()),
        "event_type": pa.array(["a", "a", "a"]),
        "value": pa.array([1.0, 1.0, 1.0]),
        "ts": pa.array([-1500, 1500, -2000], pa.timestamp("ns")),
    })
    pq.write_table(t, str(sf / "events.parquet"))
    from pyspark.sql import functions as F

    from csv2parquet_spark.tables import table as load_table

    df = load_table(spark, str(sf), "events")
    micros = {
        r.event_id: r.us
        for r in df.select(
            "event_id",
            (F.unix_micros(F.col("ts").cast("timestamp"))).alias("us"),
        ).collect()
    }
    assert micros == {1: -2, 2: 1, 3: -2}


def test_gc_legacy_manifest_without_compacted_at(spark, tmp_path):
    """ADVICE r8: a manifest written before `compacted_at` existed
    (compacted_upto set, field absent) must fall through to the per-dir
    mtime check — the old default of `now` made the grace-period early
    return fire on EVERY pass, blocking GC indefinitely."""
    import json

    from csv2parquet_spark.converter.incremental import (
        compact_incremental,
        gc_batches,
    )

    out, manifest = _ingest_history(spark, tmp_path)
    compact_incremental(spark, out, manifest)
    m = json.load(open(manifest))
    assert "compacted_at" in m
    del m["compacted_at"]  # simulate the legacy manifest
    json.dump(m, open(manifest, "w"))

    # superseded dirs aged past the grace window
    old = __import__("time").time() - 7200
    for name in ("batch=0", "batch=1", "batch=2"):
        os.utime(os.path.join(out, name), (old, old))

    deleted = gc_batches(out, manifest, min_age_sec=3600)
    assert [os.path.basename(d) for d in deleted] == [
        "batch=0", "batch=1", "batch=2",
    ]
    assert sorted(os.listdir(out)) == ["batch=3"]
