"""JSONL→Parquet conversion (engine extension beyond the reference's
CSV-only surface — `/root/reference/src/main.rs:48-54` accepts only
`<CSV> <PARQUET>`).

JSON-lines is the de-facto interchange format for LLM training corpora
(one document object per line), so the engine exposes the same converter
contract for it: schema inference (capped or full), explicit schema
files, the W1-W9 parquet writer knobs, single-file parity mode, and the
parse-mode ladder. The plan stays scan→project→write, narrow-only, no
shuffle — JSONL without multiline objects is line-splittable, so a 100 TB
input fans out exactly like the CSV path.

Differences from CSV, by design:
  * no header/delimiter knobs (not meaningful);
  * inference is Spark's native JSON schema inference — it already
    handles nested objects/arrays, which the CSV lattice never sees;
  * ``max_read_records`` caps inference by sampling the FIRST n lines
    (mirrors the reference's ``--max-read-records`` contract of
    "inference reads at most n records", main.rs:60-62); 0 still means
    "no inference" — everything lands as string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from csv2parquet_spark.converter.convert import ConvertOptions


# Lines consulted for field NAMES when max_read_records=0 ("skip
# inference"): enough to see every field of any sane corpus header-less
# format, while keeping the names pass O(1) in the corpus size.
_NAME_SAMPLE_LINES = 1000


def jsonl_source(spark: SparkSession, jsonl_path: str, opts: ConvertOptions):
    """JSONL inference and frozen-schema scan for the converter front."""

    def infer() -> T.StructType:
        if opts.max_read_records is None:
            return spark.read.json(jsonl_path).schema
        # Cap inference: parse only the first n lines. limit() before
        # the JSON parse prunes the text scan to the first file splits.
        # max_read_records=0 needs only field NAMES (the front makes
        # every type Utf8), from the first _NAME_SAMPLE_LINES lines.
        # Caveat, documented: a field that first appears beyond that
        # window is dropped; pass a schema file or max_read_records>0
        # for full coverage.
        n = opts.max_read_records or _NAME_SAMPLE_LINES
        sample = spark.read.text(jsonl_path).limit(n)
        return spark.read.json(sample.rdd.map(lambda r: r.value)).schema

    def scan(schema: T.StructType) -> DataFrame:
        return spark.read.options(mode=opts.parse_mode).schema(schema).json(jsonl_path)

    return infer, scan


def json_source(spark: SparkSession, json_path: str, opts: ConvertOptions):
    """Multi-line JSON inference and frozen-schema scan (``--format
    json``): a file holding ONE pretty-printed object or a top-level
    ARRAY of objects — the shapes the line-oriented JSONL reader
    misparses. Unlike JSONL, ``max_read_records=0`` has no line-sampled
    names pass: a multi-line document is not line-splittable, so field
    names come from the same document parse inference does (no extra
    corpus cost — the reader must parse whole documents either way).

    NOT supported: CONCATENATED multi-line objects in one file — Spark's
    wholeFile parser stops after the first top-level value and raises
    nothing (even FAILFAST), so such input converts to ONE row; the
    limitation is pinned in tests. Concatenated objects that are
    one-per-line are JSONL (use ``--format jsonl``); otherwise
    pre-split into one document per file.

    Scale note, by design: multiLine JSON is a DOCUMENT format — each
    file parses as one unsplittable task, so parallelism comes from the
    file count, not splits. ``max_read_records`` caps are line-based
    and don't apply here (documents must parse whole); inference is a
    full pass, as the reference's default inference is for CSV. For
    100 TB corpora use JSONL, which fans out per split."""

    def infer() -> T.StructType:
        return spark.read.option("multiLine", "true").json(json_path).schema

    def scan(schema: T.StructType) -> DataFrame:
        return (
            spark.read.options(mode=opts.parse_mode, multiLine="true")
            .schema(schema)
            .json(json_path)
        )

    return infer, scan
