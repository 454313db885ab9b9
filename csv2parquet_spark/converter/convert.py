"""CSV→Parquet conversion (SURVEY.md §2.1: O1 scan, O2/O3 schema,
O4 print/dry, O5 sink, O6 identity projection; W1-W10 writer knobs).

Reference behavior being matched (`/root/reference/src/main.rs`):
  * header default **true** (main.rs:150), delimiter ',' (main.rs:69)
  * schema: explicit file > inference over ≤max_read_records rows
    (absent = all rows; 0 = all-Utf8) (main.rs:126-159)
  * fail-fast on malformed rows (main.rs:253) → CSV mode=FAILFAST
  * output overwrites (File::create, main.rs:178) → mode("overwrite")
  * --dry/--print-schema: banner "Schema:" on stderr, JSON on stdout
    (main.rs:161-168)

One front for every input format (:func:`convert_input`): a format
supplies only its schema inference and its frozen-schema scan; the
schema-file load, the ``max_read_records=0`` → all-Utf8 rule, the
``Schema:`` banner and the parquet write run here, once.

A CSV converts in one pass when its first ``HINT_ROWS`` rows predict
every column's type: one job scans the file as strings, casts each cell
to its column's predicted type, checks it, and writes the parquet
(:func:`~csv2parquet_spark.converter.inference.checked_cast`). If any
cell breaks its prediction, that job fails and the conversion runs in
two passes: infer the schema over the whole sample, then scan it typed
and write. Both give the same schema and the same rows.

Scale design: the plan is scan→project→write, narrow-only — no shuffle.
``single_file=True`` gives byte-level CLI parity (one output file via
repartition(1) + rename); ``single_file=False`` keeps one part-file per
input split, which is the 100 TB path (SURVEY §7 "hard parts").
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
from dataclasses import dataclass
from functools import partial

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv2parquet_spark.converter.inference import checked_cast, infer_schema
from csv2parquet_spark.converter.schema_json import (
    arrow_json_to_struct,
    struct_to_arrow_json,
)
from csv2parquet_spark.session import conf_override

#: W1: the ``--compression`` codecs, in the CLI's order.
CODECS = ("uncompressed", "snappy", "gzip", "lzo", "brotli", "lz4", "zstd")


@dataclass
class ConvertOptions:
    """Mirror of the reference CLI options (main.rs:45-119)."""

    header: bool = True                     # main.rs:64-66
    delimiter: str = ","                    # main.rs:68-70 (single byte)
    schema_file: str | None = None          # main.rs:57-58
    max_read_records: int | None = None     # main.rs:60-62
    compression: str | None = None          # W1, main.rs:72-74
    dictionary: bool = False                # W5, main.rs:100-102 (default OFF)
    data_pagesize_limit: int | None = None  # W6
    dictionary_pagesize_limit: int | None = None  # W7
    write_batch_size: int | None = None     # W8 (approx: page row-count limit)
    max_row_group_size: int | None = None   # W9 (rows; see note below)
    max_statistics_size: int | None = None  # W4
    # W3 (main.rs:104-106): "none" disables column statistics entirely
    # via parquet-mr 1.16's parquet.column.statistics.enabled (this WAS
    # a documented gap when the engine was pinned to older writers —
    # re-probed and closed in round 7). "chunk"/"page" both map to the
    # parquet-mr default (row-group stats + column indexes; parquet-mr
    # exposes no switch that drops ONLY the page-level indexes, so the
    # chunk/page distinction is the remaining documented approximation).
    statistics: str | None = None
    # W2 approximation (main.rs:25-35,206-218): the reference sets ONE
    # default encoding for every column via arrow-rs WriterProperties.
    # parquet-mr exposes no per-encoding switch, but its nearest knobs
    # are wired: delta-* → format v2 writer with dictionary off (v2
    # auto-picks DELTA_BINARY_PACKED for ints / DELTA_BYTE_ARRAY for
    # byte arrays); rle-dictionary → dictionary on (v2 dictionary data
    # pages ARE RLE_DICTIONARY); plain → dictionary off, v1 (PLAIN data
    # pages); rle → format v2 with dictionary off (BOOLEAN data pages
    # become RLE — the one physical type arrow-rs accepts RLE for as a
    # data encoding, footer-probed round 8). "bit-packed" is a
    # deprecated level encoding parquet-mr always chooses itself —
    # accepted and ignored, the residual gap.
    encoding: str | None = None
    # W10: parquet-mr hardcodes its own created_by, but the field is
    # footer-resident — set by a post-write metadata patch (footer.py).
    created_by: str | None = None
    # Engine extension (no reference counterpart): write a parquet
    # BLOOM FILTER for each named column (parquet-mr
    # parquet.bloom.filter.enabled#col) — the point-lookup data-skipping
    # lever for high-cardinality keys that min/max stats can't prune.
    bloom_filter_columns: list[str] | None = None
    print_schema: bool = False              # O4
    dry: bool = False                       # O4
    single_file: bool = True                # CLI parity: one output file
    # RFC-4180 quoted newlines (arrow-csv default behavior). Costs file
    # splittability — turn OFF for the 100 TB path when records are
    # known single-line, so each file splits into parallel tasks.
    multiline: bool = True
    # Engine extension beyond the reference's first-error abort
    # (main.rs:253): "FAILFAST" (reference parity, default),
    # "PERMISSIVE" (malformed cells → null, keep the row),
    # "DROPMALFORMED" (skip bad rows). At 100 TB a single bad row
    # aborting a day-long job is usually the wrong trade — but parity
    # stays the default.
    parse_mode: str = "FAILFAST"
    # Engine extension: cluster the OUTPUT for scan pruning (the
    # reference writes rows in input order — main.rs:178 — which gives
    # useless row-group min/max stats). sort_by = 1-D range clustering
    # on one column; zorder_by = multi-column Morton clustering
    # (operators/layout.interleave_bits) so conjunctive range predicates
    # prune row groups in EVERY listed dimension. Multi-file output gets
    # one range-partitioning exchange (non-overlapping key ranges per
    # file); single-file output degrades to a within-file sort (tight
    # per-row-group stats). Mutually exclusive; zorder_by needs >= 2
    # numeric columns (the min/max scaling pass is one tiny aggregate).
    sort_by: str | None = None
    zorder_by: list[str] | None = None
    # Engine extension: hive-partitioned output (directory per distinct
    # value of each listed column — the layout partition pruning and
    # DPP read from). Implies a DIRECTORY output, so it forces
    # single_file off; mutually exclusive with the clustering flags
    # (partition dirs already carry the pruning).
    partition_by: list[str] | None = None


def _effective_multiline(csv_path: str, opts: ConvertOptions) -> bool:
    """multiLine parsing only changes behavior when a quote character can
    open a multi-line field — a quote-FREE file parses identically either
    way, and multiLine=False lets Spark split the file into parallel
    tasks (multiLine forces one task per file). Sniff the local file for
    a double-quote byte (early-exit chunked scan; worst case one
    sequential read, still far cheaper than a single-task parse). Non-
    local / glob inputs keep the requested setting — at 100 TB callers
    set ``multiline=False`` explicitly for known single-line records.
    """
    if not opts.multiline or not os.path.isfile(csv_path):
        return opts.multiline
    with open(csv_path, "rb") as f:
        while chunk := f.read(1 << 22):
            if b'"' in chunk:
                return True
    return False


def _tuned_splits(spark: SparkSession, csv_path: str):
    """Right-size ``spark.sql.files.maxPartitionBytes`` to the input so a
    splittable CSV fans out to ~2× the core count (clamped to
    [16 MB, 128 MB]). The default 128 MB leaves a 2 GB file at 16 tasks
    on a 32-core machine — half the machine idle through BOTH the
    inference pass and the convert pass — and the former alternative (a
    repartition inside inference) shuffled the whole string sample. On a
    cluster-sized input the clamp keeps the standard 128 MB splits."""
    size = os.path.getsize(csv_path) if os.path.isfile(csv_path) else None
    para = max(1, spark.sparkContext.defaultParallelism)
    # Only worth it when the file can actually feed every core ≥16 MB
    # splits (≈1 GB at 32 cores) — below that, fixed job overhead
    # dominates and the default split size is fine.
    pins = {}
    if size is not None and size >= 2 * para * (16 << 20):
        tgt = min(max(size // (2 * para), 16 << 20), 128 << 20)
        pins["spark.sql.files.maxPartitionBytes"] = str(tgt)
    return conf_override(spark.conf, pins)


#: The typed CSV scan's Date64 format: a date with an optional
#: space- or ``T``-separated time (the inference's Date64 pattern).
TIMESTAMP_FORMAT = "yyyy-MM-dd[[ ]['T']HH:mm:ss]"


def csv_reader(reader, opts: ConvertOptions, multiline: bool, mode: str = "PERMISSIVE"):
    """The reference's CSV dialect on a batch or stream ``reader``: the
    one place the CSV read options are spelled, so every CSV scan
    (inference, the one-pass frame, the typed scan, the streaming
    converter) parses a file the same way. ``mode`` defaults to Spark's
    own, which the all-string inference scan keeps; the typed scans
    pass ``opts.parse_mode``."""
    return reader.options(
        header=opts.header,
        sep=opts.delimiter,
        multiLine=multiline,
        escape='"',  # RFC-4180 doubled-quote escaping (arrow-csv default)
        mode=mode,
        timestampFormat=TIMESTAMP_FORMAT,
    )


def _csv_source(spark: SparkSession, csv_path: str, opts: ConvertOptions):
    """The reference's own format (SURVEY §1.2 / main.rs:126-159): the
    arrow-lattice inference, the FAILFAST scan and the one-pass checked
    frame share one reader and one :func:`_effective_multiline` sniff
    per conversion.

    The one-pass frame is None where it cannot help or cannot be exact:
    under --dry, with a schema file or ``max_read_records=0`` (one pass
    already), under DROPMALFORMED (its inference reads the rows its scan
    drops) and with ``zorder_by`` (its numeric-column check reads the
    schema before any job, and a column empty in the hint rows reads as
    Utf8 there)."""
    multiline = _effective_multiline(csv_path, opts)

    def reader(**mode):
        return csv_reader(spark.read, opts, multiline, **mode)

    def infer() -> T.StructType:
        with _tuned_splits(spark, csv_path):
            return infer_schema(reader().csv(csv_path), opts.max_read_records)

    def scan(schema: T.StructType) -> DataFrame:
        return reader(mode=opts.parse_mode).schema(schema).csv(csv_path)

    def checked() -> DataFrame:
        with _tuned_splits(spark, csv_path):
            raw = reader(mode=opts.parse_mode).csv(csv_path)
            return checked_cast(raw, opts.max_read_records)

    one_pass = not (
        opts.dry
        or opts.schema_file
        or opts.max_read_records == 0
        or opts.parse_mode == "DROPMALFORMED"
        or opts.zorder_by
    )
    return infer, scan, (checked if one_pass else None)


#: ``--format auto``: input extension → format; anything else is CSV.
_EXT_FORMAT = {"jsonl": "jsonl", "ndjson": "jsonl", "json": "json",
               "xml": "xml", "orc": "orc", "parquet": "parquet"}


def input_format(path: str) -> str:
    """The format ``--format auto`` picks for ``path``, by extension.

    Transparent-compression suffixes are stripped first: Spark's text
    sources decompress .gz/.bz2/.deflate on read (pure-Java Hadoop
    codecs), so ``docs.jsonl.gz`` routes as jsonl instead of falling
    through to the csv default. .xz has no Hadoop codec and .zst needs
    native libhadoop (absent from pip pyspark) — reading those fails
    mid-job with a baffling FAILED_READ_FILE, so they raise ValueError
    up front."""
    name = path.lower()
    for czip in (".xz", ".zst"):
        if name.endswith(czip):
            raise ValueError(
                f"{czip} input is not supported (no usable Hadoop codec in "
                "this Spark build) — recompress as .gz or .bz2"
            )
    for czip in (".gz", ".bz2", ".deflate"):
        if name.endswith(czip):
            name = name[: -len(czip)]
            break
    return _EXT_FORMAT.get(name.rsplit(".", 1)[-1], "csv")


def _source(
    spark: SparkSession, fmt: str, path: str, opts: ConvertOptions, row_tag: str
):
    """The format's ``(infer, scan, checked)``: its schema inference, its
    frozen-schema scan, and its one-pass checked frame (None for every
    format but CSV, see :func:`_csv_source`)."""
    from csv2parquet_spark.converter.formats import columnar_source
    from csv2parquet_spark.converter.jsonl import json_source, jsonl_source
    from csv2parquet_spark.converter.xmlsrc import xml_source

    sources = {
        "csv": _csv_source,
        "jsonl": jsonl_source,
        "json": json_source,
        "xml": partial(xml_source, row_tag=row_tag),
        "orc": partial(columnar_source, fmt="orc"),
        "parquet": partial(columnar_source, fmt="parquet"),
    }
    infer, scan, *checked = sources[fmt](spark, path, opts)
    return infer, scan, (checked[0] if checked else None)


def _schema(infer, opts: ConvertOptions) -> T.StructType:
    """Schema resolution, the same three modes for every format (SURVEY
    §1.2 / main.rs:126-159): an explicit schema file, else the format's
    inference, where ``max_read_records=0`` keeps only the field names
    (all Utf8)."""
    if opts.schema_file:
        with open(opts.schema_file) as f:
            return arrow_json_to_struct(f.read())
    schema = infer()
    if opts.max_read_records == 0:
        schema = T.StructType([T.StructField(f.name, T.StringType()) for f in schema])
    return schema


def read_input(
    spark: SparkSession,
    fmt: str,
    path: str,
    opts: ConvertOptions | None = None,
    row_tag: str = "row",
) -> DataFrame:
    """O1: scan ``path`` as ``fmt`` with the resolved, frozen schema —
    never inference at read time."""
    opts = opts or ConvertOptions()
    infer, scan, _ = _source(spark, fmt, path, opts, row_tag)
    return scan(_schema(infer, opts))


def read_csv(spark: SparkSession, csv_path: str, opts: ConvertOptions) -> DataFrame:
    """O1: CSV scan with the resolved, frozen schema; FAILFAST like the
    reference's first-error abort (main.rs:253)."""
    return read_input(spark, "csv", csv_path, opts)


def _writer_conf(opts: ConvertOptions) -> dict[str, str]:
    """W1-W9 → the parquet-mr Hadoop confs to pin for the write.

    W2 (forced column encodings) maps to parquet-mr's nearest knobs
    (writer version + dictionary toggle) — residual gaps documented on
    ConvertOptions.encoding. W10 created_by is handled post-write by a
    footer patch (_apply_created_by), not a writer conf. W3
    statistics=none became reachable with parquet-mr 1.16
    (parquet.column.statistics.enabled) and is wired below.
    """
    dictionary = opts.dictionary
    writer_version = None
    if opts.encoding in {
        "delta-binary-packed", "delta-length-byte-array", "delta-byte-array",
        # rle: v2 writes BOOLEAN data pages as RLE (the one physical
        # type the reference's set_encoding(RLE) applies to)
        "rle",
    }:
        writer_version, dictionary = "v2", False
    elif opts.encoding == "rle-dictionary":
        writer_version, dictionary = "v2", True
    elif opts.encoding == "plain":
        dictionary = False
    wanted: dict[str, str | None] = {
        "parquet.writer.version": writer_version,  # W2 approx
        "parquet.enable.dictionary": str(dictionary).lower(),  # W5
        "parquet.page.size": str(opts.data_pagesize_limit) if opts.data_pagesize_limit else None,  # W6
        "parquet.dictionary.page.size": str(opts.dictionary_pagesize_limit) if opts.dictionary_pagesize_limit else None,  # W7
        "parquet.page.row.count.limit": str(opts.write_batch_size) if opts.write_batch_size else None,  # W8 approx
        "parquet.statistics.truncate.length": str(opts.max_statistics_size) if opts.max_statistics_size else None,  # W4
        "parquet.column.statistics.enabled": "false" if opts.statistics == "none" else None,  # W3
    }
    if opts.statistics in ("chunk", "page"):
        # parquet-mr has no chunk-vs-page statistics granularity knob;
        # both levels are written by default. Say so at run time, not
        # only in the docstring (ADVICE r7).
        import warnings

        warnings.warn(
            f"statistics={opts.statistics!r} has no parquet-mr "
            "equivalent; falling back to the default (statistics at "
            "both chunk and page level)",
            stacklevel=3,
        )
    if opts.encoding in ("bit-packed", "delta-length-byte-array"):
        # The two residual W2 values (VERDICT r9 item 7): make the
        # documented fallback LOUD instead of a silent nearest-neighbor.
        # bit-packed is a deprecated LEVEL encoding parquet-mr always
        # chooses itself (the flag can't change data encodings);
        # delta-length-byte-array is unreachable because v2 writers emit
        # DELTA_BYTE_ARRAY for byte arrays (reference accepts both:
        # /root/reference/src/main.rs:25-35, applied at main.rs:206-218).
        import warnings

        fallback = (
            "level encodings are chosen by parquet-mr; data encodings "
            "keep their defaults"
            if opts.encoding == "bit-packed"
            else "format v2 with dictionary off writes byte arrays as "
            "DELTA_BYTE_ARRAY (its delta family) instead"
        )
        warnings.warn(
            f"encoding={opts.encoding!r} cannot be forced through "
            f"parquet-mr; {fallback}",
            stacklevel=3,
        )
    return {k: v for k, v in wanted.items() if v is not None}


def convert_input(
    spark: SparkSession,
    fmt: str,
    in_path: str,
    parquet_path: str,
    opts: ConvertOptions | None = None,
    row_tag: str = "row",
    out=None,
    err=None,
) -> T.StructType | None:
    """The converter's one front for every input format (``fmt`` is one
    of the ``--format`` names, see :func:`input_format`): resolve the
    schema, print it for --dry/--print-schema, write the parquet.

    Where the format offers a one-pass checked frame (CSV), it is
    written first; if that job fails, the conversion resolves the
    schema and writes as if the one pass had not run, so it gives the
    exact result or raises the two-pass path's own error.

    ``out``/``err`` default to the process's stdout/stderr, looked up at
    call time. Returns the resolved schema (None only on unreachable
    paths).
    """
    opts = opts or ConvertOptions()
    infer, scan, checked = _source(spark, fmt, in_path, opts, row_tag)
    schema = _write_checked(spark, checked, in_path, parquet_path, opts) if checked else None
    written = schema is not None
    if not written:
        schema = _schema(infer, opts)
    if opts.print_schema or opts.dry:
        # main.rs:161-168: banner on stderr, JSON on stdout.
        print("Schema:", file=err or sys.stderr)
        print(struct_to_arrow_json(schema), file=out or sys.stdout)
        if opts.dry:
            return schema
    if not written:
        write_parquet(spark, scan(schema), in_path, parquet_path, opts)
    return schema


def _write_checked(
    spark: SparkSession, checked, in_path: str, parquet_path: str, opts: ConvertOptions
) -> T.StructType | None:
    """Write the one-pass checked frame; its schema, or None if a Spark
    job failed (a cell broke its hint, or the FAILFAST string scan hit
    a malformed row). Any other error, such as an unknown codec, is the
    caller's as it stands."""
    try:
        df = checked()
        write_parquet(spark, df, in_path, parquet_path, opts)
    except (CapturedException, Py4JJavaError):
        return None
    return df.schema


def convert(
    spark: SparkSession,
    csv_path: str,
    parquet_path: str,
    opts: ConvertOptions | None = None,
    out=sys.stdout,
    err=sys.stderr,
) -> T.StructType | None:
    """The reference's whole program as one function (SURVEY §3)."""
    return convert_input(spark, "csv", csv_path, parquet_path, opts, out=out, err=err)


def _clustered(df: DataFrame, opts: ConvertOptions) -> DataFrame:
    """Apply the sort_by / zorder_by output clustering. Validates the
    named columns against the resolved schema so a typo fails before
    the job runs, not as an analysis error mid-write.
    """
    if opts.sort_by and opts.zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    cols = [opts.sort_by] if opts.sort_by else list(opts.zorder_by or [])
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"cluster column(s) not in schema: {missing}")
    if opts.zorder_by:
        if len(cols) < 2:
            raise ValueError("zorder_by needs at least 2 columns")
        numeric = {"tinyint", "smallint", "int", "bigint", "float",
                   "double", "date", "timestamp"}
        bad = [
            c for c in cols
            if df.schema[c].dataType.simpleString().split("(")[0] not in numeric
        ]
        if bad:
            raise ValueError(f"zorder_by columns must be numeric: {bad}")
        from csv2parquet_spark.operators.layout import zorder_key

        df, key = zorder_key(df, cols, bits=16)
        df = df.withColumn("__cluster_key", key)
    else:
        df = df.withColumn("__cluster_key", F.col(opts.sort_by))
    parts = (
        1
        if opts.single_file
        else df.sparkSession.sparkContext.defaultParallelism
    )
    return (
        df.repartitionByRange(parts, "__cluster_key")
        .sortWithinPartitions("__cluster_key")
        .drop("__cluster_key")
    )


def write_parquet(
    spark: SparkSession,
    df: DataFrame,
    src_path: str,
    parquet_path: str,
    opts: ConvertOptions,
) -> None:
    """W1-W9 parquet sink shared by every source format. The layout
    (hive partitions, clustering, or neither) picks only the frame and
    the writer; every writer option and post-write step applies to all."""
    if opts.partition_by:
        if opts.sort_by or opts.zorder_by:
            raise ValueError(
                "partition_by is mutually exclusive with sort_by/zorder_by"
            )
        missing = [c for c in opts.partition_by if c not in df.columns]
        if missing:
            raise ValueError(f"partition column(s) not in schema: {missing}")
        # one file per partition dir (repartition on the partition key),
        # directory output by construction
        writer = (
            df.repartition(*[F.col(c) for c in opts.partition_by])
            .write.partitionBy(*opts.partition_by)
        )
    elif opts.sort_by or opts.zorder_by:
        # _clustered already produces the target partitioning (1 sorted
        # partition for single-file; range-partitioned otherwise) — a
        # further repartition(1) would destroy the sort.
        writer = _clustered(df, opts).write
    else:
        # repartition(1), NOT coalesce(1): coalesce propagates up the
        # plan and collapses the source *parse* to one task; repartition
        # inserts an exchange so the read stays parallel and only the
        # final parquet encode is single-task (the one-file contract
        # forces that much).
        writer = (df.repartition(1) if opts.single_file else df).write
    if opts.compression:
        if opts.compression not in CODECS:
            raise ValueError(f"unknown codec {opts.compression!r}")
        writer = writer.option("compression", opts.compression)
    if opts.max_row_group_size:
        # W9: reference counts ROWS; parquet-mr's parquet.block.size is
        # BYTES (SURVEY §2.1 W9 "semantic mismatch") — approximate via
        # the row-count limit parquet-mr also honors per page/group.
        writer = writer.option("parquet.block.size", str(opts.max_row_group_size * 128))
    for col in opts.bloom_filter_columns or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
    writer = writer.mode("overwrite")

    # Split tuning must be live at ACTION time (FilePartition sizing
    # reads the session conf when the scan is planned for execution).
    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    with conf_override(hadoop, _writer_conf(opts)), _tuned_splits(spark, src_path):
        if opts.single_file and not opts.partition_by:
            write_single_file(
                writer.format("parquet"), parquet_path, "part-*.parquet"
            )
        else:
            writer.parquet(parquet_path)
    _verify_statistics_dropped(parquet_path, opts)
    _apply_created_by(parquet_path, opts)


def _output_parquet_files(parquet_path: str) -> list[str]:
    """All part files of a directory output, or the single file itself."""
    if os.path.isdir(parquet_path):
        return sorted(
            glob.glob(os.path.join(parquet_path, "**", "part-*.parquet"),
                      recursive=True)
        )
    return [parquet_path]


def _apply_created_by(parquet_path: str, opts: ConvertOptions) -> None:
    """W10: set FileMetaData.created_by on every written file
    (reference ``--created-by``, main.rs:98,240-241). parquet-mr offers
    no writer property, but the field is footer-resident, so a
    metadata-only post-write patch reaches it — O(footer) per file,
    no data pages read (:mod:`csv2parquet_spark.converter.footer`)."""
    if opts.created_by is None:
        return
    from csv2parquet_spark.converter.footer import patch_created_by

    for path in _output_parquet_files(parquet_path):
        patch_created_by(path, opts.created_by)
        # Hadoop's local ChecksumFileSystem writes a ".<name>.crc"
        # sidecar per part file; the in-place footer rewrite invalidates
        # it and a Spark read-back then aborts with ChecksumException
        # (pyarrow/DuckDB ignore sidecars, so only Hadoop readers saw
        # it). A missing sidecar is legal — drop it.
        crc = os.path.join(
            os.path.dirname(path), "." + os.path.basename(path) + ".crc"
        )
        if os.path.exists(crc):
            os.remove(crc)


def _verify_statistics_dropped(parquet_path: str, opts: ConvertOptions) -> None:
    """Runtime guard for ``statistics='none'`` (ADVICE r7):
    ``parquet.column.statistics.enabled`` exists only in parquet-mr
    >= 1.16 — an older bundled writer silently ignores the conf and
    keeps writing stats. Rather than probing a version string, read
    back ONE written footer (metadata-only, no data pages) and fail
    loudly if any column chunk still carries statistics."""
    if opts.statistics != "none":
        return
    import pyarrow.parquet as pq

    parts = _output_parquet_files(parquet_path)
    if not parts:  # empty dataset: nothing was written, nothing leaks
        return
    probe = parts[0]
    meta = pq.ParquetFile(probe).metadata
    for rg in range(meta.num_row_groups):
        row_group = meta.row_group(rg)
        for col in range(row_group.num_columns):
            if row_group.column(col).statistics is not None:
                raise RuntimeError(
                    "statistics='none' was requested but the bundled "
                    "parquet writer wrote column statistics anyway "
                    "(parquet.column.statistics.enabled needs "
                    f"parquet-mr >= 1.16); offending file: {probe}"
                )


def write_single_file(writer, out_path: str, part_glob: str) -> None:
    """One output FILE (not a directory) from a single-partition writer:
    write into a sibling tmp dir, move the part file over ``out_path``.
    Shared by the CSV→Parquet path and the format-extension sinks
    (formats.py re-implemented this dance until review r8)."""
    tmp = tempfile.mkdtemp(
        prefix="c2p_", dir=os.path.dirname(os.path.abspath(out_path)) or "."
    )
    try:
        writer.save(os.path.join(tmp, "out"))
        parts = glob.glob(os.path.join(tmp, "out", part_glob))
        if not parts:
            raise FileNotFoundError(
                f"single-file write produced no {part_glob!r} part under "
                f"{tmp!r} — unexpected sink behavior"
            )
        if os.path.isdir(out_path):
            shutil.rmtree(out_path)
        shutil.move(parts[0], out_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
