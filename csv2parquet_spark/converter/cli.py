"""``csv2parquet``-compatible argv shim (SURVEY.md §2.9).

Same option grammar as the reference CLI (`/root/reference/Readme.md:25-68`,
clap derive at `/root/reference/src/main.rs:45-119`), same defaults
(header=true, delimiter=',', dictionary=false), same stdout/stderr
contract for ``--dry`` / ``--print-schema``.

Usage: ``python -m csv2parquet_spark.converter.cli [OPTIONS] <CSV> <PARQUET>``
"""

from __future__ import annotations

import argparse
import os
import sys

from csv2parquet_spark.converter.convert import (
    CODECS,
    ConvertOptions,
    convert_input,
    input_format,
)


def _bool(v: str) -> bool:
    if v.lower() in {"true", "1", "yes"}:
        return True
    if v.lower() in {"false", "0", "no"}:
        return False
    raise argparse.ArgumentTypeError(f"invalid bool {v!r}")


def _columns(v: str | None) -> list[str] | None:
    """A ``COL[,COL...]`` flag value as its column names."""
    return [c.strip() for c in v.split(",") if c.strip()] if v else None


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="csv2parquet",
        description="Convert CSV files to Parquet (PySpark-native engine).",
    )
    p.add_argument("csv", metavar="CSV", help="Input CSV file")
    p.add_argument("parquet", metavar="PARQUET", help="Output parquet file")
    p.add_argument("-s", "--schema-file", default=None)
    p.add_argument("--max-read-records", type=int, default=None)
    p.add_argument("--header", type=_bool, default=True)
    p.add_argument("-d", "--delimiter", default=",")
    p.add_argument(
        "-c",
        "--compression",
        choices=CODECS,
        default=None,
    )
    # W2: mapped to parquet-mr's nearest knobs (writer version v2 /
    # dictionary toggle) — see ConvertOptions.encoding for residual gaps.
    p.add_argument(
        "-e",
        "--encoding",
        choices=[
            "plain", "rle", "bit-packed", "delta-binary-packed",
            "delta-length-byte-array", "delta-byte-array", "rle-dictionary",
        ],
        default=None,
    )
    p.add_argument("--data-pagesize-limit", type=int, default=None)
    p.add_argument("--dictionary-pagesize-limit", type=int, default=None)
    p.add_argument("--write-batch-size", type=int, default=None)
    p.add_argument("--max-row-group-size", type=int, default=None)
    # W10: applied as a post-write footer patch (parquet-mr exposes no
    # writer property; the field is footer-resident — see footer.py).
    p.add_argument("--created-by", default=None)
    p.add_argument("--dictionary", action="store_true", default=False)
    # W3: "none" disables column statistics (parquet-mr 1.16
    # parquet.column.statistics.enabled); chunk/page = writer default
    # (chunk/page distinction not separable in parquet-mr — documented).
    p.add_argument("--statistics", choices=["none", "chunk", "page"], default=None)
    p.add_argument("--max-statistics-size", type=int, default=None)
    p.add_argument(
        "--bloom-filter-columns", default=None, metavar="COL[,COL...]",
        help="engine extension: write parquet bloom filters for these "
        "columns (point-lookup data skipping; no reference counterpart)",
    )
    p.add_argument("-p", "--print-schema", action="store_true")
    p.add_argument("-n", "--dry", action="store_true")
    # Engine extension (not in the reference grammar): malformed-row
    # handling. Default FAILFAST = reference parity (main.rs:253).
    p.add_argument(
        "--parse-mode",
        choices=["FAILFAST", "PERMISSIVE", "DROPMALFORMED"],
        default="FAILFAST",
    )
    # Engine extension: input format. "auto" keys off the extension
    # (convert.input_format: .jsonl/.ndjson → JSONL; .json → multi-line
    # JSON documents/arrays; .xml → Spark 4's native XML source; .orc →
    # ORC; .parquet → Parquet recompress/re-encode rewrite; everything
    # else CSV); the reference grammar is CSV-only.
    p.add_argument(
        "--format",
        choices=["auto", "csv", "jsonl", "json", "xml", "orc", "parquet"],
        default="auto",
    )
    p.add_argument(
        "--xml-row-tag",
        default="row",
        help="record element name for --format xml (default: row)",
    )
    # Engine extension: output clustering for scan pruning (the
    # reference writes input order; useless row-group stats at scale).
    p.add_argument(
        "--sort-by", default=None, metavar="COL",
        help="engine extension: range-cluster the output on COL "
        "(tight row-group min/max stats; non-overlapping files in "
        "multi-file mode)",
    )
    p.add_argument(
        "--zorder-by", default=None, metavar="COL,COL[,COL]",
        help="engine extension: Morton/Z-order cluster the output on "
        ">=2 numeric columns so conjunctive range predicates prune row "
        "groups in every listed dimension",
    )
    p.add_argument(
        "--partition-by", default=None, metavar="COL[,COL...]",
        help="engine extension: hive-partitioned DIRECTORY output "
        "(one subdirectory per distinct value — the layout partition "
        "pruning and DPP read from); output is a directory, not a file",
    )
    p.add_argument(
        "--incremental-manifest", default=None, metavar="MANIFEST.json",
        help="engine extension: treat CSV as an input DIRECTORY and "
        "PARQUET as a dataset root; convert only files not yet recorded "
        "in the manifest (by size+mtime), writing each run under "
        "batch=<n>/ and committing the manifest atomically — the "
        "continuous-ingestion mode",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if len(args.delimiter) != 1:
        print("delimiter must be a single character", file=sys.stderr)
        return 2
    if args.sort_by and args.zorder_by:
        print("--sort-by and --zorder-by are mutually exclusive", file=sys.stderr)
        return 2
    if args.partition_by and (args.sort_by or args.zorder_by):
        print(
            "--partition-by is mutually exclusive with --sort-by/--zorder-by",
            file=sys.stderr,
        )
        return 2
    opts = ConvertOptions(
        header=args.header,
        delimiter=args.delimiter,
        schema_file=args.schema_file,
        max_read_records=args.max_read_records,
        compression=args.compression,
        dictionary=args.dictionary,
        data_pagesize_limit=args.data_pagesize_limit,
        dictionary_pagesize_limit=args.dictionary_pagesize_limit,
        write_batch_size=args.write_batch_size,
        max_row_group_size=args.max_row_group_size,
        max_statistics_size=args.max_statistics_size,
        statistics=args.statistics,
        bloom_filter_columns=_columns(args.bloom_filter_columns),
        encoding=args.encoding,
        created_by=args.created_by,
        print_schema=args.print_schema,
        dry=args.dry,
        parse_mode=args.parse_mode,
        sort_by=args.sort_by,
        zorder_by=_columns(args.zorder_by),
        partition_by=_columns(args.partition_by),
        single_file=not args.partition_by,
    )
    if args.incremental_manifest:
        if not os.path.isdir(args.csv):
            print(
                "--incremental-manifest requires the input to be a directory",
                file=sys.stderr,
            )
            return 2
        if args.format != "auto":
            print(
                "error: --incremental-manifest picks each file's format by "
                f"its extension; --format {args.format} is not supported there",
                file=sys.stderr,
            )
            return 2
        from csv2parquet_spark.converter.incremental import convert_incremental
        from csv2parquet_spark.session import get_spark

        res = convert_incremental(
            get_spark("csv2parquet-cli"),
            args.csv,
            args.parquet,
            args.incremental_manifest,
            opts,
            row_tag=args.xml_row_tag,
        )
        print(
            f"batch={res.batch} converted={len(res.converted)} "
            f"skipped={res.skipped}",
            file=sys.stderr,
        )
        return 0
    try:
        fmt = input_format(args.csv) if args.format == "auto" else args.format
    except ValueError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    from csv2parquet_spark.session import get_spark

    convert_input(
        get_spark("csv2parquet-cli"), fmt, args.csv, args.parquet, opts,
        row_tag=args.xml_row_tag,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
