"""XML→Parquet conversion (engine extension; the reference is CSV-only —
`/root/reference/src/main.rs:48-54`).

Spark 4 ships a NATIVE XML data source (the former spark-xml package,
upstreamed), so the converter exposes the same contract for it: row-tag
addressed records, schema inference or explicit schema files, the W1-W9
parquet writer knobs, --dry/--print-schema banner, and the parse-mode
ladder. The scan is record-splittable on the row tag, so a large XML
corpus fans out per split like the CSV path (unlike multi-line JSON,
which is document-at-a-time).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from csv2parquet_spark.converter.convert import ConvertOptions


def xml_source(
    spark: SparkSession, xml_path: str, opts: ConvertOptions, row_tag: str = "row"
):
    """XML inference and frozen-schema scan for the converter front."""

    def infer() -> T.StructType:
        reader = spark.read.option("rowTag", row_tag)
        if opts.max_read_records is not None and opts.max_read_records >= 0:
            # For XML the record cap is EFFECTIVELY BINARY, documented as
            # such: the native inference knob is samplingRatio (a
            # fraction, not a record count), and mapping count→ratio needs
            # a total the engine doesn't have pre-parse. Any positive cap
            # therefore means "sampled inference at ratio 0.1" —
            # PROPORTIONAL cost, not an absolute bound, and (as with
            # Spark's own sampled JSON/CSV inference) a field that appears
            # only in unsampled records is absent from the schema and
            # silently dropped from the converted output; pass a schema
            # file for full coverage. None = full-pass inference. 0
            # (all-strings parity mode) ALSO samples: it only needs column
            # NAMES, and a full-pass parse purely to discover names made
            # "skip inference" the most expensive path on a multi-GB
            # corpus — the missed-rare-field tradeoff above applies to
            # names the same documented way.
            reader = reader.option("samplingRatio", "0.1")
            # The data loss above is otherwise SILENT at runtime: make
            # the sampled name/type discovery loud so users converting
            # sparse-field corpora know to pass a schema file.
            warnings.warn(
                "XML schema inference with --max-read-records samples at "
                "ratio 0.1; fields present only in unsampled records are "
                "dropped from the output. Pass --schema-file for full "
                "coverage.",
                UserWarning,
                stacklevel=2,
            )
        return reader.xml(xml_path).schema

    def scan(schema: T.StructType) -> DataFrame:
        return (
            spark.read.option("rowTag", row_tag)
            .option("mode", opts.parse_mode)
            .schema(schema)
            .xml(xml_path)
        )

    return infer, scan
