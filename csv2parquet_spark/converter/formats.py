"""Format extensions beyond the reference's CSV→Parquet dataflow.

The reference converts exactly one format pair (main.rs:49-54). A user
of this engine also gets the adjacent conversions a data-pipeline needs,
each the same narrow-only scan→write plan (no shuffle, embarrassingly
parallel at any scale):

* ORC / Parquet → Parquet (``columnar_source``) — self-describing
  inputs through the converter front (``convert.convert_input`` with
  ``fmt="orc"`` or ``"parquet"``).
* Parquet → CSV (``parquet_to_csv``) — the reverse trip; RFC-4180
  quoting, header on by default to mirror the CSV dialect defaults.
* Parquet/CSV → ORC (``to_orc``) — Spark's built-in columnar
  alternative sink (no extra packages needed).

The two sinks accept ``single_file`` for one-file output: coalesce(1),
then the converter's ``write_single_file`` rename. (The main converter
uses repartition(1) instead, so its CSV parse stays parallel.) Default
False (the multi-part 100 TB path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv2parquet_spark.converter.convert import ConvertOptions, read_csv
from csv2parquet_spark.converter.convert import write_single_file as _write_single_file


def parquet_to_csv(
    spark: SparkSession,
    parquet_path: str,
    csv_path: str,
    header: bool = True,
    delimiter: str = ",",
    single_file: bool = False,
) -> DataFrame:
    """Parquet → CSV, the reference dataflow reversed. RFC-4180 quoting
    (doubled-quote escape) to round-trip what the CSV reader accepts."""
    df = spark.read.parquet(parquet_path)
    writer = (
        (df.coalesce(1) if single_file else df)
        .write.mode("overwrite")
        .format("csv")
        .option("header", header)
        .option("sep", delimiter)
        .option("escape", '"')
    )
    if single_file:
        _write_single_file(writer, csv_path, "part-*.csv")
    else:
        writer.save(csv_path)
    return df


def to_orc(
    spark: SparkSession,
    in_path: str,
    orc_path: str,
    in_format: str = "parquet",
    single_file: bool = False,
) -> DataFrame:
    """Parquet/CSV → ORC via Spark's built-in ORC sink."""
    if in_format == "parquet":
        df = spark.read.parquet(in_path)
    elif in_format == "csv":
        # The engine's canonical CSV read: FAILFAST parity + the
        # arrow-lattice inference — the previous Spark-native
        # inferSchema/PERMISSIVE read silently nulled malformed cells
        # and produced a DIFFERENT schema than convert() for the same
        # file (review r8).
        df = read_csv(spark, in_path, ConvertOptions())
    else:
        raise ValueError(f"unsupported input format {in_format!r}")
    writer = (df.coalesce(1) if single_file else df).write.mode("overwrite").format(
        "orc"
    )
    if single_file:
        _write_single_file(writer, orc_path, "part-*.orc")
    else:
        writer.save(orc_path)
    return df


def columnar_source(
    spark: SparkSession, in_path: str, opts: ConvertOptions, fmt: str = "orc"
):
    """Self-describing columnar input (ORC, or Parquet itself) for the
    converter front: the footer carries the schema, so "inference" is a
    metadata read and ``max_read_records`` matters only at 0. A schema
    file, or the all-Utf8 rule, reaches the data as casts."""
    df = spark.read.format(fmt).load(in_path)

    def scan(schema: T.StructType) -> DataFrame:
        if schema == df.schema:
            return df
        return df.select([
            F.col("`" + f.name.replace("`", "``") + "`").cast(f.dataType).alias(f.name)
            for f in schema
        ])

    return (lambda: df.schema), scan
