"""Reference-parity CSV→Parquet converter (SURVEY.md §2.1, O1-O6 + W1-W10).

The reference (`/root/reference/src/main.rs`) is a single-file Rust CLI:
CSV scan → schema resolve → Parquet sink. Here the same surface is one
declarative Spark plan: ``spark.read.csv`` → ``df.write.parquet`` —
embarrassingly parallel, no shuffle anywhere (SURVEY §3 "Spark
lifecycle"). Every other input format goes through the same front
(``convert.convert_input``).
"""

from csv2parquet_spark.converter.convert import (
    convert,
    convert_input,
    ConvertOptions,
    read_input,
    write_parquet,
)
from csv2parquet_spark.converter.schema_json import (
    arrow_json_to_struct,
    struct_to_arrow_json,
)
from csv2parquet_spark.converter.inference import infer_schema

__all__ = [
    "convert",
    "convert_input",
    "read_input",
    "write_parquet",
    "ConvertOptions",
    "arrow_json_to_struct",
    "struct_to_arrow_json",
    "infer_schema",
]
