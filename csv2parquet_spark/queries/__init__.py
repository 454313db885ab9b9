"""DuckDB-oracle-checked query registry (the driver t2 contract).

Importing this package registers every query module's entries into
``REGISTRY`` in registration order: module import order below, then
definition order within a module. ``__spark_entry__.py`` re-exports
them as ``queries()`` / ``oracle_sql()``.
"""

from csv2parquet_spark.queries.registry import REGISTRY, register

# Import for side effect: each module registers its queries.
from csv2parquet_spark.queries import relational  # noqa: E402,F401
from csv2parquet_spark.queries import scalar_funcs  # noqa: E402,F401
from csv2parquet_spark.queries import llm_ops  # noqa: E402,F401
from csv2parquet_spark.queries import windows  # noqa: E402,F401
from csv2parquet_spark.queries import streaming_batch  # noqa: E402,F401
from csv2parquet_spark.queries import advanced  # noqa: E402,F401
from csv2parquet_spark.queries import tpch_extra  # noqa: E402,F401
from csv2parquet_spark.queries import tpch_more  # noqa: E402,F401
from csv2parquet_spark.queries import hygiene  # noqa: E402,F401
from csv2parquet_spark.queries import linalg_q  # noqa: E402,F401
from csv2parquet_spark.queries import sketches_q  # noqa: E402,F401
from csv2parquet_spark.queries import timeseries  # noqa: E402,F401
from csv2parquet_spark.queries import text_index  # noqa: E402,F401
from csv2parquet_spark.queries import operational  # noqa: E402,F401
from csv2parquet_spark.queries import corpus_extra  # noqa: E402,F401
from csv2parquet_spark.queries import mlmetrics  # noqa: E402,F401
from csv2parquet_spark.queries import scanopt  # noqa: E402,F401
from csv2parquet_spark.queries import order_stats  # noqa: E402,F401

__all__ = ["REGISTRY", "register"]
