"""http_datafusion_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of abduldjafar/http-datafusion.

The reference (read-only at /root/reference) is a config-driven
SQL-over-HTTP-APIs engine: a bespoke HTTP JSON table scan
(reference src/datasources.rs) plus the full relational surface of
Apache DataFusion 43 reachable through arbitrary SQL strings in
config.yaml (reference src/main.rs:42-45).

This package re-creates both layers Spark-first:

- the bespoke layer as driver-side HTTP JSON ingestion
  (:mod:`~http_datafusion_spark.sources.http_json`) and a Spark 4
  Python DataSource with page-per-partition parallel reads
  (:mod:`~http_datafusion_spark.sources.datasource`);
- the inherited relational layer via Spark SQL / Catalyst, verified
  query-by-query against a DuckDB oracle
  (:mod:`~http_datafusion_spark.plans`);
- beyond-reference LLM-data-pipeline operators (dedup, similarity
  search, text analysis, multimodal) in
  :mod:`~http_datafusion_spark.operators`, designed for 100 TB scale.

Importing the package gates zipimport's per-task archive re-reads in
Spark's Python workers (:mod:`~http_datafusion_spark.zipcache`).
"""

from http_datafusion_spark import zipcache
from http_datafusion_spark.config import Config, Pagination, Source, load_config
from http_datafusion_spark.errors import (
    ConfigError,
    EngineError,
    HttpError,
    IoError,
    QueryError,
)
from http_datafusion_spark.session import get_spark

zipcache.install()

__all__ = [
    "Config",
    "ConfigError",
    "EngineError",
    "HttpError",
    "IoError",
    "Pagination",
    "QueryError",
    "Source",
    "get_spark",
    "load_config",
]

__version__ = "0.1.0"
