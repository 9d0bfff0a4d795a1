"""dozer_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of getdozer/dozer.

The reference (/root/reference, Rust) is a single-process incremental CDC
dataflow engine: SQL -> DAG of changelog-in/changelog-out processors.
This package re-expresses the same capabilities Spark-first:

- batch/snapshot mode: tables are DataFrames, queries compile to vanilla
  DataFrame ops and let Catalyst optimize (predicate pushdown, column
  pruning, join selection, AQE) — things the reference does not have
  (SURVEY.md section 4.1: no classical optimizer in dozer).
- streaming/CDC mode: changelog DataFrames (__op/__txid/__seq) with
  retraction-aware operators in dozer_spark.streaming.

Layout:
    session.py    SparkSession factory with scale-oriented defaults
    types.py      dozer FieldType <-> Spark type mapping
    registry.py   table registry carrying primary-key metadata
    functions/    scalar function library (dozer dialect shims)
    operators/    relational operators (window/ttl/join/agg/set)
    plans/        SQL dialect -> DataFrame translation (TUMBLE/HOP/TTL/INTO)
    streaming/    changelog semantics, retracting operators, durable state
    storage/      TransactionalTable: the MERGE-by-PK sink + change feed
    ops/          large-scale pipeline ops: dedup, similarity, text, multimodal
"""

from dozer_spark.session import get_spark
from dozer_spark.registry import Catalog

__all__ = ["get_spark", "Catalog"]
__version__ = "0.1.0"
