"""uda_spark — a PySpark-native analytics engine with the data-processing
capabilities of Mellanox/UDA, re-expressed Spark-first.

The reference (/root/reference) is an RDMA shuffle-merge-reduce engine for
Hadoop MapReduce: partitioned MOF scan, RDMA exchange, k-way streaming
merge-sort, and a sorted-KV feed into the user reduce function
(SURVEY.md §2.1, O1–O19).  In Spark every one of those dataflow stages is a
built-in primitive driven from the DataFrame API; this package exposes them
as composable operators plus the relational surface, the UDA acceptance
workloads (terasort / sort / wordcount / dfsio / pi), and LLM-data-pipeline
extensions (dedup, similarity search, text analysis, multimodal columns)
designed for 100 TB scale.

Layout:
    session     — tuned SparkSession factory (shuffle/AQE/Arrow defaults)
    sources     — parquet table catalog for the test data layout
    operators   — kv / sort / agg / join / window / setops / dedup /
                  similarity / workloads
    functions   — portable (Spark == DuckDB) expression helpers: text,
                  hashing, vectors
    plans       — explain/partitioning introspection helpers
    streaming   — Structured Streaming variants of the batch operators
    queries     — the registered query suite checked against the DuckDB
                  oracle (driver contract in __spark_entry__.py)
"""

import sys

import pyspark.cloudpickle

from uda_spark.session import get_spark
from uda_spark.registry import all_specs, get_queries, get_oracles

# Kernels and data sources defined in this package are pickled by value,
# so Python workers run them without ``uda_spark`` importable, in every
# session, also one that never calls ``get_spark``.
pyspark.cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = ["get_spark", "all_specs", "get_queries", "get_oracles"]
__version__ = "0.1.0"
