"""thisishappening_spark — a PySpark-native analytics engine.

A Spark-first implementation of the query and data-processing capabilities
of the reference app `warmlogic/thisishappening` (a single-node streaming
geo-event detector backed by PostgreSQL), re-architected for the Spark
execution model: declarative DataFrame/SQL plans optimized by Catalyst and
shuffle-conscious aggregation and join strategies.

Layout:
  session     SparkSession factory and its class-data-sharing archive
  sqlexpr     helpers for building Spark-SQL expression strings
  sources     parquet table readers and the derived tweets view
  functions   expression library (geo predicates, activity weights)
  operators   admission filter, ingest projection, dedup, similarity,
              text stats
  plans       parameterized recent-tweets query builders (the reference's
              query surface)
  registry    the query registry and its cross-engine determinism rules
  queries     the registered benchmark/correctness queries + SQL oracles
"""

from thisishappening_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
