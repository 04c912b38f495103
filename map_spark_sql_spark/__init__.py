"""map_spark_sql_spark — a PySpark-native analytics engine.

A from-scratch reimplementation of the capabilities of the reference
``timrobertson100/map-spark-sql`` (a Java Spark 2.3 batch job that builds the
GBIF occurrence-map tile pyramid), re-expressed as idiomatic PySpark:

- every reference UDF (mapKeys, encodeBorYear, project, collectToTiles,
  hbaseKey) is a **native Catalyst Column expression factory** — no Python
  row-UDFs on the hot path, so whole-stage codegen and AQE apply end-to-end;
- the pipeline (ingest -> stats/routing -> points | tiles -> encode ->
  salted sorted write) is declarative DataFrame code;
- binary encoding (the reference's RDD detours) is Arrow-batched: an
  ``arrow_udf`` for point features and one partition-local ``mapInArrow``
  for tiles, each producing a ``binary`` column;
- north-star extensions (dedup, similarity search, text analysis, multimodal
  columns) live in :mod:`map_spark_sql_spark.operators`.

Design notes are in README.md; operator-by-operator parity citations
(reference file:line) are in each module's docstrings.
"""

from map_spark_sql_spark.config import MapConfiguration
from map_spark_sql_spark.session import get_session

__all__ = ["MapConfiguration", "get_session"]

__version__ = "0.1.0"
