"""Sinks.

The reference's sink is HBase bulk-load HFiles: rows keyed by a fixed-width
salt prefix are shuffled with a custom ``SaltPrefixPartitioner`` (one
partition per pre-split HBase region, ``SaltPrefixPartitioner.java:21-37``)
and sorted within each partition, as the HFile format requires
(``PointMapBuilder.java:93-116``, ``TileMapBuilder.java:181-200``, S7/X2/X3).

HBase itself is out of scope (SURVEY.md §2.1); the Spark-equivalent contract
we keep is **shuffle aligned to the sink**: ``repartition(modulus, salt)`` +
``sortWithinPartitions(key)`` + partitioned parquet. At 100 TB this matters
because it is the *only* full shuffle of the final stage and it replaces a
global sort — each salt bucket sorts independently and in parallel, exactly
like the reference's region-aligned HFile write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_salted_sorted(df: DataFrame, path: str, num_partitions: int) -> None:
    """Salt-partitioned, key-sorted parquet write (the HFile-shape sink):
    ``df``'s ``salt`` column is hashed into ``num_partitions`` partitions,
    each sorted by ``key``, overwriting ``path``. ``num_partitions`` is the
    salt cardinality the caller chose (the reference uses
    ``10^saltDigits`` partitions so each partition maps 1:1 onto an HBase
    region), never the session's shuffle width, so the sink layout does not
    depend on the session config.
    """
    (
        df.repartition(num_partitions, F.col("salt"))
        .sortWithinPartitions("key")
        .write.mode("overwrite")
        .parquet(path)
    )
