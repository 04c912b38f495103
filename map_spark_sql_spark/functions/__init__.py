"""Native Catalyst expression factories.

Each factory returns a :class:`pyspark.sql.Column` built only from built-in
``pyspark.sql.functions`` — never a Python row-UDF — so every expression
participates in whole-stage codegen, constant folding, and predicate pushdown.
This is the engine's core divergence from the reference, whose five Java UDFs
(``udf/*.java``) break Spark 2.3 codegen at every call site (SURVEY.md §4 O9).
"""

from map_spark_sql_spark.functions.keys import (
    MAP_TYPES,
    map_keys,
    map_keys_sql,
    salted_key,
    salted_key_sql,
    stable_hash,
    stable_hash_sql,
)
from map_spark_sql_spark.functions.encode import (
    BOR_MAPPING,
    decode_bor,
    decode_bor_sql,
    decode_year,
    decode_year_sql,
    encode_bor_year,
    encode_bor_year_sql,
)
from map_spark_sql_spark.functions.projection import (
    TILE_SCHEMAS,
    global_pixel,
    plottable,
    plottable_sql,
)
from map_spark_sql_spark.functions.tiling import tile_addresses, tile_addresses_sql

__all__ = [
    "MAP_TYPES",
    "map_keys",
    "map_keys_sql",
    "salted_key",
    "salted_key_sql",
    "stable_hash",
    "stable_hash_sql",
    "BOR_MAPPING",
    "encode_bor_year",
    "encode_bor_year_sql",
    "decode_year",
    "decode_year_sql",
    "decode_bor",
    "decode_bor_sql",
    "TILE_SCHEMAS",
    "global_pixel",
    "plottable",
    "plottable_sql",
    "tile_addresses",
    "tile_addresses_sql",
]
