from map_spark_sql_spark.sources.readers import load_table, register_views
from map_spark_sql_spark.sources.writers import write_salted_sorted

__all__ = ["load_table", "register_views", "write_salted_sorted"]
