from map_spark_sql_spark.plans.pipeline import (
    OCCURRENCE_COLUMNS,
    ingest,
    map_key_stats,
    keys_exceeding_threshold,
    points_path,
    route_points,
    route_tiles,
    run_tile_family,
    tiles_path,
)

__all__ = [
    "OCCURRENCE_COLUMNS",
    "ingest",
    "map_key_stats",
    "keys_exceeding_threshold",
    "points_path",
    "route_points",
    "route_tiles",
    "run_tile_family",
    "tiles_path",
]
