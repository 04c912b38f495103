"""Pipeline configuration.

Mirrors the reference's YAML-bound config POJO
(``workflow/MapConfiguration.java:28-62``, ``src/main/resources/example.yml:14-31``)
as a plain dataclass. Field semantics:

- ``tiles_threshold``: map views with >= this many occurrences are routed to the
  tile-pyramid path; smaller views are served as raw point features
  (``MapBuilder.java:63``, prod 250_000 / example 100_000).
- ``tile_size`` / ``tile_buffer_size``: pixel geometry; buffer is the margin of a
  tile into which neighboring tiles' edge pixels are duplicated
  (``example.yml:18-24``; buffer = tileSize/8 in prod).
- ``max_zoom``: deepest pyramid level; int-pixel addressing is safe to zoom 16
  (``udf/TileXYUDF.java:65`` comment).
- ``key_salt_modulus``: number of salt buckets prefixed onto sink keys, aligning
  the final shuffle with the sink's partitioning (``MapBuilder.java:62``,
  ``SaltPrefixPartitioner.java:21-37``; prod 100, example 10).
- ``projections``: CRSs to build pyramids for (``TileMapBuilder.java:55-62``).
"""

from __future__ import annotations

from dataclasses import dataclass, field


DEFAULT_PROJECTIONS = ("EPSG:3857", "EPSG:4326", "EPSG:3575", "EPSG:3031")


@dataclass(frozen=True)
class MapConfiguration:
    tiles_threshold: int = 100_000
    tile_size: int = 512
    tile_buffer_size: int = 64
    max_zoom: int = 16
    key_salt_modulus: int = 10
    projections: tuple[str, ...] = field(default=DEFAULT_PROJECTIONS)

    @classmethod
    def from_yaml(cls, path: str) -> "MapConfiguration":
        """Load from the reference's YAML layout (``example.yml:14-31``):
        top-level ``tilesThreshold``/``tileSize``/``tileBufferSize``/
        ``maxZoom`` plus ``hbase.keySaltModulus``. Infra-only keys (HDFS
        paths, hive DB, ZK lock config) are accepted and ignored — our sinks
        are parquet directories passed to ``run_pipeline`` directly."""
        import yaml

        with open(path) as f:
            doc = yaml.safe_load(f) or {}
        kwargs = {}
        for yml_key, field_name in [
            ("tilesThreshold", "tiles_threshold"),
            ("tileSize", "tile_size"),
            ("tileBufferSize", "tile_buffer_size"),
            ("maxZoom", "max_zoom"),
        ]:
            if yml_key in doc:
                kwargs[field_name] = int(doc[yml_key])
        if isinstance(doc.get("hbase"), dict) and "keySaltModulus" in doc["hbase"]:
            kwargs["key_salt_modulus"] = int(doc["hbase"]["keySaltModulus"])
        if "projections" in doc:
            kwargs["projections"] = tuple(doc["projections"])
        cfg = cls(**kwargs)
        if cfg.max_zoom > 16:
            raise ValueError("maxZoom must be 16 or less (TileXYUDF.java:65 int limit)")
        return cfg

    @property
    def salt_width(self) -> int:
        """Digits in the zero-padded salt prefix: salt of modulus 100 -> '07'.

        Matches the fixed-width convention of the reference's ModulusSalt
        (used at ``workflow/PrepareBackfill.java:49-51``).
        """
        return len(str(self.key_salt_modulus - 1))
