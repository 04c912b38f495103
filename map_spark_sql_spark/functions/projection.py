"""Global-pixel projections (U3).

Reimplements ``udf/GlobalPixelUDF.java:31-58``: (zoom, lat, lng) -> global
pixel ``struct<x:int, y:int>``, or NULL when the coordinate is not plottable
in the CRS. The reference delegates the math to the external
``org.gbif.maps:common`` lib (``GlobalPixelUDF.java:50-52``); we reimplement
the projections from their public definitions:

- **EPSG:3857** Web Mercator (1x1 tile at z0): standard slippy-map formulas;
  plottable iff |lat| <= 85.05112877980659 and |lng| <= 180.
- **EPSG:4326** plate carree (2x1 tiles at z0): linear lat/lng scaling;
  always plottable for |lat|<=90, |lng|<=180.
- **EPSG:3575** North-pole Lambert azimuthal equal-area, lon0=10degE (1x1):
  spherical polar-aspect LAEA (Snyder 1987 eq. 24-3/24-13 ff):
  ``rho = 2R*sin(pi/4 - lat/2)``, ``x = rho*sin(lng-lon0)``,
  ``y = -rho*cos(lng-lon0)``; the world square is the equatorial circle's
  bounding box [-R*sqrt(2), R*sqrt(2)]^2 (R cancels in pixel space).
  Plottable iff lat >= 0 (northern hemisphere).
- **EPSG:3031** Antarctic polar stereographic, lon0=0 (1x1): spherical
  south-polar-aspect stereographic (Snyder eq. 21-2 ff south case):
  ``rho = 2R*tan(pi/4 + lat/2)``, ``x = rho*sin(lng)``, ``y = rho*cos(lng)``;
  world square bounded by the equator circle [-2R, 2R]^2 (R cancels).
  Plottable iff lat <= 0 (the tile pipeline additionally pre-filters its
  input to lat <= 1, mirroring ``TileMapBuilder.java:59-62``).

Pixel convention: x grows east, y grows "down" (southward for 3857/4326;
away from lon0 for the polar CRSs); world pixel extent at zoom z is
``2^z * zzTilesHorizontal * tileSize`` wide and ``2^z * zzTilesVertical *
tileSize`` tall; fractional pixels floor to int (in-range coords are >= 0 so
floor == the reference's Java truncation, ``GlobalPixelUDF.java:53-54``);
the east/south world edge clamps to extent-1.

Implementation note: each formula is built once as a SQL string that is valid
in BOTH Spark SQL and DuckDB; the Spark factory wraps it in ``F.expr`` (still
fully Catalyst-native / codegen'd) and the oracle generator embeds the same
string — so the correctness harness compares two executions of the *same*
expression, not two hand-maintained translations.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# CRS -> (zzTilesHorizontal, zzTilesVertical) at zoom 0 (TileSchema.fromSRS
# semantics; FIXTURES.md §4: EPSG:4326 is 2x1, the others 1x1).
TILE_SCHEMAS = {
    "EPSG:3857": (1, 1),
    "EPSG:4326": (2, 1),
    "EPSG:3575": (1, 1),
    "EPSG:3031": (1, 1),
}

MAX_MERCATOR_LAT = 85.05112877980659
LAEA_LON0_DEG = 10.0  # EPSG:3575 central meridian


def world_extent(epsg: str, zoom: int, tile_size: int) -> tuple[int, int]:
    """(width, height) of the global pixel space in pixels."""
    zh, zv = TILE_SCHEMAS[epsg]
    return (1 << zoom) * zh * tile_size, (1 << zoom) * zv * tile_size


# ---------------------------------------------------------------------------
# dialect-shared formula strings
# ---------------------------------------------------------------------------


def plottable_sql(epsg: str, lat: str, lng: str) -> str:
    """Boolean SQL predicate: can (lat, lng) be plotted in this CRS?"""
    base = f"{lat} IS NOT NULL AND {lng} IS NOT NULL AND abs({lat}) <= 90 AND abs({lng}) <= 180"
    if epsg == "EPSG:3857":
        return f"({base} AND abs({lat}) <= {MAX_MERCATOR_LAT!r})"
    if epsg == "EPSG:4326":
        return f"({base})"
    if epsg == "EPSG:3575":
        return f"({base} AND {lat} >= 0)"
    if epsg == "EPSG:3031":
        return f"({base} AND {lat} <= 0)"
    raise ValueError(f"unsupported CRS: {epsg}")


def _xy_formulas(epsg: str, zoom: int, tile_size: int, lat: str, lng: str) -> tuple[str, str]:
    """Raw (unclamped) pixel-coordinate formulas, as dialect-shared SQL."""
    w, h = world_extent(epsg, zoom, tile_size)
    if epsg == "EPSG:3857":
        x = f"(({lng}) + 180.0) / 360.0 * {w}"
        y = f"(1.0 - ln(tan(pi()/4.0 + radians({lat})/2.0)) / pi()) / 2.0 * {h}"
    elif epsg == "EPSG:4326":
        x = f"(({lng}) + 180.0) / 360.0 * {w}"
        y = f"(90.0 - ({lat})) / 180.0 * {h}"
    elif epsg == "EPSG:3575":
        # rho normalized by R*sqrt(2) (the world half-extent) -> [0, 1]
        rho = f"(2.0 * sin(pi()/4.0 - radians({lat})/2.0) / sqrt(2.0))"
        d = f"radians(({lng}) - {LAEA_LON0_DEG!r})"
        x = f"(1.0 + {rho} * sin({d})) / 2.0 * {w}"
        y = f"(1.0 + {rho} * cos({d})) / 2.0 * {h}"
    elif epsg == "EPSG:3031":
        # rho normalized by 2R (the world half-extent) -> [0, 1]
        rho = f"(2.0 * tan(pi()/4.0 + radians({lat})/2.0) / 2.0)"
        d = f"radians({lng})"
        x = f"(1.0 + {rho} * sin({d})) / 2.0 * {w}"
        y = f"(1.0 - {rho} * cos({d})) / 2.0 * {h}"
    else:
        raise ValueError(f"unsupported CRS: {epsg}")
    return x, y


def global_pixel_xy_sql(epsg: str, zoom: int, tile_size: int, lat: str, lng: str) -> tuple[str, str]:
    """Clamped integer pixel coordinate formulas (NULL when not plottable)."""
    xf, yf = _xy_formulas(epsg, zoom, tile_size, lat, lng)
    w, h = world_extent(epsg, zoom, tile_size)
    p = plottable_sql(epsg, lat, lng)
    x = f"CASE WHEN {p} THEN CAST(least(greatest(floor({xf}), 0), {w - 1}) AS INTEGER) END"
    y = f"CASE WHEN {p} THEN CAST(least(greatest(floor({yf}), 0), {h - 1}) AS INTEGER) END"
    return x, y


# ---------------------------------------------------------------------------
# Spark Column factories
# ---------------------------------------------------------------------------


def plottable(epsg: str, lat: str, lng: str) -> Column:
    """Boolean Column: lat/lng given as column names or SQL fragments."""
    return F.expr(plottable_sql(epsg, lat, lng))


def global_pixel(epsg: str, zoom: int, tile_size: int, lat: str, lng: str) -> Column:
    """``struct<x:int, y:int>`` global pixel, NULL when not plottable.

    Mirrors the NULL-on-unplottable contract of ``GlobalPixelUDF.java:51-57``
    (consumed by the ``WHERE xy IS NOT NULL`` stage, ``TileMapBuilder.java:134``).
    """
    xs, ys = global_pixel_xy_sql(epsg, zoom, tile_size, lat, lng)
    p = plottable_sql(epsg, lat, lng)
    return F.expr(f"CASE WHEN {p} THEN named_struct('x', {xs}, 'y', {ys}) END")
