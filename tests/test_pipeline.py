"""End-to-end pipeline tests on the synthetic occurrence fixture
(FIXTURES.md), covering ingest, stats/routing, both branch paths, the
binary encoders, and the pyramid roll-up equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_spark_sql_spark.config import MapConfiguration
from map_spark_sql_spark.plans import pipeline as P
from map_spark_sql_spark.plans import tiles as T

CFG = MapConfiguration(
    tiles_threshold=40, tile_size=512, tile_buffer_size=64, max_zoom=4, key_salt_modulus=10
)


def test_ingest_filters(occurrence_df):
    df = P.ingest(occurrence_df, CFG)
    # 4 rows violate the quality predicate (MapBuilder.java:160-164)
    assert df.count() == occurrence_df.count() - 4
    assert set(df.columns) == set(P.OCCURRENCE_COLUMNS)


def test_stats_and_threshold(occurrence_df):
    stats = P.map_key_stats(P.ingest(occurrence_df, CFG))
    rows = {r.mapKey: r.occCount for r in stats.collect()}
    # the ALL key counts every surviving record
    assert rows["0:0"] == occurrence_df.count() - 4
    # kingdomKey=1 fan-out separate from speciesKey
    assert "1:1" in rows and "1:500" in rows
    assert rows["1:500"] == 50
    large = {r.mapKey for r in P.keys_exceeding_threshold(stats, CFG).collect()}
    assert "0:0" in large and "1:500" in large
    assert "1:99" not in large


def test_routing_disjoint_and_broadcast(occurrence_df, plan_nodes):
    ing = P.ingest(occurrence_df, CFG)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), CFG)
    pts = P.route_points(ing, large)
    tls = P.route_tiles(ing, large)
    pk = {r.mapKey for r in pts.select("mapKey").distinct().collect()}
    tk = {r.mapKey for r in tls.select("mapKey").distinct().collect()}
    assert pk.isdisjoint(tk)
    assert pk | tk == {r.mapKey for r in P.map_key_stats(ing).select("mapKey").collect()}
    # J1/J2 must be broadcast joins, not shuffle joins
    joins = [n for n, _ in plan_nodes(tls, execute=False) if n.endswith("Join")]
    assert joins, "routing lost its join"
    assert set(joins) <= {"BroadcastHashJoin", "BroadcastNestedLoopJoin"}, joins


def test_points_path_schema_and_content(occurrence_df):
    ing = P.ingest(occurrence_df, CFG)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), CFG)
    out = P.points_path(P.route_points(ing, large), CFG)
    assert [f.name for f in out.schema.fields] == ["key", "mapKey", "features"]
    row = out.filter(F.col("mapKey") == "1:99").collect()[0]
    assert row.key.split(":", 1)[1] == "1:99"
    feats = {(f.lat, f.lng, f.borYear, f.occCount) for f in row.features}
    assert feats == {(-75.0, 30.0, 200003, 1), (0.5, 30.0, 200003, 1)}


def test_tiles_path_z0_totals(occurrence_df):
    ing = P.ingest(occurrence_df, CFG)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), CFG)
    routed = P.route_tiles(ing, large)
    t3 = P.tiles_path(routed, CFG, "EPSG:3857", 0)
    rows = t3.filter(F.col("mapKey") == "1:500").collect()
    # z0 3857: single tile, but date-line buffer duplicates may add addresses;
    # taxon 500 sits at lng=2.0 -> exactly one tile row
    assert len(rows) == 1
    tile = rows[0]
    assert (tile.z, tile.x, tile.y) == (0, 0, 0)
    total = sum(f.occCount for p in tile.tile for f in p.features)
    assert total == 50


def test_antarctic_subset(occurrence_df):
    ing = P.ingest(occurrence_df, CFG)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), CFG)
    routed = P.route_tiles(ing, large)
    # 3031 path must only see lat <= 1 (TileMapBuilder.java:59-62): the row at
    # lat=10 (key 0:0 view) is excluded, the -75/-88 rows survive
    t3 = P.tiles_path(routed.filter(F.col("mapKey") == "0:0"), CFG, "EPSG:3031", 2)
    total = sum(f.occCount for r in t3.collect() for p in r.tile for f in p.features)
    south_rows = ing.filter("decimalLatitude <= 1").count()
    assert total >= south_rows - 1  # buffer duplication can only add


def test_pyramid_derivation_equivalence(occurrence_df, tmp_path):
    """Rolling z from z+1 (``run_tile_family``) must equal recomputing z
    from base (``tiles_path``, the reference's per-zoom loop; SURVEY §4) at
    every zoom, in both world projections."""
    ing = P.ingest(occurrence_df, CFG)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), CFG)
    routed = P.route_tiles(ing, large).cache()
    for epsg in ("EPSG:3857", "EPSG:4326"):
        derived: dict[int, dict] = {}

        def write(zoom: int, df) -> None:
            derived[zoom] = {(r.key, r.x, r.y): r.tile for r in df.collect()}

        echo = str(tmp_path / epsg.replace(":", "_"))
        P.run_tile_family(routed, CFG, epsg, write, t1_echo_dir=echo)
        assert sorted(derived) == list(range(CFG.max_zoom + 1))
        for z, d in derived.items():
            recomputed = P.tiles_path(routed, CFG, epsg, z).collect()
            r_ = {(r.key, r.x, r.y): r.tile for r in recomputed}
            assert d, f"{epsg} zoom {z} is empty"
            assert d == r_, f"{epsg} zoom {z} mismatch"
    routed.unpersist()


def test_whale_guard_two_level_equals_one_level(occurrence_df, monkeypatch):
    """The z<=_WHALE_ZOOM two-level pixel-block aggregation (round-5
    verdict #4: one z1 collect_list buffer hit ~10M boxed structs and
    OOM'd the 8 GiB heap at the 100x rung) must produce BYTE-identical
    tiles to the one-level sort_array — blocks partition the pixelX range
    monotonically (including the NEGATIVE buffer-region px the date-line
    wrap produces), so block-sorted + within-block-sorted = globally
    sorted."""
    ing = P.ingest(occurrence_df, CFG)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), CFG)
    routed = P.route_tiles(ing, large).cache()
    for epsg, zoom in (("EPSG:3857", 1), ("EPSG:4326", 0), ("EPSG:3031", 2)):
        guarded = P.tiles_path(routed, CFG, epsg, zoom)
        monkeypatch.setattr(P, "_WHALE_ZOOM", -1)  # force one-level
        flat = P.tiles_path(routed, CFG, epsg, zoom)
        monkeypatch.undo()
        g = {(r.key, r.x, r.y): r.tile for r in guarded.collect()}
        f_ = {(r.key, r.x, r.y): r.tile for r in flat.collect()}
        assert g == f_, f"{epsg} z{zoom} mismatch"
    # negative buffer px actually exercised: z1 mercator has wrap buffers
    t3 = P.tiles_path(routed, CFG, "EPSG:3857", 1)
    pxs = [p.px for r in t3.collect() for p in r.tile]
    assert min(pxs) < 0, "fixture no longer exercises the buffer wrap"
    routed.unpersist()


def _pixels(tile) -> list[dict]:
    return [
        {"px": p.px, "py": p.py, "features": [f.asDict() for f in p.features]}
        for p in tile
    ]


def test_binary_encoders_roundtrip(occurrence_df):
    ing = P.ingest(occurrence_df, CFG)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), CFG)

    pts = P.points_path(P.route_points(ing, large), CFG)
    enc = T.encode_point_features(pts).collect()
    src = {r.mapKey: r.features for r in pts.collect()}
    for r in enc:
        decoded = T.decode_point_features_py(r.value)
        want = [f.asDict() for f in src[r.mapKey]]
        assert decoded == want

    t3 = P.tiles_path(P.route_tiles(ing, large), CFG, "EPSG:4326", 1)
    enc_t = T.encode_tiles_chunked(t3).collect()
    src_t = {r.key: r.tile for r in t3.collect()}
    for r in enc_t:
        assert T.decode_tile_py(r.value) == _pixels(src_t[r.key])

    # a tiny chunk forces real multi-run assembly; the blob must still be
    # byte-identical to the pure-Python spec
    chunked = {
        r.key: bytes(r.value) for r in T.encode_tiles_chunked(t3, chunk=3).collect()
    }
    spec = {k: T.encode_tile_py(_pixels(tile)) for k, tile in src_t.items()}
    assert chunked == spec and len(chunked) > 0


def test_chunked_encoder_runs_cross_arrow_batches(occurrence_df, spark):
    """Two rows per Arrow batch and three pixels per run: every tile of
    more than six pixels has its runs split across batches, so the
    assembler must carry an open tile's body from one batch to the next."""
    ing = P.ingest(occurrence_df, CFG)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), CFG)
    t3 = P.tiles_path(P.route_tiles(ing, large), CFG, "EPSG:3857", 4)
    src = {r.key: r.tile for r in t3.collect()}
    assert max(len(t) for t in src.values()) > 2 * 3, "no tile spans a batch"
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "2")
    try:
        got = {
            r.key: bytes(r.value)
            for r in T.encode_tiles_chunked(t3, chunk=3).collect()
        }
    finally:
        spark.conf.unset(key)
    assert got == {k: T.encode_tile_py(_pixels(t)) for k, t in src.items()}


def test_chunked_assembler_rejects_broken_contiguity():
    """The assembler trusts no run order: a run index other than the next
    one expected, and a partition that ends inside a tile, both raise
    instead of emitting a tile with missing or misplaced pixels."""
    import pyarrow as pa
    import pytest

    px = {"px": 1, "py": 2, "features": [{"borYear": 3, "occCount": 4}]}

    def batch(rows):
        key, npx, nrun, idx, run = zip(*rows)
        return pa.RecordBatch.from_pydict(
            {"key": list(key), "_npx": list(npx), "_nrun": list(nrun),
             "_idx": list(idx), "_run": list(run)}
        )

    ok = [batch([("a", 2, 2, 0, [px])]), batch([("a", 2, 2, 1, [px]), ("b", 1, 1, 0, [px])])]
    out = pa.Table.from_batches(list(T._assemble_tiles(iter(ok), ["key"])))
    assert out.column("key").to_pylist() == ["a", "b"]
    assert out.column("value").to_pylist() == [
        T.encode_tile_py([px, px]), T.encode_tile_py([px])
    ]
    skipped = [batch([("a", 3, 3, 0, [px]), ("a", 3, 3, 2, [px])])]
    with pytest.raises(ValueError, match="out of order"):
        list(T._assemble_tiles(iter(skipped), ["key"]))
    interleaved = [batch([("a", 2, 2, 0, [px]), ("b", 1, 1, 0, [px])])]
    with pytest.raises(ValueError, match="out of order"):
        list(T._assemble_tiles(iter(interleaved), ["key"]))
    truncated = [batch([("a", 2, 2, 0, [px])])]
    with pytest.raises(ValueError, match="partition ended inside a tile"):
        list(T._assemble_tiles(iter(truncated), ["key"]))


def test_zoom_write_encoder_plan_shape(occurrence_df, plan_nodes):
    """A zoom's encode is one partition-local Python node: no union of a
    small and a big branch, no grouped assembly stage, at a mid zoom and
    at a whale (z<=2) zoom alike."""
    ing = P.ingest(occurrence_df, CFG)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), CFG)
    routed = P.route_tiles(ing, large)
    for zoom in (4, 1):
        assert (zoom <= P._WHALE_ZOOM) == (zoom == 1)
        encoded = T.encode_tiles_chunked(P.tiles_path(routed, CFG, "EPSG:3857", zoom))
        names = [n for n, _ in plan_nodes(encoded, execute=True)]
        python = [
            n for n in names if "Python" in n or "InPandas" in n or "InArrow" in n
        ]
        assert python == ["MapInArrow"], (zoom, names)
        assert "Union" not in names and "FlatMapGroupsInPandas" not in names


def test_vectorized_tile_encoder_edge_values(spark):
    """The r11 numpy encoder kernel vs the pure-Python codec spec on the
    wire format's edge values: negative buffered pixel coords (two's
    complement i32), an occCount past 2^32 (i64 lo/hi split), and an
    empty features list (nf = 0 header with no feature records)."""
    tile = [
        {
            "px": -64,
            "py": -1,
            "features": [
                {"borYear": 202303, "occCount": 3},
                {"borYear": 5, "occCount": 2**33 + 7},
            ],
        },
        {"px": 0, "py": 511, "features": []},
    ]
    df = spark.createDataFrame(
        [("k", tile)],
        "key string, tile array<struct<px:int,py:int,"
        "features:array<struct<borYear:int,occCount:bigint>>>>",
    )
    got = bytes(T.encode_tiles_chunked(df).collect()[0]["value"])
    assert got == T.encode_tile_py(tile)
    assert T.decode_tile_py(got) == tile


def test_vectorized_encoders_raise_on_nulls(spark):
    """Null inputs must fail LOUDLY (r11 advice #2): the wire format has
    no null encoding, and without the guard a null list encoded as a valid
    empty blob while a null int field produced silent garbage bytes via
    the float64 to_numpy round-trip."""
    import pytest

    tile_schema = (
        "key string, tile array<struct<px:int,py:int,"
        "features:array<struct<borYear:int,occCount:bigint>>>>"
    )
    null_tile = spark.createDataFrame([("k", None)], tile_schema)
    null_field = spark.createDataFrame(
        [("k", [{"px": 1, "py": 2, "features": [{"borYear": None, "occCount": 3}]}])],
        tile_schema,
    )
    null_feats = spark.createDataFrame(
        [("k", [{"px": 1, "py": 2, "features": None}])], tile_schema
    )
    for bad in (null_tile, null_field, null_feats):
        # chunk=1 also covers the multi-run path
        for chunk in (16384, 1):
            with pytest.raises(Exception, match="null"):
                T.encode_tiles_chunked(bad, chunk=chunk).collect()
    null_points = spark.createDataFrame(
        [("k", None)],
        "mapKey string, features array<struct<lat:double,lng:double,"
        "borYear:int,occCount:bigint>>",
    )
    with pytest.raises(Exception, match="null"):
        T.encode_point_features(null_points).collect()


def test_blob_hex_oracle_builders():
    """The DuckDB wire-format reconstruction (plans/tiles.py hex builders)
    must transcribe exactly the bytes the Python codecs emit — this is the
    cross-engine contract behind the tiles/points_encode_blob_md5 hash
    gates. Exercises negative int32 (buffered pixel coords), zero and
    negative doubles, and the IEEE-754 bit math on arbitrary fractions."""
    import duckdb

    feats = [
        {"lat": 42.123456789, "lng": -179.9999, "borYear": 201501, "occCount": 7},
        {"lat": 0.0, "lng": 1.0, "borYear": 0, "occCount": 123456789012},
        {"lat": -0.015625, "lng": 128.0, "borYear": 99902, "occCount": 1},
    ]
    # the registry query sort_array()s features before encoding; mirror that
    feats.sort(key=lambda f: (f["lat"], f["lng"], f["borYear"], f["occCount"]))
    blob = T.encode_point_features_py(feats)
    con = duckdb.connect()
    rows = ", ".join(
        f"({f['lat']!r}, {f['lng']!r}, {f['borYear']}, {f['occCount']})" for f in feats
    )
    ctes, hx = T.f64_bits_ctes(["lat", "lng"], "src", keep=["borYear", "occCount"])
    got = con.execute(
        f"WITH src(lat, lng, borYear, occCount) AS (SELECT * FROM (VALUES {rows})),\n"
        f"{ctes}\n"
        f"SELECT '50463100' || {T.u32le_hex(str(len(feats)))} || string_agg("
        f"{hx['lat']} || {hx['lng']} || {T.i32le_hex('borYear')} || {T.i64le_hex('occCount')},"
        f" '' ORDER BY lat, lng) FROM _f3"
    ).fetchone()[0]
    assert got == blob.hex()

    pixels = [
        {"px": -64, "py": 575, "features": [{"borYear": 201501, "occCount": 3}]},
        {"px": 0, "py": 0, "features": [{"borYear": 0, "occCount": 1}, {"borYear": 5, "occCount": 2}]},
    ]
    tile_blob = T.encode_tile_py(pixels)
    prows = []
    for p in pixels:
        fh = "".join(
            con.execute(
                f"SELECT {T.i32le_hex(str(f['borYear']))} || {T.i64le_hex(str(f['occCount']))}"
            ).fetchone()[0]
            for f in p["features"]
        )
        prows.append((p["px"], p["py"], len(p["features"]), fh))
    vals = ", ".join(f"({px}, {py}, {nf}, '{fh}')" for px, py, nf, fh in prows)
    got_t = con.execute(
        f"WITH pix(lpx, lpy, nf, fh) AS (SELECT * FROM (VALUES {vals}))\n"
        f"SELECT '56543100' || {T.u32le_hex(str(len(pixels)))} || string_agg("
        f"{T.i32le_hex('lpx')} || {T.i32le_hex('lpy')} || {T.u32le_hex('nf')} || fh,"
        f" '' ORDER BY lpx, lpy) FROM pix"
    ).fetchone()[0]
    con.close()
    assert got_t == tile_blob.hex()


def test_materialize_rereads_without_a_job(occurrence_df, spark, tmp_path):
    """The barrier's re-read passes the schema it just wrote, so it adds no
    schema-inference job to the write's, and it reads back the schema a
    plain read infers."""
    sc = spark.sparkContext
    df = P.ingest(occurrence_df, CFG)
    jobs = {}
    for group, run in {
        "plain-write": lambda: df.write.mode("overwrite").parquet(str(tmp_path / "w")),
        "materialize-write": lambda: P.materialize(df, str(tmp_path / "m")),
    }.items():
        sc.setJobGroup(group, group)
        try:
            out = run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[group] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["materialize-write"] == jobs["plain-write"], jobs
    assert out.schema == spark.read.parquet(str(tmp_path / "m")).schema


def test_config_from_yaml(tmp_path):
    """Parse the reference's YAML layout (example.yml keys); infra keys
    ignored; zoom-16 int-addressing guard enforced."""
    from map_spark_sql_spark.config import MapConfiguration

    p = tmp_path / "cfg.yml"
    p.write_text(
        "appName: x\nsnapshotDirectory: hdfs://ignored\ntilesThreshold: 250000\n"
        "tileSize: 512\ntileBufferSize: 64\nmaxZoom: 12\n"
        "hbase:\n  keySaltModulus: 100\n  tableName: ignored\n"
    )
    cfg = MapConfiguration.from_yaml(str(p))
    assert (cfg.tiles_threshold, cfg.max_zoom, cfg.key_salt_modulus) == (250000, 12, 100)
    assert cfg.salt_width == 2

    p.write_text("maxZoom: 17\n")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MapConfiguration.from_yaml(str(p))


def test_run_pipeline_end_to_end(occurrence_df, spark, tmp_path):
    """The whole reference job on sf0.001: ingest -> route -> points write +
    2-zoom mercator pyramid writes; outputs re-readable with sink schema."""
    from map_spark_sql_spark.config import MapConfiguration
    from map_spark_sql_spark.plans.pipeline import run_pipeline

    cfg = MapConfiguration(
        tiles_threshold=3, max_zoom=1, key_salt_modulus=10,
        projections=("EPSG:3857",),
    )
    out = str(tmp_path / "pipe")
    layout = run_pipeline(occurrence_df, cfg, out)

    pts = spark.read.parquet(layout["points"])
    assert set(pts.columns) == {"key", "family", "qualifier", "value", "salt"}
    assert pts.count() > 0
    assert pts.filter("qualifier != 'features'").count() == 0

    z0 = spark.read.parquet(f"{layout['tiles/EPSG_3857']}/z0")
    z1 = spark.read.parquet(f"{layout['tiles/EPSG_3857']}/z1")
    assert z0.count() > 0 and z1.count() > 0
    assert z0.filter("family != 'EPSG_3857'").count() == 0
    # tile binary payloads decode (X5 inverse)
    from map_spark_sql_spark.plans.tiles import decode_tile_py

    blob = z0.select("value").first()[0]
    assert decode_tile_py(bytes(blob))


def _sink_digests(spark, root: str) -> dict[str, str]:
    """Order-independent content digest of every COMMITTED sink dir under
    ``root`` (leaf dirs carrying _SUCCESS), binary columns hex'd, rows and
    columns sorted — so two builds match iff their sink DATA matches,
    regardless of task file splits."""
    import hashlib
    import os

    digests = {}
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if "_SUCCESS" not in files or rel.split(os.sep)[0] == "_t1":
            continue
        df = spark.read.parquet(dirpath)
        cols = sorted(df.columns)
        rows = sorted(
            (
                tuple(
                    bytes(v).hex() if isinstance(v, (bytes, bytearray)) else v
                    for v in r
                )
                for r in df.select(*cols).collect()
            ),
            key=repr,  # total order even with NULLs
        )
        digests[rel] = hashlib.md5(repr(rows).encode()).hexdigest()
    return digests


def test_run_pipeline_kill_and_resume(occurrence_df, spark, tmp_path, monkeypatch):
    """r7 verdict ask #2: a build killed mid-pyramid resumes to a sink
    content-identical to an uninterrupted build, without rewriting the
    stages that had already committed."""
    import os

    import pytest

    import map_spark_sql_spark.sources.writers as W
    from map_spark_sql_spark.config import MapConfiguration
    from map_spark_sql_spark.plans.pipeline import run_pipeline

    cfg = MapConfiguration(
        tiles_threshold=3, max_zoom=2, key_salt_modulus=10,
        projections=("EPSG:3857", "EPSG:3031"),
    )
    ref_dir = str(tmp_path / "ref")
    run_pipeline(occurrence_df, cfg, ref_dir)
    ref = _sink_digests(spark, ref_dir)
    # 2 CRS x 3 zooms + points + ingested
    assert len(ref) == 8

    # interrupted build: the 3rd salted write (EPSG:3857 z1 — points and z2
    # have committed, the pyramid is mid-flight) dies
    out_dir = str(tmp_path / "resumable")
    orig = W.write_salted_sorted
    calls = {"n": 0}

    def dying_write(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected mid-pyramid kill")
        return orig(*args, **kwargs)

    monkeypatch.setattr(W, "write_salted_sorted", dying_write)
    with pytest.raises(RuntimeError, match="injected"):
        run_pipeline(occurrence_df, cfg, out_dir)
    monkeypatch.setattr(W, "write_salted_sorted", orig)

    # the torn build left the committed prefix + the surviving t1 echo:
    # the interleaved loop (r10) had echoed z1 (pruning z2's echo the
    # moment it landed, since sink z2 had committed) and died writing
    # sink z1 — so exactly the level being consumed survives, nothing
    # deeper, nothing shallower
    assert os.path.isfile(f"{out_dir}/points/_SUCCESS")
    assert os.path.isfile(f"{out_dir}/tiles/EPSG_3857/z2/_SUCCESS")
    assert not os.path.isdir(f"{out_dir}/tiles/EPSG_3031")
    assert os.path.isfile(f"{out_dir}/_t1/EPSG_3857/z1/_SUCCESS")
    assert not os.path.isdir(f"{out_dir}/_t1/EPSG_3857/z2")
    assert not os.path.isdir(f"{out_dir}/_t1/EPSG_3857/z0")

    committed = {
        p: os.path.getmtime(f"{out_dir}/{p}/_SUCCESS")
        for p in ("ingested", "points", "tiles/EPSG_3857/z2")
    }
    # resume economics (r9 advice #1): the resumed 3857 pyramid must not
    # re-derive echoes for the already-committed z2 — only z0 (derived
    # from the surviving z1 echo) is materialized; 3031 builds fresh
    import map_spark_sql_spark.plans.pipeline as P_

    echoed: list[str] = []
    orig_mat = P_.materialize

    def recording_mat(df, path):
        echoed.append(path)
        return orig_mat(df, path)

    monkeypatch.setattr(P_, "materialize", recording_mat)
    layout = run_pipeline(occurrence_df, cfg, out_dir, resume=True)
    monkeypatch.setattr(P_, "materialize", orig_mat)
    assert layout["tiles/EPSG_3031"].endswith("tiles/EPSG_3031")
    echoes_3857 = [p for p in echoed if "/_t1/EPSG_3857/" in p]
    assert echoes_3857 == [f"{out_dir}/_t1/EPSG_3857/z0"], echoes_3857

    # committed stages were SKIPPED, not rewritten
    for p, mtime in committed.items():
        assert os.path.getmtime(f"{out_dir}/{p}/_SUCCESS") == mtime, p
    # the resumed sink is content-identical to the uninterrupted build
    assert _sink_digests(spark, out_dir) == ref


def test_key_value_assembly(occurrence_df):
    ing = P.ingest(occurrence_df, CFG)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), CFG)
    pts = T.encode_point_features(P.points_path(P.route_points(ing, large), CFG))
    kv = T.to_key_values(pts, "EPSG:4326", "features")
    assert [f.name for f in kv.schema.fields] == ["key", "family", "qualifier", "value"]
    r = kv.first()
    assert r.family == "EPSG_4326" and r.qualifier == "features"
    assert isinstance(r.value, (bytes, bytearray))


def test_warn_low_zoom_heap_sizing_rule(occurrence_df, spark, tmp_path):
    """The z<=2 heap projection (SCALE.md round-7 'row bytes x concurrent
    tasks') computes from the z0 echo and warns iff the projected buffers
    cross half the driver heap."""
    import warnings

    import pytest

    from map_spark_sql_spark.config import MapConfiguration
    from map_spark_sql_spark.plans.pipeline import (
        _parse_mem_gib,
        run_tile_family,
        warn_low_zoom_heap,
    )

    assert _parse_mem_gib("20g") == 20.0
    assert _parse_mem_gib("16384m") == 16.0
    assert abs(_parse_mem_gib(str(1 << 30)) - 1.0) < 1e-9

    cfg = MapConfiguration(tiles_threshold=3, max_zoom=1, key_salt_modulus=10,
                           projections=("EPSG:3857",))
    ing = P.ingest(occurrence_df, cfg)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), cfg)
    routed = P.route_tiles(ing, large)
    echo = str(tmp_path / "echo")
    # the z0 echo is the family's last level, so the loop never prunes it
    run_tile_family(routed, cfg, "EPSG:3857", lambda zoom, df: None, t1_echo_dir=echo)

    # a generous heap stays quiet; a absurdly small one warns with the rule
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        need = warn_low_zoom_heap(spark, echo, cfg, heap_gib=64.0)
    assert need > 0.0
    with pytest.warns(UserWarning, match="SCALE.md round-7 sizing rule"):
        warn_low_zoom_heap(spark, echo, cfg, heap_gib=need * 1.5)

    # no echo -> no-op
    assert warn_low_zoom_heap(spark, str(tmp_path / "missing"), cfg) == 0.0


def test_whale_task_cap_env_validation(monkeypatch):
    """r8 advice #1: a malformed or non-positive SPARK_GRAFT_WHALE_TASKS
    falls back / clamps with a warning instead of raising at plan build."""
    import warnings

    from map_spark_sql_spark.plans.pipeline import _WHALE_TASK_CAP, _whale_task_cap

    monkeypatch.delenv("SPARK_GRAFT_WHALE_TASKS", raising=False)
    assert _whale_task_cap() == _WHALE_TASK_CAP

    monkeypatch.setenv("SPARK_GRAFT_WHALE_TASKS", "12")
    assert _whale_task_cap() == 12

    monkeypatch.setenv("SPARK_GRAFT_WHALE_TASKS", "banana")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _whale_task_cap() == _WHALE_TASK_CAP
    assert any("not an integer" in str(x.message) for x in w)

    monkeypatch.setenv("SPARK_GRAFT_WHALE_TASKS", "0")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _whale_task_cap() == 1
    assert any("not positive" in str(x.message) for x in w)


def test_prune_echo_level_semantics(tmp_path):
    """Round-9 incremental echo pruning: level z is deleted only when BOTH
    sink-z-committed (caller's precondition) and echo z-1 is itself
    committed; a torn chain keeps its deepest surviving level, and z0 is
    never pruned here (family cleanup owns it)."""
    import os

    from map_spark_sql_spark.plans.pipeline import _prune_echo_level

    echo = str(tmp_path / "echo")

    def mk(z, committed=True):
        d = os.path.join(echo, f"z{z}")
        os.makedirs(d, exist_ok=True)
        if committed:
            open(os.path.join(d, "_SUCCESS"), "w").close()

    # committed z5 with committed z4 below it -> pruned
    mk(5), mk(4)
    _prune_echo_level(echo, 5)
    assert not os.path.isdir(os.path.join(echo, "z5"))
    assert os.path.isdir(os.path.join(echo, "z4"))

    # z4's next level z3 is TORN (no _SUCCESS) -> z4 must survive
    mk(3, committed=False)
    _prune_echo_level(echo, 4)
    assert os.path.isdir(os.path.join(echo, "z4"))

    # once z3 commits, z4 goes
    open(os.path.join(echo, "z3", "_SUCCESS"), "w").close()
    _prune_echo_level(echo, 4)
    assert not os.path.isdir(os.path.join(echo, "z4"))

    # z0 and a None echo dir are no-ops
    mk(0)
    _prune_echo_level(echo, 0)
    assert os.path.isdir(os.path.join(echo, "z0"))
    _prune_echo_level(None, 5)


def test_interleaved_family_two_level_echo_peak(
    occurrence_df, spark, tmp_path, monkeypatch
):
    """r9 advice #3: run_tile_family must hold at most TWO echo levels on
    disk at any instant (the level just derived plus, until the prune that
    immediately follows, its parent) — measured after every echo write and
    at every sink write, not claimed. Content parity with the per-zoom
    recompute (tiles_path) is asserted on one level; the run_pipeline
    e2e/resume digests cover the rest."""
    import os

    cfg = MapConfiguration(
        tiles_threshold=3, tile_size=512, tile_buffer_size=64,
        max_zoom=4, key_salt_modulus=10,
    )
    ing = P.ingest(occurrence_df, cfg)
    large = P.keys_exceeding_threshold(P.map_key_stats(ing), cfg)
    routed = P.route_tiles(ing, large)
    echo = str(tmp_path / "echo")

    peak = {"n": 0}
    orig_mat = P.materialize

    def counting_mat(df, path):
        out = orig_mat(df, path)
        n = len([d for d in os.listdir(echo) if d.startswith("z")])
        peak["n"] = max(peak["n"], n)
        return out

    monkeypatch.setattr(P, "materialize", counting_mat)

    order: list[int] = []
    grabbed: dict[int, list] = {}

    def write(zoom: int, df) -> None:
        order.append(zoom)
        if zoom == 2:
            grabbed[zoom] = sorted(map(repr, df.collect()))
        else:
            assert df.count() >= 0
        # by write time the parent echo has been pruned: exactly this
        # level's echo remains
        levels = sorted(d for d in os.listdir(echo) if d.startswith("z"))
        assert levels == [f"z{zoom}"], (zoom, levels)

    P.run_tile_family(routed, cfg, "EPSG:3857", write, t1_echo_dir=echo)
    monkeypatch.setattr(P, "materialize", orig_mat)

    assert order == [4, 3, 2, 1, 0]  # O8: deepest first
    assert peak["n"] <= 2, peak["n"]
    want = sorted(map(repr, P.tiles_path(routed, cfg, "EPSG:3857", 2).collect()))
    assert grabbed[2] == want
