"""Binary tile encoding (X4/X5) and KeyValue assembly (X6).

The reference encodes aggregated features to bytes on RDD detours —
protobuf ``PointFeatures`` for the points path (``ProtobufTiles.java:30-52``)
and Mapbox Vector Tiles for the tiles path (``VectorTiles.java:34-86``) —
deliberately avoiding Java UDFs because Spark 2.3's ``byte[]`` wrapping was
slow (comments ``PointMapBuilder.java:83``, ``TileMapBuilder.java:163``).

The PySpark analogue of that decision is **Arrow-batched Python**: the
aggregated rows cross to Python once, in columnar batches, and come back as a
``binary`` column — no per-row pickling, no RDD hop. Points go through an
``arrow_udf``; tiles are sliced into bounded pixel runs in the JVM and joined
back per tile in one partition-local ``mapInArrow``
(:func:`encode_tiles_chunked`), so the encode adds no exchange and no grouped
stage. The MVT/protobuf wire formats themselves need libraries this project
does not depend on, so the byte layout here is a documented deterministic
stand-in (SURVEY.md §2.7: "byte exactness with the Java encoder is a
non-goal, structural equality is the contract"); ``decode_*`` inverses make
that structure testable.

Formats (all little-endian, lengths as uint32):

- point features (X4): ``b"PF1\\0" | n | n * (lat f64, lng f64, borYear i32,
  occCount i64)``
- vector tile (X5): ``b"VT1\\0" | nPixels | nPixels * (px i32, py i32, nF |
  nF * (borYear i32, occCount i64))`` — pixels carry their feature list just
  like the MVT layer carries per-pixel attributes {year: count}
  (``VectorTiles.java:57-77``).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

POINT_MAGIC = b"PF1\x00"
TILE_MAGIC = b"VT1\x00"


# --- pure-Python codecs (unit-testable without Spark) -----------------------


def encode_point_features_py(features: list) -> bytes:
    out = [POINT_MAGIC, struct.pack("<I", len(features))]
    for f in features:
        lat, lng, bor_year, occ = f["lat"], f["lng"], f["borYear"], f["occCount"]
        out.append(struct.pack("<ddiq", lat, lng, bor_year, occ))
    return b"".join(out)


def decode_point_features_py(blob: bytes) -> list[dict]:
    assert blob[:4] == POINT_MAGIC
    (n,) = struct.unpack_from("<I", blob, 4)
    off, res = 8, []
    for _ in range(n):
        lat, lng, bor_year, occ = struct.unpack_from("<ddiq", blob, off)
        off += 28
        res.append({"lat": lat, "lng": lng, "borYear": bor_year, "occCount": occ})
    return res


def encode_tile_py(pixels: list) -> bytes:
    out = [TILE_MAGIC, struct.pack("<I", len(pixels))]
    for p in pixels:
        feats = p["features"]
        out.append(struct.pack("<iiI", p["px"], p["py"], len(feats)))
        for f in feats:
            out.append(struct.pack("<iq", f["borYear"], f["occCount"]))
    return b"".join(out)


def decode_tile_py(blob: bytes) -> list[dict]:
    assert blob[:4] == TILE_MAGIC
    (n,) = struct.unpack_from("<I", blob, 4)
    off, res = 8, []
    for _ in range(n):
        px, py, nf = struct.unpack_from("<iiI", blob, off)
        off += 12
        feats = []
        for _ in range(nf):
            bor_year, occ = struct.unpack_from("<iq", blob, off)
            off += 12
            feats.append({"borYear": bor_year, "occCount": occ})
        res.append({"px": px, "py": py, "features": feats})
    return res


# --- vectorized (Arrow/numpy) encoder kernels --------------------------------
#
# The original encoders mapped a Python codec over every row: each tile's
# list<struct> crossed Arrow -> pandas as boxed dicts and was walked dict-by-
# dict through struct.pack — interpreted Python per FEATURE, the exact shape
# guide §4.2 says to replace with whole-batch native kernels. Both wire
# records are fixed-width (pixel header <iiI> = 12 B, feature <iq> = 12 B;
# point feature <ddiq> = 28 B), so a batch's entire body assembles as ONE
# numpy integer matrix whose row-major bytes ARE the packed records; the
# per-row work left is slicing bytes at record offsets. The columns arrive
# as `pyarrow.Array`s (an `arrow_udf` for points, `mapInArrow` for tiles:
# zero Python boxing — offsets + primitive child arrays) in byte-bounded
# batches (whale batches still close at arrow.maxBytesPerBatch), and the
# pure-Python codecs above stay as the unit-testable spec the kernels are
# pinned byte-identical to.


def _assert_no_nulls(arr, what: str):
    """Bad upstream data must fail LOUDLY (r11 advice #2): a null list
    would otherwise encode as a valid empty blob, and a null int field
    routes through float64 in ``to_numpy(zero_copy_only=False)`` and comes
    back as silent garbage bytes. ``null_count`` is a validity-bitmap
    popcount — O(n/8) bits, vectorized, negligible next to the encode."""
    if arr.null_count:
        raise ValueError(
            f"encoder input has {arr.null_count} null {what} value(s); "
            "the wire format has no null encoding — fix the upstream"
        )


def _np_field(struct_arr, name):
    field = struct_arr.field(name)
    _assert_no_nulls(field, f"struct field '{name}'")
    return field.to_numpy(zero_copy_only=False)


def _list_lengths(list_arr):
    """Per-row element counts of a ListArray as int64 (nulls -> 0)."""
    import numpy as np
    import pyarrow.compute as pc

    return (
        pc.fill_null(pc.list_value_length(list_arr), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )


def _exclusive_cumsum(counts):
    """[0, c0, c0+c1, ...] — offsets array one longer than ``counts``."""
    import numpy as np

    off = np.zeros(counts.shape[0] + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    return off


def _tile_body_records(pixels):
    """The 12-byte wire records of a flattened pixel StructArray as an
    (n_pixels + n_features) x 3 little-endian uint32 matrix: row-major
    ``tobytes()`` equals the body :func:`encode_tile_py` writes after its
    header. Pixel headers land at record index ``i + features_before(i)``;
    the feature records fill every other slot in flattened order."""
    import numpy as np
    import pyarrow.compute as pc

    px = _np_field(pixels, "px").astype("<i4")
    py = _np_field(pixels, "py").astype("<i4")
    feats_col = pixels.field("features")
    _assert_no_nulls(feats_col, "pixel features-array")
    nf = _list_lengths(feats_col)
    feats = pc.list_flatten(feats_col)
    bor = _np_field(feats, "borYear").astype("<i4")
    occ = _np_field(feats, "occCount").astype("<i8")

    n = px.shape[0]
    total = n + bor.shape[0]
    buf = np.empty((total, 3), dtype="<u4")
    hdr = np.arange(n, dtype=np.int64) + _exclusive_cumsum(nf)[:-1]
    buf[hdr, 0] = px.view("<u4")
    buf[hdr, 1] = py.view("<u4")
    buf[hdr, 2] = nf.astype("<u4")
    mask = np.ones(total, dtype=bool)
    mask[hdr] = False
    occ_u = occ.view("<u8")
    buf[mask, 0] = bor.view("<u4")
    buf[mask, 1] = (occ_u & np.uint64(0xFFFFFFFF)).astype("<u4")
    buf[mask, 2] = (occ_u >> np.uint64(32)).astype("<u4")
    return buf, nf


def _tile_run_bodies(run_arr):
    """One Arrow batch of pixel runs -> ``(body, off)``: the wire records of
    every run as one byte buffer, and each run's start offset in it (one
    entry longer than the batch). Consecutive runs are consecutive in
    ``body``, so the body of a tile whose runs share a batch is the single
    slice ``body[off[first]:off[last + 1]]``."""
    import pyarrow.compute as pc

    _assert_no_nulls(run_arr, "tile pixel-array")
    npx = _list_lengths(run_arr)
    buf, nf = _tile_body_records(pc.list_flatten(run_arr))
    pix_off = _exclusive_cumsum(npx)
    return memoryview(buf.tobytes()), (pix_off + _exclusive_cumsum(nf)[pix_off]) * 12


def _assemble_tiles(batches, keys: list[str]):
    """``mapInArrow`` body of :func:`encode_tiles_chunked`: a partition's
    pixel runs in, one ``(*keys, value)`` row per tile out.

    Every run row carries its tile's key columns, pixel count ``_npx``,
    run count ``_nrun`` and run index ``_idx``. The runs of a tile arrive
    consecutively (one Generate input row per tile), so a tile ends at its
    last run and its blob is ``TILE_MAGIC | u32(npx) | run bodies``. A tile
    may straddle Arrow batches: the open tile's body carries over as bytes
    (at most one tile's blob is ever held), and its key columns are read
    again from the row that closes it. The contiguity is checked, not
    trusted: a run index other than the next one expected, or a partition
    that ends inside a tile, raises."""
    import numpy as np
    import pyarrow as pa

    parts: list[bytes] = []  # body so far of the tile open at a batch boundary
    expect_next = 0  # run index the next row must carry
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        idx_col = batch.column("_idx")
        # explode_outer turns a null or empty run sequence into a null index
        _assert_no_nulls(idx_col, "tile run-index")
        body, off = _tile_run_bodies(batch.column("_run"))
        idx = idx_col.to_numpy().astype(np.int64)
        last = idx == batch.column("_nrun").to_numpy() - 1
        expect = np.empty(n, dtype=np.int64)
        expect[0] = expect_next
        expect[1:] = np.where(last[:-1], 0, idx[:-1] + 1)
        bad = np.flatnonzero(idx != expect)
        if bad.size:
            i = int(bad[0])
            raise ValueError(
                f"tile runs out of order: run {idx[i]} where run {expect[i]} "
                "was expected; a tile's runs must be consecutive in its partition"
            )
        ends = np.flatnonzero(last)
        starts = np.maximum(ends - idx[ends], 0)
        off, npx = off.tolist(), batch.column("_npx").to_pylist()
        values = []
        for s, e in zip(starts.tolist(), ends.tolist()):
            blob = [TILE_MAGIC, struct.pack("<I", npx[e]), *parts, body[off[s] : off[e + 1]]]
            values.append(b"".join(blob))
            parts = []
        if last[-1]:
            expect_next = 0
        else:
            parts.append(bytes(body[off[max(n - 1 - int(idx[-1]), 0)] :]))
            expect_next = int(idx[-1]) + 1
        if values:
            out = batch.select(keys).take(pa.array(starts))
            yield pa.RecordBatch.from_arrays(
                [*out.columns, pa.array(values, type=pa.binary())], names=[*keys, "value"]
            )
    if expect_next:
        raise ValueError(
            f"partition ended inside a tile: run {expect_next} never arrived; "
            "a tile's runs must be consecutive in its partition"
        )


_POINT_DT = None  # built lazily: numpy packed struct dtype of the PF1 record


def _encode_points_batch(features_arr):
    """One Arrow batch of point feature-arrays -> BinaryArray of PF1 blobs.
    The 28-byte <ddiq> record is a packed numpy structured dtype, so the
    whole batch's features serialize as one ``rec.tobytes()``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    global _POINT_DT
    if _POINT_DT is None:
        _POINT_DT = np.dtype(
            {
                "names": ["lat", "lng", "borYear", "occCount"],
                "formats": ["<f8", "<f8", "<i4", "<i8"],
                "offsets": [0, 8, 16, 20],
                "itemsize": 28,
            }
        )
    _assert_no_nulls(features_arr, "point feature-array")
    n = _list_lengths(features_arr)
    feats = pc.list_flatten(features_arr)
    rec = np.empty(len(feats), dtype=_POINT_DT)
    rec["lat"] = _np_field(feats, "lat")
    rec["lng"] = _np_field(feats, "lng")
    rec["borYear"] = _np_field(feats, "borYear").astype("<i4")
    rec["occCount"] = _np_field(feats, "occCount").astype("<i8")
    body = memoryview(rec.tobytes())
    off = _exclusive_cumsum(n) * 28
    blobs = [
        POINT_MAGIC + struct.pack("<I", int(n[i])) + bytes(body[off[i] : off[i + 1]])
        for i in range(n.shape[0])
    ]
    return pa.array(blobs, type=pa.binary())


# --- Spark operators --------------------------------------------------------


def encode_point_features(points: DataFrame, features_col: str = "features") -> DataFrame:
    """points-path rows -> (key, mapKey, value binary); X4 analogue."""

    @F.arrow_udf(BinaryType())
    def _enc(col):
        return _encode_points_batch(col)

    return points.withColumn("value", _enc(F.col(features_col))).drop(features_col)


def encode_tiles_chunked(
    tiles: DataFrame, tile_col: str = "tile", chunk: int = 16384
) -> DataFrame:
    """tiles-path rows -> (key, mapKey, z, x, y, value binary); X5 analogue,
    whale-safe: no row larger than one run ever crosses to Python.

    Every tile is sliced IN THE JVM into runs of at most ``chunk`` pixels,
    adapted to the tile's density: the real row-size driver is pixel
    ENTRIES (pixels x their features arrays — ~130 borYears per pixel at
    z<=2, where "16384 pixels" is a ~30-50MB row), so each tile gets
    ``chunk_elems / avg features-per-pixel`` pixels per run, clamped to
    [16, chunk]. The sequence explodes run INDEXES and each run's ``slice``
    is computed lazily per output row, so the whale tile exists once per
    in-flight row and is never copied whole (materialising every run up
    front was a BufferHolder.grow OOM at the 100x composed build's z<=2
    writes). A null tile still gets one run row (``explode_outer``, and
    ``_nrun`` is at least 1), so the encoder rejects it instead of a plain
    explode dropping it.

    One partition-local ``mapInArrow`` then encodes the runs and joins each
    tile's consecutive runs under ``TILE_MAGIC | u32(nPixels)``
    (:func:`_assemble_tiles`): no exchange, no grouped stage, one Python
    node. Two bounds hold: a run is at most ~``chunk_elems`` entries, and
    an Arrow batch closes at ``spark.sql.execution.arrow.maxBytesPerBatch``
    (set by ``get_session``) whatever its row count; the assembler holds at
    most one tile's blob across batches — irreducible, since the blob IS
    the result row.
    """
    from pyspark.sql.types import StructField, StructType

    keys = [c for c in tiles.columns if c != tile_col]
    schema = StructType(
        [tiles.schema[c] for c in keys] + [StructField("value", BinaryType())]
    )
    chunk_elems = 262144  # ~4-6MB runs at wire width
    runs = (
        tiles.withColumn("_npx", F.size(F.col(tile_col)))
        .withColumn(
            "_cpx",
            F.expr(
                f"least(CAST({chunk} AS INT), greatest(16, CAST({chunk_elems} DIV "
                f"greatest(1L, aggregate({tile_col}, 0L, (a, p) -> a + size(p.features)) "
                f"DIV greatest(1, size({tile_col}))) AS INT)))"
            ),
        )
        .withColumn("_nrun", F.expr("CAST((greatest(_npx, 1) - 1) DIV _cpx + 1 AS INT)"))
        .select(
            *keys,
            "_npx",
            "_cpx",
            "_nrun",
            F.col(tile_col),
            F.explode_outer(F.expr("sequence(0, _nrun - 1)")).alias("_idx"),
        )
        .select(
            *keys,
            "_npx",
            "_nrun",
            "_idx",
            F.expr(f"slice({tile_col}, _idx * _cpx + 1, _cpx)").alias("_run"),
        )
    )
    return runs.mapInArrow(lambda it: _assemble_tiles(it, keys), schema)


# --- oracle-side wire-format reconstruction (DuckDB SQL) --------------------
#
# The driver's hash gate needs a DuckDB twin for the binary encoders. Blobs
# themselves can't cross the dialect boundary, but their HEX transcription
# can: the Spark side emits md5(lower(hex(value))) over the REAL pandas-UDF
# encoder output, and the oracle rebuilds the same lowercase hex string from
# the documented little-endian wire format (module docstring above) with
# pure SQL — printf for the integer fields and explicit IEEE-754 bit math
# for the doubles. Exact for every normal double and +/-0; subnormals
# (|v| < 2.2e-308) would mis-encode, which lat/lng can never hit. This is
# the same move that turned multimodal_featurize driver-certifiable: a
# deterministic length-prefixed format makes byte output SQL-reconstructable.


def _le_hex(expr: str, nbytes: int) -> str:
    """printf little-endian lowercase hex of a non-negative integer SQL
    expression (DuckDB)."""
    fmt = "%02x" * nbytes
    args = ", ".join(f"(({expr}) // {256 ** i}) % 256" for i in range(nbytes))
    return f"printf('{fmt}', {args})"


def u32le_hex(expr: str) -> str:
    return _le_hex(f"CAST({expr} AS BIGINT)", 4)


def i32le_hex(expr: str) -> str:
    """Two's-complement int32, little-endian."""
    wrapped = f"(((CAST({expr} AS BIGINT)) % 4294967296 + 4294967296) % 4294967296)"
    return _le_hex(wrapped, 4)


def i64le_hex(expr: str) -> str:
    """Non-negative int64 (counts), little-endian."""
    return _le_hex(f"CAST({expr} AS BIGINT)", 8)


def f64_bits_ctes(cols: list[str], src: str, keep: list[str]) -> tuple[str, dict[str, str]]:
    """CTE chain reconstructing the IEEE-754 bit pattern of each double
    column in ``cols`` (from relation ``src``, carrying ``keep`` columns
    through), as exact integer math:

    - exponent: floor(log2|v|), then corrected by one step in either
      direction so that |v| / 2^e lands in [1, 2) — log2 alone is 1-ulp
      unreliable exactly at powers of two;
    - mantissa: (|v| / 2^e - 1) * 2^52 — division by a power of two and the
      subtraction are exact, so the rounded product is the exact 52-bit
      fraction;
    - assembled as two uint32 halves (no int64 sign-bit overflow).

    Returns (cte_sql_fragment, {col: hex_expr}) where hex_expr yields the
    8-byte little-endian lowercase hex of the double.
    """
    ks = ", ".join(keep + cols)
    er = {c: f"CASE WHEN {c} = 0 THEN 0 ELSE CAST(floor(log2(abs({c}))) AS BIGINT) END" for c in cols}
    f0 = f"SELECT {ks}, " + ", ".join(f"{er[c]} AS er_{c}" for c in cols) + f" FROM {src}"
    e = {
        c: (
            f"CASE WHEN {c} = 0 THEN 0 "
            f"WHEN abs({c}) / power(2.0, er_{c}) >= 2 THEN er_{c} + 1 "
            f"WHEN abs({c}) / power(2.0, er_{c}) < 1 THEN er_{c} - 1 "
            f"ELSE er_{c} END"
        )
        for c in cols
    }
    f1 = f"SELECT {ks}, " + ", ".join(f"{e[c]} AS e_{c}" for c in cols) + " FROM _f0"
    m = {
        c: (
            f"CASE WHEN {c} = 0 THEN 0 ELSE "
            f"CAST(round((abs({c}) / power(2.0, e_{c}) - 1) * 4503599627370496.0) AS BIGINT) END"
        )
        for c in cols
    }
    f2 = (
        f"SELECT {ks}, "
        + ", ".join(f"e_{c}" for c in cols)
        + ", "
        + ", ".join(f"{m[c]} AS m_{c}" for c in cols)
        + " FROM _f1"
    )
    hi = {
        c: (
            f"CASE WHEN {c} = 0 THEN 0 ELSE "
            f"(CASE WHEN {c} < 0 THEN 2147483648 ELSE 0 END) + (e_{c} + 1023) * 1048576 + m_{c} // 4294967296 END"
        )
        for c in cols
    }
    lo = {c: f"CASE WHEN {c} = 0 THEN 0 ELSE m_{c} % 4294967296 END" for c in cols}
    f3 = (
        f"SELECT {ks}, "
        + ", ".join(f"{hi[c]} AS hi_{c}, {lo[c]} AS lo_{c}" for c in cols)
        + " FROM _f2"
    )
    ctes = f"_f0 AS ({f0}),\n_f1 AS ({f1}),\n_f2 AS ({f2}),\n_f3 AS ({f3})"
    hexes = {c: f"({_le_hex(f'lo_{c}', 4)} || {_le_hex(f'hi_{c}', 4)})" for c in cols}
    return ctes, hexes


def to_key_values(df: DataFrame, family: str, qualifier: str) -> DataFrame:
    """X6: assemble the sink's (key, family, qualifier, value) shape
    (PointMapBuilder.java:97-110, TileMapBuilder.java:185-193)."""
    return df.select(
        "key",
        F.lit(family.replace(":", "_")).alias("family"),
        F.lit(qualifier).alias("qualifier"),
        "value",
    )
