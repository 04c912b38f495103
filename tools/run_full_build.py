"""The composed full-build receipt (r6 verdict ask #1).

Runs the COMPLETE reference job — ``run_pipeline`` (plans/pipeline.py), the
analog of ``MapBuilder.run()`` (MapBuilder.java:88-127) +
``TileMapBuilder.generate()`` (TileMapBuilder.java:51-77): ingest ->
materialize -> map_key_stats -> threshold routing -> points branch
(A2 -> A6 -> X4 encode -> S7 salted sorted sink) + 4-CRS x 17-zoom tile
pyramids (each zoom derived from the one above through a parquet t1 echo,
t2/t3 -> X5 encode -> S7 sink per zoom) —
as ONE job at a scale rung, and records:

- wall-clock + peak process-tree RSS per stage (the receipt measures
  ``run_pipeline`` itself via its ``instrument`` hook, not a
  re-composition);
- hash gates at every stage boundary, checked from the bytes ON DISK
  against the existing DuckDB oracles (registry oracles where the build
  output matches them 1:1; routed variants built from the same SQL
  helpers where the build's J1 routing restricts the input);
- the S7 sink-shape receipt: per-directory file count == salt modulus and
  within-file key sortedness.

Usage: python tools/run_full_build.py [sf_dir] [out_dir] [tiles_threshold]
           [--resume] [--projections=EPSG:3857[,EPSG:4326,...]] [--gates=full|rung]
Env:   SPARK_GRAFT_CPUS (default 32), SPARK_DRIVER_MEMORY (default 8g).

``--projections`` restricts the build to a CRS subset (r8 verdict ask #1:
the 1000x rung composes ONE pyramid — a single CRS is the production-regime
analog; gates for absent projections are skipped). ``--gates=rung`` swaps
the corpus-sized collect gates for digest / sharded-digest equivalents (see
the gates section below) so the DuckDB twin survives the 1000x rung.

``--resume`` (r7 verdict ask #2): restart an interrupted build — sink dirs
that already carry ``_SUCCESS`` are skipped and an interrupted pyramid
re-derives from its surviving t1 echo levels (see run_pipeline docstring).
Stages whose outputs were fully reused report near-zero wall in the
receipt; the ``resume`` flag is recorded so the receipt is honest about
which stages were timed fresh. The G1-G7 gates always run from the bytes
on disk, so a resumed build is gated exactly as a fresh one.

``tiles_threshold`` defaults to the registry constant (1000, sized for the
sf0.01 harness). At the 100x rung every one of the 89 synthetic map keys
exceeds 1000, which would leave the points branch empty; pass the
reference's PRODUCTION threshold 250000 (``MapBuilder.java:63`` via
config.py) there — it routes 39 of the 89 views (8.7M fanned rows) to the
points branch and 50 to the tiles branch, so the composed receipt
exercises both. Threshold-dependent gate oracles are regenerated from the
queries.py factories at the chosen value.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

sys.path.insert(0, ".")

print = functools.partial(print, flush=True)


# --------------------------------------------------------------------------
# process-tree RSS sampling (driver JVM + python workers are children)
# --------------------------------------------------------------------------


def _proc_tree_rss_kib(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().split()
            ppid = int(parts[3])
            rss[pid] = int(parts[23]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            children.setdefault(ppid, []).append(pid)
        except (OSError, IndexError, ValueError):
            continue
    total, stack, seen = 0, [root_pid], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total


class RssSampler(threading.Thread):
    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.root = os.getpid()
        self.global_peak = 0
        self.stage_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()

    def run(self) -> None:
        while not self._stop.is_set():
            kib = _proc_tree_rss_kib(self.root)
            with self._lock:
                self.global_peak = max(self.global_peak, kib)
                self.stage_peak = max(self.stage_peak, kib)
            self._stop.wait(self.interval)

    def reset_stage(self) -> int:
        with self._lock:
            self.stage_peak = _proc_tree_rss_kib(self.root)
            return self.stage_peak

    def read_stage(self) -> int:
        with self._lock:
            return self.stage_peak


# --------------------------------------------------------------------------
# stage-boundary gates (disk bytes vs DuckDB oracles)
# --------------------------------------------------------------------------


def _normalize(rows, ndigits: int = 9):
    from tools.check_correctness import normalize

    return normalize(rows, ndigits)


def compare(name: str, sdf, oracle_sql: str, con, results: list) -> None:
    """check_correctness-identical compare: columns sorted by name, rows
    normalized + sorted, exact multiset equality."""
    t0 = time.perf_counter()
    try:
        srows = [tuple(r) for r in sdf.collect()]
        scols = list(sdf.columns)
        t_spark = time.perf_counter() - t0
        t0 = time.perf_counter()
        res = con.sql(oracle_sql)
        dcols = [d[0] for d in res.description]
        dtypes = [str(t).upper() for t in res.types]
        huge = [c for c, t in zip(dcols, dtypes) if "HUGEINT" in t]
        if huge:
            raise ValueError(f"oracle emits HUGEINT column(s) {huge}")
        drows = res.fetchall()
        t_duck = time.perf_counter() - t0
    except Exception as exc:  # noqa: BLE001
        results.append({"gate": name, "ok": False, "err": str(exc)[:500]})
        print(f"GATE FAIL {name}: {str(exc)[:500]}")
        return
    s_idx = [scols.index(c) for c in sorted(scols, key=str.lower)]
    d_idx = [dcols.index(c) for c in sorted(dcols, key=str.lower)]
    s_n = _normalize([tuple(r[i] for i in s_idx) for r in srows])
    d_n = _normalize([tuple(r[i] for i in d_idx) for r in drows])
    ok = s_n == d_n
    results.append(
        {
            "gate": name,
            "ok": ok,
            "rows": len(s_n),
            "spark_s": round(t_spark, 1),
            "duckdb_s": round(t_duck, 1),
        }
    )
    print(
        f"GATE {'PASS' if ok else 'FAIL'} {name}: {len(s_n)} rows "
        f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)"
    )


def compare_digest(name: str, sdf, oracle_sql: str, con, results: list) -> None:
    """Order-insensitive exact-integer digest compare for rung-sized gate
    outputs (the tools/check_map_at_scale.py convention): both engines
    reduce the full result to ONE (count, sum-of-two-md5-windows) row."""
    from tools.check_map_at_scale import digest_duck_sql, digest_spark

    t0 = time.perf_counter()
    try:
        cols = list(sdf.columns)
        s_n, s1, s2 = digest_spark(sdf).collect()[0]
        t_spark = time.perf_counter() - t0
        t0 = time.perf_counter()
        d_n, d1, d2 = con.sql(digest_duck_sql(oracle_sql, cols)).fetchone()
        t_duck = time.perf_counter() - t0
    except Exception as exc:  # noqa: BLE001
        results.append({"gate": name, "ok": False, "err": str(exc)[:500]})
        print(f"GATE FAIL {name}: {str(exc)[:500]}")
        return
    ok = (s_n, s1, s2) == (d_n, d1, d2)
    results.append(
        {
            "gate": name,
            "ok": ok,
            "rows": s_n,
            "digest": [s_n, s1, s2],
            "spark_s": round(t_spark, 1),
            "duckdb_s": round(t_duck, 1),
        }
    )
    print(
        f"GATE {'PASS' if ok else 'FAIL'} {name}: digest ({s_n}, {s1}, {s2}) vs "
        f"({d_n}, {d1}, {d2}) (spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)"
    )


def routed_t3_oracle(epsg: str, zoom: int, shard_filter: str = "") -> str:
    """tiles_* t3 counts oracle (queries._t3_query) restricted to the build's
    J1 routing (mapKey IN large) and, for EPSG:3031, the S4 lat<=1 subset.

    ``shard_filter`` (e.g. ``AND mapKey IN ('a','b')``) restricts the oracle
    to a key shard for the rung-scale sharded-digest gates (the
    check_map_at_scale playbook: per-key shards in fresh bounded DuckDB
    connections, digests summed)."""
    from map_spark_sql_spark import queries as Q
    from map_spark_sql_spark.functions import keys as K
    from map_spark_sql_spark.functions import projection as PJ
    from map_spark_sql_spark.functions import tiling as TL

    xs, ys = PJ.global_pixel_xy_sql(epsg, zoom, Q.TILE_SIZE, "lat", "lng")
    d_tiles = TL.tile_addresses_sql(epsg, zoom, Q.TILE_SIZE, Q.BUFFER, "px", "py", "duckdb")
    latf = "AND lat <= 1" if epsg == "EPSG:3031" else ""
    return Q._oracle(
        f"SELECT mapKey, x, y, nFeatures, occCount, "
        f"{K.salted_key_sql('mapKey', str(zoom), 'x', 'y', modulus=Q.SALT_MOD)} AS key FROM ("
        f"  SELECT mapKey, u.tileX AS x, u.tileY AS y, count(*) AS nFeatures,"
        f"         CAST(sum(occCount) AS BIGINT) AS occCount"
        f"  FROM ("
        f"    SELECT mapKey, px, py, borYear, occCount, unnest({d_tiles}) AS u FROM ("
        f"      SELECT mapKey, px, py, borYear, count(*) AS occCount FROM ("
        f"        SELECT mapKey, borYear, {xs} AS px, {ys} AS py FROM expl"
        f"        WHERE mapKey IN (SELECT mapKey FROM large) {latf} {shard_filter}"
        f"      ) a WHERE px IS NOT NULL GROUP BY mapKey, px, py, borYear"
        f"    ) b"
        f"  ) c GROUP BY mapKey, x, y"
        f") d"
    )


def routed_blob_oracle(epsg: str, zoom: int) -> str:
    """tiles_encode_blob_md5 oracle (queries._tile_blob_query) with the same
    J1 routing restriction the build applies."""
    from map_spark_sql_spark import queries as Q
    from map_spark_sql_spark.functions import keys as K
    from map_spark_sql_spark.functions import projection as PJ
    from map_spark_sql_spark.functions import tiling as TL
    from map_spark_sql_spark.plans import tiles as TBLOB

    xs, ys = PJ.global_pixel_xy_sql(epsg, zoom, Q.TILE_SIZE, "lat", "lng")
    d_tiles = TL.tile_addresses_sql(epsg, zoom, Q.TILE_SIZE, Q.BUFFER, "px", "py", "duckdb")
    family = epsg.replace(":", "_")
    latf = "AND lat <= 1" if epsg == "EPSG:3031" else ""
    feat_hex = f"{TBLOB.i32le_hex('borYear')} || {TBLOB.i64le_hex('occCount')}"
    pix_hex = (
        f"{TBLOB.i32le_hex('lpx')} || {TBLOB.i32le_hex('lpy')} || "
        f"{TBLOB.u32le_hex('nf')} || fh"
    )
    return Q._oracle(
        f""",
t1 AS (
  SELECT mapKey, px, py, borYear, count(*) AS occCount FROM (
    SELECT mapKey, borYear, {xs} AS px, {ys} AS py FROM expl
    WHERE mapKey IN (SELECT mapKey FROM large) {latf}
  ) a WHERE px IS NOT NULL GROUP BY mapKey, px, py, borYear),
feats AS (
  SELECT mapKey, px, py, count(*) AS nf,
         string_agg({feat_hex}, '' ORDER BY borYear) AS fh
  FROM t1 GROUP BY mapKey, px, py),
fan AS (
  SELECT mapKey, u.tileX AS x, u.tileY AS y, u.pixelX AS lpx, u.pixelY AS lpy, nf, fh
  FROM (SELECT mapKey, nf, fh, unnest({d_tiles}) AS u FROM feats) b),
tiles AS (
  SELECT mapKey, x, y, count(*) AS npx, CAST(sum(nf) AS BIGINT) AS tot_nf,
         string_agg({pix_hex}, '' ORDER BY lpx, lpy) AS ph
  FROM fan GROUP BY mapKey, x, y)
SELECT {K.salted_key_sql('mapKey', str(zoom), 'x', 'y', modulus=Q.SALT_MOD)} AS key,
       '{family}' AS family, 'tile' AS qualifier,
       md5('56543100' || {TBLOB.u32le_hex('npx')} || ph) AS blob_md5,
       CAST(8 + 12 * npx + 12 * tot_nf AS BIGINT) AS n_bytes
FROM tiles"""
    )


def routed_tile_size_oracle(epsg: str, zoom: int, shard_filter: str = "") -> str:
    """Byte-exact SIZE oracle for written tile blobs: per tile key,
    ``n_bytes = 8 + 12*npx + 12*tot_nf`` from the documented wire format
    (plans/tiles.py) — npx = pixels in the tile, tot_nf = feature entries.
    No hex-string reconstruction, so it stays cheap at rungs where the
    whale's z<=2 blob content oracle (GB-scale string_agg) is out of the
    verifier's reach; blob CONTENT is md5-gated at the 100x rung (G5) and
    via the r7 1000x sharded X5 receipt."""
    from map_spark_sql_spark import queries as Q
    from map_spark_sql_spark.functions import keys as K
    from map_spark_sql_spark.functions import projection as PJ
    from map_spark_sql_spark.functions import tiling as TL

    xs, ys = PJ.global_pixel_xy_sql(epsg, zoom, Q.TILE_SIZE, "lat", "lng")
    d_tiles = TL.tile_addresses_sql(epsg, zoom, Q.TILE_SIZE, Q.BUFFER, "px", "py", "duckdb")
    latf = "AND lat <= 1" if epsg == "EPSG:3031" else ""
    return Q._oracle(
        f""",
t1 AS (
  SELECT mapKey, px, py, borYear, count(*) AS occCount FROM (
    SELECT mapKey, borYear, {xs} AS px, {ys} AS py FROM expl
    WHERE mapKey IN (SELECT mapKey FROM large) {latf} {shard_filter}
  ) a WHERE px IS NOT NULL GROUP BY mapKey, px, py, borYear),
feats AS (
  SELECT mapKey, px, py, count(*) AS nf FROM t1 GROUP BY mapKey, px, py),
fan AS (
  SELECT mapKey, u.tileX AS x, u.tileY AS y, nf
  FROM (SELECT mapKey, px, py, nf, unnest({d_tiles}) AS u FROM feats) b)
SELECT {K.salted_key_sql('mapKey', str(zoom), 'x', 'y', modulus=Q.SALT_MOD)} AS key,
       CAST(8 + 12 * count(*) + 12 * sum(nf) AS BIGINT) AS n_bytes
FROM fan GROUP BY mapKey, x, y"""
    )


def compare_digest_sharded(
    name: str,
    sdf,
    oracle_fn,
    keys_with_load: dict[str, int],
    sf_dir: str,
    results: list,
    n_shards: int = 16,
) -> None:
    """Rung-scale gate compare: Spark digests the disk-derived result ONCE;
    the DuckDB twin runs per key-shard in a FRESH bounded connection
    (memory_limit + temp_directory — the check_tokenize/check_map
    verifier-ceiling playbook), and shard digests SUM to the one-shot
    digest. Shards are greedily balanced by per-key load with the heaviest
    key (the '0:0' whale — every record carries it) isolated.

    Both digest sums are compared mod 2**64 (r9 advice #4): Spark's
    one-shot ``sum(bigint)`` wraps silently at java-long overflow (each
    h1/h2 < 2**32, so past ~2**31 rows), while the Python shard
    accumulation is arbitrary-precision — reducing both sides to the same
    modulus keeps the convention exact at any rung. An EMPTY
    ``keys_with_load`` is a loud gate failure, not a crash (r9's 1000x
    run hit exactly this: a production threshold that routes zero views
    at the rung makes the gate vacuous — the threshold must be
    rung-scaled, see SCALE.md round-9)."""
    import heapq
    import tempfile

    import duckdb

    from tools.check_map_at_scale import digest_duck_sql, digest_spark

    if not keys_with_load:
        results.append(
            {
                "gate": name,
                "ok": False,
                "err": "no routed keys: the tiles threshold routes zero views "
                "at this rung — scale the threshold with the corpus "
                "(SCALE.md round-9 finding) instead of passing vacuously",
            }
        )
        print(f"GATE FAIL {name}: empty key set (rung-scale the threshold)")
        return

    t0 = time.perf_counter()
    try:
        cols = list(sdf.columns)
        s_n, s_s1, s_s2 = digest_spark(sdf).collect()[0]
    except Exception as exc:  # noqa: BLE001
        results.append({"gate": name, "ok": False, "err": str(exc)[:500]})
        print(f"GATE FAIL {name}: {str(exc)[:500]}")
        return
    t_spark = time.perf_counter() - t0
    print(f"  {name}: spark digest ({s_n}, {s_s1}, {s_s2}) in {t_spark:.1f}s")

    whale = max(keys_with_load, key=keys_with_load.get)
    rest = sorted(
        (k for k in keys_with_load if k != whale),
        key=keys_with_load.get,
        reverse=True,
    )
    n_bins = max(1, n_shards - 1)
    heap = [(0, i) for i in range(n_bins)]
    heapq.heapify(heap)
    shards: list[list[str]] = [[] for _ in range(n_bins)]
    for k in rest:
        load, i = heapq.heappop(heap)
        shards[i].append(k)
        heapq.heappush(heap, (load + keys_with_load[k], i))
    shards = [[whale]] + [s for s in shards if s]

    d_n = d_s1 = d_s2 = 0
    t_duck = 0.0
    try:
        for si, shard in enumerate(shards):
            quoted = ", ".join("'" + k.replace("'", "''") + "'" for k in shard)
            sql = oracle_fn(f"AND mapKey IN ({quoted})")
            t0 = time.perf_counter()
            con = duckdb.connect()
            con.execute("SET memory_limit='20GB'")
            con.execute(
                f"SET temp_directory='{tempfile.mkdtemp(prefix='duck_gate_')}'"
            )
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
            )
            n, s1, s2 = con.sql(digest_duck_sql(sql, cols)).fetchone()
            con.close()
            t_duck += time.perf_counter() - t0
            d_n += n or 0
            d_s1 += s1 or 0
            d_s2 += s2 or 0
            print(
                f"  {name}: shard {si} ({len(shard)} keys) n={n} "
                f"(cumulative duckdb {t_duck:.1f}s)"
            )
    except Exception as exc:  # noqa: BLE001
        results.append({"gate": name, "ok": False, "err": str(exc)[:500]})
        print(f"GATE FAIL {name}: {str(exc)[:500]}")
        return
    # same-modulus compare: Spark's bigint sum is exact-mod-2**64 via java
    # long wraparound (values ≡ true sum mod 2**64 in two's complement);
    # Python's % maps the signed wrap and the exact shard sum to one
    # canonical representative, so the compare stays exact at any row count
    m = 1 << 64
    ok = (s_n, (s_s1 or 0) % m, (s_s2 or 0) % m) == (
        d_n,
        d_s1 % m,
        d_s2 % m,
    )
    results.append(
        {
            "gate": name,
            "ok": ok,
            "rows": s_n,
            "digest": [s_n, s_s1, s_s2],
            "shards": len(shards),
            "spark_s": round(t_spark, 1),
            "duckdb_s": round(t_duck, 1),
        }
    )
    print(
        f"GATE {'PASS' if ok else 'FAIL'} {name}: digest ({s_n}, {s_s1}, {s_s2}) vs "
        f"shard-sum ({d_n}, {d_s1}, {d_s2}) over {len(shards)} shards "
        f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)"
    )


def decoded_tile_counts(spark, path: str):
    """Decode WRITTEN tile blobs back to the t3 counts shape: the gate then
    certifies projection + fan-out + aggregation + ENCODE + sink from the
    bytes on disk."""
    import pandas as pd

    from map_spark_sql_spark.plans.tiles import decode_tile_py

    df = spark.read.parquet(path).select("key", "value")

    def gen(it):
        for pdf in it:
            out = {"mapKey": [], "x": [], "y": [], "nFeatures": [], "occCount": [], "key": []}
            for key, blob in zip(pdf["key"], pdf["value"]):
                parts = key.split(":")
                # key = salt:mapKey(with ':'):z:x:y — parse from the end
                x, y = int(parts[-2]), int(parts[-1])
                map_key = ":".join(parts[1:-3])
                pixels = decode_tile_py(bytes(blob))
                nf = sum(len(p["features"]) for p in pixels)
                occ = sum(f["occCount"] for p in pixels for f in p["features"])
                out["mapKey"].append(map_key)
                out["x"].append(x)
                out["y"].append(y)
                out["nFeatures"].append(nf)
                out["occCount"].append(occ)
                out["key"].append(key)
            yield pd.DataFrame(out)

    return df.mapInPandas(
        gen, "mapKey string, x int, y int, nFeatures long, occCount long, key string"
    )


def blob_md5_view(spark, path: str):
    from pyspark.sql import functions as F

    return spark.read.parquet(path).select(
        "key",
        "family",
        "qualifier",
        F.md5(F.lower(F.hex("value"))).alias("blob_md5"),
        F.length("value").alias("n_bytes"),
    )


def sink_shape_receipt(out_dir: str, modulus: int) -> dict:
    """S7 shape: each sink dir has <= modulus part files (repartition(salt)
    can leave empty partitions unwritten) and keys are sorted within files."""
    import pyarrow.parquet as pq

    report = {}
    dirs = [os.path.join(out_dir, "points")]
    tiles_root = os.path.join(out_dir, "tiles")
    if os.path.isdir(tiles_root):  # absent in a --projections=none run
        for family in sorted(os.listdir(tiles_root)):
            for z in sorted(os.listdir(os.path.join(tiles_root, family))):
                dirs.append(os.path.join(tiles_root, family, z))
    sorted_files = checked = 0
    max_files = 0
    for d in dirs:
        parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
        max_files = max(max_files, len(parts))
        # spot-check sortedness on the largest file of each dir
        if parts:
            biggest = max(parts, key=lambda f: os.path.getsize(os.path.join(d, f)))
            keys = pq.read_table(os.path.join(d, biggest), columns=["key"])["key"].to_pylist()
            checked += 1
            if keys == sorted(keys):
                sorted_files += 1
    report["dirs"] = len(dirs)
    report["max_part_files"] = max_files
    report["modulus"] = modulus
    report["files_checked_sorted"] = f"{sorted_files}/{checked}"
    report["ok"] = max_files <= modulus and sorted_files == checked
    return report


def main() -> int:
    import duckdb

    from pyspark.sql import functions as F

    from map_spark_sql_spark import queries as Q
    from map_spark_sql_spark.config import MapConfiguration
    from map_spark_sql_spark.plans.pipeline import map_key_stats, run_pipeline
    from map_spark_sql_spark.session import get_session

    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    resume = "--resume" in flags
    projections = None  # None => MapConfiguration default (all four CRS)
    gates_mode = "full"
    for fl in flags:
        if fl.startswith("--projections="):
            val = fl.split("=", 1)[1]
            # "none" => points-only composed run (ingest -> stats -> route
            # -> points encode + salted sorted sink), no tile pyramids —
            # the r8 ask-#7 shape: the points branch composed and
            # disk-gated at a rung where a full pyramid exceeds the box
            projections = () if val in ("none", "") else tuple(val.split(","))
        elif fl.startswith("--gates="):
            gates_mode = fl.split("=", 1)[1]
            assert gates_mode in ("full", "rung"), gates_mode
    sf_dir = args[0] if len(args) > 0 else "/root/repo/.scratch/sf100x"
    out_dir = args[1] if len(args) > 1 else "/root/repo/.scratch/full_build_100x"
    threshold = int(args[2]) if len(args) > 2 else Q.TILES_THRESHOLD
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    # Registry constants (queries.py) so the existing oracles gate the
    # stage boundaries 1:1. The threshold may be overridden (docstring);
    # queries.py reads TILES_THRESHOLD at call time, so setting the module
    # global re-parameterizes every factory-built oracle below.
    Q.TILES_THRESHOLD = threshold
    cfg_kwargs = dict(tiles_threshold=threshold, key_salt_modulus=Q.SALT_MOD)
    if projections is not None:
        cfg_kwargs["projections"] = projections
    cfg = MapConfiguration(**cfg_kwargs)

    spark = get_session(
        app_name="full_build",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * int(cpus),
        # ~68 write actions in one session: bound what the listener retains
        # per action (plan-description strings were the composed run's heap
        # leak before the t1 localCheckpoint fix; these caps are defense in
        # depth for the harness).
        extra_conf={
            "spark.sql.maxPlanStringLength": "1000000",
            "spark.sql.ui.retainedExecutions": "25",
            # gate collects (G1 ingest echo, G4/G5 blob views) are
            # row-bounded but byte-heavy at rung scale; the rung-SIZED
            # result (G6 z16) is digest-compared, never collected
            "spark.driver.maxResultSize": "4g",
            # A cold pyramid build reaches the z<=7 whale writes carrying
            # every idle Python worker the 32-way deep-zoom Arrow encodes
            # ever spawned — each holding its peak pandas RSS (~2-2.6 GiB,
            # ~35 GiB of dead weight measured in the r11 kernel-OOM, twice,
            # box-exclusive the second time; the r10 RESUME survived the
            # same zooms only because its JVM and worker pool were fresh).
            # Recycling workers per task caps worker RSS at
            # concurrency x live-task need; spawn cost is ~0.1s/task,
            # noise against multi-minute encode stages. Cluster analogue:
            # long multi-stage jobs recycle executor python workers
            # (spark.python.worker.reuse=false) or rotate executors.
            "spark.python.worker.reuse": os.environ.get(
                "SPARK_GRAFT_PY_WORKER_REUSE", "false"
            ),
        },
    )
    sampler = RssSampler()
    sampler.start()

    stages: list[dict] = []

    @contextmanager
    def instrument(name: str):
        base = sampler.reset_stage()
        t0 = time.monotonic()
        print(f"STAGE {name}: start (rss {base // 1024} MiB)")
        yield
        wall = time.monotonic() - t0
        peak = sampler.read_stage()
        stages.append({"stage": name, "wall_s": round(wall, 1), "peak_rss_mib": peak // 1024})
        print(f"STAGE {name}: {wall:.1f}s, peak rss {peak // 1024} MiB")

    occ = Q.occurrence_df(spark, sf_dir)
    t_total = time.monotonic()
    layout = run_pipeline(occ, cfg, out_dir, instrument=instrument, resume=resume)
    total_wall = time.monotonic() - t_total
    print(f"BUILD DONE: {total_wall:.1f}s total, global peak rss "
          f"{sampler.global_peak // 1024} MiB; layout: {json.dumps(layout)}")

    # ---- stage-boundary gates, from the bytes on disk ----
    # ``rung`` mode (r8 verdict ask #1, for the 1000x rung): corpus-sized
    # collects become digests, and the tile gates run the sharded-oracle
    # playbook (per-mapKey shards in fresh bounded DuckDB connections,
    # digests summed) — the one-shot z16/z2 oracles exhaust the verifier's
    # allocator/commit-limit/disk one rung above 100x. Content-md5 blob
    # gates (G5) are a 100x-rung gate only: the whale's z2 blob content
    # oracle is a GB-scale string_agg; at the rung the z2 sink is gated
    # byte-exactly by SIZE per key (routed_tile_size_oracle) instead.
    con = duckdb.connect()
    if gates_mode == "rung":
        import tempfile as _tf

        con.execute("SET memory_limit='20GB'")
        con.execute(f"SET temp_directory='{_tf.mkdtemp(prefix='duck_main_')}'")
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    gates: list[dict] = []
    ing = spark.read.parquet(f"{out_dir}/ingested")

    # G1: the materialized ingest vs the registry S1/P1/P2 oracle (unmodified)
    g1 = ing.select(
        "datasetKey",
        "countryCode",
        "basisOfRecord",
        F.floor(F.col("decimalLatitude") * 10000).alias("lat_px"),
        F.floor(F.col("decimalLongitude") * 10000).alias("lng_px"),
        "year",
    )
    if gates_mode == "rung":
        # digest columns must be NULL-FREE (Spark concat_ws skips null
        # columns, DuckDB || nulls the whole canon — the RECEIPTS.md
        # digest-convention trap): year/countryCode can be null here, so
        # both sides coalesce every column to a sentinel string
        g1_cols = list(g1.columns)
        g1_nf = g1.select(
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\\N")).alias(c)
                for c in g1_cols
            ]
        )
        sel = ", ".join(
            f"coalesce(CAST({c} AS VARCHAR), '\\N') AS {c}" for c in g1_cols
        )
        compare_digest(
            "ingest(disk) ~digest~ occ_ingest_filter",
            g1_nf,
            f"SELECT {sel} FROM ({Q.ORACLES['occ_ingest_filter']}) _g1",
            con,
            gates,
        )
    else:
        compare("ingest(disk) == occ_ingest_filter", g1, Q.ORACLES["occ_ingest_filter"], con, gates)

    # G2/G3: stats + threshold keys from the materialized ingest
    stats = map_key_stats(ing)
    compare("stats(ingest@disk) == mapkeys_stats", stats, Q.ORACLES["mapkeys_stats"], con, gates)
    compare(
        "threshold(ingest@disk) == mapkeys_threshold",
        stats.filter(F.col("occCount") >= cfg.tiles_threshold),
        Q._oracle(f"SELECT mapKey, occCount FROM stats WHERE occCount >= {threshold}"),
        con,
        gates,
    )

    # G4: the WRITTEN points blobs vs the registry X4 wire-format oracle
    # (factory-regenerated so it carries the chosen threshold). The points
    # branch only carries BELOW-threshold views, so even at the 1000x rung
    # the per-key feature strings stay bounded by the threshold — the
    # content oracle remains in reach; rung mode digests it instead of
    # collecting (r8 ask #7: the points disk gate above 100x).
    _, points_blob_oracle = Q._points_blob_query()
    if gates_mode == "rung":
        compare_digest(
            "points blobs (disk) ~digest~ points_encode_blob_md5",
            blob_md5_view(spark, f"{out_dir}/points"),
            points_blob_oracle,
            con,
            gates,
        )
    else:
        compare(
            "points blobs (disk) == points_encode_blob_md5",
            blob_md5_view(spark, f"{out_dir}/points"),
            points_blob_oracle,
            con,
            gates,
        )

    # per-key routed load for shard balancing (rung mode): exploded rows
    # per above-threshold mapKey, from the stats already computed
    if gates_mode == "rung":
        routed_load = {
            r["mapKey"]: r["occCount"]
            for r in stats.filter(
                F.col("occCount") >= cfg.tiles_threshold
            ).collect()
        }

    if gates_mode == "rung":
        # Rung-mode tile gates run PER BUILT PROJECTION (r10 verdict ask
        # #4: the 300x second-CRS certification needs 4326's pyramid held
        # to the same z2-size + z16-decoded sharded digests as 3857's;
        # the oracles are already CRS-parameterized).
        for crs in cfg.projections:
            crs_dir = crs.replace(":", "_")
            # G5 (rung): WRITTEN z2 blob SIZES, byte-exact per key, sharded
            compare_digest_sharded(
                f"tiles {crs_dir}/z2 blob sizes (disk) ~digest~ routed size oracle",
                spark.read.parquet(f"{out_dir}/tiles/{crs_dir}/z2").select(
                    "key", F.length("value").alias("n_bytes")
                ),
                lambda sh, crs=crs: routed_tile_size_oracle(crs, 2, sh),
                routed_load,
                sf_dir,
                gates,
            )
            # G6 (rung): WRITTEN z16 blobs decoded back to t3 counts, sharded
            compare_digest_sharded(
                f"tiles {crs_dir}/z16 decoded (disk) ~digest~ routed t3 oracle",
                decoded_tile_counts(spark, f"{out_dir}/tiles/{crs_dir}/z16"),
                lambda sh, crs=crs: routed_t3_oracle(crs, 16, sh),
                routed_load,
                sf_dir,
                gates,
            )

    if "EPSG:3857" in cfg.projections and gates_mode != "rung":
        # G5: WRITTEN z2 mercator blobs (whale-guard zoom, derived
        # pyramid) vs the routed X5 wire-format oracle
        compare(
            "tiles EPSG_3857/z2 blobs (disk) == routed blob oracle",
            blob_md5_view(spark, f"{out_dir}/tiles/EPSG_3857/z2"),
            routed_blob_oracle("EPSG:3857", 2),
            con,
            gates,
        )

        # G6: WRITTEN z16 mercator blobs DECODED back to t3 counts vs the
        # routed t3 oracle (gates the base zoom the whole derived pyramid
        # hangs off). DIGEST-compared, not collected: the z16 result is
        # rung-sized (~3.2M rows / >1 GiB serialized at 100x — the first
        # full run of this gate tripped spark.driver.maxResultSize), exactly
        # the case the check_map_at_scale digest convention exists for: both
        # engines reduce to (count, sum(h1), sum(h2)) over the same
        # canonical row string and the harness transfer is O(1). At the
        # rung, the oracle side additionally shards per mapKey (the loop
        # above).
        compare_digest(
            "tiles EPSG_3857/z16 decoded (disk) ~digest~ routed t3 oracle",
            decoded_tile_counts(spark, f"{out_dir}/tiles/EPSG_3857/z16"),
            routed_t3_oracle("EPSG:3857", 16),
            con,
            gates,
        )

    # G7: WRITTEN z1 antarctic blobs decoded — covers the S4 lat<=1 subset
    # branch and a second CRS's derived pyramid
    if "EPSG:3031" in cfg.projections:
        compare(
            "tiles EPSG_3031/z1 decoded (disk) == routed t3 oracle",
            decoded_tile_counts(spark, f"{out_dir}/tiles/EPSG_3031/z1"),
            routed_t3_oracle("EPSG:3031", 1),
            con,
            gates,
        )

    shape = sink_shape_receipt(out_dir, cfg.key_salt_modulus)
    print(f"SINK SHAPE: {json.dumps(shape)}")

    receipt = {
        "sf_dir": sf_dir,
        "out_dir": out_dir,
        "cpus": int(cpus),
        "resume": resume,
        "gates_mode": gates_mode,
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        # the other half of the whale recipe (SCALE.md round-10 addendum):
        # heap sized for deep-zoom encode, z<=2 concurrency capped here
        "whale_tasks": os.environ.get("SPARK_GRAFT_WHALE_TASKS"),
        "config": {
            "tiles_threshold": cfg.tiles_threshold,
            "tile_size": cfg.tile_size,
            "tile_buffer_size": cfg.tile_buffer_size,
            "max_zoom": cfg.max_zoom,
            "key_salt_modulus": cfg.key_salt_modulus,
            "projections": list(cfg.projections),
        },
        "total_wall_s": round(total_wall, 1),
        "global_peak_rss_mib": sampler.global_peak // 1024,
        "stages": stages,
        "gates": gates,
        "sink_shape": shape,
    }
    with open(f"{out_dir}/receipt.json", "w") as f:
        json.dump(receipt, f, indent=1)
    print("RECEIPT " + json.dumps(receipt))
    spark.stop()
    return 0 if all(g["ok"] for g in gates) and shape["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
