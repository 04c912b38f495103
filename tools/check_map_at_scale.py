"""Reference-parity map families at scale rungs past the collect ceiling.

The r6 verdict's ask #2: the 1000x rung (100M events -> ~94M derived
occurrence rows, the sandbox analog of the reference's 2.5B-row regime,
``MapBuilder.java:166``) skipped mapkeys/t1/tiles/salted-keys/blob. Two
verification modes close it:

- ``collect``: the driver-identical collect + normalize + multiset compare
  (tools/check_correctness.py), for queries whose OUTPUT is small (stats,
  salted keys, routes, z2 blobs) even when the compute is 1.2B fanned rows.
- ``digest``: for queries whose output is itself rung-sized (t1 roll-ups,
  z16 tile counts — hundreds of millions of rows that no harness should
  collect), BOTH engines reduce the full result to ONE row:
  ``(count, sum(h1), sum(h2))`` where h1/h2 are two independent 32-bit
  windows of the dialect-shared md5 over the canonical '|'-joined row
  string (the stable_hash convention of functions/keys.py). Order-
  insensitive, exact-integer (2^32 x 5x10^8 rows < 2^63 — no overflow),
  collision odds ~2^-64 per differing multiset; the harness transfer is
  O(1) instead of O(rows). The semantics checked are IDENTICAL to the
  collect gate: same query SQL on both sides, reduced by the same digest.

Usage: python tools/check_map_at_scale.py [sf_dir] [query ...]
Queries: mapkeys_stats, points_salted_keys, route_tiles_semi (collect);
         tiles_encode_blob_md5 (collect, heavy);
         t1_mercator_z4, tiles_mercator_z16 (digest, heavy);
         tiles_mercator_z16_sharded (digest vs per-mapKey sharded DuckDB
         twin — the 1000x form, where the one-shot oracle spills the
         verifier's disk).
"""

from __future__ import annotations

import functools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

print = functools.partial(print, flush=True)

DIGEST = {"t1_mercator_z4", "tiles_mercator_z16"}
DEFAULT = [
    "mapkeys_stats",
    "points_salted_keys",
    "route_tiles_semi",
    "tiles_encode_blob_md5",
    "t1_mercator_z4",
    "tiles_mercator_z16",
]


def digest_spark(sdf):
    from pyspark.sql import functions as F

    canon = F.concat_ws("|", *[F.col(c).cast("string") for c in sdf.columns])
    h1 = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(F.md5(canon), 9, 8), 16, 10).cast("bigint")
    return sdf.select(h1.alias("h1"), h2.alias("h2")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("h1").alias("s1"),
        F.sum("h2").alias("s2"),
    )


def digest_duck_sql(oracle_sql: str, cols: list[str]) -> str:
    canon = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST('0x' || substr(md5({canon}), 1, 8) AS BIGINT)) AS BIGINT) AS s1,
       CAST(sum(CAST('0x' || substr(md5({canon}), 9, 8) AS BIGINT)) AS BIGINT) AS s2
FROM ({oracle_sql}) _q
"""


def blob_gate_sharded(spark, con, sf_dir: str, n_batches: int = 12) -> bool:
    """tiles_encode_blob_md5 with a per-mapKey SHARDED oracle.

    The unsharded oracle reconstructs every blob's hex transcription at
    once — 2x the rung's blob byte volume as strings — and aborted DuckDB
    at its memory limit on the 1000x rung even with spill (failed block
    pin at 44.7/44.7 GiB). Every aggregation in the reconstruction groups
    by mapKey, so per-key shards are independent (the docs_tokenize
    sharded-oracle playbook): Spark runs ONCE, its rows split by the
    mapKey parsed from the salted key, and the oracle runs per key batch.
    """
    import time as _t

    from check_correctness import normalize
    from map_spark_sql_spark import queries as Q

    t0 = _t.perf_counter()
    sdf = Q.QUERIES["tiles_encode_blob_md5"](spark, sf_dir)
    scols = sorted(sdf.columns)
    srows = [tuple(r) for r in sdf.collect()]
    t_spark = _t.perf_counter() - t0
    key_i = list(sdf.columns).index("key")
    col_order = [list(sdf.columns).index(c) for c in scols]
    by_key: dict[str, list] = {}
    for r in srows:
        mk = ":".join(r[key_i].split(":")[1:-3])
        by_key.setdefault(mk, []).append(tuple(r[i] for i in col_order))
    keys = sorted(by_key)
    batches = [keys[i::n_batches] for i in range(n_batches)]
    t_duck, total = 0.0, 0
    for bi, batch in enumerate(b for b in batches if b):
        quoted = ", ".join(f"'{k}'" for k in batch)
        _, oracle = Q._tile_blob_query(
            "EPSG:3857", 2, where_extra=f"WHERE mapKey IN ({quoted})"
        )
        t0 = _t.perf_counter()
        res = con.sql(oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        t_duck += _t.perf_counter() - t0
        d_idx = [dcols.index(c) for c in sorted(dcols, key=str.lower)]
        d_n = normalize([tuple(r[i] for i in d_idx) for r in drows])
        s_n = normalize([row for k in batch for row in by_key.get(k, [])])
        if s_n != d_n:
            print(f"FAIL tiles_encode_blob_md5 shard {bi}: "
                  f"spark {len(s_n)} rows, duckdb {len(d_n)} rows")
            return False
        total += len(s_n)
        print(f"  blob shard {bi}: {len(s_n)} rows match "
              f"(cumulative duckdb {t_duck:.1f}s)")
    print(
        f"PASS tiles_encode_blob_md5 (sharded oracle): {total} rows "
        f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s over {n_batches} key shards)"
    )
    return True


def t3_digest_sharded(spark, sf_dir: str, epsg: str = "EPSG:3857",
                      zoom: int = 16, n_batches: int = 16) -> bool:
    """tiles_mercator_z16 digest with a per-mapKey SHARDED DuckDB twin
    (r7 verdict ask #4 — closes the last engine-verified-only row).

    The one-shot z16 oracle exhausted the box's DISK with aggregation
    spill (the third verifier-ceiling class after allocator death and
    memory_limit aborts). Every aggregation in the t3 reconstruction
    groups by mapKey, so per-key shards are independent; the digest is a
    SUM over rows, so shard digests add: sum_k (n_k, s1_k, s2_k) must
    equal Spark's one-shot digest over the full result. Shards are
    greedily balanced by the stats rowcount with the '0:0' whale (every
    record carries it) isolated in its own shard; fresh bounded DuckDB
    connection per shard (the check_tokenize_at_scale.py discipline)."""
    import tempfile as _tf
    import time as _t

    import duckdb

    from map_spark_sql_spark import queries as Q

    # Spark: run the registered query ONCE, digest the full result
    t0 = _t.perf_counter()
    sdf = Q.QUERIES[f"tiles_mercator_z{zoom}"](spark, sf_dir)
    cols = list(sdf.columns)
    s_n, s_s1, s_s2 = digest_spark(sdf).collect()[0]
    t_spark = _t.perf_counter() - t0
    print(f"spark z{zoom} digest: n={s_n} s1={s_s1} s2={s_s2} ({t_spark:.1f}s)")

    # shard keys by stats rowcount, whale isolated
    stats = {
        r.mapKey: r.occCount
        for r in Q.QUERIES["mapkeys_stats"](spark, sf_dir).collect()
    }
    whale = max(stats, key=stats.get)
    rest = sorted((k for k in stats if k != whale), key=stats.get, reverse=True)
    import heapq

    n_bins = max(1, n_batches - 1)
    heap = [(0, i) for i in range(n_bins)]
    heapq.heapify(heap)
    batches: list[list[str]] = [[] for _ in range(n_bins)]
    loads = [0] * n_bins
    for k in rest:
        load, i = heapq.heappop(heap)
        batches[i].append(k)
        loads[i] = load + stats[k]
        heapq.heappush(heap, (loads[i], i))
    batches = [[whale]] + [b for b in batches if b]

    d_n = d_s1 = d_s2 = 0
    t_duck = 0.0
    for bi, batch in enumerate(batches):
        quoted = ", ".join(f"'{k}'" for k in batch)
        _fn, oracle = Q._t3_query(epsg, zoom, where_extra=f"WHERE mapKey IN ({quoted})")
        t0 = _t.perf_counter()
        con = duckdb.connect()
        con.execute("SET memory_limit='16GB'")
        con.execute(f"SET temp_directory='{_tf.mkdtemp(prefix='duck_z16_')}'")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
        n, s1, s2 = con.sql(digest_duck_sql(oracle, cols)).fetchone()
        con.close()
        t_duck += _t.perf_counter() - t0
        d_n += n or 0
        d_s1 += s1 or 0
        d_s2 += s2 or 0
        print(
            f"  z{zoom} shard {bi} ({len(batch)} keys, est {sum(stats[k] for k in batch)}"
            f" base rows): n={n} (cumulative duckdb {t_duck:.1f}s)"
        )
    ok = (s_n, s_s1, s_s2) == (d_n, d_s1, d_s2)
    print(
        f"{'PASS' if ok else 'FAIL'} tiles_mercator_z{zoom} (sharded digest): "
        f"spark (n={s_n}, s1={s_s1}, s2={s_s2}) vs duckdb-sum "
        f"(n={d_n}, s1={d_s1}, s2={d_s2}) over {len(batches)} shards "
        f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)"
    )
    return ok


def main() -> int:
    import duckdb

    from check_correctness import normalize
    from map_spark_sql_spark import queries as Q
    from map_spark_sql_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scratch/sf1000x"
    names = sys.argv[2:] or DEFAULT

    spark = get_session(app_name="map_scale")
    spark.sparkContext.setLogLevel("ERROR")
    import tempfile

    con = duckdb.connect()
    # bounded + spillable (see check_tokenize_at_scale.py): without an
    # explicit limit DuckDB claims 80% of physical RAM and hard-fails
    # under concurrent load instead of spilling. The bound must respect
    # the box's COMMIT limit, not its free RAM: this host runs strict
    # overcommit (vm.overcommit_memory=2, CommitLimit 63GB, no swap), so
    # a 48GB duckdb budget + one or two JVM heaps makes malloc fail with
    # "bad allocation" while `free` still shows 100GB available.
    con.execute("SET memory_limit='24GB'")
    con.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duck_map_')}'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")

    failures = []
    for name in names:
        if name == "tiles_encode_blob_md5":
            if not blob_gate_sharded(spark, con, sf_dir):
                failures.append(name)
            continue
        if name == "tiles_mercator_z16_sharded":
            if not t3_digest_sharded(spark, sf_dir):
                failures.append(name)
            continue
        mode = "digest" if name in DIGEST else "collect"
        fn, oracle = Q.QUERIES[name], Q.ORACLES[name]
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            if mode == "digest":
                cols = list(sdf.columns)
                srows = [tuple(r) for r in digest_spark(sdf).collect()]
                scols = ["n", "s1", "s2"]
            else:
                srows = [tuple(r) for r in sdf.collect()]
                scols = list(sdf.columns)
            t_spark = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(exc)[:400]}")
            continue
        t0 = time.perf_counter()
        try:
            sql = digest_duck_sql(oracle, cols) if mode == "digest" else oracle
            res = con.sql(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            t_duck = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001
            # the docs_tokenize precedent: the oracle, not the engine, is
            # the ceiling — record engine-verified with the engine digest
            print(
                f"ENGINE-VERIFIED {name} ({mode}): oracle died "
                f"({str(exc)[:200]}); spark {t_spark:.1f}s, result {srows}"
            )
            continue
        s_idx = [scols.index(c) for c in sorted(scols, key=str.lower)]
        d_idx = [dcols.index(c) for c in sorted(dcols, key=str.lower)]
        s_n = normalize([tuple(r[i] for i in s_idx) for r in srows])
        d_n = normalize([tuple(r[i] for i in d_idx) for r in drows])
        ok = s_n == d_n
        if not ok:
            failures.append(name)
            first = next(
                ((i, a, b) for i, (a, b) in enumerate(zip(s_n, d_n)) if a != b),
                ("len", len(s_n), len(d_n)),
            )
            print(f"FAIL {name} ({mode}): first diff {str(first)[:300]}")
        else:
            detail = f"digest {s_n[0]}" if mode == "digest" else f"{len(s_n)} rows"
            print(
                f"PASS {name} ({mode}): {detail} "
                f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)"
            )

    print(f"== {len(names) - len(failures)} pass, {len(failures)} fail (of {len(names)}) ==")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
