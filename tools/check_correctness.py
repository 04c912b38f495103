"""Driver-mimic correctness harness.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column names, and
an order-insensitive value multiset (columns sorted by name, rows sorted).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import functools
import math
import sys
import time

sys.path.insert(0, ".")

# per-query timing lines must survive a mid-sweep kill (piped stdout is
# block-buffered, so a buffered sweep that dies loses ALL its output)
print = functools.partial(print, flush=True)


def normalize(rows: list[tuple], ndigits: int = 9) -> list[tuple]:
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(round(v, ndigits))
            elif isinstance(v, (bytes, bytearray)):
                vals.append(bytes(v).hex())
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from map_spark_sql_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_session(app_name="correctness")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passed, rows_only = [], 0, 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t_spark = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
            t_spark = time.perf_counter() - t_spark
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"spark error: {exc}"))
            print(f"FAIL {name}: spark error: {str(exc)[:400]}")
            continue
        if name not in oracles:
            rows_only += 1
            print(f"rows-only {name}: {len(srows)} rows")
            continue
        t_duck = time.perf_counter()
        try:
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            # type lint: the driver's value hash is type-sensitive, and a
            # DuckDB HUGEINT column (e.g. an uncast sum(BIGINT) or BIGINT //
            # HUGEINT) hashes differently from Spark's LONG even when every
            # value is identical — this exact class produced the only two
            # red driver cells of round 5.  Fail loudly here instead.
            dtypes = [str(t).upper() for t in res.types]
            huge = [c for c, t in zip(dcols, dtypes) if "HUGEINT" in t]
            if huge:
                failures.append(
                    (name, f"oracle emits HUGEINT column(s) {huge}; CAST to BIGINT")
                )
                print(f"FAIL {name}: oracle HUGEINT column(s) {huge} — CAST to BIGINT")
                continue
            drows = res.fetchall()
            t_duck = time.perf_counter() - t_duck
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"duckdb error: {exc}"))
            print(f"FAIL {name}: duckdb error: {str(exc)[:400]}")
            continue
        if sorted(map(str.lower, scols)) != sorted(map(str.lower, dcols)):
            failures.append((name, f"columns differ: spark={scols} duckdb={dcols}"))
            print(f"FAIL {name}: columns spark={scols} duckdb={dcols}")
            continue
        # driver sorts columns by name before hashing
        s_idx = [scols.index(c) for c in sorted(scols, key=str.lower)]
        d_idx = [dcols.index(c) for c in sorted(dcols, key=str.lower)]
        s_n = normalize([tuple(r[i] for i in s_idx) for r in srows])
        d_n = normalize([tuple(r[i] for i in d_idx) for r in drows])
        if len(s_n) != len(d_n):
            failures.append((name, f"row count: spark={len(s_n)} duckdb={len(d_n)}"))
            print(f"FAIL {name}: rows spark={len(s_n)} duckdb={len(d_n)}")
            continue
        if s_n != d_n:
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(s_n, d_n)) if a != b
            )
            failures.append((name, f"values differ, first at {diff}"))
            print(f"FAIL {name}: first diff {diff}")
            continue
        passed += 1
        print(
            f"PASS {name}: {len(s_n)} rows "
            f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)"
        )

    print(
        f"\n== {passed} hash-match, {rows_only} rows-only, {len(failures)} failed "
        f"(of {len(queries) if not only else len(only)}) =="
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
