"""PageRank scale rung: run the integer power iteration over a synthetic
deterministic 3-out-regular graph on the scratch rung's vec_ids and
hash-compare Spark vs the unrolled DuckDB oracle.

The registry query (similarity_pagerank_central) builds its edges by
brute-force quantized kNN, which is quadratic and intractable past ~10^4
vectors on a single box — at scale the documented swap-in is the LSH kNN
graph. THIS harness therefore checks the part that is new at scale (five
rounds of integer message passing over millions of vertices) with an
O(N) edge builder both engines can evaluate: three pseudo-random
out-edges per vertex from an LCG on the vertex id.

Usage: python tools/check_pagerank_at_scale.py [sf_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    import duckdb

    from map_spark_sql_spark.operators import graph as G
    from map_spark_sql_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scratch/sf100x"
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    ks = (12345, 54321, 99991)
    duck_edges = f"""
SELECT vec_id AS src, CAST((vec_id * 1103515245 + t.k) % {n} AS BIGINT) AS dst
FROM '{sf_dir}/embeddings.parquet', unnest([{", ".join(map(str, ks))}]) AS t(k)
WHERE CAST((vec_id * 1103515245 + t.k) % {n} AS BIGINT) <> vec_id
"""
    t0 = time.perf_counter()
    oracle = G.pagerank_oracle(duck_edges, iters=5, id_col="vec_id")
    drows = con.sql(oracle).fetchall()
    t_duck = time.perf_counter() - t0
    print(f"duckdb: {len(drows)} rows in {t_duck:.1f}s", flush=True)

    spark = get_session(app_name="pagerank-scale")
    from map_spark_sql_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    t0 = time.perf_counter()
    edges = emb.select(
        F.col("vec_id").alias("src"),
        F.explode(F.array(*[F.lit(k) for k in ks])).alias("k"),
    ).select(
        "src",
        F.expr(f"CAST((src * 1103515245 + k) % {n} AS BIGINT)").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    ranks = G.pagerank(edges, iters=5, id_col="vec_id")
    srows = [tuple(r) for r in ranks.collect()]
    t_spark = time.perf_counter() - t0
    print(f"spark: {len(srows)} rows in {t_spark:.1f}s", flush=True)

    ok = sorted(srows) == sorted((int(a), int(b)) for a, b in drows)
    print(f"{'MATCH' if ok else 'MISMATCH'} at n={n}", flush=True)
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
