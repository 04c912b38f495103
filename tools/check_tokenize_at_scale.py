"""Sharded docs_tokenize oracle for rungs past DuckDB's explode ceiling.

At the 1000x rung (5M docs) the one-shot tokenize oracle died in DuckDB's
allocator ("Failed to allocate block") while the Spark plan completed —
the round-4 lesson again: the verification HARNESS, not the engine, is the
scale ceiling. This tool closes the gap with the union-find-mirror
playbook (tools/check_clusters_at_scale.py): shard the harness, not the
semantics.

1. Spark runs ``tokenize_docs`` ONCE over the full corpus and writes the
   result partitioned by ``doc_id % n_shards``.
2. DuckDB builds the corpus-GLOBAL vocabulary once into a temp table, then
   runs the explode-join-aggregate oracle per shard (peak allocator load
   1/n of the one-shot form).
3. Each shard's Spark partition (read back via DuckDB — no Spark recompute
   per shard) is compared to its oracle shard with the
   check_correctness-identical normalize + multiset equality; memory stays
   bounded by the largest shard.

The union over shards IS the full-corpus comparison: ``doc_id % n`` is a
partition of the output keyspace, the vocabulary (the only cross-doc
state) is computed globally on both engines, and tokenization is per-doc.

Usage: python tools/check_tokenize_at_scale.py [sf_dir] [n_shards]
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

print = functools.partial(print, flush=True)


def main() -> int:
    import duckdb

    from check_correctness import normalize
    from pyspark.sql import functions as F

    from map_spark_sql_spark.operators import text as TX
    from map_spark_sql_spark.session import get_session
    from map_spark_sql_spark.sources.readers import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scratch/sf1000x"
    n_shards = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    spark = get_session(app_name="tokenize_scale")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = tempfile.mkdtemp(prefix="tokenize_scale_")
    t0 = time.perf_counter()
    res = TX.tokenize_docs(load_table(spark, sf_dir, "documents"))
    (
        res.withColumn("shard", F.pmod("doc_id", F.lit(n_shards)))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    t_spark = time.perf_counter() - t0
    print(f"spark tokenize_docs written in {t_spark:.1f}s -> {out_dir}")

    def fresh_con():
        # Fresh connection per shard, bounded + spillable: a single
        # long-lived connection accumulated allocator state across shard
        # queries and died with "bad allocation" after exactly 8 shards on
        # two separate 1000x runs (with AND without a memory_limit set);
        # per-shard connections bound any leak to one shard's lifetime.
        c = duckdb.connect()
        # 16GB: the box enforces STRICT overcommit (CommitLimit 63GB, no
        # swap) — see check_map_at_scale.py; budgets must sum with the
        # concurrent JVM commits, not with free RAM
        c.execute("SET memory_limit='16GB'")
        c.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duck_tok_')}'")
        c.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        return c

    vocab_path = os.path.join(tempfile.mkdtemp(prefix="tok_vocab_"), "vocab.parquet")
    t0 = time.perf_counter()
    con = fresh_con()
    con.execute(
        f"COPY ({TX.build_vocab_oracle(min_count=2)}) TO '{vocab_path}' (FORMAT parquet)"
    )
    n_terms = con.sql(f"SELECT count(*) FROM '{vocab_path}'").fetchone()[0]
    con.close()
    t_vocab = time.perf_counter() - t0
    print(f"duckdb global vocab in {t_vocab:.1f}s ({n_terms} terms)")

    total_rows, t_duck = 0, 0.0
    for k in range(n_shards):
        t0 = time.perf_counter()
        con = fresh_con()
        con.execute(f"CREATE VIEW vocab_g AS SELECT * FROM '{vocab_path}'")
        sql = TX.tokenize_docs_oracle(shard=(k, n_shards), vocab_table="vocab_g")
        drows = con.sql(sql).fetchall()
        t_duck += time.perf_counter() - t0
        srows = con.sql(
            f"SELECT doc_id, n_tokens, n_oov, ids FROM '{out_dir}/shard={k}/*.parquet'"
        ).fetchall()
        con.close()
        # Multiset compare via Counter, NOT normalize()'s repr-keyed sort:
        # repr() copies each row's whole ids string (documents average
        # thousands of tokens), and at 310k rows/shard that doubled the
        # harness's own footprint past the host's commit limit
        # (MemoryError inside sorted(key=repr)). Rows here are pure
        # (int, int, int, str) — hashable, exactly comparable.
        from collections import Counter

        d_c = Counter(tuple(r) for r in drows)
        del drows
        s_c = Counter(tuple(r) for r in srows)
        del srows
        if s_c != d_c:
            only_s = next(iter(s_c - d_c), None)
            only_d = next(iter(d_c - s_c), None)
            print(f"FAIL shard {k}: spark {sum(s_c.values())} rows, duckdb "
                  f"{sum(d_c.values())} rows; spark-only {str(only_s)[:200]}; "
                  f"duckdb-only {str(only_d)[:200]}")
            return 1
        total_rows += sum(s_c.values())
        print(f"shard {k}: {sum(s_c.values())} rows match")
        del s_c, d_c

    print(
        f"PASS docs_tokenize sharded: {total_rows} rows over {n_shards} shards "
        f"(spark {t_spark:.1f}s, duckdb vocab {t_vocab:.1f}s + shards {t_duck:.1f}s)"
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
