"""The session's shuffle width shapes neither the plans nor the answers.

In one session, at two shuffle widths (``defaultParallelism`` and twice
that): the in-bucket pair builders build the same plan, and the operators
whose internals depend on partitioning give the same rows at both widths
and two input splits. Every conf the test sets is restored.
"""

from __future__ import annotations

import glob
import hashlib
import os
from contextlib import contextmanager

import pandas as pd
from conftest import SF_DIR
from pyspark.sql import functions as F
from test_plan_invariants import _shape

from map_spark_sql_spark.functions.keys import salted_key
from map_spark_sql_spark.operators import runtime_filter as RTF
from map_spark_sql_spark.operators import text as TX
from map_spark_sql_spark.operators.packing import pack_sequences
from map_spark_sql_spark.queries import QUERIES
from map_spark_sql_spark.sources.readers import load_table
from map_spark_sql_spark.sources.writers import write_salted_sorted

PAIR_BUILDERS = (
    "dedup_simhash_banded",
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
    "dedup_winnowing_pairs",
    "similarity_pairs_lsh",
)
SPLITS = (1, 3)


@contextmanager
def _width(spark, n: int):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _widths(spark) -> tuple[int, int]:
    par = spark.sparkContext.defaultParallelism
    return par, 2 * par


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


def test_pair_builders_plan_alike_at_every_width(spark, plan_nodes):
    shapes = {}
    for n in _widths(spark):
        with _width(spark, n):
            shapes[n] = {
                q: _shape(list(plan_nodes(QUERIES[q](spark, SF_DIR), execute=False)))
                for q in PAIR_BUILDERS
            }
    a, b = shapes.values()
    assert a == b, shapes


def _partition_dependent(spark, split: int, out_dir: str) -> dict[str, str]:
    """Digests of the operators that read ``spark_partition_id`` (vocab
    ids, packing offsets), the runtime prefilter join, and the salted sink
    (the rows of each written part file, in file order)."""
    docs = load_table(spark, SF_DIR, "documents").repartition(split)
    orders = load_table(spark, SF_DIR, "orders").repartition(split)
    dim = load_table(spark, SF_DIR, "customer").filter("c_mktsegment = 'BUILDING'")
    fact = RTF.prefilter_inlist(orders, dim, "o_custkey", "c_custkey")
    joined = fact.join(dim, fact.o_custkey == dim.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name"
    )
    salted = orders.select(
        salted_key(F.col("o_orderkey").cast("string"), modulus=10).alias("key")
    ).withColumn("salt", F.split("key", ":").getItem(0).cast("int"))
    write_salted_sorted(salted, out_dir, num_partitions=10)
    sink = [
        (os.path.basename(f).split("-")[1], tuple(pd.read_parquet(f)["key"]))
        for f in glob.glob(os.path.join(out_dir, "part-*.parquet"))
    ]
    return {
        "build_vocab": _digest(TX.build_vocab(docs, min_count=2).collect()),
        "pack_sequences": _digest(pack_sequences(docs, chunk_tokens=256).collect()),
        "prefilter_inlist": _digest(joined.collect()),
        "salted_sink": _digest(sink),
    }


def test_partition_dependent_operators_agree_across_widths_and_splits(spark, tmp_path):
    digests = {}
    for n in _widths(spark):
        with _width(spark, n):
            for split in SPLITS:
                out = str(tmp_path / f"sink_{n}_{split}")
                digests[(n, split)] = _partition_dependent(spark, split, out)
    first = next(iter(digests.values()))
    assert all(d == first for d in digests.values()), digests
