"""Source/sink contract tests: multi-format round-trips, the salt-aligned
sorted sink, and Hive-style table materialization (S2/S5)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

from map_spark_sql_spark.sources.readers import TABLE_NAMES, load_table, read_source, tables_in
from map_spark_sql_spark.sources.writers import write_salted_sorted
from map_spark_sql_spark.functions.keys import salted_key

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def tmp_out(tmp_path):
    out = str(tmp_path / "out")
    yield out
    shutil.rmtree(out, ignore_errors=True)


class TestReadSource:
    @pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
    def test_roundtrip(self, spark, tmp_out, fmt):
        src = load_table(spark, SF_DIR, "nation")
        src.write.format(fmt).option("header", "true").save(tmp_out)
        back = read_source(spark, tmp_out, fmt)
        assert back.count() == src.count()
        # csv/json come back typeless-ish; key columns must survive by name
        assert set(c.lower() for c in back.columns) == set(c.lower() for c in src.columns)

    def test_avro_gated_with_hint(self, spark, tmp_out):
        """Without spark-avro OR the legacy-fallback converter on the session
        classpath, the adapter must fail with the classpath hint rather than
        a raw datasource error. (tmp_out doesn't exist, so even a present
        datasource would error differently.)"""
        import pytest as _pytest

        with _pytest.raises(Exception) as ei:
            read_source(spark, tmp_out, "avro")
        assert "spark-avro" in str(ei.value) or "AVRO" in str(ei.value).upper()

    def test_avro_end_to_end(self, tmp_path):
        """S1 (MapBuilder.java:134-139): a REAL 100-row .avro OCF fixture,
        written by our pure-Python writer, read back through Spark's JVM avro
        path with schema inference, and compared against a parquet twin.

        The spark-avro DataSource module is not in this image, so
        read_source's legacy avro-mapred fallback carries the read; that
        needs the AvroWrapperToJavaConverter class at session construction
        (driver classpath), hence a subprocess session with spark.jars
        rather than the shared fixture session.
        """
        import glob as _glob
        import subprocess
        import sys
        import textwrap

        from map_spark_sql_spark.sources.avro_ocf import write_ocf

        jars = _glob.glob("/opt/spark-*/examples/jars/spark-examples_*.jar")
        if not jars:
            pytest.skip("no spark-examples jar (AvroWrapperToJavaConverter) available")

        rows = [
            {
                "id": i,
                "name": f"rec-{i}",
                "score": i / 7.0,
                "flag": i % 3 == 0,
                "tag": None if i % 5 == 0 else f"t{i % 4}",
            }
            for i in range(100)
        ]
        fields = [
            ("id", "long"),
            ("name", "string"),
            ("score", "double"),
            ("flag", "boolean"),
            ("tag", ["null", "string"]),
        ]
        avro_path = str(tmp_path / "fixture.avro")
        write_ocf(avro_path, "Rec", fields, rows)

        import pyarrow as pa
        import pyarrow.parquet as pq

        parquet_path = str(tmp_path / "fixture.parquet")
        pq.write_table(pa.Table.from_pylist(rows), parquet_path)

        script = textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {repr(str(tmp_path.parent))})
            sys.path.insert(0, "/root/repo")
            from pyspark.sql import SparkSession
            from map_spark_sql_spark.sources.readers import read_source

            spark = (SparkSession.builder.master("local[2]").appName("avro-e2e")
                     .config("spark.jars", {repr(jars[0])})
                     .config("spark.ui.enabled", "false")
                     .getOrCreate())
            av = read_source(spark, {repr(avro_path)}, "avro")
            pq_df = read_source(spark, {repr(parquet_path)}, "parquet")
            cols = sorted(av.columns)
            assert cols == sorted(pq_df.columns), (cols, pq_df.columns)
            a = sorted(tuple(r[c] for c in cols) for r in av.collect())
            b = sorted(tuple(r[c] for c in cols) for r in pq_df.collect())
            assert len(a) == 100, len(a)
            assert a == b, (a[:3], b[:3])
            print("AVRO-E2E-OK")
            spark.stop()
            """
        )
        proc = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert "AVRO-E2E-OK" in proc.stdout

    def test_csv_explicit_schema(self, spark, tmp_out):
        src = load_table(spark, SF_DIR, "region")
        src.write.format("csv").option("header", "true").save(tmp_out)
        back = read_source(
            spark, tmp_out, "csv",
            schema="r_regionkey bigint, r_name string, r_comment string",
        )
        assert back.schema["r_regionkey"].dataType.simpleString() == "bigint"
        assert {r.r_regionkey for r in back.collect()} == {
            r.r_regionkey for r in src.collect()
        }


class TestSaltedSink:
    def test_partition_alignment_and_sort(self, spark, tmp_out):
        """Every physical partition must contain exactly the rows of the salt
        buckets hashed to it, sorted by key within the partition — the HFile
        contract (X2/X3, SaltPrefixPartitioner.java:21-37)."""
        modulus = 10
        df = (
            load_table(spark, SF_DIR, "orders")
            .select(salted_key(F.col("o_orderkey").cast("string"), modulus=modulus).alias("key"))
            .withColumn("salt", F.split("key", ":").getItem(0).cast("int"))
        )
        write_salted_sorted(df, tmp_out, num_partitions=modulus)
        back = spark.read.parquet(tmp_out).withColumn(
            "pid", F.spark_partition_id()
        )
        # one salt never spans two physical partitions
        spans = (
            back.groupBy("salt").agg(F.countDistinct("pid").alias("n")).filter("n > 1").count()
        )
        assert spans == 0
        # within each file, keys are sorted (check via pandas per input file)
        files = back.select(F.input_file_name().alias("f")).distinct().collect()
        import pandas as pd

        for (f,) in files:
            keys = pd.read_parquet(f.replace("file://", ""))["key"].tolist()
            assert keys == sorted(keys)

    def test_total_row_preservation(self, spark, tmp_out):
        df = (
            load_table(spark, SF_DIR, "orders")
            .select(salted_key(F.col("o_orderkey").cast("string"), modulus=10).alias("key"))
            .withColumn("salt", F.split("key", ":").getItem(0).cast("int"))
        )
        write_salted_sorted(df, tmp_out, num_partitions=10)
        assert spark.read.parquet(tmp_out).count() == df.count()


class TestBucketedJoin:
    def test_bucketed_tables_join_without_shuffle(self, spark):
        """bucketBy on the join key co-locates both sides: the join plans
        with NO Exchange (SURVEY §2.3 / SCALE.md rule 3 — at 100 TB this is
        how repeated fact-fact joins avoid re-shuffling terabytes)."""
        o = load_table(spark, SF_DIR, "orders")
        l = load_table(spark, SF_DIR, "lineitem")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
        try:
            o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("t_orders_b")
            l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("t_lineitem_b")
            j = (
                spark.table("t_orders_b")
                .join(
                    spark.table("t_lineitem_b").hint("merge"),
                    F.col("o_orderkey") == F.col("l_orderkey"),
                )
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            # no exchange BELOW the join (the groupBy above it still shuffles):
            # both join inputs read pre-bucketed
            below_join = plan.split("SortMergeJoin", 1)[1]
            assert "Exchange hashpartitioning" not in below_join, plan[:2000]
            assert j.count() > 0
        finally:
            spark.sql("DROP TABLE IF EXISTS t_orders_b")
            spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


class TestSignatureTableReuse:
    def test_signature_table_reuse_joins_without_shuffle(self, spark):
        """The production dedup barrier (SCALE.md): persist the MinHash
        signature table bucketed by doc_id, then (a) re-banding from it
        yields the identical pair set with no text re-hash, and (b) a
        per-document join against a doc_id-bucketed documents table plans
        with NO Exchange below the join on either side."""
        from map_spark_sql_spark.operators.dedup import (
            banded_pairs_from_signatures,
            minhash_pairs,
            persist_minhash_signatures,
        )

        docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "source")
        spark.sql("DROP TABLE IF EXISTS t_minhash_sig")
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        try:
            sig = persist_minhash_signatures(docs, "t_minhash_sig", buckets=8)
            # (a) identical pairs from the persisted table vs the full pass
            reused = banded_pairs_from_signatures(sig)
            direct = minhash_pairs(docs)
            assert sorted(map(tuple, reused.collect())) == sorted(
                map(tuple, direct.collect())
            )
            # (b) doc_id-bucketed join: no exchange under the join
            docs.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("t_docs_b")
            j = spark.table("t_docs_b").join(
                spark.table("t_minhash_sig").hint("merge"), "doc_id"
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            below = plan.split("SortMergeJoin", 1)[1]
            assert "Exchange hashpartitioning" not in below, plan[:2000]
            assert j.count() == docs.count()
        finally:
            spark.sql("DROP TABLE IF EXISTS t_minhash_sig")
            spark.sql("DROP TABLE IF EXISTS t_docs_b")


class TestPartitionPruning:
    def test_partitioned_write_prunes_at_scan(self, spark, tmp_out):
        """Hive-style partitioned layout + a partition-column predicate must
        prune at planning time (PartitionFilters, not DataFilters) — the O5
        input-subsetting analogue at scale."""
        ev = load_table(spark, SF_DIR, "events")
        ev.write.partitionBy("event_type").parquet(tmp_out)
        back = spark.read.parquet(tmp_out).filter(F.col("event_type") == "purchase")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "event_type" in pf
        assert back.count() == ev.filter("event_type = 'purchase'").count()


class TestTableMaterialization:
    def test_save_as_table_roundtrip(self, spark):
        """S2 (MapBuilder.java:171-173): materialize -> re-scan by table name."""
        src = load_table(spark, SF_DIR, "region")
        spark.sql("DROP TABLE IF EXISTS t_region_mat")
        src.write.format("parquet").mode("overwrite").saveAsTable("t_region_mat")
        try:
            assert spark.table("t_region_mat").count() == src.count()
        finally:
            spark.sql("DROP TABLE IF EXISTS t_region_mat")


NANOS_FLAG = "spark.sql.legacy.parquet.nanosAsLong"


class TestFooterSchemaLoad:
    @pytest.mark.parametrize("name", TABLE_NAMES)
    def test_load_launches_no_job_and_keeps_schema(self, spark, name):
        """The footer-built schema equals what Spark inference plus the
        NTZ->timestamp normalization gives, and taking it runs no job."""
        inferred = spark.read.parquet(f"{SF_DIR}/{name}.parquet")
        want = StructType(
            [
                StructField(f.name, TimestampType(), f.nullable)
                if isinstance(f.dataType, TimestampNTZType)
                else f
                for f in inferred.schema
            ]
        )
        tracker = spark.sparkContext.statusTracker()
        jobs_before = set(tracker.getJobIdsForGroup())
        assert load_table(spark, SF_DIR, name).schema == want
        assert set(tracker.getJobIdsForGroup()) - jobs_before == set()

    def test_nanos_timestamps_match_duckdb(self, spark, tmp_path):
        """TIMESTAMP(NANOS) columns (no fixed table has one) read through
        both the batch loader and the event stream equal DuckDB's read, and
        neither sets the session-global nanosAsLong flag."""
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from map_spark_sql_spark.streaming.events import read_event_stream, run_to_memory

        ns = [1_700_000_000_123_456_789, 1_700_000_060_000_000_999, None, 1_600_000_000_000_000_001]
        n = len(ns)
        table = pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
                "user_id": pa.array([7] * n, pa.int64()),
                "event_type": pa.array(["view"] * n),
                "value": pa.array([1.5] * n),
                "props": pa.array(["{}"] * n),
            }
        )
        path = str(tmp_path / "events.parquet")
        pq.write_table(table, path)
        assert str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"

        want = sorted(
            duckdb.sql(
                f"SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) FROM read_parquet('{path}')"
            ).fetchall()
        )
        assert spark.conf.get(NANOS_FLAG, None) is None
        batch = load_table(spark, str(tmp_path), "events")
        assert batch.schema["ts"].dataType == TimestampType()
        got = batch.select("event_id", F.unix_micros("ts")).collect()
        assert sorted(tuple(r) for r in got) == want
        stream = read_event_stream(spark, path, nanos=True)
        streamed = run_to_memory(
            stream.select("event_id", F.unix_micros("ts").alias("ts_us")),
            "nanos_ts_stream",
            output_mode="append",
        ).collect()
        assert sorted(tuple(r) for r in streamed) == want
        assert spark.conf.get(NANOS_FLAG, None) is None


class TestRegisteredViews:
    def test_tables_in_whole_word_case_insensitive(self):
        assert tables_in("SELECT n_events FROM EVENTS JOIN partsupp ON 1=1") == ("events",)

    def test_each_query_registers_every_table_it_reads(self, spark):
        """With no temp view left over, every registry query that registers
        views must still analyse: a table missing from its set raises here
        instead of silently reading a stale view from another sf_dir."""
        from map_spark_sql_spark.queries import QUERIES

        names = [n for n, fn in QUERIES.items() if "_register_views" in fn.__code__.co_names]
        assert len(names) >= 50
        for name in names:
            for t in spark.catalog.listTables():
                if t.isTemporary:
                    spark.catalog.dropTempView(t.name)
            QUERIES[name](spark, SF_DIR).schema
