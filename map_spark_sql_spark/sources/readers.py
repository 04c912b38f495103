"""Source adapters.

The reference's ingest is an Avro directory scan with inferred schema
(``MapBuilder.java:134-139``, S1) followed by a materializing parquet write
(S2) "to defend against lazy evaluation that may cause the input avro files to
be read multiple times" (``MapBuilder.java:129-133``). Our sources are the
driver's parquet tables; the same scan-adapter role here is normalizing
physical types so downstream plans are engine-portable.

The read schema comes from the parquet footer, so a load launches no
Spark inference job. Nanosecond timestamps: ``TIMESTAMP(NANOS)`` columns,
which Spark's schema inference rejects (PARQUET_TYPE_ILLEGAL), are read as
raw ``long`` epoch-nanos through that schema and rebuilt with
``timestamp_micros(ns div 1000)`` — the same truncation DuckDB applies when it
reads TIMESTAMP_NS into its microsecond-resolution TIMESTAMP, so oracle
comparisons agree exactly. No session-global flag is involved.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def tables_in(sql: str) -> tuple[str, ...]:
    """The driver tables ``sql`` names: a case-insensitive whole-word match
    of ``TABLE_NAMES``. Over-matching only costs a footer read; a missed
    table fails analysis."""
    return tuple(n for n in TABLE_NAMES if re.search(rf"\b{n}\b", sql, re.IGNORECASE))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table, normalizing timestamps to session-TZ ``timestamp``.

    The schema is the footer's (no inference job; a footer type with no
    Spark equivalent raises). Two physical variants appear in driver testdata
    depending on how it was written: TIMESTAMP(NANOS) (read as ``long``;
    rebuilt via ``timestamp_micros(ns div 1000)``) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (read as TIMESTAMP_NTZ, as Spark 3.4's
    inferTimestampNTZ would). Both are folded to plain ``timestamp`` so every
    downstream plan — batch, streaming schema contracts, unix_micros
    arithmetic — sees one type. The session TZ is UTC (session.py), so the NTZ→LTZ cast is
    wall-clock-preserving and matches DuckDB's naive read.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = pq.read_schema(path)
    ns_cols = [f.name for f in footer if str(f.type).startswith("timestamp[ns")]
    footer = pa.schema([f.with_type(pa.int64()) if f.name in ns_cols else f for f in footer])
    df = spark.read.schema(from_arrow_schema(footer, prefer_timestamp_ntz=True)).parquet(path)
    for c in ns_cols:
        # integer `div` (not `/`): epoch-nanos exceed double's 2^53 exact range
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for field in df.schema.fields:
        if field.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to default parallelism iff the input is
    narrower.

    CPU-heavy per-row stages (key fan-out, shingle hashing, projections) are
    otherwise bound by input file count — the driver testdata is one file per
    table, i.e. ONE map task. On a real cluster with many splits this is a
    no-op; the explicit number exempts it from AQE coalescing.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_source(
    spark: SparkSession,
    path: str,
    format: str = "parquet",
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Generic source scan (S1 family): parquet / csv / json / avro / orc /
    text directory or glob.

    The reference's single source is an Avro directory glob with inferred
    schema (``MapBuilder.java:134-139``); this exposes the same adapter over
    every built-in format. Avro prefers the ``spark-avro`` DataSource module
    (vectorized, pushdown-capable — the 100 TB path); when that module is
    absent from the classpath this falls back to the legacy
    ``avro-mapred`` InputFormat (always bundled with Spark) via
    :func:`read_avro_legacy`, which still reads real OCF files/globs but
    row-converts on the JVM side — fine for fixtures and small side inputs,
    not for the 100 TB scan. For schemaless text formats pass an explicit
    ``schema`` at scale: inference reads the data twice.
    """
    reader = spark.read.format(format)
    if schema is not None:
        reader = reader.schema(schema)
    if format == "csv" and "header" not in options:
        options["header"] = "true"
    if options:
        reader = reader.options(**options)
    try:
        return reader.load(path)
    except Exception as e:  # pragma: no cover - classpath-dependent
        missing_source = (
            "DATA_SOURCE_NOT_FOUND" in str(e).upper() or "FAILED TO FIND" in str(e).upper()
        )
        if format == "avro" and missing_source:
            try:
                return read_avro_legacy(spark, path, schema)
            except Exception as e2:
                raise RuntimeError(
                    "avro source requires the spark-avro module "
                    "(spark.jars.packages org.apache.spark:spark-avro_2.13:<spark version>) "
                    "or, for the legacy InputFormat fallback, a jar providing "
                    "org.apache.spark.examples.pythonconverters.AvroWrapperToJavaConverter "
                    "on spark.jars"
                ) from e2
        raise


def read_avro_legacy(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """Avro OCF scan via the legacy ``avro-mapred`` InputFormat (the pre-
    DataSource public API, cf. Spark's own ``examples/avro_inputformat.py``).

    Needs the ``AvroWrapperToJavaConverter`` python-converter class on the
    driver classpath (shipped in ``spark-examples``); records arrive as
    generic dicts and are re-assembled into a DataFrame, so there is no
    predicate/column pushdown — use the spark-avro module for big scans.
    """
    rdd = spark.sparkContext.newAPIHadoopFile(
        path,
        "org.apache.avro.mapreduce.AvroKeyInputFormat",
        "org.apache.avro.mapred.AvroKey",
        "org.apache.hadoop.io.NullWritable",
        keyConverter="org.apache.spark.examples.pythonconverters.AvroWrapperToJavaConverter",
    )
    records = rdd.keys()
    if schema is not None:
        return spark.createDataFrame(records, schema)
    from pyspark.sql import Row

    return spark.createDataFrame(records.map(lambda d: Row(**d)))


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> None:
    """Temp-view registration for staged SQL (S6, ``createOrReplaceTempView``
    usage at ``PointMapBuilder.java:72``, ``TileMapBuilder.java:127-156``).
    Registers exactly ``names`` (see :func:`tables_in`), each through
    :func:`load_table`; a view left from another ``sf_dir`` is replaced."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
