"""SparkSession factory with scale-appropriate defaults.

The reference configures its session at ``MapBuilder.java:89-92`` (Hive support,
Snappy, fixed 1200 shuffle partitions for ~100 MB output files from 2.5 B rows —
``MapBuilder.java:166-169``). On modern Spark we let AQE size shuffles at
runtime and enable skew-join handling instead of hand-tuning partition counts;
the salted-write path (sources/writers.py) still pins its own partitioning
because it must align with the sink.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Arrow-batched UDFs (plans/tiles.py) are pickled by reference to this
    module, so workers must be able to import it. On a real cluster you ship
    a wheel via ``spark.submit.pyFiles``; this helper zips the live package
    and ``addPyFile``s it, which works for local mode and clusters alike.
    Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.mkdtemp(prefix="mss_pkg_"), "map_spark_sql_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


def get_session(
    app_name: str = "map_spark_sql_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # AQE replaces the reference's fixed 1200-partition tuning
        # (MapBuilder.java:166-169): coalesce small shuffle partitions,
        # split skewed ones (the "0:0" ALL map key is carried by every row).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime row-level filtering: inject a bloom filter built from the
        # filtered dimension side into the fact scan of shuffle joins — the
        # at-scale analogue of the reference's driver-collected key set
        # (MapBuilder.java:199-205) without the driver round-trip. Default-on
        # since Spark 3.4; pinned explicitly because the salted fact-dim
        # joins rely on it. Do NOT also enable
        # runtimeFilter.semiJoinReduction: on this Spark build it wedges the
        # driver in a py4j reflection storm for ANY query (even range+count).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Arrow for the pandas-UDF binary encoders (tile MVT/proto paths).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound scalar-UDF Arrow batches by BYTES as well as rows: the
        # default row-count-only batching (10000) ships multi-GB batches
        # to Python workers when rows are large (whale-tile chunks at the
        # 1000x rung crashed workers exactly this way). 32MB Arrow ~ a few
        # hundred MB of boxed Python objects worst-case per batch; small
        # rows still batch to the full 10000, so narrow-row UDF throughput
        # is unaffected.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Deterministic timestamp semantics regardless of host TZ: testdata
        # NTZ/nanos columns are normalized to session-TZ timestamps
        # (sources/readers.py), and DuckDB oracles read the same values as
        # naive UTC — both sides must render identical wall-clock instants.
        .config("spark.sql.session.timeZone", "UTC")
        # Keep every generated class for the session. The default cache
        # holds 100 classes, fewer than one board pass (~245) or one map
        # build (109); reuse is cyclic, so LRU evicted each class before
        # its next use and every warm pass recompiled ~220 (board) and
        # 54-65 (map build) of them. One sweep of all 213 registry
        # queries at sf0.001 compiles about 2650 distinct classes, so 4096
        # holds the whole working set. Its cost: ~15 MiB heap after GC for
        # the board; for the full registry +30-40 MiB non-heap (Metaspace,
        # code cache) and up to ~140 MiB heap. A static conf: it sizes the
        # cache once per JVM.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def compiled_classes(spark: SparkSession) -> int:
    """How many classes whole-stage and expression codegen have compiled
    in this JVM so far: the count of Spark's own ``CodegenMetrics``
    compilation-time histogram, read over py4j. A cache hit compiles
    nothing, so the difference across a run is its compile count."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
