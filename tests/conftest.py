from __future__ import annotations

import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    """The production session config, the one perfbench runs: master and
    shuffle width both derived from the CPU count (``get_session``)."""
    from map_spark_sql_spark.session import get_session

    s = get_session(app_name="map_spark_sql_spark-tests")
    yield s
    s.stop()


def _plan_nodes(df, execute: bool):
    """Yield ``(nodeName, simpleString)`` for every node of ``df``'s
    physical plan, walked as a tree. ``execute`` runs an action first, so
    the adaptive plan is the final one; without it the walk sees the plan
    as built, before AQE re-optimizes it at runtime."""
    if execute:
        df.collect()
    jvm = df.sparkSession._jvm
    stack = [
        jvm.org.apache.spark.sql.execution.SparkPlanInfo.fromSparkPlan(
            df._jdf.queryExecution().executedPlan()
        )
    ]
    while stack:
        node = stack.pop()
        yield node.nodeName(), node.simpleString()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


@pytest.fixture(scope="session")
def plan_nodes():
    """The shared plan-tree walker: ``plan_nodes(df, execute=...)``."""
    return _plan_nodes


OCCURRENCE_SCHEMA = StructType(
    [
        StructField("datasetKey", StringType()),
        StructField("publishingOrgKey", StringType()),
        StructField("publishingCountry", StringType()),
        StructField("networkKey", ArrayType(StringType())),
        StructField("countryCode", StringType()),
        StructField("basisOfRecord", StringType()),
        StructField("decimalLatitude", DoubleType()),
        StructField("decimalLongitude", DoubleType()),
        StructField("kingdomKey", IntegerType()),
        StructField("phylumKey", IntegerType()),
        StructField("classKey", IntegerType()),
        StructField("orderKey", IntegerType()),
        StructField("familyKey", IntegerType()),
        StructField("genusKey", IntegerType()),
        StructField("speciesKey", IntegerType()),
        StructField("taxonKey", IntegerType()),
        StructField("year", IntegerType()),
        StructField("occurrenceStatus", StringType()),
        StructField("hasGeospatialIssues", BooleanType()),
    ]
)


def _occ(
    lat=10.0,
    lng=20.0,
    taxon=212,
    dataset="ds-1",
    country="DK",
    bor="HUMAN_OBSERVATION",
    year=2000,
    status="PRESENT",
    issues=False,
    network=None,
    **overrides,
):
    row = {
        "datasetKey": dataset,
        "publishingOrgKey": "org-1",
        "publishingCountry": "DK",
        "networkKey": network,
        "countryCode": country,
        "basisOfRecord": bor,
        "decimalLatitude": lat,
        "decimalLongitude": lng,
        "kingdomKey": 1,
        "phylumKey": None,
        "classKey": None,
        "orderKey": None,
        "familyKey": None,
        "genusKey": None,
        "speciesKey": taxon,
        "taxonKey": taxon,
        "year": year,
        "occurrenceStatus": status,
        "hasGeospatialIssues": issues,
    }
    row.update(overrides)
    return row


@pytest.fixture(scope="session")
def occurrence_df(spark):
    """Synthetic occurrence fixture per FIXTURES.md guidance: rows that must
    be dropped at ingest, all-null taxa, duplicate locations, southern-subset
    and unplottable latitudes, tile-edge pixels, and one hot map view."""
    rows = [
        # (a) dropped at ingest
        _occ(lat=None),
        _occ(lng=None),
        _occ(status="ABSENT"),
        _occ(issues=True),
        # (b) all-null taxon keys -> still emits 0:0
        _occ(taxon=None, kingdomKey=None, dataset=None, country=None,
             publishingOrgKey=None, publishingCountry=None),
        # (c) duplicate locations at varying precision
        _occ(lat=10.0, lng=20.0),
        _occ(lat=10.0, lng=20.0, year=2001),
        _occ(lat=10.0001, lng=20.0001),
        # (d) southern subset
        _occ(lat=-75.0, lng=30.0, taxon=99),
        _occ(lat=0.5, lng=30.0, taxon=99),
        # (e) unplottable in EPSG:3857
        _occ(lat=88.0, lng=10.0, taxon=77),
        _occ(lat=-88.0, lng=10.0, taxon=77),
        # (f) tile-edge pixels at low zoom (lng near date line)
        _occ(lat=0.0, lng=179.99, taxon=55),
        _occ(lat=0.0, lng=-179.99, taxon=55),
        # networks
        _occ(network=["net-1", "net-2"], taxon=33),
    ]
    # (g) one hot view: many rows for taxon 500
    rows += [_occ(taxon=500, lat=1.0 + i * 0.01, lng=2.0) for i in range(50)]
    return spark.createDataFrame(rows, OCCURRENCE_SCHEMA)
