"""Testdata loaders and deterministic geotag derivation (FIXTURES.md F7).

The driver's correctness gate runs over the pre-registered TPC-H-ish parquet
tables, so every geospatial query derives its lat/lng *inside the query* from
a key column with pure integer arithmetic — identical in Spark
(``geotag_lat_sql``) and in the DuckDB oracle (``GEOTAG_LAT_SQL``).  At
production scale the same code path reads the Iceberg ``images`` table and
uses the phash-derived anchor instead (sources/images.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import geotag_lat_sql, geotag_lng_sql

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# The table-format seam (SURVEY §2.7 scan/source row): the engine's target
# input is an Iceberg table; this sandbox has no Iceberg runtime jars, so
# parquet stands in.  Every read goes through load_table, so a deployment
# swaps the format here (e.g. SPARK_GRAFT_TABLE_FORMAT=iceberg with paths
# as catalog identifiers) without touching any operator or query.
TABLE_FORMAT = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if TABLE_FORMAT == "parquet":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return spark.read.format(TABLE_FORMAT).load(f"{sf_dir}/{name}")


def geotagged_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact side: one geotagged point per order row.

    Columns: ``point_id, lat, lng`` — lat/lng a pure function of o_orderkey.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("point_id"),
        F.expr(geotag_lat_sql("o_orderkey")).alias("lat"),
        F.expr(geotag_lng_sql("o_orderkey")).alias("lng"),
    )


def geotagged_queries(spark: SparkSession, sf_dir: str, limit: int = 16) -> DataFrame:
    """The small query side for kNN: one point per low-key customer row.

    Key is offset so query points don't coincide with fact points.
    """
    customer = load_table(spark, sf_dir, "customer")
    key = "(c_custkey + 1000000007)"
    return (
        customer.filter(F.col("c_custkey") <= limit)
        .select(
            F.col("c_custkey").alias("query_id"),
            F.expr(geotag_lat_sql(key)).alias("qlat"),
            F.expr(geotag_lng_sql(key)).alias("qlng"),
        )
    )


GEOTAG_POINTS_SQL = (
    "SELECT o_orderkey AS point_id, "
    "(-90.0 + 180.0 * (((o_orderkey * 2654435761) % 4294967296) / 4294967296.0)) AS lat, "
    "(-180.0 + 360.0 * (((o_orderkey * 2246822519 + 1013904223) % 4294967296) / 4294967296.0)) AS lng "
    "FROM orders"
)

GEOTAG_QUERIES_SQL = (
    "SELECT c_custkey AS query_id, "
    "(-90.0 + 180.0 * ((((c_custkey + 1000000007) * 2654435761) % 4294967296) / 4294967296.0)) AS qlat, "
    "(-180.0 + 360.0 * ((((c_custkey + 1000000007) * 2246822519 + 1013904223) % 4294967296) / 4294967296.0)) AS qlng "
    "FROM customer WHERE c_custkey <= {limit}"
)
