"""JDBC source under the driver's DuckDB differential gate.

The JDBC input path (sources/formats.read_jdbc — reference parity:
JdbcRDDExt / JdbcResultSetRDD, integration/spark/.../rdd/JdbcRDDExt.scala,
incl. the range-partitioned parallel read) is covered by local tests
(tests/test_jdbc.py). This row puts the full round-trip in front
of the hard signal: customer is written INTO an embedded Derby database
over JDBC, read back as a 4-slice range-partitioned scan, and every row
must match DuckDB reading the ORIGINAL parquet. Bad bound arithmetic in
the range slicing (the classic off-by-one that drops the boundary row or
double-reads an overlap) changes the hash.

Embedded Derby is same-JVM only, which is exactly Spark local mode; on a
cluster the same option plumbing takes a networked driver jar instead.
The derby jars ship in Spark's own jars directory (they back the Hive
metastore), so the driver's plain session has them on the classpath.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from carbondata_spark.queries import register, t
from carbondata_spark.query_defs._tmpdirs import built

_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_dim(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    """(url, lower, upper) of the Derby copy of customer, written once
    per (sf_dir, Spark app)."""

    def build(home: str) -> tuple[str, int, int]:
        # keep derby.log out of the driver's cwd; no-op if another Derby
        # (the metastore) already booted this JVM — the db path below is
        # absolute, so the home only steers the log file
        spark._jvm.System.setProperty("derby.system.home", home)
        url = f"jdbc:derby:{home}/db;create=true"
        cust = t(spark, sf_dir, "customer")
        lo, hi = cust.agg(
            F.min("c_custkey").alias("lo"), F.max("c_custkey").alias("hi")
        ).collect()[0]
        (
            cust.write.format("jdbc")
            .option("url", url)
            .option("dbtable", "customer_dim")
            .option("driver", _DRIVER)
            .mode("overwrite")
            .save()
        )
        return url, int(lo), int(hi)

    return built(spark, "jdbcq", build, sf_dir)


@register(
    "q_source_jdbc",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
    doc="JDBC dimension-table round-trip (JdbcRDDExt parity): customer "
    "written into embedded Derby over JDBC, read back with a "
    "4-partition range-sliced scan on c_custkey (the scale path — one "
    "connection per executor slice, no single-connection bottleneck), "
    "every row hash-checked against the original parquet. Doubles and "
    "strings transit Derby DOUBLE/CLOB bit-exactly.",
)
def q_source_jdbc(spark, sf_dir):
    from carbondata_spark.sources.formats import read_jdbc

    url, lo, hi = _derby_dim(spark, sf_dir)
    got = read_jdbc(
        spark,
        url,
        "customer_dim",
        properties={"driver": _DRIVER},
        partition_column="c_custkey",
        num_partitions=4,
        lower_bound=lo,
        upper_bound=hi + 1,
    )
    return got.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
