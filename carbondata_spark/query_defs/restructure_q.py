"""ALTER CUBE restructure driver row.

Puts the SURVEY §2.10 ALTER CUBE restructure item, which local tests
cover, under a full driver-oracle row: the reference's restructure
statement driven through
the SQL front door end-to-end, with the post-restructure scan checked
against a closed-form DuckDB oracle.

tests/test_restructure_q.py checks the restructure semantics the row
relies on (dropped column gone from reads, default-filled column).

Reference provenance: ALTER CUBE grammar CarbonSqlParser.scala:731-776;
restructure default-fill over pre-ALTER segments RestructureUtil.java:128;
dropped columns removed from reads of every segment (the reference's
restructure path rewrites the schema, not the data).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from carbondata_spark.queries import register
from carbondata_spark.query_defs._tmpdirs import built


def _cube_session(spark: SparkSession, sf_dir: str):
    """A session over the restructured cube, built once per (sf_dir,
    Spark app): segment 0 loaded before the ALTER, segment 1 after."""
    from carbondata_spark.catalog import table_path
    from carbondata_spark.sql import CarbonSession
    from carbondata_spark.store import CarbonStore

    def build(base: str) -> str:
        cs = CarbonSession(spark, CarbonStore(spark, base))
        cs.sql(
            "CREATE CUBE cust_cube"
            " DIMENSIONS (c_mktsegment string)"
            " MEASURES (c_acctbal double, c_custkey bigint)"
        )
        load = (
            f"LOAD DATA INPATH '{table_path(sf_dir, 'customer')}'"
            " INTO TABLE cust_cube OPTIONS('format'='parquet')"
        )
        cs.sql(load)  # segment 0: pre-restructure schema
        cs.sql(
            "ALTER CUBE cust_cube DROP (c_acctbal)"
            " ADD MEASURES (c_nationkey bigint)"
            " OPTIONS (DEFAULTS [c_nationkey=-1])"
        )
        cs.sql(load)  # segment 1: carries real c_nationkey values
        return base

    store = CarbonStore(spark, built(spark, "altercube", build, sf_dir))
    return CarbonSession(spark, store)


@register(
    "q_alter_cube_restructure",
    oracle="""
    WITH both_loads AS (
      SELECT c_mktsegment, c_custkey, -1 AS c_nationkey FROM customer
      UNION ALL
      SELECT c_mktsegment, c_custkey, c_nationkey FROM customer
    )
    SELECT c_mktsegment,
           count(*) AS cnt,
           sum(CAST(c_custkey AS DOUBLE)) AS sum_cust,
           sum(CAST(c_nationkey AS DOUBLE)) AS sum_nation
    FROM both_loads
    GROUP BY c_mktsegment
    """,
    doc="ALTER CUBE restructure through the SQL front door "
    "(CarbonSqlParser.scala:731-776): CREATE CUBE over customer dims/"
    "measures, LOAD segment 0, then ONE restructure statement that both "
    "DROPs a measure (c_acctbal — removed from reads of every segment) "
    "and ADDs a measure with a declared default (c_nationkey, "
    "DEFAULTS [c_nationkey=-1] — RestructureUtil.java:128 fill for the "
    "pre-ALTER segment), then LOAD segment 1 carrying REAL c_nationkey "
    "values from the same parquet. The aggregate over the union scan "
    "sees every customer twice: once with the default (-1), once with "
    "the real nation key — the oracle rebuilds exactly that union from "
    "raw parquet, so a misfilled default, a leaked dropped column, or a "
    "post-ALTER load that misprojects breaks the hash. Integer-valued "
    "double sums are order-independent-exact (|sum| << 2^53), so no "
    "rounding is needed.",
)
def q_alter_cube_restructure(spark: SparkSession, sf_dir: str):
    return _cube_session(spark, sf_dir).sql(
        "SELECT c_mktsegment,"
        " count(*) AS cnt,"
        " sum(c_custkey) AS sum_cust,"
        " sum(c_nationkey) AS sum_nation"
        " FROM cust_cube GROUP BY c_mktsegment"
    )
