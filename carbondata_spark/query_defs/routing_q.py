"""Partition pruning + aggregate-table routing under the driver gate.

Both are locally tested (tests/test_partitioned.py,
tests/test_sql_and_agg.py); these rows put them under the driver's
CORRECTNESS check as well:

- ``q_store_partition_pruned``: orders ingested into a PARTITIONER
  table (hive-layout ``o_orderstatus=X`` directories per segment,
  reference CarbonSqlParser.scala:983-991), scanned with a partition
  filter. Catalyst prunes whole directories (PartitionFilters — pinned
  by tests/test_plans.py); the driver hash pins that pruning drops no
  row and leaks no row from other partitions, across a 2-segment union.

- ``q_agg_rollup_routing``: a GROUP BY answered FROM the materialized
  rollup (plans/agg_table.py — the reference's aggregate-table
  surface, AggregateTableSelector.java semantics). The summary holds
  PARTIAL aggregates per fact-load batch; this row forces real partial
  recombination (two summary segments with overlapping groups: the
  aggregate table is created after the first fact load, the second
  fact load appends an incremental partial) and checks the rollup
  algebra — sum of counts, min of mins, max of maxes — against direct
  SQL aggregation over the raw parquet. Measures are deliberately
  count/min/max: they recombine EXACTLY for doubles, so the hash
  compares algebra, not float-summation order (the sum/avg money path
  is driver-checked through q01's exact-decimal form instead). That the
  result really is served from the summary table, not the fact, is
  pinned by an inputFiles assertion in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from carbondata_spark.functions import dsum
from carbondata_spark.queries import register, t
from carbondata_spark.query_defs._tmpdirs import built


def _routing_store(spark: SparkSession, sf_dir: str):
    """The two routed tables, built once per (sf_dir, Spark app):

    - ``orders_part``: PARTITIONER on o_orderstatus, 2 segments split
      on o_orderkey parity — every partition value appears in both
      segments, so pruning must compose with the segment union.
    - ``orders_fact`` + rollup ``by_prio``: aggregate table created
      after segment 0, incrementally refreshed by segment 1's load →
      two summary segments whose partial rows overlap on every group.
    """
    from carbondata_spark.plans.agg_table import create_aggregate_table
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> str:
        store = CarbonStore(spark, path)
        orders = t(spark, sf_dir, "orders")

        store.create_table(
            "orders_part",
            orders.schema,
            sort_columns=["o_orderdate"],
            partition_columns=["o_orderstatus"],
        )
        store.load("orders_part", orders.filter(F.col("o_orderkey") % 2 == 0))
        store.load("orders_part", orders.filter(F.col("o_orderkey") % 2 == 1))

        store.create_table("orders_fact", orders.schema, sort_columns=["o_orderkey"])
        store.load("orders_fact", orders.filter(F.col("o_orderkey") % 2 == 0))
        create_aggregate_table(
            store,
            "orders_fact",
            "by_prio",
            group_cols=["o_orderstatus", "o_orderpriority"],
            measures={"o_totalprice": ["sum", "min", "max", "count"]},
        )
        # this load's built-in refresh appends the incremental partial
        store.load("orders_fact", orders.filter(F.col("o_orderkey") % 2 == 1))
        return path

    return CarbonStore(spark, built(spark, "routingq", build, sf_dir))


@register(
    "q_store_partition_pruned",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    doc="Partition-pruned scan: orders in a PARTITIONER(o_orderstatus) "
    "store table (hive directory layout per segment), filtered to one "
    "partition value across a 2-segment union — Catalyst skips the "
    "other partitions' directories entirely (PartitionFilters plan pin "
    "in tests/test_plans.py) and the hash pins that pruning is "
    "row-exact vs DuckDB over the raw parquet.",
)
def q_store_partition_pruned(spark, sf_dir):
    store = _routing_store(spark, sf_dir)
    return (
        store.table("orders_part")
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


@register(
    "q_agg_rollup_routing",
    oracle="""
    SELECT o_orderpriority,
           count(o_totalprice) AS n_orders,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="GROUP BY served from the materialized rollup: rewrite_aggregate "
    "routes (o_orderpriority) onto the (o_orderstatus, o_orderpriority) "
    "aggregate table and recombines its two partial summary segments "
    "(sum of counts, min of mins, max of maxes) — must equal direct "
    "aggregation of the raw parquet in DuckDB. Served-from-summary is "
    "pinned via inputFiles in tests/test_plans.py.",
)
def q_agg_rollup_routing(spark, sf_dir):
    from carbondata_spark.plans.agg_table import rewrite_aggregate

    store = _routing_store(spark, sf_dir)
    out = rewrite_aggregate(
        store,
        "orders_fact",
        group_cols=["o_orderpriority"],
        measures={"o_totalprice": ["count", "min", "max"]},
    )
    return out.select(
        "o_orderpriority",
        F.col("count_o_totalprice").alias("n_orders"),
        F.col("min_o_totalprice").alias("min_price"),
        F.col("max_o_totalprice").alias("max_price"),
    )
