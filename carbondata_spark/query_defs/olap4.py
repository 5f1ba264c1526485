"""OLAP widening, round 2: the remaining TPC-H query shapes the
reference's 50-query suite exercises
(allqueries/AllDataTypesTestCaseAggregate.scala:52-130 breadth), adapted
to the testdata schema (no partsupp table, no commit/receipt dates —
lateness is l_shipdate vs o_orderdate), plus UNION ALL and a band/range
join.

Scale notes are per-query; the common rules: no forced broadcast of
anything that grows with the fact table, aggregates pushed below joins
where the shape allows (Q17, Q20, Q21 pre-aggregate lineitem before
joining), deterministic tiebreaks on every top-k.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from carbondata_spark.functions import dround, dsum
from carbondata_spark.queries import r2, register, t


@register(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate < TIMESTAMP '1997-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (EXISTS-aggregate): orders in one quarter with at "
    "least one lineitem shipped >90 days after order date, counted per "
    "priority. Adapted: lateness = l_shipdate vs o_orderdate (testdata "
    "has no commit/receipt dates). Left-semi join keyed on l_orderkey — "
    "one shuffle, no row duplication before the count.",
)
def q04(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01"))
        & (F.col("o_orderdate") < F.lit("1997-10-01"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "q11_value_concentration",
    oracle="""
    WITH nv AS (
      SELECT n_name, sum(s_acctbal) AS v
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name, round(v, 2) AS value
    FROM nv
    WHERE v > 0.057 * (SELECT sum(v) FROM nv)
    """,
    doc="TPC-H Q11 shape (scalar-subquery threshold): nations holding "
    ">5.7% of total supplier account balance. Adapted: supplier acctbal "
    "stands in for partsupp value (no partsupp table). The total is an "
    "unpartitioned window sum over the 25-row nation aggregate — "
    "constant-size exchange, not a fact-table reshuffle.",
)
def q11(spark, sf_dir):
    from pyspark.sql import Window as W

    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    nv = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("s_acctbal").alias("v"))
    )
    total = F.sum("v").over(W.partitionBy())
    return (
        nv.withColumn("_total", total)
        .filter(F.col("v") > 0.057 * F.col("_total"))
        .select("n_name", r2(F.col("v")).alias("value"))
    )


@register(
    "q13_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: distribution of non-urgent order counts per "
    "customer, including zero-order customers (left outer join keeps "
    "them; count(o_orderkey) ignores the null rows). Two shuffles: "
    "custkey join+agg, then the tiny c_count regroup.",
)
def q13(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q17_small_quantity",
    oracle="""
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0, 2)
             AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#4'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = part.p_partkey
      )
    """,
    doc="TPC-H Q17 shape (correlated avg subquery): revenue impact of "
    "small-quantity orders for one brand. The per-part average is "
    "computed ONCE as a pre-aggregation of lineitem (partkey-keyed "
    "shuffle), then joined back — Spark's decorrelation of the subquery, "
    "written explicitly. Part is filtered before the join; no forced "
    "broadcast (AQE decides).",
)
def q17(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    avg_q = li.groupBy("l_partkey").agg((0.2 * F.avg("l_quantity")).alias("thresh")).withColumnRenamed("l_partkey", "t_partkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_q, li.l_partkey == avg_q.t_partkey)
        .filter(F.col("l_quantity") < F.col("thresh"))
        .agg(
            dround(
                F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).cast("double") / 7.0, 2
            ).alias("avg_yearly")
        )
    )


@register(
    "q20_excess_suppliers",
    oracle="""
    SELECT s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 450
    )
    ORDER BY s_name
    """,
    doc="TPC-H Q20 shape (semi join against an aggregated subquery): "
    "suppliers who moved >450 units of PROMO-type parts. Adapted from "
    "partsupp availability to shipped quantity (no partsupp table). "
    "Lineitem is pre-aggregated per supplier BEFORE the semi join — the "
    "join input is |suppliers| rows, not |lineitem|.",
)
def q20(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    supp = t(spark, sf_dir, "supplier")
    heavy = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 450)
        .select("l_suppkey")
    )
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", r2(F.col("s_acctbal")).alias("acctbal"))
        .orderBy("s_name")
    )


@register(
    "q21_late_suppliers",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_suppkey,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ),
    per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late
      FROM li GROUP BY l_orderkey
    ),
    sole_late AS (
      SELECT DISTINCT li.l_orderkey, li.l_suppkey
      FROM li JOIN per_order po ON li.l_orderkey = po.l_orderkey
      WHERE li.late = 1 AND po.n_supp > 1 AND po.n_late = 1
    )
    SELECT s_name, count(*) AS numwait
    FROM sole_late JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    """,
    doc="TPC-H Q21 shape (exists + not-exists over siblings): suppliers "
    "who were the ONLY late shipper in multi-supplier finished orders, "
    "with the count of such orders. Adapted lateness: l_shipdate > "
    "o_orderdate + 60 days. The exists/not-exists pair is algebraized "
    "into one per-order aggregate (n_supp, n_late) — a single "
    "orderkey-keyed shuffle instead of two correlated semi/anti joins, "
    "identically on both engines.",
)
def q21(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    supp = t(spark, sf_dir, "supplier")
    tagged = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
        ).otherwise(0).alias("late"),
    )
    per_order = tagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("n_late"),
    )
    sole_late = (
        tagged.filter(F.col("late") == 1)
        .join(per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1)), "l_orderkey")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        sole_late.join(supp, sole_late.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


# q_union_all was merged into q_set_ops (query_defs/olap.py) in the r5
# registry rationalization — the duplicate-preserving branch is its 'a' tag.


@register(
    "q_range_join",
    oracle="""
    SELECT tier, count(*) AS cnt,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem
    JOIN (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 25.0), ('high', 25.0, 50.0))
         AS tiers(tier, lo, hi)
      ON l_quantity > lo AND l_quantity <= hi
    GROUP BY tier
    """,
    doc="Band/range join: lineitem bucketed into quantity tiers via a "
    "non-equi interval join. The tier table is 3 rows — broadcast nested "
    "loop against a broadcast THIS small is the scale-correct plan (the "
    "stream side never shuffles); for large interval tables the "
    "composition would bucket both sides first.",
)
def q_range_join(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    tiers = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 25.0), ("high", 25.0, 50.0)],
        "tier string, lo double, hi double",
    )
    return (
        li.join(
            F.broadcast(tiers),
            (li.l_quantity > tiers.lo) & (li.l_quantity <= tiers.hi),
        )
        .groupBy("tier")
        .agg(
            F.count("*").alias("cnt"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@register(
    "q_window_range_frame",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY epoch(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS rolling_1h,
           count(*) OVER (
             PARTITION BY user_id ORDER BY epoch(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_1h
    FROM events WHERE user_id < 50
    """,
    doc="Value-range window frame (RANGE BETWEEN 3600 PRECEDING): "
    "per-user rolling 1-hour sum/count over event time — the "
    "time-window analytics frame ROWS frames cannot express (frame "
    "membership follows the ORDER BY value, not row position). "
    "Epoch-seconds ordering keys the frame identically in both engines. "
    "Note: peer rows (equal ts) share frame results in both engines, so "
    "no unique-key tiebreak is needed for determinism.",
)
def q_window_range_frame(spark, sf_dir):
    from carbondata_spark.functions import epoch_seconds

    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        W.partitionBy("user_id")
        .orderBy(epoch_seconds(F.col("ts")))
        .rangeBetween(-3600, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        dround(F.sum("value").over(w), 2).alias("rolling_1h"),
        F.count("*").over(w).alias("n_1h"),
    )


@register(
    "q_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL')   AS linestatus,
           count(*) AS n,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
    doc="Explicit GROUPING SETS (beyond rollup/cube) + grouping() "
    "disambiguation of NULL-as-ALL vs real NULLs — the remaining "
    "grouping-analytics surface of SURVEY §2.4 (HiveQL-delegated in the "
    "reference). Expressed through Spark SQL; Catalyst expands to a "
    "single Expand + hash aggregate, one shuffle.",
)
def q_grouping_sets(spark, sf_dir):
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL')   AS linestatus,
               count(*) AS n,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """)


@register(
    "q_map_ops",
    oracle="""
    WITH m AS (
      SELECT c_custkey,
             map(['seg', 'nk'], [c_mktsegment, CAST(c_nationkey AS VARCHAR)]) AS mp
      FROM customer WHERE c_custkey <= 50
    )
    SELECT c_custkey,
           element_at(mp, 'seg')[1] AS seg_v,
           element_at(mp, 'nk')[1]  AS nk_v,
           CAST(len(map_keys(mp)) AS INT) AS n_keys,
           list_contains(map_keys(mp), 'seg') AS has_seg,
           list_contains(map_keys(mp), 'zz')  AS has_zz
    FROM m
    """,
    doc="Map-type scalar surface (SURVEY §2.8 array/map/json — the map "
    "leg): construct a map column, extract by key, enumerate keys, test "
    "membership. Spark create_map/element_at/map_keys/map_contains_key "
    "vs DuckDB map/element_at/map_keys (DuckDB extraction returns a "
    "1-element list, unwrapped with [1] so both engines emit scalars).",
)
def q_map_ops(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 50)
    mp = F.create_map(
        F.lit("seg"), F.col("c_mktsegment"),
        F.lit("nk"), F.col("c_nationkey").cast("string"),
    )
    return cust.select(
        "c_custkey",
        F.element_at(mp, "seg").alias("seg_v"),
        F.element_at(mp, "nk").alias("nk_v"),
        F.size(F.map_keys(mp)).alias("n_keys"),
        F.array_contains(F.map_keys(mp), "seg").alias("has_seg"),
        F.array_contains(F.map_keys(mp), "zz").alias("has_zz"),
    )
