"""Second OLAP batch: subqueries, disjunctive predicates, pivot,
percentiles, array functions, multi-join volume queries — rounding out
the SELECT surface the reference delegates to Spark (SURVEY.md §2.2-2.8).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from carbondata_spark.functions import dround, dsum
from carbondata_spark.queries import r2, register, t


@register(
    "q07_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, yr, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS yr,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
          OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
    ) GROUP BY supp_nation, cust_nation, yr
    """,
    doc="TPC-H Q7 shape: bi-directional nation pair volume by year "
    "(disjunctive join predicate, two roles of one dimension table).",
)
def q07(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "FRANCE") & (F.col("cust_nation") == "GERMANY") | (
        F.col("supp_nation") == "GERMANY"
    ) & (F.col("cust_nation") == "FRANCE")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("yr"))
        .agg(r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
    )


@register(
    "q12_shipmode_buckets",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS high_qty,
           CAST(sum(CASE WHEN l_quantity <  25 THEN 1 ELSE 0 END) AS BIGINT) AS low_qty
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q12 shape: join + conditional-count buckets.",
)
def q12(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = t(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("l_quantity") >= 25, 1).otherwise(0)).alias("high_qty"),
            F.sum(F.when(F.col("l_quantity") < 25, 1).otherwise(0)).alias("low_qty"),
        )
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.00 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
    doc="TPC-H Q14: promo revenue share (conditional agg ratio).",
)
def q14(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(dround(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15: top supplier by quarterly revenue (scalar subquery on a CTE).",
)
def q15(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    supp = t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", r2(F.col("total_revenue")).alias("total_revenue"))
    )


@register(
    "q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o_totalprice, 2) AS totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
      )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18: large-quantity orders (IN-subquery with HAVING).",
)
def q18(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(r2(F.sum("l_quantity")).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            r2(F.col("o_totalprice")).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "q19_disjunctive",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))
    """,
    doc="TPC-H Q19: disjunction of conjunctive range predicates across join sides.",
)
def q19(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
        | (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
        | (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q22_acctbal_gap",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.00)
      AND c_custkey NOT IN
        (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
    doc="TPC-H Q22 shape: scalar subquery threshold + anti join (against "
    "urgent orders — every customer has *some* order in the test data).",
)
def q22(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("numcust"), r2(F.sum("c_acctbal")).alias("totacctbal"))
    )


@register(
    "q_correlated_exists",
    oracle="""
    SELECT p_brand, count(*) AS n_parts_traded
    FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
    GROUP BY p_brand
    """,
    doc="Correlated EXISTS subquery (decorrelated to a semi join by Catalyst).",
)
def q_correlated_exists(spark, sf_dir):
    part = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts_traded"))
    )


@register(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           round(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0), 2) AS qty_O,
           round(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0), 2) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Pivot (groupBy().pivot() == conditional aggregation).",
)
def q_pivot(spark, sf_dir):
    out = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )
    return out.select(
        "l_returnflag",
        r2(F.coalesce(F.col("O"), F.lit(0.0))).alias("qty_O"),
        r2(F.coalesce(F.col("F"), F.lit(0.0))).alias("qty_F"),
    )


@register(
    "q_percentile",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
           round(quantile_cont(o_totalprice, 0.95), 2) AS p95
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Exact interpolated percentiles (Spark percentile == DuckDB quantile_cont).",
)
def q_percentile(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            r2(F.percentile("o_totalprice", F.lit(0.5))).alias("p50"),
            r2(F.percentile("o_totalprice", F.lit(0.95))).alias("p95"),
        )
    )


@register(
    "q_array_ops",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(embedding[1]::DOUBLE, 4) AS first_val,
           round(list_aggregate(embedding::DOUBLE[], 'sum'), 4) AS vec_sum,
           round(list_aggregate(embedding::DOUBLE[], 'max'), 4) AS vec_max
    FROM embeddings WHERE vec_id < 100
    """,
    doc="Array scalar functions over the embedding column (size / index / "
    "aggregate / max) — complex-type query surface (reference "
    "ArrayQueryType, core/.../querytypes/ArrayQueryType.java:36).",
)
def q_array_ops(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    vd = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        dround(F.element_at(vd, 1), 4).alias("first_val"),
        dround(F.aggregate(vd, F.lit(0.0), lambda a, x: a + x), 4).alias("vec_sum"),
        dround(F.array_max(vd), 4).alias("vec_max"),
    )


@register(
    "q_approx_distinct",
    # The raw sketch outputs can never have a cross-engine value oracle
    # (Spark's HLL++ / KLL differ from DuckDB's sketches by design), so
    # the query emits the EXACT answers plus Spark-computed booleans
    # asserting the sketch estimates stay inside their error bounds —
    # the oracle then verifies the exact aggregation for real and pins
    # the booleans true. Sketches are deterministic for fixed data +
    # precision, so the bound is a hard check, not a flaky one.
    # Bounds: HLL rsd=0.01 vs a 5% gate (5 sigma); percentile_approx
    # accuracy=10000 vs a 2% relative-value gate on near-uniform prices.
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       true AS count_within_5pct,
       true AS median_within_2pct
FROM lineitem GROUP BY l_returnflag
""",
    doc="Approximate distinct + approximate quantiles (HLL / KLL "
    "sketches) verified by bounded relative error against the exact "
    "answers computed in the same pass.",
)
def q_approx_distinct(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("approx_median"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_median"),
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            / F.col("exact_orders")
            <= F.lit(0.05)
        ).alias("count_within_5pct"),
        (
            F.abs(F.col("approx_median") - F.col("exact_median"))
            / F.col("exact_median")
            <= F.lit(0.02)
        ).alias("median_within_2pct"),
    )
