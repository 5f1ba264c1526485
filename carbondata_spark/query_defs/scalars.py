"""Third batch: scalar-function surface depth — math, string, datetime,
null-handling, decimal-exact aggregation (SURVEY.md §2.8: the reference
evaluates ALL of these via Spark; the oracle pins our expression of the
semantics cross-engine)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from carbondata_spark.functions import dround
from carbondata_spark.queries import r2, register, t


@register(
    "q_scalar_math",
    oracle="""
    SELECT o_orderkey,
           round(abs(o_totalprice - 100000), 2)          AS abs_gap,
           CAST(ceil(o_totalprice / 1000) AS BIGINT)     AS price_k_ceil,
           CAST(floor(o_totalprice / 1000) AS BIGINT)    AS price_k_floor,
           round(sqrt(o_totalprice), 4)                  AS sqrt_price,
           round(ln(o_totalprice), 4)                    AS ln_price,
           round(log10(o_totalprice), 4)                 AS log10_price,
           round(pow(o_totalprice / 100000, 2), 4)       AS pow_ratio,
           CAST(mod(o_orderkey, 7) AS BIGINT)            AS key_mod7,
           CAST(sign(o_totalprice - 200000) AS DOUBLE)   AS sign_gap
    FROM orders WHERE o_orderkey <= 200
    """,
    doc="Math scalar functions (abs/ceil/floor/sqrt/ln/log10/pow/mod/sign).",
)
def q_scalar_math(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    p = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        dround(F.abs(p - 100000), 2).alias("abs_gap"),
        F.ceil(p / 1000).alias("price_k_ceil"),
        F.floor(p / 1000).alias("price_k_floor"),
        dround(F.sqrt(p), 4).alias("sqrt_price"),
        dround(F.log(p), 4).alias("ln_price"),
        dround(F.log10(p), 4).alias("log10_price"),
        dround(F.pow(p / 100000, 2), 4).alias("pow_ratio"),
        (F.col("o_orderkey") % 7).alias("key_mod7"),
        F.signum(p - 200000).alias("sign_gap"),
    )


# q_scalar_string2 / q_scalar_datetime2 were merged into q_scalar_string
# / q_scalar_datetime (query_defs/olap.py) in the r5 registry
# rationalization: same engine surface, half the driver-check budget.


@register(
    "q_null_handling",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_masked,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END AS pos_bal,
           coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END, -1.0)
             AS pos_bal_filled,
           CAST(c_acctbal IS NULL AS BOOLEAN) AS bal_is_null
    FROM customer WHERE c_custkey <= 300
    """,
    doc="NULL semantics: nullif/coalesce/CASE-to-NULL/IS NULL.",
)
def q_null_handling(spark, sf_dir):
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    pos_bal = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(r2(F.col("c_acctbal")))
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "segment_masked"
        ),
        pos_bal.alias("pos_bal"),
        F.coalesce(pos_bal, F.lit(-1.0)).alias("pos_bal_filled"),
        F.isnull("c_acctbal").alias("bal_is_null"),
    )


@register(
    "q_decimal_exact",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS exact_sum,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact decimal aggregation: doubles cast to DECIMAL(14,2) sum with "
    "no float drift in either engine (result surfaced as double for "
    "schema-stable comparison).",
)
def q_decimal_exact(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_extendedprice").cast(T.DecimalType(14, 2)))
            .cast("double")
            .alias("exact_sum"),
            F.count("*").alias("n"),
        )
    )
