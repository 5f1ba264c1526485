"""Fourth batch: nested-aggregate ratio (Q8), multi-exclusion distinct
counts (Q16), TF-IDF top terms (text-mining operator with a full SQL
oracle)."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from carbondata_spark.functions import dround
from carbondata_spark.queries import r2, register, t


@register(
    "q08_market_share",
    oracle="""
    SELECT yr, round(sum(brazil_volume) / sum(volume), 4) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             l_extendedprice * (1 - l_discount) AS volume,
             CASE WHEN n2.n_name = 'BRAZIL'
                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS brazil_volume
      FROM lineitem, orders, customer, supplier, nation n1, nation n2, region
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND l_suppkey = s_suppkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    ) GROUP BY yr
    """,
    doc="TPC-H Q8 shape: supplier-nation market share within a region — "
    "conditional volume ratio per year.",
)
def q08(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    brazil = F.when(F.col("supp_nation") == "BRAZIL", volume).otherwise(F.lit(0.0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(reg), F.col("n1_region") == reg.r_regionkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(dround(F.sum(brazil) / F.sum(volume), 4).alias("mkt_share"))
    )


@register(
    "q16_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part, lineitem
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#45'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 30
    """,
    doc="TPC-H Q16 shape: distinct supplier counts with <>/NOT LIKE/IN "
    "exclusions, deterministic top-30.",
)
def q16(spark, sf_dir):
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(30)
    )


@register(
    "q_custom_agg_mad",
    oracle="""
    SELECT o_orderstatus,
           round(mad(o_totalprice), 2) AS price_mad,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Custom aggregate via grouped-map pandas UDAF: median absolute "
    "deviation per group (reference CustomMeasureAggregator path, "
    "SparkUnknownCarbonAggregator.scala:37-185 — arbitrary aggregation "
    "logic shipped to the data; here applyInPandas over Arrow batches).",
)
def q_custom_agg_mad(spark, sf_dir):
    import pandas as pd

    orders = t(spark, sf_dir, "orders")

    # NB: closure references only pandas/stdlib (executor workers cannot
    # import carbondata_spark)
    def mad(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["o_totalprice"]
        med = x.median()
        m = (x - med).abs().median()
        import math

        val = math.floor(abs(m) * 100 + 0.5) / 100  # duckdb-style round
        return pd.DataFrame(
            {
                "o_orderstatus": [pdf["o_orderstatus"].iloc[0]],
                "price_mad": [val],
                "n": [len(pdf)],
            }
        )

    return (
        orders.select("o_orderstatus", "o_totalprice")
        .groupBy("o_orderstatus")
        .applyInPandas(mad, schema="o_orderstatus string, price_mad double, n long")
    )


@register(
    "p_text_tfidf",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY w),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w,
             round(tf.tf * ln(n.n_docs / df.df), 4) AS tfidf
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    )
    SELECT doc_id, w AS term, tfidf, CAST(rk AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, w) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
    headline=True,
    doc="TF-IDF top-3 terms per document (tf * ln(N/df); df(w) via a "
    "count window sharing the word-key exchange — no join; one lazy "
    "job, n_docs broadcast as a 1-row aggregate).",
)
def p_text_tfidf(spark, sf_dir):
    # operators/tfidf2.py: df(w) from a count window, no join on the word
    # key (−40% at sf0.1 against the join plan)
    from carbondata_spark.operators.tfidf2 import tfidf_top_terms_v2

    return tfidf_top_terms_v2(t(spark, sf_dir, "documents"), k=3)
