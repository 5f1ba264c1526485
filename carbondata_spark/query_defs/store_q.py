"""Store-backed contract queries: the CarbonStore scan path under the
driver's DuckDB differential gate.

Local tests verify the store (segments, schema evolution, zone-map
pruning), but a driver-checked query that reads raw parquet exercises
none of it. These queries put the rebuilt core scan path — the analogue of
the reference's CarbonQueryRDD segment union
(integration/spark/.../rdd/CarbonQueryRDD.scala:61-200) and driver-side
block pruning (hadoop/.../CarbonInputFormat.java:177-201) — in front of
the hard signal: testdata is loaded INTO a store table (multiple
segments, an ALTER mid-stream, per-range segments for pruning), queried
through ``CarbonStore.table()`` / ``CarbonStore.scan()``, and the result
must match DuckDB reading the ORIGINAL parquet. If segment union,
evolution alignment, default filling, or zone-map pruning drop or
duplicate a single row, the hash mismatches.

The store is built once per (sf_dir, Spark app): ~15k rows at
the driver's sf0.01, built once, reused by all three queries.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from carbondata_spark.functions import dround, dsum
from carbondata_spark.queries import register, t
from carbondata_spark.query_defs._tmpdirs import built

_YEAR_BUCKETS = [(1995, 1996), (1997, 1998), (1999, 2000), (2001, 2002)]


def _orders_store(spark: SparkSession, sf_dir: str):
    """The two store tables, built once per (sf_dir, Spark app):

    - ``orders_c``: 3 segments split by o_orderkey % 3, with an
      ALTER ADD COLUMNS (channel, default 'legacy') between the second
      and third load — the third segment carries channel='web', the
      first two are aligned by the evolution default at read time.
    - ``orders_by_year``: one segment per order-date range, so the
      manifest zone-maps give ``scan()`` disjoint [min,max] intervals
      to prune against.
    """
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> str:
        store = CarbonStore(spark, path)
        orders = t(spark, sf_dir, "orders")

        store.create_table("orders_c", orders.schema)
        store.load("orders_c", orders.filter(F.col("o_orderkey") % 3 == 0))
        store.load("orders_c", orders.filter(F.col("o_orderkey") % 3 == 1))
        store.alter_add_columns(
            "orders_c",
            [T.StructField("channel", T.StringType())],
            defaults={"channel": "legacy"},
        )
        store.load(
            "orders_c",
            orders.filter(F.col("o_orderkey") % 3 == 2).withColumn("channel", F.lit("web")),
        )

        store.create_table("orders_by_year", orders.schema)
        for lo, hi in _YEAR_BUCKETS:
            seg = orders.filter(
                (F.col("o_orderdate") >= F.lit(datetime.datetime(lo, 1, 1)))
                & (F.col("o_orderdate") < F.lit(datetime.datetime(hi + 1, 1, 1)))
            )
            store.load("orders_by_year", seg)

        return path

    return CarbonStore(spark, built(spark, "storeq", build, sf_dir))


@register(
    "q_store_scan",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS cnt,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="CarbonStore segment-union scan: orders loaded as 3 segments "
    "(split on o_orderkey % 3, one loaded AFTER an ALTER ADD COLUMNS), "
    "aggregated through store.table(); must equal DuckDB over the raw "
    "parquet (CarbonQueryRDD.scala:61-200 semantics).",
)
def q_store_scan(spark, sf_dir):
    store = _orders_store(spark, sf_dir)
    return (
        store.table("orders_c")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


@register(
    "q_store_evolution",
    oracle="""
    SELECT CASE WHEN o_orderkey % 3 = 2 THEN 'web' ELSE 'legacy' END AS channel,
           count(*) AS cnt,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1
    """,
    doc="Schema evolution in the scan path: segments loaded before the "
    "ALTER are aligned by name and filled with the declared default "
    "('legacy'), the post-ALTER segment carries real values ('web') — "
    "RestructureUtil.java:128 semantics under the driver gate.",
)
def q_store_evolution(spark, sf_dir):
    store = _orders_store(spark, sf_dir)
    return (
        store.table("orders_c")
        .groupBy("channel")
        .agg(
            F.count("*").alias("cnt"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


@register(
    "q_complex_nested",
    oracle="""
    WITH nested AS (
      SELECT o_custkey,
             list(struct_pack(o_orderkey := o_orderkey, o_totalprice := o_totalprice)) AS orders_arr
      FROM orders WHERE o_custkey < 300
      GROUP BY o_custkey
    ),
    exploded AS (
      SELECT o_custkey,
             len(orders_arr) AS n_orders,
             unnest(orders_arr, recursive := true)
      FROM nested
    )
    SELECT o_custkey,
           CAST(n_orders AS INT) AS n_orders,
           count(*) AS n_exploded,
           CAST(max(o_orderkey) AS BIGINT) AS max_orderkey,
           round(sum(o_totalprice), 2) AS total
    FROM exploded
    GROUP BY o_custkey, n_orders
    """,
    doc="Nested complex types through the store: per-customer "
    "array<struct<o_orderkey,o_totalprice>> built with collect_list, "
    "LOADed into a CarbonStore table (parquet nested encoding), read "
    "back, size()d, exploded, and struct fields accessed — the "
    "ArrayQueryType/StructQueryType result-assembly path "
    "(core/.../querytypes/ArrayQueryType.java:36, "
    "ComplexDataTypesTestCase.scala) re-expressed as native Spark "
    "nested-type scans. The oracle rebuilds the same nesting in DuckDB "
    "from raw parquet, so a mangled array or struct field breaks the "
    "hash.",
)
def q_complex_nested(spark, sf_dir):
    store = _orders_store(spark, sf_dir)
    if not store.has_table("cust_orders_nested"):
        orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
        nested = orders.groupBy("o_custkey").agg(
            F.collect_list(F.struct("o_orderkey", "o_totalprice")).alias("orders_arr")
        )
        store.create_table("cust_orders_nested", nested.schema, sort_columns=[])
        store.load("cust_orders_nested", nested)
    back = store.table("cust_orders_nested")
    exploded = back.select(
        "o_custkey",
        F.size("orders_arr").alias("n_orders"),
        F.explode("orders_arr").alias("o"),
    )
    return exploded.groupBy("o_custkey", "n_orders").agg(
        F.count("*").alias("n_exploded"),
        F.max("o.o_orderkey").alias("max_orderkey"),
        dround(F.sum("o.o_totalprice"), 2).alias("total"),
    )


@register(
    "q_complex_sql_load",
    oracle="""
    WITH legs AS (
      SELECT o_orderstatus, 1 AS leg, o_totalprice AS dist
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderstatus, 2 AS leg, o_totalprice * 0.5 AS dist
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT o_orderstatus,
           count(*) AS n_legs,
           CAST(max(leg) AS INT) AS max_leg,
           CAST(round(sum(CAST(dist AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_dist
    FROM legs GROUP BY o_orderstatus
    """,
    doc="Complex types through the SQL front-end end-to-end: orders are "
    "re-encoded as a '$'/':'-delimited CSV (complexdata.csv shape, "
    "CarbonSqlParser.scala:95-96), the table is CREATEd via SQL with an "
    "array<struct<leg:int,dist:double>> column, LOAD DATA INPATH parses "
    "the two-level delimiters into typed nested columns "
    "(COMPLEX_DELIMITER_LEVEL_1/2 options), and the query explodes the "
    "array and aggregates struct fields. The oracle rebuilds the same "
    "legs from raw parquet — a wrong delimiter split, cast, or field "
    "order breaks the hash.",
)
def q_complex_sql_load(spark, sf_dir):
    from carbondata_spark.sql import CarbonSession
    from carbondata_spark.store import CarbonStore

    def build(base: str) -> str:
        csv_dir = os.path.join(base, "csv")
        orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
        # route = "1:<price>$2:<price*0.5>" — double→string→double
        # round-trips exactly (Java Double.toString), so the oracle's
        # arithmetic over the raw parquet doubles matches bit-for-bit.
        enc = orders.select(
            "o_orderkey",
            "o_orderstatus",
            F.concat(
                F.lit("1:"),
                F.col("o_totalprice").cast("string"),
                F.lit("$2:"),
                (F.col("o_totalprice") * 0.5).cast("string"),
            ).alias("route"),
        )
        enc.write.option("delimiter", "|").option("header", False).mode("overwrite").csv(csv_dir)
        cs = CarbonSession(spark, CarbonStore(spark, os.path.join(base, "store")))
        cs.sql(
            "CREATE TABLE complex_orders (o_orderkey bigint, o_orderstatus string,"
            " route array<struct<leg:int,dist:double>>)"
        )
        cs.sql(
            f"LOAD DATA INPATH '{csv_dir}' INTO TABLE complex_orders"
            " OPTIONS('delimiter'='|',"
            " 'fileheader'='o_orderkey,o_orderstatus,route',"
            " 'complex_delimiter_level_1'='$', 'complex_delimiter_level_2'=':')"
        )
        return os.path.join(base, "store")

    store = CarbonStore(spark, built(spark, "complexsql", build, sf_dir))
    legs = store.table("complex_orders").select(
        "o_orderstatus", F.explode("route").alias("r")
    )
    # DECIMAL(18,4) sums on BOTH sides: the leg distances have ≤3 decimal
    # digits, so the cast is exact, both engines sum exactly (no
    # order-dependent double drift), and round(...,2) never sits on an
    # engine-dependent half-cent boundary (1400-term double
    # sums at 2.5e8 drift ~1e-4 across engines vs 3.8e-5 boundary margin).
    return legs.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_legs"),
        F.max("r.leg").alias("max_leg"),
        F.round(F.sum(F.col("r.dist").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_dist"),
    )


@register(
    "q_cube_ddl",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS cnt,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total,
           sum(CAST(o_custkey AS DOUBLE)) AS sum_cust
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
    doc="CREATE CUBE front door end-to-end (CarbonSqlParser.scala:703-729, "
    "cubeSchema.scala:107-126): the cube is created via SQL with an "
    "explicit DIMENSIONS/MEASURES split, the bigint measure o_custkey "
    "surfaces as double (CarbonDatasourceRelation.scala:194-208 "
    "coercion), orders is LOADed with FORMAT parquet (conformed to the "
    "cube schema: projection + coercion), and the aggregate runs through "
    "the SQL passthrough over the registered cube view. The oracle "
    "applies the same coercion to raw parquet, so a wrong dim/measure "
    "split, missed coercion, or load misprojection breaks the hash. "
    "sum(o_custkey): integer-valued doubles sum exactly (no decimal "
    "needed); sum(o_totalprice) uses the decimal convention.",
)
def q_cube_ddl(spark, sf_dir):
    from carbondata_spark.catalog import table_path
    from carbondata_spark.sql import CarbonSession
    from carbondata_spark.store import CarbonStore

    def build(base: str) -> str:
        cs = CarbonSession(spark, CarbonStore(spark, base))
        cs.sql(
            "CREATE CUBE orders_cube"
            " DIMENSIONS (o_orderstatus string, o_orderpriority string)"
            " MEASURES (o_totalprice double, o_custkey bigint)"
        )
        cs.sql(
            f"LOAD DATA INPATH '{table_path(sf_dir, 'orders')}'"
            " INTO TABLE orders_cube OPTIONS('format'='parquet')"
        )
        return base

    cs = CarbonSession(spark, CarbonStore(spark, built(spark, "cubeddl", build, sf_dir)))
    return cs.sql(
        "SELECT o_orderstatus, o_orderpriority,"
        " count(*) AS cnt,"
        " CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total,"
        " sum(o_custkey) AS sum_cust"
        " FROM orders_cube GROUP BY o_orderstatus, o_orderpriority"
    )


@register(
    "q_store_time_travel",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS cnt,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey % 2 = 0
    GROUP BY o_orderstatus
    """,
    doc="Time-travel read (store.table(as_of_ts=...)): orders loaded as "
    "two segments (even keys, then odd) with a wall-clock instant "
    "captured between the commits; the as-of view at that instant must "
    "contain EXACTLY the first segment — manifest invalidation "
    "timestamps + the reference's deferred physical delete "
    "(clean_files) make historical segment sets reconstructible. A "
    "second load leaking into the view, or the first one dropped, "
    "breaks the hash against the even-keys oracle.",
)
def q_store_time_travel(spark, sf_dir):
    import time as _time

    from carbondata_spark.store import CarbonStore

    def build(base: str) -> tuple[str, float]:
        store = CarbonStore(spark, base)
        orders = t(spark, sf_dir, "orders")
        store.create_table("orders_tt", orders.schema)
        store.load("orders_tt", orders.filter(F.col("o_orderkey") % 2 == 0))
        mid_ts = _time.time()
        _time.sleep(0.01)
        store.load("orders_tt", orders.filter(F.col("o_orderkey") % 2 == 1))
        return base, mid_ts

    base, mid_ts = built(spark, "timetravel", build, sf_dir)
    store = CarbonStore(spark, base)
    return (
        store.table("orders_tt", as_of_ts=mid_ts)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


@register(
    "q_store_pruned",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS cnt,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-07-01 00:00:00'
    GROUP BY o_orderpriority
    """,
    doc="Zone-map segment pruning: orders loaded as one segment per "
    "date range; store.scan(o_orderdate >= 2000-07-01) skips segments "
    "whose manifest [min,max] cannot intersect (CarbonInputFormat."
    "java:177-201 driver-side pruning) and applies the residual filter; "
    "result must equal the unpruned filter over raw parquet.",
)
def q_store_pruned(spark, sf_dir):
    store = _orders_store(spark, sf_dir)
    pruned = store.scan("orders_by_year", column="o_orderdate", ge=datetime.datetime(2000, 7, 1))
    return pruned.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"),
        dsum(F.col("o_totalprice")).alias("total"),
    )


def _zorder_store(spark: SparkSession, sf_dir: str):
    """``lineitem_z``, built once per (sf_dir, Spark app): lineitem loaded
    in two segments into a ``clustering='zorder'`` table clustered on
    (l_suppkey, l_partkey) — every load Morton-orders its rows
    (zorder.py), the analogue of the reference's per-load MDKey sort
    (MDKeyGenStep.java) with trailing-column pruning power."""
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> str:
        store = CarbonStore(spark, path)
        li = t(spark, sf_dir, "lineitem")
        store.create_table(
            "lineitem_z",
            li.schema,
            sort_columns=["l_suppkey", "l_partkey"],
            properties={"clustering": "zorder"},
        )
        store.load("lineitem_z", li.filter(F.col("l_orderkey") % 2 == 0), partitions=4)
        store.load("lineitem_z", li.filter(F.col("l_orderkey") % 2 == 1), partitions=4)
        return path

    return CarbonStore(spark, built(spark, "zorder", build, sf_dir))


@register(
    "q_store_zorder",
    oracle="""
    SELECT l_returnflag,
           count(*) AS cnt,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total
    FROM lineitem
    WHERE l_partkey < 200 AND l_quantity >= 25
    GROUP BY l_returnflag
    """,
    doc="Z-order clustered store scan under the hard gate: lineitem "
    "Morton-clustered on (l_suppkey, l_partkey) across two segments, "
    "filtered on the TRAILING sort column (where lexicographic "
    "clustering prunes nothing — zorder.py), aggregated with exact "
    "decimal sums; must equal DuckDB over the raw parquet, so a single "
    "row dropped/duplicated/reordered by the Morton shuffle breaks the "
    "hash.",
)
def q_store_zorder(spark, sf_dir):
    store = _zorder_store(spark, sf_dir)
    return (
        store.table("lineitem_z")
        .filter((F.col("l_partkey") < 200) & (F.col("l_quantity") >= 25))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            dsum(F.col("l_extendedprice")).alias("total"),
        )
    )


def _bloom_store(spark: SparkSession, sf_dir: str):
    """``orders_r``, built once per (sf_dir, Spark app): orders split into
    4 segments by o_orderkey RESIDUE with ``bloom_columns=o_orderkey`` —
    every segment's zone map spans the whole key domain (range pruning
    keeps all four), but each key lives in exactly one segment, which
    only the manifest bloom can prove (bloom.py; the access path the
    reference served with its in-blocklet inverted index,
    query/filter/executer/IncludeFilterExecuterImpl.java)."""
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> str:
        store = CarbonStore(spark, path)
        orders = t(spark, sf_dir, "orders")
        store.create_table(
            "orders_r", orders.schema, properties={"bloom_columns": "o_orderkey"}
        )
        for r in range(4):
            store.load("orders_r", orders.filter(F.col("o_orderkey") % 4 == r))
        return path

    return CarbonStore(spark, built(spark, "bloom", build, sf_dir))


@register(
    "q_store_bloom_pruned",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority,
           round(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_orderkey IN (1, 6, 4242)
    ORDER BY o_orderkey
    """,
    doc="Manifest-bloom point lookup under the hard gate: orders split "
    "into 4 residue segments (every zone map spans the full key domain "
    "— range pruning keeps all four), scan(isin=[1, 6, 4242]) prunes by "
    "the per-segment o_orderkey blooms to the residue segments that can "
    "hold the keys, and the result must equal the unpruned filter over "
    "raw parquet — a single false NEGATIVE (dropped segment) loses a "
    "row and breaks the hash.",
)
def q_store_bloom_pruned(spark, sf_dir):
    store = _bloom_store(spark, sf_dir)
    return (
        store.scan("orders_r", column="o_orderkey", isin=[1, 6, 4242])
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            dround(F.col("o_totalprice"), 2).alias("totalprice"),
        )
        .orderBy("o_orderkey")
    )
