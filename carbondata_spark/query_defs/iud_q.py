"""Row-level DELETE/UPDATE under the driver's DuckDB differential gate.

Copy-on-write row-level IUD (store.delete_rows / update_rows: affected
segments rewritten, manifest swapped atomically) is covered by local
tests (tests/test_iud.py). This row puts the full path in front of the
hard signal: customer is loaded INTO
a store table as TWO segments, mutated through the SQL front door
(``DELETE FROM`` + multi-assignment ``UPDATE ... SET ... WHERE``), and
the surviving rows must match DuckDB applying the same mutations as
SELECT-time CASE/WHERE rewrites over the ORIGINAL parquet. A rewrite
that drops, duplicates, or fails to transform a single row — or touches
a segment the predicate doesn't reach — changes the hash.

The reference era predates row-level IUD (its deletes are whole-load,
SURVEY.md §2.10); later Apache CarbonData added exactly this shape, and
a 100 TB training corpus needs it (takedowns, PII redaction).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from carbondata_spark.queries import r2, register, t
from carbondata_spark.query_defs._tmpdirs import built


def _iud_store(spark: SparkSession, sf_dir: str):
    """customer as two segments, mutated once per (sf_dir, Spark app)
    through the SQL front door, then read by every later call."""
    from carbondata_spark.sql import CarbonSession
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> str:
        store = CarbonStore(spark, path)
        cust = t(spark, sf_dir, "customer")
        store.create_table("cust", cust.schema, sort_columns=["c_custkey"])
        # two segments so the mutation predicates cross segment bounds:
        # the copy-on-write rewrite must touch both, and only where hit
        store.load("cust", cust.filter(F.col("c_custkey") % 2 == 0))
        store.load("cust", cust.filter(F.col("c_custkey") % 2 == 1))
        ses = CarbonSession(spark, store)
        ses.sql("DELETE FROM cust WHERE c_acctbal < 0")
        ses.sql(
            "UPDATE cust SET c_name = 'redacted', "
            "c_acctbal = c_acctbal + 100.0 "
            "WHERE c_mktsegment = 'BUILDING'"
        )
        return path

    return CarbonStore(spark, built(spark, "iudq", build, sf_dir))


def _merge_store(spark: SparkSession, sf_dir: str):
    """orders as two segments, then ONE MERGE (store.merge_rows)
    applying updates (+1.0 to o_totalprice on keys ending in 3) and
    inserts (the same rows re-keyed +20M) in a single atomic swap."""
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> str:
        store = CarbonStore(spark, path)
        orders = t(spark, sf_dir, "orders")
        store.create_table("ord", orders.schema, sort_columns=["o_orderkey"])
        store.load("ord", orders.filter(F.col("o_orderkey") % 2 == 0))
        store.load("ord", orders.filter(F.col("o_orderkey") % 2 == 1))
        hits = orders.filter(F.col("o_orderkey") % 10 == 3)
        bumped = hits.withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
        )
        source = bumped.unionByName(
            bumped.withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(20_000_000)
            )
        )
        store.merge_rows("ord", source, keys="o_orderkey")
        return path

    return CarbonStore(spark, built(spark, "mergeq", build, sf_dir))


@register(
    "q_store_merge",
    oracle="""
    SELECT o_orderkey,
           round(CASE WHEN o_orderkey % 10 = 3
                      THEN o_totalprice + 1.0 ELSE o_totalprice END, 2)
               AS totalprice
    FROM orders
    UNION ALL
    SELECT o_orderkey + 20000000 AS o_orderkey,
           round(o_totalprice + 1.0, 2) AS totalprice
    FROM orders WHERE o_orderkey % 10 = 3
    """,
    doc="MERGE INTO (upsert): orders as two segments, one "
    "merge_rows call applies price updates to keys ending in 3 AND "
    "inserts the same rows re-keyed +20M — zone-map candidate pruning, "
    "one-job semi-join detection, one source join, one atomic swap. "
    "The final table must equal DuckDB's CASE rewrite UNION ALL the "
    "insert set; a dropped update, double-applied insert, or lost "
    "unmatched row changes the hash.",
)
def q_store_merge(spark, sf_dir):
    store = _merge_store(spark, sf_dir)
    return store.table("ord").select(
        "o_orderkey", r2(F.col("o_totalprice")).alias("totalprice")
    )


def _iud_pruned_store(spark: SparkSession, sf_dir: str):
    """Three RANGE-DISJOINT segments on the sort column, then mutations
    keyed on that column — the zone-map/bloom pre-prune path: the
    DELETE's detection job reads only segment 0, the point UPDATE's only
    segment 2 (pinned structurally in tests/test_iud_scale.py; THIS row
    certifies the pruned path cannot skip rows it must touch)."""
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> str:
        store = CarbonStore(spark, path)
        cust = t(spark, sf_dir, "customer")
        store.create_table(
            "cust",
            cust.schema,
            sort_columns=["c_custkey"],
            properties={"bloom_columns": "c_custkey"},
        )
        mx = cust.agg(F.max("c_custkey")).collect()[0][0]  # build-time scalar
        q1, q2 = mx // 4, mx // 2
        store.load("cust", cust.filter(F.col("c_custkey") <= q1))
        store.load(
            "cust",
            cust.filter((F.col("c_custkey") > q1) & (F.col("c_custkey") <= q2)),
        )
        store.load("cust", cust.filter(F.col("c_custkey") > q2))
        store.delete_rows("cust", f"c_custkey <= {q1 // 2}")
        store.update_rows(
            "cust",
            f"c_custkey IN ({q2 + 1}, {q2 + 3})",
            {"c_acctbal": "c_acctbal - 50.0"},
        )
        return path

    return CarbonStore(spark, built(spark, "iudpq", build, sf_dir))


@register(
    "q_store_iud_pruned",
    oracle="""
    WITH b AS (SELECT CAST(floor(max(c_custkey) / 4.0) AS BIGINT) AS q1,
                      CAST(floor(max(c_custkey) / 2.0) AS BIGINT) AS q2
               FROM customer)
    SELECT c_custkey,
           round(CASE WHEN c_custkey IN (b.q2 + 1, b.q2 + 3)
                      THEN c_acctbal - 50.0 ELSE c_acctbal END, 2) AS acctbal
    FROM customer, b
    WHERE c_custkey > CAST(floor(b.q1 / 2.0) AS BIGINT)
    """,
    doc="Pruned row-level IUD: three range-disjoint segments on "
    "the sort column, a range DELETE whose zone-map pre-prune confines "
    "detection to segment 0 and a bloom-eligible point UPDATE confined "
    "to segment 2 — the surviving table must equal DuckDB's rewrite of "
    "the original parquet. A pre-prune that wrongly skips a segment "
    "drops mutations (or keeps deleted rows) and changes the hash.",
)
def q_store_iud_pruned(spark, sf_dir):
    store = _iud_pruned_store(spark, sf_dir)
    return store.table("cust").select(
        "c_custkey", r2(F.col("c_acctbal")).alias("acctbal")
    )


@register(
    "q_store_iud",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           round(CASE WHEN c_mktsegment = 'BUILDING'
                      THEN c_acctbal + 100.0 ELSE c_acctbal END, 2) AS acctbal,
           CASE WHEN c_mktsegment = 'BUILDING'
                THEN 'redacted' ELSE c_name END AS name
    FROM customer
    WHERE c_acctbal >= 0
    """,
    doc="Row-level IUD end-to-end: customer loaded as 2 store segments, "
    "then DELETE FROM ... WHERE c_acctbal < 0 and a multi-assignment "
    "UPDATE (string constant + arithmetic expression) on the BUILDING "
    "segment-crossing predicate, both through the SQL front door; the "
    "surviving table must equal DuckDB's CASE/WHERE rewrite of the "
    "original parquet. Exercises copy-on-write rewrite provenance, "
    "zone-map recomputation on rewritten segments, and the atomic "
    "manifest swap.",
)
def q_store_iud(spark, sf_dir):
    store = _iud_store(spark, sf_dir)
    return store.table("cust").select(
        "c_custkey",
        "c_mktsegment",
        r2(F.col("c_acctbal")).alias("acctbal"),
        F.col("c_name").alias("name"),
    )
