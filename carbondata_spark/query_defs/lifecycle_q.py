"""Lifecycle + source-format contract queries: put SURVEY.md §2 lines
that local tests already verify under the driver's DuckDB differential
gate as well.

- ``q_store_compacted`` — DELETE LOAD + MERGE (compaction) + CLEAN
  FILES in front of the hard signal: the reference's segment
  maintenance loop (cubeSchema.scala:1678-1736 delete loads,
  :2138-2173 merge; CarbonMergerRDD.scala:31-234), also covered by the
  local suite (tests/test_store.py).
- ``q_skew_salted_join`` — the explicit skew remedy
  (functions.salted_join), also covered by
  tests/test_skew_and_csv_ts.py: the salt must be a pure partitioning
  artifact, i.e. the salted join's aggregate equals the plain join's.
- ``q_source_json`` / ``q_source_orc`` — the JSON/ORC ingestion paths
  (sources/formats.py; reference: JDBC/JSON ancillary inputs,
  integration/spark/.../rdd/JdbcRDDExt.scala and the Kettle CSV graph)
  as write→read round-trips whose aggregate must match DuckDB over the
  ORIGINAL parquet — a row lost or a value mangled in either direction
  mismatches the hash.

Build artifacts (store tables, JSON/ORC dumps) are built once per
(sf_dir, Spark app) through ``_tmpdirs.built``, so the driver pays each
round-trip once and the trees are removed at process exit.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from carbondata_spark.functions import dround, dsum, salted_join
from carbondata_spark.queries import register, t
from carbondata_spark.query_defs._tmpdirs import built


def _compacted_store(spark: SparkSession, sf_dir: str):
    """orders loaded as 3 segments (o_orderkey % 3), segment 1 DELETED,
    survivors compacted into one sorted segment, deleted data GC'd by
    clean_files — the full maintenance cycle, then queried."""
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> str:
        store = CarbonStore(spark, path)
        orders = t(spark, sf_dir, "orders")
        store.create_table("orders_l", orders.schema, sort_columns=["o_orderkey"])
        for m in (0, 1, 2):
            store.load("orders_l", orders.filter(F.col("o_orderkey") % 3 == m))
        store.delete_segments("orders_l", [1])
        store.compact("orders_l")
        store.clean_files("orders_l", stale_in_progress_s=0.0)
        return path

    return CarbonStore(spark, built(spark, "lifecycle", build, sf_dir))


@register(
    "q_store_compacted",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS cnt,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey % 3 != 1
    GROUP BY o_orderpriority
    """,
    doc="Segment maintenance under the driver gate: load x3 -> DELETE "
    "LOAD 1 -> compact -> clean_files -> scan; the compacted segment "
    "must hold exactly the two surviving loads' rows.",
)
def q_store_compacted(spark, sf_dir):
    store = _compacted_store(spark, sf_dir)
    return (
        store.table("orders_l")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


@register(
    "q_skew_salted_join",
    oracle="""
    SELECT s.s_nationkey AS s_nationkey,
           count(*) AS cnt,
           CAST(round(sum(CAST(l.l_quantity AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
    doc="Salted skew join (functions.salted_join, 16 salts): the salt "
    "must be a pure partitioning artifact — the salted join aggregates "
    "to exactly the plain join's result (oracle = unsalted SQL join).",
)
def q_skew_salted_join(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_quantity"
    )
    sup = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    return (
        salted_join(li, sup, on=["suppkey"], n_salts=16)
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("cnt"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
        )
    )


def _json_path(spark: SparkSession, sf_dir: str) -> str:
    def build(base: str) -> str:
        path = base + "/documents"
        t(spark, sf_dir, "documents").write.mode("overwrite").json(path)
        return path

    return built(spark, "json", build, sf_dir)


@register(
    "q_source_json",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    """,
    doc="JSON source round-trip (sources/formats.read_json with explicit "
    "schema — schema inference at 100 TB is a full extra pass): "
    "documents written to JSON lines, read back, aggregated; must match "
    "DuckDB over the original parquet.",
)
def q_source_json(spark, sf_dir):
    from carbondata_spark.sources.formats import read_json

    schema = t(spark, sf_dir, "documents").schema
    docs = read_json(spark, _json_path(spark, sf_dir), schema=schema)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _orc_path(spark: SparkSession, sf_dir: str) -> str:
    from carbondata_spark.sources.formats import write_orc

    def build(base: str) -> str:
        path = base + "/events"
        write_orc(
            t(spark, sf_dir, "events").select("event_id", "event_type", "value"), path
        )
        return path

    return built(spark, "orc", build, sf_dir)


@register(
    "q_source_orc",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    doc="ORC source round-trip (sources/formats.write_orc/read_orc): "
    "events written to ORC, read back, aggregated; must match DuckDB "
    "over the original parquet.",
)
def q_source_orc(spark, sf_dir):
    from carbondata_spark.sources.formats import read_orc

    ev = read_orc(spark, _orc_path(spark, sf_dir))
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        dround(F.sum("value"), 2).alias("sum_value"),
    )
