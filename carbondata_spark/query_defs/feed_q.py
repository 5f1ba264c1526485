"""Incremental segment feed under the driver's DuckDB differential gate.

operators/segment_feed.py is the downstream-consumer pattern (checkpoint
the manifest clock, read only newer segments, IUD rewrites excluded from
the append feed). This row runs the full scenario end-to-end: orders
loaded as two segments with a checkpoint taken between them, then a
row-level DELETE rewrites pre-checkpoint data copy-on-write — the feed
must deliver EXACTLY the second load, untouched by the rewrite. A feed
that re-delivers rewritten rows, misses the new segment, or leaks the
deleted rows changes the hash.

Reference parity: the manifest clock is the reference's load-metadata
timestamp surface (SHOW LOADS / LoadMetadataDetails,
core/.../load/LoadMetadataDetails.java); the consumer API is the
beyond-reference part a 100 TB pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from carbondata_spark.queries import register, t
from carbondata_spark.query_defs._tmpdirs import built


def _feed_store(spark: SparkSession, sf_dir: str):
    """(store, checkpoint ts), built once per (sf_dir, Spark app)."""
    from carbondata_spark.operators.segment_feed import manifest_clock
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> tuple[str, float]:
        store = CarbonStore(spark, path)
        orders = t(spark, sf_dir, "orders")
        store.create_table("ord", orders.schema, sort_columns=["o_orderkey"])
        store.load("ord", orders.filter(F.col("o_orderkey") % 2 == 0))
        ckpt = manifest_clock(store, "ord")  # consumer drained load #0
        store.load("ord", orders.filter(F.col("o_orderkey") % 2 == 1))
        # pre-checkpoint data mutates copy-on-write: the rewrite segment
        # is newer than the checkpoint but must NOT re-deliver
        store.delete_rows(
            "ord", "o_orderkey % 2 = 0 AND o_totalprice < 50000"
        )
        return path, ckpt

    path, ckpt = built(spark, "feedq", build, sf_dir)
    return CarbonStore(spark, path), ckpt


def _feed_compact_store(spark: SparkSession, sf_dir: str):
    """(store, checkpoint ts) for the compaction run, built once per
    (sf_dir, Spark app)."""
    from carbondata_spark.operators.segment_feed import manifest_clock
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> tuple[str, float]:
        store = CarbonStore(spark, path)
        orders = t(spark, sf_dir, "orders")
        store.create_table("ord", orders.schema, sort_columns=["o_orderkey"])
        store.load("ord", orders.filter(F.col("o_orderkey") % 3 == 0))
        store.load("ord", orders.filter(F.col("o_orderkey") % 3 == 1))
        ckpt = manifest_clock(store, "ord")  # consumer drained both loads
        # maintenance merges the two drained segments; compacted_from
        # provenance must keep the merge OUT of the feed
        store.compact("ord")
        store.load("ord", orders.filter(F.col("o_orderkey") % 3 == 2))
        return path, ckpt

    path, ckpt = built(spark, "feedcq", build, sf_dir)
    return CarbonStore(spark, path), ckpt


@register(
    "q_feed_across_compaction",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 3 = 2
    """,
    doc="Incremental feed across a COMPACTION: two drained loads merged "
    "after the checkpoint, then a third load. compacted_from provenance "
    "(store.compact) proves the merge re-materializes only drained "
    "rows, so changes_since(checkpoint) is EXACTLY the third load, with "
    "no re-delivery. A feed that re-delivers the merged "
    "rows or misses the new segment changes the hash.",
)
def q_feed_across_compaction(spark, sf_dir):
    from carbondata_spark.operators.segment_feed import changes_since

    store, ckpt = _feed_compact_store(spark, sf_dir)
    return changes_since(store, "ord", ckpt).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "q_store_incremental",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    doc="Incremental consumption: manifest-clock checkpoint between two "
    "loads, then a copy-on-write DELETE rewriting pre-checkpoint data; "
    "changes_since(checkpoint) must be exactly the second load — one "
    "segment-scoped scan (no full-table file listing), rewrite segments "
    "excluded from the append feed. The steady-state poll shape every "
    "downstream job at 100 TB uses instead of rescanning the table.",
)
def q_store_incremental(spark, sf_dir):
    from carbondata_spark.operators.segment_feed import changes_since

    store, ckpt = _feed_store(spark, sf_dir)
    return changes_since(store, "ord", ckpt).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
