"""Feed × MERGE INTO × compaction composition under the driver gate.

Two manifest-provenance features are each tested on their own: MERGE
INTO (store.merge_rows — CDC upsert with an atomic two-segment swap) and
exact feed-across-compaction (compacted_from provenance). This row
certifies their INTERACTION — the steady-state CDC loop a 100 TB
training-corpus table actually runs:

1. three loads land (segments 0/1/2); a consumer drains them and
   checkpoints the manifest clock;
2. a MERGE INTO applies late corrections (updates confined to segment
   2's key range → one copy-on-write rewrite segment) and genuinely new
   rows (→ one insert segment);
3. a maintenance compaction merges the two untouched drained segments
   (0+1);
4. ``changes_since(checkpoint)`` must deliver EXACTLY the merge's
   insert set: the rewrite segment is excluded as ``rewrite_of``
   provenance (its rows were already delivered, minus corrections), the
   compacted segment is excluded EXACTLY via ``compacted_from``
   provenance (both inputs drained), and the insert segment arrives
   whole.

A feed that re-delivers corrected rows, re-delivers the compacted
merge, or loses the insert set changes the hash. It is the local test
tests/test_merge.py::test_merge_feed_delivers_only_inserts composed
with the compaction path.

Reference parity: the manifest surface is the reference's tablestatus
(LoadMetadataDetails.java timestamps + MERGED status,
CarbonDataMergerUtil.java); MERGE INTO and the consumer feed are the
beyond-reference CDC pieces.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from carbondata_spark.queries import register, t
from carbondata_spark.query_defs._tmpdirs import built

_SHIFT = 1_000_000_000  # insert keys: disjoint from any real o_orderkey


def _store(spark: SparkSession, sf_dir: str):
    """(store, checkpoint ts), built once per (sf_dir, Spark app)."""
    from carbondata_spark.operators.segment_feed import manifest_clock
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> tuple[str, float]:
        store = CarbonStore(spark, path)
        orders = t(spark, sf_dir, "orders")
        store.create_table("ord", orders.schema, sort_columns=["o_orderkey"])
        seg_a = store.load("ord", orders.filter(F.col("o_orderkey") % 3 == 0))
        seg_b = store.load("ord", orders.filter(F.col("o_orderkey") % 3 == 1))
        store.load("ord", orders.filter(F.col("o_orderkey") % 3 == 2))
        ckpt = manifest_clock(store, "ord")  # consumer drained all three

        # CDC batch: corrections to keys that live only in segment 2
        # (one rewrite), plus brand-new keys (one insert segment).
        updates = (
            orders.filter(
                (F.col("o_orderkey") % 3 == 2) & (F.col("o_orderkey") % 5 == 0)
            )
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        )
        inserts = orders.filter(F.col("o_orderkey") % 3 == 1).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(_SHIFT)
        )
        store.merge_rows(
            "ord",
            updates.unionByName(inserts),
            keys="o_orderkey",
            update_cols=["o_totalprice"],
        )

        # maintenance window: merge the two untouched drained loads
        store.compact("ord", segment_ids=[seg_a, seg_b])
        return path, ckpt

    path, ckpt = built(spark, "feedmergeq", build, sf_dir)
    return CarbonStore(spark, path), ckpt


@register(
    "q_feed_merge_compact",
    oracle=f"""
    SELECT o_orderkey + {_SHIFT} AS o_orderkey,
           o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 3 = 1
    """,
    doc="CDC steady state: checkpoint → MERGE INTO (update + insert) → "
    "compaction of drained segments → changes_since delivers exactly "
    "the insert set (rewrite excluded as rewrite_of, compaction "
    "excluded exactly via compacted_from, inserts whole).",
)
def q_feed_merge_compact(spark, sf_dir):
    from carbondata_spark.operators.segment_feed import changes_since

    store, ckpt = _store(spark, sf_dir)
    return changes_since(store, "ord", ckpt).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
