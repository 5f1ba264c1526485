"""Persistent IVF index under the driver's DuckDB differential gate.

The IVF index (operators/ivf_index.py) was the one substantial operator
that local tests alone would cover: they pin recall, but only a
registry row hard-checks the full persisted path — build
the index THROUGH store segments, compact, read the centroid + bucketed
assignment tables back, probe. This row runs that path end-to-end in
its exact configuration: ``nprobe == n_centroids`` probes every bucket,
so the search is provably brute-force kNN routed through the index
tables and a plain SQL window is an exact oracle. A segment-union,
compaction, or bucket-coverage bug that drops or duplicates ONE
assignment row changes the hash. Recall quality at ``nprobe <
n_centroids`` (the approximate trade) stays pinned by the local recall
tests (tests/test_sources_and_ivf.py) — it depends on learned centroids
and has no cross-engine oracle by construction.

Reference parity: the reference maintains secondary/aggregate index
tables refreshed per load (core/.../CarbonTable usage in
AggregateTableSelector and the datamap path); the IVF index is the
vector-search analogue, stored and maintained with the same segment
lifecycle.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from carbondata_spark.queries import register, t
from carbondata_spark.query_defs._tmpdirs import built

_N_CENTROIDS = 8


def _ivf_store(spark: SparkSession, sf_dir: str):
    """The persisted IVF index, built once per (sf_dir, Spark app):
    centroids table + assignment table ingested as TWO segments then
    compacted — the incremental-build production shape."""
    from carbondata_spark.operators.ivf_index import build_ivf_index
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> str:
        build_ivf_index(
            CarbonStore(spark, path),
            "emb_idx",
            t(spark, sf_dir, "embeddings"),
            n_centroids=_N_CENTROIDS,
            loads=2,
        )
        return path

    return CarbonStore(spark, built(spark, "ivfq", build, sf_dir))


@register(
    "p_sim_ivf_knn",
    oracle="""
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 4) AS cosine,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                     b.embedding::DOUBLE[]), 4)
                          DESC, b.vec_id) AS rank
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id % 10 = 0
    ) WHERE rank <= 5
    """,
    doc="Top-5 neighbors for every 10th vector through the PERSISTED "
    "IVF index: centroids + cid-bucketed assignment live as store "
    "tables (assignment loaded as 2 segments, compacted), search probes "
    "all buckets (nprobe = n_centroids) so the result is exactly "
    "brute-force kNN — the oracle — while every row transits the "
    "segment/compaction/bucket-join machinery. Rounded-cosine ordering "
    "with neighbor-id tie-break keeps the window engine-independent.",
)
def p_sim_ivf_knn(spark, sf_dir):
    from carbondata_spark.operators.ivf_index import search_ivf_index

    store = _ivf_store(spark, sf_dir)
    queries = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    return search_ivf_index(
        store, "emb_idx", queries, k=5, nprobe=_N_CENTROIDS, decimals=4
    )
