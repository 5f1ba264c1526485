"""Persistent IVF index over a CarbonStore table — the 100 TB ANN path.

``build_ivf_index`` trains centroids (operators/similarity.train_centroids)
and materializes the corpus ASSIGNMENT as a store table partitioned by
centroid id, sorted within partitions by vector id. Searches then:

1. score the query against the (tiny, broadcast) centroid table,
2. read ONLY the probed centroid partitions: the assignment table is
   hive-partitioned on cid, and the broadcast probe join triggers
   Spark's dynamic partition pruning (``dynamicpruningexpression(cid
   IN ...)`` in the scan's PartitionFilters — pinned by
   tests/test_sources_and_ivf.py), so non-probed directories are never
   listed or read. This is the vector-search analogue of the
   reference's B-tree block pruning (CarbonInputFormat.java:177-201).
3. brute-force cosine within the probed buckets, window top-k.

The index is a normal store table: segments, compaction, retention all
apply. Rebuild after large ingests (same contract as the reference's
aggregate tables: refreshed per load).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from carbondata_spark.operators.similarity import _assign, cosine, train_centroids
from carbondata_spark.store import CarbonStore


def build_ivf_index(
    store: CarbonStore,
    index_name: str,
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    loads: int = 1,
) -> None:
    """Materialize centroids + bucketed assignment as store tables.

    ``loads > 1`` splits the assignment ingest into that many segment
    loads (disjoint ``vid % loads`` slices) followed by a compaction —
    the production shape of an incrementally-built index, and the path
    the driver-facing ``p_sim_ivf_knn`` row keeps honest: a segment
    union or compaction bug that drops or duplicates one assignment row
    changes the search result hash.
    """
    cents = train_centroids(corpus, n_centroids, id_col=id_col, vec_col=vec_col)
    cents_t = f"{index_name}_centroids"
    if store.has_table(cents_t):
        store.drop_table(cents_t)
    store.create_table(cents_t, cents.schema, sort_columns=[])
    store.load(cents_t, cents)
    # Assign against the MATERIALIZED centroids (the ones searches will
    # read), not the lazy k-means lineage: float aggregation order is
    # not deterministic across recomputations, so re-deriving centroids
    # per load could bucket the same vector differently between loads.
    cents = store.table(cents_t)

    data = corpus.select(
        F.col(id_col).alias("vid"), F.transform(vec_col, lambda x: x.cast("double")).alias("v")
    )
    assigned = _assign(data, cents)
    assign_t = f"{index_name}_assign"
    if store.has_table(assign_t):
        store.drop_table(assign_t)
    # Hive-partition the assignment on cid (one directory per bucket,
    # store PARTITIONER support) so a search's probe join prunes whole
    # directories via dynamic partition pruning; vid-sorted within each
    # bucket for row-group locality. Repartition by cid first so every
    # bucket directory gets one file per load, not one per input task.
    store.create_table(
        assign_t, assigned.schema, sort_columns=["vid"], partition_columns=["cid"]
    )
    if loads <= 1:
        store.load(assign_t, assigned.repartition("cid"), partitions=None)
    else:
        for i in range(loads):
            store.load(
                assign_t,
                assigned.filter(F.pmod(F.col("vid"), F.lit(loads)) == i).repartition("cid"),
                partitions=None,
            )
        store.compact(assign_t)


def search_ivf_index(
    store: CarbonStore,
    index_name: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int | None = None,
    probe_join: str = "broadcast",
) -> DataFrame:
    """Top-``k`` per query over the ``nprobe`` best centroid buckets.

    ``nprobe >= n_centroids`` probes every bucket, making the search
    EXACT brute-force kNN routed through the index tables — the
    driver-row configuration (oracle = a brute-force SQL window).
    ``decimals`` rounds the cosine (DuckDB-compatible ``dround``) BEFORE
    ranking so the (cosine desc, neighbor_id asc) order is
    engine-independent; None keeps full precision for recall work.

    At ``nprobe < n_centroids`` the probe set is broadcast, and Spark's
    dynamic partition pruning pushes ``cid IN <probed>`` into the
    cid-partitioned assignment scan's PartitionFilters — only
    ~nprobe/n_centroids of the corpus directories are listed and read,
    which is the entire point of IVF at 100 TB. (DPP requires a single
    scan per partition layout: ``build_ivf_index`` always leaves the
    index one compacted segment; keep it compacted after manual loads.)

    ``probe_join`` picks the probe-to-assignment join strategy. The
    default ``"broadcast"`` ships the (n_queries x nprobe)-row probe set
    (qvec included) to every executor — right for interactive batches,
    and the only mode that feeds DPP. For MILLION-query offline batches
    the probe set outgrows any broadcast budget; ``"shuffle"`` joins on
    the cid key instead: the corpus-sized assignment shuffles ONCE on
    cid (amortized over the whole query batch) and no executor ever
    holds the full probe set. Partition pruning is deliberately lost —
    at that query volume nearly every bucket is probed by some query
    anyway, so directory pruning has nothing left to prune. Results are
    identical; only the plan changes (tests pin both).
    """
    cents = store.table(f"{index_name}_centroids")
    assigned = store.table(f"{index_name}_assign")
    return _topk_over_buckets(
        cents, assigned, queries, k, nprobe, id_col, vec_col, decimals, probe_join
    )


def _topk_over_buckets(
    cents: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    decimals: int | None,
    probe_join: str,
) -> DataFrame:
    """The probe + bucket-scan + top-k engine shared by the float index
    (``search_ivf_index``) and the int8 ADC index
    (``operators/ivf_adc.search_ivf_adc_index``): ``assigned`` must
    expose (cid, vid, v double-array) — for ADC, v is the dequantize
    expression over stored codes, a projection the cid PartitionFilters
    pass straight through, so DPP prunes identically."""
    if probe_join not in ("broadcast", "shuffle"):
        raise ValueError(f"probe_join must be 'broadcast' or 'shuffle', got {probe_join!r}")

    from carbondata_spark.operators.similarity import _as_double, _dot, _norm

    # norms hoisted per side (one interpreted HOF pass per query / per
    # assigned row instead of per scored pair — bit-identical doubles,
    # see similarity.cosine_topk); the extra projection on `assigned`
    # passes the cid PartitionFilters through unchanged (DPP intact,
    # plan-pinned in tests)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("qvec"),
    ).withColumn("_nq", _norm(F.col("qvec")))
    qscored = q.join(F.broadcast(cents)).select(
        "query_id", "qvec", "_nq", "cid", cosine(F.col("qvec"), F.col("cv")).alias("ccos")
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cid"))
    probes = (
        qscored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qvec", "_nq", "cid")
    )
    assigned = _as_double(assigned, "v").withColumn("_nv", _norm(F.col("v")))
    sim = _dot(F.col("qvec"), F.col("v")) / (F.col("_nq") * F.col("_nv"))
    if decimals is not None:
        from carbondata_spark.functions import dround

        sim = dround(sim, decimals)
    # broadcast the (n_queries × nprobe)-row probe set: no shuffle of the
    # corpus-sized assignment, and DPP's reuseBroadcastOnly condition is
    # satisfied so the partition-pruning subquery reuses this broadcast
    # (shuffle mode: see the probe_join docstring trade-off)
    probes_j = F.broadcast(probes) if probe_join == "broadcast" else probes
    scored = (
        assigned.join(probes_j, "cid")
        .filter(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            sim.alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.col("cos").alias("cosine"), F.col("rn").alias("rank"))
    )
