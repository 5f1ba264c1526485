"""IVF + ADC composed: the quantized AND pruned 100 TB ANN serving path.

``operators/pq.adc_topk`` proved the asymmetric-distance idea (full-
precision query against an int8-quantized corpus) but re-derives the
codes per query and scans the whole corpus; ``operators/ivf_index``
prunes to the probed buckets but stores full float64 vectors. A real
100 TB serving index does both at once — this module stores the
assignment table AS int8 codes (array<tinyint> + one double scale per
vector: ~8x smaller on disk and over the wire than the float64 array)
hive-partitioned on centroid id, and searches by dequantizing inside
the probed buckets only:

1. ``build_ivf_adc_index`` trains the same centroids as the float
   index (similarity.train_centroids), assigns on FULL precision (the
   standard IVF-ADC build: bucketing quality is a build-time cost worth
   paying once), then materializes (vid, code, scale) partitioned by
   cid.
2. ``search_ivf_adc_index`` probes centroids exactly like
   ``search_ivf_index`` and reuses its engine
   (``ivf_index._topk_over_buckets``) with v = the dequantize
   expression ``transform(code, c -> c * scale)`` — a projection the
   cid PartitionFilters pass through, so dynamic partition pruning
   reads only ~nprobe/n_centroids of the code directories, and the
   corpus never shuffles in broadcast probe mode (both plan-pinned in
   tests/test_ivf_adc.py).

Quantization is bit-identical to ``pq.dequantized_int8`` (scale =
max|x|/127 as double, half-up rounding), so at nprobe = n_centroids the
search returns EXACTLY ``adc_topk``'s rows — the rank-agreement pin
that keeps the two ADC surfaces honest against each other.

Reference parity: the reference's value compression + B-tree pruning
stack (core/src/main/java/org/carbondata/core/datastorage/store/
compression/ValueCompressionModel.java with
CarbonInputFormat.java:177-201 block pruning) composes compression with
pruning the same way; this is its vector-search analogue.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from carbondata_spark.operators.hof import let_once
from carbondata_spark.operators.ivf_index import _topk_over_buckets
from carbondata_spark.operators.pq import INT8_MAX
from carbondata_spark.operators.similarity import _assign, train_centroids
from carbondata_spark.store import CarbonStore


def int8_scale(vec_col: Column) -> Column:
    """Per-vector quantization scale: max|x| / 127 as double (0.0 for a
    zero vector). One definition shared by encode and the pq round-trip
    semantics — the same scale ``pq.dequantized_int8`` derives inline."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    return F.array_max(F.transform(v, F.abs)) / F.lit(float(INT8_MAX))


def int8_codes(vec_col: Column, scale_col: Column) -> Column:
    """Half-up int8 codes for a float vector given its scale: floor(x /
    scale + 0.5) cast tinyint — in [-127, 127] by construction, so the
    cast never wraps. Zero-scale (zero vector) encodes to all zeros."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    return F.when(
        scale_col == 0.0,
        F.transform(v, lambda x: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.transform(
            v, lambda x: F.floor(x / scale_col + F.lit(0.5)).cast("tinyint")
        )
    )


def dequantize(code_col: Column, scale_col: Column) -> Column:
    """codes x scale -> the double array ``pq.dequantized_int8`` would
    produce from the original vector (tinyint -> double is exact, so
    code * scale is bit-identical to floor(x/scale + 0.5) * scale)."""
    return let_once(
        scale_col,
        lambda sc: F.transform(code_col, lambda c: c.cast("double") * sc),
    )


def build_ivf_adc_index(
    store: CarbonStore,
    index_name: str,
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    loads: int = 1,
) -> None:
    """Materialize centroids + int8-coded bucketed assignment.

    Tables: ``{index_name}_centroids`` (same shape as the float index's)
    and ``{index_name}_codes`` (vid, code array<tinyint>, scale double;
    hive-partitioned on cid, vid-sorted within buckets). Use a distinct
    ``index_name`` per index — the centroid table name is shared with
    ``build_ivf_index`` by convention, not coexistence.

    ``loads > 1`` splits the ingest into disjoint ``vid % loads``
    segment loads + compaction, the incrementally-built production
    shape (same contract as ``build_ivf_index``).
    """
    cents = train_centroids(corpus, n_centroids, id_col=id_col, vec_col=vec_col)
    cents_t = f"{index_name}_centroids"
    if store.has_table(cents_t):
        store.drop_table(cents_t)
    store.create_table(cents_t, cents.schema, sort_columns=[])
    store.load(cents_t, cents)
    # assign against the MATERIALIZED centroids (float-aggregation order
    # is not deterministic across recomputations — same rule as
    # build_ivf_index, ivf_index.py:56)
    cents = store.table(cents_t)

    data = corpus.select(
        F.col(id_col).alias("vid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    # full-precision assignment, then the payload drops to int8 codes:
    # scale first (it feeds the code expression), codes from (v, scale)
    coded = (
        _assign(data, cents)
        .withColumn("scale", int8_scale(F.col("v")))
        .select(
            "vid",
            int8_codes(F.col("v"), F.col("scale")).alias("code"),
            "scale",
            "cid",
        )
    )
    codes_t = f"{index_name}_codes"
    if store.has_table(codes_t):
        store.drop_table(codes_t)
    store.create_table(
        codes_t, coded.schema, sort_columns=["vid"], partition_columns=["cid"]
    )
    if loads <= 1:
        store.load(codes_t, coded.repartition("cid"), partitions=None)
    else:
        for i in range(loads):
            store.load(
                codes_t,
                coded.filter(F.pmod(F.col("vid"), F.lit(loads)) == i).repartition("cid"),
                partitions=None,
            )
        store.compact(codes_t)


def search_ivf_adc_index(
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
    """Top-``k`` per full-precision query over the ``nprobe`` best
    buckets of the int8-coded index — ``search_ivf_index`` semantics
    (same probe rule, same (cosine desc, neighbor_id asc) tiebreak, same
    ``decimals`` / ``probe_join`` contract) against ADC-scored corpus
    codes. ``nprobe >= n_centroids`` makes it exhaustive and therefore
    row-identical to ``pq.adc_topk`` (rank-agreement pinned in tests)."""
    cents = store.table(f"{index_name}_centroids")
    codes = store.table(f"{index_name}_codes")
    # the dequantize projection rides the cid-partitioned scan: DPP
    # prunes directories before any code array is even decoded
    assigned = codes.select(
        "cid", "vid", dequantize(F.col("code"), F.col("scale")).alias("v")
    )
    return _topk_over_buckets(
        cents, assigned, queries, k, nprobe, id_col, vec_col, decimals, probe_join
    )
