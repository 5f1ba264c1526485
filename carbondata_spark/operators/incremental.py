"""Incremental-ingest dedup: new documents against an existing corpus.

A production training-data pipeline rarely dedups a corpus from
scratch; each ingest batch must be checked against the (much larger)
already-accepted corpus. Doing that with the symmetric pair operators
(dedup.minhash_lsh_pairs) wastes work on ref×ref pairs that are
already settled; the asymmetric form here generates candidates ONLY
across the new/reference boundary.

Scale shape (100 TB reference corpus, small ingest batch): the
reference side's signatures+bands would be a PERSISTED store table
maintained per accepted batch (same lifecycle as the IVF assignment
table); each ingest then shuffles only its own bands against the band
table — join keyed on (band, bkey), high-cardinality and uniform. The
in-row exact-Jaccard verification bounds false positives exactly like
the symmetric operator. Here both sides derive from one frame (the
split predicate stands in for the two tables), which keeps the oracle
a single-table SQL replay.

Reuses the portable md5 MinHash machinery from operators/dedup.py
(signatures reproduce bit-for-bit in DuckDB, so candidate generation
itself is oracle-verified, not just the final jaccards).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from carbondata_spark.functions import dround
from carbondata_spark.operators.dedup import (
    MINHASH_K,
    _minhash_from_shingles,
    shingles_df,
)


def cross_corpus_near_dups(
    df: DataFrame,
    is_reference: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """For each NEW document (``is_reference`` false) that near-matches
    at least one reference document, the best match:
    (doc_id, ref_id, jaccard) — jaccard maximal, ties to the smallest
    ref_id, rounded to 4.

    Candidates: band agreement (4 bands × 2 minhashes) strictly across
    the boundary — new bands join reference bands, never new×new or
    ref×ref. Verification: shingle-set Jaccard in-row (array_intersect
    on the signature's carried set of 8-byte xxhash64 shingle keys —
    the same payload slimming as ``minhash_lsh_pairs``; equal to the
    gram-set Jaccard absent a 64-bit collision inside a compared pair).
    Election: one max_by aggregate per new doc (map-side combining), no
    window.
    """
    sh = shingles_df(df, id_col, text_col, n, distinct=False).withColumn(
        "hs", F.xxhash64("s")
    )
    # sig feeds both band sides and both verify sides: one eager local
    # checkpoint computes it once (see ``minhash_lsh_pairs``).
    sig = (
        _minhash_from_shingles(
            sh, extra_aggs=[F.sort_array(F.collect_set("hs")).alias("ss")]
        )
        .withColumn("c", F.size("ss"))
        .join(
            df.select(F.col(id_col).alias("doc_id"), is_reference.alias("is_ref")),
            "doc_id",
        )
        .localCheckpoint(eager=True)
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(",", f"h{2 * bi}", f"h{2 * bi + 1}").alias("bkey"),
            )
            for bi in range(MINHASH_K // 2)
        ]
    )
    banded = sig.select("doc_id", "is_ref", F.explode(bands).alias("b")).select(
        "doc_id", "is_ref", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )
    new_b = banded.filter(~F.col("is_ref")).select(
        F.col("doc_id").alias("new_id"), "band", "bkey"
    )
    ref_b = banded.filter(F.col("is_ref")).select(
        F.col("doc_id").alias("ref_id"), "band", "bkey"
    )
    cand = new_b.join(ref_b, ["band", "bkey"]).select("new_id", "ref_id").distinct()
    sa = sig.select(F.col("doc_id").alias("new_id"), F.col("ss").alias("ssa"), F.col("c").alias("ca"))
    sb = sig.select(F.col("doc_id").alias("ref_id"), F.col("ss").alias("ssb"), F.col("c").alias("cb"))
    inter = F.size(F.array_intersect(F.col("ssa"), F.col("ssb")))
    jac = inter / (F.col("ca") + F.col("cb") - inter)
    verified = (
        cand.join(sa, "new_id")
        .join(sb, "ref_id")
        .withColumn("_j", jac)
        .filter(F.col("_j") >= threshold)
    )
    best = F.max_by(
        F.struct(F.col("_j").alias("o1"), (-F.col("ref_id")).alias("o2"),
                 F.col("ref_id").alias("rid")),
        F.struct(F.col("_j").alias("o1"), (-F.col("ref_id")).alias("o2")),
    )
    return (
        verified.groupBy(F.col("new_id").alias("doc_id"))
        .agg(best.alias("_b"))
        .select(
            "doc_id",
            F.col("_b.rid").alias("ref_id"),
            dround(F.col("_b.o1"), 4).alias("jaccard"),
        )
    )
