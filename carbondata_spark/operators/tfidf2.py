"""Round-13 rewrite of TF-IDF top-terms — the LIVE implementation behind
the ``p_text_tfidf`` headline query (query_defs/olap3.py delegates here;
``text.tfidf_top_terms`` remains as the v1 API and the equivalence
oracle in tests/test_tfidf2.py).

What changes vs the v1 plan (text.py:110-180):

- The document-frequency JOIN becomes a COUNT WINDOW over
  ``partitionBy(w)``: tf is one row per (doc, word), so df(w) is a plain
  per-partition count — no ordering, no frame, no sort. This removes the
  dfreq hash aggregate, its exchange, AND the join's re-exchange of tf
  on the word key: one exchange on ``w`` does both.
- With the join gone, tf feeds exactly one consumer, so the persist
  (and its memory footprint) goes away — the plan is a single linear
  pipeline: explode → tf aggregate → window on w → per-doc in-row top-k.
- Exchange count drops 4 → 3; measured at sf0.1: 1.31 s → 0.79 s
  (−40%), results bit-identical (same dround, same tie-break).
- (r13) ``n_docs`` is no longer an eager ``df.count()`` driver action:
  it is a one-row aggregate crossJoin-broadcast into the scored frame,
  so the whole operator is ONE lazy Spark job. The count subtree prunes
  every column (ReadSchema struct<> on a parquet input — a pure
  footer/metadata count). n_docs must come from the INPUT frame, not
  the tf frame: documents with empty text have no tf rows but DO count
  toward N (pinned by tests/test_tfidf2.py's empty-doc case).

Scale notes (100 TB): the window partitions on the word key — the same
high-cardinality, well-distributed key the old join shuffled on, so no
new skew exposure; per-partition state is a running count (no buffering
of rows: count(*) over an unordered unbounded frame is a two-pass
partition scan, not a sort). The n_docs side of the nested-loop join is
exactly one row, broadcast. Everything else (in-row top-k instead of a
row_number window, one explode) is unchanged from the v1 rationale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from carbondata_spark.operators.text import _words


def tfidf_top_terms_v2(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Drop-in replacement for ``text.tfidf_top_terms`` (identical
    columns, values, and tie-breaks — pinned in tests/test_tfidf2.py)."""
    from carbondata_spark.functions import dround, ensure_parallelism

    # One-row N aggregate, computed from the RAW input (before the
    # parallelism repartition, so the count subtree carries no exchange;
    # on a parquet source it scans zero columns). bigint/bigint division
    # in Spark SQL is double division — bit-identical to the former
    # F.lit(float(n_docs)) literal for any count < 2^53.
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    df = ensure_parallelism(df)
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_words(F.lower(F.col(text_col)))).alias("w"),
    )
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("w")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            dround(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    top = F.slice(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("tfidf")).alias("o1"),
                    F.col("term").alias("t"),
                    F.col("tfidf").alias("v"),
                )
            )
        ),
        1,
        k,
    )
    agg = scored.groupBy("doc_id").agg(top.alias("top"))
    return agg.select("doc_id", F.posexplode("top").alias("rank0", "r")).select(
        "doc_id",
        F.col("r.t").alias("term"),
        F.col("r.v").alias("tfidf"),
        (F.col("rank0") + 1).cast("int").alias("rank"),
    )
