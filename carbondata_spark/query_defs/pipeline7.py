"""Pipeline queries, part 7: lexical retrieval (BM25), duplicate-aware
loss weighting, snapshot diffing, and streaming CDC upsert.

Four capabilities a 100 TB training-data pipeline runs daily, certified
end-to-end:

- ``p_bm25_topk`` — Okapi BM25 ranked retrieval (operators/bm25.py):
  query-targeted corpus mining and the lexical leg of hybrid retrieval
  next to the ANN rows (p_sim_*).
- ``p_dup_weight`` — keep-everything deduplication: per-copy training
  weight 1/multiplicity (operators/weighting.py), the standard
  alternative to dropping duplicates.
- ``p_snapshot_diff`` — added/removed/changed/unchanged audit between
  two corpus versions (operators/diffing.py): refresh auditing,
  incremental re-embedding, takedown verification.
- ``q_stream_merge_upsert`` — Structured Streaming foreachBatch →
  store.merge_rows (streaming/upsert.py): the continuous-CDC
  composition of MERGE INTO with the streaming segment protocol;
  each micro-batch upserts a per-key aggregate into a store table and
  the FINAL TABLE STATE is the oracle-checked result.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from carbondata_spark.queries import r2, register, t

BM25_TERMS = ["vector", "merge", "window"]

_INSERT_MOD = 3  # user_id % 3 == 2 rows are absent from the base table


@register(
    "p_bm25_topk",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
      FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(len(ts)) AS avgdl FROM toks),
    m AS (
      SELECT doc_id, w, count(*) AS tf, min(dl) AS dl
      FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS w FROM toks)
      WHERE w IN ('vector', 'merge', 'window')
      GROUP BY doc_id, w
    ),
    dfreq AS (SELECT w, count(*) AS dfc FROM m GROUP BY w),
    scored AS (
      SELECT doc_id,
             round(sum(
               ln(1 + (n_docs - dfc + 0.5) / (dfc + 0.5))
               * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM m JOIN dfreq USING (w) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT doc_id, score, CAST(rk AS INT) AS rank FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
    doc="Okapi BM25 top-10 for a 3-term query (k1=1.2, b=0.75, Lucene "
    "idf): dl from size() of the token array (no aggregate), explode "
    "filtered to the query terms before the only exchange, df/corpus "
    "stats broadcast, TakeOrderedAndProject top-k.",
)
def p_bm25_topk(spark: SparkSession, sf_dir: str):
    from carbondata_spark.operators.bm25 import bm25_topk

    return bm25_topk(t(spark, sf_dir, "documents"), BM25_TERMS, k=10)


@register(
    "p_dup_weight",
    oracle=r"""
    SELECT doc_id, CAST(n AS BIGINT) AS dup_count, round(1.0 / n, 6) AS weight
    FROM (
      SELECT doc_id, count(*) OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      ) AS n
      FROM documents
    )
    """,
    doc="Duplicate-aware loss weight per document (1/multiplicity of "
    "the normalized-text md5, the exact-dedup grouping key): the "
    "keep-everything alternative to p_dedup_exact. Only (id, digest) "
    "pairs shuffle.",
)
def p_dup_weight(spark: SparkSession, sf_dir: str):
    from carbondata_spark.operators.weighting import dup_weight

    return dup_weight(t(spark, sf_dir, "documents"))


@register(
    "p_snapshot_diff",
    oracle="""
    WITH newsnap AS (
      SELECT doc_id,
             CASE WHEN doc_id % 41 = 0 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id % 37 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 53 = 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM documents o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
    """,
    doc="Corpus version diff: v2 = v1 minus doc_id%37 rows, with "
    "doc_id%41 texts edited and doc_id%53 re-added under new ids; "
    "row-level added/removed/changed/unchanged via one digest-projected "
    "full-outer join (payloads never shuffle).",
)
def p_snapshot_diff(spark: SparkSession, sf_dir: str):
    from carbondata_spark.operators.diffing import snapshot_diff

    old = t(spark, sf_dir, "documents")
    kept = old.filter(F.col("doc_id") % 37 != 0)
    mutated = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 41 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = old.filter(F.col("doc_id") % 53 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    new = mutated.unionByName(added)
    return snapshot_diff(old, new, "doc_id", compare_cols=["text"])


@register(
    "p_hybrid_rrf",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
      FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(len(ts)) AS avgdl FROM toks),
    m AS (
      SELECT doc_id, w, count(*) AS tf, min(dl) AS dl
      FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS w FROM toks)
      WHERE w IN ('vector', 'merge', 'window')
      GROUP BY doc_id, w
    ),
    dfreq AS (SELECT w, count(*) AS dfc FROM m GROUP BY w),
    bm25 AS (
      SELECT doc_id,
             round(sum(
               ln(1 + (n_docs - dfc + 0.5) / (dfc + 0.5))
               * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM m JOIN dfreq USING (w) CROSS JOIN stats
      GROUP BY doc_id
    ),
    lex AS (
      SELECT doc_id, CAST(rk AS INT) AS lex_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
        FROM bm25
      ) WHERE rk <= 50
    ),
    vq AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    vec AS (
      SELECT doc_id, CAST(rk AS INT) AS vec_rank FROM (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (
                 ORDER BY round(list_cosine_similarity(qv, e.embedding::DOUBLE[]), 6)
                            DESC, e.vec_id) AS rk
        FROM embeddings e CROSS JOIN vq WHERE e.vec_id != 0
      ) WHERE rk <= 50
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             COALESCE(lex_rank, 0) AS lex_rank,
             COALESCE(vec_rank, 0) AS vec_rank,
             round(COALESCE(1.0 / (60 + lex_rank), 0)
                   + COALESCE(1.0 / (60 + vec_rank), 0), 6) AS rrf
      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank, rrf, CAST(rk AS INT) AS rank FROM (
      SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk FROM fused
    ) WHERE rk <= 10
    """,
    doc="Hybrid retrieval: BM25 lexical top-50 fused with cosine "
    "vector top-50 (query vec_id=0) by reciprocal-rank fusion "
    "(K=60) — the calibration-free lexical+vector recipe; fusion "
    "joins two bounded top-k frames, so all distributed cost lives "
    "in the legs.",
)
def p_hybrid_rrf(spark: SparkSession, sf_dir: str):
    from carbondata_spark.operators.bm25 import bm25_topk
    from carbondata_spark.operators.hybrid import rrf_fuse
    from carbondata_spark.operators.similarity import cosine_topk

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, BM25_TERMS, k=50).select("doc_id", "rank")
    vec = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse({"lex": lex, "vec": vec}, topk=10)


def per_user_agg(batch):
    """The merge-shaped per-batch transform: one row per user with the
    batch's aggregates (module-level so tests can replay an epoch —
    the crash-replay idempotence contract of streaming/upsert.py)."""
    return batch.groupBy("user_id").agg(
        F.sum("value").alias("total_value"),
        F.count("*").alias("n_events"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


def _profiles_store(spark: SparkSession, sf_dir: str):
    """The store with the drained profiles table, built once per
    (sf_dir, Spark app)."""
    from carbondata_spark.query_defs._tmpdirs import built, mkdtemp
    from carbondata_spark.store import CarbonStore
    from carbondata_spark.streaming.upsert import stream_merge

    def build(base: str) -> str:
        store = CarbonStore(spark, base)
        events = t(spark, sf_dir, "events")

        # Base table: zeroed profiles for users hashing to the UPDATE
        # cohorts; the user_id % 3 == 2 cohort is absent and must arrive
        # through merge's INSERT path.
        profile = lambda df: df.select(  # noqa: E731
            "user_id",
            F.lit(0.0).alias("total_value"),
            F.lit(0).cast("long").alias("n_events"),
            F.lit(None).cast("string").alias("last_ts"),
        )
        seed = profile(
            events.filter(F.col("user_id") % _INSERT_MOD != 2).select("user_id").distinct()
        )
        store.create_table("profiles", seed.schema, sort_columns=["user_id"])
        store.load("profiles", seed)

        # Stage the event log as one parquet file per user cohort so each
        # micro-batch (maxFilesPerTrigger=1) carries a DISJOINT key set —
        # the final state is then batch-order independent, hence
        # oracle-expressible as one GROUP BY over the whole log.
        stage = mkdtemp(prefix="carbondata_streammerge_stage_")
        for cohort in range(_INSERT_MOD):
            events.filter(F.col("user_id") % _INSERT_MOD == cohort).coalesce(
                1
            ).write.mode("append").parquet(stage)

        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )

        q = stream_merge(
            store,
            "profiles",
            stream,
            keys="user_id",
            checkpoint_dir=mkdtemp(prefix="carbondata_streammerge_ckpt_"),
            transform=per_user_agg,
        )
        q.awaitTermination()
        return base

    return CarbonStore(spark, built(spark, "streammerge", build, sf_dir))


@register(
    "q_stream_merge_upsert",
    oracle="""
    SELECT user_id,
           round(sum(value), 2) AS total_value,
           CAST(count(*) AS BIGINT) AS n_events,
           strftime(max(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events GROUP BY user_id
    """,
    doc="Streaming CDC upsert: foreachBatch MERGE INTO per micro-batch "
    "(update cohorts overwrite seeded zeros, one cohort arrives via the "
    "insert path); the checked result is the FINAL store table state, "
    "which equals one GROUP BY over the whole event log because each "
    "batch upserts a disjoint key cohort.",
)
def q_stream_merge_upsert(spark: SparkSession, sf_dir: str):
    store = _profiles_store(spark, sf_dir)
    return store.table("profiles").select(
        "user_id", r2(F.col("total_value")).alias("total_value"), "n_events", "last_ts"
    )
