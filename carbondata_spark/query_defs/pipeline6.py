"""Training-data pipeline queries, part 6: driver rows for two operators
that local tests and plan pins already cover.

- ``p_sim_ivf_adc`` — the composed IVF-ADC index (operators/ivf_adc.py):
  int8 codes hive-partitioned on centroid id, searched by dequantizing
  inside probed buckets. Registered at ``nprobe == n_centroids`` so the
  search is provably exhaustive ADC — the oracle reproduces the int8
  half-up quantization in SQL (same shape as ``p_sim_adc_topk``) while
  every row transits the persisted-index build/compaction/DPP machinery.
  Recall at ``nprobe < n_centroids`` stays pinned by the local property
  tests (tests/test_ivf_adc*.py) — centroid-dependent, no cross-engine
  oracle by construction. Reference parity: compression composed with
  block pruning (core/.../compression/ValueCompressionModel.java:236 +
  hadoop/.../CarbonInputFormat.java:177-201).
- ``p_dedup_scrub`` — corpus.remove_common_spans: every occurrence of a
  corpus-common word n-gram (document frequency >= min_df) scrubbed out
  of every document, survivors rejoined in order (the exact-substring
  scrub of Lee et al. 2022 at span granularity). The oracle rebuilds the
  position-cover union in SQL: occurrences with 1-based starts, covered
  0-based positions, anti-join survivors, ordered string_agg.

Same oracle conventions as pipeline/..5: identical aliases both sides,
integer casts pinned, deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from carbondata_spark.queries import register, t
from carbondata_spark.query_defs._tmpdirs import built

_N_CENTROIDS = 8


def _ivf_adc_store(spark: SparkSession, sf_dir: str):
    """The persisted IVF-ADC index, built once per (sf_dir, Spark app):
    centroids + int8-coded cid-partitioned codes, ingested as TWO
    segments then compacted — the incremental-build production shape."""
    from carbondata_spark.operators.ivf_adc import build_ivf_adc_index
    from carbondata_spark.store import CarbonStore

    def build(path: str) -> str:
        build_ivf_adc_index(
            CarbonStore(spark, path),
            "emb_adc",
            t(spark, sf_dir, "embeddings"),
            n_centroids=_N_CENTROIDS,
            loads=2,
        )
        return path

    return CarbonStore(spark, built(spark, "ivfadcq", build, sf_dir))


@register(
    "p_sim_ivf_adc",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    s AS (SELECT vec_id, e,
                 list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc
          FROM v),
    d AS (SELECT vec_id,
                 CASE WHEN sc = 0 THEN list_transform(e, x -> 0.0)
                      ELSE list_transform(e, x -> floor(x / sc + 0.5) * sc)
                 END AS de
          FROM s),
    q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id % 10 = 0),
    scored AS (SELECT query_id, d.vec_id AS neighbor_id,
                      round(list_cosine_similarity(qv, de), 6) AS cos
               FROM q JOIN d ON d.vec_id != query_id)
    SELECT query_id, neighbor_id, cos AS cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    doc="Top-5 ADC neighbors for every 10th vector through the PERSISTED "
    "IVF-ADC index: int8 codes + per-vector scale live as a cid-hive-"
    "partitioned store table (loaded as 2 segments, compacted), search "
    "dequantizes inside probed buckets only. nprobe = n_centroids makes "
    "it exhaustive ADC — exactly the int8 half-up quantization the "
    "oracle reproduces in SQL — while every row transits the quantize/"
    "segment/compaction/partition-prune machinery. This is the 100 TB "
    "serving shape: ~8x smaller codes on disk AND only ~nprobe/"
    "n_centroids of the directories read per query batch (DPP + "
    "no-corpus-shuffle plan-pinned in tests/test_ivf_adc.py).",
)
def p_sim_ivf_adc(spark, sf_dir):
    from carbondata_spark.operators.ivf_adc import search_ivf_adc_index

    store = _ivf_adc_store(spark, sf_dir)
    queries = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    return search_ivf_adc_index(
        store, "emb_adc", queries, k=5, nprobe=_N_CENTROIDS, decimals=6
    )


@register(
    "p_dedup_scrub",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    base AS (
      SELECT doc_id, w,
             CASE WHEN len(w) = 1 AND w[1] = '' THEN 0 ELSE len(w) END AS n_tokens
      FROM words
    ),
    occ AS (  -- 1-based start i; span covers 0-based positions i-1 .. i+1
      SELECT doc_id, i, array_to_string(w[i:i+2], ' ') AS s
      FROM base, unnest(range(1, len(w) - 1)) AS u(i)
    ),
    common AS (
      SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df FROM occ GROUP BY s)
      WHERE df >= 3
    ),
    covered AS (
      SELECT DISTINCT doc_id, i - 1 + o AS pos
      FROM occ JOIN common USING (s), unnest(range(0, 3)) AS v(o)
    ),
    toks AS (
      SELECT doc_id, u.p - 1 AS pos, w[u.p] AS word
      FROM base, unnest(range(1, len(w) + 1)) AS u(p)
      WHERE n_tokens > 0
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.word
      FROM toks t ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id AS doc_id,
           coalesce(r.text, '') AS text,
           CAST(b.n_tokens AS INT) AS n_tokens,
           CAST(b.n_tokens - coalesce(r.n_kept, 0) AS INT) AS n_removed
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="Corpus-common span scrub: every occurrence of a trigram with "
    "document frequency >= 3 is removed from every document (covered "
    "token positions unioned, survivors rejoined in order — the "
    "exact-substring dedup transform at span granularity). Explode-based "
    "position cover, NO pairwise join; the commonness join's right side "
    "collapses to the df>=3 span set first, keeping broadcast open. "
    "Fully-scrubbed and sub-n documents both surface (text='') so a "
    "downstream n_removed/n_tokens filter sees every input row.",
)
def p_dedup_scrub(spark, sf_dir):
    from carbondata_spark.operators.corpus import remove_common_spans

    return remove_common_spans(t(spark, sf_dir, "documents"), n=3, min_df=3)
