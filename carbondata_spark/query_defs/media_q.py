"""Multimodal decode driver rows — REAL codec-free kernels (r15).

``p_media_decode`` certifies the genuine PPM decoder in
operators/media_codecs.py.

Both rows verify a full decode chain against a CLOSED-FORM oracle: the
fixture bytes are synthesized deterministically from doc_id
(media_codecs.synth_ppm/synth_wav), the kernels parse them back with an
independent code path (header walk + np.frombuffer), and DuckDB
recomputes every statistic from the generator's arithmetic — a wrong
dimension parse, sample decode, or chunk walk changes the hash.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from carbondata_spark.queries import register, t


@register(
    "p_media_decode",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             4 + doc_id % 5 AS w,
             2 + doc_id % 3 AS h,
             unnest(range(0, 3 * (4 + doc_id % 5) * (2 + doc_id % 3))) AS i
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(255 AS INT) AS maxval,
           CAST(sum((doc_id * 7 + i) % 256) AS BIGINT) AS pixel_sum
    FROM px GROUP BY doc_id, w, h
    """,
    doc="REAL image decode (r15, codec-free): one binary PPM (P6) image "
    "per document — deterministic bytes synthesized by synth_ppm, "
    "including a header comment line — parsed by the pure-NumPy "
    "decode_ppm kernel inside mapInPandas; the oracle recomputes every "
    "dimension and pixel statistic from the generator's closed form. "
    "Supersedes the r1 md5-stub row of the same name (pipeline.py).",
)
def p_media_decode(spark: SparkSession, sf_dir: str):
    from carbondata_spark.operators.media_codecs import decode_ppm, synth_ppm

    # integer-exact outputs only: a derived pixel_mean would be a float
    # compare for zero extra verification power (pixel_sum is exact),
    # and tools/margin_audit.py rightly flags gratuitous rounded floats
    return decode_ppm(synth_ppm(t(spark, sf_dir, "documents")))


@register(
    "p_media_wav",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             1 + doc_id % 2 AS ch,
             8000 + 1000 * (doc_id % 3) AS rate,
             (16 + doc_id % 7) * (1 + doc_id % 2) AS n,
             unnest(range(0, (16 + doc_id % 7) * (1 + doc_id % 2))) AS j
      FROM documents
    )
    SELECT doc_id,
           CAST(ch AS INT) AS n_channels,
           CAST(rate AS INT) AS sample_rate,
           CAST(16 AS INT) AS bits,
           CAST(n AS BIGINT) AS n_samples,
           CAST(sum((doc_id * 13 + j) % 4001 - 2000) AS BIGINT) AS amp_sum
    FROM s GROUP BY doc_id, ch, rate, n
    """,
    doc="REAL audio decode (r15, codec-free): one RIFF/WAVE PCM16 payload "
    "per document (synth_wav, with a junk LIST chunk so the chunk walk "
    "is exercised) parsed by decode_wav inside mapInPandas; the oracle "
    "recomputes channel/rate/sample statistics from the generator's "
    "closed form.",
)
def p_media_wav(spark: SparkSession, sf_dir: str):
    from carbondata_spark.operators.media_codecs import decode_wav, synth_wav

    return decode_wav(synth_wav(t(spark, sf_dir, "documents")))


@register(
    "p_media_bmp",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             3 + doc_id % 5 AS w,
             2 + doc_id % 3 AS h,
             unnest(range(0, 3 * (3 + doc_id % 5) * (2 + doc_id % 3))) AS i
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(24 AS INT) AS bits,
           CAST(sum((doc_id * 11 + i) % 256) AS BIGINT) AS pixel_sum,
           CAST(sum(CASE WHEN i < 3 * w THEN (doc_id * 11 + i) % 256 END)
                AS BIGINT) AS top_row_sum
    FROM px GROUP BY doc_id, w, h
    """,
    doc="REAL image decode #2 (r16, codec-free): one 24-bit uncompressed "
    "BMP per document — bottom-up padded rows and a non-default "
    "pixel-array offset synthesized by synth_bmp — parsed by decode_bmp "
    "inside mapInPandas. top_row_sum is position-sensitive: it breaks if "
    "the 4-byte row stride or the bottom-up row order is mishandled, "
    "which a whole-buffer sum would mask. The oracle recomputes both "
    "statistics from the generator's closed form.",
)
def p_media_bmp(spark: SparkSession, sf_dir: str):
    from carbondata_spark.operators.media_codecs import decode_bmp, synth_bmp

    return decode_bmp(synth_bmp(t(spark, sf_dir, "documents")))


@register(
    "p_media_dispatch",
    oracle="""
    WITH ppm AS (
      SELECT doc_id,
             4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h,
             unnest(range(0, 3 * (4 + doc_id % 5) * (2 + doc_id % 3))) AS i
      FROM documents WHERE doc_id % 3 = 0
    ), wav AS (
      SELECT doc_id,
             1 + doc_id % 2 AS ch,
             (16 + doc_id % 7) * (1 + doc_id % 2) AS n,
             unnest(range(0, (16 + doc_id % 7) * (1 + doc_id % 2))) AS j
      FROM documents WHERE doc_id % 3 = 1
    ), bmp AS (
      SELECT doc_id,
             3 + doc_id % 5 AS w, 2 + doc_id % 3 AS h,
             unnest(range(0, 3 * (3 + doc_id % 5) * (2 + doc_id % 3))) AS i
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT doc_id, 'ppm' AS codec,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels, CAST(NULL AS INT) AS sample_rate,
           CAST(3 * w * h AS BIGINT) AS unit_count,
           CAST(sum((doc_id * 7 + i) % 256) AS BIGINT) AS value_sum
    FROM ppm GROUP BY doc_id, w, h
    UNION ALL
    SELECT doc_id, 'wav' AS codec,
           CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
           CAST(ch AS INT) AS n_channels,
           CAST(8000 + 1000 * (doc_id % 3) AS INT) AS sample_rate,
           CAST(n AS BIGINT) AS unit_count,
           CAST(sum((doc_id * 13 + j) % 4001 - 2000) AS BIGINT) AS value_sum
    FROM wav GROUP BY doc_id, ch, n
    UNION ALL
    SELECT doc_id, 'bmp' AS codec,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS n_channels, CAST(NULL AS INT) AS sample_rate,
           CAST(3 * w * h AS BIGINT) AS unit_count,
           CAST(sum((doc_id * 11 + i) % 256) AS BIGINT) AS value_sum
    FROM bmp GROUP BY doc_id, w, h
    """,
    doc="Typed decode over a MIXED media column (r16): one payload per "
    "document, format routed by doc_id % 3 across PPM/WAV/BMP "
    "(synth_media_mixed), decoded by ONE mapInPandas kernel that "
    "dispatches each row on its magic bytes to the matching real parser "
    "and emits a unified row shape — the 100 TB multimodal scan pattern "
    "(one partition-parallel pass over a heterogeneous corpus, not N "
    "filtered single-format passes). The oracle recomputes every branch "
    "from the generators' closed forms.",
)
def p_media_dispatch(spark: SparkSession, sf_dir: str):
    from carbondata_spark.operators.media_codecs import (
        decode_media_dispatch,
        synth_media_mixed,
    )

    return decode_media_dispatch(synth_media_mixed(t(spark, sf_dir, "documents")))
