"""RLE-compressed media decode driver row.

Besides this row's oracle check, tests/test_media_rle.py covers the
kernel round-trip, malformed payloads and escape semantics.

The chain itself (operators/media_rle.py) is the repo's first
COMPRESSED-format decode kernel: variable-length RLE8 packet walk +
palette indirection, vs the fixed-stride PPM/WAV/BMP family.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from carbondata_spark.queries import register, t


@register(
    "p_media_rle",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             6 + doc_id % 5 AS w,
             2 + doc_id % 4 AS h,
             unnest(range(0, (6 + doc_id % 5) * (2 + doc_id % 4))) AS i
      FROM documents
    ), j AS (
      SELECT doc_id, w, h, i,
             CASE WHEN doc_id % 4 = 0 AND i >= w - 2 AND i < w
                  THEN 0  -- delta-skipped cells decode as palette index 0
                  ELSE (doc_id * 3 + i // 3) % 251 END AS pal_idx
      FROM px
    ), v AS (
      SELECT doc_id, w, h, i,
             (7 * pal_idx + doc_id) % 256
             + (7 * pal_idx + doc_id + 85) % 256
             + (7 * pal_idx + doc_id + 170) % 256 AS val
      FROM j
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(8 AS INT) AS bits,
           CAST(sum(val) AS BIGINT) AS pixel_sum,
           CAST(sum(CASE WHEN i < w THEN val END) AS BIGINT) AS top_row_sum
    FROM v GROUP BY doc_id, w, h
    """,
    doc="REAL compressed-image decode: one "
    "RLE8 BMP per document — run-encoded packets, word-padded absolute "
    "packets, EOL/EOD escapes, a position-delta escape on every "
    "doc_id%4==0 payload, and a 256-entry three-ramp color palette, all "
    "synthesized deterministically by synth_bmp_rle8 — parsed back by "
    "the pure-NumPy decode_bmp_rle8 kernel inside mapInPandas. "
    "top_row_sum is position-sensitive: the top image row is the LAST "
    "stored row and carries the delta-skipped zero-filled cells, so "
    "mishandled row order, escape semantics, or palette lookup cannot "
    "cancel out. The oracle recomputes both statistics from the "
    "generator's closed forms.",
)
def p_media_rle(spark: SparkSession, sf_dir: str):
    from carbondata_spark.operators.media_rle import (
        decode_bmp_rle8,
        synth_bmp_rle8,
    )

    return decode_bmp_rle8(synth_bmp_rle8(t(spark, sf_dir, "documents")))
