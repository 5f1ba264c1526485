"""REAL RLE-compressed media decode kernel.

The three codec-free kernels in operators/media_codecs.py (PPM / WAV /
24-bit BMP) all read FIXED-stride payloads: the byte position of every
pixel/sample is computable from the header alone. RLE8 BMP (BI_RLE8,
the reference's multimodal table model covers compressed image payloads
too) is a genuinely different kernel class: the pixel stream is
VARIABLE-length — encoded runs, absolute (literal) packets with word
padding, and end-of-line / end-of-bitmap / position-delta escapes —
so decoding is an inherently sequential per-payload walk, plus a color
palette indirection the fixed-stride kernels never exercise. It still
needs no external codec: the full decoder is ~60 lines of stdlib+NumPy
(BENCH_NOTES_r17 "Compressed-codec probe": PIL/ffmpeg remain absent;
an RLE dialect is the one compressed format class implementable
deterministically in pure NumPy).

Reference provenance: the payload model mirrors the reference's
multimodal ingestion surface (binary content column + typed codec
metadata); the RLE8 wire format is the public Windows BITMAPINFOHEADER
/ BI_RLE8 spec, same family as media_codecs.decode_bmp's BI_RGB.

Binary payload model (same struct as multimodal.py / media_codecs.py):

    media: struct fields (doc_id, media_type, content: binary,
           meta: struct<codec string, n_bytes long>)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from carbondata_spark.operators.media_codecs import MEDIA_SCHEMA

BMP_RLE8_DECODED_SCHEMA = (
    "doc_id long, width int, height int, bits int, "
    "pixel_sum long, top_row_sum long"
)


def _make_bmp_rle8_parser():
    """Self-contained RLE8 BMP parse closure (stdlib + numpy only, bound
    inside the factory so cloudpickle ships it BY VALUE — executor
    workers never need carbondata_spark on sys.path, same convention as
    media_codecs' factories).

    Returns parse(buf) -> (width, height, bits, pixel_sum, top_row_sum)
    where pixel statistics sum the palette-RESOLVED B+G+R bytes per
    pixel (the BI_RGB kernel's byte-sum semantics applied after the
    palette lookup). top_row_sum covers the first IMAGE row — the LAST
    row in the stored bottom-up stream — so it breaks if row order,
    escape handling, or a delta-skipped cell's implicit zero fill is
    mishandled, which the whole-image sum alone would mask.
    """
    import struct

    import numpy as np

    def parse(buf: bytes) -> tuple[int, int, int, int, int]:
        if buf[:2] != b"BM":
            raise ValueError("not a BMP payload")
        if len(buf) < 54:
            raise ValueError("truncated BMP header")
        (offset,) = struct.unpack("<I", buf[10:14])
        hdr_size, w, h_raw, planes, bits, compression = struct.unpack(
            "<IiiHHI", buf[14:34]
        )
        if hdr_size < 40:
            raise ValueError(f"unsupported BMP header size {hdr_size}")
        if planes != 1 or bits != 8 or compression != 1:
            raise ValueError(
                f"only RLE8 BMP supported here (planes={planes}, "
                f"bits={bits}, compression={compression})"
            )
        if h_raw < 0:
            # the public spec forbids top-down storage for RLE bitmaps
            raise ValueError("RLE8 BMP cannot be top-down (negative height)")
        h = h_raw
        if w <= 0 or h <= 0:
            raise ValueError(f"bad BMP dimensions {w}x{h_raw}")
        (clr_used,) = struct.unpack("<I", buf[46:50])
        n_colors = clr_used or 256
        if n_colors > 256:
            raise ValueError(f"bad RLE8 palette size {n_colors}")
        pal_off = 14 + hdr_size
        pal_end = pal_off + 4 * n_colors
        if len(buf) < pal_end or offset < pal_end:
            raise ValueError("truncated/overlapping BMP palette")
        pal = np.frombuffer(
            buf, dtype=np.uint8, count=4 * n_colors, offset=pal_off
        ).reshape(n_colors, 4)
        # palette-resolved per-index byte sum (B+G+R; 4th byte reserved)
        pal_sum = pal[:, :3].sum(axis=1, dtype=np.int64)

        data = buf[offset:]
        idx = np.zeros((h, w), dtype=np.uint8)  # delta-skipped cells = 0
        x = y = p = 0
        ended = False
        while p + 2 <= len(data):
            b1, b2 = data[p], data[p + 1]
            p += 2
            if b1 > 0:  # encoded run: b1 pixels of palette index b2
                if y >= h or x + b1 > w:
                    raise ValueError("RLE8 run overflows the pixel array")
                idx[y, x : x + b1] = b2
                x += b1
            elif b2 == 0:  # end of line
                x, y = 0, y + 1
                if y > h:
                    raise ValueError("RLE8 EOL past the last row")
            elif b2 == 1:  # end of bitmap
                ended = True
                break
            elif b2 == 2:  # position delta (dx, dy)
                if p + 2 > len(data):
                    raise ValueError("truncated RLE8 delta escape")
                dx, dy = data[p], data[p + 1]
                p += 2
                x, y = x + dx, y + dy
                if x > w or y > h:
                    raise ValueError("RLE8 delta moves out of bounds")
            else:  # absolute mode: b2 (3..255) literal indices, word-padded
                n = b2
                if p + n > len(data):
                    raise ValueError("truncated RLE8 absolute packet")
                if y >= h or x + n > w:
                    raise ValueError("RLE8 absolute packet overflows row")
                idx[y, x : x + n] = np.frombuffer(
                    data, dtype=np.uint8, count=n, offset=p
                )
                x += n
                p += n + (n & 1)  # odd-length packets carry a pad byte
        if not ended:
            raise ValueError("RLE8 stream missing end-of-bitmap escape")
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("RLE8 pixel index outside the palette")
        img = idx[::-1]  # bottom-up storage -> image (top-first) order
        vals = pal_sum[img]
        return (
            w,
            h,
            bits,
            int(vals.sum(dtype=np.int64)),
            int(vals[0].sum(dtype=np.int64)),
        )

    return parse


def synth_bmp_rle8(docs: DataFrame) -> DataFrame:
    """Deterministic RLE8 BMP fixture encoder — closed forms a SQL
    oracle can recompute (query_defs/media_rle_q.py):

    - width = 6 + doc_id % 5, height = 2 + doc_id % 4
    - image-space palette index at linear pixel i (top-left row-major):
      ``(doc_id*3 + i//3) % 251`` — values repeat in runs of up to 3,
      so the encoder's per-chunk RLE emits genuine count>1 runs
    - palette entry j = (B, G, R, 0) with B = (7j + doc_id) % 256,
      G = (B + 85) % 256, R = (B + 170) % 256 — three DISTINCT channel
      ramps so a decoder that assumes a grayscale palette fails
    - when doc_id % 4 == 0 the last two pixels of the TOP image row are
      not encoded at all: the final stored row ends in a position-delta
      escape (dx=2), so those cells decode as palette index 0

    The stream interleaves all RLE8 packet kinds deterministically:
    chunks of 4 pixels per row, every third chunk (when >= 3 long)
    emitted as an ABSOLUTE packet (word-padded), the rest as encoded
    runs; EOL after every stored row except the last; EOD terminator.
    A 2-byte gap sits between palette and pixel data so decoders must
    honor the pixel-array offset field."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def rle_row(vals: list[int]) -> bytes:
            out = bytearray()
            for b, c0 in enumerate(range(0, len(vals), 4)):
                chunk = vals[c0 : c0 + 4]
                if b % 3 == 0 and len(chunk) >= 3:
                    out += bytes((0, len(chunk), *chunk))
                    if len(chunk) & 1:
                        out += b"\x00"  # word-align absolute packets
                else:
                    j = 0
                    while j < len(chunk):
                        k = j
                        while k < len(chunk) and chunk[k] == chunk[j]:
                            k += 1
                        out += bytes((k - j, chunk[j]))
                        j = k
            return bytes(out)

        def enc(doc_id: int) -> bytes:
            w, h = 6 + doc_id % 5, 2 + doc_id % 4
            delta_top = doc_id % 4 == 0

            def pix(i: int) -> int:
                return (doc_id * 3 + i // 3) % 251

            stream = bytearray()
            for y in range(h - 1, -1, -1):  # bottom-up storage order
                if y == 0 and delta_top:
                    stream += rle_row([pix(x) for x in range(w - 2)])
                    stream += b"\x00\x02\x02\x00"  # delta: dx=2, dy=0
                else:
                    stream += rle_row([pix(y * w + x) for x in range(w)])
                if y > 0:
                    stream += b"\x00\x00"  # end of line
            stream += b"\x00\x01"  # end of bitmap
            pal = b"".join(
                bytes(
                    (
                        (7 * j + doc_id) % 256,
                        (7 * j + doc_id + 85) % 256,
                        (7 * j + doc_id + 170) % 256,
                        0,
                    )
                )
                for j in range(256)
            )
            gap = b"\x00\x00"  # exercises the offset field
            offset = 14 + 40 + len(pal) + len(gap)
            size = offset + len(stream)
            file_hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, offset)
            info_hdr = struct.pack(
                "<IiiHHIIiiII",
                40, w, h, 1, 8, 1, len(stream), 2835, 2835, 256, 0,
            )
            return file_hdr + info_hdr + pal + gap + bytes(stream)

        for pdf in it:
            content = [enc(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "media_type": "image",
                    "content": content,
                    "meta": [
                        {"codec": "image/bmp+rle8", "n_bytes": len(c)}
                        for c in content
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


def decode_bmp_rle8(media: DataFrame) -> DataFrame:
    """REAL compressed-image decode kernel — no external codec: BI_RLE8
    is headers + palette + a variable-length run-encoded pixel stream.
    Walks every packet kind (encoded runs, word-padded absolute
    packets, EOL / EOD / delta escapes), zero-fills delta-skipped
    cells, resolves pixels through the color palette, and emits
    position-sensitive statistics. Malformed payloads — truncated
    stream, run past the row end, out-of-bounds delta, missing EOD,
    index outside the palette, top-down RLE — all raise: bad media must
    fail loudly, not decode to garbage. Arrow-batched mapInPandas,
    embarrassingly parallel, no shuffle — the same 100 TB scan shape as
    media_codecs' fixed-stride kernels."""

    parse = _make_bmp_rle8_parser()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parsed = [parse(bytes(c)) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "width": [p[0] for p in parsed],
                    "height": [p[1] for p in parsed],
                    "bits": [p[2] for p in parsed],
                    "pixel_sum": [p[3] for p in parsed],
                    "top_row_sum": [p[4] for p in parsed],
                }
            )

    return media.mapInPandas(batches, schema=BMP_RLE8_DECODED_SCHEMA)
