"""RLE8 BMP decode kernel (operators/media_rle.py) and its registered
row (query_defs/media_rle_q.py)."""

from __future__ import annotations

import os
import struct

import pytest

from carbondata_spark.operators.media_rle import (
    _make_bmp_rle8_parser,
    decode_bmp_rle8,
    synth_bmp_rle8,
)


def closed_form(d: int) -> tuple[int, int, int, int, int]:
    """The synth generator's documented closed form, recomputed
    independently (same arithmetic the DuckDB oracle uses)."""
    w, h = 6 + d % 5, 2 + d % 4
    tot = top = 0
    for i in range(w * h):
        j = 0 if (d % 4 == 0 and w - 2 <= i < w) else (d * 3 + i // 3) % 251
        v = (
            (7 * j + d) % 256
            + (7 * j + d + 85) % 256
            + (7 * j + d + 170) % 256
        )
        tot += v
        if i < w:
            top += v
    return (w, h, 8, tot, top)


def test_decode_matches_closed_form(spark):
    docs = spark.range(0, 120).withColumnRenamed("id", "doc_id")
    out = decode_bmp_rle8(synth_bmp_rle8(docs)).collect()
    assert len(out) == 120
    for r in out:
        assert (
            r.width, r.height, r.bits, r.pixel_sum, r.top_row_sum
        ) == closed_form(r.doc_id), f"doc {r.doc_id}"


def test_fixture_stream_interleaves_all_packet_kinds(spark):
    """Guard the fixture from degenerating: the encoded streams must
    contain count>1 runs, absolute packets, EOL, EOD, and (for
    doc_id%4==0) the position-delta escape — else the decoder's packet
    walk is no longer exercised end-to-end."""
    docs = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    rows = synth_bmp_rle8(docs).collect()
    seen = set()
    for r in rows:
        buf = bytes(r.content)
        (offset,) = struct.unpack("<I", buf[10:14])
        data, p = buf[offset:], 0
        while p + 2 <= len(data):
            b1, b2 = data[p], data[p + 1]
            p += 2
            if b1 > 1:
                seen.add("run_gt1")
            elif b1 == 1:
                seen.add("run_single")
            elif b2 == 0:
                seen.add("eol")
            elif b2 == 1:
                seen.add("eod")
                break
            elif b2 == 2:
                seen.add("delta")
                p += 2
            else:
                seen.add("absolute")
                p += b2 + (b2 & 1)
        assert "eod" in seen, f"doc {r.doc_id}: stream did not terminate"
    assert seen >= {"run_gt1", "run_single", "eol", "eod", "delta", "absolute"}, seen


def _payload(w, h, stream, pal_fn=lambda j: (j, 0, 0), compression=1, bits=8, h_sign=1):
    pal = b"".join(bytes((*pal_fn(j), 0)) for j in range(256))
    offset = 14 + 40 + len(pal)
    file_hdr = b"BM" + struct.pack("<IHHI", offset + len(stream), 0, 0, offset)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h_sign * h, 1, bits, compression,
        len(stream), 2835, 2835, 256, 0,
    )
    return file_hdr + info_hdr + pal + stream


def test_handcrafted_payload_exact_stats():
    """Pin decoder semantics against a payload built BY HAND (not by the
    synth encoder) so a shared encoder/decoder misunderstanding cannot
    cancel out. Palette: B=j, G=0, R=0 → resolved value == index.
    Stored stream (bottom-up, w=4 h=2):
      stored row 0 (bottom image row):  run 4×idx5            → 5 5 5 5
      stored row 1 (top image row):     absolute [1,2,3] + pad, run 1×idx7
    """
    stream = bytes((4, 5)) + b"\x00\x00" + bytes((0, 3, 1, 2, 3, 0)) + bytes((1, 7)) + b"\x00\x01"
    parse = _make_bmp_rle8_parser()
    w, h, bits, pixel_sum, top_row_sum = parse(_payload(4, 2, stream))
    assert (w, h, bits) == (4, 2, 8)
    assert pixel_sum == 4 * 5 + (1 + 2 + 3 + 7)
    assert top_row_sum == 1 + 2 + 3 + 7  # the LAST stored row


def test_handcrafted_delta_zero_fills():
    """Delta escape skips cells; they must decode as palette index 0.
    w=4 h=1: run 1×idx9, delta dx=2 dy=0, run 1×idx9, EOD → 9 0 0 9."""
    stream = bytes((1, 9)) + b"\x00\x02\x02\x00" + bytes((1, 9)) + b"\x00\x01"
    parse = _make_bmp_rle8_parser()
    _w, _h, _bits, pixel_sum, top_row_sum = parse(_payload(4, 1, stream))
    assert pixel_sum == top_row_sum == 18


@pytest.mark.parametrize(
    "label,buf",
    [
        ("bad magic", b"XX" + b"\x00" * 60),
        ("truncated header", b"BM\x00\x00"),
        ("not RLE8", _payload(4, 1, b"\x00\x01", compression=0)),
        ("wrong depth", _payload(4, 1, b"\x00\x01", bits=24)),
        ("top-down RLE", _payload(4, 1, b"\x00\x01", h_sign=-1)),
        ("run overflows row", _payload(4, 1, bytes((5, 1)) + b"\x00\x01")),
        ("absolute overflows row", _payload(4, 1, bytes((0, 5, 1, 2, 3, 4, 5, 0)) + b"\x00\x01")),
        ("truncated absolute", _payload(4, 1, bytes((0, 3, 1)))),
        ("missing EOD", _payload(4, 1, bytes((4, 1)))),
        ("delta out of bounds", _payload(4, 1, b"\x00\x02\x09\x00" + b"\x00\x01")),
        ("EOL past last row", _payload(4, 1, b"\x00\x00" + b"\x00\x00" + b"\x00\x01")),
        ("truncated delta", _payload(4, 1, b"\x00\x02")),
    ],
)
def test_malformed_payloads_raise(label, buf):
    parse = _make_bmp_rle8_parser()
    with pytest.raises(ValueError):
        parse(buf)


def test_random_images_decode_via_independent_encoder():
    """Round-trip random images through a THIRD encoding policy (pure
    count=1 pairs, no absolute/run/delta packets) so the decoder is
    checked against payloads neither the synth encoder nor the
    hand-crafted cases produce. Any valid RLE8 encoding of an image
    must decode to the same statistics."""
    import numpy as np

    parse = _make_bmp_rle8_parser()
    rng = np.random.RandomState(17)
    for _ in range(25):
        w, h = int(rng.randint(1, 12)), int(rng.randint(1, 8))
        img = rng.randint(0, 256, size=(h, w))  # image space, top-first
        pal = rng.randint(0, 256, size=(256, 3))
        stream = bytearray()
        for y in range(h - 1, -1, -1):  # stored bottom-up
            for x in range(w):
                stream += bytes((1, int(img[y, x])))
            if y > 0:
                stream += b"\x00\x00"
        stream += b"\x00\x01"
        buf = _payload(
            w, h, bytes(stream),
            pal_fn=lambda j, pal=pal: tuple(int(v) for v in pal[j]),
        )
        got = parse(buf)
        vals = pal[img].sum(axis=2)
        want = (w, h, 8, int(vals.sum()), int(vals[0].sum()))
        assert got == want, (got, want)


def test_registered_form_matches_oracle(spark, sf_dir):
    """The registered row's exact form — p_media_rle plus its DuckDB
    oracle — at sf0.001."""
    from carbondata_spark.oracle import compare, duckdb_connection
    from carbondata_spark.queries import registry

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    q = registry()["p_media_rle"]
    con = duckdb_connection(sf)
    try:
        res = compare(q.name, q.fn(spark, sf).toPandas(), con.execute(q.oracle).fetchdf())
    finally:
        con.close()
    assert res.ok, res.detail
    assert res.spark_rows > 0
