"""Round-16 pins: crash consistency of the _write_rewrites promotion
loop, 32-segment scale stress of the r15 single-job write paths, and the
r15 ADVICE fixes (raw-spelling delimiter collision, compressed-member
header peek, Scala char literals in the replay comment stripper). The
all-NULL bloom pin lives in tests/test_bloom.py.

Reference analogues: load-failure cleanup in
CarbonDataRDDFactory.scala:527-558 (partial loads become clean-files
prey, the manifest is never advanced); single-distributed-job
restructure in CarbonMergerRDD.scala:31-234.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from carbondata_spark.store import CarbonStore
from tests._jobcount import count_jobs


def _build_store(spark, root, n_segs: int, rows_per_seg: int = 60, bloom=False):
    store = CarbonStore(spark, str(root))
    df = spark.range(0, rows_per_seg * n_segs).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    props = {"bloom_columns": "k"} if bloom else None
    store.create_table("t", df.schema, sort_columns=["k"], properties=props)
    for i in range(n_segs):
        store.load(
            "t",
            df.filter(
                (F.col("k") >= i * rows_per_seg)
                & (F.col("k") < (i + 1) * rows_per_seg)
            ),
        )
    return store


# --------------------------------------------------------------------------
# 1. crash consistency: fail AFTER the k-th promotion rename
# --------------------------------------------------------------------------


def test_rewrite_promotion_crash_recovers_via_clean_files(spark, tmp_path):
    """A hard crash midway through _write_rewrites' per-segment rename
    promotion (some rewrite dirs promoted, staging still on disk, the
    all-or-nothing manifest swap never reached) must leave the table
    readable at its PRE-mutation state, and clean_files must GC both the
    staging dir and the orphaned promoted dirs — the same discipline as
    the reference's load-failure cleanup
    (CarbonDataRDDFactory.scala:527-558)."""
    import carbondata_spark.store as store_mod

    store = _build_store(spark, tmp_path, n_segs=4)
    before_rows = {tuple(r) for r in store.table("t").collect()}
    fact_dir = os.path.join(str(tmp_path), "t", "Fact", "Part0")

    real_rename = os.rename
    real_rmtree = store_mod.shutil.rmtree
    promoted = []

    def crashing_rename(src, dst, *a, **kw):
        if ".rewrite_staging_" in str(src):
            if len(promoted) >= 2:
                raise OSError(28, "injected crash after 2nd promotion")
            promoted.append(dst)
        return real_rename(src, dst, *a, **kw)

    def crash_rmtree(path, *a, **kw):
        # the finally-cleanup never runs in a real crash: keep staging
        if ".rewrite_staging_" in str(path):
            return None
        return real_rmtree(path, *a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "rename", crashing_rename)
        mp.setattr(store_mod.shutil, "rmtree", crash_rmtree)
        with pytest.raises(OSError, match="injected crash"):
            # v % 120 == 0 hits every segment; unprunable modulo conjunct
            store.update_rows("t", "v % 120 = 0", {"v": "-1"})

    # (a) the manifest still reads pre-mutation: the swap never happened,
    # reserved rewrite entries are In Progress and invisible to reads
    assert {tuple(r) for r in store.table("t").collect()} == before_rows
    in_prog = [
        s for s in store.show_segments("t") if s["status"] == "Load In Progress"
    ]
    assert len(in_prog) == 4, "all four reserved rewrite ids must remain"
    # the crash left debris: 2 promoted orphan dirs + the staging dir
    staging = [d for d in os.listdir(fact_dir) if d.startswith(".rewrite_staging_")]
    assert len(staging) == 1, staging
    assert len(promoted) == 2 and all(os.path.isdir(p) for p in promoted)

    # (b) clean_files GCs the stale reserved entries, their orphaned
    # promoted dirs, AND the staging dir
    time.sleep(0.1)
    removed = store.clean_files("t", stale_in_progress_s=0.05)
    assert {s["segment_id"] for s in in_prog} <= set(removed)
    assert not any(os.path.isdir(p) for p in promoted), "orphans must be GC'd"
    assert not any(
        d.startswith(".rewrite_staging_") for d in os.listdir(fact_dir)
    ), "staging dir must be GC'd"
    assert {tuple(r) for r in store.table("t").collect()} == before_rows

    # the table is fully operational: the same mutation now succeeds
    assert store.update_rows("t", "v % 120 = 0", {"v": "-1"}) == 4
    assert store.table("t").filter("v = -1").count() == 4


# --------------------------------------------------------------------------
# 2. 32-segment scale stress of the single-job write paths
# --------------------------------------------------------------------------


def test_broad_update_32_segments_constant_jobs_sublinear_walltime(spark, tmp_path):
    """The r15 invariants were pinned at <=6 segments; prove the curve at
    32: a broad UPDATE touching every segment runs the SAME job count at
    8 and at 32 affected segments (one detection job + one distributed
    rewrite write, never a per-segment loop), and wall time grows
    sub-linearly in affected-segment count (fixed job overheads dominate;
    a linear-in-segments shape would show ~4x)."""

    def measure(n_segs: int, attempt: int):
        store = _build_store(spark, tmp_path / f"u{n_segs}a{attempt}", n_segs)
        with count_jobs(spark) as c:
            t0 = time.perf_counter()
            assert store.update_rows("t", "v % 120 = 0", {"v": "-1"}) == n_segs
            dt = time.perf_counter() - t0
        assert store.table("t").filter("v = -1").count() == n_segs
        return c.n, dt

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    counts, times = {}, {}
    try:
        for n_segs in (8, 32):
            counts[n_segs], times[n_segs] = measure(n_segs, 0)
        assert counts[8] == counts[32], (
            f"update job count grew with affected-segment count: {counts}"
        )
        # 4x the segments must cost well under 4x the time (sub-linear);
        # a per-segment write loop measured ~linear here before r15. The
        # bench notes document multi-second host slowdown bursts, so the
        # WALL-TIME half (only) gets the bench harness's own burst
        # defense: on a miss, re-measure both sizes and take the min —
        # the job-count equality above stays single-shot strict.
        for attempt in (1, 2):
            if times[32] < 3.0 * times[8]:
                break
            for n_segs in (8, 32):
                n, dt = measure(n_segs, attempt)
                assert n == counts[n_segs], f"job count unstable: {n} vs {counts}"
                times[n_segs] = min(times[n_segs], dt)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert times[32] < 3.0 * times[8], f"wall-time not sub-linear: {times}"


def test_wide_merge_32_segments_constant_jobs(spark, tmp_path):
    """A MERGE whose source touches every one of 32 segments runs the
    same job count as one touching 8 (per-source-segment rewrite split,
    one staged write — store.py:1727-1738)."""
    from pyspark.sql import Row

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    counts = {}
    try:
        for n_segs in (8, 32):
            store = _build_store(spark, tmp_path / f"m{n_segs}", n_segs)
            src = spark.createDataFrame(
                [Row(k=i * 60, v=-1) for i in range(n_segs)]
            )
            with count_jobs(spark) as c:
                res = store.merge_rows(
                    "t", src, keys="k", update_cols=["v"], insert=False
                )
            counts[n_segs] = c.n
            assert res == {"updated": n_segs, "inserted": 0}
            rewrites = sorted(
                s["origin"]["rewrite_of"]
                for s in store.show_segments("t")
                if s["origin"].get("op") == "merge"
            )
            assert rewrites == list(range(n_segs))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert counts[8] == counts[32], (
        f"merge job count grew with affected-segment count: {counts}"
    )


# --------------------------------------------------------------------------
# 4. Scala replay comment stripper: char literals
# --------------------------------------------------------------------------


def test_strip_comments_char_literals():
    from tests._scala_replay import strip_comments

    # a '"' char literal must not open a pseudo-string that swallows the
    # real comments after it
    src = 'val q = \'"\'\n/* dead */ sql("SELECT 1") // tail\nval e = \'\\\\\'\n'
    out = strip_comments(src)
    assert "dead" not in out and "tail" not in out
    assert 'sql("SELECT 1")' in out
    assert "'\"'" in out and "'\\\\'" in out
    # a bare apostrophe (Scala symbol / SQL text) still falls through and
    # string-literal protection still works
    src2 = "val s = 'sym\nval t = \"/* kept */\" /* gone */"
    out2 = strip_comments(src2)
    assert "'sym" in out2 and "/* kept */" in out2 and "gone" not in out2


# --------------------------------------------------------------------------
# 5. BMP decode kernel (r16: second uncompressed image format)
# --------------------------------------------------------------------------


def _docs(spark, n=6):
    return spark.range(0, n).select(F.col("id").alias("doc_id"))


def _media_df(spark, buf: bytes):
    return spark.createDataFrame(
        [(1, "image", bytearray(buf), ("image/bmp", len(buf)))],
        "doc_id long, media_type string, content binary, "
        "meta struct<codec string, n_bytes long>",
    )


def test_bmp_roundtrip_stride_and_bottom_up(spark):
    from carbondata_spark.operators.media_codecs import decode_bmp, synth_bmp

    out = {r["doc_id"]: r for r in decode_bmp(synth_bmp(_docs(spark))).collect()}
    assert len(out) == 6
    for d, r in out.items():
        w, h = 3 + d % 5, 2 + d % 3
        assert (r["width"], r["height"], r["bits"]) == (w, h, 24)
        px = [(d * 11 + i) % 256 for i in range(3 * w * h)]
        assert r["pixel_sum"] == sum(px)
        # position-sensitive: first IMAGE row is the LAST stored row —
        # breaks if stride or bottom-up order is mishandled
        assert r["top_row_sum"] == sum(px[: 3 * w])


def test_bmp_top_down_negative_height(spark):
    # hand-built 2x2 top-down (height = -2) payload, offset exactly 54
    import struct

    from carbondata_spark.operators.media_codecs import decode_bmp

    w, h = 2, 2
    stride = (3 * w + 3) & ~3  # 8
    rows = [bytes([10] * 6) + b"\x00" * 2, bytes([20] * 6) + b"\x00" * 2]
    body = b"".join(rows)  # top-down: first stored row IS the top row
    buf = (
        b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(body), 0, 0, 0, 0)
        + body
    )
    r = decode_bmp(_media_df(spark, buf)).collect()[0]
    assert (r["width"], r["height"]) == (w, h)
    assert r["pixel_sum"] == 6 * 10 + 6 * 20
    assert r["top_row_sum"] == 6 * 10


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda b: b"XX" + b[2:], "not a BMP"),
        (lambda b: b[:40], "truncated BMP header"),
        (lambda b: b[:-4], "truncated BMP pixel array"),
        # flip bitcount (offset 28 in the file) to 8: unsupported depth
        (lambda b: b[:28] + b"\x08\x00" + b[30:], "only uncompressed 24-bit"),
        # flip compression (offset 30) to BI_RLE8
        (lambda b: b[:30] + b"\x01\x00\x00\x00" + b[34:], "only uncompressed"),
    ],
)
def test_bmp_malformed_raises(spark, mutate, msg):
    from carbondata_spark.operators.media_codecs import decode_bmp, synth_bmp

    buf = bytes(synth_bmp(_docs(spark, 1)).collect()[0]["content"])
    with pytest.raises(Exception, match=msg):
        decode_bmp(_media_df(spark, mutate(buf))).collect()


def test_bmp_honors_pixel_offset_field(spark):
    """synth_bmp leaves a 2-byte gap before the pixel array; a decoder
    assuming offset 54 would read garbage. Re-synthesize with the gap
    stripped and offset rewritten: both must decode identically."""
    import struct

    from carbondata_spark.operators.media_codecs import decode_bmp, synth_bmp

    buf = bytes(synth_bmp(_docs(spark, 1)).collect()[0]["content"])
    (offset,) = struct.unpack("<I", buf[10:14])
    assert offset == 56, "fixture must carry a non-default offset"
    stripped = (
        buf[:10] + struct.pack("<I", 54) + buf[14:54] + buf[offset:]
    )
    a = decode_bmp(_media_df(spark, buf)).collect()[0]
    b = decode_bmp(_media_df(spark, stripped)).collect()[0]
    assert a.asDict() == b.asDict()


def test_merge_crash_during_insert_write_recovers(spark, tmp_path):
    """MERGE stages rewrites AND the insert segment in ONE distributed
    write (r18 fusion), then promotes each staged child by rename; a
    crash mid-promotion leaves some promoted dirs and reserved In
    Progress entries — but the all-or-nothing swap never ran, so reads
    stay pre-merge and clean_files GCs everything (reserved entries AND
    their dirs). (The exhaustive per-rename sweep lives in
    tests/test_crash_sweep.py; this pin keeps the recovery story
    readable end-to-end.)"""
    import os as _os

    from pyspark.sql import Row

    store = _build_store(spark, tmp_path, n_segs=3)
    before_rows = {tuple(r) for r in store.table("t").collect()}
    src = spark.createDataFrame(
        # k=0/60 update segments 0-1; k=900/901 are inserts
        [Row(k=0, v=-1), Row(k=60, v=-1), Row(k=900, v=-2), Row(k=901, v=-2)]
    )

    real_rename = _os.rename
    state = {"promotions": 0}

    def crashing_rename(src_p, dst_p, **kw):
        if ".rewrite_staging_" in str(src_p) and "Segment_" in str(dst_p):
            state["promotions"] += 1
            if state["promotions"] == 2:
                # after the first child promoted, before the rest
                raise OSError(28, "injected crash during merge insert write")
        return real_rename(src_p, dst_p, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr("os.rename", crashing_rename)
        with pytest.raises(OSError, match="injected crash"):
            store.merge_rows("t", src, keys="k")
    assert state["promotions"] == 2, "crash must hit mid-promotion"

    # pre-merge reads; reserved entries (2 rewrites + 1 insert) remain
    assert {tuple(r) for r in store.table("t").collect()} == before_rows
    in_prog = [
        s for s in store.show_segments("t") if s["status"] == "Load In Progress"
    ]
    assert len(in_prog) == 3
    reserved_dirs = [
        store._segment_dir("t", s["segment_id"]) for s in in_prog
    ]
    promoted = [d for d in reserved_dirs if os.path.isdir(d)]
    assert len(promoted) == 1, "exactly the pre-crash promotion landed"

    time.sleep(0.1)
    removed = store.clean_files("t", stale_in_progress_s=0.05)
    assert {s["segment_id"] for s in in_prog} <= set(removed)
    assert not any(os.path.isdir(d) for d in reserved_dirs)
    assert {tuple(r) for r in store.table("t").collect()} == before_rows

    # the same merge now succeeds end-to-end
    res = store.merge_rows("t", src, keys="k")
    assert res == {"updated": 2, "inserted": 2}
    assert store.table("t").filter("v = -1").count() == 2
    assert store.table("t").filter("v = -2").count() == 2


# hypothesis property pin: decode_bmp vs an INDEPENDENT in-test encoder
# (same style as test_ivf_adc_properties.py — Spark compared against a
# pure-Python replay of the format spec, not against synth_bmp)

from hypothesis import given, settings
from hypothesis import strategies as st

bmp_case = st.tuples(
    st.integers(min_value=1, max_value=7),   # width
    st.integers(min_value=1, max_value=5),   # height
    st.integers(min_value=0, max_value=2**31 - 1),  # pixel seed
    st.booleans(),                            # top-down storage
    st.integers(min_value=0, max_value=9),    # gap before pixel array
)


def _encode_bmp(w, h, seed, top_down, gap):
    """Independent reference encoder (struct-by-hand, no synth_bmp)."""
    import struct

    px = [(seed + i) % 256 for i in range(3 * w * h)]  # image row-major
    stride = (3 * w + 3) & ~3
    ys = range(h) if top_down else range(h - 1, -1, -1)
    body = b"".join(
        bytes(px[3 * w * y : 3 * w * (y + 1)]) + b"\x00" * (stride - 3 * w)
        for y in ys
    )
    offset = 54 + gap
    return (
        b"BM" + struct.pack("<IHHI", offset + len(body), 0, 0, offset)
        + struct.pack(
            "<IiiHHIIiiII",
            40, w, -h if top_down else h, 1, 24, 0, len(body), 0, 0, 0, 0,
        )
        + b"\x00" * gap
        + body
    ), px


@settings(max_examples=12, deadline=None)
@given(st.lists(bmp_case, min_size=1, max_size=4))
def test_bmp_decode_property_roundtrip(spark, cases):
    from carbondata_spark.operators.media_codecs import decode_bmp

    rows, expect = [], {}
    for i, (w, h, seed, top_down, gap) in enumerate(cases):
        buf, px = _encode_bmp(w, h, seed, top_down, gap)
        rows.append((i, "image", bytearray(buf), ("image/bmp", len(buf))))
        expect[i] = (w, h, sum(px), sum(px[: 3 * w]))
    media = spark.createDataFrame(
        rows,
        "doc_id long, media_type string, content binary, "
        "meta struct<codec string, n_bytes long>",
    )
    got = {r["doc_id"]: r for r in decode_bmp(media).collect()}
    assert set(got) == set(expect)
    for i, (w, h, psum, tsum) in expect.items():
        r = got[i]
        assert (r["width"], r["height"], r["bits"]) == (w, h, 24)
        assert (r["pixel_sum"], r["top_row_sum"]) == (psum, tsum)


# --------------------------------------------------------------------------
# 6. mixed-media dispatch kernel
# --------------------------------------------------------------------------


def test_media_dispatch_routes_by_magic_and_matches_single_kernels(spark):
    """decode_media_dispatch over a mixed PPM/WAV/BMP column must agree
    exactly with the single-format kernels run on each homogeneous
    slice — dispatch adds routing, never different arithmetic."""
    from carbondata_spark.operators.media_codecs import (
        decode_bmp,
        decode_media_dispatch,
        decode_ppm,
        decode_wav,
        synth_media_mixed,
    )

    docs = _docs(spark, 9)
    mixed = synth_media_mixed(docs)
    got = {r["doc_id"]: r for r in decode_media_dispatch(mixed).collect()}
    assert len(got) == 9
    m = F.col("doc_id") % 3
    for r in decode_ppm(mixed.filter(m == 0)).collect():
        g = got[r["doc_id"]]
        assert (g["codec"], g["width"], g["height"]) == ("ppm", r["width"], r["height"])
        assert (g["unit_count"], g["value_sum"]) == (
            3 * r["width"] * r["height"], r["pixel_sum"],
        )
        assert g["sample_rate"] is None
    for r in decode_wav(mixed.filter(m == 1)).collect():
        g = got[r["doc_id"]]
        assert (g["codec"], g["n_channels"], g["sample_rate"]) == (
            "wav", r["n_channels"], r["sample_rate"],
        )
        assert (g["unit_count"], g["value_sum"]) == (r["n_samples"], r["amp_sum"])
        assert g["width"] is None and g["height"] is None
    for r in decode_bmp(mixed.filter(m == 2)).collect():
        g = got[r["doc_id"]]
        assert (g["codec"], g["width"], g["height"]) == ("bmp", r["width"], r["height"])
        assert (g["unit_count"], g["value_sum"]) == (
            3 * r["width"] * r["height"], r["pixel_sum"],
        )


def test_media_dispatch_unrecognized_payload_raises(spark):
    from carbondata_spark.operators.media_codecs import decode_media_dispatch

    with pytest.raises(Exception, match="unrecognized media payload"):
        decode_media_dispatch(_media_df(spark, b"GIF89a....")).collect()


def test_broad_delete_32_segments_constant_jobs(spark, tmp_path):
    """Completes the r16 scale matrix (UPDATE and MERGE above): a broad
    row-DELETE touching every segment — partial deletes, so every
    segment gets a rewrite — runs the same job count at 8 and 32
    affected segments."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    counts = {}
    try:
        for n_segs in (8, 32):
            store = _build_store(spark, tmp_path / f"d{n_segs}", n_segs)
            with count_jobs(spark) as c:
                assert store.delete_rows("t", "v % 120 = 0") == n_segs
            counts[n_segs] = c.n
            assert store.table("t").count() == 60 * n_segs - n_segs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert counts[8] == counts[32], (
        f"delete job count grew with affected-segment count: {counts}"
    )
