"""Round-15 kernels: REAL codec-free media decoders (PPM / WAV).

The synth encoders and the decode kernels are independent code paths
(byte construction vs header parse + np.frombuffer), so the roundtrips
below are genuine decode tests, not identity checks; the driver rows
(p_media_decode / p_media_wav) additionally verify the same statistics
against closed-form DuckDB oracles.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from carbondata_spark.operators.media_codecs import (
    decode_ppm,
    decode_wav,
    synth_ppm,
    synth_wav,
)


def _docs(spark, n=6):
    return spark.range(0, n).select(F.col("id").alias("doc_id"))


def test_ppm_roundtrip_dimensions_and_pixels(spark):
    out = {
        r["doc_id"]: r
        for r in decode_ppm(synth_ppm(_docs(spark))).collect()
    }
    assert len(out) == 6
    for d, r in out.items():
        w, h = 4 + d % 5, 2 + d % 3
        assert (r["width"], r["height"], r["maxval"]) == (w, h, 255)
        assert r["pixel_sum"] == sum(
            (d * 7 + i) % 256 for i in range(3 * w * h)
        )


def test_ppm_header_comment_and_multidigit_dims(spark):
    # a hand-built payload independent of synth_ppm: 12x10, comments
    # interleaved between header fields, pixel bytes all 200
    w, h = 12, 10
    buf = b"P6\n# c1\n12 # c2\n10\n# c3\n255\n" + bytes([200] * (3 * w * h))
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf), ("image/x-portable-pixmap", len(buf)))],
        "doc_id long, media_type string, content binary, "
        "meta struct<codec string, n_bytes long>",
    )
    r = decode_ppm(media).collect()[0]
    assert (r["width"], r["height"], r["pixel_sum"]) == (w, h, 200 * 3 * w * h)


@pytest.mark.parametrize(
    "buf, msg",
    [
        (b"P5\n2 2\n255\n" + bytes(12), "not a binary PPM"),
        (b"P6\n4 4\n255\n" + bytes(10), "truncated PPM payload"),
        (b"P6\n2 2\n65535\n" + bytes(24), "unsupported PPM maxval"),
    ],
)
def test_ppm_malformed_raises(spark, buf, msg):
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf), ("x", len(buf)))],
        "doc_id long, media_type string, content binary, "
        "meta struct<codec string, n_bytes long>",
    )
    with pytest.raises(Exception, match=msg):
        decode_ppm(media).collect()


def test_wav_roundtrip_chunk_walk(spark):
    out = {
        r["doc_id"]: r
        for r in decode_wav(synth_wav(_docs(spark))).collect()
    }
    assert len(out) == 6
    for d, r in out.items():
        ch = 1 + d % 2
        n = (16 + d % 7) * ch
        assert (r["n_channels"], r["sample_rate"], r["bits"]) == (
            ch,
            8000 + 1000 * (d % 3),
            16,
        )
        assert r["n_samples"] == n
        assert r["amp_sum"] == sum(
            ((d * 13 + j) % 4001) - 2000 for j in range(n)
        )


def test_wav_odd_chunk_padding_and_non_pcm_rejected(spark):
    import struct

    # odd-sized junk chunk before data: the pad byte must be skipped
    data = struct.pack("<4h", 10, -10, 7, -7)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"junk" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad
        + b"data" + struct.pack("<I", len(data)) + data
    )
    buf = b"RIFF" + struct.pack("<I", len(body)) + body
    media = spark.createDataFrame(
        [(1, "audio", bytearray(buf), ("audio/wav", len(buf)))],
        "doc_id long, media_type string, content binary, "
        "meta struct<codec string, n_bytes long>",
    )
    r = decode_wav(media).collect()[0]
    assert (r["n_samples"], r["amp_sum"]) == (4, 0)

    # IEEE-float format must be rejected loudly
    fmt_f32 = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body2 = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt_f32)) + fmt_f32
        + b"data" + struct.pack("<I", 4) + bytes(4)
    )
    buf2 = b"RIFF" + struct.pack("<I", len(body2)) + body2
    media2 = spark.createDataFrame(
        [(1, "audio", bytearray(buf2), ("audio/wav", len(buf2)))],
        "doc_id long, media_type string, content binary, "
        "meta struct<codec string, n_bytes long>",
    )
    with pytest.raises(Exception, match="only PCM16"):
        decode_wav(media2).collect()


# ---------------------------------------------------------------------------
# r15 sql.py hardening (ADVICE items): SORTED BY decimal collapse, header
# peek validation, partial-header warning; quote-aware Scala comment strip
# ---------------------------------------------------------------------------


def _cs(spark, tmp_path, name="s"):
    from carbondata_spark.sql import CarbonSession
    from carbondata_spark.store import CarbonStore

    return CarbonSession(spark, CarbonStore(spark, str(tmp_path / name)))


def test_sorted_by_all_decimal_yields_no_sort_not_default(spark, tmp_path):
    import warnings as _w

    cs = _cs(spark, tmp_path)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        cs.sql(
            "CREATE TABLE td (name string, amt decimal(10,2)) SORTED BY (amt)"
        )
    assert any("zone-map" in str(r.message) for r in rec)
    # the user asked for THIS clustering; the all-filtered result is an
    # explicit empty sort key, NOT the default dims-sorted fallback
    meta = cs.store._read_schema("td")
    assert meta["sort_columns"] == []


def test_load_header_partial_match_warns_null_columns(spark, tmp_path):
    import warnings as _w

    cs = _cs(spark, tmp_path)
    cs.sql(
        "CREATE TABLE hp (a string, b int, c int) "
        "STORED BY 'org.apache.carbondata.format'"
    )
    f = tmp_path / "hp.csv"
    f.write_text("a,b,zzz\nx,1,9\ny,2,8\n")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        cs.sql(f"LOAD DATA INPATH '{f}' INTO TABLE hp")
    assert any(
        "absent from the file header" in str(r.message) and "'c'" in str(r.message)
        for r in rec
    )
    rows = {r["a"]: (r["b"], r["c"]) for r in cs.sql("SELECT * FROM hp").collect()}
    assert rows == {"x": (1, None), "y": (2, None)}


def test_load_multi_file_mixed_headers_rejected(spark, tmp_path):
    cs = _cs(spark, tmp_path)
    cs.sql(
        "CREATE TABLE mh (a string, b int) "
        "STORED BY 'org.apache.carbondata.format'"
    )
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "f1.csv").write_text("a,b\nx,1\n")
    (d / "f2.csv").write_text("b,a\n2,y\n")  # different order: mis-projects
    with pytest.raises(Exception, match="different from the peeked"):
        cs.sql(f"LOAD DATA INPATH '{d}' INTO TABLE mh")
    # uniform headers load fine
    (d / "f2.csv").write_text("a,b\ny,2\n")
    cs.sql(f"LOAD DATA INPATH '{d}' INTO TABLE mh")
    got = {r["a"]: r["b"] for r in cs.sql("SELECT * FROM mh").collect()}
    assert got == {"x": 1, "y": 2}


def test_strip_comments_quote_aware():
    from tests._scala_replay import strip_comments

    src = (
        'sql("SELECT /*+ hint */ a FROM t") // trailing\n'
        "/* a block\ncomment */ checkAnswer(x, y)\n"
        'val g = "path/*.csv" // glob stays intact\n'
    )
    out = strip_comments(src)
    assert '"SELECT /*+ hint */ a FROM t"' in out
    assert '"path/*.csv"' in out
    assert "checkAnswer(x, y)" in out
    assert "trailing" not in out
    assert "a block" not in out


# ---------------------------------------------------------------------------
# r15 single-job rewrite writer: clustering-variant coverage (z-order
# tables and hive-partitioned tables go through _write_rewrites too)
# ---------------------------------------------------------------------------


def test_zorder_table_update_delete_roundtrip(spark, tmp_path):
    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path / "z"))
    df = spark.range(0, 200).select(
        F.col("id").alias("a"), (199 - F.col("id")).alias("b"),
        (F.col("id") * 1.5).alias("v"),
    )
    store.create_table(
        "z", df.schema, sort_columns=["a", "b"],
        properties={"clustering": "zorder"},
    )
    store.load("z", df.filter("a < 100"))
    store.load("z", df.filter("a >= 100"))
    assert store.update_rows("z", "a IN (5, 150)", {"v": "-1"}) == 2
    assert store.delete_rows("z", "a = 7") == 1
    tbl = store.table("z")
    assert tbl.count() == 199
    assert tbl.filter("v = -1").count() == 2
    # rewrites keep fresh zone maps (z-order stats recomputed)
    rewrites = [
        s for s in store.show_segments("z")
        if s["origin"].get("op") in ("update", "delete")
        and s["status"] == "Success"
    ]
    assert rewrites and all(s["stats"] for s in rewrites)


def test_partitioned_table_merge_per_source(spark, tmp_path):
    from pyspark.sql import Row

    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path / "pm"))
    df = spark.range(0, 120).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 2.0).alias("v"),
    )
    store.create_table(
        "pm", df.schema, sort_columns=["k"], partition_columns=["p"]
    )
    store.load("pm", df.filter("k < 60"))
    store.load("pm", df.filter("k >= 60"))
    src = spark.createDataFrame(
        [Row(k=10, p="1", v=-1.0), Row(k=70, p="1", v=-2.0),
         Row(k=500, p="2", v=-3.0)]
    )
    res = store.merge_rows("pm", src, keys="k")
    assert res == {"updated": 2, "inserted": 1}
    tbl = store.table("pm")
    assert tbl.count() == 121
    got = {r["k"]: (r["p"], r["v"]) for r in tbl.filter("v < 0").collect()}
    assert got == {10: ("1", -1.0), 70: ("1", -2.0), 500: ("2", -3.0)}
    # per-source rewrites, hive layout intact under each
    rw = sorted(
        s["origin"]["rewrite_of"] for s in store.show_segments("pm")
        if s["origin"].get("op") == "merge"
    )
    assert rw == [0, 1]


def test_partitioned_table_spanning_delete(spark, tmp_path):
    """Regression (r15): a mutation whose candidates span MULTIPLE
    segments of a hive-partitioned table — the tagged detection union
    used to reference _metadata through the Union and crash; the tag is
    now a per-read literal."""
    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path / "sp"))
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 2.0).alias("v"),
    )
    store.create_table("sp", df.schema, sort_columns=["k"], partition_columns=["p"])
    store.load("sp", df.filter("k < 50"))
    store.load("sp", df.filter("k >= 50"))
    # v is not a sort column: no zone stats, both segments stay candidates
    assert store.delete_rows("sp", "v IN (20.0, 140.0)") == 2
    assert store.table("sp").count() == 98


def test_clean_files_gcs_orphan_rewrite_staging(spark, tmp_path):
    """A mutation killed between its staging write and the dir
    promotions leaves `.rewrite_staging_<id>` behind; CLEAN FILES GCs
    it with the same grace period as stale in-progress entries, and a
    fresh staging dir survives."""
    import os

    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path / "gc"))
    df = spark.range(0, 10).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
    store.create_table("gc", df.schema, sort_columns=["k"])
    store.load("gc", df)
    part_dir = os.path.join(store._table_dir("gc"), "Fact", "Part0")
    orphan = os.path.join(part_dir, ".rewrite_staging_99")
    os.makedirs(orphan)
    store.clean_files("gc", stale_in_progress_s=3600.0)
    assert os.path.isdir(orphan), "young staging must survive (live mutation)"
    store.clean_files("gc", stale_in_progress_s=0.0)
    assert not os.path.isdir(orphan), "stale staging must be GCed"
    assert store.table("gc").count() == 10


# ---------------------------------------------------------------------------
# property tests: arbitrary well-formed payloads decode exactly
# ---------------------------------------------------------------------------


def test_ppm_property_random_payloads(spark):
    import random
    import struct

    rng = random.Random(1517)
    rows = []
    expected = {}
    for doc_id in range(24):
        w, h = rng.randint(1, 17), rng.randint(1, 9)
        px = bytes(rng.randrange(256) for _ in range(3 * w * h))
        # vary header whitespace/comment shapes
        sep = rng.choice([b"\n", b" ", b"\t", b"\n# noise\n"])
        buf = b"P6" + sep + str(w).encode() + b" " + str(h).encode() + b"\n255\n" + px
        rows.append((doc_id, "image", bytearray(buf), ("ppm", len(buf))))
        expected[doc_id] = (w, h, sum(px))
    media = spark.createDataFrame(
        rows,
        "doc_id long, media_type string, content binary, "
        "meta struct<codec string, n_bytes long>",
    )
    got = {
        r["doc_id"]: (r["width"], r["height"], r["pixel_sum"])
        for r in decode_ppm(media).collect()
    }
    assert got == expected

    # WAV: random channel/rate/amplitude payloads incl. extremes
    rows2, exp2 = [], {}
    for doc_id in range(24):
        ch = rng.randint(1, 4)
        rate = rng.choice([8000, 16000, 44100])
        n = rng.randint(1, 64) * ch
        samples = [rng.randint(-32768, 32767) for _ in range(n)]
        data = b"".join(struct.pack("<h", s) for s in samples)
        fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        buf = b"RIFF" + struct.pack("<I", len(body)) + body
        rows2.append((doc_id, "audio", bytearray(buf), ("wav", len(buf))))
        exp2[doc_id] = (ch, rate, n, sum(samples))
    media2 = spark.createDataFrame(
        rows2,
        "doc_id long, media_type string, content binary, "
        "meta struct<codec string, n_bytes long>",
    )
    got2 = {
        r["doc_id"]: (r["n_channels"], r["sample_rate"], r["n_samples"], r["amp_sum"])
        for r in decode_wav(media2).collect()
    }
    assert got2 == exp2


# ---------------------------------------------------------------------------
# r15 rewrite paths × schema evolution and concurrent aborts
# ---------------------------------------------------------------------------


def test_update_and_merge_after_alter_add(spark, tmp_path):
    """Mutations run through the single-job rewrite writer on a table
    whose OLD segments predate an ALTER ADD: the tagged scan aligns old
    segments with the default-filled new column, and the rewrite
    segments materialize the current schema."""
    from pyspark.sql import Row, types as T

    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path / "ev"))
    df = spark.range(0, 40).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
    store.create_table("ev", df.schema, sort_columns=["k"])
    store.load("ev", df.filter("k < 20"))
    store.alter_add_columns(
        "ev", [T.StructField("w", T.StringType())], defaults={"w": "old"}
    )
    store.load(
        "ev",
        df.filter("k >= 20").withColumn("w", F.lit("new")),
    )
    # update spans one pre-evolution and one post-evolution segment
    assert store.update_rows("ev", "k IN (5, 25)", {"w": "'upd'"}) == 2
    got = {r["k"]: r["w"] for r in store.table("ev").filter("k IN (4,5,24,25)").collect()}
    assert got == {4: "old", 5: "upd", 24: "new", 25: "upd"}
    # merge updates + inserts across the same mix
    src = spark.createDataFrame(
        [Row(k=6, v=-1.0, w="m"), Row(k=26, v=-2.0, w="m"), Row(k=99, v=-3.0, w="m")]
    )
    res = store.merge_rows("ev", src, keys="k")
    assert res == {"updated": 2, "inserted": 1}
    got = {r["k"]: (r["v"], r["w"]) for r in store.table("ev").filter("v < 0").collect()}
    assert got == {6: (-1.0, "m"), 26: (-2.0, "m"), 99: (-3.0, "m")}
    # pre-evolution rows outside the mutations (20 - k5 - k6) still
    # read the default
    assert store.table("ev").filter("w = 'old'").count() == 18


def test_concurrent_state_change_aborts_merge(spark, tmp_path, monkeypatch):
    """merge_rows shares _mutate_rows' all-or-nothing swap: a source
    segment invalidated between the rewrite write and the manifest swap
    aborts EVERY provisional segment (rewrites AND insert) and modifies
    nothing."""
    from pyspark.sql import Row

    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path / "ab"))
    df = spark.range(0, 40).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
    store.create_table("ab", df.schema, sort_columns=["k"])
    store.load("ab", df.filter("k < 20"))
    store.load("ab", df.filter("k >= 20"))

    real = CarbonStore._write_rewrites
    fired = {"done": False}

    def racy(self, table, out, rw_col, new_ids, meta, total_rows, **kw):
        got = real(self, table, out, rw_col, new_ids, meta, total_rows, **kw)
        if not fired["done"]:
            fired["done"] = True
            self.delete_segments("ab", [0])
        return got

    monkeypatch.setattr(CarbonStore, "_write_rewrites", racy)
    src = spark.createDataFrame([Row(k=5, v=-1.0), Row(k=25, v=-2.0), Row(k=99, v=-3.0)])
    with pytest.raises(RuntimeError, match="MERGE aborted"):
        store.merge_rows("ab", src, keys="k")
    monkeypatch.setattr(CarbonStore, "_write_rewrites", real)
    # only the concurrent whole-segment delete took effect
    assert store.table("ab").count() == 20
    assert store.table("ab").filter("v < 0").count() == 0
    # provisional segments are dead and GC-able
    store.clean_files("ab", stale_in_progress_s=0.0)
    live = sorted(e.segment_id for e in store.valid_segments("ab"))
    assert live == [1]
