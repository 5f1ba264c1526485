"""Manifest bloom filters: point-lookup segment pruning (bloom.py +
store.scan(eq/isin)).

The scenario zone maps cannot serve: segments split by a key RESIDUE, so
every segment's [min, max] spans the whole key domain — range pruning
keeps everything, but the bloom proves which segment(s) a key can live
in. The reference covered this access path with its in-blocklet inverted
index; here it's manifest metadata, no index table, no extra shuffle.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests._jobcount import count_jobs


@pytest.fixture(scope="module")
def bloom_store(spark, tmp_path_factory, sf_dir):
    """orders loaded as 4 residue-split segments with a bloom on
    o_orderkey: each key lives in exactly one segment, but every
    segment's zone map spans the whole key range."""
    from carbondata_spark.catalog import load_table
    from carbondata_spark.store import CarbonStore

    path = str(tmp_path_factory.mktemp("bloomstore"))
    store = CarbonStore(spark, path)
    orders = load_table(spark, sf_dir, "orders")
    store.create_table(
        "orders_r",
        orders.schema,
        properties={"bloom_columns": "o_orderkey"},
    )
    for r in range(4):
        store.load("orders_r", orders.filter(F.col("o_orderkey") % 4 == r))
    return store, orders


def test_blooms_recorded_per_segment(bloom_store):
    store, _ = bloom_store
    for e in store.valid_segments("orders_r"):
        b = e.blooms.get("o_orderkey")
        assert b is not None and b["m"] >= 1 << 10 and b["k"] >= 1
        assert b["bits"]  # non-empty bitset


def test_point_scan_prunes_to_one_segment(bloom_store):
    """eq on a single key must read (at most, modulo deterministic FPs)
    one residue segment's files — and exactly match the unpruned
    filter."""
    store, orders = bloom_store
    key = 7  # residue 3
    pruned = store.scan("orders_r", column="o_orderkey", eq=key)
    expected = orders.filter(F.col("o_orderkey") == key)
    assert pruned.count() == expected.count() == 1
    files = pruned.inputFiles()
    segs = {f.split("/Segment_")[1].split("/")[0] for f in files}
    # 4 segments hold ~disjoint key sets; the bloom keeps the true one
    # plus at most rare false positives — never all four (zone maps alone
    # would keep all four)
    assert len(segs) < 4
    assert "3" in segs  # the segment that actually holds key 7


def test_point_scan_isin_multi_residue(bloom_store):
    store, orders = bloom_store
    keys = [1, 6]  # residues 1 and 2
    pruned = store.scan("orders_r", column="o_orderkey", isin=keys)
    expected = orders.filter(F.col("o_orderkey").isin(keys))
    assert sorted(r.o_orderkey for r in pruned.select("o_orderkey").collect()) == sorted(
        r.o_orderkey for r in expected.select("o_orderkey").collect()
    )
    segs = {f.split("/Segment_")[1].split("/")[0] for f in pruned.inputFiles()}
    assert {"1", "2"} <= segs and len(segs) < 4


def test_point_scan_no_false_negatives_exhaustive(bloom_store):
    """Every 97th key across the whole domain: the pruned scan must find
    exactly the rows the raw filter finds — a bloom may only ever KEEP
    extra segments, never drop a true one."""
    store, orders = bloom_store
    hi = orders.agg(F.max("o_orderkey")).first()[0]
    keys = list(range(0, int(hi) + 1, 97))
    pruned_n = store.scan("orders_r", column="o_orderkey", isin=keys).count()
    expected_n = orders.filter(F.col("o_orderkey").isin(keys)).count()
    assert pruned_n == expected_n


def test_point_scan_residual_filter_pushed(bloom_store):
    """The residual In filter must reach the surviving parquet scan."""
    store, _ = bloom_store
    df = store.scan("orders_r", column="o_orderkey", isin=[1, 6])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "In(o_orderkey" in plan, plan


def test_string_column_bloom_and_eq(spark, tmp_path, sf_dir):
    """Blooms work on string keys, through scan(eq=...)."""
    from carbondata_spark.catalog import load_table
    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path / "s"))
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "ckey", F.concat(F.lit("C#"), F.col("c_custkey"))
    )
    store.create_table("cust", cust.schema, properties={"bloom_columns": "ckey"})
    store.load("cust", cust.filter(F.col("c_custkey") % 2 == 0))
    store.load("cust", cust.filter(F.col("c_custkey") % 2 == 1))
    got = store.scan("cust", column="ckey", eq="C#41")
    assert got.count() == 1
    segs = {f.split("/Segment_")[1].split("/")[0] for f in got.inputFiles()}
    assert segs == {"1"}  # odd custkeys live in segment 1


def test_compaction_recomputes_stats_and_blooms(spark, tmp_path, sf_dir):
    """compact() must leave the merged segment with a fresh zone map AND
    fresh blooms — a statless merged segment would silently stop pruning
    forever after."""
    from carbondata_spark.catalog import load_table
    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path / "c"))
    orders = load_table(spark, sf_dir, "orders")
    store.create_table(
        "o", orders.schema, properties={"bloom_columns": "o_orderkey"}
    )
    store.load("o", orders.filter(F.col("o_orderkey") % 2 == 0))
    store.load("o", orders.filter(F.col("o_orderkey") % 2 == 1))
    store.compact("o")
    segs = store.valid_segments("o")
    assert len(segs) == 1
    merged = segs[0]
    assert merged.blooms.get("o_orderkey"), "compaction dropped the bloom"
    assert merged.stats, "compaction dropped the zone map"
    # the merged bloom still answers point lookups with zero misses
    n = store.scan("o", column="o_orderkey", eq=5).count()
    assert n == orders.filter(F.col("o_orderkey") == 5).count() == 1


def test_saturation_stores_no_bloom(spark):
    """A column whose cardinality would blow past MAX_BITS stores NO
    bloom (the segment is kept by every probe — correct, just not
    pruned) rather than a saturated filter."""
    from carbondata_spark import bloom as B

    assert B._size_bits(10) == B.MIN_BITS
    assert B._size_bits((B.MAX_BITS // B.BITS_PER_DISTINCT) + 1) is None


def test_bloom_rejects_mixed_point_and_range(bloom_store):
    store, _ = bloom_store
    with pytest.raises(ValueError):
        store.scan("orders_r", column="o_orderkey", eq=1, isin=[2])
    with pytest.raises(ValueError):
        store.scan("orders_r", column="o_orderkey", eq=1, ge=0)


def test_point_scan_composes_with_time_travel(bloom_store):
    """eq pruning over the historical segment set: keys loaded after the
    as-of instant are invisible."""
    store, orders = bloom_store
    segs = sorted(store.valid_segments("orders_r"), key=lambda e: e.segment_id)
    ts_after_two = segs[1].load_end_ts + 1e-4
    # key 7 (residue 3) was loaded in segment 3 — AFTER the as-of instant
    n = store.scan(
        "orders_r", column="o_orderkey", eq=7, as_of_ts=ts_after_two
    ).count()
    assert n == 0
    # key 4 (residue 0) was already live
    n = store.scan(
        "orders_r", column="o_orderkey", eq=4, as_of_ts=ts_after_two
    ).count()
    assert n == 1


def test_streaming_segments_get_blooms(spark, tmp_path, sf_dir):
    """stream_load commits micro-batches through store.load, so a table
    that declares bloom_columns gets a bloom per STREAMED segment too —
    point lookups prune streaming ingest exactly like batch loads."""
    from carbondata_spark.catalog import load_table
    from carbondata_spark.store import CarbonStore
    from carbondata_spark.streaming.ingest import stream_load

    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    sample = load_table(spark, sf_dir, "orders").limit(500)
    sample.filter(F.col("o_orderkey") % 2 == 0).write.parquet(str(src_dir / "f0"))
    sample.filter(F.col("o_orderkey") % 2 == 1).write.parquet(str(src_dir / "f1"))

    store = CarbonStore(spark, str(tmp_path / "store"))
    store.create_table(
        "orders_live",
        sample.schema,
        sort_columns=["o_orderdate"],
        properties={"bloom_columns": "o_orderkey"},
    )
    stream = (
        spark.readStream.schema(sample.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir) + "/*")
    )
    q = stream_load(store, "orders_live", stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    segs = store.valid_segments("orders_live")
    assert segs and all(e.blooms.get("o_orderkey") for e in segs)
    key = int(sample.agg(F.min("o_orderkey")).first()[0])
    got = store.scan("orders_live", column="o_orderkey", eq=key)
    assert got.count() == 1
    if len(segs) > 1:  # availableNow may fuse both files into one batch
        read = {f.split("/Segment_")[1].split("/")[0] for f in got.inputFiles()}
        assert len(read) < len(segs)


def test_create_table_validates_bloom_columns(spark, tmp_path):
    """Typo'd bloom columns fail at CREATE (a silent no-op filter would
    look like pruning while never pruning); float/double keys are refused
    outright — IEEE -0.0 == 0.0 compares equal but hashes differently, so
    a float bloom could FALSE-NEGATIVE a real row."""
    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path / "v"))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    with pytest.raises(ValueError, match="not in schema"):
        store.create_table("a", schema, properties={"bloom_columns": "nope"})
    with pytest.raises(ValueError, match="floating-point"):
        store.create_table("b", schema, properties={"bloom_columns": "score"})
    store.create_table("c", schema, properties={"bloom_columns": "id"})  # ok


def test_describe_reports_bloom_health(bloom_store):
    """describe() surfaces per-column bloom health (max fill ratio across
    segments) — the observable that says whether the filters are still
    selective or have outgrown their sizing."""
    store, _ = bloom_store
    d = store.describe("orders_r")
    h = d["bloom_health"]["o_orderkey"]
    assert h["segments_with_bloom"] == 4
    # sized at ~10 bits/distinct: fill stays well under saturation
    assert 0 < h["max_fill"] < 0.6


def test_scan_predicates_without_column_raise(bloom_store):
    """scan(eq=...) / scan(isin=[...]) / scan(ge=...) with column=None
    used to pass validation and silently return the WHOLE table —
    wrong results for a caller expecting a point lookup. Mirrors the
    eq+isin / eq+range guards. (ADVICE r9.)"""
    store, _ = bloom_store
    for kwargs in ({"eq": 1}, {"isin": [1, 2]}, {"ge": 0}, {"le": 10}):
        with pytest.raises(ValueError, match="require column"):
            store.scan("orders_r", **kwargs)
    # a bare scan with no predicate is still the whole-table read
    assert store.scan("orders_r").count() == store.table("orders_r").count()


def test_bloom_health_drops_with_dropped_column(spark, tmp_path, sf_dir):
    """ALTER DROP leaves old segments' bloom entries on disk (segments
    are immutable), but describe() must not report health for a column
    that no longer exists in the schema. (ADVICE r9.)"""
    from carbondata_spark.catalog import load_table
    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path))
    orders = load_table(spark, sf_dir, "orders")
    store.create_table(
        "o_drop", orders.schema, properties={"bloom_columns": "o_orderkey,o_custkey"}
    )
    store.load("o_drop", orders.limit(500))
    assert set(store.describe("o_drop")["bloom_health"]) == {"o_orderkey", "o_custkey"}
    store.alter_drop_columns("o_drop", ["o_custkey"])
    d = store.describe("o_drop")
    assert set(d["bloom_health"]) == {"o_orderkey"}
    assert "o_custkey" not in d["schema"]


# (strategy, edge values always probed) per bloomable column type
_PARITY_VALUES = {
    T.ByteType(): (st.integers(-(1 << 7), (1 << 7) - 1), [-(1 << 7), (1 << 7) - 1, -1, 0]),
    T.ShortType(): (st.integers(-(1 << 15), (1 << 15) - 1), [-(1 << 15), (1 << 15) - 1, -1]),
    T.IntegerType(): (st.integers(-(1 << 31), (1 << 31) - 1), [-(1 << 31), (1 << 31) - 1, -1]),
    T.LongType(): (st.integers(-(1 << 63), (1 << 63) - 1), [-(1 << 63), (1 << 63) - 1, -1]),
    T.DateType(): (
        st.dates(),
        [
            datetime.date(1, 1, 1),
            datetime.date(1900, 2, 28),
            datetime.date(1969, 12, 31),
            datetime.date(1970, 1, 1),
            datetime.date(9999, 12, 31),
        ],
    ),
    T.StringType(): (
        st.text(max_size=80),
        ["", "a", "abcd", "é", "日本語", "x" * 31, "y" * 32, "z" * 71, "Grüße 🙂" * 5],
    ),
}


@pytest.mark.parametrize("dtype", list(_PARITY_VALUES), ids=lambda t: t.simpleString())
@settings(max_examples=6, deadline=None)
@given(data=st.data())
def test_probe_positions_equal_load_side_positions(spark, dtype, data):
    """The driver-side probe hash must give every value the bit positions
    the load side's Spark expressions (``_position_exprs``) set for it,
    for every filter geometry a manifest can hold."""
    from carbondata_spark.bloom import MAX_BITS, MIN_BITS, _position_exprs, probe_positions

    strategy, edges = _PARITY_VALUES[dtype]
    vals = edges + data.draw(st.lists(strategy, max_size=24))
    col = data.draw(st.sampled_from(["k", "o_orderkey", "schlüssel"]))
    geoms = [(m, k) for m in (MIN_BITS, 1 << 16, MAX_BITS) for k in (3, 7)]
    df = spark.createDataFrame(
        [(v,) for v in vals], T.StructType([T.StructField(col, dtype)])
    )
    rows = df.select(
        *[F.array(*_position_exprs(col, m, k)) for m, k in geoms]
    ).collect()
    for i, (m, k) in enumerate(geoms):
        want = [list(r[i]) for r in rows]
        assert probe_positions(col, dtype, vals, m, k) == want, (m, k)


def test_unencodable_probe_string_keeps_every_segment(spark, tmp_path):
    """A string with no UTF-8 form (a lone surrogate) is no value Spark
    can hold: it neither raises nor prunes, by zone map or by bloom."""
    from carbondata_spark import pruning
    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path))
    df = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "s string")
    store.create_table("t", df.schema, sort_columns=["s"], properties={"bloom_columns": "s"})
    store.load("t", df.filter("s < 'c'"))
    store.load("t", df.filter("s >= 'c'"))
    segs = store.valid_segments("t")
    for op in ("=", "in", ">=", "<"):
        kept = pruning.prune(segs, store.schema("t"), [("s", op, ["\ud800"])])
        assert kept == segs, op


def test_point_scan_plans_without_jobs(spark, bloom_store):
    """Building a point lookup starts no Spark job: bloom positions are
    hashed on the driver, and the segments' parquet schemas recorded at
    an earlier read are reused. The lookup runs one job, its collect."""
    store, orders = bloom_store
    store.table("orders_r").count()
    keys = [
        r.o_orderkey
        for r in orders.orderBy(F.desc("o_orderkey")).select("o_orderkey").limit(3).collect()
    ]
    with count_jobs(spark) as plan:
        df = store.scan("orders_r", column="o_orderkey", isin=keys)
    with count_jobs(spark) as run:
        got = sorted(r.o_orderkey for r in df.collect())
    assert (plan.n, run.n) == (0, 1)
    assert got == sorted(keys)


def test_bloom_pruned_delete_runs_no_jobs(spark, tmp_path):
    """A DELETE whose key every segment's bloom rules out is decided on
    the driver: no Spark job, no rows deleted."""
    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path))
    df = spark.range(0, 400, 2).select(F.col("id").alias("k"), F.col("id").alias("v"))
    store.create_table("t", df.schema, properties={"bloom_columns": "k"})
    store.load("t", df.filter("k % 4 = 0"))
    store.load("t", df.filter("k % 4 = 2"))
    before = store.show_segments("t")
    with count_jobs(spark) as c:
        n = store.delete_rows("t", "k = 201")  # absent; both blooms miss it
    assert (n, c.n) == (0, 0)
    assert store.show_segments("t") == before


def _oracle_entry(col: str, dtype: T.DataType, values: list, m: int | None = None) -> dict:
    """The bloom entry of ``values`` built on the driver from
    ``probe_positions``: m sized from their exact distinct count unless
    given, NULLs setting no bit."""
    import base64

    from carbondata_spark.bloom import K_HASHES, _size_bits, probe_positions

    distinct = sorted({v for v in values if v is not None})
    m = m or _size_bits(len(distinct))
    bits = bytearray(m // 8)
    for ps in probe_positions(col, dtype, distinct, m, K_HASHES):
        for p in ps:
            bits[p >> 3] |= 1 << (p & 7)
    return {"m": m, "k": K_HASHES, "bits": base64.b64encode(bytes(bits)).decode("ascii")}


def test_bloom_build_matches_oracle_one_tag_and_many(spark):
    """One segment built alone (load, compaction) and the same segment
    built among others (rewrites) give the entry the driver-side probe
    hash implies, for a bigint and a string column together: a probe of
    any loaded value finds its bits, and the bitset holds no others."""
    from carbondata_spark.bloom import build_blooms

    a = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("string").alias("s")
    )
    # distinct counts well inside their power-of-two size classes, so
    # the approximate count that sizes m agrees with the exact one
    b = spark.range(500, 580).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("s")
    )
    want = {
        0: {"k": _oracle_entry("k", T.LongType(), list(range(500))),
            "s": _oracle_entry("s", T.StringType(), [str(i % 7) for i in range(500)])},
        1: {"k": _oracle_entry("k", T.LongType(), list(range(500, 580))),
            "s": _oracle_entry("s", T.StringType(), [str(i % 3) for i in range(500, 580)])},
    }
    alone = {
        t: build_blooms(df.withColumn("_t", F.lit(t)), "_t", ["k", "s"], {t: n})[t]
        for t, df, n in ((0, a, 500), (1, b, 80))
    }
    tagged = a.withColumn("_t", F.lit(0)).unionByName(b.withColumn("_t", F.lit(1)))
    grouped = build_blooms(tagged, "_t", ["k", "s"], {0: 500, 1: 80})
    assert alone == grouped == want


def test_bloom_build_one_job_at_32_segments(spark):
    """Blooms of any number of segments come from ONE aggregation: one
    Spark job with AQE off (AQE adds one for the shuffle stage) — pinned
    at 32 tags, where a per-segment build would run 32 or more."""
    from carbondata_spark.bloom import build_blooms

    df = spark.range(0, 32 * 50).select(
        (F.col("id") % 32).cast("int").alias("_tag"),
        F.col("id").alias("k"),
    )
    df.count()  # materialize lineage outside the pinned window
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with count_jobs(spark) as c:
            by_seg = build_blooms(df, "_tag", ["k"], {t: 50 for t in range(32)})
        ran = c.n
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert ran == 1, f"bloom build ran {ran} jobs, expected 1"
    assert by_seg[7]["k"] == _oracle_entry("k", T.LongType(), list(range(7, 1600, 32)))
    assert len(by_seg) == 32 and all("k" in v for v in by_seg.values())


def test_bloom_build_allnull_and_empty_segments_store_zero_bitsets(spark):
    """A (segment, column) whose rows are all NULL (e.g. after UPDATE ...
    SET c = NULL) stores the all-zero bitset, which prunes every point
    probe, not a missing entry that forfeits pruning; so does a 0-row
    segment, which is not read at all."""
    import base64

    from carbondata_spark.bloom import MIN_BITS, build_blooms

    seg0 = spark.range(0, 40).select(F.col("id").alias("k"))
    seg1 = seg0.select(F.lit(None).cast("long").alias("k"))  # all-NULL
    tagged = seg0.withColumn("_tag", F.lit(0)).unionByName(
        seg1.withColumn("_tag", F.lit(1))
    )
    got = build_blooms(tagged, "_tag", ["k"], {0: 40, 1: 40, 2: 0})
    assert got[0]["k"] == _oracle_entry("k", T.LongType(), list(range(40)))
    for tag in (1, 2):
        assert got[tag]["k"] == _oracle_entry("k", T.LongType(), [])
        assert got[tag]["k"]["m"] == MIN_BITS
        assert not any(base64.b64decode(got[tag]["k"]["bits"]))
    with count_jobs(spark) as c:
        assert build_blooms(seg0.withColumn("_tag", F.lit(2)), "_tag", ["k"], {2: 0}) == {
            2: {"k": _oracle_entry("k", T.LongType(), [])}
        }
    assert c.n == 0


def test_bloom_build_sizes_large_segments_first_and_skips_saturated(spark, monkeypatch):
    """A segment with more rows than MAX_BITS // BITS_PER_DISTINCT may
    saturate, so it is sized by its own pass before the fill: a
    saturating column stores no bloom and collects no positions, and a
    large segment that does not saturate gets the same entry as a build
    that trusts its row count."""
    from carbondata_spark import bloom as B

    big = B.MAX_BITS // B.BITS_PER_DISTINCT + 1
    sat = spark.range(0, 2 * big).select(
        F.lit(0).alias("_tag"), F.col("id").alias("k")
    )
    small = spark.range(0, 300).select(F.lit(1).alias("_tag"), F.col("id").alias("k"))
    collected = []
    frame = type(sat)
    real = frame.collect

    def spy(self):
        rows = real(self)
        collected.append(rows)
        return rows

    monkeypatch.setattr(frame, "collect", spy)
    # tag 1 claims more rows than it has: it takes the sizing pass too
    got = B.build_blooms(sat.unionByName(small), "_tag", ["k"], {0: 2 * big, 1: big})
    monkeypatch.setattr(frame, "collect", real)
    assert got[0] == {}
    assert got[1]["k"] == _oracle_entry("k", T.LongType(), list(range(300)))
    assert got[1] == B.build_blooms(small, "_tag", ["k"], {1: 300})[1]
    sizing, fill = collected
    assert sorted(r["_tag"] for r in sizing) == [0, 1]
    assert {r["_tag"]: len(r["_p0"]) for r in fill}[0] == 0


def test_bloom_table_load_runs_three_jobs(spark, tmp_path):
    """A load into a bloom table writes its segment, then fills every
    bloom in one aggregation over the segment read with the table
    schema: three jobs with AQE on (write; the aggregation's shuffle
    stage and result), no schema-inference job."""
    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path))
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), F.concat(F.lit("s"), F.col("id") % 9).alias("s")
    )
    store.create_table("t", df.schema, sort_columns=["k"], properties={"bloom_columns": "k,s"})
    df.count()
    with count_jobs(spark) as c:
        store.load("t", df)
    assert c.n <= 3, c.by_description
    assert c.by_description["carbon:load:bloom"] == 2, c.by_description
    assert set(c.by_description) == {"carbon:load:write", "carbon:load:bloom"}
    (e,) = store.valid_segments("t")
    assert e.blooms["k"] == _oracle_entry("k", T.LongType(), list(range(2000)))


def test_update_of_other_columns_carries_blooms(spark, tmp_path):
    """An UPDATE that assigns no bloom column keeps every rewrite's
    source entries and runs no bloom job; one that assigns a bloom column
    builds the rewrites' filters afresh."""
    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path))
    df = spark.range(0, 400).select(F.col("id").alias("k"), F.col("id").alias("v"))
    store.create_table("t", df.schema, sort_columns=["k"], properties={"bloom_columns": "k"})
    store.load("t", df.filter("k < 200"))
    store.load("t", df.filter("k >= 200"))
    before = {e.segment_id: e.blooms for e in store.valid_segments("t")}
    with count_jobs(spark) as c:
        assert store.update_rows("t", "v % 50 = 0", {"v": "-1"}) == 8
    assert "carbon:update:bloom" not in c.by_description, c.by_description
    assert c.by_description["carbon:update:detect"] >= 1, c.by_description
    after = {e.segment_id: e for e in store.valid_segments("t")}
    assert sorted(e.blooms["k"]["bits"] for e in after.values()) == sorted(
        b["k"]["bits"] for b in before.values()
    )
    with count_jobs(spark) as c:
        assert store.update_rows("t", "k = 10", {"k": "1000"}) == 1
    assert c.by_description["carbon:update:bloom"] >= 1, c.by_description
    assert store.scan("t", column="k", eq=1000).count() == 1
    assert store.scan("t", column="k", eq=10).count() == 0


def test_blooms_stay_sound_across_mutations(spark, tmp_path):
    """A seeded run of loads, UPDATEs, DELETEs, MERGEs and compactions on
    a table with a bigint and a string bloom column. After every step:
    each live entry has the bits of each live value set (the
    ``probe_positions`` oracle); a point scan on either column returns
    what a model of the steps holds; entries of loads, compactions,
    UPDATEs and MERGEs equal a fresh build of their segment, and a
    DELETE's entries are supersets of an oracle build at their own
    geometry, carried unchanged from the source segment."""
    import base64
    import random

    from pyspark.sql import Row

    from carbondata_spark.bloom import build_blooms
    from carbondata_spark.store import CarbonStore

    rng = random.Random(11)
    store = CarbonStore(spark, str(tmp_path))
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    store.create_table("t", schema, sort_columns=["k"], properties={"bloom_columns": "k,s"})
    model: dict[int, tuple[str, int]] = {}
    exact: dict[int, bool] = {}  # live segment -> entries equal a fresh build
    nxt = 0

    def load(_carry=None):
        nonlocal nxt
        keys = range(nxt, nxt + rng.randint(20, 60))
        nxt = keys[-1] + 1
        rows = {k: (f"s{rng.randint(0, 40)}", rng.randint(0, 9)) for k in keys}
        store.load("t", spark.createDataFrame([(k, *r) for k, r in rows.items()], schema))
        model.update(rows)
        return "load", None

    def window():
        lo = rng.randint(0, max(0, nxt - 15))
        return lo, lo + rng.randint(3, 15)

    def update(carry):
        lo, hi = window()
        pred = f"k BETWEEN {lo} AND {hi}"
        hit = [k for k in model if lo <= k <= hi]
        if carry:
            assert store.update_rows("t", pred, {"v": "v + 100"}) == len(hit)
            for k in hit:
                model[k] = (model[k][0], model[k][1] + 100)
            return "update", True
        assert store.update_rows("t", pred, {"s": "concat('u', s)"}) == len(hit)
        for k in hit:
            model[k] = ("u" + model[k][0], model[k][1])
        return "update", False

    def delete(_carry=None):
        lo, hi = window()
        hit = [k for k in model if lo <= k <= hi and model[k][1] % 2 == 0]
        assert store.delete_rows("t", f"k BETWEEN {lo} AND {hi} AND v % 2 = 0") == len(hit)
        for k in hit:
            del model[k]
        return "delete", True

    def merge(carry):
        nonlocal nxt
        keys = rng.sample(sorted(model), min(len(model), 6)) + [nxt, nxt + 3]
        nxt += 4
        src = {k: (f"m{rng.randint(0, 5)}", rng.randint(0, 9)) for k in keys}
        frame = spark.createDataFrame([Row(k=k, s=s, v=v) for k, (s, v) in src.items()], schema)
        if carry:
            store.merge_rows("t", frame, keys="k", update_cols=["v"])
            for k, (s, v) in src.items():
                model[k] = (model[k][0], v) if k in model else (s, v)
        else:
            store.merge_rows("t", frame, keys="k")
            model.update(src)
        return "merge", carry

    def compact(_carry=None):
        store.compact("t")
        return "compact", None

    def check(kind, carry, before):
        live = {e.segment_id: e for e in store.valid_segments("t")}
        for sid, e in live.items():
            if sid in exact:
                continue
            origin = e.origin
            if "rewrite_of" not in origin:
                exact[sid] = True  # load, compaction, MERGE insert: fresh
                continue
            src = before[origin["rewrite_of"]]
            if carry:
                assert e.blooms == src.blooms, (kind, sid)
                exact[sid] = exact[src.segment_id] and kind != "delete"
            else:
                exact[sid] = True
        for sid in list(exact):
            if sid not in live:
                del exact[sid]
        seg_rows: dict[int, list] = {sid: [] for sid in live}
        for r in store.table("t", _tag_col="_seg").collect():
            seg_rows[r["_seg"]].append(r)
        assert sorted((r.k, r.s, r.v) for rs in seg_rows.values() for r in rs) == sorted(
            (k, *r) for k, r in model.items()
        ), kind
        fresh_ids = [sid for sid in live if exact[sid]]
        fresh = build_blooms(
            store.table("t", segment_ids=fresh_ids, _tag_col="_seg"),
            "_seg",
            ["k", "s"],
            {sid: live[sid].rows for sid in fresh_ids},
        ) if fresh_ids else {}
        for sid, e in live.items():
            for c, dtype in (("k", T.LongType()), ("s", T.StringType())):
                entry = e.blooms[c]
                oracle = _oracle_entry(c, dtype, [r[c] for r in seg_rows[sid]], entry["m"])
                have = base64.b64decode(entry["bits"])
                need = base64.b64decode(oracle["bits"])
                assert all(h & n == n for h, n in zip(have, need)), (kind, sid, c)
                if exact[sid]:
                    assert entry == fresh[sid][c] == oracle, (kind, sid, c)
        probes = rng.sample(range(nxt + 5), 4)
        for k in probes:
            got = [(r.k, r.s, r.v) for r in store.scan("t", column="k", eq=k).collect()]
            assert got == ([(k, *model[k])] if k in model else []), (kind, k)
        s = rng.choice([r[0] for r in model.values()] or ["s0"])
        n = store.scan("t", column="s", eq=s).count()
        assert n == sum(r[0] == s for r in model.values()), (kind, s)

    load()
    load()
    check("load", None, {})
    # each of UPDATE and MERGE once leaving the bloom columns alone
    # (carried entries) and once assigning one (fresh build)
    steps = [
        (load, None), (update, True), (delete, None), (merge, True), (update, False),
        (delete, None), (merge, False), (compact, None), (delete, None),
    ]
    for step, carry in steps:
        before = {e.segment_id: e for e in store.valid_segments("t")}
        kind, carry = step(carry)
        check(kind, carry, before)
