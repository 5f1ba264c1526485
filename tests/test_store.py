"""CarbonStore lifecycle tests — mirrors the reference's segment-management
test surface (SHOW LOADS / DELETE LOAD / retention / compaction / CLEAN
FILES / ALTER, SURVEY.md §2.10)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from carbondata_spark.store import CarbonStore


@pytest.fixture()
def store(spark, tmp_path):
    return CarbonStore(spark, str(tmp_path / "store"))


SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("city", T.StringType()),
        T.StructField("age", T.IntegerType()),
    ]
)


def make_df(spark, n=100, offset=0):
    return spark.createDataFrame(
        [(i + offset, ["shenzhen", "paris", "wuhan"][i % 3], 20 + i % 50) for i in range(n)],
        SCHEMA,
    )


def test_create_load_query(store, spark):
    store.create_table("t", SCHEMA, sort_columns=["city"])
    store.load("t", make_df(spark))
    store.load("t", make_df(spark, offset=100))
    assert store.table("t").count() == 200
    segs = store.show_segments("t")
    assert [s["segment_id"] for s in segs] == [0, 1]
    assert all(s["status"] == "Success" for s in segs)
    # group query over the segment union
    out = {
        r["city"]: r["n"]
        for r in store.table("t").groupBy("city").agg(F.count("*").alias("n")).collect()
    }
    assert sum(out.values()) == 200


def test_create_existing_raises(store, spark):
    store.create_table("t", SCHEMA)
    with pytest.raises(ValueError):
        store.create_table("t", SCHEMA)
    store.create_table("t", SCHEMA, if_not_exists=True)  # no raise


def test_overwrite_mode(store, spark):
    store.create_table("t", SCHEMA)
    store.load("t", make_df(spark))
    store.load("t", make_df(spark, n=7), mode="overwrite")
    assert store.table("t").count() == 7
    statuses = [s["status"] for s in store.show_segments("t")]
    assert statuses == ["Marked for Delete", "Success"]


def test_delete_segments_and_clean(store, spark):
    store.create_table("t", SCHEMA)
    s0 = store.load("t", make_df(spark))
    store.load("t", make_df(spark, offset=100))
    assert store.delete_segments("t", [s0]) == 1
    assert store.table("t").count() == 100
    removed = store.clean_files("t")
    assert removed == [s0]
    assert store.table("t").count() == 100


def test_retention_by_date(store, spark):
    store.create_table("t", SCHEMA)
    store.load("t", make_df(spark))
    cutoff = time.time()
    store.load("t", make_df(spark, offset=100))
    assert store.delete_segments_by_date("t", cutoff) == 1
    assert store.table("t").count() == 100


def test_compact(store, spark):
    store.create_table("t", SCHEMA, sort_columns=["city"])
    for i in range(3):
        store.load("t", make_df(spark, offset=i * 100))
    new_id = store.compact("t")
    assert new_id == 3
    assert store.table("t").count() == 300
    statuses = {s["segment_id"]: s["status"] for s in store.show_segments("t")}
    assert statuses == {0: "Compacted", 1: "Compacted", 2: "Compacted", 3: "Success"}
    store.clean_files("t")
    assert store.table("t").count() == 300


def test_schema_evolution(store, spark):
    store.create_table("t", SCHEMA)
    store.load("t", make_df(spark))
    store.alter_add_columns("t", [T.StructField("country", T.StringType())], defaults={"country": "cn"})
    # old segment shows the default
    assert store.table("t").filter(F.col("country") == "cn").count() == 100
    # new load carries real values
    df2 = make_df(spark, offset=100).withColumn("country", F.lit("fr"))
    store.load("t", df2)
    by_country = {
        r["country"]: r["n"]
        for r in store.table("t").groupBy("country").agg(F.count("*").alias("n")).collect()
    }
    assert by_country == {"cn": 100, "fr": 100}
    # drop a column: disappears everywhere
    store.alter_drop_columns("t", ["age"])
    assert "age" not in store.table("t").columns
    with pytest.raises(ValueError):
        store.alter_drop_columns("t", ["nope"])


def test_recorded_segment_schema_follows_the_table(store, spark):
    """Reads reuse the parquet schema recorded for a committed segment.
    A table dropped and created again at the same path, ALTER ADD and
    ALTER DROP over recorded segments, and a partitioned table must all
    still read with the current columns and types."""
    df = spark.range(4).select(F.col("id").alias("k"), F.col("id").cast("string").alias("v"))
    store.create_table("t", df.schema, sort_columns=["k"])
    store.load("t", df)
    assert store.table("t").count() == 4
    store.drop_table("t")
    df = spark.range(4).select(F.col("id").alias("k"), (F.col("id") * 10.0).alias("v"))
    store.create_table("t", df.schema, sort_columns=["k"])
    store.load("t", df)
    for frame in (store.table("t"), store.scan("t", column="k", ge=1)):
        assert frame.schema["v"].dataType == T.DoubleType()
    assert sorted(r.v for r in store.scan("t", column="k", ge=1).collect()) == [10.0, 20.0, 30.0]

    store.load("t", df.withColumn("k", F.col("k") + 4))
    assert store.table("t").count() == 8
    store.alter_add_columns("t", [T.StructField("w", T.IntegerType())], defaults={"w": 7})
    store.load("t", df.withColumn("k", F.col("k") + 8).withColumn("w", F.lit(1)))
    got = sorted(tuple(r) for r in store.scan("t", column="k", ge=3, le=8).collect())
    assert got == [(3, 30.0, 7), (4, 0.0, 7), (5, 10.0, 7), (6, 20.0, 7), (7, 30.0, 7), (8, 0.0, 1)]
    store.alter_drop_columns("t", ["v"])
    for frame in (store.table("t"), store.scan("t", column="k", ge=3, le=8)):
        assert frame.columns == ["k", "w"]
    assert sorted(tuple(r) for r in store.table("t").collect())[3:5] == [(3, 7), (4, 7)]

    pdf = spark.range(6).select(F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("p"))
    store.create_table("p", pdf.schema, sort_columns=["k"], partition_columns=["p"])
    store.load("p", pdf.filter("k < 3"))
    store.load("p", pdf.filter("k >= 3"))
    for _ in range(2):
        frame = store.scan("p", column="k", ge=2)
        assert frame.schema["p"].dataType == T.IntegerType()
        assert sorted(tuple(r) for r in frame.collect()) == [(2, 0), (3, 1), (4, 0), (5, 1)]


def test_segment_schema_record_stays_bounded_under_threads(store, spark, monkeypatch):
    """Concurrent reads of segment subsets, with a record too small for
    them, keep evicting and re-recording: every read still succeeds and
    the record never grows past its cap."""
    import sys
    import threading

    from carbondata_spark import store as store_mod

    monkeypatch.setattr(store_mod, "_SEGMENT_SCHEMAS", {})
    monkeypatch.setattr(store_mod, "_SEGMENT_SCHEMAS_CAP", 2)
    store.create_table("t", SCHEMA)
    for i in range(4):
        store.load("t", make_df(spark, n=5, offset=5 * i))
    errors: list[BaseException] = []

    def reads(sid: int) -> None:
        try:
            for _ in range(4):
                assert store.table("t", segment_ids=[sid]).columns == SCHEMA.names
                assert len(store_mod._SEGMENT_SCHEMAS) <= 2
        except BaseException as e:
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reads, args=(i % 4,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []


def test_segment_pruning_reads_only_valid_dirs(store, spark):
    """Deleted segments must not be scanned at all (manifest-level pruning,
    the rebuild's CarbonInputFormat.getSplits segment filter)."""
    store.create_table("t", SCHEMA)
    s0 = store.load("t", make_df(spark))
    store.load("t", make_df(spark, offset=100))
    store.delete_segments("t", [s0])
    plan = store.table("t")._jdf.queryExecution().executedPlan().toString()
    assert f"Segment_{s0}" not in plan


def test_auto_compact_minor_policy(store, spark):
    """auto_compact merges only when enough small segments accumulate, and
    leaves big segments alone (minor/major distinction)."""
    store.create_table("t", SCHEMA, sort_columns=["city"])
    for i in range(3):
        store.load("t", make_df(spark, offset=i * 100))
    assert store.auto_compact("t", minor_threshold=4) is None  # below threshold
    store.load("t", make_df(spark, offset=300))
    # one "big" segment that must NOT be merged
    big_id = store.load("t", make_df(spark, n=500, offset=1000))
    new_id = store.auto_compact("t", minor_threshold=4, major_size_rows=300)
    assert new_id is not None
    statuses = {e["segment_id"]: e["status"] for e in store.show_segments("t")}
    assert statuses[big_id] == "Success"          # untouched major segment
    assert statuses[new_id] == "Success"          # merged minor segments
    assert sum(1 for s in statuses.values() if s == "Compacted") == 4
    assert store.table("t").count() == 900


def test_auto_compact_counts_only_nonempty_segments(store, spark):
    """Empty segments never trigger a minor compaction (one real load
    plus three empty ones is not four small segments), but a compaction
    that runs folds them away with the real ones."""
    store.create_table("t", SCHEMA, sort_columns=["city"])
    store.load("t", make_df(spark))
    for _ in range(3):
        store.load("t", make_df(spark).filter("id < 0"))
    assert store.auto_compact("t", minor_threshold=4) is None
    for i in range(1, 4):
        store.load("t", make_df(spark, offset=i * 100))
    new_id = store.auto_compact("t", minor_threshold=4)
    assert [e.segment_id for e in store.valid_segments("t")] == [new_id]
    statuses = [e["status"] for e in store.show_segments("t")]
    assert statuses.count("Compacted") == 7
    assert store.table("t").count() == 400


def test_scan_prunes_segments_by_manifest_stats(store, spark, sf_dir):
    """Segments with disjoint sort-key ranges: a bounded scan must read
    only matching segment dirs (manifest zone-map pruning)."""
    from carbondata_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    store.create_table("o", orders.schema, sort_columns=["o_orderdate"])
    store.load("o", orders.filter(F.col("o_orderdate") < "1998-01-01"))
    store.load("o", orders.filter(F.col("o_orderdate") >= "1998-01-01"))

    segs = {e["segment_id"]: e["stats"] for e in store.show_segments("o")}
    assert "o_orderdate" in segs[0] and "o_orderdate" in segs[1]
    assert segs[0]["o_orderdate"][1] < "1998-01-01"

    pruned = store.scan("o", "o_orderdate", ge="1999-06-01")
    files = pruned.inputFiles()
    assert files and all("Segment_1" in f for f in files)

    # result equivalence with the unpruned filter
    full = store.table("o").filter(F.col("o_orderdate") >= "1999-06-01")
    assert pruned.count() == full.count() > 0

    # unknown column / no bounds: everything still readable
    assert store.scan("o").count() == orders.count()


def test_incremental_rollup_refresh_appends_partial_segments(spark, tmp_path):
    """refresh_aggregate_table is O(new segment): each fact load adds one
    PARTIAL summary segment tagged with the fact segments it covers;
    invalidating a covered fact segment forces a full rebuild."""
    from pyspark.sql import functions as F

    from carbondata_spark.plans import agg_table as at

    store = CarbonStore(spark, str(tmp_path / "store"))
    schema = T.StructType(
        [
            T.StructField("region", T.StringType()),
            T.StructField("amt", T.DoubleType()),
        ]
    )
    store.create_table("f", schema)
    mk = lambda rows: spark.createDataFrame(rows, schema)
    store.load("f", mk([("e", 1.0), ("w", 2.0)]))
    at.create_aggregate_table(store, "f", "byr", ["region"], {"amt": ["sum", "count"]})

    store.load("f", mk([("e", 10.0)]))
    store.load("f", mk([("w", 5.0), ("w", 5.0)]))

    summary = "f_agg_byr"
    segs = store.show_segments(summary)
    covered = [tuple(e["origin"].get("fact_segments", [])) for e in segs if e["status"] == "Success"]
    # one partial summary segment per fact load, each covering exactly its batch
    assert sorted(covered) == [(0,), (1,), (2,)]

    out = {r["region"]: (r["sum_amt"], r["count_amt"]) for r in
           at.rewrite_aggregate(store, "f", ["region"], {"amt": ["sum", "count"]}).collect()}
    assert out == {"e": (11.0, 2), "w": (12.0, 3)}

    # invalidate a covered fact segment -> refresh falls back to full rebuild
    store.delete_segments("f", [0])
    at.refresh_aggregate_table(at.AggregateTable(store, "f", "byr"))
    segs2 = [e for e in store.show_segments(summary) if e["status"] == "Success"]
    assert len(segs2) == 1  # overwrite collapsed the partials
    assert sorted(segs2[0]["origin"]["fact_segments"]) == [1, 2]
    out2 = {r["region"]: r["sum_amt"] for r in
            at.rewrite_aggregate(store, "f", ["region"], {"amt": ["sum"]}).collect()}
    assert out2 == {"e": 10.0, "w": 10.0}


def test_time_travel_reads(spark, tmp_path):
    """as_of reads reconstruct the live segment set at any instant:
    between loads, after a delete, and across a compaction — until
    clean_files removes the physical dirs (deferred-delete design)."""
    import time

    import pytest as _pytest
    from pyspark.sql import functions as F

    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path / "tt_store"))
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t_before_create = time.time()
    time.sleep(0.01)
    store.create_table("tt", df.schema, sort_columns=[])
    t_created = time.time()
    time.sleep(0.01)
    store.load("tt", df.filter("k < 40"))
    t_after_load0 = time.time()
    time.sleep(0.01)
    store.load("tt", df.filter("k >= 40"))
    t_after_load1 = time.time()
    time.sleep(0.01)

    assert store.table("tt", as_of_ts=t_after_load0).count() == 40
    assert store.table("tt", as_of_ts=t_after_load1).count() == 100
    # after creation, before any load: empty table (it existed, had no data)
    assert store.table("tt", as_of_ts=t_created).count() == 0
    # BEFORE creation: the table did not exist — documented raise, not
    # an empty frame masquerading as "no data then"
    with _pytest.raises(ValueError, match="predates table creation"):
        store.table("tt", as_of_ts=t_before_create)

    store.delete_segments("tt", [0])
    t_after_delete = time.time()
    assert store.table("tt").count() == 60
    assert store.table("tt", as_of_ts=t_after_delete).count() == 60
    # pre-delete instant still sees both segments
    assert store.table("tt", as_of_ts=t_after_load1).count() == 100

    # compaction invalidates inputs but the pre-compaction view holds
    store.load("tt", df.filter("k < 40"))
    time.sleep(0.01)
    t_before_compact = time.time()
    store.compact("tt")
    assert store.table("tt").count() == 100
    assert store.table("tt", as_of_ts=t_before_compact).count() == 100

    # clean_files removes invalidated segments -> old views now raise
    store.clean_files("tt")
    with _pytest.raises(ValueError, match="clean_files"):
        store.table("tt", as_of_ts=t_after_load1).count()
    # current view unaffected
    assert store.table("tt").count() == 100


def test_time_travel_overwrite_swap_is_atomic(spark, tmp_path):
    """An overwrite (and compact) invalidates old segments and activates
    the new one with ONE commit timestamp — no as_of value can observe an
    empty in-between window, and the view at the swap instant sees
    exactly the new side."""
    from pyspark.sql import functions as F

    from carbondata_spark.store import CarbonStore

    s = CarbonStore(spark, str(tmp_path / "swap_store"))
    df = spark.range(40).select(F.col("id").alias("k"))
    s.create_table("t", df.schema, sort_columns=[])
    s.load("t", df.filter("k < 10"))
    s.load("t", df.filter("k >= 10"), mode="overwrite")
    entries = s.show_segments("t")
    swap_ts = max(e["load_end_ts"] for e in entries)
    old = [e for e in entries if e["status"] != "Success"]
    assert old and all(e["invalidated_ts"] == swap_ts for e in old)
    assert s.table("t", as_of_ts=swap_ts).count() == 30
    assert s.table("t", as_of_ts=swap_ts - 1e-4).count() == 10


def test_time_travel_inside_compaction_window_sees_atomic_swap(spark, tmp_path):
    """Compaction stamps its inputs' invalidation and the merged
    segment's activation with ONE commit timestamp (store._compact_into):
    AS OF exactly that instant sees the merged segment alone — never
    both sides, never an empty in-between window."""
    from pyspark.sql import functions as F

    from carbondata_spark.store import CarbonStore

    s = CarbonStore(spark, str(tmp_path / "cw_store"))
    df = spark.range(60).select(F.col("id").alias("k"))
    s.create_table("t", df.schema, sort_columns=["k"])
    s.load("t", df.filter("k < 30"))
    s.load("t", df.filter("k >= 30"))
    s.compact("t")

    entries = s.show_segments("t")
    compacted = [e for e in entries if e["status"] == "Compacted"]
    merged = [e for e in entries if e["status"] == "Success"]
    assert len(compacted) == 2 and len(merged) == 1
    commit_ts = merged[0]["load_end_ts"]
    # the swap is one instant: inputs invalidated exactly when the merged
    # segment went live
    assert all(e["invalidated_ts"] == commit_ts for e in compacted)
    # AT the swap instant: merged side only, full row count, no doubling
    at = s.table("t", as_of_ts=commit_ts)
    assert at.count() == 60
    assert s.table("t", as_of_ts=commit_ts).select("k").distinct().count() == 60
    # just before: the pre-compaction pair, same logical contents
    assert s.table("t", as_of_ts=commit_ts - 1e-4).count() == 60


def test_aborted_compact_never_visible_to_time_travel(spark, tmp_path):
    """A compact that aborts (concurrent delete invalidated an input)
    leaves a never-live merged segment; as-of reads must never include it
    (it has load_end_ts == 0 and an abort invalidation stamp)."""
    import time

    from pyspark.sql import functions as F

    from carbondata_spark.store import CarbonStore, SEGMENT_DELETED

    s = CarbonStore(spark, str(tmp_path / "abort_store"))
    df = spark.range(20).select(F.col("id").alias("k"))
    s.create_table("t", df.schema, sort_columns=[])
    s.load("t", df.filter("k < 10"))
    s.load("t", df.filter("k >= 10"))
    t_live = time.time()

    # simulate the abort path's manifest state: a merged segment that was
    # registered but never promoted (status DELETED, load_end_ts 0.0)
    entries = s._read_status("t")
    from carbondata_spark.store import SegmentEntry

    entries.append(
        SegmentEntry(
            segment_id=99,
            status=SEGMENT_DELETED,
            rows=0,
            load_start_ts=time.time(),
            load_end_ts=0.0,
            columns=["k"],
            invalidated_ts=time.time(),
        )
    )
    s._write_status("t", entries)
    assert s.table("t", as_of_ts=t_live).count() == 20
    assert s.table("t").count() == 20


def test_scan_composes_with_time_travel(spark, tmp_path):
    """Zone-map pruning over a HISTORICAL segment set: scan(as_of_ts=...)
    prunes within the segments live at that instant."""
    import time

    from pyspark.sql import functions as F

    from carbondata_spark.store import CarbonStore

    s = CarbonStore(spark, str(tmp_path / "sc_store"))
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    s.create_table("t", df.schema, sort_columns=["k"])
    s.load("t", df.filter("k < 50"))
    mid = time.time()
    time.sleep(0.01)
    s.load("t", df.filter("k >= 50"))

    # historical scan: only segment 0 existed; range filter applies within
    out = s.scan("t", column="k", ge=10, as_of_ts=mid)
    assert out.count() == 40  # k in [10, 50)
    # current scan sees both segments
    assert s.scan("t", column="k", ge=10).count() == 90


def test_fact_store_cache_invalidates_on_mutation(spark, monkeypatch):
    """A load/compact/delete on the fact store after a table was read
    must not be silently invisible. fact_table reads through
    CarbonStore.table, whose cached resolution is keyed on the
    manifest's stat stamp (every commit os.replace's tablestatus.json),
    so any mutation surfaces as a re-resolution while the unchanged path
    still skips the locked manifest re-read."""
    from carbondata_spark import fact_store as fs
    from carbondata_spark.query_defs import _tmpdirs

    # a fresh fact store, so the load below never reaches the one that
    # other tests and the bench share
    monkeypatch.setattr(_tmpdirs, "_BUILT", {})
    sf = "/root/testdata/sf0.001"

    df1 = fs.fact_table(spark, sf, "orders")
    n1 = df1.count()
    # unchanged manifest: the cached resolution is reused verbatim
    assert fs.fact_table(spark, sf, "orders") is df1

    # mutate through an INDEPENDENT store handle on the same path (the
    # cached entry never sees this handle — only the manifest changes)
    store = fs.fact_store(spark, sf)
    extra = df1.limit(10).persist()
    extra.count()  # pin rows before writing into the store we read from
    store.load("orders", extra)
    try:
        df2 = fs.fact_table(spark, sf, "orders")
        assert df2 is not df1
        assert df2.count() == n1 + 10
        # other fact tables' entries are untouched
        li = fs.fact_table(spark, sf, "lineitem")
        assert fs.fact_table(spark, sf, "lineitem") is li
    finally:
        extra.unpersist()


def test_rollup_routing_self_disables_on_stale_coverage(spark, tmp_path):
    """Only load() refreshes aggregate tables; delete_segments and
    compact mutate the fact manifest without touching summaries. A stale
    summary must NEVER be routed to — after a delete it still carries
    the deleted segment's contributions (the silent-wrong-answer case),
    after a compaction its coverage tags reference retired segment ids.
    choose_rollup's coverage-equality guard makes routing fall back to
    the fact table (correct, unrouted) until refresh_aggregate_table
    re-syncs, and routing resumes after."""
    from carbondata_spark.plans import agg_table as at

    store = CarbonStore(spark, str(tmp_path / "store"))
    schema = T.StructType(
        [
            T.StructField("region", T.StringType()),
            T.StructField("amt", T.DoubleType()),
        ]
    )
    store.create_table("f", schema)
    mk = lambda rows: spark.createDataFrame(rows, schema)
    store.load("f", mk([("e", 1.0), ("w", 2.0)]))
    at.create_aggregate_table(store, "f", "byr", ["region"], {"amt": ["sum", "count"]})
    store.load("f", mk([("e", 10.0), ("w", 5.0)]))
    gm = (["region"], {"amt": ["sum", "count"]})

    # fresh coverage: routed onto the summary
    assert at.choose_rollup(store, "f", *gm) == "byr"

    # DELETE LOAD without refresh: summary is numerically WRONG (still
    # includes segment 1's rows) — routing must refuse it and the fact
    # fallback must return the post-delete truth
    store.delete_segments("f", [1])
    assert at.choose_rollup(store, "f", *gm) is None
    out = {r["region"]: (r["sum_amt"], r["count_amt"]) for r in
           at.rewrite_aggregate(store, "f", *gm).collect()}
    assert out == {"e": (1.0, 1), "w": (2.0, 1)}
    files = at.rewrite_aggregate(store, "f", *gm).inputFiles()
    assert files and all("f_agg_byr" not in p for p in files)

    # refresh re-syncs coverage (full rebuild: covered ⊄ current) and
    # routing resumes with the corrected numbers
    at.refresh_aggregate_table(at.AggregateTable(store, "f", "byr"))
    assert at.choose_rollup(store, "f", *gm) == "byr"
    out = {r["region"]: (r["sum_amt"], r["count_amt"]) for r in
           at.rewrite_aggregate(store, "f", *gm).collect()}
    assert out == {"e": (1.0, 1), "w": (2.0, 1)}

    # COMPACTION retires the covered segment ids: values in the summary
    # would still be right, but coverage is unverifiable by ids alone —
    # routing disables until refresh, then resumes on the merged segment
    store.load("f", mk([("w", 4.0)]))
    store.compact("f")
    assert at.choose_rollup(store, "f", *gm) is None
    out = {r["region"]: (r["sum_amt"], r["count_amt"]) for r in
           at.rewrite_aggregate(store, "f", *gm).collect()}
    assert out == {"e": (1.0, 1), "w": (6.0, 2)}
    at.refresh_aggregate_table(at.AggregateTable(store, "f", "byr"))
    assert at.choose_rollup(store, "f", *gm) == "byr"
    segs = [e for e in store.show_segments("f_agg_byr") if e["status"] == "Success"]
    assert len(segs) == 1
    assert segs[0]["origin"]["fact_segments"] == [
        e.segment_id for e in store.valid_segments("f")
    ]
    out = {r["region"]: (r["sum_amt"], r["count_amt"]) for r in
           at.rewrite_aggregate(store, "f", *gm).collect()}
    assert out == {"e": (1.0, 1), "w": (6.0, 2)}


def test_compact_summary_table_preserves_coverage_tags(spark, tmp_path):
    """Compacting a rollup SUMMARY table must keep the merged segment's
    fact_segments provenance: without it the next refresh sees
    covered = ∅ ⊆ current and appends full partials on top of the merged
    rows, double-counting every group while the coverage guard reports
    covered == live. compact() unions the merged segments' tags, so
    refresh stays a no-op and routing stays sound."""
    from carbondata_spark.plans import agg_table as at

    store = CarbonStore(spark, str(tmp_path / "store"))
    schema = T.StructType(
        [
            T.StructField("region", T.StringType()),
            T.StructField("amt", T.DoubleType()),
        ]
    )
    store.create_table("f", schema)
    mk = lambda rows: spark.createDataFrame(rows, schema)
    store.load("f", mk([("e", 1.0), ("w", 2.0)]))
    at.create_aggregate_table(store, "f", "byr", ["region"], {"amt": ["sum", "count"]})
    store.load("f", mk([("e", 10.0)]))
    store.load("f", mk([("w", 5.0)]))
    gm = (["region"], {"amt": ["sum", "count"]})
    want = {"e": (11.0, 2), "w": (7.0, 2)}

    # 'alter table f_agg_byr compact' — three partial summary segments
    # merge into one whose origin is the UNION of their coverage
    summary = "f_agg_byr"
    store.compact(summary)
    segs = [e for e in store.show_segments(summary) if e["status"] == "Success"]
    assert len(segs) == 1
    assert segs[0]["origin"]["fact_segments"] == [0, 1, 2]

    # coverage still current -> routed, refresh is a no-op, no doubling
    assert at.choose_rollup(store, "f", *gm) == "byr"
    at.refresh_aggregate_table(at.AggregateTable(store, "f", "byr"))
    segs = [e for e in store.show_segments(summary) if e["status"] == "Success"]
    assert len(segs) == 1, "refresh re-appended partials over the merged rows"
    out = {r["region"]: (r["sum_amt"], r["count_amt"]) for r in
           at.rewrite_aggregate(store, "f", *gm).collect()}
    assert out == want
    files = at.rewrite_aggregate(store, "f", *gm).inputFiles()
    assert files and all("f_agg_byr" in p for p in files)  # routed


def test_untagged_summary_segment_forces_full_rebuild(spark, tmp_path):
    """A valid summary segment with NO fact_segments tag (e.g. written
    by a pre-fix compact()) has unknown contributions: the coverage
    guard must refuse to route and refresh must fall back to a full
    overwrite rebuild rather than do incremental math over it."""
    from carbondata_spark.plans import agg_table as at

    store = CarbonStore(spark, str(tmp_path / "store"))
    schema = T.StructType(
        [
            T.StructField("region", T.StringType()),
            T.StructField("amt", T.DoubleType()),
        ]
    )
    store.create_table("f", schema)
    mk = lambda rows: spark.createDataFrame(rows, schema)
    store.load("f", mk([("e", 1.0), ("w", 2.0)]))
    at.create_aggregate_table(store, "f", "byr", ["region"], {"amt": ["sum"]})
    gm = (["region"], {"amt": ["sum"]})

    # strip the provenance tag in the manifest (what the old compact did)
    summary = "f_agg_byr"
    entries = store._read_status(summary)
    for e in entries:
        e.origin = {}
    store._write_status(summary, entries)

    assert at.choose_rollup(store, "f", *gm) is None  # refuses to route
    at.refresh_aggregate_table(at.AggregateTable(store, "f", "byr"))
    segs = [e for e in store.show_segments(summary) if e["status"] == "Success"]
    assert len(segs) == 1 and segs[0]["origin"]["fact_segments"] == [0]
    assert at.choose_rollup(store, "f", *gm) == "byr"  # resumes post-rebuild
    out = {r["region"]: r["sum_amt"] for r in
           at.rewrite_aggregate(store, "f", *gm).collect()}
    assert out == {"e": 1.0, "w": 2.0}


def test_compact_preserves_stream_origins_for_replay(store, spark):
    """auto_compact is advertised after streaming ingest: folding
    micro-batch segments must not reopen the exactly-once window — the
    merged segment answers has_committed_origin for every origin it
    merged, flattened across REPEATED compactions."""
    store.create_table("t", SCHEMA, sort_columns=["city"])
    o0 = {"stream": "s", "epoch": 0}
    o1 = {"stream": "s", "epoch": 1}
    o2 = {"stream": "s", "epoch": 2}
    store.load("t", make_df(spark, n=10), origin=o0)
    store.load("t", make_df(spark, n=10, offset=10), origin=o1)
    store.compact("t")
    for o in (o0, o1):
        assert store.has_committed_origin("t", o), o
    # second generation: compact the compacted segment with a fresh epoch
    store.load("t", make_df(spark, n=10, offset=20), origin=o2)
    store.compact("t")
    for o in (o0, o1, o2):
        assert store.has_committed_origin("t", o), o
    assert not store.has_committed_origin("t", {"stream": "s", "epoch": 9})
    assert store.table("t").count() == 30


@pytest.mark.parametrize("blooms", [False, True], ids=["plain", "bloom"])
@pytest.mark.parametrize("parts", [[], ["city"]], ids=["flat", "partitioned"])
def test_empty_load_keeps_table_usable(store, spark, parts, blooms):
    """An empty load commits a 0-row segment. A partitioned write of no
    rows leaves its directory without any parquet file; reads, scans,
    IUD, MERGE and compaction must still work, and a bloom table stores
    the all-zero bitset for the segment without reading it."""
    import base64

    from pyspark.sql import Row

    props = {"bloom_columns": "id"} if blooms else {}
    store.create_table("t", SCHEMA, sort_columns=["id"], partition_columns=parts, properties=props)
    store.load("t", make_df(spark, n=30))
    empty_id = store.load("t", make_df(spark, n=30).filter("id < 0"))
    (empty,) = [e for e in store.valid_segments("t") if e.segment_id == empty_id]
    assert empty.rows == 0
    if blooms:
        assert not any(base64.b64decode(empty.blooms["id"]["bits"]))
    assert store.table("t").count() == 30
    assert store.scan("t", column="id", eq=4).count() == 1
    assert store.update_rows("t", "id = 4", {"age": "99"}) == 1
    assert store.delete_rows("t", "id = 5") == 1
    src = spark.createDataFrame([Row(id=6, city="paris", age=1), Row(id=500, city="wuhan", age=2)], SCHEMA)
    assert store.merge_rows("t", src, keys="id") == {"updated": 1, "inserted": 1}
    assert store.compact("t") is not None
    got = {r.id: r.age for r in store.table("t").collect()}
    assert len(got) == 30 and got[4] == 99 and 5 not in got and got[6] == 1 and got[500] == 2
