"""Scale-shape pins for the r13 _mutate_rows rewrite: zone-map/bloom
pre-prune, single-job detection over a segment-id-tagged union, single
manifest round-trip for provisional ids, footer-derived row counts.

Job arithmetic pinned here (local mode counts every job; the r15
multi-segment pins measure with AQE OFF — adaptive query-stage
materialization adds session-state-dependent jitter jobs that are
orthogonal to the invariant under pin, job count constant in the
number of affected segments):
  - a DELETE whose predicate zone-prunes EVERY segment runs ZERO jobs;
  - a DELETE affecting 1 of 4 segments runs the 1 detection job plus the
    one rewrite write (repartitionByRange adds its sampling job) — far
    from the old per-segment serial count loop (>= 4 jobs before any
    write).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from carbondata_spark.pruning import prune, sql_prunable_conjuncts
from carbondata_spark.store import CarbonStore
from tests._jobcount import count_jobs


def _prune_for(store, sources, predicate, table="t"):
    """The mutation candidates ``delete_rows``/``update_rows`` keep."""
    return prune(sources, store.schema(table), sql_prunable_conjuncts(predicate))


@pytest.fixture()
def four_segment_store(spark, tmp_path):
    store = CarbonStore(spark, str(tmp_path))
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    store.create_table("t", df.schema, sort_columns=["k"])
    for lo in (0, 100, 200, 300):
        store.load("t", df.filter((F.col("k") >= lo) & (F.col("k") < lo + 100)))
    return store


def test_parser_soundness_cases():
    assert sql_prunable_conjuncts("k = 5") == [("k", "=", [5])]
    assert sql_prunable_conjuncts("5 > k") == [("k", "<", [5])]
    assert sql_prunable_conjuncts("a = 1 OR b = 2") == []  # disjunction
    assert sql_prunable_conjuncts("NOT a = 1") == []  # negation unparsed
    # modulo conjunct contributes nothing; the range conjunct survives
    assert sql_prunable_conjuncts("k % 2 = 0 AND v < 10") == [("v", "<", [10])]
    # quoted AND/quote-escape do not split or corrupt
    assert sql_prunable_conjuncts("s = 'x AND y' AND k > 3") == [
        ("s", "=", ["x AND y"]),
        ("k", ">", [3]),
    ]
    assert sql_prunable_conjuncts("name = 'O''Brien'") == [
        ("name", "=", ["O'Brien"])
    ]
    # BETWEEN's inner AND splits into unparseable frags -> ignored, sound
    assert sql_prunable_conjuncts("k BETWEEN 1 AND 5 AND v = 3") == [
        ("v", "=", [3])
    ]
    assert sql_prunable_conjuncts("k IN (3, 5, 7)") == [("k", "in", [3, 5, 7])]


def test_prune_candidates_zone_map(four_segment_store):
    store = four_segment_store
    sources = store.valid_segments("t")
    assert len(sources) == 4
    kept = _prune_for(store, sources, "k = 250")
    assert [e.segment_id for e in kept] == [2]
    kept = _prune_for(store, sources, "k >= 150 AND k < 210")
    assert [e.segment_id for e in kept] == [1, 2]
    # unparseable predicate: conservative full set
    kept = _prune_for(store, sources, "k % 7 = 0")
    assert len(kept) == 4
    # non-sort column has no stats: conservative full set
    kept = _prune_for(store, sources, "v = 10")
    assert len(kept) == 4


def test_delete_outside_all_ranges_runs_zero_jobs(four_segment_store, spark):
    store = four_segment_store
    with count_jobs(spark) as c:
        assert store.delete_rows("t", "k = 99999") == 0
    assert c.n == 0, "fully-pruned DELETE must run no Spark job"
    assert store.table("t").count() == 400


def test_targeted_delete_job_count_constant_in_segment_count(spark, tmp_path):
    """The detection pass is ONE action over the tagged union — its job
    count must NOT grow with the number of candidate segments (the old
    shape ran a serial filter().count() per segment). Pinned by running
    the same single-row delete against a 2-segment and a 6-segment table
    with an unprunable predicate (non-sort column -> no zone stats) and
    requiring identical job counts, plus a loose absolute ceiling."""

    def build(n_segs: int, name: str) -> CarbonStore:
        store = CarbonStore(spark, str(tmp_path / name))
        df = spark.range(0, 60 * n_segs).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        store.create_table("t", df.schema, sort_columns=["k"])
        for i in range(n_segs):
            store.load(
                "t",
                df.filter((F.col("k") >= i * 60) & (F.col("k") < (i + 1) * 60)),
            )
        return store

    counts = {}
    for n_segs in (2, 6):
        store = build(n_segs, f"s{n_segs}")
        with count_jobs(spark) as c:
            assert store.delete_rows("t", "v = 100") == 1  # k=50: segment 0
        counts[n_segs] = c.n
    assert counts[2] == counts[6], (
        f"delete job count grew with segment count: {counts}"
    )
    assert counts[6] <= 8, f"targeted delete ran {counts[6]} jobs"


def test_targeted_delete_rewrites_only_affected_segment(four_segment_store):
    store = four_segment_store
    assert store.delete_rows("t", "k = 250") == 1
    assert store.table("t").count() == 399
    # only segment 2 was rewritten
    rewrites = [
        s
        for s in store.show_segments("t")
        if s["origin"].get("rewrite_of") is not None
    ]
    assert [s["origin"]["rewrite_of"] for s in rewrites] == [2]
    assert all(s["rows"] == 99 for s in rewrites if s["status"] == "Success")


def test_multi_segment_update_single_reservation(four_segment_store, spark):
    store = four_segment_store
    n = store.update_rows("t", "k >= 150 AND k < 310", {"v": "v + 1000"})
    assert n == 160
    got = store.table("t").filter(F.col("v") >= 1000).count()
    assert got == 160
    # provisional ids were reserved contiguously in one round-trip
    new_ids = sorted(
        s["segment_id"]
        for s in store.show_segments("t")
        if s["origin"].get("op") == "update"
    )
    assert new_ids == list(range(new_ids[0], new_ids[0] + 3))
    # detection must not have touched segment 0 (zone-pruned): it is
    # still the original Success segment, never rewritten
    seg0 = [s for s in store.show_segments("t") if s["segment_id"] == 0][0]
    assert seg0["status"] == "Success"


def test_update_null_predicate_rows_kept(four_segment_store):
    store = four_segment_store
    # NULL predicate keeps rows (SQL semantics) — regression for the
    # coalesce in the rewrite path surviving the r13 restructure
    store2 = four_segment_store
    n = store2.update_rows(
        "t", "CASE WHEN k = 150 THEN TRUE ELSE NULL END", {"v": "0"}
    )
    assert n == 1
    assert store2.table("t").count() == 400


def test_full_delete_of_one_segment_no_replacement(four_segment_store):
    store = four_segment_store
    assert store.delete_rows("t", "k >= 300") == 100
    live = store.valid_segments("t")
    assert sorted(e.segment_id for e in live) == [0, 1, 2]
    assert store.table("t").count() == 300


def test_bloom_prune_point_delete(spark, tmp_path):
    store = CarbonStore(spark, str(tmp_path))
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    # grp interleaves across segments: zone maps can't prune it, blooms can
    store.create_table(
        "b", df.schema, sort_columns=["k"], properties={"bloom_columns": "k"}
    )
    store.load("b", df.filter(F.col("k") < 100))
    store.load("b", df.filter(F.col("k") >= 100))
    sources = store.valid_segments("b")
    kept = _prune_for(store, sources, "k = 42", "b")
    assert [e.segment_id for e in kept] == [0]
    assert store.delete_rows("b", "k = 42") == 1
    assert store.table("b").count() == 199


def test_partitioned_table_tagged_detection(spark, tmp_path):
    """The detection tag rides _metadata.file_path, which must survive
    the per-segment-union read shape hive-partitioned tables use."""
    store = CarbonStore(spark, str(tmp_path / "pt"))
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    store.create_table("pt", df.schema, sort_columns=["k"], partition_columns=["p"])
    store.load("pt", df.filter("k < 50"))
    store.load("pt", df.filter("k >= 50"))
    assert store.delete_rows("pt", "k = 7") == 1
    assert store.update_rows("pt", "k IN (60, 61)", {"v": "v + 1"}) == 2
    assert store.table("pt").count() == 99
    assert store.table("pt").filter("v % 2 = 1").count() == 2
    # the tag itself never leaks into results
    assert all(not c.startswith("_cd_seg") for c in store.table("pt").columns)



def _count_staging_writes(monkeypatch) -> list:
    """Patch DataFrameWriter.parquet to record rewrite-staging writes —
    the EXACT r15 invariant (one distributed write for ALL rewrite
    segments) pinned at the call site, immune to the session-state job
    jitter that total-job-count equality is exposed to."""
    from pyspark.sql.readwriter import DataFrameWriter

    calls: list[str] = []
    orig = DataFrameWriter.parquet

    def counting(self, path, **kw):
        calls.append(path)
        return orig(self, path, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    return calls


def test_multi_segment_update_one_rewrite_write_job(spark, tmp_path, monkeypatch):
    """r15: phase 3 writes EVERY rewrite segment in ONE distributed job
    (_write_rewrites) — the job count of an UPDATE must NOT grow with
    the number of affected segments (the old shape ran one write job,
    plus its range-sampling job, per affected segment). Pinned by
    running the same-shape UPDATE against 2 and 6 affected segments
    with an unprunable predicate and requiring identical job counts."""

    def build(n_segs: int, name: str) -> CarbonStore:
        store = CarbonStore(spark, str(tmp_path / name))
        df = spark.range(0, 60 * n_segs).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        store.create_table("t", df.schema, sort_columns=["k"])
        for i in range(n_segs):
            store.load(
                "t",
                df.filter((F.col("k") >= i * 60) & (F.col("k") < (i + 1) * 60)),
            )
        return store

    counts = {}
    writes = _count_staging_writes(monkeypatch)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for n_segs in (2, 6):
            store = build(n_segs, f"u{n_segs}")
            writes.clear()
            with count_jobs(spark) as c:
                # v % 120 == 0 hits every segment (k ≡ 0 mod 60) and is
                # unprunable (modulo conjunct): all segments affected
                assert store.update_rows("t", "v % 120 = 0", {"v": "-1"}) == n_segs
            counts[n_segs] = c.n
            # every affected segment got its own rewrite (per-segment
            # locality), all written by the one job
            rewrites = sorted(
                s["origin"]["rewrite_of"]
                for s in store.show_segments("t")
                if s["origin"].get("op") == "update"
            )
            assert rewrites == list(range(n_segs))
            # THE r15 invariant: one distributed write for every rewrite
            # segment, regardless of how many were affected
            staging = [p for p in writes if ".rewrite_staging_" in p]
            assert len(staging) == 1, staging
            assert store.table("t").filter("v = -1").count() == n_segs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # loose ceiling only: a per-segment write loop would add >= 4 jobs
    # from 2 to 6 segments; background session state can jitter totals
    # by a job or two, which the write-call pin above is immune to
    assert counts[6] <= counts[2] + 3, (
        f"update rewrite job count grew with affected-segment count: {counts}"
    )
    assert counts[6] <= 10, f"multi-segment update ran {counts[6]} jobs"


def test_multi_segment_merge_per_source_rewrites_constant_jobs(spark, tmp_path, monkeypatch):
    """r15: a MERGE touching N segments produces N per-source rewrite
    segments written by ONE job — never one global sort over the union
    — and its job count must not grow with N."""
    from pyspark.sql import Row

    def build(n_segs: int, name: str) -> CarbonStore:
        store = CarbonStore(spark, str(tmp_path / name))
        df = spark.range(0, 60 * n_segs).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
        store.create_table("m", df.schema, sort_columns=["k"])
        for i in range(n_segs):
            store.load(
                "m",
                df.filter((F.col("k") >= i * 60) & (F.col("k") < (i + 1) * 60)),
            )
        return store

    counts = {}
    writes = _count_staging_writes(monkeypatch)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for n_segs in (2, 4):
            store = build(n_segs, f"m{n_segs}")
            writes.clear()
            src = spark.createDataFrame(
                [Row(k=i * 60, v=-1.0) for i in range(n_segs)]
            )
            with count_jobs(spark) as c:
                res = store.merge_rows(
                    "m", src, keys="k", update_cols=["v"], insert=False
                )
            counts[n_segs] = c.n
            assert res == {"updated": n_segs, "inserted": 0}
            rewrites = sorted(
                s["origin"]["rewrite_of"]
                for s in store.show_segments("m")
                if s["origin"].get("op") == "merge"
            )
            assert rewrites == list(range(n_segs)), (
                "merge must rewrite per source segment, not one merged union"
            )
            # each rewrite preserves exactly its source's rows (locality)
            rows = {
                s["origin"]["rewrite_of"]: s["rows"]
                for s in store.show_segments("m")
                if s["origin"].get("op") == "merge" and s["status"] == "Success"
            }
            assert all(n == 60 for n in rows.values())
            staging = [p for p in writes if ".rewrite_staging_" in p]
            assert len(staging) == 1, staging
            assert store.table("m").filter("v = -1.0").count() == n_segs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert counts[4] <= counts[2] + 2, (
        f"merge job count grew with affected-segment count: {counts}"
    )


def test_bloom_table_multi_segment_update_constant_jobs(spark, tmp_path, monkeypatch):
    """r15: blooms for rewrite segments come from one aggregation for
    all new segments (bloom.build_blooms), or are carried from their
    sources — an UPDATE touching N segments of a bloom table must run
    the same job count for N=2 and N=5, and the rewritten segments'
    blooms must still point-prune correctly."""

    def build(n_segs: int, name: str) -> CarbonStore:
        store = CarbonStore(spark, str(tmp_path / name))
        df = spark.range(0, 60 * n_segs).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        store.create_table(
            "b", df.schema, sort_columns=["k"],
            properties={"bloom_columns": "k"},
        )
        for i in range(n_segs):
            store.load(
                "b",
                df.filter((F.col("k") >= i * 60) & (F.col("k") < (i + 1) * 60)),
            )
        return store

    counts = {}
    writes = _count_staging_writes(monkeypatch)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for n_segs in (2, 5):
            store = build(n_segs, f"b{n_segs}")
            writes.clear()
            with count_jobs(spark) as c:
                assert store.update_rows("b", "v % 120 = 0", {"v": "-1"}) == n_segs
            counts[n_segs] = c.n
            # rewritten segments carry fresh blooms and still point-prune
            segs = store.valid_segments("b")
            assert all(e.blooms.get("k") for e in segs)
            kept = _prune_for(store, segs, "k = 60", "b")
            assert len(kept) == 1
            assert store.scan("b", column="k", eq=60).count() == 1
            staging = [p for p in writes if ".rewrite_staging_" in p]
            assert len(staging) == 1, staging
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # v is no bloom column, so the rewrites carry their sources' blooms;
    # a per-segment bloom build loop would add >= 6 jobs
    # (2 per extra segment) from 2 to 5 segments
    assert counts[5] <= counts[2] + 3, (
        f"bloom-table update job count grew with affected segments: {counts}"
    )
