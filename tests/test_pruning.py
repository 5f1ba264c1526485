"""Segment pruning must never change a result.

A pruned segment has to provably hold no matching row, so every read and
mutation that prunes must return exactly what its unpruned form returns:
``scan`` equals ``table().filter(...)``; DELETE, UPDATE and MERGE equal
the pre-state transformed by the same predicate in Spark. Checked at the
segment edges, where a literal-to-stats mismatch prunes a segment that
holds the bound itself, and under hostile session timezones, where a
literal's meaning shifts with the session.
"""

from __future__ import annotations

import datetime
import re
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from carbondata_spark import pruning
from carbondata_spark.store import CarbonStore


def _counts(frames) -> list[int]:
    """Row count of each frame, in one Spark job."""
    union = None
    for i, frame in enumerate(frames):
        tagged = frame.select(F.lit(i).alias("_case"))
        union = tagged if union is None else union.unionByName(tagged)
    got = dict(union.groupBy("_case").count().collect())
    return [got.get(i, 0) for i in range(len(frames))]


# ---------------------------------------------------------------------------
# string bounds at segment edges on a DATE sort column; string literal
# against a bloom-indexed bigint column
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def date_store(spark, tmp_path_factory):
    store = CarbonStore(spark, str(tmp_path_factory.mktemp("dates")))
    first = F.lit(datetime.date(1999, 6, 1))
    df = spark.range(40).select(
        F.date_add(first, F.col("id").cast("int")).alias("d"), F.col("id").alias("v")
    )
    store.create_table("t", df.schema, sort_columns=["d"])
    store.load("t", df.filter("v < 20"))  # 1999-06-01 .. 1999-06-20
    store.load("t", df.filter("v >= 20"))  # 1999-06-21 .. 1999-07-10
    return store


def test_scan_string_bound_at_segment_edge_matches_filter(date_store):
    d = F.col("d")
    scans, oracle = [], []
    for bound in ("1999-06-01", "1999-06-20", "1999-06-21", "1999-07-10"):
        for op, cond in (
            ("ge", d >= F.lit(bound)),
            ("le", d <= F.lit(bound)),
            ("eq", d == F.lit(bound)),
        ):
            scans.append(date_store.scan("t", column="d", **{op: bound}))
            oracle.append(date_store.table("t").filter(cond))
    want = _counts(oracle)
    assert _counts(scans) == want
    assert want[6:9] == [20, 21, 1]  # le/eq at 1999-06-21 reach segment 1


def test_point_scan_string_literal_on_bloom_bigint(spark, tmp_path):
    store = CarbonStore(spark, str(tmp_path))
    df = spark.range(40).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    store.create_table(
        "b", df.schema, sort_columns=["v"], properties={"bloom_columns": "k"}
    )
    store.load("b", df.filter("k < 20"))
    store.load("b", df.filter("k >= 20"))
    got = [tuple(r) for r in store.scan("b", column="k", eq="5").collect()]
    want = store.table("b").filter(F.col("k") == F.lit("5"))
    want = [tuple(r) for r in want.collect()]
    assert got == want == [(5, 10)]


def test_collated_string_column_is_not_pruned(spark, tmp_path):
    """Spark compares a UTF8_LCASE column by its collation; the stats hold
    binary order and the blooms binary hashes, so neither may prune it.
    The last segment's binary [min, max] is ['Z', 'a']: a source key 'z'
    matches its 'Z' but falls outside that range."""
    schema = T.StructType(
        [T.StructField("s", T.StringType("UTF8_LCASE")), T.StructField("v", T.LongType())]
    )
    store = CarbonStore(spark, str(tmp_path))
    store.create_table("t", schema, sort_columns=["s"], properties={"bloom_columns": "s"})
    for rows in ([("b", 1), ("c", 2)], [("x", 3), ("y", 4)], [("Z", 5), ("a", 6)]):
        store.load("t", spark.createDataFrame(rows, schema))
    s, t = F.col("s"), store.table("t")
    scans = [
        store.scan("t", column="s", eq="B"),
        store.scan("t", column="s", ge="A", le="C"),
        store.scan("t", column="s", isin=["Y", "q"]),
    ]
    want = _counts([t.filter(s == "B"), t.filter((s >= "A") & (s <= "C")), t.filter(s.isin("Y", "q"))])
    assert _counts(scans) == want == [1, 3, 1]
    assert store.delete_rows("t", "s = 'B'") == 1
    got = store.merge_rows("t", spark.createDataFrame([("z", 50)], schema), "s")
    assert got == {"updated": 1, "inserted": 0}
    rows = sorted((r.s, r.v) for r in store.table("t").collect())
    assert rows == [("Z", 50), ("a", 6), ("c", 2), ("x", 3), ("y", 4)]


# ---------------------------------------------------------------------------
# timezone property: DATE / TIMESTAMP_NTZ / TIMESTAMP sort columns under
# UTC, Los Angeles and Tokyo sessions
# ---------------------------------------------------------------------------

# 24 rows, three segments of 8; timestamps step 5 hours with 0/0.25/0.5 s
# fractions, so segments straddle midnights and footer stats (cut to the
# second) sit below the true maxima
_STEP = "make_dt_interval(0, CAST(id * 5 AS INT), 0, (id % 3) * 0.25)"
_VALUES = {
    "date": "date_add(DATE'1999-06-01', CAST(id AS INT))",
    "timestamp_ntz": f"TIMESTAMP_NTZ'1999-06-20 00:00:00' + {_STEP}",
    "timestamp": f"TIMESTAMP'1999-06-20 00:00:00' + {_STEP}",
}
_TZS = ["UTC", "America/Los_Angeles", "Asia/Tokyo"]


def _shapes(wall: str) -> list:
    """Literal shapes for a 'yyyy-MM-dd HH:mm:ss.SSS' wall-clock value."""
    return [
        wall[:10],
        wall[:19],
        f"{wall[:10]}T{wall[11:19]}",
        wall,
        datetime.date.fromisoformat(wall[:10]),
        datetime.datetime.fromisoformat(wall),
    ]


@pytest.fixture(
    scope="module",
    params=[(tz, k) for tz in _TZS for k in _VALUES],
    ids=lambda p: f"{p[1]}-{p[0]}",
)
def tz_store(spark, tmp_path_factory, request):
    tz, kind = request.param
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        store = CarbonStore(spark, str(tmp_path_factory.mktemp("tz") / "base"))
        df = spark.range(24).select(
            F.expr(_VALUES[kind]).alias("d"), F.col("id").alias("v")
        )
        store.create_table("t", df.schema, sort_columns=["d"])
        for lo in (0, 8, 16):
            store.load("t", df.filter(f"v >= {lo} AND v < {lo + 8}"))
        # segment edges around the middle segment, as session wall clock
        walls = [
            r[0]
            for r in df.select(
                F.date_format("d", "yyyy-MM-dd HH:mm:ss.SSS")
            ).collect()
        ]
        yield store, kind, [walls[i] for i in (7, 8, 15, 16)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


def _matching_segments(store, conds) -> list[set[int]]:
    """For each condition, the segments holding a row it matches (one
    Spark job)."""
    rows = (
        store.table("t", _tag_col="seg")
        .groupBy("seg")
        .agg(*[F.count(F.when(c, 1)).alias(f"c{i}") for i, c in enumerate(conds)])
        .collect()
    )
    return [{r["seg"] for r in rows if r[f"c{i}"] > 0} for i in range(len(conds))]


def test_timezone_scan_pruning_is_result_neutral(tz_store):
    """``scan`` is ``table(kept).filter(cond)``, so it equals
    ``table().filter(cond)`` exactly when every segment holding a match
    is read."""
    store, _kind, edges = tz_store
    d = F.col("d")
    cases = [
        (op, lit, cond)
        for lit in [s for w in edges for s in _shapes(w)]
        for op, cond in (
            ("ge", d >= F.lit(lit)),
            ("le", d <= F.lit(lit)),
            ("eq", d == F.lit(lit)),
        )
    ]
    matched = _matching_segments(store, [c for _, _, c in cases])
    for (op, lit, _), want in zip(cases, matched):
        files = store.scan("t", column="d", **{op: lit}).inputFiles()
        read = {int(re.search(r"Segment_(\d+)", f).group(1)) for f in files}
        assert want <= read, (op, lit)


def test_timezone_mutation_candidates_keep_every_match(tz_store):
    """Every segment holding a row that a string predicate matches stays
    a DELETE/UPDATE candidate, for every literal shape and operator."""
    store, _kind, edges = tz_store
    lits = [s for w in edges for s in _shapes(w)[:4]]
    preds = [f"d {op} '{lit}'" for lit in lits for op in ("=", "<", "<=", ">", ">=")]
    preds += [f"d IN ('{a}', '{b}')" for a, b in zip(lits, lits[1:])]
    matched = _matching_segments(store, [F.expr(p) for p in preds])
    segs = store.valid_segments("t")
    for p, want in zip(preds, matched):
        kept = pruning.prune(
            segs, store.schema("t"), pruning.sql_prunable_conjuncts(p)
        )
        assert want <= {e.segment_id for e in kept}, p


def _copy(store, name):
    root = f"{store.store_path}_{name}"
    shutil.copytree(store.store_path, root)
    return CarbonStore(store.spark, root)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_timezone_mutations_equal_spark_transform(spark, tz_store):
    store, kind, edges = tz_store
    pre = store.table("t")

    delete = f"d <= '{edges[1][:10]}'"
    mutated = _copy(store, "delete")
    n = mutated.delete_rows("t", delete)
    want = pre.filter(~F.coalesce(F.expr(delete), F.lit(False)))
    assert _rows(mutated.table("t")) == _rows(want)
    assert n == pre.count() - want.count()

    # segment 0's maximum carries a fraction its footer stats cut off
    update = f"d > '{edges[0][:19]}'"
    mutated = _copy(store, "update")
    mutated.update_rows("t", update, {"v": "-1"})
    hit = F.coalesce(F.expr(update), F.lit(False))
    want = pre.withColumn("v", F.when(hit, F.lit(-1)).otherwise(F.col("v")))
    assert _rows(mutated.table("t")) == _rows(want)

    src = spark.range(40).filter("id IN (8, 15, 30)").select(
        F.expr(_VALUES[kind]).alias("d"), F.lit(-7).cast("long").alias("v")
    )
    mutated = _copy(store, "merge")
    res = mutated.merge_rows("t", src, keys="d")
    merged = {r["d"]: r["v"] for r in pre.collect()}
    merged.update({r["d"]: r["v"] for r in src.collect()})
    assert res == {"updated": 2, "inserted": 1}
    assert _rows(mutated.table("t")) == sorted(merged.items())
