"""Tests: SQL management front-end, CSV load parity, aggregate tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from carbondata_spark.sql import CarbonSession
from carbondata_spark.store import CarbonStore


@pytest.fixture()
def cs(spark, tmp_path):
    return CarbonSession(spark, CarbonStore(spark, str(tmp_path / "store")))


def test_sql_lifecycle(cs, spark):
    cs.sql("CREATE TABLE emp (id bigint, city string, salary double) SORTED BY (city)")
    assert cs.sql("SHOW TABLES").collect()[0]["table_name"] == "emp"
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], 100.0 * i) for i in range(10)], "id long, city string, salary double"
    )
    cs.store.load("emp", df)
    cs.store.load("emp", df)
    segs = cs.sql("SHOW SEGMENTS FOR TABLE emp").collect()
    assert [s["segment_id"] for s in segs] == [0, 1]
    out = cs.sql("SELECT city, count(*) AS n FROM emp GROUP BY city ORDER BY city").collect()
    assert [(r["city"], r["n"]) for r in out] == [("a", 10), ("b", 10)]
    assert cs.sql("DELETE SEGMENTS 0 FROM TABLE emp").collect()[0]["deleted"] == 1
    assert cs.sql("SELECT count(*) AS n FROM emp").collect()[0]["n"] == 10
    cs.sql("ALTER TABLE emp COMPACT")
    cleaned = cs.sql("CLEAN FILES FOR TABLE emp").collect()
    assert len(cleaned) >= 1
    cols = [(r["col_name"], r["data_type"]) for r in cs.sql("DESCRIBE emp").collect()]
    assert cols == [("id", "bigint"), ("city", "string"), ("salary", "double")]
    desc = {
        r["col_name"]: r["data_type"]
        for r in cs.sql("DESCRIBE FORMATTED emp").collect()
    }
    assert desc["name"] == "emp"
    cs.sql("DROP TABLE emp")
    assert cs.sql("SHOW TABLES").count() == 0


def test_sql_create_complex_types(cs):
    cs.sql("CREATE TABLE c (id int, tags array<string>, amount decimal(10,2))")
    schema = cs.store.schema("c")
    assert isinstance(schema["tags"].dataType, T.ArrayType)
    assert schema["amount"].dataType == T.DecimalType(10, 2)


def test_sql_create_struct_types(cs):
    """struct<...> in DDL, incl. nesting and case-preserved field names
    (CarbonSqlParser.scala:905-933 accepts the same surface)."""
    cs.sql(
        "CREATE TABLE s (id int, device struct<macId:string, locked:boolean>,"
        " route array<struct<leg:int, dist:double>>)"
    )
    schema = cs.store.schema("s")
    dev = schema["device"].dataType
    assert isinstance(dev, T.StructType)
    assert [f.name for f in dev.fields] == ["macId", "locked"]
    assert dev["locked"].dataType == T.BooleanType()
    route = schema["route"].dataType
    assert isinstance(route, T.ArrayType) and isinstance(route.elementType, T.StructType)
    assert route.elementType["dist"].dataType == T.DoubleType()


def test_sql_load_complexdata_csv(cs, tmp_path):
    """LOAD DATA with COMPLEX_DELIMITER_LEVEL_1/2 over a complexdata.csv-
    shaped file: '$' between array elements, ':' inside structs
    (reference: integration/spark/src/test/resources/complexdata.csv)."""
    p = tmp_path / "complex.csv"
    p.write_text(
        "1,alice,mac1:10$mac2:20,7:true\n"
        "2,bob,mac9:90,8:false\n"
    )
    cs.sql(
        "CREATE TABLE cx (id int, name string,"
        " macs array<struct<mac:string, val:int>>,"
        " dev struct<ver:int, ison:boolean>)"
    )
    cs.sql(
        f"LOAD DATA INPATH '{p}' INTO TABLE cx"
        " OPTIONS('fileheader'='id,name,macs,dev',"
        " 'complex_delimiter_level_1'='$', 'complex_delimiter_level_2'=':')"
    )
    rows = {r["id"]: r for r in cs.sql("SELECT * FROM cx").collect()}
    assert rows[1]["macs"] == [("mac1", 10), ("mac2", 20)]
    assert rows[2]["macs"] == [("mac9", 90)]
    assert rows[1]["dev"] == (7, True)
    assert rows[2]["dev"] == (8, False)
    # nested fields queryable through the SQL passthrough
    out = cs.sql(
        "SELECT id, dev.ver AS ver, size(macs) AS n FROM cx ORDER BY id"
    ).collect()
    assert [(r["id"], r["ver"], r["n"]) for r in out] == [(1, 7, 2), (2, 8, 1)]


def test_sql_passthrough_registers_only_referenced_views(cs, spark):
    """One sql() statement must not rebuild every table's segment-union
    view (O(#tables × #segments) driver work per statement) — only the
    tables the statement references."""
    for name in ("ta", "tb", "tc"):
        cs.sql(f"CREATE TABLE {name} (id bigint)")
        cs.store.load(name, spark.range(5).select(F.col("id")))
    calls: list[str] = []
    orig = cs.store.register_view

    def tracking(tname, view_name=None):
        calls.append(tname)
        return orig(tname, view_name)

    cs.store.register_view = tracking
    try:
        n = cs.sql("SELECT count(*) AS n FROM ta").collect()[0]["n"]
    finally:
        cs.store.register_view = orig
    assert n == 5
    assert calls == ["ta"], f"registered {calls}, expected only the referenced table"


def test_csv_roundtrip_with_complex(spark, tmp_path):
    from carbondata_spark.sources.csv import read_csv, split_bad_records, with_complex_columns

    p = tmp_path / "in.csv"
    p.write_text(
        "id|name|tags|device\n"
        '1|alice|red$green|mac1:10\n'
        "2|bob|blue|mac2:20\n"
        "3|carol,oops,extra,bad,row,x|z|bad\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("tags", T.StringType()),
            T.StructField("device", T.StringType()),
        ]
    )
    df = read_csv(spark, str(p), schema=schema, delimiter="|")
    good, bad = split_bad_records(df)
    assert good.count() == 3  # row 3 parses (comma inside field ok with | delim)
    typed = with_complex_columns(
        good,
        {
            "tags": T.ArrayType(T.StringType()),
            "device": T.StructType(
                [T.StructField("mac", T.StringType()), T.StructField("val", T.IntegerType())]
            ),
        },
    )
    row = typed.filter(F.col("id") == 1).collect()[0]
    assert row["tags"] == ["red", "green"]
    assert row["device"]["mac"] == "mac1" and row["device"]["val"] == 10


def test_csv_bad_records(spark, tmp_path):
    from carbondata_spark.sources.csv import read_csv, split_bad_records

    p = tmp_path / "bad.csv"
    p.write_text("id,age\n1,10\n2,notanum\n3,30\n")
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("age", T.IntegerType())]
    )
    good, bad = split_bad_records(read_csv(spark, str(p), schema=schema))
    assert good.count() == 2
    assert bad.count() == 1
    assert "notanum" in bad.collect()[0]["raw_line"]


def test_csv_fileheader_no_header(spark, tmp_path):
    from carbondata_spark.sources.csv import read_csv

    p = tmp_path / "nohdr.csv"
    p.write_text("1,x\n2,y\n")
    df = read_csv(spark, str(p), fileheader=["id", "tag"])
    assert df.columns == ["id", "tag"]
    assert df.count() == 2


def test_aggregate_table_rewrite_matches_fact(cs, spark):
    from carbondata_spark.plans import agg_table as at

    store = cs.store
    cs.sql("CREATE TABLE sales (region string, product string, amount double, qty bigint)")
    df = spark.createDataFrame(
        [
            (["east", "west"][i % 2], f"p{i % 5}", float(i), i % 7)
            for i in range(1000)
        ],
        "region string, product string, amount double, qty long",
    )
    store.load("sales", df)
    at.create_aggregate_table(
        store, "sales", "by_rp", ["region", "product"],
        {"amount": ["sum", "min", "max", "count"], "qty": ["sum", "count"]},
    )
    assert at.list_aggregate_tables(store, "sales") == ["by_rp"]

    # rollup-answered aggregate must equal fact-computed aggregate
    rewritten = at.rewrite_aggregate(
        store, "sales", ["region"], {"amount": ["sum", "avg"], "qty": ["count"]}
    )
    direct = (
        store.table("sales")
        .groupBy("region")
        .agg(
            F.sum("amount").alias("sum_amount"),
            F.avg("amount").alias("avg_amount"),
            F.count("qty").alias("count_qty"),
        )
    )
    got = {r["region"]: (r["sum_amount"], r["avg_amount"], r["count_qty"]) for r in rewritten.collect()}
    want = {r["region"]: (r["sum_amount"], r["avg_amount"], r["count_qty"]) for r in direct.collect()}
    assert got.keys() == want.keys()
    for k in want:
        for a, b in zip(got[k], want[k]):
            assert abs(a - b) < 1e-6

    # the rewrite must scan the summary table, not the fact table: the
    # scan schema carries the rollup's sum_/count_ columns, not raw ones
    plan = rewritten._jdf.queryExecution().executedPlan().toString()
    assert "sum_amount" in plan and "ReadSchema" in plan

    # incremental load + refresh keeps the rollup consistent
    store.load("sales", df)
    at.refresh_aggregate_table(at.AggregateTable(store, "sales", "by_rp"))
    total = at.rewrite_aggregate(store, "sales", [], {"amount": ["sum"]})
    assert abs(total.collect()[0]["sum_amount"] - 2 * sum(range(1000))) < 1e-6

    at.drop_aggregate_table(store, "sales", "by_rp")
    assert at.list_aggregate_tables(store, "sales") == []


def test_sql_create_partitioned(cs, spark):
    cs.sql(
        "CREATE TABLE pt (id bigint, seg string, v double) "
        "SORTED BY (seg) PARTITIONED BY (seg)"
    )
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], float(i)) for i in range(20)], "id long, seg string, v double"
    )
    cs.store.load("pt", df)
    import glob, os

    seg0 = os.path.join(cs.store._segment_dir("pt", 0))
    assert sorted(p.rsplit("=", 1)[1] for p in glob.glob(seg0 + "/seg=*")) == ["a", "b"]
    assert cs.sql("SELECT count(*) AS n FROM pt WHERE seg = 'a'").collect()[0]["n"] == 10


def test_sql_alter_columns_and_show_loads(cs, spark):
    cs.sql("CREATE TABLE a (id bigint, v double)")
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double")
    cs.store.load("a", df)
    # SHOW LOADS alias (reference keyword)
    assert cs.sql("SHOW LOADS FOR TABLE a").count() == 1
    # ALTER ADD with default visible over the old segment
    cs.sql("ALTER TABLE a ADD COLUMNS (tag string, bonus double) DEFAULTS (tag='x')")
    out = cs.sql("SELECT tag, count(*) AS n FROM a GROUP BY tag").collect()
    assert [(r["tag"], r["n"]) for r in out] == [("x", 10)]
    # bonus has no default -> NULL over old segments
    assert cs.sql("SELECT count(*) AS n FROM a WHERE bonus IS NULL").collect()[0]["n"] == 10
    cs.sql("ALTER TABLE a DROP COLUMNS (v)")
    assert "v" not in cs.store.table("a").columns


def test_sql_load_data_inpath(cs, spark, tmp_path):
    cs.sql("CREATE TABLE ld (id bigint, city string, amt double)")
    p = tmp_path / "in.csv"
    p.write_text("id,city,amt\n1,rome,10.5\n2,oslo,3.25\n3,rome,1.0\n")
    r = cs.sql(
        f"LOAD DATA INPATH '{p}' INTO TABLE ld "
        "OPTIONS('DELIMITER'=',', 'FILEHEADER'='id,city,amt')"
    ).collect()
    assert r[0]["segment_id"] == 0
    # second load without options (header inferred), appends a segment
    r = cs.sql(f"LOAD DATA INPATH '{p}' INTO TABLE ld").collect()
    assert r[0]["segment_id"] == 1
    assert cs.store.table("ld").count() == 6
    out = cs.sql("SELECT city, count(*) AS n FROM ld GROUP BY city ORDER BY city").collect()
    assert [(r["city"], r["n"]) for r in out] == [("oslo", 2), ("rome", 4)]


def test_sql_load_data_parquet_format(cs, spark, tmp_path):
    cs.sql("CREATE TABLE lp (id bigint, v double)")
    src = spark.createDataFrame([(i, float(i)) for i in range(7)], "id long, v double")
    src.write.parquet(str(tmp_path / "pq"))
    cs.sql(f"LOAD DATA INPATH '{tmp_path}/pq' INTO TABLE lp OPTIONS('FORMAT'='parquet')")
    assert cs.store.table("lp").count() == 7


def test_sql_create_aggregatetable_and_transparent_routing(cs, spark):
    cs.sql("CREATE TABLE fact (region string, product string, amount double, qty bigint)")
    df = spark.createDataFrame(
        [(["east", "west"][i % 2], f"p{i % 3}", float(i), i % 5) for i in range(600)],
        "region string, product string, amount double, qty long",
    )
    cs.store.load("fact", df)
    cs.sql(
        "CREATE AGGREGATETABLE byrp FROM TABLE fact "
        "GROUP BY (region, product) AGGREGATES (sum(amount), count(amount), sum(qty), count(qty), max(qty))"
    )
    shown = cs.sql("SHOW AGGREGATE TABLES FOR TABLE fact").collect()
    assert [r["aggregate_table"] for r in shown] == ["byrp"]

    routed = cs.sql(
        "SELECT region, sum(amount) AS s, avg(qty) AS aq, count(*) AS n FROM fact GROUP BY region"
    )
    # the routed plan must scan the SUMMARY table's parquet, not the fact's
    assert any("_agg_byrp" in f for f in routed.inputFiles())
    direct = (
        cs.store.table("fact")
        .groupBy("region")
        .agg(F.sum("amount").alias("s"), F.avg("qty").alias("aq"), F.count("*").alias("n"))
    )
    got = {r["region"]: (r["s"], r["aq"], r["n"]) for r in routed.collect()}
    want = {r["region"]: (r["s"], r["aq"], r["n"]) for r in direct.collect()}
    assert got.keys() == want.keys()
    for k in want:
        for a, b in zip(got[k], want[k]):
            assert abs(a - b) < 1e-6

    # non-derivable aggregate (min not in the rollup) falls through to the fact scan
    fallthrough = cs.sql("SELECT region, min(amount) AS m FROM fact GROUP BY region")
    assert not any("_agg_byrp" in f for f in fallthrough.inputFiles())
    assert {r["region"]: r["m"] for r in fallthrough.collect()} == {"east": 0.0, "west": 1.0}

    # WHERE on rollup dims routes too: predicate columns ⊆ rollup dims,
    # summary filtered BEFORE combining partials (whole groups selected)
    routed_w = cs.sql(
        "SELECT region, sum(amount) AS s FROM fact"
        " WHERE product IN ('p0', 'p1') AND region = 'east' GROUP BY region"
    )
    assert any("_agg_byrp" in f for f in routed_w.inputFiles())
    direct_w = (
        cs.store.table("fact")
        .filter(F.col("product").isin("p0", "p1") & (F.col("region") == "east"))
        .groupBy("region")
        .agg(F.sum("amount").alias("s"))
    )
    got_w = {r["region"]: r["s"] for r in routed_w.collect()}
    want_w = {r["region"]: r["s"] for r in direct_w.collect()}
    assert got_w.keys() == want_w.keys() == {"east"}
    assert abs(got_w["east"] - want_w["east"]) < 1e-6

    # WHERE on a MEASURE must not route (filtering partials is unsound)
    no_route = cs.sql(
        "SELECT region, sum(amount) AS s FROM fact WHERE qty > 2 GROUP BY region"
    )
    assert not any("_agg_byrp" in f for f in no_route.inputFiles())
    want_m = {
        r["region"]: r["s"]
        for r in cs.store.table("fact")
        .filter(F.col("qty") > 2)
        .groupBy("region")
        .agg(F.sum("amount").alias("s"))
        .collect()
    }
    assert {r["region"]: r["s"] for r in no_route.collect()} == pytest.approx(want_m)


def test_rollup_route_lists_the_store_once(cs, spark, monkeypatch):
    """A routed GROUP BY lists the store once, for the statement's table
    names; each candidate rollup's existence is one stat, not a listing.
    Both rollups can answer the query and the wider one is listed first
    (aggregate tables list by name), so both reach the coverage check."""
    cs.sql("CREATE TABLE fact (region string, product string, amount double)")
    df = spark.createDataFrame(
        [(["east", "west"][i % 2], f"p{i % 3}", float(i)) for i in range(60)],
        "region string, product string, amount double",
    )
    cs.store.load("fact", df)
    cs.sql(
        "CREATE AGGREGATETABLE a_wide FROM TABLE fact "
        "GROUP BY (region, product) AGGREGATES (sum(amount))"
    )
    cs.sql(
        "CREATE AGGREGATETABLE b_narrow FROM TABLE fact "
        "GROUP BY (region) AGGREGATES (sum(amount))"
    )
    calls = []
    listing = CarbonStore.tables

    def counted(self):
        calls.append(1)
        return listing(self)

    monkeypatch.setattr(CarbonStore, "tables", counted)
    routed = cs.sql("SELECT region, sum(amount) AS s FROM fact GROUP BY region")
    assert len(calls) == 1
    assert any("_agg_b_narrow" in f for f in routed.inputFiles())
    assert {r["region"]: r["s"] for r in routed.collect()} == {
        "east": float(sum(range(0, 60, 2))),
        "west": float(sum(range(1, 60, 2))),
    }


def test_sql_mixed_case_identifiers_and_literals(cs, spark):
    cs.sql("CREATE TABLE MixedCase (Id bigint, CityName string)")
    assert "MixedCase" in cs.store.tables()
    schema = cs.store.schema("MixedCase")
    assert [f.name for f in schema.fields] == ["Id", "CityName"]
    df = spark.createDataFrame([(1, "Rome"), (2, "Oslo")], "Id long, CityName string")
    cs.store.load("MixedCase", df)
    # ALTER default literal must keep its case (was lowercased before)
    cs.sql("ALTER TABLE MixedCase ADD COLUMNS (Chan string) DEFAULTS (Chan='Web')")
    vals = {r["Chan"] for r in cs.store.table("MixedCase").select("Chan").collect()}
    assert vals == {"Web"}
    # passthrough SQL sees the same mixed-case table name
    assert cs.sql("SELECT count(*) AS n FROM MixedCase").collect()[0]["n"] == 2


def test_sql_create_cube_ddl(cs, spark, sf_dir):
    """CREATE CUBE — the reference's primary DDL (CarbonSqlParser.scala:
    703-729): dims become sort columns, integer MEASURES surface as double
    (CarbonDatasourceRelation.scala:194-208 coercion), and the cube is
    queryable through the SQL passthrough."""
    cs.sql(
        "CREATE CUBE sales_cube"
        " DIMENSIONS (region string, status string)"
        " MEASURES (amount double, qty int)"
    )
    assert "sales_cube" in [r.cube_name for r in cs.sql("SHOW CUBES").collect()]
    schema = cs.store.schema("sales_cube")
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert by_name["qty"] == "double"  # int measure -> double
    assert by_name["region"] == "string"
    d = cs.store.describe("sales_cube")
    assert d["sort_columns"] == ["region", "status"]

    df = spark.createDataFrame(
        [("emea", "ok", 10.5, 2), ("apac", "ok", 1.25, 7), ("emea", "bad", 3.0, 1)],
        "region string, status string, amount double, qty int",
    )
    cs.store.load("sales_cube", df)
    out = {
        r.region: (r.total, r.total_qty)
        for r in cs.sql(
            "SELECT region, sum(amount) AS total, sum(qty) AS total_qty"
            " FROM sales_cube GROUP BY region"
        ).collect()
    }
    assert out == {"emea": (13.5, 3.0), "apac": (1.25, 7.0)}

    cs.sql("DROP CUBE sales_cube")
    assert "sales_cube" not in cs.store.tables()


def test_sql_create_cube_zorder_option(cs, spark):
    """OPTIONS('clustering'='zorder') flows from the CREATE CUBE front
    door into the table property that switches load clustering to
    Morton order (zorder.py); loads through the SQL surface round-trip
    and a bad value is rejected at DDL time."""
    import pytest as _pytest

    cs.sql(
        "CREATE CUBE zcube"
        " DIMENSIONS (city string, dev string)"
        " MEASURES (amount double)"
        " OPTIONS('clustering'='zorder')"
    )
    assert cs.store._read_schema("zcube")["properties"]["clustering"] == "zorder"
    df = spark.createDataFrame(
        [("a", "ios", 1.0), ("b", "and", 2.0), ("a", "and", 3.0), ("c", "web", 4.0)],
        "city string, dev string, amount double",
    )
    cs.store.load("zcube", df)
    got = cs.sql("SELECT sum(amount) AS s FROM zcube WHERE dev = 'and'").collect()
    assert got[0]["s"] == 5.0
    cs.sql("DROP CUBE zcube")

    with _pytest.raises(ValueError, match="clustering"):
        cs.sql(
            "CREATE CUBE badcube DIMENSIONS (x string) MEASURES (y double)"
            " OPTIONS('clustering'='hilbert')"
        )


def test_sql_as_of_time_travel(cs, spark):
    """`FROM t AS OF TIMESTAMP '<iso>'` reads the historical segment set
    through the SQL passthrough (store.table(as_of_ts=...) surface)."""
    import time
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    df = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    cs.sql("CREATE TABLE asof_t (k bigint, v double)")
    cs.store.load("asof_t", df.filter("k < 20"))
    mid = time.time()
    time.sleep(0.01)
    cs.store.load("asof_t", df.filter("k >= 20"))

    iso = datetime.fromtimestamp(mid, tz=timezone.utc).isoformat().replace("+00:00", "")
    old = cs.sql(f"SELECT count(*) AS n FROM asof_t AS OF TIMESTAMP '{iso}'").collect()
    now = cs.sql("SELECT count(*) AS n FROM asof_t").collect()
    assert old[0].n == 20 and now[0].n == 50
    # mixed-case table reference matches too (identifier handling is
    # case-insensitive everywhere else in the router)
    old2 = cs.sql(f"SELECT count(*) AS n FROM ASOF_T AS OF TIMESTAMP '{iso}'").collect()
    assert old2[0].n == 20
    # repeated as-of reads keep ONE live view per table (bounded catalog)
    iso2 = datetime.fromtimestamp(mid + 10, tz=timezone.utc).isoformat().replace("+00:00", "")
    cs.sql(f"SELECT count(*) AS n FROM asof_t AS OF TIMESTAMP '{iso2}'").collect()
    assert len(cs._asof_views) == 1
    assert sum(len(v) for v in cs._asof_views.values()) == 1


def test_sql_as_of_snapshot_diff_two_timestamps(cs, spark):
    """A single SELECT referencing the SAME table at two different AS OF
    timestamps (the natural snapshot-diff query) keeps both historical
    views live through analysis — the earlier one-live-view-per-table
    bound dropped the first view mid-substitution and failed with
    view-not-found."""
    import time
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    df = spark.range(30).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    cs.sql("CREATE TABLE asof_diff (k bigint, v double)")
    cs.store.load("asof_diff", df.filter("k < 10"))
    t1 = time.time()
    time.sleep(0.01)
    cs.store.load("asof_diff", df.filter("k >= 10 AND k < 20"))
    t2 = time.time()
    time.sleep(0.01)
    cs.store.load("asof_diff", df.filter("k >= 20"))

    def iso(ts):
        return datetime.fromtimestamp(ts, tz=timezone.utc).isoformat().replace("+00:00", "")

    # rows added between t1 and t2 = the second load's 10 keys
    out = cs.sql(
        f"SELECT count(*) AS added FROM ("
        f"SELECT k FROM asof_diff AS OF TIMESTAMP '{iso(t2)}' "
        f"EXCEPT SELECT k FROM asof_diff AS OF TIMESTAMP '{iso(t1)}')"
    ).collect()
    assert out[0].added == 10
    # both views stayed live for this statement, then are the only ones kept
    assert sum(len(v) for v in cs._asof_views.values()) == 2
    # a later single-timestamp statement drops the now-stale pair member
    cs.sql(f"SELECT count(*) AS n FROM asof_diff AS OF TIMESTAMP '{iso(t1)}'").collect()
    assert sum(len(v) for v in cs._asof_views.values()) == 1
