"""Routing of the SQL front door (carbondata_spark.sql.CarbonSession).

Every routed statement form, in each of its spellings and with
mixed-case keywords, must be answered by the Carbon router: it returns
its own result schema and never reaches ``spark.sql``. Also pinned
here: string literals keep their whitespace, table-spelling forms take
a ``schema.`` qualifier and IF EXISTS, and every form resolves table
names case-insensitively."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from carbondata_spark.sql import CarbonSession
from carbondata_spark.store import CarbonStore

SEGMENTS = "struct<segment_id:bigint,status:string,rows:bigint,load_start:string>"
DELETED = "struct<deleted:bigint>"
REMOVED = "struct<removed_segment:bigint>"
DROPPED = "struct<dropped:string>"
CREATED = "struct<created:string>"
LOADED = "struct<segment_id:bigint>"
ALTERED = "struct<action:string,column:string>"
DESCRIBED = "struct<col_name:string,data_type:string,comment:string>"
CUBES = "struct<cube_name:string>"
AGGS = "struct<fact_table:string,aggregate_table:string>"
FACT_AGGS = "struct<aggregate_table:string>"

AGG = "CREATE AGGREGATETABLE city, sum(amount) FROM CUBE sales"
CARBON = "'org.apache.carbondata.format'"
PAST = "'2000-01-01T00:00:00'"

# (statement, set-up statements run before it, result schema). {csv} is
# a two-row file matching the cube's columns, header first.
ROUTED = [
    ("Show Tables", [], "struct<table_name:string>"),
    ("Show Segments For Table sales", [], SEGMENTS),
    ("show LOADS for table sales", [], SEGMENTS),
    ("Show Loads For Cube default.sales Limit 1", [], SEGMENTS),
    ("SHOW SEGMENTS FOR CUBE sales", [], SEGMENTS),
    ("Show Loads For Table default.sales Limit 1", [], SEGMENTS),
    ("Delete Load 0 From Cube sales", [], DELETED),
    ("Delete Segments 0 From Table sales", [], DELETED),
    ("Delete Load 0 From Table default.sales", [], DELETED),
    (f"Delete From Cube sales Where ts Before {PAST}", [], DELETED),
    (f"Delete Segments From Table sales Where StartTime Before {PAST}", [], DELETED),
    (f"Delete From Table default.sales Where StartTime Before {PAST}", [], DELETED),
    ("Clean Files For Cube sales", [], REMOVED),
    ("Clean Files For Table sales", [], REMOVED),
    ("Drop Cube sales", [], DROPPED),
    ("Drop Table sales", [], DROPPED),
    ("Drop Cube If Exists default.sales", [], DROPPED),
    ("Drop Table If Exists sales", [], DROPPED),
    ("Drop Table default.sales", [], DROPPED),
    ("Drop Aggregate Table auto0", [AGG], DROPPED),
    ("Drop Aggregate Table If Exists sales.auto0", [AGG], DROPPED),
    ("Drop Aggregate Table auto0 On Table sales", [AGG], DROPPED),
    ("Drop Aggregate Table If Exists auto0 On Cube default.sales", [AGG], DROPPED),
    ("Show Aggregate Tables", [AGG], AGGS),
    ("Show Aggregate Tables In default", [AGG], AGGS),
    ("Show Aggregate Tables For Table sales", [AGG], FACT_AGGS),
    ("Show Aggregate Tables For Cube default.sales", [AGG], FACT_AGGS),
    ("Create AggregateTable city, sum(amount) From Cube sales", [], CREATED),
    ("Create AggregateTable city, max(amount) From Table default.sales", [], CREATED),
    (
        "Create AggregateTable byc From Table sales"
        " Group By (city) Aggregates (sum(amount), count(amount))",
        [],
        CREATED,
    ),
    (
        "Create AggregateTable byc From Cube default.sales"
        " Group By (city) Aggregates (min(amount))",
        [],
        CREATED,
    ),
    ("Show Cubes", [], CUBES),
    ("Show All Cubes In default", [], CUBES),
    (
        "Show Cubes Detail",
        [],
        "struct<cube_name:string,valid_segments:bigint,rows:bigint>",
    ),
    ("Show Schemas", [], "struct<namespace:string>"),
    ("Show Databases", [], "struct<namespace:string>"),
    ("Use default", [], "struct<ok:boolean>"),
    ("Delete From sales Where city = 'c0'", [], "struct<deleted_rows:bigint>"),
    ("Delete From Cube default.sales Where amount > 2", [], "struct<deleted_rows:bigint>"),
    ("Update sales Set amount = 1.0 Where city = 'c0'", [], "struct<updated_rows:bigint>"),
    ("Update Table default.sales Set city = 'x'", [], "struct<updated_rows:bigint>"),
    (
        "Merge Into sales Using src On (city, ts)"
        " When Matched Then Update Set * When Not Matched Then Insert *",
        [],
        "struct<updated:bigint,inserted:bigint>",
    ),
    (
        "Merge Into default.sales Using src On sales.city = src.city"
        " And sales.ts = src.ts When Not Matched Then Insert *",
        [],
        "struct<updated:bigint,inserted:bigint>",
    ),
    ("Load Data Inpath '{csv}' Into Table sales", [], LOADED),
    (
        "Load Data Local Inpath '{csv}' Overwrite Into Cube default.sales"
        " Options('DELIMITER'=',')",
        [],
        LOADED,
    ),
    ("Load Data Fact From '{csv}' Into Cube sales Fields Terminated By ','", [], LOADED),
    (
        "Load Data Fact From '{csv}' Overwrite Into Cube default.sales"
        " PartitionData(DELIMITER ',')",
        [],
        LOADED,
    ),
    ("Alter Cube sales Add Dimensions (region string)", [], ALTERED),
    (
        "Alter Cube default.sales Drop (city) Add Measures (qty int)"
        " Options (Defaults [qty=1])",
        [],
        ALTERED,
    ),
    ("Alter Table sales Add Columns (note string)", [], "struct<added:string>"),
    (
        "Alter Table default.sales Add Columns (n int) Defaults (n=1)",
        [],
        "struct<added:string>",
    ),
    ("Alter Table sales Drop Columns (amount)", [], DROPPED),
    ("Alter Table sales Compact", [], "struct<new_segment:bigint>"),
    ("Alter Table default.sales Compact", [], "struct<new_segment:bigint>"),
    ("Describe sales", [], DESCRIBED),
    ("Desc Formatted sales", [], DESCRIBED),
    ("Describe Extended default.sales", [], DESCRIBED),
    ("Create Cube c2 Dimensions (a string) Measures (m int)", [], CREATED),
    (
        "Create Cube If Not Exists default.c2 Dimensions(a string, b string)"
        " Options (No_Dictionary (b), Aggregation [sum(a)])",
        [],
        CREATED,
    ),
    ("Create Table t2 (a string, m int) Sorted By (a)", [], CREATED),
    ("Create Table If Not Exists default.t2 (a string)", [], CREATED),
    (f"Create Table t3 (a string, m int) Stored By {CARBON}", [], CREATED),
    (
        f"Create Table If Not Exists default.t3 (a string) Stored By {CARBON}"
        " TblProperties ('DICTIONARY_INCLUDE'='a')",
        [],
        CREATED,
    ),
    (
        "Select city, sum(amount) As s From sales Group By city",
        [AGG],
        "struct<city:string,s:double>",
    ),
]

# Routed statements whose answer is a loud refusal.
REFUSED = [
    ("Show Create Cube sales", "SHOW CREATE CUBE"),
    ("Load Data Fact From '{csv}' Dimension From d:'/tmp/d.csv' Into Cube sales", "DIMENSION FROM"),
]


@pytest.fixture()
def cs(spark, tmp_path):
    sess = CarbonSession(spark, CarbonStore(spark, str(tmp_path / "store")))
    sess.sql(
        "CREATE CUBE sales DIMENSIONS (city string, ts timestamp) "
        "MEASURES (amount double)"
    )
    df = spark.createDataFrame(
        [(f"c{i % 3}", f"2020-01-0{1 + i % 5} 00:00:00", float(i)) for i in range(6)],
        "city string, ts string, amount double",
    ).select("city", F.col("ts").cast("timestamp").alias("ts"), "amount")
    sess.store.load("sales", df)
    df.limit(2).createOrReplaceTempView("src")
    csv = tmp_path / "sales.csv"
    csv.write_text("city,ts,amount\nx,2021-01-01 00:00:00,5.0\ny,2021-01-02 00:00:00,7.0\n")
    sess.csv = str(csv)
    return sess


@pytest.fixture()
def spark_sql_calls(cs, monkeypatch):
    """Every statement that reaches ``spark.sql`` while the test runs."""
    calls: list[str] = []
    real = cs.spark.sql

    def spy(text, *args, **kwargs):
        calls.append(text)
        return real(text, *args, **kwargs)

    monkeypatch.setattr(cs.spark, "sql", spy)
    return calls


@pytest.mark.parametrize(("stmt", "setup", "schema"), ROUTED, ids=[r[0] for r in ROUTED])
def test_statement_is_routed(cs, stmt, setup, schema, request):
    for s in setup:
        cs.sql(s)
    calls = request.getfixturevalue("spark_sql_calls")
    df = cs.sql(stmt.format(csv=cs.csv))
    assert df.schema.simpleString() == schema
    assert calls == []


@pytest.mark.parametrize(("stmt", "match"), REFUSED, ids=[r[0] for r in REFUSED])
def test_statement_is_refused_by_the_router(cs, spark_sql_calls, stmt, match):
    with pytest.raises(ValueError, match=match):
        cs.sql(stmt.format(csv=cs.csv))
    assert spark_sql_calls == []


def test_row_statements_on_non_store_tables_reach_spark(cs, spark_sql_calls):
    """DELETE, UPDATE and MERGE decline for a table outside the store:
    Spark answers (here, with its own not-found error)."""
    for stmt in (
        "DELETE FROM nope WHERE a = 1",
        "UPDATE nope SET a = 1",
        "MERGE INTO nope USING src ON (city) WHEN NOT MATCHED THEN INSERT *",
    ):
        with pytest.raises(Exception):
            cs.sql(stmt)
    assert len(spark_sql_calls) == 3


def test_string_literal_whitespace_is_kept(cs, spark):
    """Whitespace is collapsed only outside quotes: a literal's double
    space, tab or newline reaches the predicate and the stored value."""
    cs.sql("CREATE TABLE w (k int, b string)")
    cs.store.load(
        "w",
        spark.createDataFrame(
            [(1, "x  y"), (2, "x y"), (3, "t\tu\nv"), (4, "t u v")], "k int, b string"
        ),
    )

    def keys(where: str) -> list[int]:
        return sorted(r.k for r in cs.sql(f"SELECT k FROM w WHERE {where}").collect())

    assert keys("b = 'x  y'") == [1]
    assert keys("b = 't\tu\nv'") == [3]
    assert keys("b =   'x y'") == [2]
    assert cs.sql("UPDATE w SET b = 'p  q' WHERE k = 2").collect()[0][0] == 1
    assert cs.sql("UPDATE w\n SET b = 'r\ts\nt'   WHERE k = 4").collect()[0][0] == 1
    got = {r.k: r.b for r in cs.store.table("w").collect()}
    assert got[2] == "p  q" and got[4] == "r\ts\nt"
    assert cs.sql("DELETE FROM w WHERE b = 'x  y'").collect()[0]["deleted_rows"] == 1
    assert cs.sql("DELETE FROM w WHERE b = 't\tu\nv'").collect()[0]["deleted_rows"] == 1
    assert sorted(r.k for r in cs.store.table("w").collect()) == [2, 4]


def test_table_spellings_take_qualifier_and_if_exists(cs, spark):
    """Every TABLE-spelling form accepts the ``default.`` qualifier, and
    DROP TABLE [IF EXISTS] drops the store table itself."""
    q = "default.sales"
    assert [r.segment_id for r in cs.sql(f"SHOW SEGMENTS FOR TABLE {q}").collect()] == [0]
    assert cs.sql(f"SHOW LOADS FOR TABLE {q}").count() == 1
    cs.sql(f"LOAD DATA INPATH '{cs.csv}' INTO TABLE {q}")
    assert cs.sql(f"DELETE SEGMENTS 1 FROM TABLE {q}").collect()[0]["deleted"] == 1
    assert cs.sql(
        f"DELETE SEGMENTS FROM TABLE {q} WHERE STARTTIME BEFORE {PAST}"
    ).collect()[0]["deleted"] == 0
    assert [r[0] for r in cs.sql(f"CLEAN FILES FOR TABLE {q}").collect()] == [1]
    cs.sql(f"CREATE AGGREGATETABLE byc FROM TABLE {q} GROUP BY (city) AGGREGATES (sum(amount))")
    assert [r[0] for r in cs.sql(f"SHOW AGGREGATE TABLES FOR TABLE {q}").collect()] == ["byc"]
    assert cs.sql(f"DROP AGGREGATE TABLE byc ON TABLE {q}").collect()[0][0] == "byc"
    cs.sql(f"ALTER TABLE {q} ADD COLUMNS (note string)")
    cs.sql(f"ALTER TABLE {q} DROP COLUMNS (note)")
    assert cs.sql(f"ALTER TABLE {q} COMPACT").collect()[0][0] == -1  # one segment: no-op
    assert cs.sql(f"DELETE FROM TABLE {q} WHERE city = 'c0'").collect()[0][0] == 2
    assert cs.sql(f"UPDATE TABLE {q} SET amount = 0.0 WHERE city = 'c1'").collect()[0][0] == 2
    cs.sql("CREATE TABLE default.t2 (a string)")
    cs.sql("CREATE TABLE IF NOT EXISTS default.t2 (a string)")
    cs.sql(f"CREATE TABLE default.t3 (a string) STORED BY {CARBON}")
    assert cs.store.tables() == ["sales", "t2", "t3"]
    assert cs.sql("DROP TABLE default.t2").collect()[0]["dropped"] == "t2"
    assert cs.sql("DROP TABLE IF EXISTS t3").collect()[0]["dropped"] == "t3"
    assert cs.sql("SELECT count(*) FROM sales").collect()[0][0] == 4
    assert cs.sql(f"DROP TABLE IF EXISTS {q}").collect()[0]["dropped"] == "sales"
    assert cs.sql(f"DROP TABLE IF EXISTS {q}").count() == 0
    assert cs.store.tables() == []
    # the view the SELECT registered went with the table
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
        cs.sql("SELECT count(*) FROM sales")
    with pytest.raises(Exception):
        cs.sql("DROP TABLE sales")  # without IF EXISTS a missing table raises


CASE_MISMATCHED = [
    (
        "DELETE SEGMENTS FROM TABLE sales WHERE STARTTIME BEFORE '2999-01-01T00:00:00'",
        [],
        lambda cs, df: [s["status"] for s in cs.store.show_segments("Sales")] == ["Marked for Delete"],
    ),
    (
        "CREATE AGGREGATETABLE byc FROM TABLE sales GROUP BY (city) AGGREGATES (sum(amount))",
        [],
        lambda cs, df: _aggs(cs) == ["byc"],
    ),
    (
        "CREATE AGGREGATETABLE city, sum(amount) FROM CUBE sales",
        [],
        lambda cs, df: _aggs(cs) == ["auto0"],
    ),
    (
        "SHOW AGGREGATE TABLES FOR TABLE sales",
        [AGG.replace("sales", "Sales")],
        lambda cs, df: [r[0] for r in df.collect()] == ["auto0"],
    ),
    (
        "DROP AGGREGATE TABLE auto0 ON TABLE sales",
        [AGG.replace("sales", "Sales")],
        lambda cs, df: _aggs(cs) == [],
    ),
    (
        "ALTER CUBE sales ADD DIMENSIONS (region string)",
        [],
        lambda cs, df: "region" in cs.store.schema("Sales").fieldNames(),
    ),
    (
        "CREATE CUBE IF NOT EXISTS sales DIMENSIONS (city string) MEASURES (amount double)",
        [],
        lambda cs, df: [r[0] for r in cs.sql("SHOW TABLES").collect()] == ["Sales"],
    ),
]


def _aggs(cs) -> list[str]:
    from carbondata_spark.plans.agg_table import list_aggregate_tables

    return list_aggregate_tables(cs.store, "Sales")


@pytest.mark.parametrize(
    ("stmt", "setup", "check"), CASE_MISMATCHED, ids=[c[0].split(" sales")[0] for c in CASE_MISMATCHED]
)
def test_table_names_resolve_case_insensitively(spark, tmp_path, stmt, setup, check):
    """A cube created as ``Sales`` is the table every form means by
    ``sales``: the statement acts on it and never creates a twin."""
    cs = CarbonSession(spark, CarbonStore(spark, str(tmp_path / "store")))
    cs.sql("CREATE CUBE Sales DIMENSIONS (city string) MEASURES (amount double)")
    cs.store.load("Sales", spark.createDataFrame([("a", 1.0), ("b", 2.0)], "city string, amount double"))
    for s in setup:
        cs.sql(s)
    df = cs.sql(stmt)
    assert check(cs, df)
