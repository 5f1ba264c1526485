"""ALTER CUBE restructure row (query_defs/restructure_q.py): oracle
parity of the exact registered form, and the restructure semantics the
row relies on (dropped column gone from reads, default-filled column
present)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_registered_form_and_restructure_semantics(spark, sf_dir):
    import carbondata_spark.query_defs.restructure_q as rq
    from carbondata_spark.oracle import compare, duckdb_connection
    from carbondata_spark.queries import registry

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    q = registry()["q_alter_cube_restructure"]
    con = duckdb_connection(sf)
    try:
        res = compare(q.name, q.fn(spark, sf).toPandas(), con.execute(q.oracle).fetchdf())
    finally:
        con.close()
    assert res.ok and res.spark_rows > 0, res.detail

    # restructure semantics on the SAME built cube: the dropped measure
    # must be gone from reads of every segment (pre- and post-ALTER
    # alike)...
    cs = rq._cube_session(spark, sf)
    cols = cs.store.table("cust_cube").columns
    assert "c_acctbal" not in cols, cols
    # ...and the added measure is double-typed (int_measures_as_double
    # coercion applies to restructure-added measures too)
    typ = dict(cs.store.table("cust_cube").dtypes)["c_nationkey"]
    assert typ == "double", typ
    # the pre-ALTER segment is default-filled: exactly half of all rows
    # carry the declared default -1
    counts = cs.store.table("cust_cube").groupBy(
        (F.col("c_nationkey") == -1).alias("is_default")
    ).count().collect()
    by = {r.is_default: r["count"] for r in counts}
    assert by.get(True) == by.get(False), by
