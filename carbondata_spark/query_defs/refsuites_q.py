"""Driver row for the reference-suite front-door paths.

tests/test_reference_suites.py replays all 26 active reference
acceptance classes locally; this row pushes the specific front-door
machinery those suites exposed through the DRIVER's oracle gate too:

- CREATE CUBE with NO MEASURES clause (optional in the reference
  grammar — sortexpr/TimestampDataTypeTestCase.scala:36);
- a file-carried CSV header projected onto the cube BY NAME, where the
  file is a 14-column superset of the 3-column cube (data.csv);
- the harness-global carbon.timestamp.format = dd-MM-yyyy property
  (CarbonHiveContext.scala:51) driving the load's timestamp parse.

Both statements run byte-for-byte as the reference suite spells them
(modulo the fixture path, which the reference resolves from its own
checkout). The DuckDB oracle reads the same CSV as raw text and parses
the same dd-MM-yyyy format, so the row certifies header projection +
typed parse + segment roundtrip end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from carbondata_spark.queries import register

DATA_CSV = "/root/reference/integration/spark/src/test/resources/data.csv"

# sortexpr/TimestampDataTypeTestCase.scala:36-37, verbatim.
CREATE = (
    "CREATE CUBE timestamptypecube DIMENSIONS (doj Timestamp, projectjoindate"
    " Timestamp, projectenddate Timestamp) OPTIONS (PARTITIONER"
    " [PARTITION_COUNT=1])"
)
LOAD = (
    f"LOAD DATA fact from '{DATA_CSV}' INTO CUBE timestamptypecube"
    " PARTITIONDATA(DELIMITER ',', QUOTECHAR '\"')"
)


def _cube(spark: SparkSession):
    """The cube, built once per Spark app (it does not depend on the
    scale factor)."""
    from carbondata_spark.query_defs._tmpdirs import built
    from carbondata_spark.sql import CarbonSession
    from carbondata_spark.store import CarbonStore

    props = {"carbon.timestamp.format": "dd-MM-yyyy"}

    def build(base: str) -> str:
        cs = CarbonSession(spark, CarbonStore(spark, base), properties=props)
        cs.sql(CREATE)
        cs.sql(LOAD)
        return base

    store = CarbonStore(spark, built(spark, "refsuite_q", build))
    return CarbonSession(spark, store, properties=props)


def q_ref_typed_cube_load(spark: SparkSession, sf_dir: str):
    df = _cube(spark).sql("select doj, projectenddate from timestamptypecube")
    return df.select(
        F.date_format("doj", "yyyy-MM-dd HH:mm:ss").alias("doj"),
        F.date_format("projectenddate", "yyyy-MM-dd HH:mm:ss").alias(
            "projectenddate"
        ),
    )


# Registered only where the reference checkout provides the fixture.
if os.path.exists(DATA_CSV):
    register(
        "q_ref_typed_cube_load",
        oracle=f"""
        SELECT strftime(strptime(doj, '%d-%m-%Y'), '%Y-%m-%d %H:%M:%S') AS doj,
               strftime(strptime(projectenddate, '%d-%m-%Y'), '%Y-%m-%d %H:%M:%S')
                 AS projectenddate
        FROM read_csv('{DATA_CSV}', header=true, all_varchar=true)
        """,
        doc="Reference typed-suite shape: measure-less 3-timestamp cube "
        "loaded from the 14-column data.csv by header name under the "
        "harness's dd-MM-yyyy property; certifies header-by-name "
        "projection + timestamp parse + segment roundtrip. [verbatim: "
        "sortexpr/TimestampDataTypeTestCase.scala]",
    )(q_ref_typed_cube_load)
