"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query on sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 as
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB
equivalent for the driver's differential check. Column names are aliased
identically on both sides; double aggregates are rounded to 2 decimals on
both sides, and order-dependent money sums accumulate as exact
DECIMAL(30,6) in BOTH engines (functions.dsum/davg/exact_money_summary)
so the rounding never straddles an engine-dependent boundary — policed by
tools/margin_audit.py; see carbondata_spark/queries.py. ``queries()``
lists the headline queries first, then the rest, each group in
registration order.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# Self-locating import: the driver may exec this file from any cwd
# without the repo on sys.path.
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    from carbondata_spark.queries import registry

    return registry()["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from carbondata_spark.queries import registry

    return {name: q.fn for name, q in registry().items()}


def oracle_sql() -> dict[str, str]:
    from carbondata_spark.queries import registry

    return {name: q.oracle for name, q in registry().items() if q.oracle is not None}
