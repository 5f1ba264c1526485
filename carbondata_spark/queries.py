"""Query registry: every operator capability exposed through the driver
contract lives here as a (Spark callable, DuckDB oracle SQL) pair.

Conventions that make the driver's order-insensitive value-hash compare
work (see __spark_entry__.py docstring):

- every computed column is aliased IDENTICALLY in Spark and oracle SQL;
- double-typed aggregates are ``round(x, 2)`` on BOTH sides — Spark and
  DuckDB sum doubles in different orders, so raw bit-equality is
  unattainable; two decimal places is far coarser than the accumulated
  ulp drift on these data sizes;
- sums of integer columns are cast to BIGINT in the oracle (DuckDB widens
  to HUGEINT, Spark to LONG);
- any LIMIT/top-k query orders by rounded values plus a unique key so
  tie-breaks are deterministic across engines;
- timestamps in output are cast to DATE-formatted strings when feasible.

The reference delegates all of this query surface to Spark (SURVEY.md
§2.2-2.8: filters/joins/aggregations/windows/set-ops/scalar functions are
HiveContext-delegated) — so the Spark side below IS the reference
semantics, and the oracle verifies our expression of it.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from carbondata_spark.catalog import load_table


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    headline: bool = False  # include in bench.py
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    headline: bool = False,
    doc: str = "",
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} is already registered")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, headline=headline, doc=doc)
        return fn

    return deco


def registry() -> dict[str, Query]:
    """Every registered query: headline rows first, then the rest, each
    group in registration order."""
    # Import side-effect modules that register additional queries.
    import carbondata_spark.query_defs  # noqa: F401

    return {
        q.name: q
        for q in sorted(_REGISTRY.values(), key=lambda q: not q.headline)
    }


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def r2(col):
    """round-to-2 — the standard double normalization (see module doc).

    DuckDB-compatible rounding (see functions.dround): F.round would
    diverge from the oracle on exact .xx5 scaled values.
    """
    from carbondata_spark.functions import dround

    return dround(col, 2)
