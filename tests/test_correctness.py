"""Differential test: every registered query vs its DuckDB oracle at sf0.01.

This mirrors the driver's correctness gate so failures surface locally
first. Queries without an oracle get a rows-only smoke check.
"""

from __future__ import annotations

import pytest

from carbondata_spark.oracle import run_query_diff
from carbondata_spark.queries import registry


def _names() -> list[str]:
    return sorted(registry().keys())


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, oracle_con, sf_dir, name):
    res = run_query_diff(spark, oracle_con, sf_dir, name)
    assert res.ok, f"{name}: {res.detail}"


HOSTILE_TZ_QUERIES = [
    "q_scalar_datetime",   # date part extraction
    "q01_pricing_summary", # timestamp-literal filter + exact money
    "q_sessionize",        # event-time gaps over TIMESTAMP_NTZ parquet
    "q_funnel",            # ordered event steps
    # date-heavy shapes (tools/hostile_sweep.py sweeps every row; these
    # keep the most TZ-sensitive ones covered on every suite run)
    "q04_order_priority",    # date-range filter + exists subquery
    "q12_shipmode_buckets",  # multi-column date comparisons
    "q_retention_cohorts",   # event-ts cohort bucketing
    "q_window_range_frame",  # RANGE frame over an epoch-derived key
    # round-7 additions whose store builds WRITE timestamp columns
    # (o_orderdate transits a partitioned/rollup store roundtrip); a
    # tz-shifted write would silently survive a clean-session read
    "q_store_partition_pruned",
    "q_agg_rollup_routing",
]


@pytest.mark.parametrize("name", HOSTILE_TZ_QUERIES)
def test_query_survives_hostile_session_timezone(spark, oracle_con, sf_dir, name):
    """The driver runs queries()[name] on ITS OWN session, which may carry
    any session timezone (the verify recipe's hostile probe is
    America/New_York). ensure_session_confs must re-pin the confs on
    every query entry, so a poisoned session still matches the TZ-naive
    DuckDB oracle. In-suite version of that manual probe."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        res = run_query_diff(spark, oracle_con, sf_dir, name)
        assert res.ok, f"{name} under hostile tz: {res.detail}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_local_gate_catches_last_ulp_divergence():
    """The local harness must be as strict as the driver's full-precision
    value hash: a one-ulp float divergence (far below the old %.6g
    canonicalization) must fail compare(). Regression test for the r3
    q_complex_sql_load escape (passed 174/174 locally, failed the driver).
    """
    import math

    import pandas as pd

    from carbondata_spark.oracle import compare

    good = pd.DataFrame({"k": ["a", "b"], "v": [251234567.89, 1.25]})
    ulp = good.copy()
    ulp.loc[0, "v"] = math.nextafter(251234567.89, math.inf)
    assert compare("same", good, good.copy()).ok
    res = compare("ulp", good, ulp)
    assert not res.ok, "one-ulp divergence must fail the local gate"
    # and a last-cent flip (the actual r3 failure mode) must fail too
    cent = good.copy()
    cent.loc[0, "v"] = 251234567.88
    assert not compare("cent", good, cent).ok
